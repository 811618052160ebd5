"""The mrlite job engine: the reference's MapReduce contract on Spark.

One task kernel, two schedulers: this engine runs the fleet worker's
own task bodies, ``worker.run_mapper`` and ``worker.run_reducer``,
inside Spark tasks (SURVEY.md §3.1, steps 5-10): ``split_input``'s
file groups, one Spark task each → the mapper once per input file,
the file's raw bytes on its stdin → md5(key) % num_reducers shuffle of
the mapper's byte lines, each partition sorted by line plus newline →
the sorted partition into the reducer's stdin, whose stdout the task
writes as ``part-%05d``. So an executable job writes the same bytes on
both data planes: a line ends at a newline byte only, a final line
without its newline gets one, the reducer's output is kept as it is,
and bytes that are not UTF-8 pass through.

A Python callable speaks ``builtins.py``'s protocol over the same byte
lines: a mapper gets each input line as UTF-8 text without its newline
(other bytes raise UnicodeDecodeError), and its pairs shuffle as
``key\\tvalue`` lines; a reducer gets each key's values, parsed from
the sorted lines. The driver lists files, makes the output directory
and collects the part paths; no record passes through it.
"""

from __future__ import annotations

import os
import socket
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field
from itertools import groupby, islice
from operator import itemgetter
from pathlib import Path
from typing import TYPE_CHECKING

from eeecs485_p4_mapreduce_spark.mrlite.partitioner import (
    check_task_count,
    md5_partition,
    split_input,
)
from eeecs485_p4_mapreduce_spark.mrlite.worker import (
    replaced,
    run_mapper,
    run_reducer,
)

if TYPE_CHECKING:  # the fleet path imports this module without Spark
    from pyspark.sql import SparkSession

MapperFn = Callable[[str], Iterable[tuple[str, str]]]
ReducerFn = Callable[[str, Iterable[str]], Iterable[str]]

#: Lines per block a reduce task hands ``run_reducer``.
_BLOCK_LINES = 1024


@dataclass
class MRJobResult:
    job_id: int
    output_directory: str
    output_paths: list[str] = field(default_factory=list)


def _map_lines(mapper: str | MapperFn, path: str) -> Iterator[bytes]:
    """The shuffle records of one input file: each line the mapper
    writes, with its newline."""
    if callable(mapper):
        with open(path, "rb") as f:
            for line in f:
                for key, value in mapper(line.decode().removesuffix("\n")):
                    yield f"{key}\t{value}\n".encode()
    else:
        for lines in run_mapper(mapper, path):
            for line in lines:
                yield line + b"\n"


def _call_reducer(reducer: ReducerFn, lines: Iterator[bytes]) -> Iterator[bytes]:
    """A callable reducer's output over sorted lines: each key's values
    in one call, each output line with a newline."""
    pairs = (line.decode()[:-1].partition("\t") for line in lines)
    for key, group in groupby(pairs, key=itemgetter(0)):
        for out in reducer(key, (value for _, _, value in group)):
            yield f"{out}\n".encode()


class MREngine:
    """Drop-in replacement for the reference's manager+workers cluster.

    One instance ≈ one manager: jobs get FIFO ids from 0 and run
    sequentially (reference: tmp/job-{id} numbering,
    tests/test_manager_01.py). ``spark.stop()`` is the shutdown path —
    the reference's shutdown fan-out maps to stopping the session
    (SURVEY.md §3.3).
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._next_job_id = 0

    def submit_job(
        self,
        input_directory: str,
        output_directory: str,
        mapper_executable: str | MapperFn | None = None,
        reducer_executable: str | ReducerFn | None = None,
        num_mappers: int = 2,
        num_reducers: int = 2,
    ) -> MRJobResult:
        """Run one MapReduce job; mirrors the reference's new_manager_job
        message fields and CLI defaults (2 mappers / 2 reducers —
        reference: mapreduce/submit.py:51-58).

        ``mapper_executable``/``reducer_executable`` accept either a path
        to an external executable (reference behavior: a subprocess over
        stdin/stdout, as on the worker fleet) or a Python callable
        (built-in fast path, see builtins.py for the protocol).
        """
        if mapper_executable is None or reducer_executable is None:
            raise ValueError("mapper and reducer are required")
        check_task_count("num_reducers", num_reducers)
        groups = split_input(input_directory, num_mappers)
        job_id = self._next_job_id
        self._next_job_id += 1
        out_dir = Path(output_directory)
        out_dir.mkdir(parents=True, exist_ok=True)
        mapper, reducer = mapper_executable, reducer_executable

        def reduce_partition(index: int, records) -> Iterator[str]:
            lines = map(itemgetter(0), records)
            out_path = out_dir / f"part-{index:05d}"
            tag = f"{socket.gethostname()}-{os.getpid()}"
            if callable(reducer):
                with replaced(out_path, tag) as outfile:
                    outfile.writelines(_call_reducer(reducer, lines))
            else:
                run = iter(lambda: list(islice(lines, _BLOCK_LINES)), [])
                run_reducer(reducer, [run], out_path, tag)
            yield str(out_path)

        output_paths = (
            self.spark.sparkContext.parallelize(groups, len(groups))
            .flatMap(lambda group: (
                (line, None) for path in group for line in _map_lines(mapper, path)
            ))
            .repartitionAndSortWithinPartitions(
                numPartitions=num_reducers,
                # key: the bytes before the first tab, or the line
                partitionFunc=lambda line: md5_partition(
                    line[:-1].partition(b"\t")[0], num_reducers
                ),
            )
            .mapPartitionsWithIndex(reduce_partition)
            .collect()
        )
        return MRJobResult(job_id, str(out_dir), output_paths)
