"""The mrlite job engine: the reference's MapReduce contract on Spark.

Pipeline (SURVEY.md §3.1, steps 5-10):

    directory scan → round-robin file split across num_mappers tasks →
    map (external executable via RDD.pipe, or Python callable) →
    md5(key) % num_reducers shuffle → per-partition sort (whole lines
    for a reducer executable, (key, value) pairs for a callable) →
    reduce (external executable or callable) → part-%05d text files.

Everything data-plane runs distributed on Spark; the driver only lists
files and renames outputs. There is no collect() anywhere — map output
streams through executor-local subprocesses exactly like the reference's
worker pipes (reference contract: tests/test_worker_11.py enforces O(1)
memory streaming; RDD.pipe gives the same property).

Task counts are pinned to (num_mappers, num_reducers) like the
reference: ``partitioner.split_input`` deals the files, one coalesced
partition per map task. The md5 partitioner is only needed for
per-partition-file parity with the reference; it rides pyspark's
partitionBy, so the shuffle itself is Spark's machinery — md5 is
uniform, so balance matches Murmur3. The reference's on-disk
``tmp/job-{id}/intermediate`` layout is the worker fleet's data path
(``MRManagerServer._run_job_on_workers``), not this engine's.
"""

from __future__ import annotations

import itertools
import shlex
import shutil
import tempfile
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field
from operator import itemgetter
from pathlib import Path
from typing import TYPE_CHECKING

from eeecs485_p4_mapreduce_spark.mrlite.partitioner import (
    check_task_count,
    md5_partition,
    split_input,
)

if TYPE_CHECKING:  # the fleet path imports this module without Spark
    from pyspark.sql import SparkSession

MapperFn = Callable[[str], Iterable[tuple[str, str]]]
ReducerFn = Callable[[str, Iterable[str]], Iterable[str]]


@dataclass
class MRJobResult:
    job_id: int
    output_directory: str
    output_paths: list[str] = field(default_factory=list)

    def read_lines(self) -> list[str]:
        """All output lines in partition order (debug/test helper)."""
        out: list[str] = []
        for p in self.output_paths:
            out.extend(Path(p).read_text().splitlines())
        return out


def _parse_kv(line: str) -> tuple[str, str]:
    """key TAB value; key = text before first tab (reference record format,
    SURVEY.md §1.1). A tab-less line maps to (line, "")."""
    head, _sep, tail = line.partition("\t")
    return (head, tail)


def _join_kv(kv: tuple[str, str]) -> str:
    return f"{kv[0]}\t{kv[1]}"


def _line_key(line: str) -> str:
    return line.partition("\t")[0]


def _line_order(line: str) -> str:
    """A line's sort key: the line with its newline, so ``beta\tx``
    sorts before ``beta`` as the fleet worker's bytes do (code-point
    order on str is UTF-8 byte order)."""
    return line + "\n"


def _callable_map_partition(fn: MapperFn):
    def run(lines: Iterator[str]) -> Iterator[tuple[str, str]]:
        for line in lines:
            yield from fn(line)

    return run


def _callable_reduce_partition(fn: ReducerFn):
    """Group the sorted (key, value) stream by key and hand each group to
    the reducer — the streaming equivalent of the external reducer reading
    sorted lines (itertools.groupby keeps O(group) memory)."""

    def run(pairs: Iterator[tuple[str, str]]) -> Iterator[str]:
        for key, group in itertools.groupby(pairs, key=lambda kv: kv[0]):
            yield from fn(key, (v for _, v in group))

    return run


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
        to an external executable (reference behavior: subprocess over
        stdin/stdout via RDD.pipe) or a Python callable (built-in fast
        path, see builtins.py for the protocol).
        """
        if mapper_executable is None or reducer_executable is None:
            raise ValueError("mapper and reducer are required")
        check_task_count("num_reducers", num_reducers)
        groups = split_input(input_directory, num_mappers)
        job_id = self._next_job_id
        self._next_job_id += 1

        sc = self.spark.sparkContext
        lines = sc.union([sc.textFile(",".join(g)).coalesce(1) for g in groups])

        # Map stage (§2.2 M1): executable pipe or callable flatMap.
        if callable(mapper_executable):
            mapped = lines.mapPartitions(_callable_map_partition(mapper_executable))
        else:
            mapped = lines.pipe(shlex.quote(str(mapper_executable)), checkCode=True)

        # Shuffle (§2.2 M2 + §2.4 R1): md5(key) partitioning, then a sort
        # within each partition. A reducer executable reads whole lines in
        # the contract's order, bytewise by line plus newline, as the fleet
        # worker sorts them; a callable reducer reads (key, value) pairs.
        if callable(reducer_executable):
            records = mapped if callable(mapper_executable) else mapped.map(_parse_kv)
            key_of, sort_key = itemgetter(0), (lambda kv: kv)
        else:
            records = mapped.map(_join_kv) if callable(mapper_executable) else mapped
            key_of, sort_key = _line_key, _line_order
        shuffled = (
            records.map(lambda rec: (rec, None))
            .repartitionAndSortWithinPartitions(
                numPartitions=num_reducers,
                partitionFunc=lambda rec: md5_partition(key_of(rec), num_reducers),
                keyfunc=sort_key,
            )
            .keys()
        )

        # Reduce stage (§2.4 R2).
        if callable(reducer_executable):
            reduced = shuffled.mapPartitions(
                _callable_reduce_partition(reducer_executable)
            )
        else:
            reduced = shuffled.pipe(shlex.quote(str(reducer_executable)), checkCode=True)

        # Sink (§2.5 K1): exactly num_reducers files named part-%05d.
        out_dir = Path(output_directory)
        out_dir.mkdir(parents=True, exist_ok=True)
        staging = Path(tempfile.mkdtemp(prefix=f"mrlite-job-{job_id}-"))
        spark_out = staging / "out"
        reduced.saveAsTextFile(str(spark_out))
        output_paths: list[str] = []
        for part in sorted(spark_out.glob("part-*")):
            if part.suffix == ".crc":
                continue
            dest = out_dir / part.name.split(".")[0]
            shutil.move(str(part), str(dest))
            output_paths.append(str(dest))
        shutil.rmtree(staging, ignore_errors=True)
        if len(output_paths) != num_reducers:
            raise RuntimeError(
                f"expected {num_reducers} output files, wrote {len(output_paths)}"
            )
        return MRJobResult(job_id, str(out_dir), output_paths)
