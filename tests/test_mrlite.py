"""Golden-parity tests for the mrlite engine.

Word count runs on the in-repo corpus and executables under
``tests/fixtures/mr`` against a golden computed with ``Counter``. The
grep and large-input tests read the reference's own corpus and
byte-exact goldens at runtime (nothing is copied) and carry
``needs_reference``.

Mirrors the reference's integration-test strategy (SURVEY.md §5):
- grep  → byte-exact compare vs grep_correct.txt  (test_integration_01)
- wc    → order-insensitive set compare vs the golden word count
          (test_integration_02/03, union of parts)
- per-partition md5 routing asserted like test_worker_08.
"""

from __future__ import annotations

import tempfile
from pathlib import Path

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from eeecs485_p4_mapreduce_spark.mrlite import md5_partition
from eeecs485_p4_mapreduce_spark.mrlite.partitioner import split_input
from tests.conftest import (
    MR_FIXTURES,
    QuietWorker,
    fixture_wordcount,
    read_lines,
)

REF = Path("/root/reference/tests/testdata")

needs_reference = pytest.mark.skipif(
    not REF.is_dir(), reason="reference testdata not available"
)


@pytest.fixture(scope="module")
def engine(spark):
    from eeecs485_p4_mapreduce_spark.mrlite import MREngine

    return MREngine(spark)


def golden_grep() -> bytes:
    return (REF / "correct/grep_correct.txt").read_bytes()


def test_md5_partition_matches_reference_routing():
    """The key→partition split pinned by reference tests/test_worker_08
    (2 partitions): {"", bye, hello} → 0, {world, hadoop, goodbye} → 1."""
    from eeecs485_p4_mapreduce_spark.mrlite import md5_partition

    assert [md5_partition(k, 2) for k in ("", "bye", "hello")] == [0, 0, 0]
    assert [md5_partition(k, 2) for k in ("world", "hadoop", "goodbye")] == [1, 1, 1]


def test_md5_partition_equals_hexdigest_formula():
    """The routing integer is the reference's ``int(hexdigest, 16)`` on
    str keys (hashed as UTF-8), UTF-8 bytes and bytes that are not
    UTF-8, for partition counts up to past 2**64."""
    import hashlib

    keys = ["", "hello", "aéb", "日本", "\t"] + [f"k{i}" for i in range(300)]
    byte_keys = [k.encode() for k in keys] + [
        b"\xff\xfe", b"caf\xe9", b"\x00", b"\x80" * 17, bytes(range(256)),
    ]
    for key in keys + byte_keys:
        raw = key.encode() if isinstance(key, str) else key
        digest = int(hashlib.md5(raw).hexdigest(), 16)
        for n in (1, 2, 3, 5, 7, 1024, 2**64 + 13):
            assert md5_partition(key, n) == digest % n, (key, n)


def test_wordcount_external_executables(engine, tmp_path):
    """wc_map.sh/wc_reduce.sh through the task kernel, 2x2 job; union of parts
    must equal the golden multiset exactly."""
    res = engine.submit_job(
        input_directory=str(MR_FIXTURES / "input"),
        output_directory=str(tmp_path / "out"),
        mapper_executable=str(MR_FIXTURES / "exec/wc_map.sh"),
        reducer_executable=str(MR_FIXTURES / "exec/wc_reduce.sh"),
        num_mappers=2,
        num_reducers=2,
    )
    assert len(res.output_paths) == 2
    assert sorted(read_lines(res)) == sorted(fixture_wordcount())


def test_wordcount_builtin_python(engine, tmp_path):
    """Pure-Python built-ins must reproduce the same golden output with a
    different topology (4 mappers, 1 reducer; sorted single partition)."""
    from eeecs485_p4_mapreduce_spark.mrlite import builtins as b

    res = engine.submit_job(
        input_directory=str(MR_FIXTURES / "input"),
        output_directory=str(tmp_path / "out"),
        mapper_executable=b.wc_map,
        reducer_executable=b.wc_reduce,
        num_mappers=4,
        num_reducers=1,
    )
    assert len(res.output_paths) == 1
    # single sorted partition → byte-level line order is the golden's order
    assert read_lines(res) == sorted(fixture_wordcount())


@needs_reference
def test_grep_external_executables(engine, tmp_path):
    """Reference grep_map.py/grep_reduce.py, 2 mappers / 1 reducer —
    byte-exact against grep_correct.txt like reference test_integration_01."""
    res = engine.submit_job(
        input_directory=str(REF / "input"),
        output_directory=str(tmp_path / "out"),
        mapper_executable=str(REF / "exec/grep_map.py"),
        reducer_executable=str(REF / "exec/grep_reduce.py"),
        num_mappers=2,
        num_reducers=1,
    )
    assert Path(res.output_paths[0]).read_bytes() == golden_grep()


@needs_reference
def test_grep_builtin_python(engine, tmp_path):
    from eeecs485_p4_mapreduce_spark.mrlite import builtins as b

    res = engine.submit_job(
        input_directory=str(REF / "input"),
        output_directory=str(tmp_path / "out"),
        mapper_executable=b.make_grep_map("product"),
        reducer_executable=b.grep_reduce,
        num_mappers=2,
        num_reducers=1,
    )
    assert "\n".join(read_lines(res)) + "\n" == golden_grep().decode()


def test_multireducer_partition_layout(engine, tmp_path):
    """With 2 reducers, each part file must contain exactly the keys the
    md5 partitioner routes to it, in sorted order (reference
    test_worker_08 analog)."""
    from eeecs485_p4_mapreduce_spark.mrlite import builtins as b, md5_partition

    res = engine.submit_job(
        input_directory=str(MR_FIXTURES / "input"),
        output_directory=str(tmp_path / "out"),
        mapper_executable=b.wc_map,
        reducer_executable=b.wc_reduce,
        num_mappers=2,
        num_reducers=2,
    )
    for part_idx, path in enumerate(res.output_paths):
        lines = Path(path).read_text().splitlines()
        keys = [ln.split("\t", 1)[0] for ln in lines]
        assert keys == sorted(keys)
        assert all(md5_partition(k, 2) == part_idx for k in keys)


#: Bytes the differential test builds input files from: tabs, ``\r``,
#: ``\x0c``, non-ASCII keys and bytes that are not UTF-8 among them.
_TOKENS = [
    b"a", b"B", b"product", b"PRODUCT", b" ", b"\t", b"\r", b"\x0c", b"1",
    "caf\u00e9".encode(), "\u00df".encode(), b"\xff", b"\xfe", b"\n",
]

#: Executables written per example into a directory whose name holds a
#: space; the rest of ``_EXECS`` are the fixture scripts.
_SCRIPTS = {
    "cat.sh": "exec cat",
    "procs.sh": 'n=$(wc -l); printf "procs\\t%s\\n" "$n"',
    "x.sh": "cat >/dev/null; printf x",
}
_FIXTURE_EXECS = sorted(p.name for p in (MR_FIXTURES / "exec").iterdir())
_EXECS = _FIXTURE_EXECS + sorted(_SCRIPTS)

#: Eight hand-picked lines: a tab-less line gains no tab, a key holding
#: a byte below TAB sorts before its prefix, and ``beta\tx`` sorts
#: before ``beta``.
_EIGHT_LINES = "beta\tx\nbeta\na\x01\t1\na\t1\n\n\t0\ncaf\u00e9\t2\nzeta\n".encode()


def _records(data: bytes) -> list[bytes]:
    """A file's lines, each with its newline: a line ends at a newline
    byte only, and a last line without one gets one."""
    lines = data.split(b"\n")
    if lines[-1] == b"":
        lines.pop()
    return [line + b"\n" for line in lines]


def _fleet_parts(
    inp: Path, work: Path, mapper: str, reducer: str, num_mappers: int,
    num_reducers: int,
) -> list[bytes]:
    """The ``part-*`` bytes of a job run by the fleet worker's task code,
    dispatched as ``MRManagerServer._run_job_on_workers`` does."""
    worker = QuietWorker(port=0)
    inter, out = work / "inter", work / "fleet"
    inter.mkdir()
    out.mkdir()
    for i, group in enumerate(split_input(str(inp), num_mappers)):
        worker._run_map_task({
            "task_id": i,
            "executable": mapper,
            "input_paths": group,
            "output_directory": str(inter),
            "num_partitions": num_reducers,
        })
    for p in range(num_reducers):
        worker._run_reduce_task({
            "task_id": p,
            "executable": reducer,
            "input_paths": sorted(map(str, inter.glob(f"*-part{p:05d}"))),
            "output_directory": str(out),
        })
    return [(out / f"part-{p:05d}").read_bytes() for p in range(num_reducers)]


@settings(max_examples=40, deadline=None, derandomize=True, database=None)
@given(
    files=st.lists(
        st.lists(st.sampled_from(_TOKENS), max_size=30).map(b"".join),
        max_size=5,
    ),
    mapper=st.sampled_from(_EXECS),
    reducer=st.sampled_from(_EXECS),
    num_mappers=st.integers(1, 4),
    num_reducers=st.integers(1, 4),
)
# Records end at newline bytes only: a \r stays inside its line.
@example([b"a\rb\t1\nc\r\nd\t2\n"], "cat.sh", "cat.sh", 1, 1)
# One mapper process per input file, and no newline added to the last
# line of a file: the fleet writes procs\t1 three times and procs\t2.
@example(
    [b"a\t1\n", b"b\t1\nc\t1\n", b"d\t1\n", b"e\nf\t1"], "procs.sh", "cat.sh", 2, 1
)
# The reducer's output is written as it is, with no newline added.
@example([b"a\t1\n"], "cat.sh", "x.sh", 1, 1)
# Bytes that are not UTF-8 pass through unchanged.
@example([b"\xff\xfe\t1\nok\t2\n"], "cat.sh", "cat.sh", 1, 1)
@example([b"Product 1\n\nno\n", b"a PRODUCT\tb"], "grep_map.sh", "grep_reduce.sh", 2, 1)
def test_engine_parts_equal_fleet_parts(
    spark, files, mapper, reducer, num_mappers, num_reducers
):
    """Differential: on any corpus, ``MREngine`` writes the same
    ``part-*`` bytes as the fleet worker's task code, for fixture
    executables, ``cat``, a mapper that writes one line at end of
    input and a reducer that writes no newline. With ``cat`` on both
    sides the parts are also the contract, computed here: each line
    md5-routed by its key, each partition sorted by line plus newline."""
    from eeecs485_p4_mapreduce_spark.mrlite import MREngine

    with tempfile.TemporaryDirectory() as tmp:
        work = Path(tmp)
        scripts, inp = work / "ex dir", work / "input"
        scripts.mkdir()
        inp.mkdir()
        for name, body in _SCRIPTS.items():
            (scripts / name).write_text(f"#!/bin/sh\n{body}\n")
            (scripts / name).chmod(0o755)
        for i, data in enumerate(files):
            (inp / f"file{i:02d}").write_bytes(data)
        exe = {
            name: str((scripts if name in _SCRIPTS else MR_FIXTURES / "exec") / name)
            for name in (mapper, reducer)
        }
        job = dict(
            input_directory=str(inp),
            output_directory=str(work / "engine"),
            mapper_executable=exe[mapper],
            reducer_executable=exe[reducer],
            num_mappers=num_mappers,
            num_reducers=num_reducers,
        )
        if not files:
            with pytest.raises(FileNotFoundError, match="no input files"):
                MREngine(spark).submit_job(**job)
            return
        res = MREngine(spark).submit_job(**job)
        fleet = _fleet_parts(
            inp, work, exe[mapper], exe[reducer], num_mappers, num_reducers
        )
        assert [Path(p).read_bytes() for p in res.output_paths] == fleet
        if mapper == reducer == "cat.sh":
            lines = [line for data in files for line in _records(data)]
            assert fleet == [
                b"".join(sorted(
                    line for line in lines
                    if md5_partition(line[:-1].partition(b"\t")[0], num_reducers) == p
                ))
                for p in range(num_reducers)
            ]


@pytest.mark.parametrize("exec_dir", ["exec", "ex dir"])
def test_executable_job_matches_fleet_worker(engine, tmp_path, exec_dir):
    """``MREngine`` pipes each mapper line to the reducer whole, in the
    contract's order, so its ``part-*`` files are byte for byte the
    fleet worker's on ``_EIGHT_LINES``. The executables' path may hold
    a space."""
    cat = tmp_path / exec_dir / "cat.sh"
    cat.parent.mkdir()
    cat.write_text("#!/bin/sh\nexec cat\n")
    cat.chmod(0o755)
    inp = tmp_path / "input"
    inp.mkdir()
    (inp / "file01").write_bytes(_EIGHT_LINES)
    res = engine.submit_job(
        input_directory=str(inp),
        output_directory=str(tmp_path / "engine"),
        mapper_executable=str(cat),
        reducer_executable=str(cat),
        num_mappers=1,
        num_reducers=2,
    )
    fleet = _fleet_parts(inp, tmp_path, str(cat), str(cat), 1, 2)
    assert [Path(p).read_bytes() for p in res.output_paths] == fleet
    # The contract, computed here: md5-route by key, sort line + newline.
    lines = _records(_EIGHT_LINES)
    assert fleet == [
        b"".join(sorted(
            line for line in lines
            if md5_partition(line[:-1].partition(b"\t")[0], 2) == p
        ))
        for p in range(2)
    ]


def test_fifo_job_ids(engine, tmp_path):
    from eeecs485_p4_mapreduce_spark.mrlite import builtins as b

    first = engine.submit_job(
        input_directory=str(MR_FIXTURES / "input"),
        output_directory=str(tmp_path / "a"),
        mapper_executable=b.wc_map,
        reducer_executable=b.wc_reduce,
        num_mappers=1,
        num_reducers=1,
    )
    second = engine.submit_job(
        input_directory=str(MR_FIXTURES / "input"),
        output_directory=str(tmp_path / "b"),
        mapper_executable=b.wc_map,
        reducer_executable=b.wc_reduce,
        num_mappers=1,
        num_reducers=1,
    )
    assert second.job_id == first.job_id + 1
    assert read_lines(first) == read_lines(second)


@needs_reference
def test_streaming_large_input(engine, tmp_path):
    """Reference test_worker_11 analog: the 3.7 MB corpus must map+reduce
    through external pipes without error (O(1) streaming path), inside the
    reference's wall-clock envelope (<10 s map stage at
    /root/reference/tests/test_worker_11.py:122; we bound the WHOLE job at
    3x that, the same multiplier its autograder applies to timeouts)."""
    import time

    t0 = time.perf_counter()
    res = engine.submit_job(
        input_directory=str(REF / "input_large"),
        output_directory=str(tmp_path / "out"),
        mapper_executable=str(REF / "exec/wc_map.sh"),
        reducer_executable=str(REF / "exec/wc_reduce.sh"),
        num_mappers=2,
        num_reducers=2,
    )
    elapsed = time.perf_counter() - t0
    total = sum(
        int(ln.split("\t")[1]) for ln in read_lines(res) if "\t" in ln
    )
    assert total > 100_000  # ~640k tokens in the Tolstoy corpus
    assert elapsed < 30.0, f"3.7 MB map+reduce took {elapsed:.1f}s"


def test_split_input_deals_sorted_visible_files(tmp_path):
    """S1+S2, the one split rule both data planes call: visible files in
    name order, dealt round-robin to min(num_mappers, #files) tasks;
    fewer than one task is a ValueError."""
    from eeecs485_p4_mapreduce_spark.mrlite.partitioner import split_input

    with pytest.raises(FileNotFoundError, match="not found"):
        split_input(str(tmp_path / "missing"), 2)
    for name in ("_SUCCESS", ".part-0.crc"):
        (tmp_path / name).write_text("")
    with pytest.raises(FileNotFoundError, match="no input files"):
        split_input(str(tmp_path), 2)
    for name in ("f3", "f1", "f2"):
        (tmp_path / name).write_text("")
    paths = [str(tmp_path / f"f{i}") for i in (1, 2, 3)]
    assert split_input(str(tmp_path), 2) == [paths[0::2], paths[1::2]]
    assert split_input(str(tmp_path), 5) == [[p] for p in paths]
    for n in (0, -1):
        with pytest.raises(ValueError, match="num_mappers must be at least 1"):
            split_input(str(tmp_path), n)


@pytest.mark.parametrize(
    "num_mappers, num_reducers, field",
    [(0, 1, "num_mappers"), (-1, 2, "num_mappers"), (2, 0, "num_reducers")],
)
def test_job_size_below_one_rejected(
    engine, tmp_path, num_mappers, num_reducers, field
):
    """Fewer than one map or reduce task is a ValueError naming the
    field, raised before the output directory is made. Before,
    ``split_input`` returned no task groups for ``num_mappers < 1``."""
    out = tmp_path / "out"
    with pytest.raises(ValueError, match=f"{field} must be at least 1"):
        engine.submit_job(
            input_directory=str(MR_FIXTURES / "input"),
            output_directory=str(out),
            mapper_executable=str(MR_FIXTURES / "exec/wc_map.sh"),
            reducer_executable=str(MR_FIXTURES / "exec/wc_reduce.sh"),
            num_mappers=num_mappers,
            num_reducers=num_reducers,
        )
    assert not out.exists()
