"""Straggler/slow-task path: the reference ships deliberately slow
executables (/root/reference/tests/testdata/exec/wc_map_slow.sh and
wc_reduce_slow.sh — `sleep 3` before doing the real work) to exercise
long-running tasks. mrlite delegates straggler handling to Spark's
scheduler, so this test demonstrates that delegation for real: the
reference's own slow mapper+reducer run through mrlite on a session
with speculative execution enabled (`spark.speculation=true` — a core
scheduler conf, so the session is built in a subprocess), the output
still matches the reference golden byte set, and per-task-attempt
start/end timestamps prove the sleeps overlapped across tasks instead
of serializing.

The overlap proof is STRUCTURAL, not a wall-clock bound: each task
attempt's executable is a logging wrapper around the reference's own
slow script, so we get real [start, end] intervals per attempt and
assert that at least two map attempts (and two reduce attempts) were
running at the same instant. A wall-clock bound is either flaky on a
loaded CI host (tight bound) or inconclusive-by-construction (loose
bound / xfail) — interval intersection can neither be inflated into a
false red by host load (slower tasks only widen the intervals, making
overlap MORE likely) nor pass under genuine serialization (disjoint
intervals stay disjoint no matter the load).

Reference parity: tests/testdata/exec/wc_map_slow.sh:13 (sleep 3),
wc_reduce_slow.sh (same); SURVEY.md §2.7 slow variants.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

REF = Path("/root/reference/tests/testdata")

pytestmark = pytest.mark.skipif(
    not REF.is_dir(), reason="reference testdata not available"
)

SCRIPT = r"""
import json, sys, time
from pyspark.sql import SparkSession

# Speculation confs are SparkContext-creation-time (core scheduler, not
# runtime-settable SQL confs) — the whole reason this runs in its own
# subprocess. Aggressive settings so the 3 s sleepers are eligible for
# speculative relaunch within the test's lifetime.
spark = (
    SparkSession.builder.master("local[8]")
    .appName("mrlite-straggler")
    .config("spark.ui.enabled", "false")
    .config("spark.speculation", "true")
    .config("spark.speculation.interval", "100ms")
    .config("spark.speculation.multiplier", "1.2")
    .config("spark.speculation.quantile", "0.25")
    .getOrCreate()
)
sys.path.insert(0, ".")
from eeecs485_p4_mapreduce_spark.mrlite import MREngine
from tests.conftest import read_lines

assert spark.sparkContext.getConf().get("spark.speculation") == "true"
engine = MREngine(spark)
res = engine.submit_job(
    input_directory=sys.argv[1],
    output_directory=sys.argv[2],
    mapper_executable=sys.argv[3],
    reducer_executable=sys.argv[4],
    num_mappers=4,
    num_reducers=2,
)
lines = sorted(read_lines(res))
print("STRAGGLER_RESULT:" + json.dumps(
    {"n_parts": len(res.output_paths), "lines": lines}
))
spark.stop()
"""

# Logging wrapper: records this attempt's [start, end] epoch-seconds,
# delegating stdin/stdout untouched to the reference's own slow script.
# The log file is written only AFTER the wrapped script exits, so
# attempts killed mid-flight (speculation losers) leave no interval.
WRAPPER = """#!/bin/sh
s=$(date +%s.%N)
{real} "$@"
rc=$?
e=$(date +%s.%N)
echo "$s $e" > "{logdir}/{kind}_$$_$(awk 'BEGIN{{srand(); print int(rand()*1e9)}}').log"
exit $rc
"""


def _intervals(logdir: Path, kind: str) -> list[tuple[float, float]]:
    out = []
    for f in sorted(logdir.glob(f"{kind}_*.log")):
        parts = f.read_text().split()
        if len(parts) == 2:
            out.append((float(parts[0]), float(parts[1])))
    return out


def _max_concurrency(intervals: list[tuple[float, float]]) -> int:
    """Maximum number of intervals simultaneously open (sweep line)."""
    events = sorted(
        [(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals]
    )
    cur = best = 0
    for _, delta in events:
        cur += delta
        best = max(best, cur)
    return best


def test_slow_executables_overlap_structurally(tmp_path):
    """4 slow map tasks + 2 slow reduce tasks each sleep 3 s. With tasks
    scheduled in parallel on local[8] their [start, end] intervals must
    intersect; genuine serialization yields pairwise-disjoint intervals
    regardless of host load. Correctness is byte parity with the
    reference golden; parallelism is max-concurrency >= 2 per phase."""
    logdir = tmp_path / "tasklogs"
    logdir.mkdir()
    wrappers = {}
    for kind, real in (
        ("map", REF / "exec/wc_map_slow.sh"),
        ("reduce", REF / "exec/wc_reduce_slow.sh"),
    ):
        w = tmp_path / f"{kind}_wrapped.sh"
        w.write_text(WRAPPER.format(real=real, logdir=logdir, kind=kind))
        w.chmod(0o755)
        wrappers[kind] = w

    script_file = tmp_path / "straggler_job.py"
    script_file.write_text(SCRIPT)
    proc = subprocess.run(
        [
            sys.executable,
            str(script_file),
            str(REF / "input"),
            str(tmp_path / "out"),
            str(wrappers["map"]),
            str(wrappers["reduce"]),
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [
        ln
        for ln in proc.stdout.splitlines()
        if ln.startswith("STRAGGLER_RESULT:")
    ]
    assert line, proc.stdout[-2000:]
    res = json.loads(line[0].split(":", 1)[1])
    golden = sorted(
        (REF / "correct/word_count_correct.txt").read_text().splitlines()
    )
    assert res["lines"] == golden
    assert res["n_parts"] == 2

    maps = _intervals(logdir, "map")
    reduces = _intervals(logdir, "reduce")
    # Speculation may add extra (completed) attempts; killed losers log
    # nothing. At least the 4 + 2 winning attempts must be present.
    assert len(maps) >= 4, maps
    assert len(reduces) >= 2, reduces
    # The structural parallelism proof: each 3 s sleeper's interval is
    # wide enough that concurrent scheduling MUST intersect them; a
    # serialized scheduler can never produce an intersection.
    assert _max_concurrency(maps) >= 2, f"map tasks serialized: {maps}"
    assert _max_concurrency(reduces) >= 2, (
        f"reduce tasks serialized: {reduces}"
    )
