#!/usr/bin/env python3
"""The repository's benchmark: one workload, checked outputs, metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see BENCHMARK.json):

- ``spark_mix_sf001``: registered queries over seeded tables at scale
  factor 0.01, a JVM-only join and ones heavy in pins, writes, Arrow
  codecs and streaming, plus an mrlite job through
  ``MRManagerServer(MREngine(spark))``;
- ``mr_fleet``: the MapReduce manager and three worker processes over
  TCP/UDP, word-count and grep jobs, no JVM.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs with
Spark's event log, a streaming listener and executable stamps on and
prints the per-layer metrics, writing its spans to ``perfbench/out/``.
The last line of stdout is one JSON object; the exit code is 0 only if
every op succeeded and matched its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))  # the engine package
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))  # oracle_check

import common  # noqa: E402
from procfs import read_all, subtree  # noqa: E402
from stats import median  # noqa: E402

WORKLOADS = ("spark_mix_sf001", "mr_fleet")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    needed = ("eeecs485_p4_mapreduce_spark/__init__.py", "tools/oracle_check.py")
    if not all(os.path.isfile(os.path.join(common.REPO, p)) for p in needed):
        print("perfbench: run from a checkout of the repository (engine package "
              "and tools/oracle_check.py not found)", file=sys.stderr)
        return 2

    work = common.prepare_work(args.workload)
    try:
        if args.workload == "mr_fleet":
            import mr_fleet as workload
        else:
            import spark_workload as workload
        result = workload.run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        common.remove_work(work)
    left = [p for p in subtree(read_all(), os.getpid()) if p != os.getpid()]
    if left:
        print(f"perfbench: processes still running: {left}", file=sys.stderr)
        return 3
    counts = result["counts"]
    if not args.trace:
        lat = result["latencies"]
        print(f"perfbench: {args.workload} seed {args.seed}: steady rounds "
              f"{', '.join(f'{w:.2f}' for w in result['round_walls'])} s "
              f"(host steal {result['steal_share']:.0%} of CPU time), "
              f"{len(lat)} op samples, op p50 {median(lat):.3f} s", file=sys.stderr)
    print(json.dumps(common.summary_line(result)))
    return 0 if counts.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
