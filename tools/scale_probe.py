"""Scale probe: replicate the sf0.1 tables N-fold with shifted keys and
re-run the headline queries, looking for super-linear stages.

The driver's test data tops out at sf0.1 (~600 k lineitem rows), which is
overhead-bound on 32 cores — a plan with a hidden O(n^2) stage or a
single-task bottleneck can still look fast there. This tool manufactures a
larger *measurement* corpus (never used for correctness: the oracle gate
stays on the driver's own parquet) by unioning R shifted copies of each
table:

- every foreign/primary key gets a per-replica offset (``i * KEY_OFFSET``)
  so join multiplicities stay constant — naive duplication without offsets
  would inflate join outputs by R per matched key and measure a blow-up the
  real engine never executes;
- ``documents.text`` gets a per-replica suffix on every token, so
  within-replica near-dup structure is preserved exactly while
  cross-replica shingles are disjoint (otherwise R exact copies of every
  doc would hand MinHash-LSH an R^2 candidate-pair explosion that says
  nothing about how the plan scales on real data);
- ``nation``/``region`` stay single-copy (TPC-H holds dimension constants
  fixed as SF grows); ``events.ts`` keeps its time domain (a bigger corpus
  means higher event *rate*, not a longer history — watermark/window state
  must stay bounded by the time domain, which this probes).

Usage:
    python tools/scale_probe.py build  [factor] [out_dir]
    python tools/scale_probe.py run    [factor] [out_dir] [query ...]

``run`` executes each query once against sf0.1 and once against the
replica, reports wall ratios, and flags anything growing faster than
``factor`` (linear) by more than SLACK.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Re-exported from the package so probe-only operator variants that
# decode replica shards (vec_id div KEY_OFFSET) share one constant.
from eeecs485_p4_mapreduce_spark.catalog import (  # noqa: E402
    REPLICA_KEY_OFFSET as KEY_OFFSET,
)

# key columns to shift per replica, per table
SHIFT_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
SINGLE_COPY = ("nation", "region")

# Queries whose runtime is dominated by deliberate demo-shaped I/O or a
# declared O(n^2) oracle path — excluded from the linearity gate (still
# run, still timed) with the reason printed.
NONLINEAR_OK = {
    "dedup_embedding_cosine": "declared O(n^2) recall oracle (guarded)",
    "dedup_incremental": "writes+reads a parquet index inside the query",
    "curate_export_shards": "writes+reads JSON shards inside the query",
    "sim_topk_bruteforce": "exact top-k scans all vectors per probe (recall oracle)",
    "stream_incremental_rollup": "maxFilesPerTrigger=1 -> one merge batch per"
    " staged part file; batch count, not row count, drives wall time",
    "sim_knn_join": "in-cell pairs grow quadratically when the replica's"
    " cell count stays fixed while both snapshots grow; a real IVF build"
    " grows nlist ~ sqrt(N), which restores linearity (see docstring)",
    "sim_hnsw_build": "same fixed-index caveat as sim_knn_join: bucket"
    " occupancy grows linearly with the replica (quadratic in-bucket"
    " pairs) because the probe can't re-size the plane count, which a"
    " real build grows ~log4(N) (see SCALE.md; x10 measured 7.45x —"
    " sub-linear at that factor, exempt for larger ones)",
    "sim_hnsw_search": "dominated by its embedded edge build —"
    " sim_hnsw_build's exemption applies; the search hops themselves"
    " touch only the EF-row frontier per query",
    "sim_hnsw_m_recall": "dominated by its embedded edge build —"
    " sim_hnsw_build's fixed-plane-count exemption applies (x10"
    " measured 1.18x, sub-linear at that factor; the recall join"
    " itself is broadcast-sized)",
    "dedup_semdedup": "within-cluster pairs grow quadratically when the"
    " replica's cluster count stays fixed while the corpus grows (the"
    " probe can't re-cluster); the production k-policy (k ~ N /"
    " target-cluster-size) is MEASURED sub-linear by the probe-only"
    " dedup_semdedup_scaledk rows: x10 ratio 1.92 (/10=0.19), x100"
    " ratio 9.48 (/100=0.09) — see SCALING.md's r11 case study",
}

SLACK = 2.5  # ratio/factor above this → flagged


def build(
    factor: int,
    out_dir: str,
    src: str = "/root/testdata/sf0.1",
    spark=None,
) -> None:
    from pyspark.sql import functions as F

    from eeecs485_p4_mapreduce_spark import get_spark
    from eeecs485_p4_mapreduce_spark.catalog import TABLES, load_table

    own_session = spark is None
    if own_session:
        spark = get_spark("scale-probe-build")
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        df = load_table(spark, src, name)
        out = os.path.join(out_dir, f"{name}.parquet")
        if name in SINGLE_COPY:
            df.write.mode("overwrite").parquet(out)
            continue
        copies = []
        for i in range(factor):
            c = df
            for col in SHIFT_COLS.get(name, []):
                c = c.withColumn(col, F.col(col) + F.lit(i * KEY_OFFSET))
            if name == "documents" and i > 0:
                # suffix every token: within-replica shingle/near-dup
                # structure is byte-preserved, cross-replica shingles are
                # disjoint (see module docstring).
                c = c.withColumn(
                    "text",
                    F.regexp_replace("text", r"([^ \t]+)", rf"$1_r{i}"),
                ).withColumn("n_chars", F.length("text"))
            copies.append(c)
        merged = copies[0]
        for c in copies[1:]:
            merged = merged.unionByName(c)
        # events.ts came through load_table normalization (timestamp);
        # write as-is — the replica is read back through load_table too,
        # which no-ops on a plain timestamp column.
        merged.repartition(max(4, factor)).write.mode("overwrite").parquet(out)
        print(f"built {name} x{factor}", flush=True)
    if own_session:
        spark.stop()


def run(factor: int, out_dir: str, names: list[str]) -> dict:
    import bench

    from eeecs485_p4_mapreduce_spark import get_spark
    from eeecs485_p4_mapreduce_spark.registry import QUERIES, load_all

    load_all()
    from eeecs485_p4_mapreduce_spark.operators import similarity, staged

    lookup = dict(QUERIES)
    # Probe-only variant backing dedup_semdedup's fixed-k exemption with
    # a measurement: the production k-policy (k ~ N, re-seeded per-shard
    # centroids, two-level assignment) run on the replica corpus. Never
    # registered; exists exactly so this tool can measure it.
    lookup["dedup_semdedup_scaledk"] = staged.dedup_semdedup_scaledk
    # Same disposition for the HNSW fixed-plane exemption: the
    # production planes ~ log4(N) policy on the replica corpus.
    lookup["sim_hnsw_scaledplanes"] = similarity.sim_hnsw_scaledplanes
    names = names or [n for n in bench.HEADLINE if n in QUERIES]
    spark = get_spark("scale-probe")
    spark.range(1000).selectExpr("sum(id)").collect()

    def timed(fn, sf_dir: str) -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    rows = {}
    flagged = []
    for name in names:
        fn = lookup[name]
        try:
            timed(fn, "/root/testdata/sf0.1")  # warm plan+JIT
            base = timed(fn, "/root/testdata/sf0.1")
            big = timed(fn, out_dir)
            ratio = big / max(base, 1e-9)
            norm = ratio / factor
            rows[name] = {
                "base_s": round(base, 3),
                "big_s": round(big, 3),
                "ratio": round(ratio, 2),
                "ratio_over_factor": round(norm, 3),
            }
            note = ""
            if name in NONLINEAR_OK:
                note = f"  [exempt: {NONLINEAR_OK[name]}]"
            elif norm > SLACK:
                flagged.append(name)
                note = "  <-- SUPER-LINEAR"
            print(
                f"{name:30s} base {base:7.2f}s  x{factor} {big:7.2f}s "
                f"ratio {ratio:6.2f} (/{factor} = {norm:5.2f}){note}",
                flush=True,
            )
        except Exception as exc:  # noqa: BLE001 — probe must finish the sweep
            rows[name] = {"error": str(exc)[:200]}
            print(f"{name:30s} ERROR {str(exc)[:120]}", flush=True)
    spark.stop()
    out = {"factor": factor, "flagged": flagged, "queries": rows}
    print(json.dumps({"factor": factor, "flagged": flagged}))
    return out


def main() -> int:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "run"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    out_dir = sys.argv[3] if len(sys.argv) > 3 else f"/tmp/sfx{factor}"
    if cmd == "build":
        build(factor, out_dir)
        return 0
    if cmd == "run":
        subset = sys.argv[4:]
        result = run(factor, out_dir, subset)
        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            f"SCALING_x{factor}.json",
        )
        if subset:
            if not os.path.exists(path):
                # never write a subset-only record as if it were a full
                # sweep — a partial file is indistinguishable from one
                print(
                    f"subset run not recorded: {path} does not exist; "
                    "run a full sweep first"
                )
                return 0
            # subset runs MERGE into the full sweep record instead of
            # clobbering it: refresh the probed rows, keep the rest,
            # and recompute flagged over the union. A prior flag is
            # cleared ONLY by a successful sub-linear re-measurement —
            # an errored re-probe keeps the old flag (no evidence is
            # not exoneration).
            with open(path) as f:
                record = json.load(f)
            # Refresh only rows whose re-probe SUCCEEDED: an errored
            # re-probe must not overwrite a prior good measurement (the
            # flag logic below already keeps the flag; this keeps the
            # evidence). The error is still recorded alongside so the
            # failed attempt is visible.
            for name, row in result["queries"].items():
                prev = record["queries"].get(name)
                if "error" in row and prev is not None and "error" not in prev:
                    prev["reprobe_error"] = row["error"]
                else:
                    record["queries"][name] = row
            remeasured_ok = {
                n
                for n in subset
                if n in result["queries"]
                and "error" not in result["queries"][n]
                and n not in result["flagged"]
            }
            kept = [
                n
                for n in record.get("flagged", [])
                if n not in remeasured_ok and n not in result["flagged"]
            ]
            record["flagged"] = kept + result["flagged"]
            result = record
        with open(path, "w") as f:
            json.dump(result, f, indent=1)
        return 0
    print(__doc__)
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
