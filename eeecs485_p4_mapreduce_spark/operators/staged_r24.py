"""Registered queries of the r24 pipeline (each with ``@query``).

Same discipline as operators/staged_r9-r23: built, hash-checked against
DuckDB at sf0.001 and sf0.01, fixture-tested with independent references
(tests/test_staged_r24.py), plan-gate swept (incl. the CartesianProduct
gate), and x10/x100 replica-probed before registration. Same contract as
every registered query: identical aliases both sides, round()-ed or
integer-exact outputs, no nullable hash-bearing columns.

Surface (see each section comment for the scale argument):

- ``q131_cusum_changepoint`` — CUSUM changepoint detection over the
  daily order-count series, all-integer (deviations scaled by n so no
  division ever happens); day-grain reduction first, so the series
  windows run over a calendar-bounded relation.
- ``q133_ks_test`` — exact two-sample Kolmogorov-Smirnov D between
  returned and non-returned lineitem quantity distributions via
  cross-multiplied integer CDFs (D_num = max |cA*nB - cB*nA|); the
  D ratio is the family's second deliberate 6dp double (D_num ~ n^2
  overflows a ppm BIGINT form, q134's class); the value-grain
  reduction bounds the merged support at the quantity domain.
- ``q132_sax_symbols`` — SAX-style symbolization of the daily revenue
  series: PAA segment means in exact per-mille arithmetic, symbols
  from exact order-statistic breakpoints of the segment values.
- ``skew_range_balance`` — range-partitioner audit: exact split
  points from a deterministic sample (the RangePartitioner's
  sample-then-split model), per-bucket row shares and deviation from
  ideal in ppm — the observability query you run before choosing a
  range-partitioned sort at 100 TB.
- ``curate_token_budget_cap`` — per-source token budget enforcement
  (dataset-freeze semantics: keep docs in doc_id order until the
  source's budget is spent); the running token total is the q57/q28
  two-level prefix decomposition, never a corpus-wide window.
- ``ta_renyi_repetition`` — Rényi-2 collision probability per doc
  (the log-free repetitiveness signal), exact ppm integers.
- ``ta_dsir_quantized`` — DSIR importance weights with bit-length-
  quantized log ratios (length(bin(x)) on both engines), a 1024-row
  broadcast LM at any corpus size.
- ``dedup_bbit_minhash`` — b-bit minwise hashing (Li & König 2010)
  over the shared banded candidate front end; corrected estimator
  collapses to exact integers at b=4, n=16.
- ``sim_rp_lsh_cosine`` — random-hyperplane LSH (32 planes, 8x4-bit
  bands) with power-of-two quantization so every sign bit is the
  same BIGINT on both engines; exact-cosine rerank, top-5/query.
- ``mm_lz4_block_decode`` — hand LZ4 block codec both directions
  (greedy hash-chain compressor as the fixture, strict bomb-guarded
  decompressor as the engine).
- ``mm_tiff_strip_decode`` — data-carrying strips through the
  established encode_tiff/parse_tiff_ifds pair (strips parameter,
  not a second IFD codec); pixel checksums recomputed closed-form.
- ``mm_riff_webp`` — generic RIFF chunk walk (padding rules, META
  chunks) + the shared VP8L 14-bit dimension codec.
- ``mm_parquet_datapage_v2`` — byte-level DataPageV2 decode:
  DELTA_BINARY_PACKED int64 + DELTA_LENGTH_BYTE_ARRAY strings, no
  parquet library on the read side.
- ``stream_semantic_dedup`` — cross-batch
  dropDuplicatesWithinWatermark on semantic keys, proven against
  injected re-keyed duplicates arriving a slice later.
- ``q134_mann_whitney`` — exact Mann-Whitney U with doubled-midrank
  integer tie handling; the AUC effect size is the module's one
  deliberate double (the ppm integer form overflows BIGINT at the
  x100 probe scale — measured).
- ``q135_ewma_spikes`` — EWMA (alpha=1/5) spike detection, engine
  fold vs recursive-CTE oracle; nonnegative-only recurrences so
  Spark div == DuckDB // holds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from eeecs485_p4_mapreduce_spark.catalog import (
    load_table,
    pin_disk,
    read_parquet_cached,
)
from eeecs485_p4_mapreduce_spark.registry import query

_DUCK_TOKS = "string_split_regex(lower(text), '[ \t]')"
_SPARK_TOKS = "split(lower(text), '[ \t]')"


def _py_toks(text: str) -> list:
    """Python mirror of _DUCK_TOKS for mm_* fixture builders (one
    definition per staging module so the token contract can't diverge
    inside a mapInPandas body)."""
    toks: list = []
    for t in text.lower().split(" "):
        toks.extend(t.split("\t"))
    return toks


# ---------------------------------------------------------------------------
# q131_cusum_changepoint. Page's CUSUM statistic over the daily
# order-count series: S_t = sum_{i<=t} (x_i - mean). To keep the hash
# integer-exact the partial sums are scaled by n (the day count):
# n*S_t = sum_{i<=t} (n*x_i - T) with T the total count — pure BIGINT,
# no division, no floats. The changepoint estimate is the day
# maximizing |S_t|; the query returns the top CUSUM_TOP days by |n*S_t|
# (ties to the earlier day). Scale: one map-side day-grain count
# bounds every downstream relation at the calendar size, so the
# unpartitioned cumsum window (flagged-class operator) runs over an
# aggregate-sized input — the q117/q118 discipline.
# ---------------------------------------------------------------------------
CUSUM_TOP = 5

Q131_CUSUM_ORACLE = f"""
    WITH daily AS (
      SELECT CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) // 86400 AS BIGINT)
               AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS t
      FROM daily
    ), cum AS (
      SELECT day,
             sum(n * x - t) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM daily, tot
    )
    SELECT CAST(row_number() OVER (ORDER BY abs(s) DESC, day) AS BIGINT)
             AS cusum_rank,
           day,
           CAST(s AS BIGINT) AS s_scaled
    FROM cum
    ORDER BY cusum_rank
    LIMIT {CUSUM_TOP}
"""


@query("q131_cusum_changepoint", oracle=Q131_CUSUM_ORACLE)
def q131_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{CUSUM_TOP} CUSUM changepoint candidates over daily order
    counts (see section comment). The only shuffle the fact table pays
    is the day-grain partial-agg count; both windows run over the
    calendar-bounded day relation."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.selectExpr(
            "unix_micros(cast(o_orderdate as timestamp))"
            " div 86400000000 AS day"
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("t")
    )
    w_cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        daily.crossJoin(F.broadcast(tot))
        .select(
            "day",
            F.sum(F.col("n") * F.col("x") - F.col("t"))
            .over(w_cum)
            .alias("s"),
        )
    )
    w_rank = Window.orderBy(F.abs(F.col("s")).desc(), F.col("day"))
    return (
        cum.select(
            F.row_number().over(w_rank).cast("bigint").alias("cusum_rank"),
            "day",
            F.col("s").cast("bigint").alias("s_scaled"),
        )
        .orderBy("cusum_rank")
        .limit(CUSUM_TOP)
    )


# ---------------------------------------------------------------------------
# q133_ks_test. Exact two-sample Kolmogorov-Smirnov: D = max_x
# |F_A(x) - F_B(x)| between the l_quantity distributions of returned
# (l_returnflag = 'R') and non-returned lineitems. Cross-multiplying
# removes the division: D_num = max |cumA*nB - cumB*nA| over the
# merged support, and D = D_num / (nA*nB) is reported as a 6dp-rounded
# DOUBLE (d_r) — the same overflow class q134's AUC hit: D_num scales
# as nA*nB ~ n^2, so a ppm integer form (D_num * 1e6) overflows BIGINT
# near n ~ 3M rows even when D itself is small; dividing the two exact
# BIGINTs as doubles is IEEE-deterministic on both engines at any
# scale. Scale: quantity has a tiny value domain,
# so the per-(value, side) partial count is the only fact shuffle and
# the CDF windows run over a support-bounded relation — the same
# value-grain reduction q60's histogram uses. The argmax value is
# reported (smallest value achieving D) so the oracle pins WHERE the
# distributions diverge, not just by how much.
# ---------------------------------------------------------------------------
Q133_KS_ORACLE = """
    WITH vals AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS v,
             CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT)
               AS ca,
             CAST(count(*) FILTER (WHERE l_returnflag <> 'R') AS BIGINT)
               AS cb
      FROM lineitem GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      FROM vals
    ), cdf AS (
      SELECT v,
             sum(ca) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
             sum(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
      FROM vals
    )
    SELECT na, nb,
           CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS d_num,
           round(CAST(max(abs(cuma * nb - cumb * na)) AS DOUBLE)
                 / (1.0 * na * nb), 6) + 0.0 AS d_r,
           CAST(min(v) FILTER (WHERE abs(cuma * nb - cumb * na) =
             (SELECT max(abs(c2.cuma * t2.nb - c2.cumb * t2.na))
              FROM cdf c2, tot t2)) AS BIGINT) AS d_at_value
    FROM cdf, tot
    GROUP BY na, nb
"""


@query("q133_ks_test", oracle=Q133_KS_ORACLE)
def q133_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic between returned / non-returned
    quantity distributions (see section comment): one value-grain
    partial-count shuffle on the fact table, integer CDF
    cross-multiplication, 6dp-rounded double D ratio (the ppm integer
    form would overflow BIGINT at ~3M rows — q134's measured class)."""
    li = load_table(spark, sf_dir, "lineitem")
    vals = (
        li.selectExpr(
            "cast(round(l_quantity) as bigint) AS v",
            "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS isa",
        )
        .groupBy("v")
        .agg(
            F.sum("isa").cast("bigint").alias("ca"),
            (F.count(F.lit(1)) - F.sum("isa")).cast("bigint").alias("cb"),
        )
    )
    tot = vals.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    w_cdf = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cdf = vals.select(
        "v",
        F.sum("ca").over(w_cdf).alias("cuma"),
        F.sum("cb").over(w_cdf).alias("cumb"),
    )
    gap = cdf.crossJoin(F.broadcast(tot)).select(
        "v",
        "na",
        "nb",
        F.abs(F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na"))
        .alias("gap"),
    )
    # max-over-all window runs on the support-bounded gap relation (the
    # groupBy(v) agg bounds its subtree), so the unpartitioned frame is
    # aggregate-sized, never fact-sized.
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        gap.withColumn("mxgap", F.max("gap").over(w_all))
        .groupBy("na", "nb")
        .agg(
            F.max("gap").cast("bigint").alias("d_num"),
            F.expr(
                "round(CAST(max(gap) AS DOUBLE) / (1.0d * na * nb), 6)"
                " + 0.0d"
            ).alias("d_r"),
            F.min(F.when(F.col("gap") == F.col("mxgap"), F.col("v")))
            .cast("bigint")
            .alias("d_at_value"),
        )
    )


# ---------------------------------------------------------------------------
# q132_sax_symbols. SAX (Symbolic Aggregate approXimation) of the
# daily revenue series: the day axis is split into SAX_W equal-count
# segments (PAA), each segment's mean revenue is computed in exact
# per-mille integer arithmetic (sum*1000 div count — Spark div ==
# DuckDB //), and each segment is assigned a quartile symbol a-d from
# EXACT order-statistic breakpoints of the SAX_W segment means (the
# values at sorted ranks W/4, W/2, 3W/4). Classic SAX uses Gaussian
# breakpoints over a z-normalized series; the quartile variant keeps
# every number integer so the oracle hash is arithmetic-identity, not
# float-luck. Scale: day-grain reduction first, then everything is
# SAX_W-sized; the day-rank window is calendar-bounded (q117/q118
# discipline).
# ---------------------------------------------------------------------------
SAX_W = 16

Q132_SAX_ORACLE = f"""
    WITH daily AS (
      SELECT CAST(epoch(CAST(l_shipdate AS TIMESTAMP)) // 86400 AS BIGINT)
               AS day,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
    ), seq AS (
      SELECT row_number() OVER (ORDER BY day) - 1 AS t, cents,
             count(*) OVER () AS n
      FROM daily
    ), seg AS (
      SELECT CAST(t * {SAX_W} // n AS BIGINT) AS seg,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(cents) * 1000 // count(*) AS BIGINT) AS m_scaled
      FROM seq GROUP BY 1
    ), ranked AS (
      SELECT m_scaled,
             row_number() OVER (ORDER BY m_scaled, seg) AS r
      FROM seg
    ), brk AS (
      SELECT max(CASE WHEN r = {SAX_W // 4} THEN m_scaled END) AS q1,
             max(CASE WHEN r = {SAX_W // 2} THEN m_scaled END) AS q2,
             max(CASE WHEN r = {3 * SAX_W // 4} THEN m_scaled END) AS q3
      FROM ranked
    )
    SELECT seg, n_days, m_scaled,
           chr(97 + CAST(m_scaled >= q1 AS INT)
                  + CAST(m_scaled >= q2 AS INT)
                  + CAST(m_scaled >= q3 AS INT)) AS symbol
    FROM seg, brk
"""


@query("q132_sax_symbols", oracle=Q132_SAX_ORACLE)
def q132_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization of daily revenue (see section comment): one
    day-grain shuffle on the fact table, then SAX_W-row relations all
    the way down; breakpoints ride a broadcast 1-row scalar join."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.selectExpr(
            "unix_micros(cast(l_shipdate as timestamp))"
            " div 86400000000 AS day",
            "cast(round(l_extendedprice * 100) as bigint) AS cents",
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("cents"))
    )
    w_day = Window.orderBy("day")
    n_row = daily.agg(F.count(F.lit(1)).alias("n"))
    seq = (
        daily.select(
            (F.row_number().over(w_day) - 1).alias("t"), "cents"
        )
        .crossJoin(F.broadcast(n_row))
    )
    seg = (
        seq.selectExpr(f"CAST(t * {SAX_W} div n AS BIGINT) AS seg", "cents")
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.expr(
                "CAST(sum(cents) * 1000 div count(1) AS BIGINT)"
            ).alias("m_scaled"),
        )
    )
    w_rank = Window.orderBy("m_scaled", "seg")
    brk = (
        seg.select(
            "m_scaled", F.row_number().over(w_rank).alias("r")
        )
        .agg(
            F.max(
                F.when(F.col("r") == SAX_W // 4, F.col("m_scaled"))
            ).alias("q1"),
            F.max(
                F.when(F.col("r") == SAX_W // 2, F.col("m_scaled"))
            ).alias("q2"),
            F.max(
                F.when(F.col("r") == 3 * SAX_W // 4, F.col("m_scaled"))
            ).alias("q3"),
        )
    )
    return seg.crossJoin(F.broadcast(brk)).selectExpr(
        "seg",
        "n_days",
        "m_scaled",
        "chr(97 + CAST(m_scaled >= q1 AS INT)"
        " + CAST(m_scaled >= q2 AS INT)"
        " + CAST(m_scaled >= q3 AS INT)) AS symbol",
    )


# ---------------------------------------------------------------------------
# skew_range_balance. The audit you run BEFORE electing a
# range-partitioned sort/join at 100 TB: Spark's RangePartitioner
# samples the key column, takes split points from the sorted sample,
# and assigns rows by range. This query reproduces that model with a
# deterministic sample (l_orderkey % RB_SAMPLE_MOD == 0 — hash-free
# and oracle-reproducible) and EXACT order-statistic split points,
# then reports each bucket's realized share in ppm and its signed
# deviation from ideal. A skewed key column shows up as dev_ppm
# spread before anyone pays the real 100 TB shuffle.
#
# Split ranks are found WITHOUT a global sort: sampled keys reduce to
# (key div RB_KEYBKT)-bucket counts, the running offset runs over the
# bucket-grain table, and within-bucket ranks are windowed per bucket
# (two-level prefix, q57/q28/curate_pack_sequences discipline); the
# split values then come from a 31-row broadcast rank join.
# ---------------------------------------------------------------------------
RB_BUCKETS = 32
RB_SAMPLE_MOD = 101
RB_KEYBKT = 4096

SKEW_RB_ORACLE = f"""
    WITH s AS (
      SELECT l_orderkey AS k FROM lineitem
      WHERE l_orderkey % {RB_SAMPLE_MOD} = 0
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS m FROM s
    ), kc AS (
      SELECT k, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY k
    ), cum AS (
      SELECT k, c,
             sum(c) OVER (ORDER BY k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM kc
    ), ranks AS (
      SELECT i, (i * m + {RB_BUCKETS} - 1) // {RB_BUCKETS} AS r
      FROM (SELECT unnest(range(1, {RB_BUCKETS})) AS i), m
    ), splits AS (
      SELECT r.i, min(c2.k) AS split
      FROM ranks r JOIN cum c2
        ON c2.cum >= r.r AND c2.cum - c2.c < r.r
      GROUP BY r.i
    ), arr AS (
      -- coalesce: an EMPTY sample must yield an empty split list (so
      -- every row lands in bucket 0) exactly like Spark's collect_list,
      -- never a NULL bucket (DuckDB list() over zero rows is NULL)
      SELECT coalesce(list_sort(list(split)), []) AS sp FROM splits
    ), assigned AS (
      SELECT len(list_filter(arr.sp, x -> x < l_orderkey)) AS bucket
      FROM lineitem, arr
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS nt FROM lineitem
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) * 1000000 // nt AS BIGINT) AS share_ppm,
           CAST(count(*) * 1000000 // nt
                - 1000000 // {RB_BUCKETS} AS BIGINT) AS dev_ppm
    FROM assigned, tot
    GROUP BY bucket, nt
"""


@query("skew_range_balance", oracle=SKEW_RB_ORACLE)
def skew_range_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioner balance audit over l_orderkey (see section
    comment): deterministic sample, two-level exact order statistics,
    31 broadcast split points, per-bucket realized shares in ppm."""
    li = load_table(spark, sf_dir, "lineitem")
    s = li.filter(F.col("l_orderkey") % RB_SAMPLE_MOD == 0).select(
        F.col("l_orderkey").alias("k")
    )
    kc = (
        s.withColumn("bkt", F.expr(f"k div {RB_KEYBKT}"))
        .groupBy("bkt", "k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w_b = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    boff = (
        kc.groupBy("bkt")
        .agg(F.sum("c").alias("btot"))
        .select(
            "bkt",
            (F.sum("btot").over(w_b) - F.col("btot")).alias("boff"),
        )
    )
    w_in = Window.partitionBy("bkt").orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = kc.join(F.broadcast(boff), "bkt").select(
        "k", "c", (F.col("boff") + F.sum("c").over(w_in)).alias("cum")
    )
    m_row = s.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    ranks = (
        spark.range(1, RB_BUCKETS)
        .withColumnRenamed("id", "i")
        .crossJoin(F.broadcast(m_row))
        .selectExpr(
            "i", f"(i * m + {RB_BUCKETS} - 1) div {RB_BUCKETS} AS r"
        )
    )
    splits = (
        cum.join(
            F.broadcast(ranks),
            (F.col("cum") >= F.col("r"))
            & (F.col("cum") - F.col("c") < F.col("r")),
        )
        .groupBy("i")
        .agg(F.min("k").alias("split"))
    )
    arr = splits.agg(
        F.array_sort(F.collect_list("split")).alias("sp")
    )
    tot = li.agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    assigned = (
        li.select("l_orderkey")
        .crossJoin(F.broadcast(arr))
        .selectExpr(
            "size(filter(sp, x -> x < l_orderkey)) AS bucket"
        )
    )
    return (
        assigned.crossJoin(F.broadcast(tot))
        .groupBy("bucket", "nt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .selectExpr(
            "CAST(bucket AS BIGINT) AS bucket",
            "n_rows",
            "CAST(n_rows * 1000000 div nt AS BIGINT) AS share_ppm",
            f"CAST(n_rows * 1000000 div nt"
            f" - 1000000 div {RB_BUCKETS} AS BIGINT) AS dev_ppm",
        )
    )


# ---------------------------------------------------------------------------
# curate_token_budget_cap. Dataset-freeze budget enforcement: each
# source keeps documents in doc_id (arrival) order until its token
# budget — half the source's total tokens, data-derived so the query
# is never SF-vacuous — is spent; the first doc that would overflow
# the budget is cut (and everything after it). The running token
# total is the q57/q28/curate_pack_sequences two-level prefix
# decomposition: per-(source, bucket) totals, a running offset over
# the bucket-grain table (the only window whose partition spec is the
# bare dimension — its input is aggregate-sized), and within-bucket
# cumsums partitioned by (source, bucket) with bounded window state.
# ---------------------------------------------------------------------------
TB_BUCKET = 1000

CURATE_TB_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_toks
      FROM documents
    ), caps AS (
      SELECT source, CAST(sum(n_toks) // 2 AS BIGINT) AS cap
      FROM d GROUP BY source
    ), cum AS (
      SELECT doc_id, source, n_toks,
             sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_toks AS tok_before
      FROM d
    )
    SELECT c.doc_id, c.source, c.n_toks,
           CAST(c.tok_before AS BIGINT) AS tok_before
    FROM cum c JOIN caps ON c.source = caps.source
    WHERE c.tok_before + c.n_toks <= caps.cap
"""


@query("curate_token_budget_cap", oracle=CURATE_TB_ORACLE)
def curate_token_budget_cap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source token-budget freeze (see section comment): keep docs
    in doc_id order while the running total stays within half the
    source's tokens; running totals via the two-level prefix idiom so
    no corpus-sized window ever forms."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        F.expr(f"CAST(size({_SPARK_TOKS}) AS BIGINT)").alias("n_toks"),
        F.expr(f"doc_id div {TB_BUCKET}").alias("bkt"),
    )
    caps = d.groupBy("source").agg(
        F.expr("CAST(sum(n_toks) div 2 AS BIGINT)").alias("cap")
    )
    w_b = Window.partitionBy("source").orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    boff = (
        d.groupBy("source", "bkt")
        .agg(F.sum("n_toks").alias("btot"))
        .select(
            "source",
            "bkt",
            (F.sum("btot").over(w_b) - F.col("btot")).alias("boff"),
        )
    )
    w_in = (
        Window.partitionBy("source", "bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.join(F.broadcast(boff), ["source", "bkt"])
        .withColumn(
            "tok_before",
            (
                F.col("boff")
                + F.coalesce(F.sum("n_toks").over(w_in), F.lit(0))
            ).cast("bigint"),
        )
        .join(F.broadcast(caps), "source")
        .filter(F.col("tok_before") + F.col("n_toks") <= F.col("cap"))
        .select("doc_id", "source", "n_toks", "tok_before")
    )


# ---------------------------------------------------------------------------
# ta_renyi_repetition. Rényi-2 (collision) repetition score per doc:
# the probability two uniformly-drawn token positions hold the SAME
# token is sum(c_i^2)/N^2 — a repetitiveness / low-diversity quality
# signal (the boilerplate-and-spam detector that needs no log()): a
# doc looping one phrase scores near 1e6 ppm, diverse prose near
# 1/N. Exact integers end to end (no entropy logs, so no float in
# the hash). Tokens are fingerprinted BEFORE the count shuffle (the
# repo's standing rule) and the per-(doc, token) partial count
# combines map-side.
# ---------------------------------------------------------------------------
_TOK_FP_SPARK = "cast(conv(substring(md5(t), 1, 12), 16, 10) as bigint)"
_TOK_FP_DUCK = (
    "CAST(CAST(concat('0x', substr(md5(t), 1, 12)) AS UBIGINT) AS BIGINT)"
)

TA_RENYI_ORACLE = f"""
    WITH ex AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS t FROM documents
    ), tc AS (
      SELECT doc_id, {_TOK_FP_DUCK} AS fp, CAST(count(*) AS BIGINT) AS c
      FROM ex GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_toks,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(c * c) AS BIGINT) AS sum_sq,
           CAST(sum(c * c) * 1000000 // (sum(c) * sum(c)) AS BIGINT)
             AS coll_ppm
    FROM tc GROUP BY doc_id
"""


@query("ta_renyi_repetition", oracle=TA_RENYI_ORACLE)
def ta_renyi_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Rényi-2 collision probability in ppm (see section
    comment): token explode → fingerprint → (doc, fp) partial count →
    doc-grain aggregate; exact integers throughout."""
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.selectExpr(
            "doc_id", f"explode({_SPARK_TOKS}) AS t"
        )
        .selectExpr("doc_id", f"{_TOK_FP_SPARK} AS fp")
        .groupBy("doc_id", "fp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return tc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_toks"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_sq"),
        F.expr(
            "CAST(sum(c * c) * 1000000 div (sum(c) * sum(c)) AS BIGINT)"
        ).alias("coll_ppm"),
    )


# ---------------------------------------------------------------------------
# ta_dsir_quantized. DSIR-style importance weights (Xie et al. 2023,
# "Data Selection for Language Models via Importance Resampling"):
# score each raw document by how much its hashed-unigram distribution
# looks like the TARGET split's versus the background's. The log
# ratio is QUANTIZED to integer bit-lengths — w(bkt) =
# floor_log2(t_cnt+1) - floor_log2(b_cnt+1), with floor_log2 =
# length(bin(x)) on both engines — so every weight and every per-doc
# sum is exact BIGINT (the declared trade: a log2-granular importance
# scale in exchange for an arithmetic-identity oracle). Scale: the
# bucket LM is a DSIR_BUCKETS-row broadcast no matter the corpus; the
# only fact shuffles are the bucket-count partial agg and the per-doc
# score sum (both map-side combining).
# ---------------------------------------------------------------------------
DSIR_BUCKETS = 1024
DSIR_TARGET_MOD = 97  # doc_id % 97 == 0 -> target split

_DSIR_BASE_SPARK = "cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint)"
_DSIR_BASE_DUCK = (
    "CAST(CAST(concat('0x', substr(md5(t), 1, 8)) AS UBIGINT) AS BIGINT)"
)

TA_DSIR_ORACLE = f"""
    WITH ex AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS t FROM documents
    ), bk AS (
      SELECT doc_id, {_DSIR_BASE_DUCK} % {DSIR_BUCKETS} AS bkt FROM ex
    ), lm AS (
      SELECT bkt,
             CAST(count(*) FILTER
               (WHERE doc_id % {DSIR_TARGET_MOD} = 0) AS BIGINT) AS tc,
             CAST(count(*) FILTER
               (WHERE doc_id % {DSIR_TARGET_MOD} <> 0) AS BIGINT) AS bc
      FROM bk GROUP BY bkt
    ), wt AS (
      SELECT bkt,
             CAST(length(bin(tc + 1)) - length(bin(bc + 1)) AS BIGINT)
               AS w
      FROM lm
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_toks,
           CAST(sum(w) AS BIGINT) AS dsir_q
    FROM bk JOIN wt USING (bkt)
    GROUP BY doc_id
"""


@query("ta_dsir_quantized", oracle=TA_DSIR_ORACLE)
def ta_dsir_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized DSIR importance per document (see section comment):
    hashed-unigram bucket LM (broadcast, DSIR_BUCKETS rows), integer
    bit-length log ratios, one doc-keyed score shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    bk = docs.selectExpr(
        "doc_id", f"explode({_SPARK_TOKS}) AS t"
    ).selectExpr(
        "doc_id", f"{_DSIR_BASE_SPARK} % {DSIR_BUCKETS} AS bkt"
    )
    lm = bk.groupBy("bkt").agg(
        F.sum(
            F.when(F.col("doc_id") % DSIR_TARGET_MOD == 0, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("tc"),
        F.sum(
            F.when(F.col("doc_id") % DSIR_TARGET_MOD != 0, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("bc"),
    )
    wt = lm.selectExpr(
        "bkt",
        "CAST(length(bin(tc + 1)) - length(bin(bc + 1)) AS BIGINT) AS w",
    )
    return (
        bk.join(F.broadcast(wt), "bkt")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_toks"),
            F.sum("w").cast("bigint").alias("dsir_q"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_bbit_minhash. Li & König 2010 ("b-Bit Minwise Hashing"): store
# only the lowest b bits of each MinHash value — a 1/(32/b) memory cut
# for the signature store — and correct the estimator for accidental
# collisions: with match fraction f over n hashes, est J =
# (f - 2^-b)/(1 - 2^-b). Here b = 4 and n = N_HASHES = 16, so the
# corrected estimate collapses to exact integers:
# est_ppm = max(0, (n_bbit - 1) * 1e6 // 15). Candidate pairs come
# from the SAME banded LSH front end as dedup_minhash_lsh (never
# all-pairs); signatures are computed once and reused for both the
# banding and the per-pair match counts via a DISK_ONLY persist (the
# corpus-sized-reuse rule).
# ---------------------------------------------------------------------------
BBIT_B = 4


def _bbit_match_sql(prefix_a: str, prefix_b: str, modexpr: str) -> str:
    """SUM of per-hash match indicators between two signature row
    prefixes — shared text for the Spark and DuckDB sides."""
    from eeecs485_p4_mapreduce_spark.operators.dedup import N_HASHES

    return " + ".join(
        f"(CASE WHEN {prefix_a}h{i}{modexpr} = {prefix_b}h{i}{modexpr}"
        " THEN 1 ELSE 0 END)"
        for i in range(N_HASHES)
    )


def _dedup_bbit_oracle() -> str:
    from eeecs485_p4_mapreduce_spark.operators.dedup import (
        _DUCK_MINHASH_CTES,
    )

    full = _bbit_match_sql("a.", "b.", "")
    bbit = _bbit_match_sql("a.", "b.", f" % {1 << BBIT_B}")
    return f"""
    WITH {_DUCK_MINHASH_CTES}
    SELECT p.doc_a, p.doc_b, CAST(p.n_shared_bands AS BIGINT)
             AS n_shared_bands,
           CAST({full} AS BIGINT) AS n_match_full,
           CAST({bbit} AS BIGINT) AS n_match_bbit,
           CAST(({full}) * 1000000 // 16 AS BIGINT) AS est_full_ppm,
           CAST(greatest(0, (({bbit}) - 1) * 1000000 // 15) AS BIGINT)
             AS est_bbit_ppm
    FROM mh_pairs p
    JOIN hashes a ON a.doc_id = p.doc_a
    JOIN hashes b ON b.doc_id = p.doc_b
    """


DEDUP_BBIT_ORACLE = _dedup_bbit_oracle()


@query("dedup_bbit_minhash", oracle=DEDUP_BBIT_ORACLE)
def dedup_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit MinHash Jaccard estimation over the banded candidate
    pairs (see section comment): one signature build (persisted
    DISK_ONLY for the band + match reuse), bucket-explode pairs,
    per-pair integer match counts and corrected estimates."""
    from eeecs485_p4_mapreduce_spark.operators.dedup import (
        N_HASHES,
        _minhash_signatures,
    )
    from eeecs485_p4_mapreduce_spark.operators.dedup import (
        BAND_ROWS,
        _N_BANDS,
    )

    docs = load_table(spark, sf_dir, "documents")
    hashes = _minhash_signatures(docs).transform(pin_disk)
    band_structs = ", ".join(
        "struct({b} as band_id, concat_ws('-', {cols}) as band_sig)".format(
            b=b,
            cols=", ".join(
                f"h{BAND_ROWS * b + r}" for r in range(BAND_ROWS)
            ),
        )
        for b in range(_N_BANDS)
    )
    bands = hashes.select(
        "doc_id", F.explode(F.expr(f"array({band_structs})")).alias("bs")
    ).select("doc_id", "bs.band_id", "bs.band_sig")
    buckets = (
        bands.groupBy("band_id", "band_sig")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pairs = (
        buckets.select(F.posexplode("ds").alias("i", "doc_a"), "ds")
        .select(
            "doc_a",
            F.explode(F.expr("slice(ds, i + 2, size(ds))")).alias(
                "doc_b"
            ),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_bands"))
    )
    a = hashes.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a_h{i}") for i in range(N_HASHES)],
    )
    b = hashes.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b_h{i}") for i in range(N_HASHES)],
    )
    full = _bbit_match_sql("a_", "b_", "")
    bbit = _bbit_match_sql("a_", "b_", f" % {1 << BBIT_B}")
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "n_shared_bands",
            f"CAST({full} AS BIGINT) AS n_match_full",
            f"CAST({bbit} AS BIGINT) AS n_match_bbit",
            f"CAST(({full}) * 1000000 div 16 AS BIGINT) AS est_full_ppm",
            f"CAST(greatest(0, (({bbit}) - 1) * 1000000 div 15)"
            " AS BIGINT) AS est_bbit_ppm",
        )
    )


# ---------------------------------------------------------------------------
# sim_rp_lsh_cosine. Random-hyperplane LSH for cosine similarity
# (Charikar 2002 SimHash for real vectors): each of RP_PLANES
# md5-derived integer hyperplanes contributes one sign bit
# (sign(dot(v, r_j))), the bits band into RP_BANDS bucket keys, and
# candidate neighbors are vectors sharing >= 1 band with a query —
# the OR-amplified LSH construction, never an all-pairs scan.
# Exactness: vectors are quantized by a POWER-OF-TWO scale
# (floor(x * 2^20) — float32 * 2^20 is exact in double, and floor is
# engine-portable where round/CAST are not), so every dot product and
# sign bit is the same BIGINT on both engines; only the final rerank
# cosine is a double, rounded to 6dp (+0.0 for the -0.0 class) with
# neighbor_id tiebreaks. Scale: plane table is a compile-time
# constant, signatures are map-side, the bucket join moves only
# (band, val, id) rows, and the quadratic work is confined to shared
# buckets — the dedup_minhash_lsh discipline applied to embeddings.
# ---------------------------------------------------------------------------
RP_PLANES = 32
RP_BANDS = 8
RP_BPB = RP_PLANES // RP_BANDS
RP_NQ = 8
RP_TOPK = 5
RP_SCALE = 1 << 20


def _rp_plane(j: int, d: int) -> int:
    import hashlib

    h = hashlib.md5(f"{j}_{d}".encode()).hexdigest()[:4]
    return int(h, 16) % 17 - 8


def _rp_planes(dims: int = 64) -> list:
    return [
        [_rp_plane(j, d) for d in range(dims)] for j in range(RP_PLANES)
    ]


def _rp_bands_spark() -> str:
    """array(band_0, .., band_3) of packed sign bits over the quantized
    vector column ``vq`` (generated Spark SQL)."""
    planes = _rp_planes()
    bits = [
        "(CASE WHEN aggregate(zip_with(vq, array({lits}), (x, y) -> x * y),"
        " 0L, (acc, x) -> acc + x) > 0 THEN 1 ELSE 0 END)".format(
            lits=", ".join(f"{c}L" for c in planes[j])
        )
        for j in range(RP_PLANES)
    ]
    bands = [
        " + ".join(
            f"({bits[RP_BPB * b + r]} * {1 << r})" for r in range(RP_BPB)
        )
        for b in range(RP_BANDS)
    ]
    return "array(" + ", ".join(bands) + ")"


def _sim_rp_oracle() -> str:
    planes = _rp_planes()
    # One UNION ALL branch per plane literal (never a per-row inline
    # matrix — the 16x64 literal re-evaluates per row otherwise).
    bit_branches = "\n      UNION ALL\n".join(
        f"      SELECT vec_id, {j} AS j,"
        " CASE WHEN list_dot_product(vq,"
        f" [{', '.join(str(c) + '.0' for c in planes[j])}]) > 0"
        " THEN 1 ELSE 0 END AS bit"
        "\n      FROM vq"
        for j in range(RP_PLANES)
    )
    return f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), vq AS (
      SELECT vec_id,
             list_transform(v, x -> floor(x * {RP_SCALE})) AS vq
      FROM base
    ), bits AS (
{bit_branches}
    ), bands AS (
      SELECT vec_id, j // {RP_BPB} AS band_id,
             CAST(sum(bit << (j % {RP_BPB})) AS BIGINT) AS band_val
      FROM bits GROUP BY 1, 2
    ), pairs AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM bands q JOIN bands c
        ON q.band_id = c.band_id AND q.band_val = c.band_val
      WHERE q.vec_id < {RP_NQ} AND c.vec_id <> q.vec_id
    ), scored AS (
      SELECT p.query_id, p.neighbor_id,
             round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))), 6) + 0.0 AS cos_r
      FROM pairs p
      JOIN base a ON a.vec_id = p.query_id
      JOIN base b ON b.vec_id = p.neighbor_id
    )
    SELECT query_id,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_r DESC, neighbor_id) AS BIGINT) AS sim_rank,
           neighbor_id, cos_r
    FROM scored
    QUALIFY sim_rank <= {RP_TOPK}
"""


SIM_RP_ORACLE = _sim_rp_oracle()


@query("sim_rp_lsh_cosine", oracle=SIM_RP_ORACLE)
def sim_rp_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH candidate generation + exact cosine
    rerank, top-{RP_TOPK} per query (see section comment). One
    embeddings scan computes quantized signatures map-side; the only
    shuffles are the band-bucket join and the per-query top-k."""
    from eeecs485_p4_mapreduce_spark.operators.similarity import (
        _emb_with_norm,
    )

    emb = _emb_with_norm(spark, sf_dir).selectExpr(
        "vec_id",
        "v",
        "norm",
        f"transform(v, x -> CAST(floor(x * {RP_SCALE}) AS BIGINT)) AS vq",
    )
    sigs = emb.selectExpr(
        "vec_id", "v", "norm", f"{_rp_bands_spark()} AS bands"
    ).select(
        "vec_id",
        "v",
        "norm",
        F.posexplode("bands").alias("band_id", "band_val"),
    )
    probes = sigs.filter(F.col("vec_id") < RP_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        "band_id",
        "band_val",
    )
    cand = (
        sigs.join(
            F.broadcast(probes),
            ["band_id", "band_val"],
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "vec_id AS neighbor_id",
            "round(aggregate(zip_with(qv, v, (x, y) -> x * y), 0.0d,"
            " (acc, x) -> acc + x) / (qnorm * norm), 6) + 0.0d AS cos_r",
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cos_r").alias("cos_r"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_r").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn(
            "sim_rank", F.row_number().over(w).cast("bigint")
        )
        .filter(F.col("sim_rank") <= RP_TOPK)
        .select("query_id", "sim_rank", "neighbor_id", "cos_r")
    )


# ---------------------------------------------------------------------------
# mm_lz4_block_decode. The LZ4 sibling of mm_deflate_*: a closed-form
# payload (first {LZ4_TOKS} tokens, doubled with a ' | ' seam so
# back-references actually occur) is compressed by the hand LZ4 block
# encoder and decoded back by multimodal.lz4_block_decompress — token
# nibbles, 255-extensions, little-endian offsets, overlapping copies.
# The oracle hashes only closed-form-recomputable columns (payload
# length + 48-bit md5); sequence/match counts are encoder facts,
# asserted in pytest, never hashed. Zero-shuffle Arrow mapInPandas.
# ---------------------------------------------------------------------------
LZ4_TOKS = 24

MM_LZ4_ORACLE = f"""
    WITH pay AS (
      SELECT doc_id,
             array_to_string({_DUCK_TOKS}[1:{LZ4_TOKS}], ' ')
               || ' | ' ||
             array_to_string({_DUCK_TOKS}[1:{LZ4_TOKS}], ' ') AS p
      FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(length(p) AS BIGINT) AS raw_bytes,
           CAST(CAST(concat('0x', substr(md5(p), 1, 12)) AS UBIGINT)
                AS BIGINT) AS payload_fp
    FROM pay
"""


@query("mm_lz4_block_decode", oracle=MM_LZ4_ORACLE)
def mm_lz4_block_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip every doc's closed-form payload through the hand LZ4
    block codec (see section comment); the oracle hash proves the
    decoder reproduced the exact bytes."""
    import hashlib

    from pyspark.sql.types import LongType, StructField, StructType

    from eeecs485_p4_mapreduce_spark.catalog import spread_small_source
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        lz4_block_compress,
        lz4_block_decompress,
    )

    docs = spread_small_source(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("raw_bytes", LongType(), False),
            StructField("payload_fp", LongType(), False),
        ]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {k.name: [] for k in schema.fields}
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                toks = _py_toks(text)
                s = " ".join(toks[:LZ4_TOKS])
                try:
                    payload = f"{s} | {s}".encode("ascii")
                except UnicodeEncodeError as exc:
                    raise ValueError(
                        f"doc {d}: non-ASCII text breaks the oracle's"
                        " char/byte identity"
                    ) from exc
                blob = lz4_block_compress(payload)
                dec, info = lz4_block_decompress(blob)
                if dec != payload:
                    raise ValueError(f"doc {d}: lz4 decode != payload")
                out["media_id"].append(int(d))
                out["raw_bytes"].append(len(dec))
                out["payload_fp"].append(
                    int(hashlib.md5(dec).hexdigest()[:12], 16)
                )
            yield pd.DataFrame(out)

    return docs.mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# mm_tiff_strip_decode. DATA-carrying strips through the established
# TIFF codec (multimodal.encode_tiff / parse_tiff_ifds — the same
# pair the registered mm_tiff_ifd walker uses, extended with a
# ``strips`` parameter rather than a second hand-rolled IFD writer):
# each doc becomes a WIDTHxHEIGHT 8-bit grayscale page whose pixels
# cycle the doc's text bytes (payload = text || '#', so empty text
# still yields one cycle byte; non-ASCII text raises loudly — the
# oracle's per-char ascii() arithmetic is a character/byte identity
# only for ASCII, and a silent divergence is worse than an error).
# The oracle recomputes the strip checksum closed-form — full cycles
# of the byte sum plus a prefix remainder — from the same per-char
# relation the Adler oracles use, so the hash proves strip bytes
# were read exactly.
# ---------------------------------------------------------------------------
MM_TIFF_ORACLE = """
    WITH pay AS (
      SELECT doc_id, text || '#' AS p,
             (8 + doc_id % 25) AS w, (6 + doc_id % 17) AS h
      FROM documents
    ), by_char AS MATERIALIZED (
      SELECT doc_id, w, h, length(p) AS len,
             ascii(p[c.i]) AS b, c.i AS i
      FROM pay, LATERAL (SELECT unnest(range(1, length(p) + 1)) AS i) c
    ), sums AS (
      SELECT doc_id, w, h, len,
             sum(b) AS s_all,
             sum(CASE WHEN i <= (w * h) % len THEN b ELSE 0 END) AS s_pre
      FROM by_char GROUP BY doc_id, w, h, len
    )
    SELECT doc_id AS media_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(8 AS BIGINT) AS n_tags,
           CAST((w * h) // len * s_all + s_pre AS BIGINT) AS px_sum
    FROM sums
"""


@query("mm_tiff_strip_decode", oracle=MM_TIFF_ORACLE)
def mm_tiff_strip_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build + hand-decode one grayscale TIFF per doc (see section
    comment); emits only closed-form-recomputable geometry and the
    strip checksum."""
    from pyspark.sql.types import LongType, StructField, StructType

    from eeecs485_p4_mapreduce_spark.catalog import spread_small_source
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_tiff,
        parse_tiff_ifds,
    )

    docs = spread_small_source(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("width", LongType(), False),
            StructField("height", LongType(), False),
            StructField("n_tags", LongType(), False),
            StructField("px_sum", LongType(), False),
        ]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {k.name: [] for k in schema.fields}
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                w = 8 + int(d) % 25
                h = 6 + int(d) % 17
                try:
                    p = (text + "#").encode("ascii")
                except UnicodeEncodeError as exc:
                    raise ValueError(
                        f"doc {d}: non-ASCII text breaks the oracle's"
                        " char/byte identity"
                    ) from exc
                px = bytes(p[i % len(p)] for i in range(w * h))
                blob = encode_tiff([(w, h)], strips=[px])
                r = parse_tiff_ifds(blob)
                out["media_id"].append(int(d))
                out["width"].append(r["width0"])
                out["height"].append(r["height0"])
                out["n_tags"].append(r["n_tags"])
                out["px_sum"].append(r["strip_sum"])
            yield pd.DataFrame(out)

    return docs.mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# mm_riff_webp. RIFF container walk + WebP VP8L header decode: per
# doc, a RIFF/WEBP container holds a header-only VP8L chunk (width =
# 1 + doc_id % 314, height = 1 + length(text) % 200, packed as
# LSB-first 14-bit fields behind the 0x2f signature) and a META chunk
# carrying the doc text (odd text lengths exercise the RIFF pad-byte
# rule). The walker (multimodal.walk_riff_webp) validates container
# geometry end-to-end; every output column is closed-form:
# riff_size = 26 + L + (L % 2).
# ---------------------------------------------------------------------------
MM_RIFF_ORACLE = """
    SELECT doc_id AS media_id,
           CAST(26 + length(text) + length(text) % 2 AS BIGINT)
             AS riff_size,
           CAST(2 AS BIGINT) AS n_chunks,
           CAST(1 + doc_id % 314 AS BIGINT) AS width,
           CAST(1 + length(text) % 200 AS BIGINT) AS height,
           CAST(length(text) AS BIGINT) AS meta_bytes
    FROM documents
"""


@query("mm_riff_webp", oracle=MM_RIFF_ORACLE)
def mm_riff_webp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build + walk one RIFF/WEBP container per doc (see section
    comment); the oracle recomputes every column closed-form from
    doc_id and the text length."""
    from pyspark.sql.types import LongType, StructField, StructType

    from eeecs485_p4_mapreduce_spark.catalog import spread_small_source
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        build_webp_vp8l,
        walk_riff_webp,
    )

    docs = spread_small_source(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("riff_size", LongType(), False),
            StructField("n_chunks", LongType(), False),
            StructField("width", LongType(), False),
            StructField("height", LongType(), False),
            StructField("meta_bytes", LongType(), False),
        ]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {k.name: [] for k in schema.fields}
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                w = 1 + int(d) % 314
                h = 1 + len(text) % 200
                try:
                    meta = text.encode("ascii")
                except UnicodeEncodeError as exc:
                    raise ValueError(
                        f"doc {d}: non-ASCII text breaks the oracle's"
                        " char/byte identity"
                    ) from exc
                blob = build_webp_vp8l(w, h, meta)
                r = walk_riff_webp(blob)
                if (r["width"], r["height"]) != (w, h):
                    raise ValueError(f"doc {d}: VP8L dims mismatch")
                out["media_id"].append(int(d))
                out["riff_size"].append(r["riff_size"])
                out["n_chunks"].append(r["n_chunks"])
                out["width"].append(r["width"])
                out["height"].append(r["height"])
                out["meta_bytes"].append(r["meta_bytes"])
            yield pd.DataFrame(out)

    return docs.mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# mm_parquet_datapage_v2. The DataPageV2 sibling of
# mm_parquet_datapage: the pyarrow spool is written with the MODERN
# parquet path — v2 data pages (levels outside the values section),
# DELTA_BINARY_PACKED doc_id, DELTA_LENGTH_BYTE_ARRAY source, no
# dictionary — and multimodal.decode_parquet_v2_delta reads it back
# byte-by-byte (uleb128 block geometry, zigzag min-deltas,
# per-miniblock bit widths, delta-length string reassembly). Same
# oracle discipline: the natively-readable table plus closed-form
# row-group geometry IS the decoder proof. Same scale shape: one
# bounded Python decode per shard file, shard count grows with the
# corpus.
# ---------------------------------------------------------------------------
PQ2_RG_ROWS = 200
PQ2_FILE_ROWS = 2000

MM_DATAPAGE_V2_ORACLE = f"""
    WITH n AS (
      SELECT greatest(4, CAST(count(*) AS BIGINT) // {PQ2_FILE_ROWS})
             AS n_files
      FROM documents
    ), shards AS (
      SELECT doc_id, source, doc_id % n.n_files AS shard,
             row_number() OVER (PARTITION BY doc_id % n.n_files
                                ORDER BY doc_id) - 1 AS rn
      FROM documents, n
    )
    SELECT doc_id, source,
           CAST(rn // {PQ2_RG_ROWS} AS BIGINT) AS rg_ordinal,
           CAST(count(*) OVER (PARTITION BY shard, rn // {PQ2_RG_ROWS})
                AS BIGINT) AS rg_rows
    FROM shards
"""


def _pq_v2_spool(spark: SparkSession, sf_dir: str) -> str:
    """Sharded DataPageV2/DELTA pyarrow spool (fixture side; the
    engine side is the byte-level decode)."""
    from pathlib import Path

    from eeecs485_p4_mapreduce_spark.catalog import table_path
    from eeecs485_p4_mapreduce_spark.streaming.queries import (
        cached_layout,
    )

    def build(sp: SparkSession, d: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_table(
            table_path(sf_dir, "documents"), columns=["doc_id", "source"]
        )
        n_files = max(4, t.num_rows // PQ2_FILE_ROWS)
        shard = pa.array(t.column("doc_id").to_numpy() % n_files)
        schema = pa.schema(
            [
                pa.field("doc_id", pa.int64(), nullable=False),
                pa.field("source", pa.string(), nullable=False),
            ]
        )
        for s in range(n_files):
            part = t.filter(pa.compute.equal(shard, s)).sort_by("doc_id")
            part = part.cast(schema)
            pq.write_table(
                part,
                str(Path(d) / f"shard-{s:05d}.parquet"),
                compression="NONE",
                use_dictionary=False,
                column_encoding={
                    "doc_id": "DELTA_BINARY_PACKED",
                    "source": "DELTA_LENGTH_BYTE_ARRAY",
                },
                data_page_version="2.0",
                row_group_size=PQ2_RG_ROWS,
                data_page_size=512,
            )

    return cached_layout(spark, sf_dir, "pq_datapage_v2", build)


@query("mm_parquet_datapage_v2", oracle=MM_DATAPAGE_V2_ORACLE)
def mm_parquet_datapage_v2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Decode every (doc_id, source) row out of DataPageV2/DELTA
    parquet bytes with no parquet reader library (see section
    comment); hash match against the natively-read table is the
    decoder proof."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_parquet_v2_delta,
    )

    spool = _pq_v2_spool(spark, sf_dir)
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("source", StringType(), False),
            StructField("rg_ordinal", LongType(), False),
            StructField("rg_rows", LongType(), False),
        ]
    )
    files = (
        spark.read.format("binaryFile")
        .load(spool + "/shard-*.parquet")
        .select("path", "content")
    )
    width = spark.sparkContext.defaultParallelism

    def run(batches):
        import pandas as pd

        for pdf in batches:
            for blob in pdf["content"]:
                rows = decode_parquet_v2_delta(
                    bytes(blob), "doc_id", "source"
                )
                yield pd.DataFrame(
                    {
                        "doc_id": [r["doc_id"] for r in rows],
                        "source": [r["source"] for r in rows],
                        "rg_ordinal": [
                            int(r["rg_ordinal"]) for r in rows
                        ],
                        "rg_rows": [int(r["rg_rows"]) for r in rows],
                    }
                )

    return files.repartition(width, "path").mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# stream_semantic_dedup. Cross-collector duplicate elimination: two
# at-least-once pipelines emit the SAME logical event under DIFFERENT
# event_ids, so id-dedup (stream_dedup_replay) cannot catch it — the
# dedup key must be the semantic identity (user_id, event_type, ts).
# The spool stages the base events over three arrival slices and then
# a FOURTH slice of injected duplicates (every event_id % 5 == 0,
# re-keyed +10^7), so the duplicates arrive strictly after their
# originals and only cross-batch dropDuplicatesWithinWatermark state
# can eliminate them. The watermark delay exceeds the corpus's time
# span, so state never expires and the emitted multiset is EXACTLY
# the distinct semantic events — which is the DuckDB oracle. Output
# is per-event_type emitted counts (survivor event_ids depend on
# arrival order, so they are asserted distinct in pytest, never
# hashed).
# ---------------------------------------------------------------------------
STREAM_SEMDEDUP_ORACLE = """
    SELECT event_type,
           CAST(count(DISTINCT (user_id, ts)) AS BIGINT) AS n_events
    FROM events
    GROUP BY event_type
"""


@query("stream_semantic_dedup", oracle=STREAM_SEMDEDUP_ORACLE)
def stream_semantic_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming semantic dedup across re-keyed duplicates (see
    section comment): availableNow file stream, 4 arrival slices,
    dropDuplicatesWithinWatermark on (user_id, event_type, ts)."""
    import tempfile
    from pathlib import Path

    from eeecs485_p4_mapreduce_spark.streaming.queries import (
        cached_layout,
    )

    def build(sp: SparkSession, d: str) -> None:
        ev = load_table(sp, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "ts"
        )
        for sl in range(3):
            (
                ev.filter(F.col("event_id") % 3 == sl)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(str(Path(d) / f"slice-{sl:03d}.parquet"))
            )
        (
            ev.filter(F.col("event_id") % 5 == 0)
            .withColumn(
                "event_id", F.col("event_id") + F.lit(10_000_000)
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(Path(d) / "slice-900-dupes.parquet"))
        )

    spool = cached_layout(spark, sf_dir, "semdedup_slices", build)
    static = read_parquet_cached(spark, spool + "/*.parquet")
    acc: dict = {"counts": None}

    def fold(batch_df, batch_id: int) -> None:
        part = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events")
        )
        merged = (
            part
            if acc["counts"] is None
            else acc["counts"]
            .unionByName(part)
            .groupBy("event_type")
            .agg(F.sum("n_events").cast("bigint").alias("n_events"))
        )
        # event_type-grain state (<= a handful of rows); the pin keeps
        # lineage O(1) across batches (the CC-loop rule, SCALE.md)
        acc["counts"] = merged.localCheckpoint()

    ckpt = tempfile.mkdtemp(prefix="p4spark_semdedup_ckpt_")
    try:
        q = (
            spark.readStream.schema(static.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(spool + "/*.parquet")
            .withWatermark("ts", "3650 days")
            .dropDuplicatesWithinWatermark(
                ["user_id", "event_type", "ts"]
            )
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)
    out = acc["counts"]
    if out is None:
        raise ValueError("semantic-dedup stream produced no batches")
    return out.select("event_type", "n_events")


# ---------------------------------------------------------------------------
# q134_mann_whitney. Exact Mann-Whitney U (Wilcoxon rank-sum) between
# the returned / non-returned quantity distributions — the rank-based
# complement to q133's KS distance. Ties use midranks; doubling every
# rank keeps the arithmetic integer: for value v with cum_before
# items below it and t_v total items at it, 2*midrank(v) =
# 2*cum_before + t_v + 1, so 2*R_A = sum ca_v * (2*cum_before + t_v
# + 1) and 2*U_A = 2*R_A - na*(na+1) are exact BIGINTs; the
# common-language effect size (P(A > B) + P(A = B)/2, the AUC) is
# u2_a / (2*na*nb) reported as a 6dp-rounded DOUBLE (like q133's
# d_r, a deliberate non-integer): rank-sums scale as n^2, so the ppm integer
# form (u2 * 1e6) overflows BIGINT near n ~ 3M rows (caught by the
# x100 probe), while the double ratio is exact to ~1e-16 relative at
# any scale. Same scale shape as q133: one value-grain partial count
# is the only fact shuffle.
# ---------------------------------------------------------------------------
Q134_MW_ORACLE = """
    WITH vals AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS v,
             CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT)
               AS ca,
             CAST(count(*) FILTER (WHERE l_returnflag <> 'R') AS BIGINT)
               AS cb
      FROM lineitem GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      FROM vals
    ), ranked AS (
      SELECT v, ca, cb,
             coalesce(sum(ca + cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS below
      FROM vals
    )
    SELECT na, nb,
           CAST(sum(ca * (2 * below + (ca + cb) + 1))
                - na * (na + 1) AS BIGINT) AS u2_a,
           CAST(2 * na * nb
                - (sum(ca * (2 * below + (ca + cb) + 1))
                   - na * (na + 1)) AS BIGINT) AS u2_b,
           round(CAST(sum(ca * (2 * below + (ca + cb) + 1))
                      - na * (na + 1) AS DOUBLE)
                 / (2.0 * na * nb), 6) + 0.0 AS auc_r
    FROM ranked, tot
    GROUP BY na, nb
"""


@query("q134_mann_whitney", oracle=Q134_MW_ORACLE)
def q134_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney U with midrank tie handling (see section
    comment): value-grain counts, doubled-rank integer arithmetic,
    AUC effect size as a 6dp-rounded double (the ppm integer form
    overflows BIGINT at the x100 probe scale — measured)."""
    li = load_table(spark, sf_dir, "lineitem")
    vals = (
        li.selectExpr(
            "cast(round(l_quantity) as bigint) AS v",
            "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS isa",
        )
        .groupBy("v")
        .agg(
            F.sum("isa").cast("bigint").alias("ca"),
            (F.count(F.lit(1)) - F.sum("isa"))
            .cast("bigint")
            .alias("cb"),
        )
    )
    tot = vals.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    w_below = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = vals.select(
        "v",
        "ca",
        "cb",
        F.coalesce(
            F.sum(F.col("ca") + F.col("cb")).over(w_below), F.lit(0)
        ).alias("below"),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(
            F.expr(
                "CAST(sum(ca * (2 * below + (ca + cb) + 1))"
                " - na * (na + 1) AS BIGINT)"
            ).alias("u2_a"),
            F.expr(
                "CAST(2 * na * nb - (sum(ca * (2 * below + (ca + cb)"
                " + 1)) - na * (na + 1)) AS BIGINT)"
            ).alias("u2_b"),
            F.expr(
                "round(CAST(sum(ca * (2 * below + (ca + cb) + 1))"
                " - na * (na + 1) AS DOUBLE) / (2.0d * na * nb), 6)"
                " + 0.0d"
            ).alias("auc_r"),
        )
    )


# ---------------------------------------------------------------------------
# q135_ewma_spikes. EWMA (single exponential smoothing, alpha = 1/5)
# anomaly detection over the daily revenue series: l_t =
# (y_t + 4*l_{t-1}) // 5 with l_0 = y_0 — every state NONNEGATIVE, so
# Spark's truncating `div` and DuckDB's flooring `//` agree (the sign
# caveat that rules out signed-trend recurrences like Holt's beta
# term in exact arithmetic). A day is a spike when y_t * 2 >
# 3 * l_{t-1} (50% above the smoothed level, cross-multiplied — no
# division). The engine folds the recurrence with one aggregate()
# over the sorted day array (calendar-bounded, ~2.5k structs in one
# row); the oracle is a recursive CTE — genuinely different
# evaluation strategies agreeing on every integer is the check.
# ---------------------------------------------------------------------------
Q135_EWMA_ORACLE = """
    WITH RECURSIVE daily AS (
      SELECT CAST(epoch(CAST(l_shipdate AS TIMESTAMP)) // 86400
               AS BIGINT) AS day,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM lineitem GROUP BY 1
    ), seq AS (
      SELECT row_number() OVER (ORDER BY day) AS t, day, y FROM daily
    ), rec AS (
      SELECT t, day, y, y AS l, CAST(0 AS BIGINT) AS prev_l
      FROM seq WHERE t = 1
      UNION ALL
      SELECT s.t, s.day, s.y, (s.y + 4 * r.l) // 5 AS l,
             r.l AS prev_l
      FROM seq s JOIN rec r ON s.t = r.t + 1
    )
    SELECT day, y, CAST(l AS BIGINT) AS ewma,
           CAST(prev_l AS BIGINT) AS ewma_prev,
           CAST(t > 1 AND y * 2 > 3 * prev_l AS INT) AS is_spike
    FROM rec
"""


@query("q135_ewma_spikes", oracle=Q135_EWMA_ORACLE)
def q135_ewma_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA spike detection over daily revenue (see section comment):
    day-grain reduction, one array fold for the recurrence, exact
    integers end to end."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.selectExpr(
            "unix_micros(cast(l_shipdate as timestamp))"
            " div 86400000000 AS day",
            "cast(round(l_extendedprice * 100) as bigint) AS cents",
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("y"))
    )
    # One row: the sorted (day, y) array; the fold carries (prev_l,
    # emitted rows) and replays l_t = (y + 4*l)/5 in order.
    fold = """
      aggregate(
        array_sort(collect_list(struct(day, y))),
        named_struct(
          'l', cast(-1 as bigint),
          'rows', cast(array() as
            array<struct<day:bigint, y:bigint, ewma:bigint,
                         ewma_prev:bigint, is_spike:int>>)),
        (acc, e) -> named_struct(
          'l', IF(acc.l < 0, e.y, (e.y + 4 * acc.l) div 5),
          'rows', array_append(acc.rows, named_struct(
            'day', e.day, 'y', e.y,
            'ewma', IF(acc.l < 0, e.y, (e.y + 4 * acc.l) div 5),
            'ewma_prev', IF(acc.l < 0, cast(0 as bigint), acc.l),
            'is_spike', IF(acc.l >= 0 AND e.y * 2 > 3 * acc.l, 1, 0)))),
        acc -> acc.rows
      )
    """
    return daily.agg(
        F.expr(fold).alias("rows")
    ).selectExpr("inline(rows)")
