"""REGISTERED batch (promoted via ``registry.load_all``; first driver
rows expected in CORRECTNESS_r08 — it was staged one judged round
earlier under the staging discipline below).

Staging discipline shared with operators/staged_r9–r11: built, pytest
hash-checked against DuckDB (tests/test_staged_r12.py), plan-gate
compliant, and x10-probed BEFORE registration. Same contract as every
registered query: identical aliases both sides, round()-ed or
integer-exact outputs, no nullable hash-bearing columns.

Staged surface:

- ``q90_ks_distance`` — two-sample Kolmogorov–Smirnov distance between
  every pair of event types' value distributions, ppm-quantized: both
  ECDFs are floored to ppm on the shared value support BEFORE the sup,
  so the statistic is pure BIGINT (the quantization is the metric's
  definition here, not a rounding afterthought — exact cum1·n2 cross
  products overflow int64 at corpus scale).
- ``q91_spend_gini`` — the Gini coefficient of customer order spend
  per market segment (the Lorenz-curve inequality audit), from the
  ppm-quantized Lorenz trapezoid: G = 1 − Σ(L_{i−1}+L_i)/n with
  ordinates L_i floored to ppm — identical to the rank formula up to
  the quantization, and every intermediate stays ≤ Σy·1000 (the
  rank-formula version's n·Σy denominator overflowed int64 live in the
  x10 probe).
- ``q92_business_days`` — order-to-ship lead time in BUSINESS days per
  priority: a closed-form weekday-count formula over epoch days (no
  calendar table, no iteration), pinned against Python's datetime in
  pytest because both engines share the formula.
- ``q93_benford_digits`` — Benford first-digit audit of order totals:
  observed leading-digit shares vs the log10(1+1/d) expectation, both
  in ppm with the expectations precomputed as shared integer literals
  (the same no-engine-logs trick as ta_ndcg_eval's discounts).
- ``curate_filter_funnel`` — the filter-funnel audit every corpus
  pipeline publishes: four quality rules applied in sequence (length
  band, language allowlist, mean-word-length band, exact-dup survivor)
  with per-stage in/out counts and removal ppm — one corpus scan, one
  fingerprint aggregation.
- ``dedup_cross_source`` — the cross-source duplication matrix: which
  source domains share near-duplicate documents, from the SAME MinHash
  banding front end as dedup_minhash_lsh (operators/dedup
  .minhash_candidate_pairs), aggregated to unordered source pairs.
- ``sim_norm_quantiles`` — embedding-norm distribution per label
  (min / max / exact histogram median of milli-norms): the norm-
  collapse diagnostic run before trusting any cosine index; reuses the
  shared exact-median2x histogram fold.
- ``stream_gap_filled_rate`` — streaming hourly event rate with GAP
  FILLING: foreachBatch merges per-hour counts into a snapshot (the
  shared mergeable-snapshot scaffold) and finalization explodes the
  full hour range so silent empty hours emit 0 — absence of data is
  data, which a naive groupBy cannot say.
- ``mm_webp_headers`` — REAL WebP/VP8L header walk: RIFF framing with
  the unpadded-size rule plus the little-endian sub-byte bitstream
  (14-bit width/height fields) that struct unpacking alone cannot
  read.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eeecs485_p4_mapreduce_spark.catalog import load_table
from eeecs485_p4_mapreduce_spark.registry import query

# ---------------------------------------------------------------------------
# q90: pairwise two-sample KS in ppm. For each of the C(5,2) = 10
# event-type pairs, D = sup over the shared value support of
# |floor(cumA·1e6/nA) − floor(cumB·1e6/nB)|. The ECDF cumsums run per
# TYPE over the distinct-cents support (an aggregate of the facts, so
# the per-type window is support-sized, never event-sized); the pair
# comparison is then a self-join of the 5-type ECDF table. Ties on the
# sup break toward the smallest cents value. 100 TB shape: one
# (type, cents) aggregation, one support-sized window per type, one
# broadcast-sized pair reduction (production would coarsen cents into
# buckets to cap the support, which only refines the quantization).
# ---------------------------------------------------------------------------
Q90_ORACLE = """
    WITH c AS (
      SELECT event_type AS t, CAST(round(value * 100, 0) AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), sup AS (SELECT DISTINCT v FROM c),
    grid AS (
      SELECT t.t, s.v, coalesce(c.cnt, 0) AS cnt
      FROM (SELECT DISTINCT t FROM c) t CROSS JOIN sup s
      LEFT JOIN c ON c.t = t.t AND c.v = s.v
    ), ecdf AS (
      SELECT t, v,
             (sum(cnt) OVER (PARTITION BY t ORDER BY v) * 1000000)
               // (sum(cnt) OVER (PARTITION BY t)) AS e_ppm
      FROM grid
    ), pairs AS (
      SELECT a.t AS type_a, b.t AS type_b, a.v,
             abs(a.e_ppm - b.e_ppm) AS d
      FROM ecdf a JOIN ecdf b ON a.v = b.v AND a.t < b.t
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY type_a, type_b
                                   ORDER BY d DESC, v) AS rk
      FROM pairs
    )
    SELECT type_a, type_b,
           CAST(d AS BIGINT) AS ks_ppm,
           CAST(v AS BIGINT) AS at_cents
    FROM ranked WHERE rk = 1
"""


@query("q90_ks_distance", oracle=Q90_ORACLE)
def q90_ks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ppm-quantized two-sample KS distance for every event-type pair
    (see section comment)."""
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    # value-domain histogram; feeds the support grid, the type list,
    # and the densify join — pin it so the events aggregation runs once
    c = events.groupBy(
        F.col("event_type").alias("t"),
        F.expr("cast(round(value * 100, 0) as bigint)").alias("v"),
    ).agg(F.count(F.lit(1)).alias("cnt")).localCheckpoint(eager=False)
    sup = c.select("v").distinct()
    types = c.select("t").distinct()
    grid = (
        types.crossJoin(sup)
        .join(c, ["t", "v"], "left")
        .select("t", "v", F.coalesce("cnt", F.lit(0)).alias("cnt"))
    )
    # exact integer div, not float-divide-then-cast: the cum products
    # must floor identically to DuckDB's // at any magnitude
    ecdf = grid.withColumn(
        "e_ppm",
        F.expr(
            "(sum(cnt) over (partition by t order by v) * 1000000)"
            " div (sum(cnt) over (partition by t))"
        ),
    ).localCheckpoint(eager=False)  # grid-sized; feeds BOTH sides of the pair join
    a = ecdf.select(
        F.col("t").alias("type_a"), "v", F.col("e_ppm").alias("ea")
    )
    b = ecdf.select(
        F.col("t").alias("type_b"),
        F.col("v").alias("vb"),
        F.col("e_ppm").alias("eb"),
    )
    pairs = a.join(
        b, (a["v"] == b["vb"]) & (a["type_a"] < b["type_b"])
    ).select(
        "type_a", "type_b", "v", F.abs(F.col("ea") - F.col("eb")).alias("d")
    )
    w_rk = Window.partitionBy("type_a", "type_b").orderBy(
        F.col("d").desc(), F.col("v")
    )
    return (
        pairs.withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") == 1)
        .select(
            "type_a",
            "type_b",
            F.col("d").alias("ks_ppm"),
            F.col("v").alias("at_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q91: Gini of customer order spend per market segment. Per-customer
# spend collapses first (the fact table never reaches a window); each
# customer then gets a ppm-quantized Lorenz ordinate L_i =
# floor(cum_spend·1e6 / Σspend) (split-multiply) on the (spend ASC,
# custkey) ordering, and G_ppm = 1e6 − (2·ΣL − L_n) div n — the
# trapezoid area identity, equal to the classic rank formula up to the
# ppm floor. Chosen over the rank formula because the latter's n·Σy
# denominator is quadratic in corpus size and overflowed int64 LIVE in
# the x10 replica probe; here every intermediate is ≤ Σy·1000
# (ceiling: segment spend ≤ 9.2e15 cents) or ≤ n·1e6. Customers
# without orders are excluded (spend is undefined, not zero, for them
# — disclosed).
# ---------------------------------------------------------------------------
Q91_ORACLE = """
    WITH per_cust AS (
      SELECT c.c_custkey, c.c_mktsegment AS segment,
             CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS spend
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ), lorenz AS (
      SELECT segment,
             ((sum(spend) OVER w * 1000) // (sum(spend) OVER p)) * 1000
             + (((sum(spend) OVER w * 1000) % (sum(spend) OVER p))
                * 1000) // (sum(spend) OVER p) AS l_ppm
      FROM per_cust
      WINDOW w AS (PARTITION BY segment ORDER BY spend, c_custkey),
             p AS (PARTITION BY segment)
    ), folded AS (
      SELECT segment,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(l_ppm) AS BIGINT) AS sl,
             CAST(max(l_ppm) AS BIGINT) AS l_n
      FROM lorenz GROUP BY segment
    )
    SELECT segment, n AS n_customers,
           CAST(1000000 - (2 * sl - l_n) // n AS BIGINT) AS gini_ppm
    FROM folded
"""


@query("q91_spend_gini", oracle=Q91_ORACLE)
def q91_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment Gini of customer spend from the ppm-quantized Lorenz
    trapezoid (see section comment)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        orders.join(
            cust, orders["o_custkey"] == cust["c_custkey"]
        )
        .groupBy("c_custkey", F.col("c_mktsegment").alias("segment"))
        .agg(
            F.sum(
                F.expr("cast(round(o_totalprice * 100, 0) as bigint)")
            ).alias("spend")
        )
    )
    # split-multiply ppm of the Lorenz ordinate: cum*1e6 overflows once
    # a segment's total clears ~9e12 cents (caught live by the x10
    # probe in the rank-formula version, whose n*Σy denominator is
    # quadratic in corpus size — the Lorenz form keeps every
    # intermediate <= Σy*1000)
    lorenz = per_cust.select(
        "segment",
        F.expr(
            "((sum(spend) over (partition by segment order by spend,"
            " c_custkey rows between unbounded preceding and current row)"
            " * 1000) div (sum(spend) over (partition by segment))) * 1000"
            " + (((sum(spend) over (partition by segment order by spend,"
            " c_custkey rows between unbounded preceding and current row)"
            " * 1000) % (sum(spend) over (partition by segment))) * 1000)"
            " div (sum(spend) over (partition by segment))"
        ).alias("l_ppm"),
    )
    return (
        lorenz.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_ppm").alias("sl"),
            F.max("l_ppm").alias("l_n"),
        )
        .selectExpr(
            "segment",
            "n AS n_customers",
            "1000000 - (2 * sl - l_n) div n AS gini_ppm",
        )
    )


# ---------------------------------------------------------------------------
# q92: business-day lead time. The weekday count in the half-open date
# span [order, ship) has a closed form over epoch days (1970-01-01 was
# a Thursday, so Monday-index(D) = (D + 3) % 7): with
# g(x) = 5·((x+3) div 7) + least((x+3) % 7, 5), the business days
# between a and b are g(b) − g(a). No calendar table, no per-day
# explode — two g() evaluations per row, map-side. The formula is
# pinned against Python's datetime.weekday() in pytest (the oracle
# shares the formula, so the fixture is the real semantic proof).
# ---------------------------------------------------------------------------
_Q92_G = "(5 * (({x} + 3) // 7) + least(({x} + 3) % 7, 5))"
_Q92_G_SPARK = "(5 * (({x} + 3) div 7) + least(({x} + 3) % 7, 5))"

Q92_ORACLE = f"""
    WITH spans AS (
      SELECT o.o_orderpriority AS priority,
             {_Q92_G.format(x="(CAST(l.l_shipdate AS DATE) - DATE '1970-01-01')")}
             - {_Q92_G.format(x="(CAST(o.o_orderdate AS DATE) - DATE '1970-01-01')")}
               AS bdays
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(bdays) AS BIGINT) AS sum_bdays,
           CAST((sum(bdays) * 1000) // count(*) AS BIGINT) AS avg_bdays_e3,
           CAST(max(bdays) AS BIGINT) AS max_bdays
    FROM spans GROUP BY priority
"""


@query("q92_business_days", oracle=Q92_ORACLE)
def q92_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form business-day order-to-ship lead time per priority
    (see section comment)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    g_ship = _Q92_G_SPARK.format(x="datediff(l_shipdate, date'1970-01-01')")
    g_order = _Q92_G_SPARK.format(
        x="datediff(o_orderdate, date'1970-01-01')"
    )
    spans = lineitem.join(
        orders, lineitem["l_orderkey"] == orders["o_orderkey"]
    ).selectExpr(
        "o_orderpriority AS priority", f"{g_ship} - {g_order} AS bdays"
    )
    return spans.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("bdays").alias("sum_bdays"),
        F.expr("(sum(bdays) * 1000) div count(*)").alias("avg_bdays_e3"),
        F.max("bdays").alias("max_bdays"),
    )


# ---------------------------------------------------------------------------
# q93: Benford first-digit audit. The leading digit of each positive
# order total (in cents — scale-invariant, as Benford requires) is
# taken from the decimal string (identical semantics in both engines,
# no float log); expected shares are the log10(1 + 1/d) constants
# precomputed ONCE in Python as ppm literals. Output: per digit, the
# observed count/share and the absolute deviation from Benford.
# ---------------------------------------------------------------------------
BENFORD_PPM = tuple(
    int(round(math.log10(1 + 1 / d) * 1_000_000)) for d in range(1, 10)
)

Q93_ORACLE = f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders
      WHERE o_totalprice > 0
    ), counts AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY 1
    ), tot AS (SELECT sum(n) AS total FROM counts),
    expect(digit, exp_ppm) AS (
      VALUES {", ".join(f"({d + 1}, {p})" for d, p in enumerate(BENFORD_PPM))}
    )
    SELECT e.digit, coalesce(c.n, 0) AS n_orders,
           CAST((coalesce(c.n, 0) * 1000000) // total AS BIGINT)
             AS obs_ppm,
           CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
           CAST(abs((coalesce(c.n, 0) * 1000000) // total - e.exp_ppm)
                AS BIGINT) AS dev_ppm
    FROM expect e LEFT JOIN counts c ON c.digit = e.digit, tot
"""


@query("q93_benford_digits", oracle=Q93_ORACLE)
def q93_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law leading-digit audit of order totals (see section
    comment)."""
    orders = load_table(spark, sf_dir, "orders")
    counts = (
        orders.filter(F.col("o_totalprice") > 0)
        .select(
            F.expr(
                "cast(substring(cast(cast(round(o_totalprice * 100, 0)"
                " as bigint) as string), 1, 1) as bigint)"
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("total"))
    expect = spark.createDataFrame(
        [(d + 1, p) for d, p in enumerate(BENFORD_PPM)],
        "digit long, exp_ppm long",
    )
    return (
        expect.join(counts, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "digit",
            "coalesce(n, 0L) AS n_orders",
            "(coalesce(n, 0L) * 1000000) div total AS obs_ppm",
            "exp_ppm",
            "abs((coalesce(n, 0L) * 1000000) div total - exp_ppm)"
            " AS dev_ppm",
        )
    )


# ---------------------------------------------------------------------------
# curate_filter_funnel: the per-stage survival audit. Four rules run
# in pipeline order — R1 length band (50 <= n_chars <= 5000), R2
# language allowlist (en/zh/de), R3 mean word length band (2.00-12.00,
# integer-scaled x100), R4 exact-dup survivor (min doc_id per md5 of
# text AMONG the docs that passed R1-R3, matching real pipelines that
# dedup after cheap filters). One corpus scan computes the cumulative
# rule flags; stage 4 adds one fingerprint aggregation. Output: per
# stage, docs in, docs out, removal ppm.
# ---------------------------------------------------------------------------
FUNNEL_STAGES = ("length_band", "lang_allowlist", "mean_word_len",
                 "exact_dedup")

_FUNNEL_FLAGS_SQL = """
  CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 1 ELSE 0 END AS r1,
  CASE WHEN lang IN ('en', 'zh', 'de') THEN 1 ELSE 0 END AS r2,
  CASE WHEN len(replace(text, ' ', '')) * 100
            BETWEEN 200 * len(list_filter(string_split(text, ' '),
                                          x -> x <> ''))
            AND 1200 * len(list_filter(string_split(text, ' '),
                                       x -> x <> ''))
       THEN 1 ELSE 0 END AS r3
"""

_FUNNEL_FLAGS_SPARK = """
  CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 1 ELSE 0 END AS r1,
  CASE WHEN lang IN ('en', 'zh', 'de') THEN 1 ELSE 0 END AS r2,
  CASE WHEN length(replace(text, ' ', '')) * 100
            BETWEEN 200 * size(filter(split(text, ' '), x -> x != ''))
            AND 1200 * size(filter(split(text, ' '), x -> x != ''))
       THEN 1 ELSE 0 END AS r3
"""

CURATE_FUNNEL_ORACLE = f"""
    WITH flags AS (
      SELECT doc_id, md5(text) AS fp, {_FUNNEL_FLAGS_SQL}
      FROM documents
    ), staged AS (
      SELECT doc_id, fp, r1, r1 * r2 AS s2, r1 * r2 * r3 AS s3
      FROM flags
    ), dedup AS (
      SELECT CAST(count(DISTINCT fp) AS BIGINT) AS n4
      FROM staged WHERE s3 = 1
    ), counts AS (
      SELECT CAST(count(*) AS BIGINT) AS n0,
             CAST(sum(r1) AS BIGINT) AS n1,
             CAST(sum(s2) AS BIGINT) AS n2,
             CAST(sum(s3) AS BIGINT) AS n3
      FROM staged
    )
    SELECT stage, stage_name, n_in, n_out,
           CAST(((n_in - n_out) * 1000000) // greatest(n_in, 1) AS BIGINT)
             AS removed_ppm
    FROM (
      SELECT 1 AS stage, 'length_band' AS stage_name, n0 AS n_in,
             n1 AS n_out FROM counts
      UNION ALL
      SELECT 2, 'lang_allowlist', n1, n2 FROM counts
      UNION ALL
      SELECT 3, 'mean_word_len', n2, n3 FROM counts
      UNION ALL
      SELECT 4, 'exact_dedup', n3, n4 FROM counts, dedup
    )
"""


@query("curate_filter_funnel", oracle=CURATE_FUNNEL_ORACLE)
def curate_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage survivor counts for the 4-rule quality funnel (see
    section comment)."""
    docs = load_table(spark, sf_dir, "documents")
    flags = docs.selectExpr(
        "doc_id", "md5(text) AS fp", *[
            s.strip() for s in _FUNNEL_FLAGS_SPARK.split(",\n")
        ]
    )
    staged = flags.selectExpr(
        "doc_id", "fp", "r1", "r1 * r2 AS s2", "r1 * r2 * r3 AS s3"
    )
    # ONE pass over the corpus: the survivor counts and the distinct-
    # fingerprint count fold into a single aggregation (a CASE inside
    # countDistinct drops non-survivors), and the 1-row result is
    # checkpointed so the 4-branch union below cannot re-derive the
    # whole doc-wide subtree once per stage (the old shape re-scanned
    # documents 8 times).
    wide = staged.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum("r1").alias("n1"),
        F.sum("s2").alias("n2"),
        F.sum("s3").alias("n3"),
        F.countDistinct(
            F.expr("case when s3 = 1 then fp end")
        ).alias("n4"),
    ).localCheckpoint(eager=False)
    stages = []
    for idx, (name, col_in, col_out) in enumerate(
        [("length_band", "n0", "n1"), ("lang_allowlist", "n1", "n2"),
         ("mean_word_len", "n2", "n3"), ("exact_dedup", "n3", "n4")],
        start=1,
    ):
        stages.append(
            wide.selectExpr(
                f"{idx}L AS stage",
                f"'{name}' AS stage_name",
                f"{col_in} AS n_in",
                f"{col_out} AS n_out",
                f"(({col_in} - {col_out}) * 1000000)"
                f" div greatest({col_in}, 1L) AS removed_ppm",
            )
        )
    out = stages[0]
    for s in stages[1:]:
        out = out.unionByName(s)
    return out


# ---------------------------------------------------------------------------
# dedup_cross_source: which source domains duplicate each other. The
# candidate pairs come from the SAME production MinHash banding front
# end as dedup_minhash_lsh (no second implementation to drift), joined
# to each side's source and folded to unordered source pairs — the
# matrix a crawl operator reads to find mirror sites and syndication.
# 100 TB shape: banding's bucket-keyed shuffle dominates; the source
# join is a broadcast of the (doc_id, source) projection at test scale
# and a keyed join at corpus scale.
# ---------------------------------------------------------------------------
def _dedup_cross_source_oracle() -> str:
    from eeecs485_p4_mapreduce_spark.operators.dedup import (
        _DUCK_MINHASH_CTES,
    )

    return f"""
    WITH {_DUCK_MINHASH_CTES},
    srcs AS (
      SELECT p.doc_a, p.doc_b, p.n_shared_bands,
             least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b
      FROM mh_pairs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b
    )
    SELECT source_a, source_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN n_shared_bands >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_strong,
           CAST(min(doc_a) AS BIGINT) AS example_doc
    FROM srcs GROUP BY 1, 2
    """


@query("dedup_cross_source", oracle=_dedup_cross_source_oracle())
def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pair counts per unordered source pair, from the
    production MinHash banding (see section comment)."""
    from eeecs485_p4_mapreduce_spark.operators.dedup import (
        minhash_candidate_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    pairs = minhash_candidate_pairs(spark, sf_dir)
    sa = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
    )
    sb = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            "n_shared_bands",
            "doc_a",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.when(F.col("n_shared_bands") >= 2, 1).otherwise(0)
            ).cast("long").alias("n_strong"),
            F.min("doc_a").alias("example_doc"),
        )
    )


# ---------------------------------------------------------------------------
# sim_norm_quantiles: embedding-norm distribution per label — the
# norm-collapse / outlier diagnostic run before trusting any cosine or
# dot-product index. Norms quantize to milli-units per ROW (one sqrt
# on identical doubles in both engines, then round — deterministic),
# so min/max/median are pure integer folds; the exact median comes
# from the shared histogram-median helper (staged_r7._exact_median2x).
# ---------------------------------------------------------------------------
SIM_NORMQ_ORACLE = """
    WITH norms AS (
      SELECT label,
             CAST(round(sqrt(list_dot_product(embedding::DOUBLE[],
                                              embedding::DOUBLE[]))
                        * 1000, 0) AS BIGINT) AS norm_e3
      FROM embeddings
    ), med AS (
      SELECT label,
             CAST(round(2 * quantile_cont(norm_e3, 0.5), 0) AS BIGINT)
               AS med2x
      FROM norms GROUP BY label
    )
    SELECT n.label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(min(n.norm_e3) AS BIGINT) AS min_norm_e3,
           CAST(max(n.norm_e3) AS BIGINT) AS max_norm_e3,
           CAST(max(m.med2x) AS BIGINT) AS median2x_e3
    FROM norms n JOIN med m USING (label)
    GROUP BY n.label
"""


@query("sim_norm_quantiles", oracle=SIM_NORMQ_ORACLE)
def sim_norm_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-norm census with the exact histogram median
    (see section comment)."""
    from eeecs485_p4_mapreduce_spark.operators.staged_r7 import (
        _exact_median2x,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "label",
        F.expr(
            "cast(round(sqrt(aggregate(zip_with(transform(embedding,"
            " x -> cast(x as double)), transform(embedding,"
            " x -> cast(x as double)), (x, y) -> x * y), 0.0d,"
            " (acc, x) -> acc + x)) * 1000, 0) as bigint)"
        ).alias("norm_e3"),
    )
    hist = emb.groupBy("label", "norm_e3").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    med = _exact_median2x(
        hist.withColumnRenamed("norm_e3", "val"), "label", "val"
    ).selectExpr("label", "med2x AS median2x_e3")
    return (
        hist.join(F.broadcast(med), "label")
        .groupBy("label")
        .agg(
            F.sum("cnt").alias("n_vecs"),
            F.min("norm_e3").alias("min_norm_e3"),
            F.max("norm_e3").alias("max_norm_e3"),
            F.max("median2x_e3").alias("median2x_e3"),
        )
    )


# ---------------------------------------------------------------------------
# stream_gap_filled_rate: hourly event rate with explicit zeros. The
# shared mergeable-snapshot scaffold accumulates per-hour counts
# (hour = epoch seconds div 3600 — pure integer, no timezone);
# finalization explodes the FULL min..max hour range and left-joins
# the counts, so hours with no events emit 0 instead of vanishing —
# the difference between "no data arrived" and "the metric is broken",
# which every on-call dashboard needs. State is hours-sized.
# ---------------------------------------------------------------------------
STREAM_GAPFILL_ORACLE = """
    WITH counts AS (
      SELECT epoch_us(ts) // 3600000000 AS hr,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ), bounds AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM counts),
    grid AS (
      SELECT unnest(range(h0, h1 + 1)) AS hr FROM bounds
    )
    SELECT strftime(make_timestamp(g.hr * 3600000000), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           CAST(coalesce(c.n_events, 0) AS BIGINT) AS n_events
    FROM grid g LEFT JOIN counts c ON c.hr = g.hr
"""


@query("stream_gap_filled_rate", oracle=STREAM_GAPFILL_ORACLE)
def stream_gap_filled_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hourly rate with gap filling, via the shared
    mergeable-snapshot scaffold (see section comment)."""
    from eeecs485_p4_mapreduce_spark.streaming.queries import (
        merged_snapshot_stream,
    )

    def partial(batch_df):
        # the spool replays ts as TIMESTAMP_NTZ; cast before
        # unix_micros, which requires the LTZ timestamp type
        return (
            batch_df.select(
                F.expr(
                    "unix_micros(cast(ts as timestamp)) div 3600000000"
                ).alias("hr")
            )
            .groupBy("hr")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )

    def finalize(counts):
        bounds = counts.agg(
            F.min("hr").alias("h0"), F.max("hr").alias("h1")
        )
        grid = bounds.select(
            F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("hr")
        )
        return (
            grid.join(counts, "hr", "left")
            .select(
                F.date_format(
                    F.to_timestamp(F.col("hr") * 3600),
                    "yyyy-MM-dd HH:mm:ss",
                ).alias("window_start"),
                F.coalesce("n_events", F.lit(0)).alias("n_events"),
            )
        )

    return merged_snapshot_stream(
        spark, sf_dir, partial, ["hr"], {"n_events": "sum"},
        finalize, prefix="p4spark_gap_",
    )


# ---------------------------------------------------------------------------
# mm_webp_headers: REAL WebP/VP8L walk (see encode_webp_vp8l/
# parse_webp_vp8l in multimodal.py): RIFF framing with the unpadded-
# size rule plus the 14-bit little-endian width/height bit fields. The
# oracle mirrors the framing arithmetic: chunk = 5 + body bytes, file
# = 20 + chunk (+1 pad when the chunk is odd).
# ---------------------------------------------------------------------------
WEBP_SCHEMA_FIELDS = (
    "media_id",
    "width",
    "height",
    "alpha",
    "chunk_bytes",
    "file_bytes",
)

MM_WEBP_ORACLE = """
    WITH params AS (
      SELECT doc_id,
             16 + doc_id % 1000 AS w,
             16 + (doc_id * 7) % 1000 AS h,
             doc_id % 2 AS a,
             10 + doc_id % 50 AS body
      FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(a AS BIGINT) AS alpha,
           CAST(5 + body AS BIGINT) AS chunk_bytes,
           CAST(20 + 5 + body + (5 + body) % 2 AS BIGINT) AS file_bytes
    FROM params
"""


@query("mm_webp_headers", oracle=MM_WEBP_ORACLE)
def mm_webp_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: build a VP8L WebP and re-parse its RIFF framing
    and bit-packed dimensions (see section comment). Zero-shuffle
    Arrow mapInPandas via the shared media_walk_query scaffold."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_webp_vp8l,
        media_walk_query,
        parse_webp_vp8l,
    )

    def per_doc(d: int) -> dict:
        return parse_webp_vp8l(
            encode_webp_vp8l(
                16 + d % 1000,
                16 + (d * 7) % 1000,
                alpha=(d % 2 == 1),
                body_len=10 + d % 50,
            )
        )

    return media_walk_query(spark, sf_dir, WEBP_SCHEMA_FIELDS, per_doc)
