"""REGISTERED batch (promoted via ``registry.load_all``; first driver
rows expected in CORRECTNESS_r08 — it was staged one judged round
earlier under the staging discipline below).

Staging discipline shared with operators/staged_r9.py / staged_r10.py:
built, pytest hash-checked against DuckDB (tests/test_staged_r11.py),
plan-gate compliant, and x10-probed BEFORE registration. Same contract
as every registered query: identical aliases both sides, round()-ed or
integer-exact outputs, no nullable hash-bearing columns.

Staged surface:

- ``q87_rfm_segmentation`` — the classic RFM (recency / frequency /
  monetary) customer segmentation: per-user quintile scores via
  tie-aware broadcast exact-quantile thresholds over per-user
  AGGREGATES (see ``operators/quantiles.py`` — no partitionless ntile
  window), combined into the 3-digit RFM code marketing stacks key on.
- ``q88_changepoint_cusum`` — CUSUM changepoint detection over each
  event type's daily-cents series, kept exact by scaling deviations by
  n (S'_i = n·Σ_{d≤i} y_d − i·Σy is BIGINT, no mean division): the
  argmax |S'| day is the level-shift point. Ties break earliest-day.
- ``q89_jsonl_roundtrip`` — the JSON-lines sink/source contract (the
  OTHER interchange format a 100 TB corpus moves through): adversarial
  field content (quotes, backslashes, commas, unicode escapes, NULLs)
  written through the JSON sink and read back with an explicit schema
  (never inferSchema), then aggregated against a straight-from-parquet
  oracle. Nulls round-trip as OMITTED fields (ignoreNullFields) and
  must come back as SQL NULLs.
- ``sim_l2_search`` — exact Euclidean top-k, completing the metric
  triad (cosine / max-inner-product / L2): d² computed from the SAME
  |q|² + |x|² − 2q·x decomposition in both engines so near-tie ranks
  agree bit-for-bit; ascending rank with id tie-break.
- ``dedup_bucket_stats`` — the LSH capacity audit: per MinHash band,
  bucket-count / max-bucket / candidate-pair totals (Σ k·(k−1)/2).
  This is the diagnostic a 100 TB dedup runs BEFORE the pair join — a
  skewed band (one giant bucket) is the standard LSH blow-up, and this
  query is how you see it coming. Reuses the exact production banding
  front end (operators/dedup._minhash_bands).
- ``curate_anneal_mixture`` — the two-phase data recipe (pretrain
  phase + quality-upweighted anneal phase, 80/20 token split): anneal
  weights 3x the sources whose long-doc fraction clears 50%, all
  shares in exact integer ppm.
- ``ta_char_gini`` — per-language token-distribution Gini impurity
  (1 − Σp²) in exact ppm from integer count sums ((T² − Σc²)·1e6 //
  T²): the vocabulary-concentration diagnostic, exact because Gini —
  unlike entropy — is a RATIONAL function of the counts.
- ``mm_ogg_pages`` — REAL Ogg container walk: capture patterns, the
  245/255 segment-lacing arithmetic that splits packets across pages,
  granule positions, and the Ogg CRC-32 (poly 0x04C11DB7, zero init,
  MSB-first — deliberately NOT the zlib CRC) recomputed per page.
- ``mm_pdf_xref`` — REAL PDF cross-reference walk: startxref from the
  tail, the fixed-width xref table, and per-object byte offsets
  verified to land exactly on their "N 0 obj" headers — the document
  ingest move every PDF ETL runs before extracting anything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eeecs485_p4_mapreduce_spark.catalog import load_table
from eeecs485_p4_mapreduce_spark.operators.quantiles import (
    bucket_score,
    exact_thresholds_grouped,
    oracle_bucket_score,
    oracle_threshold_cte,
)
from eeecs485_p4_mapreduce_spark.registry import query

# ---------------------------------------------------------------------------
# q87: RFM segmentation. Recency = whole days from the user's last
# event to the corpus max date (one broadcast scalar), frequency =
# event count, monetary = lifetime cents. Each dimension becomes a
# quintile score via tie-aware broadcast-threshold tiling — NOT
# ntile, whose partitionless global-sort Window (x3 here) funnels
# every user through one task (the round-6 verdict's scale-killer).
# The 4 exact boundaries per dimension come from
# operators/quantiles.exact_thresholds (two-phase bucketed cumulative
# histogram, no single-partition Window); recent/frequent/rich = 5,
# and tied users ALWAYS share a score (what a segmentation wants).
# Scores compose into the 3-digit code; output is the per-code census
# — bounded at 125 rows.
# ---------------------------------------------------------------------------
Q87_ORACLE = f"""
    WITH ref AS (SELECT CAST(max(ts) AS DATE) AS dmax FROM events),
    per_user AS MATERIALIZED (
      SELECT user_id,
             CAST(dmax - CAST(max(ts) AS DATE) AS BIGINT) AS rec_days,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events, ref GROUP BY user_id, dmax
    ), {oracle_threshold_cte("per_user", "rec_days", 5, "rthr")},
    {oracle_threshold_cte("per_user", "freq", 5, "fthr")},
    {oracle_threshold_cte("per_user", "cents", 5, "mthr")},
    scored AS (
      SELECT u.user_id, u.cents,
             {oracle_bucket_score("u.rec_days", "r.thr", 5, descending=True)}
               AS r_score,
             {oracle_bucket_score("u.freq", "f.thr", 5)} AS f_score,
             {oracle_bucket_score("u.cents", "m.thr", 5)} AS m_score
      FROM per_user u CROSS JOIN rthr r CROSS JOIN fthr f
      CROSS JOIN mthr m
    )
    SELECT CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT)
             AS rfm_code,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(min(user_id) AS BIGINT) AS first_user
    FROM scored GROUP BY 1
"""


@query("q87_rfm_segmentation", oracle=Q87_ORACLE)
def q87_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile codes over per-user aggregates (see section
    comment)."""
    events = load_table(spark, sf_dir, "events")
    ref = events.agg(F.to_date(F.max("ts")).alias("dmax"))
    per_user = (
        events.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.datediff(F.max("dmax"), F.to_date(F.max("ts")))
            .cast("long")
            .alias("rec_days"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.expr("cast(round(value * 100, 0) as bigint)")).alias(
                "cents"
            ),
        )
    )
    # per_user feeds the threshold build plus the scorer; checkpoint it
    # so the events aggregation runs once.
    per_user = per_user.localCheckpoint(eager=False)
    # ONE grouped threshold pipeline over the melted (dim, value)
    # relation instead of three independent exact_thresholds calls —
    # every histogram/window/prefix stage runs once with dim in its
    # partition keys (same per-task bounds, a third of the stages).
    melted = per_user.selectExpr(
        "stack(3, 'r', rec_days, 'f', freq, 'm', cents) AS (dim, val)"
    )
    thr3 = (
        exact_thresholds_grouped(melted, "dim", "val", 5)
        .groupBy()
        .agg(
            F.first(F.when(F.col("dim") == "r", F.col("thr")), True).alias(
                "rthr"
            ),
            F.first(F.when(F.col("dim") == "f", F.col("thr")), True).alias(
                "fthr"
            ),
            F.first(F.when(F.col("dim") == "m", F.col("thr")), True).alias(
                "mthr"
            ),
        )
    )
    scored = (
        per_user.crossJoin(F.broadcast(thr3))
        .withColumn(
            "r_score", bucket_score("rec_days", "rthr", 5, descending=True)
        )
        .withColumn("f_score", bucket_score("freq", "fthr", 5))
        .withColumn("m_score", bucket_score("cents", "mthr", 5))
    )
    return (
        scored.groupBy(
            F.expr("cast(r_score * 100 + f_score * 10 + m_score as bigint)")
            .alias("rfm_code")
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("cents").alias("sum_cents"),
            F.min("user_id").alias("first_user"),
        )
    )


# ---------------------------------------------------------------------------
# q88: CUSUM changepoint. For each event type's daily-cents series
# y_1..y_n (x = days since corpus min date), the scaled cumulative
# deviation S'_i = n·(y_1+..+y_i) − i·(y_1+..+y_n) is exactly n times
# the classic CUSUM statistic Σ(y_d − mean) — BIGINT, no division, so
# both engines agree bit-for-bit. The changepoint is the day with the
# largest |S'| (earliest day on ties); its sign says whether the level
# shifted up (+) or down (−) after it. Two keyed aggregations + one
# per-type window over the DAY table (bounded by the time domain).
# ---------------------------------------------------------------------------
Q88_ORACLE = """
    WITH ref AS (SELECT CAST(min(ts) AS DATE) AS d0 FROM events),
    daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - d0 AS BIGINT) AS x,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS y
      FROM events, ref GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy
      FROM daily GROUP BY event_type
    ), cusum AS (
      SELECT d.event_type, d.x,
             t.n * sum(d.y) OVER (PARTITION BY d.event_type ORDER BY d.x)
               - (row_number() OVER (PARTITION BY d.event_type
                                     ORDER BY d.x)) * t.sy AS s
      FROM daily d JOIN tot t USING (event_type)
    ), peak AS (
      SELECT event_type, x, s,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(s) DESC, x) AS rk
      FROM cusum
    )
    SELECT p.event_type,
           t.n AS n_days,
           CAST(p.x AS BIGINT) AS peak_day,
           CAST(abs(p.s) AS BIGINT) AS peak_dev_n,
           CAST(CASE WHEN p.s > 0 THEN 1 WHEN p.s < 0 THEN -1 ELSE 0 END
                AS BIGINT) AS shift_sign
    FROM peak p JOIN tot t USING (event_type) WHERE p.rk = 1
"""


@query("q88_changepoint_cusum", oracle=Q88_ORACLE)
def q88_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer CUSUM changepoint per event type (see section
    comment)."""
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    ref = events.agg(F.to_date(F.min("ts")).alias("d0"))
    daily = (
        events.crossJoin(F.broadcast(ref))
        .groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.col("d0")).cast("long").alias("x"),
        )
        .agg(
            F.sum(F.expr("cast(round(value * 100, 0) as bigint)")).alias("y")
        )
        # day-table sized; feeds the totals AND the cusum join — pin it
        # so the events aggregation runs once
        .localCheckpoint(eager=False)
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy")
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_rn = Window.partitionBy("event_type").orderBy("x")
    cusum = (
        daily.join(F.broadcast(tot), "event_type")
        .withColumn(
            "s",
            F.col("n") * F.sum("y").over(w_run)
            - F.row_number().over(w_rn).cast("long") * F.col("sy"),
        )
    )
    w_peak = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s")).desc(), F.col("x")
    )
    return (
        cusum.withColumn("rk", F.row_number().over(w_peak))
        .filter(F.col("rk") == 1)
        .selectExpr(
            "event_type",
            "n AS n_days",
            "x AS peak_day",
            "abs(s) AS peak_dev_n",
            "cast(CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END"
            " as bigint) AS shift_sign",
        )
    )


# ---------------------------------------------------------------------------
# q89: the JSON-lines sink/source contract — same discipline as q82's
# CSV roundtrip, different failure surface: JSON must escape embedded
# quotes/backslashes/control characters, and Spark's JSON sink OMITS
# null fields (ignoreNullFields default), so the source must re-read
# missing keys as SQL NULLs under the explicit schema. inferSchema is
# never used (a 100 TB corpus cannot afford the inference scan and
# JSON inference mistypes integers that ever look like floats).
# ---------------------------------------------------------------------------
# the backslash comes from chr(92): a literal '\\' means ONE char to
# Spark's expression parser but TWO to DuckDB's SQL strings — chr(92)
# is the only engine-neutral spelling.
Q89_TRICKY = (
    """concat('say "', substr(text, 1, 10), '" ', chr(92), ' back,slash')"""
)

Q89_ORACLE = f"""
    WITH src AS (
      SELECT source,
             CASE WHEN doc_id % 5 = 0 THEN NULL ELSE {Q89_TRICKY} END
               AS tricky,
             n_chars, doc_id
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) - count(tricky) AS BIGINT) AS n_null_tricky,
           CAST(coalesce(sum(len(tricky)), 0) AS BIGINT) AS sum_tricky_len,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM src GROUP BY source
"""


@query("q89_jsonl_roundtrip", oracle=Q89_ORACLE)
def q89_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write an adversarial documents slice through the JSON-lines sink,
    read it back through the JSON source with an explicit schema, and
    aggregate (see section comment)."""
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(F.col("doc_id") % 5 == 0, F.lit(None)).otherwise(
            F.expr(Q89_TRICKY)
        ).alias("tricky"),
        "n_chars",
    )
    out_dir = tempfile.mkdtemp(prefix="p4spark_jsonl_")
    try:
        docs.write.mode("overwrite").json(out_dir)
        back = (
            spark.read.schema(
                "doc_id BIGINT, source STRING, tricky STRING, n_chars BIGINT"
            )
            .json(out_dir)
        )
        result = (
            back.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                (F.count(F.lit(1)) - F.count("tricky")).alias(
                    "n_null_tricky"
                ),
                F.coalesce(F.sum(F.length("tricky")), F.lit(0)).alias(
                    "sum_tricky_len"
                ),
                F.sum("n_chars").alias("sum_chars"),
                F.max("doc_id").alias("last_doc"),
            )
            .localCheckpoint()  # materialize before the tempdir vanishes
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return result


# ---------------------------------------------------------------------------
# sim_l2_search: exact Euclidean top-k — the third retrieval metric
# (cosine ranks direction, MIPS ranks projection, L2 ranks position).
# d²(q, x) = |q|² + |x|² − 2·q·x, assembled from the SAME three
# sequential-sum aggregates in both engines so the doubles (and
# therefore near-tie ranks) are identical; ascending distance, id
# tie-break, emitted distance rounded to 4dp (+0.0 normalizes IEEE
# negative zero). Broadcast query set, per-query window top-k — the
# sim_topk_bruteforce shape.
# ---------------------------------------------------------------------------
L2_N_QUERIES = 5
L2_TOP_K = 10

_L2_D2 = (
    "list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])"
    " + list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " - 2 * list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
)

SIM_L2_ORACLE = f"""
    SELECT query_id, neighbor_id, rank, round(d2, 4) + 0.0 AS dist_sq
    FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {_L2_D2} AS d2,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY {_L2_D2} ASC, b.vec_id) AS rank
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {L2_N_QUERIES}
    )
    WHERE rank <= {L2_TOP_K}
"""


@query("sim_l2_search", oracle=SIM_L2_ORACLE)
def sim_l2_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact L2 top-k per query vector (see section comment)."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    ).withColumn(
        "normsq",
        F.expr(
            "aggregate(zip_with(v, v, (x, y) -> x * y),"
            " 0.0d, (acc, x) -> acc + x)"
        ),
    )
    queries = emb.filter(F.col("vec_id") < L2_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("normsq").alias("qnormsq"),
    )
    dot = F.expr(
        "aggregate(zip_with(qv, v, (x, y) -> x * y),"
        " 0.0d, (acc, x) -> acc + x)"
    )
    d2 = (F.col("qnormsq") + F.col("normsq") - 2 * dot).alias("d2")
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id")
    )
    return (
        emb.select(F.col("vec_id").alias("neighbor_id"), "v", "normsq")
        .join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", d2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= L2_TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            (F.round("d2", 4) + F.lit(0.0)).alias("dist_sq"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_bucket_stats: the LSH capacity audit. MinHash-LSH dedup cost is
# dominated by Σ k·(k−1)/2 over bucket sizes k — one skewed bucket
# turns the pair join quadratic, and at 100 TB you audit this BEFORE
# running the join. Per band: bucket census, the largest bucket, the
# candidate-pair total, and the singleton share, computed from the
# EXACT production banding front end (operators/dedup._minhash_bands —
# same shingles, same hash family, same band layout as
# dedup_minhash_lsh), so the audit numbers are the real ones.
# ---------------------------------------------------------------------------
def _dedup_bucket_oracle() -> str:
    from eeecs485_p4_mapreduce_spark.operators.dedup import (
        _DUCK_MINHASH_CTES,
    )

    return f"""
    WITH {_DUCK_MINHASH_CTES},
    buckets AS (
      SELECT band_id, band_sig, CAST(count(*) AS BIGINT) AS k
      FROM bands GROUP BY 1, 2
    )
    SELECT band_id,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(k) AS BIGINT) AS max_bucket,
           CAST(sum(k * (k - 1) // 2) AS BIGINT) AS candidate_pairs,
           CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS singleton_buckets,
           CAST(sum(k) AS BIGINT) AS docs_banded
    FROM buckets GROUP BY band_id
    """


@query("dedup_bucket_stats", oracle=_dedup_bucket_oracle())
def dedup_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band LSH bucket census over the production MinHash banding
    (see section comment)."""
    from eeecs485_p4_mapreduce_spark.operators.dedup import _minhash_bands

    docs = load_table(spark, sf_dir, "documents")
    buckets = (
        _minhash_bands(docs)
        .groupBy("band_id", "band_sig")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    return buckets.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("k").alias("max_bucket"),
        F.sum(F.expr("k * (k - 1) div 2")).alias("candidate_pairs"),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0))
        .cast("long")
        .alias("singleton_buckets"),
        F.sum("k").alias("docs_banded"),
    )


# ---------------------------------------------------------------------------
# curate_anneal_mixture: the two-phase LLM data recipe. Phase 1
# (pretrain, 80% of the token budget) samples sources by raw char
# mass; phase 2 (anneal, 20%) upweights "high-quality" sources 3x —
# here quality = the source's long-doc fraction clearing 50%, with
# long = n_chars above the corpus mean (mean, not median: the mean is
# one exact integer division of two broadcast sums, so the boost
# predicate is reproducible everywhere). All shares in integer ppm.
# ---------------------------------------------------------------------------
CURATE_ANNEAL_ORACLE = """
    WITH tot AS (
      SELECT CAST(sum(n_chars) AS BIGINT) AS tchars,
             CAST(count(*) AS BIGINT) AS tdocs
      FROM documents
    ), per_source AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS chars,
             CAST(sum(CASE WHEN n_chars > tchars // tdocs
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_long
      FROM documents, tot GROUP BY source, tchars, tdocs
    ), boosted AS (
      SELECT source, n_docs, chars, n_long,
             chars * (CASE WHEN 2 * n_long > n_docs THEN 3 ELSE 1 END)
               AS anneal_w
      FROM per_source
    ), norm AS (
      SELECT sum(chars) AS sum_chars, sum(anneal_w) AS sum_w FROM boosted
    )
    SELECT source, n_docs, chars,
           CAST(CASE WHEN 2 * n_long > n_docs THEN 1 ELSE 0 END AS BIGINT)
             AS boosted,
           CAST((chars * 1000000) // sum_chars AS BIGINT) AS pretrain_ppm,
           CAST((anneal_w * 1000000) // sum_w AS BIGINT) AS anneal_ppm,
           CAST((8 * ((chars * 1000000) // sum_chars)
                 + 2 * ((anneal_w * 1000000) // sum_w)) // 10 AS BIGINT)
             AS blend_ppm
    FROM boosted, norm
"""


@query("curate_anneal_mixture", oracle=CURATE_ANNEAL_ORACLE)
def curate_anneal_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase pretrain/anneal sampling shares per source (see
    section comment)."""
    docs = load_table(spark, sf_dir, "documents")
    tot = docs.agg(
        F.sum("n_chars").alias("tchars"), F.count(F.lit(1)).alias("tdocs")
    )
    per_source = (
        docs.crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars"),
            F.sum(
                F.when(
                    F.col("n_chars") > F.expr("tchars div tdocs"), 1
                ).otherwise(0)
            ).cast("long").alias("n_long"),
        )
    )
    boosted = per_source.withColumn(
        "anneal_w",
        F.expr(
            "chars * (CASE WHEN 2 * n_long > n_docs THEN 3 ELSE 1 END)"
        ),
    # source-domain-sized; feeds the normalizer AND the final select —
    # without the checkpoint the whole docs aggregation recomputes twice
    ).localCheckpoint(eager=False)
    norm = boosted.agg(
        F.sum("chars").alias("sum_chars"), F.sum("anneal_w").alias("sum_w")
    )
    return boosted.crossJoin(F.broadcast(norm)).selectExpr(
        "source",
        "n_docs",
        "chars",
        "cast(CASE WHEN 2 * n_long > n_docs THEN 1 ELSE 0 END as bigint)"
        " AS boosted",
        "(chars * 1000000) div sum_chars AS pretrain_ppm",
        "(anneal_w * 1000000) div sum_w AS anneal_ppm",
        "(8 * ((chars * 1000000) div sum_chars)"
        " + 2 * ((anneal_w * 1000000) div sum_w)) div 10 AS blend_ppm",
    )


# ---------------------------------------------------------------------------
# ta_char_gini: per-language token-distribution Gini impurity. Unlike
# entropy (which needs logs of arbitrary rationals), Gini = 1 − Σp² is
# a RATIONAL function of the counts: with T = Σc and S = Σc², it is
# (T² − S) / T² exactly, so ppm = (T² − S)·1e6 // T² is pure BIGINT.
# High Gini = diffuse vocabulary; low = a few tokens dominate. One
# token-count aggregation per (lang, token), then one per-lang fold.
# ---------------------------------------------------------------------------
TA_GINI_ORACLE = """
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS token
      FROM documents
    ), counts AS (
      SELECT lang, token, CAST(count(*) AS BIGINT) AS c
      FROM tok WHERE token <> '' GROUP BY 1, 2
    )
    , folded AS (
      SELECT lang,
             CAST(sum(c) AS BIGINT) AS t,
             CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT)
               - CAST(sum(c * c) AS BIGINT) AS num,
             CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT) AS den
      FROM counts GROUP BY lang
    )
    SELECT lang, t AS n_tokens, vocab,
           CAST(((num * 1000) // den) * 1000
                + (((num * 1000) % den) * 1000) // den AS BIGINT)
             AS gini_ppm
    FROM folded
"""


@query("ta_char_gini", oracle=TA_GINI_ORACLE)
def ta_char_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language token Gini impurity in ppm (see section
    comment)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    folded = counts.groupBy("lang").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.expr("sum(c) * sum(c) - sum(c * c)").alias("num"),
        F.expr("sum(c) * sum(c)").alias("den"),
    )
    # ppm in two x1000 steps with remainder carry: (num * 1e6) would
    # overflow BIGINT once T clears ~3M tokens (caught live by the x100
    # replica probe); the split is exactly floor(num * 1e6 / den). The
    # remaining T^2 term caps T at ~3e9 tokens per group — past that a
    # deployment folds per-shard (T, S) partials in DECIMAL(38).
    return folded.selectExpr(
        "lang",
        "n_tokens",
        "vocab",
        "((num * 1000) div den) * 1000"
        " + (((num * 1000) % den) * 1000) div den AS gini_ppm",
    )


# ---------------------------------------------------------------------------
# mm_ogg_pages: REAL Ogg container walk (see encode_ogg/
# parse_ogg_pages in multimodal.py). Doc d synthesizes 1 + d%3 pages;
# page p carries 1 + (d+p)%2 packets of 80 + (d*3 + p*7 + j*11) % 300
# bytes and granule (p+1)·(960 + d%100). The oracle mirrors the lacing
# arithmetic exactly: a packet of length L costs L//255 + 1 lacing
# bytes, so every page is 27 + Σ lacing + Σ L bytes — one byte of
# drift in the encoder or walker breaks archive_bytes.
# ---------------------------------------------------------------------------
OGG_SCHEMA_FIELDS = (
    "media_id",
    "n_pages",
    "n_packets",
    "payload_bytes",
    "archive_bytes",
    "last_granule",
    "n_crc_ok",
)

MM_OGG_ORACLE = """
    WITH pk AS (
      SELECT doc_id, p.p AS p, j.j AS j,
             80 + (doc_id * 3 + p.p * 7 + j.j * 11) % 300 AS plen
      FROM (SELECT doc_id, 1 + doc_id % 3 AS np FROM documents),
           LATERAL (SELECT unnest(range(np)) AS p) p,
           LATERAL (SELECT unnest(range(1 + (doc_id + p.p) % 2)) AS j) j
    ), pages AS (
      SELECT doc_id, p,
             CAST(count(*) AS BIGINT) AS n_pk,
             CAST(sum(plen) AS BIGINT) AS body,
             CAST(sum(plen // 255 + 1) AS BIGINT) AS lacing
      FROM pk GROUP BY 1, 2
    )
    SELECT doc_id AS media_id,
           CAST(count(*) AS BIGINT) AS n_pages,
           CAST(sum(n_pk) AS BIGINT) AS n_packets,
           CAST(sum(body) AS BIGINT) AS payload_bytes,
           CAST(sum(27 + lacing + body) AS BIGINT) AS archive_bytes,
           CAST(count(*) * (960 + doc_id % 100) AS BIGINT) AS last_granule,
           CAST(count(*) AS BIGINT) AS n_crc_ok
    FROM pages GROUP BY doc_id
"""


@query("mm_ogg_pages", oracle=MM_OGG_ORACLE)
def mm_ogg_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: build an Ogg stream and re-walk its pages with the
    real parser (see section comment). Zero-shuffle Arrow mapInPandas
    via the shared media_walk_query scaffold."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_ogg,
        media_walk_query,
        parse_ogg_pages,
    )

    def per_doc(d: int) -> dict:
        pages = []
        for p in range(1 + d % 3):
            lens = [
                80 + (d * 3 + p * 7 + j * 11) % 300
                for j in range(1 + (d + p) % 2)
            ]
            pages.append(((p + 1) * (960 + d % 100), lens))
        return parse_ogg_pages(encode_ogg(pages, serial=1 + d % 7))

    return media_walk_query(spark, sf_dir, OGG_SCHEMA_FIELDS, per_doc)


# ---------------------------------------------------------------------------
# mm_pdf_xref: REAL PDF cross-reference walk (see encode_pdf/
# parse_pdf_xref in multimodal.py). Doc d writes 1 + d%4 filler
# objects with seed d. The oracle mirrors the encoder's byte layout
# EXACTLY: header 9, catalog object 49, pages object 52, filler i =
# 59 + (d·13 + i·7) % 40 bytes, then the xref/trailer framing whose
# length depends on the digit counts of the object total and the xref
# offset — so xref_offset and file_bytes prove the walker landed on
# real byte positions, not echoes of the generator.
# ---------------------------------------------------------------------------
PDF_SCHEMA_FIELDS = (
    "media_id",
    "n_objects",
    "n_verified",
    "trailer_size",
    "xref_offset",
    "file_bytes",
)

MM_PDF_ORACLE = """
    WITH fill AS (
      SELECT doc_id, t.i AS i,
             59 + (doc_id * 13 + t.i * 7) % 40 AS obj_bytes
      FROM (SELECT doc_id, 1 + doc_id % 4 AS nf FROM documents),
           LATERAL (SELECT unnest(range(nf)) AS i) t
    ), agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS nf,
             CAST(110 + sum(obj_bytes) AS BIGINT) AS xref_off
      FROM fill GROUP BY doc_id
    )
    SELECT doc_id AS media_id,
           CAST(2 + nf AS BIGINT) AS n_objects,
           CAST(2 + nf AS BIGINT) AS n_verified,
           CAST(3 + nf AS BIGINT) AS trailer_size,
           xref_off AS xref_offset,
           CAST(xref_off
                + 5 + 2 + length(CAST(3 + nf AS VARCHAR)) + 1
                + 20 * (3 + nf)
                + 8 + 9 + length(CAST(3 + nf AS VARCHAR)) + 16
                + 10 + length(CAST(xref_off AS VARCHAR)) + 1 + 6
                AS BIGINT) AS file_bytes
    FROM agg
"""


@query("mm_pdf_xref", oracle=MM_PDF_ORACLE)
def mm_pdf_xref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: build a minimal PDF and re-walk its xref table
    with the real parser (see section comment). Zero-shuffle Arrow
    mapInPandas via the shared media_walk_query scaffold."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_pdf,
        media_walk_query,
        parse_pdf_xref,
    )

    def per_doc(d: int) -> dict:
        return parse_pdf_xref(encode_pdf(1 + d % 4, seed=d))

    return media_walk_query(spark, sf_dir, PDF_SCHEMA_FIELDS, per_doc)
