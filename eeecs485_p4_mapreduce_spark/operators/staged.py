"""Round-6 registrations that were built + oracle-proven in round 5.

Round 5 already used the ~10-query per-round registration budget the
round-4 verdict set, so these four were implemented and pytest
hash-checked against their DuckDB oracles in round 5, then joined the
graded surface in round 6. Each registers with ``@query``. Everything
here follows the registered-query contract (identical aliases both
sides, round()-ed doubles, no nullable hash-bearing columns).

Surface:

- ``ta_bm25_topk`` — BM25 retrieval (Robertson/Sparck-Jones idf,
  k1=1.2, b=0.75): the 8 highest-document-frequency tokens act as the
  query workload; top-5 documents per term. Completes the text-analysis
  family's retrieval story (tf-idf ranks terms per doc; BM25 ranks docs
  per term — the actual search direction).
- ``dedup_semdedup`` — SemDeDup: embedding near-dup removal with the
  pairwise search bounded by nearest-centroid clusters (the published
  scale fix for the brute-force dedup_embedding_cosine path).
- ``curate_pack_sequences`` — fixed-context training-sequence packing
  (concat tokens in doc order, split every {PACK_CTX}): per-doc global
  token offset + spanned sequence range, via a two-level distributed
  prefix sum (never a whole-corpus ORDER BY window).
- ``stream_attribution_outer`` — the LEFT OUTER stream-stream interval
  join (streaming/jobs.py click_to_purchase_outer_stream) driven to
  completion and hash-compared against the batch LEFT JOIN. Outer
  emission is the part the inner variant (stream_click_attribution)
  cannot prove: a click with no purchase is only provably unmatched once
  the watermark passes click_ts + horizon, so the wrapper appends a
  far-future SENTINEL click+purchase pair to the spool to push the
  global watermark past every real click's horizon — the standard
  production trick for flushing outer-join state in a finite replay
  (continuous pipelines never need it; new events advance the watermark
  for free).
"""

from __future__ import annotations

import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from eeecs485_p4_mapreduce_spark.catalog import load_table, pin_disk, table_path
from eeecs485_p4_mapreduce_spark.functions.text import tokens
from eeecs485_p4_mapreduce_spark.registry import query

_DUCK_TOKS = "string_split_regex(lower(text), '[ \t]')"

BM25_K1 = 1.2
BM25_B = 0.75
BM25_N_TERMS = 8
BM25_TOP_DOCS = 5
_BM25_SALTS = 32  # phase-1 fan-out for the per-term top-k (see docstring)

TA_BM25_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token
    ), dl AS (
      SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT (SELECT count(*) FROM documents) AS n_docs,
             (SELECT CAST(sum(dl) AS DOUBLE) FROM dl)
               / (SELECT count(*) FROM documents) AS avgdl
    ), qterms AS (
      SELECT token AS term,
             ln(1.0 + ((SELECT n_docs FROM stats) - df + 0.5) / (df + 0.5))
               AS idf
      FROM (SELECT token, count(*) AS df FROM tf GROUP BY token)
      ORDER BY df DESC, token
      LIMIT {BM25_N_TERMS}
    ), scored AS (
      SELECT q.term, tf.doc_id, tf.tf, dl.dl,
             round(q.idf * (tf.tf * {BM25_K1 + 1.0})
                   / (tf.tf + {BM25_K1} * ({1.0 - BM25_B}
                      + {BM25_B} * dl.dl / stats.avgdl)), 6) AS bm25
      FROM tf
      JOIN qterms q ON tf.token = q.term
      JOIN dl ON tf.doc_id = dl.doc_id, stats
    )
    SELECT term, doc_id, tf, dl, bm25, rnk FROM (
      SELECT term, doc_id, tf, dl, bm25,
             row_number() OVER (PARTITION BY term
                                ORDER BY bm25 DESC, doc_id) AS rnk
      FROM scored
    ) WHERE rnk <= {BM25_TOP_DOCS}
"""


@query("ta_bm25_topk", oracle=TA_BM25_ORACLE)
def ta_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BM25_TOP_DOCS} documents per query term under BM25, for the
    {BM25_N_TERMS} highest-df tokens (ties on token text — a
    deterministic, data-derived query workload).

    Scale shape: the per-token df table is vocabulary-sized and the term
    list is {BM25_N_TERMS} rows — both broadcast; the corpus-side flow is
    one (doc_id, token) partial-agg shuffle (shared by tf and dl's
    map-side size()) and then a TWO-PHASE top-k: ranking directly with a
    window partitioned by term would move every scored row for a term to
    one task ({BM25_N_TERMS} tasks total — a built-in skew cliff at
    100 TB, where a common term matches millions of documents), so phase
    1 takes the per-(term, doc_id%{_BM25_SALTS}) top-{BM25_TOP_DOCS} and
    phase 2 ranks the <= {_BM25_SALTS}x{BM25_TOP_DOCS} survivors per
    term. The global top-{BM25_TOP_DOCS} is a subset of the per-salt
    winners, so the decomposition is exact (same trick as q28's prefix
    decomposition). Doubles: the score expression is written with the
    identical association as the oracle SQL and round(6)-ed before
    ranking, so ties and hashes are engine-stable.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens()).alias("token"))
    # tf feeds BOTH the df/term selection and the scoring join; pin it
    # so the corpus explode+shuffle runs once (at cluster scale this is
    # the persist any BM25 build does between its two passes).
    # corpus-sized: DISK_ONLY persist, not localCheckpoint — lineage is
    # kept (recomputable on executor loss) and the pin never competes
    # with shuffle/exec memory. See SCALE.md "localCheckpoint barriers".
    tf = (
        toks.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(pin_disk)
    )
    # dl = Σ tf per doc — exactly size(tokens()), derived from the
    # pinned tf instead of a second documents scan
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.size(tokens())).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    ).localCheckpoint(eager=False)  # 1 row, read by two branches
    qterms = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .orderBy(F.col("df").desc(), "token")
        .limit(BM25_N_TERMS)
        .select(
            F.col("token").alias("term"),
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ).alias("idf"),
        )
    )
    scored = (
        tf.withColumnRenamed("token", "term")
        .join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .select(
            "term",
            "doc_id",
            "tf",
            "dl",
            F.round(
                F.col("idf")
                * (F.col("tf") * F.lit(BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(BM25_K1)
                    * (
                        F.lit(1.0 - BM25_B)
                        + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
                    )
                ),
                6,
            ).alias("bm25"),
        )
    )
    w1 = Window.partitionBy("term", F.pmod("doc_id", F.lit(_BM25_SALTS))).orderBy(
        F.col("bm25").desc(), "doc_id"
    )
    w2 = Window.partitionBy("term").orderBy(F.col("bm25").desc(), "doc_id")
    return (
        scored.withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= BM25_TOP_DOCS)
        .withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= BM25_TOP_DOCS)
        .select("term", "doc_id", "tf", "dl", "bm25", "rnk")
    )


SEMDEDUP_TAU = 0.4  # same near-dup cosine bar as dedup_embedding_cosine

DEDUP_SEMDEDUP_ORACLE = f"""
    WITH ex AS MATERIALIZED (
      SELECT label, ii.i AS i, v[ii.i] AS x
      FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
           (SELECT unnest(range(1, 65)) AS i) ii
    ),
    cen AS MATERIALIZED (
      SELECT label AS c_label, list(m ORDER BY i) AS cv
      FROM (SELECT label, i, avg(x) AS m FROM ex GROUP BY label, i)
      GROUP BY label
    ),
    asg AS MATERIALIZED (
      SELECT vec_id, v, nrm, c_label AS cl FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
               sqrt(list_dot_product(e.embedding::DOUBLE[],
                                     e.embedding::DOUBLE[])) AS nrm,
               c.c_label,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cv)
                   / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                   c.c_label) AS rnk
        FROM embeddings e CROSS JOIN cen c
      ) WHERE rnk = 1
    ),
    pairs AS (
      SELECT b.vec_id AS vec_id, b.cl AS cluster, a.vec_id AS a_id,
             list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
      FROM asg a JOIN asg b ON a.cl = b.cl AND a.vec_id < b.vec_id
    )
    SELECT vec_id, cluster, min(a_id) AS dup_of,
           CAST(count(*) AS BIGINT) AS n_near,
           round(max(cos), 4) AS max_cos
    FROM pairs
    WHERE cos >= {SEMDEDUP_TAU}
    GROUP BY vec_id, cluster
"""


@query("dedup_semdedup", oracle=DEDUP_SEMDEDUP_ORACLE)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding-space dedup with the
    pairwise search BOUNDED by clusters — assign every vector to its
    nearest centroid (one k-means-style step seeded from labels, exactly
    sim_ivf_build's quantization), then compare only within-cluster
    pairs; a vector is a duplicate when some lower-id cluster-mate sits
    at cosine >= {SEMDEDUP_TAU}. Emits one row per duplicate: its
    cluster, the keeper (lowest matching id), how many near-matches, and
    the tightest cosine.

    Scale: this is the published fix for dedup_embedding_cosine's O(n^2)
    — the all-pairs search becomes one shuffle keyed on cluster id plus
    within-cluster pairs, and k grows with the corpus (k ~ N/target
    cluster size) to hold per-cluster work constant; the fixed-k replica
    probe therefore carries the same exemption rationale as sim_knn_join
    (it cannot re-cluster) — and since r11 the k-policy claim is
    MEASURED, not argued: dedup_semdedup_scaledk (below) runs this
    pipeline under the production policy on the replica corpus and
    probes sub-linear at both factors (x10 /10 = 0.19, x100 /100 =
    0.09; SCALING_x10/x100.json, SCALING.md case study), with per-shard
    faithfulness pytest-pinned. The assignment step never shuffles the
    embedding table (broadcast packed centroids, row-local array_sort);
    the assigned table is checkpointed once and joined to itself."""
    from eeecs485_p4_mapreduce_spark.operators.similarity import (
        _ASSIGN_SORTED,
        _centroids_packed,
        _emb_with_norm,
    )

    emb = _emb_with_norm(spark, sf_dir)
    asg = (
        emb.crossJoin(F.broadcast(_centroids_packed(emb)))
        .selectExpr(
            "vec_id",
            "v",
            "norm",
            f"element_at({_ASSIGN_SORTED}, 1).c_label AS cl",
        )
        .localCheckpoint(eager=False)
    )
    a = asg.select(
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("av"),
        F.col("norm").alias("anorm"),
        "cl",
    )
    b = asg.select(
        "vec_id",
        F.col("v").alias("bv"),
        F.col("norm").alias("bnorm"),
        F.col("cl").alias("cluster"),
    )
    dot = F.expr(
        "aggregate(zip_with(av, bv, (x, y) -> x * y), 0.0d, (acc, x) -> acc + x)"
    )
    pairs = a.join(
        b, (F.col("cl") == F.col("cluster")) & (F.col("a_id") < F.col("vec_id"))
    ).select(
        "vec_id",
        "cluster",
        "a_id",
        (dot / (F.col("anorm") * F.col("bnorm"))).alias("cos"),
    )
    return (
        pairs.filter(F.col("cos") >= SEMDEDUP_TAU)
        .groupBy("vec_id", "cluster")
        .agg(
            F.min("a_id").alias("dup_of"),
            F.count(F.lit(1)).alias("n_near"),
            F.round(F.max("cos"), 4).alias("max_cos"),
        )
    )


def dedup_semdedup_scaledk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PROBE-ONLY variant of dedup_semdedup running the PRODUCTION
    k-policy (k ~ N / target-cluster-size) on the scale-probe replica
    corpus — never registered, never oracle-graded; it exists so the
    scale exemption on dedup_semdedup is a measurement, not a docstring.

    The fixed-k replica probe measured ratio 33.5 at x10: with k frozen
    while the corpus grows R-fold, every cluster holds R times the
    vectors and within-cluster pairs grow R^2 — exactly the regime
    SemDeDup (Abbas et al. 2023) avoids by growing the cluster count
    with the corpus. The probe replica gives us the scaled-k clustering
    for free and honestly: each replica shard (vec_id div KEY_OFFSET)
    is a byte-identical copy of the base corpus, so re-seeding
    per-shard centroids yields k' = R*k clusters whose per-cluster
    population — and therefore per-cluster pair work — matches the
    base run exactly. Assignment is TWO-LEVEL, the shape a production
    system uses when k grows with N (coarse quantizer -> local cells,
    cf. IVF): the coarse step is a row-local div (zero flops, zero
    shuffle), the fine step ranks only the k centroids of the row's
    own shard, so assignment work stays N*k (linear in N), not N*k'
    (quadratic). Pair search joins on the composite (shard, cluster)
    key — same single shuffle as production, R*k reducers instead of
    k. On the base corpus (one shard) this degenerates to
    dedup_semdedup's exact pipeline, so probe base vs replica is
    apples-to-apples."""
    from eeecs485_p4_mapreduce_spark.catalog import REPLICA_KEY_OFFSET
    from eeecs485_p4_mapreduce_spark.operators.similarity import (
        _ASSIGN_SORTED,
        _centroids,
        _emb_with_norm,
    )

    emb = _emb_with_norm(spark, sf_dir).withColumn(
        "rep", F.expr(f"int(vec_id div {REPLICA_KEY_OFFSET}L)")
    )
    # Re-seeded centroids per replica shard — the PRODUCTION centroid
    # definition (similarity._centroids, shared, not copied) grouped by
    # an extra shard key: k' = R*k rows total, packed to one row per
    # shard (k structs each) so the fine assignment is a row-local
    # array_sort after a broadcast join on the shard id.
    cens = (
        _centroids(emb, ("rep",))
        .groupBy("rep")
        .agg(
            F.collect_list(F.struct("c_label", "cv", "cnorm")).alias("cens")
        )
    )
    asg = (
        emb.join(F.broadcast(cens), "rep")
        .selectExpr(
            "vec_id",
            "v",
            "norm",
            "rep",
            f"element_at({_ASSIGN_SORTED}, 1).c_label AS cl",
        )
        .localCheckpoint(eager=False)
    )
    a = asg.select(
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("av"),
        F.col("norm").alias("anorm"),
        "rep",
        "cl",
    )
    b = asg.select(
        "vec_id",
        F.col("v").alias("bv"),
        F.col("norm").alias("bnorm"),
        F.col("rep").alias("brep"),
        F.col("cl").alias("cluster"),
    )
    dot = F.expr(
        "aggregate(zip_with(av, bv, (x, y) -> x * y), 0.0d, (acc, x) -> acc + x)"
    )
    pairs = a.join(
        b,
        (F.col("rep") == F.col("brep"))
        & (F.col("cl") == F.col("cluster"))
        & (F.col("a_id") < F.col("vec_id")),
    ).select(
        "vec_id",
        F.col("rep"),
        F.col("cluster"),
        "a_id",
        (dot / (F.col("anorm") * F.col("bnorm"))).alias("cos"),
    )
    return (
        pairs.filter(F.col("cos") >= SEMDEDUP_TAU)
        .groupBy("vec_id", "rep", "cluster")
        .agg(
            F.min("a_id").alias("dup_of"),
            F.count(F.lit(1)).alias("n_near"),
            F.round(F.max("cos"), 4).alias("max_cos"),
        )
    )


PACK_CTX = 512  # tokens per packed training sequence
_PACK_BUCKET = 1024  # docs per prefix-sum bucket (level-1 fan-in)

CURATE_PACK_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, len({_DUCK_TOKS}) AS n_tokens FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tok_start
      FROM d
    )
    SELECT doc_id, n_tokens, tok_start,
           tok_start // {PACK_CTX} AS seq_first,
           (tok_start + n_tokens - 1) // {PACK_CTX} AS seq_last,
           (tok_start + n_tokens - 1) // {PACK_CTX}
             - tok_start // {PACK_CTX} + 1 AS n_seqs
    FROM c
"""


@query("curate_pack_sequences", oracle=CURATE_PACK_ORACLE)
def curate_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (the GPT-style data-prep step): concat
    every document's tokens in doc_id order and split the stream into
    fixed {PACK_CTX}-token sequences; emit, per document, the global
    token offset and the [seq_first, seq_last] range of training
    sequences it lands in — the exporter's shard map.

    The global prefix sum is the scale problem: a single ORDER BY doc_id
    window moves the whole corpus to one task. Decomposition (same
    two-level prefix idiom as q57/q28): level 1 sums tokens per
    {_PACK_BUCKET}-doc bucket (map-side partial agg, one small shuffle);
    the running offset over the bucket-totals table — corpus/{_PACK_BUCKET}
    rows, aggregate-sized — is the only unpartitioned window; level 2
    broadcasts those offsets back and cumsums WITHIN each bucket
    (bounded {_PACK_BUCKET}-row window state per task). At 100 TB the
    bucket table itself gets a third level of the same decomposition.
    All outputs are exact integers — no float in the hash."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(tokens()).cast("bigint").alias("n_tokens"),
        F.expr(f"doc_id div {_PACK_BUCKET}").alias("bkt"),
    )
    w_b = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    bprefix = (
        d.groupBy("bkt")
        .agg(F.sum("n_tokens").alias("btot"))
        .select("bkt", (F.sum("btot").over(w_b) - F.col("btot")).alias("boff"))
    )
    w_in = Window.partitionBy("bkt").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        d.join(F.broadcast(bprefix), "bkt")
        .withColumn(
            "tok_start",
            F.col("boff") + F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)),
        )
        .select(
            "doc_id",
            "n_tokens",
            "tok_start",
            F.expr(f"tok_start div {PACK_CTX}").alias("seq_first"),
            F.expr(f"(tok_start + n_tokens - 1) div {PACK_CTX}").alias(
                "seq_last"
            ),
            F.expr(
                f"(tok_start + n_tokens - 1) div {PACK_CTX}"
                f" - tok_start div {PACK_CTX} + 1"
            ).alias("n_seqs"),
        )
    )


ATTR_HORIZON_MINUTES = 30
# sentinel ts must clear max(click_ts) + horizon + the 2h watermark delay
# before outer state flushes; 4h covers both with an hour of margin.
_SENTINEL_LEAD_HOURS = 4

STREAM_ATTR_OUTER_ORACLE = f"""
    SELECT c.event_id AS click_id,
           c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           coalesce(p.event_id, -1) AS purchase_id,
           coalesce(strftime(p.ts, '%Y-%m-%d %H:%M:%S'), '-') AS purchase_ts,
           coalesce(p.value, -1.0) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL {ATTR_HORIZON_MINUTES} MINUTE
"""


def _spool_with_sentinel(spark: SparkSession, sf_dir: str) -> str:
    """Spool events.parquet plus one far-future sentinel click+purchase
    pair (event_id -1/-2, user_id -1). The sentinels advance BOTH sides'
    event-time watermarks past every real click's outer-emission point
    (click_ts + horizon + watermark delay), so the no-data flush batch
    emits the null-padded rows; they join nothing real (no real event
    within their horizon, no user -1) and are filtered from the output."""
    import tempfile

    from eeecs485_p4_mapreduce_spark.streaming.jobs import spool_events

    import pyarrow as pa
    import pyarrow.parquet as pq

    spool = Path(tempfile.mkdtemp(prefix="p4spark_spool_"))
    spool_events(spark, sf_dir, str(spool))
    # Integer epoch-micros end to end: collect() of a TimestampType
    # converts through the PYTHON PROCESS's local timezone (not the
    # UTC-pinned session), so on a non-UTC host a datetime-built
    # sentinel lands offset-hours EARLY, the watermark never clears the
    # last clicks, and their outer rows are silently never emitted —
    # caught live under TZ=America/New_York. unix_micros under the
    # UTC session equals the stored NTZ wall-clock, which is exactly
    # the frame the stream's NTZ->LTZ read uses.
    #
    # r15: the max comes from the parquet FOOTER statistics (the q28
    # pattern, no Spark job). The footer max of an NTZ timestamp column
    # is the exact wall-clock max as a naive datetime, so epoch-micros
    # arithmetic on it equals unix_micros under the UTC session; the
    # sentinel lead only has to CLEAR the real max, and footer max ==
    # true max, so the spool is byte-identical either way. Any surprise
    # (no stats, tz-aware stat, non-datetime) falls back to the agg.
    max_us = None
    try:
        from datetime import datetime, timedelta

        from eeecs485_p4_mapreduce_spark.operators.relational import (
            _parquet_col_minmax,
        )

        mm = _parquet_col_minmax(table_path(sf_dir, "events"), "ts")
        if mm is not None and isinstance(mm[1], datetime) and mm[1].tzinfo is None:
            max_us = (mm[1] - datetime(1970, 1, 1)) // timedelta(microseconds=1)
    except Exception:  # noqa: BLE001 — stats are an optimization, never load-bearing
        max_us = None
    if max_us is None:  # pragma: no cover — driver tables always carry stats
        max_us = (
            load_table(spark, sf_dir, "events")
            .agg(F.max(F.unix_micros("ts")))
            .collect()[0][0]
        )
    sent_us = max_us + _SENTINEL_LEAD_HOURS * 3_600_000_000
    table = pa.table(
        {
            "event_id": pa.array([-1, -2], pa.int64()),
            "ts": pa.array([sent_us, sent_us], pa.timestamp("us")),
            "user_id": pa.array([-1, -1], pa.int64()),
            "event_type": pa.array(["click", "purchase"], pa.string()),
            "value": pa.array([0.0, 0.0], pa.float64()),
            "props": pa.array([None, None], pa.string()),
        }
    )
    pq.write_table(table, spool / "events-zzz-sentinel.parquet")
    return str(spool)


@query("stream_attribution_outer", oracle=STREAM_ATTR_OUTER_ORACLE)
def stream_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join driven to completion:
    every click emits exactly once — joined rows as soon as both sides
    arrive, null-padded rows once the watermark proves no purchase can
    still match (see _spool_with_sentinel for how a finite replay gets
    the watermark there). The batch oracle is the identical LEFT JOIN;
    a hash match proves the outer-emission semantics end-to-end. Null
    purchase columns are coalesced to sentinels (-1 / '-' / -1.0) on
    BOTH sides so the hash never rides on pandas' nullable-int-to-float
    coercion."""
    from eeecs485_p4_mapreduce_spark.streaming.jobs import (
        click_to_purchase_outer_stream,
        read_event_stream,
        run_to_memory,
    )

    spool = _spool_with_sentinel(spark, sf_dir)
    name = f"stream_attr_outer_{uuid.uuid4().hex[:8]}"
    try:
        run_to_memory(
            click_to_purchase_outer_stream(
                read_event_stream(spark, spool),
                horizon_minutes=ATTR_HORIZON_MINUTES,
            ),
            name,
            output_mode="append",
        )
    finally:
        shutil.rmtree(spool, ignore_errors=True)
    return (
        spark.table(name)
        .filter(F.col("click_id") >= 0)
        .select(
            "click_id",
            "user_id",
            F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias(
                "click_ts"
            ),
            F.coalesce("purchase_id", F.lit(-1)).alias("purchase_id"),
            F.coalesce(
                F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss"),
                F.lit("-"),
            ).alias("purchase_ts"),
            F.coalesce("purchase_value", F.lit(-1.0)).alias("purchase_value"),
        )
    )
