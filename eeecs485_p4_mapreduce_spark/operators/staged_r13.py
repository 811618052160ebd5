"""REGISTERED batch (promoted via ``registry.load_all``; first driver
rows expected in CORRECTNESS_r08 — it was staged one judged round
earlier under the shared staging discipline).

This batch covers the DATA-LAYOUT and SOURCE-CONTRACT levers a 100 TB
deployment actually pulls — partition pruning, bucketed co-located
joins, the ORC and XML format contracts, malformed-record rescue, and
shard manifests — each as a graded, oracle-checked query rather than a
doc claim. Same staging discipline as operators/staged_r9–r12; same
registered-query contract (identical aliases both sides, integer-exact
or round()-ed outputs, no nullable hash-bearing columns).

Staged surface:

- ``q94_orc_roundtrip`` — the ORC sink/source contract: an adversarial
  documents slice written through the ORC sink and read back with an
  explicit schema, aggregated against a straight-from-parquet oracle
  (the q82-CSV pattern, third columnar format).
- ``q95_xml_roundtrip`` — the XML sink/source contract (Spark 4 native
  XML): field content with &, <, >, quotes, and NULLs must survive XML
  escaping and entity decoding; explicit schema, never inference.
- ``q96_partitioned_prune`` — partition pruning end-to-end: events
  written PARTITIONED BY event_type, read back with a partition-column
  filter, aggregated. The query output proves value correctness; the
  pytest fixture proves the SCAN only touched the matching partition
  directories (inputFiles inspection) — the I/O claim itself.
- ``q97_bucketed_join`` — bucketed co-located join: two per-user
  aggregates saved as tables BUCKETED BY user_id (same bucket count),
  then sort-merge-joined WITHOUT a shuffle (pytest asserts the plan
  has no exchange above either scan). This is the layout trick that
  turns the nightly fact-fact join into a zero-shuffle merge at 100 TB.
- ``q98_csv_malformed_audit`` — PERMISSIVE-mode ingestion rescue: a
  CSV directory containing deliberately corrupt lines is read with a
  corrupt-record column; good rows aggregate normally, bad lines are
  counted, nothing is silently dropped (the resilience contract every
  crawl ingest needs).
- ``curate_shard_manifest`` — export-shard integrity: documents are
  exported as hash-assigned JSON shards alongside a manifest of
  per-shard row counts and id checksums computed from the DATA; the
  query re-reads the shards, recomputes, and verifies shard-for-shard
  (the manifest handshake every dataset release uses).
- ``ta_vocab_growth`` — vocabulary growth (the Heaps'-law curve): new
  and cumulative distinct tokens per corpus decile, exactly, from each
  token's first-occurrence document — one aggregation, no resampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eeecs485_p4_mapreduce_spark.catalog import load_table
from eeecs485_p4_mapreduce_spark.registry import query

# ---------------------------------------------------------------------------
# q94: ORC roundtrip — same adversarial-content discipline as the CSV
# (q82) and JSONL (q89) contracts. ORC is a binary columnar format, so
# the failure surface is type mapping and NULL encoding rather than
# quoting; the tricky column still carries quotes/commas/spaces to
# prove string fidelity byte-for-byte.
# ---------------------------------------------------------------------------
# the single quote comes from chr(39): Spark's parser accepts \' in a
# string literal but DuckDB needs '' — chr(39) is the engine-neutral
# spelling (the q89 chr(92) lesson)
Q94_TRICKY = (
    """concat('" tricky ', substr(text, 1, 12), ' ,', chr(39), lang)"""
)

Q94_ORACLE = f"""
    WITH src AS (
      SELECT source,
             CASE WHEN doc_id % 6 = 0 THEN NULL ELSE {Q94_TRICKY} END
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


@query("q94_orc_roundtrip", oracle=Q94_ORACLE)
def q94_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write an adversarial documents slice through the ORC sink, read
    it back with an explicit schema, and aggregate (see section
    comment)."""
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(F.col("doc_id") % 6 == 0, F.lit(None)).otherwise(
            F.expr(Q94_TRICKY)
        ).alias("tricky"),
        "n_chars",
    )
    out_dir = tempfile.mkdtemp(prefix="p4spark_orc_")
    try:
        docs.write.mode("overwrite").orc(out_dir)
        back = spark.read.schema(
            "doc_id BIGINT, source STRING, tricky STRING, n_chars BIGINT"
        ).orc(out_dir)
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
# q95: XML roundtrip — Spark 4's native XML source. The adversarial
# content targets XML's OWN failure surface: &, <, > and quotes must
# entity-escape on write and decode on read, and NULL fields are
# omitted elements that must come back as SQL NULLs under the explicit
# schema. rowTag is explicit; inference is never used.
# ---------------------------------------------------------------------------
Q95_TRICKY = (
    """concat('a & b <tag> "', substr(text, 1, 8), '" </tag>')"""
)

Q95_ORACLE = f"""
    WITH src AS (
      SELECT source,
             CASE WHEN doc_id % 4 = 0 THEN NULL ELSE {Q95_TRICKY} END
               AS tricky,
             n_chars, doc_id
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) - count(tricky) AS BIGINT) AS n_null_tricky,
           CAST(coalesce(sum(len(tricky)), 0) AS BIGINT) AS sum_tricky_len,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM src GROUP BY source
"""


@query("q95_xml_roundtrip", oracle=Q95_ORACLE)
def q95_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write an adversarial documents slice through the native XML
    sink, read it back with an explicit schema, and aggregate (see
    section comment)."""
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(F.col("doc_id") % 4 == 0, F.lit(None)).otherwise(
            F.expr(Q95_TRICKY)
        ).alias("tricky"),
        "n_chars",
    )
    out_dir = tempfile.mkdtemp(prefix="p4spark_xml_")
    try:
        (
            docs.write.mode("overwrite")
            .option("rootTag", "docs")
            .option("rowTag", "doc")
            .format("xml")
            .save(out_dir)
        )
        back = (
            spark.read.schema(
                "doc_id BIGINT, source STRING, tricky STRING, n_chars BIGINT"
            )
            .option("rowTag", "doc")
            .format("xml")
            .load(out_dir)
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
                F.min("doc_id").alias("first_doc"),
            )
            .localCheckpoint()  # materialize before the tempdir vanishes
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return result


# ---------------------------------------------------------------------------
# q96: partition pruning, graded. Events are written PARTITIONED BY
# event_type; the read applies a partition-column filter and
# aggregates. Correct VALUES prove the partitioned write/read path; the
# I/O claim — that the scan opened only the two matching partition
# directories — is asserted in tests/test_staged_r13.py via
# DataFrame.inputFiles() (files from other partitions must not appear).
# At 100 TB this is the difference between scanning 2/N and N/N of the
# corpus for a selective query.
# ---------------------------------------------------------------------------
Q96_TYPES = ("purchase", "signup")

Q96_ORACLE = f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events
    WHERE event_type IN {Q96_TYPES!r}
    GROUP BY event_type
"""


def _q96_partitioned_read(spark: SparkSession, sf_dir: str):
    """Write the partitioned copy and return (filtered_df, out_dir) —
    shared by the registered query and the pruning plan test."""
    import tempfile

    events = load_table(spark, sf_dir, "events")
    out_dir = tempfile.mkdtemp(prefix="p4spark_part_")
    (
        events.write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(out_dir)
    )
    back = spark.read.parquet(out_dir)
    return back.filter(F.col("event_type").isin(*Q96_TYPES)), out_dir


@query("q96_partitioned_prune", oracle=Q96_ORACLE)
def q96_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned aggregate over a partitioned copy of events
    (see section comment)."""
    import shutil

    filtered, out_dir = _q96_partitioned_read(spark, sf_dir)
    try:
        result = (
            filtered.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum(
                    F.expr("cast(round(value * 100, 0) as bigint)")
                ).alias("sum_cents"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return result


# ---------------------------------------------------------------------------
# q97: bucketed co-located join. Two per-user aggregates (spend from
# purchases, activity from views) are saved as tables BUCKETED BY
# user_id into the same bucket count, then sort-merge-joined with the
# broadcast path disabled (merge hint): because both sides share the
# bucketing, the join needs NO exchange — the plan-shape test asserts
# zero shuffles above the scans. This is the layout lever that turns a
# recurring 100 TB fact-fact join into local merges; the registered
# output re-aggregates the join so values stay oracle-checkable.
# ---------------------------------------------------------------------------
Q97_ORACLE = """
    WITH spend AS (
      SELECT user_id,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), activity AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS views
      FROM events WHERE event_type = 'view' GROUP BY user_id
    )
    SELECT CAST(s.user_id % 8 AS BIGINT) AS user_band,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(s.cents) AS BIGINT) AS sum_cents,
           CAST(sum(a.views) AS BIGINT) AS sum_views
    FROM spend s JOIN activity a ON a.user_id = s.user_id
    GROUP BY 1
"""


def _q97_bucketed_tables(spark: SparkSession, sf_dir: str):
    """Save the two per-user aggregates as bucketed tables; returns
    (joined_df, table_names). Shared by the registered query and the
    no-exchange plan test."""
    import uuid

    events = load_table(spark, sf_dir, "events")
    tag = uuid.uuid4().hex[:8]
    t_spend, t_act = f"p4b_spend_{tag}", f"p4b_act_{tag}"
    (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.expr("cast(round(value * 100, 0) as bigint)")).alias(
                "cents"
            )
        )
        .write.mode("overwrite")
        .bucketBy(8, "user_id")
        .sortBy("user_id")
        .saveAsTable(t_spend)
    )
    (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("views"))
        .write.mode("overwrite")
        .bucketBy(8, "user_id")
        .sortBy("user_id")
        .saveAsTable(t_act)
    )
    s = spark.table(t_spend)
    a = spark.table(t_act).withColumnRenamed("user_id", "a_user_id")
    joined = s.hint("merge").join(
        a, s["user_id"] == a["a_user_id"]
    )
    return joined, (t_spend, t_act)


@query("q97_bucketed_join", oracle=Q97_ORACLE)
def q97_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-shuffle bucketed join of two per-user aggregates (see
    section comment)."""
    joined, tables = _q97_bucketed_tables(spark, sf_dir)
    try:
        result = (
            joined.groupBy(F.expr("user_id % 8").alias("user_band"))
            .agg(
                F.count(F.lit(1)).alias("n_users"),
                F.sum("cents").alias("sum_cents"),
                F.sum("views").alias("sum_views"),
            )
            .localCheckpoint()
        )
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    return result


# ---------------------------------------------------------------------------
# q98: malformed-record rescue. A CSV directory holds the good rows
# (exported from documents, headerless, explicit schema) PLUS one
# crafted part file of deliberately corrupt lines (wrong arity,
# non-numeric ids). PERMISSIVE mode must load every good row intact,
# capture each bad line in the corrupt-record column, and drop
# nothing silently — the count of both is the graded output. The
# corrupt side is a fixed 3-line file, so its count is a constant the
# oracle shares.
# ---------------------------------------------------------------------------
Q98_BAD_LINES = (
    "not_a_number,srcX,hello,42",
    "1,only_two_fields",
    "2,srcY,unterminated \" quote,x",
)

Q98_ORACLE = f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY source
    UNION ALL
    SELECT '__corrupt__' AS source,
           CAST({len(Q98_BAD_LINES)} AS BIGINT) AS n_docs,
           CAST(0 AS BIGINT) AS sum_chars
"""


@query("q98_csv_malformed_audit", oracle=Q98_ORACLE)
def q98_csv_malformed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV ingestion with corrupt-record accounting (see
    section comment)."""
    import shutil
    import tempfile
    from pathlib import Path

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    out_dir = tempfile.mkdtemp(prefix="p4spark_badcsv_")
    try:
        docs.write.mode("overwrite").csv(out_dir)
        (Path(out_dir) / "part-bad.csv").write_text(
            "\n".join(Q98_BAD_LINES) + "\n"
        )
        back = (
            spark.read.schema(
                "doc_id BIGINT, source STRING, n_chars BIGINT,"
                " _corrupt STRING"
            )
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .csv(out_dir)
            # Spark refuses plans that reference ONLY the corrupt
            # column against raw files (the documented limitation);
            # materializing first lifts it — and we must read the dir
            # before the finally-cleanup anyway
            .localCheckpoint()
        )
        good = (
            back.filter(F.col("_corrupt").isNull())
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
            )
        )
        bad = back.filter(F.col("_corrupt").isNotNull()).agg(
            F.lit("__corrupt__").alias("source"),
            F.count(F.lit(1)).alias("n_docs"),
            F.lit(0).cast("long").alias("sum_chars"),
        )
        result = good.unionByName(bad).localCheckpoint()
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return result


# ---------------------------------------------------------------------------
# curate_shard_manifest: the dataset-release handshake. Documents are
# hash-assigned to 8 JSON shards; a manifest of per-shard row counts
# and doc-id checksums is computed from the DATAFRAME (never the file
# bytes — row order inside a shard is not deterministic, the content
# set is); the shards are then re-read and re-checksummed, and the
# query emits the shard-level comparison. A flipped bit, a lost row,
# or a shard/manifest mixup turns manifest_ok false and fails the
# oracle hash.
# ---------------------------------------------------------------------------
MANIFEST_SHARDS = 8

CURATE_MANIFEST_ORACLE = f"""
    SELECT CAST(doc_id % {MANIFEST_SHARDS} AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           TRUE AS manifest_ok
    FROM documents GROUP BY 1
"""


@query("curate_shard_manifest", oracle=CURATE_MANIFEST_ORACLE)
def curate_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export hash-assigned JSON shards plus a manifest, re-read and
    verify shard-for-shard (see section comment)."""
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars",
        (F.col("doc_id") % MANIFEST_SHARDS).alias("shard"),
    )
    root = tempfile.mkdtemp(prefix="p4spark_manifest_")
    try:
        docs.write.mode("overwrite").partitionBy("shard").json(
            root + "/shards"
        )
        manifest = docs.groupBy("shard").agg(
            F.count(F.lit(1)).alias("m_docs"),
            F.sum("doc_id").alias("m_ids"),
            F.sum("n_chars").alias("m_chars"),
        )
        manifest.write.mode("overwrite").parquet(root + "/manifest")
        re_manifest = spark.read.parquet(root + "/manifest")
        # the shard column comes back from the directory layout
        re_read = (
            spark.read.option("basePath", root + "/shards")
            .json(root + "/shards")
            .select("doc_id", "n_chars", F.col("shard").cast("long"))
        )
        recounted = re_read.groupBy("shard").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum("n_chars").alias("sum_chars"),
        )
        result = (
            recounted.join(F.broadcast(re_manifest), "shard")
            .select(
                "shard",
                "n_docs",
                "sum_ids",
                "sum_chars",
                (
                    (F.col("n_docs") == F.col("m_docs"))
                    & (F.col("sum_ids") == F.col("m_ids"))
                    & (F.col("sum_chars") == F.col("m_chars"))
                ).alias("manifest_ok"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return result


# ---------------------------------------------------------------------------
# ta_vocab_growth: the Heaps'-law curve, exactly. Each token's FIRST
# occurrence document determines the corpus decile in which it enters
# the vocabulary; one (token -> min doc_id) aggregation plus a 10-row
# cumulative sum gives new-token and cumulative-vocabulary counts per
# decile with no sampling and no re-scans. Deciles come from doc_id
# order (the corpus' ingest order), bucket k covering doc_ids in
# [N*k/10, N*(k+1)/10).
# ---------------------------------------------------------------------------
TA_VOCAB_ORACLE = """
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    firstocc AS (
      SELECT token, min(doc_id) AS first_doc
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents)
      WHERE token <> ''
      GROUP BY token
    ), bucketed AS (
      SELECT least((first_doc * 10) // n_docs, 9) + 1 AS decile,
             CAST(count(*) AS BIGINT) AS new_tokens
      FROM firstocc, n GROUP BY 1
    )
    SELECT CAST(decile AS BIGINT) AS decile, new_tokens,
           CAST(sum(new_tokens) OVER (ORDER BY decile) AS BIGINT)
             AS cum_vocab
    FROM bucketed
"""


@query("ta_vocab_growth", oracle=TA_VOCAB_ORACLE)
def ta_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vocabulary-growth curve per corpus decile (see section
    comment)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    firstocc = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    bucketed = (
        firstocc.crossJoin(F.broadcast(n))
        .groupBy(
            (
                F.least(
                    F.expr("(first_doc * 10) div n_docs"), F.lit(9)
                )
                + 1
            ).alias("decile")
        )
        .agg(F.count(F.lit(1)).alias("new_tokens"))
    )
    cum = F.sum("new_tokens").over(
        Window.orderBy("decile").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    return bucketed.select(
        "decile", "new_tokens", cum.alias("cum_vocab")
    )
