"""REGISTERED batch (promoted via ``registry.load_all``; first driver
rows expected in CORRECTNESS_r08 — it was staged one judged round
earlier under the shared staging discipline).

Same staging discipline and registered-query contract as
operators/staged_r9–r13. This batch closes out the session with an
estimator-calibration audit, an equi-depth histogram (the skew-proof
twin of q60's equi-width bins), a streaming dead-letter queue, and the
RLE-compressed branch of the BMP codec.

Staged surface:

- ``q99_equi_depth_bins`` — exact quartile boundaries per event type
  from the (type, cents) count histogram: boundary j is the smallest
  value whose cumulative count reaches j/4 of the type's total — the
  equi-DEPTH bins that stay balanced under value skew where q60's
  equi-width bins collapse into one bucket.
- ``dedup_minhash_calibration`` — estimator calibration, graded: for
  every MinHash-LSH candidate pair, the EXACT 3-shingle Jaccard is
  computed (set semantics, inverted-index co-counts — never all pairs)
  and aggregated by shared-band count, so the table shows what
  similarity each banding signal level actually corresponds to. The
  fixture asserts the expected monotonicity (more shared bands ->
  higher mean Jaccard).
- ``stream_dlq_routing`` — the dead-letter queue: foreachBatch routes
  rule-violating rows (negative values injected into the replay) to a
  side parquet sink while valid rows merge into the count snapshot;
  the finalization reports per-type valid counts plus the DLQ total —
  nothing is dropped silently, the streaming twin of
  q98_csv_malformed_audit.
- ``mm_bmp_rle8`` — REAL RLE8-compressed BMP roundtrip: run-length
  encoded mode, end-of-line/bitmap escapes, and the 256-entry palette,
  decoded strictly on the executors; emitted pixel checksums prove the
  palette lookup and the compression ratio is part of the graded
  output (constant-index rows compress ~w/4 : 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eeecs485_p4_mapreduce_spark.catalog import load_table, read_parquet_cached
from eeecs485_p4_mapreduce_spark.registry import query

# ---------------------------------------------------------------------------
# q99: equi-depth (quartile) bins. From the exact per-(type, cents)
# count histogram, boundary j (j = 1..3) is the smallest cents value
# whose running count reaches ceil(n*j/4) — computed as min(v) over
# rows with cum*4 >= n*j, one support-sized window per type (the q24
# rule: windows run over the value-domain aggregate, never the fact
# table). Unlike q60's fixed-width bins, these stay balanced under any
# value skew.
# ---------------------------------------------------------------------------
Q99_ORACLE = """
    WITH c AS (
      SELECT event_type AS t, CAST(round(value * 100, 0) AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), cum AS (
      SELECT t, v,
             sum(cnt) OVER (PARTITION BY t ORDER BY v) AS cm,
             sum(cnt) OVER (PARTITION BY t) AS n
      FROM c
    ), q(j) AS (VALUES (1), (2), (3))
    SELECT cum.t AS event_type, CAST(q.j AS BIGINT) AS quartile,
           CAST(min(cum.v) AS BIGINT) AS boundary_cents,
           CAST(max(cum.n) AS BIGINT) AS n_events
    FROM cum CROSS JOIN q
    WHERE cum.cm * 4 >= cum.n * q.j
    GROUP BY 1, 2
"""


@query("q99_equi_depth_bins", oracle=Q99_ORACLE)
def q99_equi_depth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quartile boundaries per event type from the value-domain
    histogram (see section comment)."""
    events = load_table(spark, sf_dir, "events")
    c = events.groupBy(
        F.col("event_type").alias("t"),
        F.expr("cast(round(value * 100, 0) as bigint)").alias("v"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    cum = c.select(
        "t",
        "v",
        F.expr(
            "sum(cnt) over (partition by t order by v)"
        ).alias("cm"),
        F.expr("sum(cnt) over (partition by t)").alias("n"),
    )
    quart = spark.createDataFrame([(1,), (2,), (3,)], "j long")
    return (
        cum.crossJoin(F.broadcast(quart))
        .filter(F.col("cm") * 4 >= F.col("n") * F.col("j"))
        .groupBy(F.col("t").alias("event_type"), F.col("j").alias("quartile"))
        .agg(
            F.min("v").alias("boundary_cents"),
            F.max("n").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_minhash_calibration: what does "k shared bands" actually mean?
# For every LSH candidate pair (the SAME production banding as
# dedup_minhash_lsh), the exact 3-word-shingle Jaccard is computed
# with set semantics: distinct (doc, shingle) posting lists co-counted
# per pair through the inverted index (only docs sharing a shingle
# ever pair — no all-pairs stage), then joined to the candidates. The
# graded table aggregates exact-Jaccard ppm by shared-band count: the
# empirical S-curve an LSH operator reads before trusting a banding
# config.
# ---------------------------------------------------------------------------
def _dedup_calib_oracle() -> str:
    from eeecs485_p4_mapreduce_spark.operators.dedup import (
        _DUCK_MINHASH_CTES,
        _DUCK_SHINGLES,
        _DUCK_TOKS,
    )

    return f"""
    WITH {_DUCK_MINHASH_CTES},
    ds AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s
        FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
      )
    ), sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM ds GROUP BY 1
    ), co AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS common
      FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), jac AS (
      SELECT p.n_shared_bands,
             (coalesce(co.common, 0) * 1000000)
               // (sa.sz + sb.sz - coalesce(co.common, 0)) AS jac_ppm
      FROM mh_pairs p
      LEFT JOIN co ON co.doc_a = p.doc_a AND co.doc_b = p.doc_b
      JOIN sizes sa ON sa.doc_id = p.doc_a
      JOIN sizes sb ON sb.doc_id = p.doc_b
    )
    SELECT CAST(n_shared_bands AS BIGINT) AS shared_bands,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(jac_ppm) // count(*) AS BIGINT) AS mean_jac_ppm,
           CAST(min(jac_ppm) AS BIGINT) AS min_jac_ppm,
           CAST(max(jac_ppm) AS BIGINT) AS max_jac_ppm
    FROM jac GROUP BY 1
    """


@query("dedup_minhash_calibration", oracle=_dedup_calib_oracle())
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-Jaccard calibration of the MinHash banding signal (see
    section comment)."""
    from eeecs485_p4_mapreduce_spark.operators.dedup import (
        _SPARK_TOKS,
        minhash_candidate_pairs,
        word_shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    from eeecs485_p4_mapreduce_spark.catalog import spread_small_source

    pairs = minhash_candidate_pairs(spark, sf_dir).localCheckpoint(eager=False)
    # The exact-Jaccard pass runs ONLY over docs that appear in an LSH
    # candidate pair: the inverted-index co-count over the full corpus
    # computed exact Jaccard for ~1.13M co-occurring pairs at sf0.1
    # when the calibration table consumes 256 (r09 census: 3.1s ->
    # ~1.8s warm). Candidate-bounded exact verification is also the
    # production shape — you never exact-score pairs LSH didn't
    # surface. Left-join semantics preserved: for candidate pairs the
    # restricted co-count is identical (both endpoints are in the doc
    # set), and sizes are per-doc, unchanged by the filter.
    cand_docs = (
        pairs.selectExpr("doc_a AS doc_id")
        .unionByName(pairs.selectExpr("doc_b AS doc_id"))
        .distinct()
    )
    ds = (
        spread_small_source(docs)
        .join(F.broadcast(cand_docs), "doc_id", "left_semi")
        .selectExpr(
            "doc_id", f"{word_shingles(_SPARK_TOKS, 3)} AS shingles"
        )
        .select("doc_id", F.explode("shingles").alias("s"))
        .distinct()
        .localCheckpoint(eager=False)  # reused by sizes and the co-count join
    )
    sizes = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    co = (
        ds.groupBy("s")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") > 1)
        .select(F.posexplode("docs").alias("i", "doc_a"), "docs")
        .select(
            "doc_a",
            F.explode(F.expr("slice(docs, i + 2, size(docs))")).alias(
                "doc_b"
            ),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("sz").alias("sa")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("sz").alias("sb")
    )
    jac = (
        pairs.join(co, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .selectExpr(
            "n_shared_bands",
            "(coalesce(common, 0L) * 1000000)"
            " div (sa + sb - coalesce(common, 0L)) AS jac_ppm",
        )
    )
    return (
        jac.groupBy(F.col("n_shared_bands").alias("shared_bands"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr("sum(jac_ppm) div count(*)").alias("mean_jac_ppm"),
            F.min("jac_ppm").alias("min_jac_ppm"),
            F.max("jac_ppm").alias("max_jac_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# stream_dlq_routing: the dead-letter queue. The replay spool gets a
# deterministic slice of RULE-VIOLATING rows (negative values, ids
# above 1e9); each foreachBatch routes violations to a batch-keyed
# side parquet sink (overwrite of dlq_dir/batch=<id>, so an at-least-
# once re-executed micro-batch rewrites its own subdirectory instead
# of double-appending) and merges the valid rows' per-type counts into
# the snapshot (the shared scaffold pattern, with the extra sink making
# it bespoke). Finalization emits per-type valid counts plus one
# '__dlq__' row — the invariant is that valid + dlq = everything that
# arrived, nothing silently dropped. DLQ state is violation-sized.
# ---------------------------------------------------------------------------
DLQ_BAD_ROWS = 7

STREAM_DLQ_ORACLE = f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__dlq__' AS event_type,
           CAST({DLQ_BAD_ROWS} AS BIGINT) AS n_events
"""


@query("stream_dlq_routing", oracle=STREAM_DLQ_ORACLE)
def stream_dlq_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-type counts with dead-letter routing of injected
    rule violations (see section comment)."""
    import shutil
    import tempfile
    from pathlib import Path

    from eeecs485_p4_mapreduce_spark.streaming.jobs import spool_events
    from eeecs485_p4_mapreduce_spark.streaming.queries import cached_layout

    def build(sp, d: str) -> None:
        spool_events(sp, sf_dir, d)
        staged = sorted(Path(d).glob("events-000*.parquet"))
        df_all = sp.read.parquet(*[str(p) for p in staged])
        # exactly ONE part file per slice so slice == micro-batch under
        # maxFilesPerTrigger=1 (a multi-part slice at sf0.1 made TEN
        # micro-batches out of an intended three)
        for i in range(2):
            df_all.filter(F.col("event_id") % 2 == i).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(Path(d) / f"slice-{i}.parquet"))
        # deterministic violations: negative values, out-of-range ids
        bad = sp.createDataFrame(
            [
                (10**9 + i, -1.0 - i, -1, "view")
                for i in range(DLQ_BAD_ROWS)
            ],
            "event_id long, value double, user_id long, event_type string",
        ).selectExpr(
            "event_id",
            "timestamp'2024-01-01 00:00:00' AS ts",
            "user_id",
            "event_type",
            "value",
            "'{}' AS props",
        )
        bad.select(df_all.columns).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(Path(d) / "slice-bad.parquet"))
        for pth in staged:
            pth.unlink()

    spool = cached_layout(spark, sf_dir, "dlq", build)

    out_dir = tempfile.mkdtemp(prefix="p4spark_dlq_snap_")
    dlq_dir = tempfile.mkdtemp(prefix="p4spark_dlq_side_")
    ckpt = tempfile.mkdtemp(prefix="p4spark_dlq_ckpt_")

    def route_batch(batch_df, _batch_id: int) -> None:
        # two sinks over one batch: the batch is file-source-backed, so
        # letting each sink re-scan its parquet slice is cheaper than a
        # localCheckpoint of the full event-sized batch (r09 A/B: the
        # per-batch pin wrote+read ~the whole slice, ~1s/batch at sf0.1)
        violations = batch_df.filter(F.col("value") < 0)
        # batch-keyed overwrite: foreachBatch is at-least-once, so a
        # replayed micro-batch must rewrite ITS OWN subdirectory, never
        # append a second copy (keeps valid + dlq == everything arrived)
        violations.write.mode("overwrite").parquet(
            f"{dlq_dir}/batch={_batch_id}"
        )
        # valid-count sink is batch-keyed too: per-batch partials folded
        # at finalize (count partials are sum-mergeable), which is both
        # replay-stable under at-least-once AND one write job per batch
        # instead of the read-union-overwrite merge (r09 A/B: ~2 fewer
        # jobs per micro-batch on the availableNow replay)
        (
            batch_df.filter(F.col("value") >= 0)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch={_batch_id}")
        )

    q = (
        spark.readStream.schema(
            read_parquet_cached(spark, str(Path(spool) / "slice-0.parquet")).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(spool + "/*.parquet")
        .writeStream.foreachBatch(route_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # spool is a cached layout (streaming.queries._LAYOUT_CACHE) — keep it
    # fold the batch-keyed partials (base-dir read: partition discovery
    # turns batch=<id> into a column; sum-merge is associative)
    counts = (
        read_parquet_cached(spark, out_dir)
        .groupBy("event_type")
        .agg(F.sum("n_events").alias("n_events"))
    )
    dlq = read_parquet_cached(spark, dlq_dir).agg(
        F.lit("__dlq__").alias("event_type"),
        F.count(F.lit(1)).alias("n_events"),
    )
    out = counts.unionByName(dlq).localCheckpoint()
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(dlq_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# mm_bmp_rle8: the RLE-compressed BMP branch (see encode_bmp_rle8 /
# decode_bmp_rle8_pixels in multimodal.py). Doc d builds an (8 + d%8)
# x (40 + d%200) indexed image whose row r is the constant palette
# index (d + r) % 16 under the doc-seeded palette
# pal[i] = ((i*7 + d) % 256, (i*11) % 256, (i*13 + 1) % 256); every
# row RLE-encodes to one run + EOL (4 bytes), making the compressed
# body exactly 4h + 2 bytes — the oracle checks the pixel checksum
# (palette lookup proof) AND the exact compression arithmetic.
# ---------------------------------------------------------------------------
RLE_SCHEMA_FIELDS = (
    "media_id",
    "width",
    "height",
    "pixel_sum",
    "body_bytes",
    "file_bytes",
)

MM_RLE_ORACLE = """
    WITH params AS (
      SELECT doc_id, 40 + doc_id % 200 AS w, 8 + doc_id % 8 AS h
      FROM documents
    ), rows_ AS (
      SELECT doc_id, w, h, t.r AS r,
             (doc_id + t.r) % 16 AS k
      FROM params, LATERAL (SELECT unnest(range(h)) AS r) t
    )
    SELECT doc_id AS media_id,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(sum(w * ((k * 7 + doc_id) % 256 + (k * 11) % 256
                         + (k * 13 + 1) % 256)) AS BIGINT) AS pixel_sum,
           CAST(max(h) * 4 + 2 AS BIGINT) AS body_bytes,
           CAST(1078 + max(h) * 4 + 2 AS BIGINT) AS file_bytes
    FROM rows_ GROUP BY doc_id
"""


@query("mm_bmp_rle8", oracle=MM_RLE_ORACLE)
def mm_bmp_rle8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: build a constant-row indexed image, RLE8-encode,
    strictly decode, and emit dimensions + RGB checksum + compression
    arithmetic (see section comment). Zero-shuffle Arrow mapInPandas
    via the shared media_walk_query scaffold."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_bmp_rle8_pixels,
        encode_bmp_rle8,
        media_walk_query,
    )

    def per_doc(d: int) -> dict:
        import numpy as np

        w, h = 40 + d % 200, 8 + d % 8
        pal = [
            ((i * 7 + d) % 256, (i * 11) % 256, (i * 13 + 1) % 256)
            for i in range(16)
        ]
        idx = np.empty((h, w), dtype=np.uint8)
        for r in range(h):
            idx[r, :] = (d + r) % 16
        blob = encode_bmp_rle8(idx, pal)
        px = decode_bmp_rle8_pixels(blob)
        return {
            "width": int(px.shape[1]),
            "height": int(px.shape[0]),
            "pixel_sum": int(px.astype("int64").sum()),
            "body_bytes": len(blob) - 1078,
            "file_bytes": len(blob),
        }

    return media_walk_query(spark, sf_dir, RLE_SCHEMA_FIELDS, per_doc)
