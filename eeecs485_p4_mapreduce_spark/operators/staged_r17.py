"""Queries REGISTERED via ``registry.load_all`` (staged one judged
round under the full discipline, then flipped; first driver rows
expected in ``CORRECTNESS_r09.json``).

Same staging discipline as operators/staged_r9–r16: built, pytest
hash-checked against DuckDB at sf0.001 and sf0.01
(tests/test_staged_r17.py), fixture-tested with independent
references, plan-gate swept, and x10/x100 replica-probed BEFORE
registration. Same contract as every registered query: identical
aliases both sides, round()-ed or integer-exact outputs, no nullable
hash-bearing columns.

Staged surface:

- ``q107_funnel_steps`` — the ordered 3-step conversion funnel
  (view → click → purchase, each step strictly AFTER the previous one
  in the user's own timeline — not mere set membership): per-step user
  counts and step-over-step conversion in exact ppm.
- ``sim_matryoshka_recall`` — Matryoshka-representation evaluation:
  exact top-k under the 16-dim PREFIX of each embedding vs exact top-k
  under the full 64 dims, recall@k per query — the measurement that
  decides whether truncated embeddings are safe to serve (MRL,
  Kusupati et al. 2022).
- ``curate_epoch_allocation`` — multi-epoch data allocation under a
  1.5x-token budget: every source gets one epoch; the leftover HALF
  of the corpus grants SECOND epochs in quality order (chars-per-doc)
  while the cumulative extra fits — the repeat-factor recipe data-
  constrained pretraining uses (cf. Muennighoff et al. 2023). At 2x
  the grant would be degenerate (cum extra can never exceed the
  total), so the budget is deliberately below 2x.
- ``mm_jpeg_exif`` — REAL JPEG APP1/EXIF walk: the marker stream is
  walked by length fields to the "Exif\\0\\0" APP1, whose embedded
  TIFF IFD (either byte order) is strictly parsed — ascending tag ids,
  inline SHORT values, out-of-line NUL-terminated ASCII values — for
  the orientation/make/software fields every image pipeline reads
  before touching pixels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eeecs485_p4_mapreduce_spark.catalog import load_table
from eeecs485_p4_mapreduce_spark.registry import query

# ---------------------------------------------------------------------------
# q107: ordered funnel. Step tables chain: t1 = each user's first view;
# t2 = first click strictly after t1; t3 = first purchase strictly
# after t2. Each step is one keyed aggregation joined to the previous
# step's user-sized table (shuffle on user_id — the scale-correct
# fact-fact shape; the step tables are pinned because each feeds both
# the next join and its own count). Epoch-micros comparisons, tz-free.
# ---------------------------------------------------------------------------
Q107_ORACLE = """
    WITH t1 AS (
      SELECT user_id, min(epoch_us(ts)) AS t FROM events
      WHERE event_type = 'view' GROUP BY 1
    ), t2 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t
      FROM events e JOIN t1 ON t1.user_id = e.user_id
       AND epoch_us(e.ts) > t1.t
      WHERE e.event_type = 'click' GROUP BY 1
    ), t3 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t
      FROM events e JOIN t2 ON t2.user_id = e.user_id
       AND epoch_us(e.ts) > t2.t
      WHERE e.event_type = 'purchase' GROUP BY 1
    ), c AS (
      SELECT (SELECT count(*) FROM t1) AS s1,
             (SELECT count(*) FROM t2) AS s2,
             (SELECT count(*) FROM t3) AS s3
    )
    SELECT CAST(step AS BIGINT) AS step, step_name,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(conv AS BIGINT) AS conv_from_prev_ppm
    FROM (
      SELECT 1 AS step, 'view' AS step_name, s1 AS n_users,
             1000000 AS conv FROM c
      UNION ALL
      SELECT 2, 'click', s2, s2 * 1000000 // greatest(s1, 1) FROM c
      UNION ALL
      SELECT 3, 'purchase', s3, s3 * 1000000 // greatest(s2, 1) FROM c
    )
"""


@query("q107_funnel_steps", oracle=Q107_ORACLE)
def q107_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel (see section comment)."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
    )
    t1 = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t"))
        .localCheckpoint(eager=False)  # feeds the t2 join AND the step-1 count
    )
    t2 = (
        events.filter(F.col("event_type") == "click")
        .join(t1.withColumnRenamed("t", "t_prev"), "user_id")
        .filter(F.col("us") > F.col("t_prev"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t"))
        .localCheckpoint(eager=False)
    )
    t3 = (
        events.filter(F.col("event_type") == "purchase")
        .join(t2.withColumnRenamed("t", "t_prev"), "user_id")
        .filter(F.col("us") > F.col("t_prev"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t"))
    )
    c = (
        t1.agg(F.count(F.lit(1)).alias("s1"))
        .crossJoin(F.broadcast(t2.agg(F.count(F.lit(1)).alias("s2"))))
        .crossJoin(F.broadcast(t3.agg(F.count(F.lit(1)).alias("s3"))))
        .localCheckpoint(eager=False)  # 1 row; feeds the three union branches
    )
    rows = [
        ("1L", "'view'", "s1", "1000000L"),
        ("2L", "'click'", "s2", "s2 * 1000000 div greatest(s1, 1L)"),
        ("3L", "'purchase'", "s3", "s3 * 1000000 div greatest(s2, 1L)"),
    ]
    parts = [
        c.selectExpr(
            f"{step} AS step",
            f"{name} AS step_name",
            f"{n} AS n_users",
            f"{conv} AS conv_from_prev_ppm",
        )
        for step, name, n, conv in rows
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# sim_matryoshka_recall: does the 16-dim PREFIX of the 64-dim
# embeddings preserve the neighborhood? Exact top-k under prefix
# cosine vs exact top-k under full cosine, overlap per query. Both
# rankings use the established sim-family determinism (identical
# sequential fold order both engines, id tie-breaks); the corpus never
# shuffles — queries broadcast, per-query top-k via bounded windows
# over the scored relation exactly as sim_topk_bruteforce.
# ---------------------------------------------------------------------------
MRL_PREFIX_DIM = 16
MRL_N_QUERIES = 8
MRL_TOP_K = 10

_MRL_FULL_COS = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
    "    * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)
_MRL_PFX_COS = (
    f"list_dot_product((a.embedding::DOUBLE[])[1:{MRL_PREFIX_DIM}],"
    f" (b.embedding::DOUBLE[])[1:{MRL_PREFIX_DIM}])"
    f" / (sqrt(list_dot_product((a.embedding::DOUBLE[])[1:{MRL_PREFIX_DIM}],"
    f" (a.embedding::DOUBLE[])[1:{MRL_PREFIX_DIM}]))"
    f" * sqrt(list_dot_product((b.embedding::DOUBLE[])[1:{MRL_PREFIX_DIM}],"
    f" (b.embedding::DOUBLE[])[1:{MRL_PREFIX_DIM}])))"
)


def _mrl_topk_cte(cos: str, name: str) -> str:
    return f"""{name} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {cos} DESC, b.vec_id) AS rk
        FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < {MRL_N_QUERIES}
      ) WHERE rk <= {MRL_TOP_K}
    )"""


SIM_MRL_ORACLE = f"""
    WITH {_mrl_topk_cte(_MRL_FULL_COS, "full_k")},
    {_mrl_topk_cte(_MRL_PFX_COS, "pfx_k")}
    SELECT f.query_id,
           CAST(count(*) AS BIGINT) AS n_full,
           CAST(count(p.neighbor_id) AS BIGINT) AS n_overlap,
           round(count(p.neighbor_id) * 1.0 / count(*), 4) + 0.0
             AS recall
    FROM full_k f
    LEFT JOIN pfx_k p
      ON p.query_id = f.query_id AND p.neighbor_id = f.neighbor_id
    GROUP BY 1
"""


@query("sim_matryoshka_recall", oracle=SIM_MRL_ORACLE)
def sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of prefix-dim cosine against full-dim cosine (see
    section comment)."""
    from pyspark.sql.window import Window

    from eeecs485_p4_mapreduce_spark.operators.similarity import (
        _emb_with_norm,
    )

    emb = _emb_with_norm(spark, sf_dir).withColumn(
        "pv", F.expr(f"slice(v, 1, {MRL_PREFIX_DIM})")
    ).withColumn(
        "pnorm",
        F.sqrt(
            F.expr(
                "aggregate(zip_with(pv, pv, (x, y) -> x * y), 0.0d,"
                " (acc, x) -> acc + x)"
            )
        ),
    ).localCheckpoint(eager=False)  # feeds both rankings' query AND candidate sides

    def topk(qv_col: str, v_col: str, qn_col: str, n_col: str):
        queries = emb.filter(F.col("vec_id") < MRL_N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col(qv_col).alias("qv"),
            F.col(qn_col).alias("qn"),
        )
        cand = emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col(v_col).alias("cv"),
            F.col(n_col).alias("cn"),
        )
        dot = F.expr(
            "aggregate(zip_with(qv, cv, (x, y) -> x * y), 0.0d,"
            " (acc, x) -> acc + x)"
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos").desc(), F.col("neighbor_id")
        )
        return (
            cand.join(
                F.broadcast(queries),
                F.col("neighbor_id") != F.col("query_id"),
            )
            .withColumn("cos", dot / (F.col("qn") * F.col("cn")))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= MRL_TOP_K)
            .select("query_id", "neighbor_id")
        )

    full_k = topk("v", "v", "norm", "norm")
    pfx_k = topk("pv", "pv", "pnorm", "pnorm").withColumn(
        "hit", F.lit(1)
    ).localCheckpoint(eager=False)  # bounded; feeds the overlap join once per side
    return (
        full_k.join(pfx_k, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_full"),
            F.count("hit").alias("n_overlap"),
        )
        .select(
            "query_id",
            "n_full",
            "n_overlap",
            (
                F.round(
                    F.col("n_overlap").cast("double")
                    / F.col("n_full").cast("double"),
                    4,
                )
                + F.lit(0.0)
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# curate_epoch_allocation: repeat-factor allocation under a 1.5x
# token budget. Every source trains one epoch; the leftover HALF of
# the corpus (extra = total div 2) grants SECOND epochs in quality
# order — chars per doc descending, source ascending on ties — to
# each source whose CUMULATIVE extra still fits (an exclusive running
# sum over the source-domain table, bounded rows). A 2x budget would
# be degenerate (the cumulative extra can never exceed the total, so
# everyone gets two epochs); 1.5x makes the quality order binding.
# Output: per-source epochs, allocated tokens, exact-ppm share.
# ---------------------------------------------------------------------------
CURATE_EPOCH_ORACLE = """
    WITH per_source AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY 1
    ), tot AS (SELECT CAST(sum(chars) AS BIGINT) AS t FROM per_source),
    ranked AS (
      SELECT source, n_docs, chars, chars // n_docs AS cpd,
             coalesce(sum(chars) OVER (
               ORDER BY chars // n_docs DESC, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM per_source
    ), alloc AS (
      SELECT r.source, r.n_docs, r.chars, r.cpd,
             CASE WHEN r.cum_before + r.chars <= t.t // 2 THEN 2 ELSE 1 END
               AS epochs
      FROM ranked r, tot t
    ), walloc AS (
      SELECT *, CAST(epochs * chars AS BIGINT) AS alloc_tokens
      FROM alloc
    ), wtot AS (SELECT sum(alloc_tokens) AS at FROM walloc)
    SELECT w.source, w.n_docs, w.chars,
           CAST(w.cpd AS BIGINT) AS chars_per_doc,
           CAST(w.epochs AS BIGINT) AS epochs,
           w.alloc_tokens,
           CAST(w.alloc_tokens * 1000000 // wt.at AS BIGINT)
             AS alloc_share_ppm
    FROM walloc w, wtot wt
"""


@query("curate_epoch_allocation", oracle=CURATE_EPOCH_ORACLE)
def curate_epoch_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted second-epoch allocation in quality order (see section
    comment)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    ).localCheckpoint(eager=False)  # source-domain sized; feeds total + ranking
    tot = per_source.agg(F.sum("chars").alias("t"))
    w = Window.orderBy(
        F.expr("chars div n_docs").desc(), F.col("source")
    ).rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_source.select(
        "source",
        "n_docs",
        "chars",
        F.expr("chars div n_docs").alias("cpd"),
        F.coalesce(F.sum("chars").over(w), F.lit(0)).alias("cum_before"),
    )
    alloc = (
        ranked.crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "n_docs",
            "chars",
            "cpd",
            "CASE WHEN cum_before + chars <= t div 2 THEN 2L ELSE 1L END"
            " AS epochs",
        )
        .withColumn("alloc_tokens", F.expr("epochs * chars"))
        .localCheckpoint(eager=False)  # feeds the share normalizer AND the output
    )
    wtot = alloc.agg(F.sum("alloc_tokens").alias("at"))
    return alloc.crossJoin(F.broadcast(wtot)).selectExpr(
        "source",
        "n_docs",
        "chars",
        "cpd AS chars_per_doc",
        "epochs",
        "alloc_tokens",
        "alloc_tokens * 1000000 div at AS alloc_share_ppm",
    )


# ---------------------------------------------------------------------------
# mm_jpeg_exif: REAL EXIF walk (see encode_jpeg_exif/parse_jpeg_exif
# in multimodal.py). Per doc: orientation 1 + d % 8, make "Cam<d%31>",
# software "v<d%17>.<d%5>", byte order alternating by parity — every
# emitted column comes from the strict parse, and the oracle mirrors
# the byte arithmetic with len(CAST(...)) so decimal widths stay exact
# at any doc_id magnitude.
# ---------------------------------------------------------------------------
EXIF_SCHEMA_FIELDS = (
    "media_id",
    "n_tags",
    "orientation",
    "make_len",
    "software_len",
    "exif_bytes",
    "big_endian",
    "file_bytes",
)

MM_EXIF_ORACLE = """
    WITH p AS (
      SELECT doc_id,
             3 + len(CAST(doc_id % 31 AS VARCHAR)) AS mk,
             1 + len(CAST(doc_id % 17 AS VARCHAR))
               + 1 + len(CAST(doc_id % 5 AS VARCHAR)) AS sw
      FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(3 AS BIGINT) AS n_tags,
           CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
           CAST(mk AS BIGINT) AS make_len,
           CAST(sw AS BIGINT) AS software_len,
           CAST(6 + 50 + (mk + 1) + (sw + 1) AS BIGINT) AS exif_bytes,
           CAST(doc_id % 2 AS BIGINT) AS big_endian,
           CAST(2 + 4 + 6 + 50 + (mk + 1) + (sw + 1) + 2 AS BIGINT)
             AS file_bytes
    FROM p
"""


@query("mm_jpeg_exif", oracle=MM_EXIF_ORACLE)
def mm_jpeg_exif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: build a JPEG-with-EXIF and re-parse it with the
    real marker/IFD walker (see section comment). Zero-shuffle Arrow
    mapInPandas via the shared media_walk_query scaffold."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_jpeg_exif,
        media_walk_query,
        parse_jpeg_exif,
    )

    def per_doc(d: int) -> dict:
        return parse_jpeg_exif(
            encode_jpeg_exif(
                1 + d % 8,
                f"Cam{d % 31}",
                f"v{d % 17}.{d % 5}",
                big_endian=bool(d % 2),
            )
        )

    return media_walk_query(spark, sf_dir, EXIF_SCHEMA_FIELDS, per_doc)
