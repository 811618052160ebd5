"""REGISTERED batch (promoted via ``registry.load_all``; first driver
rows landed green in CORRECTNESS_r07 — it was staged one judged round
earlier).

Built, pytest hash-checked against DuckDB (tests/test_staged_r9.py),
plan-gate compliant, and x10/x100-probed before registration. Same
contract as every registered query: identical aliases both sides,
round()-ed or integer-exact outputs, no nullable hash-bearing columns.

Surface:

- ``q82_csv_roundtrip`` — the CSV sink/source contract end-to-end: a
  documents slice with adversarial field content (embedded quotes,
  commas, leading/trailing spaces, NULLs) is written through the CSV
  sink and read back through the CSV source with an explicit schema and
  a dedicated nullValue token, then aggregated; the oracle aggregates
  the same expressions straight from parquet, so any quoting, escaping,
  whitespace-trim, or NULL/empty-string confusion in the roundtrip
  hash-mismatches.
- ``q83_bfs_hops`` — multi-source BFS shortest-hop distance over a
  cyclic-free but multi-path part graph (tree edges parent->child plus
  grandparent shortcut edges), via frontier iteration with min-merge:
  the min-plus twin of q78's pointer doubling. Converges in O(diameter)
  = O(log n_parts) rounds, each one self-join shuffle; the driver-side
  loop checks one scalar count per round (bounded by the diameter).
- ``dedup_url_canonical`` — URL canonicalization dedup (the web-crawl
  preprocssing step): scheme/host lowercasing, default-port and
  fragment stripping, trailing-slash collapse, utm_* parameter removal,
  and query-parameter sorting, all in JVM-side regex/array functions;
  docs sharing a canonical URL collapse into one survivor group.
- ``curate_rejection_sample`` — reproducible hash-threshold rejection
  sampling (the production downsampling trick: accept iff a stable
  content hash falls below a per-stratum threshold, so ANY worker on
  ANY day re-derives the same sample with no RNG state): per-language
  hex thresholds over md5(doc_id), exact acceptance accounting.
- ``ta_ndcg_eval`` — ranking-quality evaluation: NDCG@10 of a term-
  frequency retrieval run against graded relevance from a held-out
  token, with log2 position discounts precomputed as shared integer
  micro literals so neither engine takes a float log at query time.
- ``sim_mips_search`` — maximum-inner-product search (the retrieval
  scoring that is NOT cosine): exact top-k by dot product, plus the
  norm-augmentation reduction (Bachrach et al. 2014: append
  sqrt(M^2-|x|^2) to candidates, 0 to queries, M = corpus max norm)
  executed for real on 65-dim augmented vectors and verified to produce
  the identical ranking, emitted as a deterministic boolean.
- ``mm_tar_webdataset`` — REAL POSIX ustar archive walk (the WebDataset
  shard layout): each document synthesizes a multi-member tar and the
  executors re-walk it — names, sizes, checksums, padding, and the
  end-of-archive marker are all validated and every emitted column
  comes from the PARSE. The encoder is independently cross-checked
  against Python's stdlib tarfile in pytest.
- ``mm_tiff_ifd`` — REAL TIFF IFD-chain walk in BOTH byte orders
  ('II' little / 'MM' big endian): multi-page IFDs with inline SHORT/
  LONG entries, strip offsets followed to the pixel data and checksummed
  so a one-byte offset drift fails the hash.
- ``stream_topk_windowed`` — streaming per-window top-k: foreachBatch
  merges per-(hour, event_type) counts into a stored snapshot (the
  mergeable-state pattern), and the finalization ranks the top 3 types
  per hour with deterministic ties; order- and batching-insensitive, so
  the replay is deterministic by construction.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eeecs485_p4_mapreduce_spark.catalog import load_table
from eeecs485_p4_mapreduce_spark.registry import query

# ---------------------------------------------------------------------------
# q82: the CSV sink/source contract. Spark's CSV writer quotes fields
# containing separators/quotes and (by default) TRIMS leading/trailing
# whitespace on write and conflates NULL with the empty string — the
# exact bugs that silently corrupt a text corpus exported to CSV. The
# query exercises the hardened configuration: trimming disabled both
# ways, a dedicated nullValue sentinel, explicit read schema (never
# inferSchema — a schema inference pass is a second full scan at 100 TB
# and can mistype columns), and adversarial field content built from
# documents.text. The aggregate after the roundtrip must equal the
# oracle's aggregate computed straight from parquet. Scale shape: CSV
# write/read are both splittable here (no multiLine), one shuffle for
# the final groupBy.
# ---------------------------------------------------------------------------
Q82_TRICKY = (
    """concat(' "', lang, '" , ', substr(text, 1, 15), ' ')"""
)

Q82_ORACLE = f"""
    WITH src AS (
      SELECT source,
             CASE WHEN doc_id % 7 = 0 THEN NULL ELSE {Q82_TRICKY} END
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


@query("q82_csv_roundtrip", oracle=Q82_ORACLE)
def q82_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write an adversarial documents slice through the CSV sink, read
    it back through the CSV source, and aggregate (see section
    comment). Any quoting/escaping/trim/NULL defect in either direction
    changes the aggregate and fails the oracle hash."""
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(
            F.expr(Q82_TRICKY)
        ).alias("tricky"),
        "n_chars",
    )
    out_dir = tempfile.mkdtemp(prefix="p4spark_csv_")
    try:
        (
            docs.write.mode("overwrite")
            .option("header", True)
            .option("nullValue", "\\N")
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .csv(out_dir)
        )
        back = (
            spark.read.schema(
                "doc_id BIGINT, source STRING, tricky STRING, n_chars BIGINT"
            )
            .option("header", True)
            .option("nullValue", "\\N")
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .csv(out_dir)
        )
        result = (
            back.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                (F.count(F.lit(1)) - F.count("tricky")).alias(
                    "n_null_tricky"
                ),
                F.coalesce(
                    F.sum(F.length("tricky")), F.lit(0)
                ).alias("sum_tricky_len"),
                F.sum("n_chars").alias("sum_chars"),
                F.min("doc_id").alias("first_doc"),
            )
            .localCheckpoint()  # materialize before the tempdir vanishes
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return result


# ---------------------------------------------------------------------------
# q83: multi-source BFS shortest hops — the min-plus counterpart of
# q78's pointer doubling, for graphs where paths are NOT unique. Nodes
# are parts; edges go parent -> child in the q78 8-ary tree (node div
# 8 -> node) PLUS a grandparent shortcut (node div 64 -> node for node
# >= 64), so most nodes are reachable at two different depths and the
# answer genuinely requires the min. Frontier iteration: dist starts at
# the roots (partkeys 0..7, hop 0); each round relaxes all out-edges of
# the newly-improved frontier, min-merges into dist, and stops when no
# node improved. Rounds needed = graph diameter = ceil(log8 n)
# shortcut-compressed, so the driver-side convergence loop runs
# O(log n) scalar count() checks — the documented cost of min-plus
# iteration (localCheckpoint per round keeps the plan O(1) deep).
# ---------------------------------------------------------------------------
Q83_ORACLE = """
    WITH RECURSIVE walk AS (
      SELECT p_partkey AS node, 0 AS d FROM part WHERE p_partkey < 8
      UNION
      SELECT p.p_partkey, w.d + 1
      FROM walk w
      JOIN part p
        ON (p.p_partkey >= 8 AND p.p_partkey // 8 = w.node)
        OR (p.p_partkey >= 64 AND p.p_partkey // 64 = w.node)
    ), dist AS (
      SELECT node, CAST(min(d) AS BIGINT) AS hop FROM walk GROUP BY node
    )
    SELECT hop,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node,
           CAST(sum(CAST(round(p.p_retailprice * 100, 0) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM dist JOIN part p ON p.p_partkey = dist.node
    GROUP BY hop
"""


@query("q83_bfs_hops", oracle=Q83_ORACLE)
def q83_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop distance from the root parts over tree + shortcut edges
    (see section comment): frontier iteration with min-merge, one
    self-join shuffle per round, O(log n) rounds."""
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"),
        F.expr("cast(round(p_retailprice * 100, 0) as bigint)").alias(
            "cents"
        ),
    )
    tree = part.filter(F.col("node") >= 8).select(
        F.expr("node div 8").alias("src"), F.col("node").alias("dst")
    )
    shortcut = part.filter(F.col("node") >= 64).select(
        F.expr("node div 64").alias("src"), F.col("node").alias("dst")
    )
    edges = tree.unionByName(shortcut).localCheckpoint()
    dist = (
        part.filter(F.col("node") < 8)
        .select("node", F.lit(0).cast("long").alias("hop"))
        .localCheckpoint()
    )
    frontier = dist
    # diameter <= log8(n_parts) thanks to the shortcut edges; the loop
    # is convergence-checked, 64 is a runaway backstop, never the bound
    for _ in range(64):
        relaxed = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("hop") + 1).alias("hop"),
            )
            .groupBy("node")
            .agg(F.min("hop").alias("hop"))
        )
        improved = (
            relaxed.join(
                dist.select(
                    F.col("node").alias("d_node"),
                    F.col("hop").alias("d_hop"),
                ),
                relaxed["node"] == F.col("d_node"),
                "left",
            )
            .filter(F.col("d_hop").isNull() | (F.col("hop") < F.col("d_hop")))
            .select("node", "hop")
            .localCheckpoint()
        )
        if improved.isEmpty():
            break
        dist = (
            dist.unionByName(improved)
            .groupBy("node")
            .agg(F.min("hop").alias("hop"))
            .localCheckpoint()
        )
        frontier = improved
    return (
        dist.join(part, "node")
        .groupBy("hop")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.sum("cents").alias("sum_cents"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_url_canonical: URL canonicalization — the first dedup pass of
# every web-crawl pipeline (CommonCrawl-style), where the SAME page is
# fetched under scheme-case, default-port, trailing-slash, fragment,
# tracking-parameter, and query-order variants. The documents table has
# no URL column, so each doc synthesizes one from doc_id arithmetic
# everyone can recompute: docs in the same group of 4 share a page;
# variants 0-2 differ only in canonicalization-removable noise, variant
# 3 carries a REAL extra query parameter (b=2) and must NOT collapse.
# The canonicalizer itself is generic (regex component split, default-
# port strip, utm_* filter, parameter sort) and runs entirely in
# JVM-side expressions — no UDF, one shuffle on the canonical string.
# ---------------------------------------------------------------------------
_URL_BUILD_SQL = """
  CASE doc_id % 4
    WHEN 0 THEN 'https://www.example' || ((doc_id // 4) % 50) || '.com/articles/item-' || (doc_id // 4) || '?id=' || (doc_id // 4)
    WHEN 1 THEN 'HTTPS://WWW.EXAMPLE' || ((doc_id // 4) % 50) || '.COM:443/articles/item-' || (doc_id // 4) || '/?utm_source=feed&id=' || (doc_id // 4)
    WHEN 2 THEN 'https://www.example' || ((doc_id // 4) % 50) || '.com/articles/item-' || (doc_id // 4) || '?id=' || (doc_id // 4) || '&utm_campaign=x#frag'
    ELSE 'https://www.example' || ((doc_id // 4) % 50) || '.com/articles/item-' || (doc_id // 4) || '?b=2&id=' || (doc_id // 4)
  END
"""

_URL_BUILD_SPARK = """
  CASE doc_id % 4
    WHEN 0 THEN concat('https://www.example', (doc_id div 4) % 50, '.com/articles/item-', doc_id div 4, '?id=', doc_id div 4)
    WHEN 1 THEN concat('HTTPS://WWW.EXAMPLE', (doc_id div 4) % 50, '.COM:443/articles/item-', doc_id div 4, '/?utm_source=feed&id=', doc_id div 4)
    WHEN 2 THEN concat('https://www.example', (doc_id div 4) % 50, '.com/articles/item-', doc_id div 4, '?id=', doc_id div 4, '&utm_campaign=x#frag')
    ELSE concat('https://www.example', (doc_id div 4) % 50, '.com/articles/item-', doc_id div 4, '?b=2&id=', doc_id div 4)
  END
"""

DEDUP_URL_ORACLE = f"""
    WITH urls AS (
      SELECT doc_id, {_URL_BUILD_SQL} AS url FROM documents
    ), parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
               AS scheme,
             regexp_replace(
               lower(regexp_extract(url,
                 '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
               ':(80|443)$', '') AS host,
             regexp_replace(
               regexp_extract(url,
                 '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
               '/+$', '') AS path,
             regexp_extract(regexp_replace(url, '#.*$', ''),
                            '[?](.*)$', 1) AS qs
      FROM urls
    ), canon AS (
      SELECT doc_id,
             scheme || '://' || host || path ||
             CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical
      FROM (
        SELECT doc_id, scheme, host, path,
               array_to_string(
                 list_sort(list_filter(string_split(qs, '&'),
                   p -> p <> '' AND NOT starts_with(p, 'utm_'))),
                 '&') AS q
        FROM parts
      )
    )
    SELECT canonical,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(min(doc_id) AS BIGINT) AS survivor_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM canon GROUP BY canonical
"""


@query("dedup_url_canonical", oracle=DEDUP_URL_ORACLE)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize synthesized URL variants and collapse duplicates
    (see section comment). All string surgery is JVM-side regex/array
    expressions; the only shuffle is the final groupBy on the
    canonical URL."""
    docs = load_table(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"({_URL_BUILD_SPARK}) AS url"
    )
    nofrag = F.regexp_replace("url", "#.*$", "")
    scheme = F.lower(
        F.regexp_extract("url", "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    )
    host = F.regexp_replace(
        F.lower(
            F.regexp_extract(
                "url", "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1
            )
        ),
        ":(80|443)$",
        "",
    )
    path = F.regexp_replace(
        F.regexp_extract(
            "url", "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1
        ),
        "/+$",
        "",
    )
    qs = F.regexp_extract(nofrag, "[?](.*)$", 1)
    q = F.array_join(
        F.array_sort(
            F.filter(
                F.split(qs, "&"),
                lambda p: (p != "") & ~p.startswith("utm_"),
            )
        ),
        "&",
    )
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
    return (
        docs.select("doc_id", canonical.alias("canonical"))
        .groupBy("canonical")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.min("doc_id").alias("survivor_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# curate_rejection_sample: reproducible hash-threshold rejection
# sampling. Production corpora are downsampled per stratum (language,
# domain, quality band) with an ACCEPTANCE FUNCTION, not an RNG: accept
# iff a stable hash of the record key falls below the stratum's
# threshold, so the sample is identical across reruns, workers, and
# engines, and composable with later re-sampling (threshold tightening
# only ever REMOVES docs — monotone subsets). Here: md5(doc_id) hex,
# first two nibbles compared to per-language thresholds (en 0x80 ≈ 50%,
# zh 0x4c ≈ 30%, everything else 0x1a ≈ 10%); hex strings of equal
# length compare lexicographically = numerically, so both engines run
# the identical accept predicate with no integer parsing. Map-side
# predicate + one groupBy on lang: the 100 TB shape.
# ---------------------------------------------------------------------------
CURATE_REJ_ORACLE = """
    WITH scored AS (
      SELECT lang, n_chars, doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
                       CASE lang WHEN 'en' THEN '80'
                                 WHEN 'zh' THEN '4c'
                                 ELSE '1a' END
                  THEN 1 ELSE 0 END AS accepted
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(accepted) AS BIGINT) AS n_accepted,
           CAST((sum(accepted) * 1000000) // count(*) AS BIGINT)
             AS accept_ppm,
           CAST(coalesce(sum(CASE WHEN accepted = 1 THEN n_chars END), 0)
                AS BIGINT) AS accepted_chars,
           CAST(coalesce(min(CASE WHEN accepted = 1 THEN doc_id END), -1)
                AS BIGINT) AS first_accepted
    FROM scored GROUP BY lang
"""


@query("curate_rejection_sample", oracle=CURATE_REJ_ORACLE)
def curate_rejection_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language rejection sampling via md5-hex
    thresholds (see section comment)."""
    docs = load_table(spark, sf_dir, "documents")
    threshold = (
        F.when(F.col("lang") == "en", F.lit("80"))
        .when(F.col("lang") == "zh", F.lit("4c"))
        .otherwise(F.lit("1a"))
    )
    accepted = (
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2)
        < threshold
    ).cast("long")
    return (
        docs.select("lang", "n_chars", "doc_id", accepted.alias("accepted"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("accepted").alias("n_accepted"),
            F.expr("(sum(accepted) * 1000000) div count(*)").alias(
                "accept_ppm"
            ),
            F.coalesce(
                F.sum(F.when(F.col("accepted") == 1, F.col("n_chars"))),
                F.lit(0),
            ).alias("accepted_chars"),
            F.coalesce(
                F.min(F.when(F.col("accepted") == 1, F.col("doc_id"))),
                F.lit(-1),
            ).alias("first_accepted"),
        )
    )


# ---------------------------------------------------------------------------
# ta_ndcg_eval: NDCG@10 — the ranking-quality metric every retrieval
# stack reports. Each evaluation "query" ranks documents by the term
# frequency of a RANK token and grades relevance by the (capped) term
# frequency of a held-out RELEVANCE token, so the metric is non-trivial
# (a perfect ranker would need the rank token to predict the relevance
# token). The log2 position discounts are precomputed ONCE in Python as
# integer micros and inlined as literals into BOTH engines' plans —
# neither engine evaluates a float log, so there is no libm-parity
# question at all. Top-10 selection is orderBy+limit (TakeOrdered — no
# global sort shuffle); relevance is capped at 4 so 2^rel-1 gains stay
# tiny BIGINTs.
# ---------------------------------------------------------------------------
NDCG_QUERIES = (
    ("q_table_row", "table", "row"),
    ("q_join_key", "join", "key"),
    ("q_spark_data", "spark", "data"),
)
NDCG_K = 10
# integer-micros discount per 1-based position: round(1e6 / log2(p+1))
NDCG_DISC = tuple(
    int(round(1_000_000 / math.log2(p + 1))) for p in range(1, NDCG_K + 1)
)

TA_NDCG_ORACLE = f"""
    WITH disc(pos, d) AS (
      VALUES {", ".join(f"({p + 1}, {d})" for p, d in enumerate(NDCG_DISC))}
    ), queries(query_name, rank_tok, rel_tok) AS (
      VALUES {", ".join(f"('{n}', '{a}', '{b}')" for n, a, b in NDCG_QUERIES)}
    ), scored AS (
      SELECT q.query_name, d.doc_id,
             len(list_filter(string_split(d.text, ' '),
                             x -> x = q.rank_tok)) AS tf_rank,
             least(len(list_filter(string_split(d.text, ' '),
                                   x -> x = q.rel_tok)), 4) AS rel
      FROM documents d CROSS JOIN queries q
    ), ranked AS (
      SELECT query_name, rel,
             row_number() OVER (PARTITION BY query_name
                                ORDER BY tf_rank DESC, doc_id) AS pos
      FROM scored
    ), ideal AS (
      SELECT query_name, rel,
             row_number() OVER (PARTITION BY query_name
                                ORDER BY rel DESC, doc_id) AS pos
      FROM scored
    ), dcg AS (
      SELECT query_name,
             CAST(sum((CAST(pow(2, rel) AS BIGINT) - 1) * d) AS BIGINT)
               AS dcg_e6
      FROM ranked JOIN disc USING (pos) WHERE pos <= {NDCG_K}
      GROUP BY query_name
    ), idcg AS (
      SELECT query_name,
             CAST(sum((CAST(pow(2, rel) AS BIGINT) - 1) * d) AS BIGINT)
               AS idcg_e6
      FROM ideal JOIN disc USING (pos) WHERE pos <= {NDCG_K}
      GROUP BY query_name
    )
    SELECT q.query_name, q.rank_tok, q.rel_tok,
           CAST(dcg.dcg_e6 AS BIGINT) AS dcg_e6,
           CAST(idcg.idcg_e6 AS BIGINT) AS idcg_e6,
           CAST((dcg.dcg_e6 * 1000000)
                // greatest(idcg.idcg_e6, 1) AS BIGINT) AS ndcg_ppm
    FROM queries q JOIN dcg USING (query_name) JOIN idcg USING (query_name)
"""


@query("ta_ndcg_eval", oracle=TA_NDCG_ORACLE)
def ta_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per evaluation query (see section comment): term-
    frequency scoring, TakeOrdered top-10 for the run and the ideal
    ranking, integer-micros discounts shared with the oracle."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    # ONE corpus scan computes every query's rank/relevance counts
    # (6 token folds over the same split array); the checkpointed
    # per-doc frame then feeds all six top-10 passes.
    def _tok_eq(tok: str):
        # closure factory, NOT a defaulted second lambda parameter:
        # PySpark reads a 2-arg lambda as the (element, index) form
        return lambda x: x == F.lit(tok)

    count_cols = []
    for i, (_name, rank_tok, rel_tok) in enumerate(NDCG_QUERIES):
        count_cols.append(
            F.size(F.filter(F.col("toks"), _tok_eq(rank_tok))).alias(
                f"tf_{i}"
            )
        )
        count_cols.append(
            F.least(
                F.size(F.filter(F.col("toks"), _tok_eq(rel_tok))),
                F.lit(4),
            ).alias(f"rel_{i}")
        )
    all_scored = docs.select("doc_id", *count_cols).localCheckpoint(eager=False)
    out = None
    for i, (name, rank_tok, rel_tok) in enumerate(NDCG_QUERIES):
        scored = all_scored.select(
            "doc_id",
            F.col(f"tf_{i}").alias("tf_rank"),
            F.col(f"rel_{i}").alias("rel"),
        )
        disc = F.array(*[F.lit(d) for d in NDCG_DISC])

        def _dcg(df: DataFrame, order_col: str, alias: str) -> DataFrame:
            top = (
                df.orderBy(F.col(order_col).desc(), F.col("doc_id"))
                .limit(NDCG_K)
                .coalesce(1)  # <= 10 rows: bound the position window
            )
            from pyspark.sql.window import Window

            pos = F.row_number().over(
                Window.orderBy(F.col(order_col).desc(), F.col("doc_id"))
            )
            return (
                top.withColumn("pos", pos)
                .select(
                    (
                        (F.expr("shiftleft(1L, rel)") - 1)
                        * F.element_at(disc, F.col("pos"))
                    ).alias("g")
                )
                .agg(F.sum("g").cast("long").alias(alias))
            )

        run = _dcg(scored, "tf_rank", "dcg_e6")
        ideal = _dcg(scored, "rel", "idcg_e6")
        row = (
            run.crossJoin(ideal)
            .select(
                F.lit(name).alias("query_name"),
                F.lit(rank_tok).alias("rank_tok"),
                F.lit(rel_tok).alias("rel_tok"),
                "dcg_e6",
                "idcg_e6",
                F.expr(
                    "(dcg_e6 * 1000000) div greatest(idcg_e6, 1L)"
                ).alias("ndcg_ppm"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# sim_mips_search: maximum-inner-product search. Recommendation and
# retrieval scorers rank by DOT PRODUCT, not cosine — the two orders
# genuinely differ when candidate norms differ. Exact top-k by dot is
# the baseline (broadcast the tiny query set, per-query TakeOrdered-
# style window top-k, same shape as sim_topk_bruteforce). The scale
# path is the norm-augmentation reduction (Bachrach et al., RecSys
# 2014): append sqrt(M^2 - |x|^2) to every candidate and 0 to every
# query (M = corpus max norm); cosine order in the augmented space
# equals dot order in the original space, so ANY cosine-ANN index
# (our LSH/IVF/HNSW family) serves MIPS unchanged. The reduction is
# executed for real — 65-dim augmented vectors, cosine ranked — and
# must reproduce the dot ranking exactly, emitted as the deterministic
# boolean aug_rank_matches (the sketch-queries pattern: the oracle
# asserts TRUE; pytest re-proves it on constructed vectors). Ranking
# ties break on neighbor_id; the emitted dot is rounded to 4dp, and
# both engines compute it as the identical left-associated 64-term sum.
# ---------------------------------------------------------------------------
MIPS_N_QUERIES = 5
MIPS_TOP_K = 10

_DUCK_DOT = "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"

SIM_MIPS_ORACLE = f"""
    SELECT query_id, neighbor_id, rank, round(dot, 4) + 0.0 AS dot,
           TRUE AS aug_rank_matches
    FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {_DUCK_DOT} AS dot,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY {_DUCK_DOT} DESC, b.vec_id)
               AS rank
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {MIPS_N_QUERIES}
    )
    WHERE rank <= {MIPS_TOP_K}
"""


@query("sim_mips_search", oracle=SIM_MIPS_ORACLE)
def sim_mips_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MIPS top-k plus the executed norm-augmentation reduction
    (see section comment). One broadcast of the query set; the
    augmented-space cosine ranking is computed on real 65-dim vectors
    and compared rank-for-rank against the dot ranking."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    normsq = F.expr(
        "aggregate(zip_with(v, v, (x, y) -> x * y), 0.0d, (acc, x) -> acc + x)"
    )
    emb = emb.withColumn("normsq", normsq)
    max_norm_sq = emb.agg(F.max("normsq").alias("m2"))
    # candidates with the REAL augmented 65th component
    cand = (
        emb.crossJoin(F.broadcast(max_norm_sq))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.concat(
                F.col("v"),
                F.array(F.sqrt(F.col("m2") - F.col("normsq"))),
            ).alias("xa"),
        )
    )
    queries = emb.filter(F.col("vec_id") < MIPS_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.concat(F.col("v"), F.array(F.lit(0.0))).alias("qa"),
        F.sqrt(F.col("normsq")).alias("qnorm"),
    )
    # dot over the first 64 dims (the original vectors) — identical
    # left-associated sum to the oracle's list_dot_product
    dot64 = F.expr(
        "aggregate(zip_with(slice(qa, 1, 64), slice(xa, 1, 64),"
        " (x, y) -> x * y), 0.0d, (acc, x) -> acc + x)"
    )
    # the full 65-dim augmented dot, cosine-normalized (|xa| = M for
    # every candidate, so the per-query denominator is qnorm * M)
    dot65 = F.expr(
        "aggregate(zip_with(qa, xa, (x, y) -> x * y),"
        " 0.0d, (acc, x) -> acc + x)"
    )
    joined = (
        cand.join(
            F.broadcast(queries), F.col("neighbor_id") != F.col("query_id")
        )
        .select(
            "query_id",
            "neighbor_id",
            dot64.alias("dot_raw"),
            (dot65 / F.col("qnorm")).alias("aug_cos_scaled"),
        )
    )
    w_dot = Window.partitionBy("query_id").orderBy(
        F.col("dot_raw").desc(), F.col("neighbor_id")
    )
    w_aug = Window.partitionBy("query_id").orderBy(
        F.col("aug_cos_scaled").desc(), F.col("neighbor_id")
    )
    return (
        joined.withColumn("rank", F.row_number().over(w_dot))
        .withColumn("aug_rank", F.row_number().over(w_aug))
        .filter(F.col("rank") <= MIPS_TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            (F.round("dot_raw", 4) + F.lit(0.0)).alias("dot"),
            (F.col("rank") == F.col("aug_rank")).alias(
                "aug_rank_matches"
            ),
        )
    )


# ---------------------------------------------------------------------------
# mm_tar_webdataset: REAL ustar archive walk — WebDataset-style
# training shards store N samples per tar member and ingest by
# sequential block walk. Each document synthesizes a 2-4 member archive
# (txt/json/bin/idx extensions, sizes from doc_id arithmetic) with
# multimodal.encode_tar and the executors re-walk the bytes with
# parse_tar_members: ustar magic, recomputed checksums, zeroed padding,
# and the end-of-archive marker are all validated, and every emitted
# column comes from the PARSE. The oracle mirrors the size arithmetic:
# member j of doc d is 50 + (d*7 + j*13) % 300 bytes, so each member
# occupies exactly 1024 archive bytes (512 header + one padded block)
# and the archive is (k+2)*1024 - 1024 + 1024 = k*1024 + 1024 bytes.
# pytest additionally cross-checks encode_tar against stdlib tarfile.
# ---------------------------------------------------------------------------
TAR_SCHEMA_FIELDS = (
    "media_id",
    "n_members",
    "payload_bytes",
    "archive_bytes",
    "n_checksum_ok",
    "sum_name_len",
)

_TAR_EXTS = ("txt", "json", "bin", "idx")

MM_TAR_ORACLE = """
    WITH members AS (
      SELECT doc_id, t.j AS j,
             50 + (doc_id * 7 + t.j * 13) % 300 AS sz,
             12 + CASE WHEN (doc_id + t.j) % 4 = 1 THEN 1 ELSE 0 END
               AS name_len
      FROM (SELECT doc_id, 2 + doc_id % 3 AS k FROM documents),
           LATERAL (SELECT unnest(range(k)) AS j) t
    )
    SELECT doc_id AS media_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(sz) AS BIGINT) AS payload_bytes,
           CAST(count(*) * 1024 + 1024 AS BIGINT) AS archive_bytes,
           CAST(count(*) AS BIGINT) AS n_checksum_ok,
           CAST(sum(name_len) AS BIGINT) AS sum_name_len
    FROM members GROUP BY doc_id
"""


@query("mm_tar_webdataset", oracle=MM_TAR_ORACLE)
def mm_tar_webdataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: build a ustar shard and re-walk it with the real
    parser (see section comment). Zero-shuffle Arrow mapInPandas via
    the shared media_walk_query scaffold."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_tar,
        media_walk_query,
        parse_tar_members,
    )

    def per_doc(d: int) -> dict:
        members = []
        for j in range(2 + d % 3):
            size = 50 + (d * 7 + j * 13) % 300
            # modulo pins the name to 8 digits: the oracle arithmetic
            # assumes fixed-width names, and replica-probe doc_ids
            # start at 1e8 (scale_probe KEY_OFFSET)
            name = f"{d % 10**8:08d}.{_TAR_EXTS[(d + j) % 4]}"
            members.append((name, bytes([(d + j) % 251]) * size))
        parsed, info = parse_tar_members(encode_tar(members))
        info["sum_name_len"] = sum(len(n) for n, _sz in parsed)
        return info

    return media_walk_query(spark, sf_dir, TAR_SCHEMA_FIELDS, per_doc)


# ---------------------------------------------------------------------------
# mm_tiff_ifd: REAL TIFF IFD-chain walk in BOTH byte orders — the
# structure every EXIF/GeoTIFF/scientific-imaging ingest parses before
# deciding to decode pixels. Odd doc_ids write big-endian ('MM'), even
# little-endian ('II'); every 3rd doc is TWO-page (chained IFDs). The
# walker re-reads dimensions and strip locations from the entries and
# CHECKSUMS the strip bytes it finds there, so the oracle (which mirrors
# the constant-fill arithmetic: page p of doc d is filled with
# (d*7 + p*13) % 251) catches a single-byte offset drift. Pure header
# math + small strips (<= 0.5 KB/page): inside the mm census envelope.
# ---------------------------------------------------------------------------
TIFF_SCHEMA_FIELDS = (
    "media_id",
    "big_endian",
    "n_ifds",
    "n_tags",
    "width0",
    "height0",
    "strip_bytes",
    "strip_sum",
)

MM_TIFF_ORACLE = """
    WITH pages AS (
      SELECT doc_id, t.p AS p,
             CASE WHEN t.p = 0 THEN 16 + doc_id % 16
                  ELSE 16 + (doc_id + 5) % 16 END AS w,
             CASE WHEN t.p = 0 THEN 8 + doc_id % 8
                  ELSE 8 + (doc_id + 3) % 8 END AS h
      FROM (SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS np
            FROM documents),
           LATERAL (SELECT unnest(range(np)) AS p) t
    )
    SELECT doc_id AS media_id,
           CAST(doc_id % 2 AS BIGINT) AS big_endian,
           CAST(count(*) AS BIGINT) AS n_ifds,
           CAST(count(*) * 8 AS BIGINT) AS n_tags,
           CAST(max(CASE WHEN p = 0 THEN w END) AS BIGINT) AS width0,
           CAST(max(CASE WHEN p = 0 THEN h END) AS BIGINT) AS height0,
           CAST(sum(w * h) AS BIGINT) AS strip_bytes,
           CAST(sum(((doc_id * 7 + p * 13) % 251) * w * h) AS BIGINT)
             AS strip_sum
    FROM pages GROUP BY doc_id
"""


@query("mm_tiff_ifd", oracle=MM_TIFF_ORACLE)
def mm_tiff_ifd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: write a 1-2 page TIFF in the doc's byte order and
    re-walk the IFD chain with the real parser (see section comment).
    Zero-shuffle Arrow mapInPandas via the shared media_walk_query
    scaffold."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_tiff,
        media_walk_query,
        parse_tiff_ifds,
    )

    def per_doc(d: int) -> dict:
        pages = [(16 + d % 16, 8 + d % 8)]
        if d % 3 == 0:
            pages.append((16 + (d + 5) % 16, 8 + (d + 3) % 8))
        info = parse_tiff_ifds(
            encode_tiff(pages, big_endian=(d % 2 == 1), seed=d)
        )
        info["big_endian"] = int(info["big_endian"])
        return info

    return media_walk_query(spark, sf_dir, TIFF_SCHEMA_FIELDS, per_doc)


# ---------------------------------------------------------------------------
# stream_topk_windowed: continuous per-window top-k — the live
# "trending now" aggregation. foreachBatch reduces each micro-batch to
# per-(hour, event_type) counts and merges them into a stored snapshot
# by summing (the mergeable-state pattern stream_quantile_histogram
# established); finalization ranks the top 3 types per hour with
# deterministic ties (count DESC, event_type ASC). Counts are order-
# and batching-insensitive, so the replay is deterministic with no
# watermark sentinel. At 100 TB the state is (hours x types) rows —
# never event-sized — and the merge shuffle is keyed on (hour, type).
# ---------------------------------------------------------------------------
STREAM_TOPK_ORACLE = """
    WITH counts AS (
      SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                      '%Y-%m-%d %H:%M:%S') AS window_start,
             event_type,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY window_start
                                   ORDER BY n_events DESC, event_type)
               AS rnk
      FROM counts
    )
    SELECT window_start, event_type, n_events, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
"""


@query("stream_topk_windowed", oracle=STREAM_TOPK_ORACLE)
def stream_topk_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hourly top-3 event types from a foreachBatch-merged
    count snapshot (see section comment), via the shared mergeable-
    snapshot scaffold (streaming.queries.merged_snapshot_stream holds
    the split/replay/first-batch/checkpoint invariants)."""
    from pyspark.sql.window import Window

    from eeecs485_p4_mapreduce_spark.streaming.queries import (
        merged_snapshot_stream,
    )

    def partial(batch_df):
        return (
            batch_df.select(
                F.date_format(
                    F.date_trunc("hour", F.col("ts")),
                    "yyyy-MM-dd HH:mm:ss",
                ).alias("window_start"),
                "event_type",
            )
            .groupBy("window_start", "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )

    def finalize(counts):
        rnk = F.row_number().over(
            Window.partitionBy("window_start").orderBy(
                F.col("n_events").desc(), F.col("event_type")
            )
        )
        return (
            counts.withColumn("rnk", rnk.cast("long"))
            .filter(F.col("rnk") <= 3)
            .select("window_start", "event_type", "n_events", "rnk")
        )

    return merged_snapshot_stream(
        spark, sf_dir, partial, ["window_start", "event_type"],
        {"n_events": "sum"}, finalize, prefix="p4spark_topk_",
    )
