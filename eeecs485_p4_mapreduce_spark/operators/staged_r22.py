"""Registered queries of the r22 pipeline (each with ``@query``).

Same discipline as operators/staged_r9–r21: built, hash-checked against
DuckDB at sf0.001 and sf0.01, fixture-tested with independent references
(tests/test_staged_r22.py), plan-gate swept (incl. the CartesianProduct
gate), and x10/x100 replica-probed before registration. Same contract as
every registered query: identical aliases both sides, round()-ed or
integer-exact outputs, no nullable hash-bearing columns. All 14
re-verified under a driver-style BARE vanilla session (SPARK_VANILLA=1,
sf0.01) at end of r11.

Surface:

- ``mm_orc_postscript`` — the ORC file tail (orc.apache.org spec
  ORCv1): the READ-BACKWARDS length-prefixed footer discipline the
  walker family didn't cover (tar/zip walk forward, EBML announces
  widths inline). Last byte -> postscript length -> postscript
  protobuf -> footerLength -> footer protobuf (stripe directory), with
  every cross-reference verified (both magics, contiguous stripe
  offsets from byte 3, contentLength == sum of stripe sizes,
  numberOfRows == sum of stripe rows, reconstructed size == file
  size). Real strict LEB128 protobuf codec; byte sizes closed-form in
  the oracle via varint-length CASE arithmetic (all values bounded
  < 16384 by construction, postscript provably 16 bytes).
- ``mm_arrow_ipc`` — Arrow IPC stream framing (arrow.apache.org
  columnar spec): encapsulated messages <0xFFFFFFFF continuation>
  <int32 LE metadata size> <metadata padded to 8> <body padded to 8>,
  8-byte message alignment, EOS marker, zero-padding verified,
  schema-first message-order enforced. The metadata flatbuffer is a
  DECLARED boundary: a deterministic fake packs (msg_type, bodyLen)
  into its head; the envelope walk is the real discipline.
- ``sim_hnsw_m_recall`` — graph-quality recall curve vs the build
  budget M (the out-degree retained per node — this build's
  efConstruction analogue): for M in (4, 8, 16), what fraction of
  each query's true cosine top-{TOP_K} is already a direct layer-0
  edge of the query node. One shared candidate ranking serves every
  M (an M-prefix is a rank filter), so the curve costs one edge
  build; ground truth is the exact broadcast top-k. Pairs
  sim_ivfpq_rerank_recall's budget-curve idea with the graph index.
  Integer-exact recall in ppm.
- ``ta_kl_mixture`` — per-source unigram KL divergence from the
  corpus mixture, D(p_source || p_corpus) — the data-mixture
  diagnostic behind mixture-reweighting recipes (e.g. DoReMi): how
  far each source's token distribution sits from the blend the model
  actually trains on. Exact integer count ratios inside ln();
  round(4)+0.0 on the aggregated nats.
- ``curate_bottomk_sample`` — MERGEABLE uniform sampling: the
  bottom-{BOTTOMK_K} documents by deterministic md5-derived key. The
  Spark side computes it the distributed-reservoir way — per-source
  partial bottom-k, then bottom-k of the union of partials — while
  the oracle takes the direct global bottom-k; their hash-equality IS
  the mergeability proof (sample(A ∪ B) = merge(sample(A),
  sample(B))), the property that lets 100-TB reservoirs tree-merge
  per partition without a global sort.
- ``q126_interval_coverage`` — merge-overlapping-intervals as a
  distributed sweep: per customer, the union length of their orders'
  shipping intervals (islands via a running-max window, UNBOUNDED
  PRECEDING frames only, no pair self-join), with exact ppm coverage
  of the activity span — the union property q120's pairwise Allen
  census cannot express.
- ``ta_burstiness_cg`` — Church–Gale burstiness (distinct from the
  registered ``ta_burstiness`` in staged_r10: top-df token selection
  and population variance, vs top-count and sample variance there): exact-ppm
  variance-to-mean ratio of per-document counts for the top-df
  tokens, zeros handled algebraically (n·Σx² − (Σx)²)/(n·Σx).
- ``mm_parquet_footer`` — the Parquet tail (PAR1 magic at both ends,
  LE32 footer length, THRIFT COMPACT FileMetaData): delta-encoded
  field headers + zigzag varints, the fourth varint discipline in the
  walker family; footer size is a proven closed form (19 + 7·n_rg).
- ``mm_zstd_frames`` — RFC 8878 zstd mixed-frame walk: data frames
  (magic, FHD flag bits, 3-byte LE block headers, raw/RLE blocks —
  the spec's entropy-free types) interleaved with skippable frames,
  FCS cross-checked against summed block decoded sizes.
- ``q127_event_funnel`` — strict-ordering conversion funnel
  (view -> click -> purchase, each stage strictly after the previous
  PER USER), exact ppm conversion and integer-micros mean lags;
  user-grain stage joins merge-hinted.
- ``stream_bottomk_incremental`` — the reservoir maintained
  incrementally over a 3-slice micro-batch feed (per-batch bottom-k,
  then bottom-k of state ∪ batch, state never over 2K rows) — must
  hash-equal the batch global bottom-k under the SAME oracle, the
  streaming face of the merge identity.
- ``dedup_exact_substring`` — Lee et al. 2022's exact-substring
  dedup at {SUBSTR_W}-token granularity: SLIDING windows (any-offset
  matching, the suffix-array property aligned chunk hashing misses),
  fingerprinted to 48-bit longs before the one corpus shuffle, with
  per-doc duplication ppm exact.
- ``dedup_lsh_band_curve`` — the LSH S-curve measured: candidate
  count, exact-Jaccard truth, and ppm recall/precision for bandings
  2x8 / 4x4 / 8x2 over the SAME 16 MinHash values (signatures shared
  from dedup._minhash_signatures, never copied).
- ``skew_key_entropy`` — join-key skew diagnostic: Shannon entropy,
  distinct-key count, and top-1 key mass (ppm, exact) for the two
  lineitem join keys (l_partkey vs l_suppkey) in one pass (explode to
  (key_name, key) pairs -> one partial-agg shuffle). The numbers a
  planner consults before choosing salt counts / isolated-hot-key
  treatment (skew_isolated_hot_join) — entropy near ln(n_keys) means
  hash partitions balance; a fat top-1 ppm says isolate that key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from eeecs485_p4_mapreduce_spark.catalog import load_table, pin_disk
from eeecs485_p4_mapreduce_spark.functions.text import tokens
from eeecs485_p4_mapreduce_spark.registry import query

_DUCK_TOKS = "string_split_regex(lower(text), '[ \t]')"

# ---------------------------------------------------------------------------
# mm_orc_postscript. Deterministic per-doc stripe plan; every numeric
# bounded < 16384 so the oracle's varint-length arithmetic is a 2-arm
# CASE. The 16-byte postscript is a proven constant: footer <= 71
# bytes (< 128 -> 1-byte varint), compressionBlockSize 8192 -> 2-byte
# varint, magic field tag 64002 -> 3-byte varint (see encode_orc_tail).
# ---------------------------------------------------------------------------
ORC_SCHEMA_FIELDS = (
    "media_id",
    "n_stripes",
    "total_rows",
    "content_bytes",
    "footer_bytes",
    "postscript_bytes",
    "file_bytes",
)

_VL = "CASE WHEN {v} < 128 THEN 1 ELSE 2 END"


def _vl(v: str) -> str:
    return _VL.format(v=v)


MM_ORC_ORACLE = f"""
    WITH st AS (
      SELECT doc_id, s.s AS s,
             10 + (doc_id + s.s * 3) % 40 AS il,
             60 + (doc_id * 7 + s.s * 13) % 500 AS dl,
             4 + (doc_id + s.s) % 9 AS sl,
             100 + (doc_id * 11 + s.s * 17) % 900 AS nrows
      FROM (SELECT doc_id, 1 + doc_id % 4 AS ns FROM documents),
           LATERAL (SELECT unnest(range(ns)) AS s) s
    ), o AS (
      SELECT *,
             3 + coalesce(sum(il + dl + sl) OVER (
                   PARTITION BY doc_id ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS off
      FROM st
    ), sz AS (
      SELECT doc_id, il + dl + sl AS csize, nrows,
             -- StripeInformation element: tag + len + 5-field body
             2 + 5 + {_vl('off')} + {_vl('il')} + {_vl('dl')}
               + {_vl('sl')} + {_vl('nrows')} AS elem
      FROM o
    ), per_doc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_stripes,
             CAST(sum(nrows) AS BIGINT) AS total_rows,
             CAST(sum(csize) AS BIGINT) AS content_bytes,
             -- headerLength(2) + contentLength + stripes + numberOfRows
             -- + rowIndexStride(3)
             CAST(2 + 1 + {_vl('sum(csize)')} + sum(elem)
                  + 1 + {_vl('sum(nrows)')} + 3 AS BIGINT) AS footer_bytes
      FROM sz GROUP BY doc_id
    )
    SELECT doc_id AS media_id, n_stripes, total_rows, content_bytes,
           footer_bytes,
           CAST(16 AS BIGINT) AS postscript_bytes,
           3 + content_bytes + footer_bytes + 16 + 1 AS file_bytes
    FROM per_doc
"""


@query("mm_orc_postscript", oracle=MM_ORC_ORACLE)
def mm_orc_postscript(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: build a fake-ORC file and strictly re-walk its
    tail backwards (see section comment). Zero-shuffle Arrow
    mapInPandas via the shared media_walk_query scaffold."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_orc_tail,
        media_walk_query,
        parse_orc_tail,
    )

    def per_doc(d: int) -> dict:
        stripes = [
            (
                10 + (d + s * 3) % 40,
                60 + (d * 7 + s * 13) % 500,
                4 + (d + s) % 9,
                100 + (d * 11 + s * 17) % 900,
            )
            for s in range(1 + d % 4)
        ]
        return parse_orc_tail(encode_orc_tail(stripes, 1 + d % 6))

    return media_walk_query(spark, sf_dir, ORC_SCHEMA_FIELDS, per_doc)


# ---------------------------------------------------------------------------
# mm_arrow_ipc. pad8(x) = ((x + 7) // 8) * 8 — the only size
# arithmetic the framing needs, mirrored exactly in SQL.
# ---------------------------------------------------------------------------
ARROW_SCHEMA_FIELDS = (
    "media_id",
    "n_batches",
    "meta_bytes",
    "body_bytes",
    "file_bytes",
)

MM_ARROW_ORACLE = """
    WITH b AS (
      SELECT doc_id, bb.b AS b,
             ((21 + (doc_id * 3 + bb.b * 7) % 40 + 7) // 8) * 8 AS mpad,
             (((doc_id * 5 + bb.b * 11) % 256 + 7) // 8) * 8 AS bpad
      FROM (SELECT doc_id, 1 + doc_id % 5 AS nb FROM documents),
           LATERAL (SELECT unnest(range(nb)) AS b) bb
    ), agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_batches,
             CAST(sum(mpad) AS BIGINT) AS batch_meta,
             CAST(sum(bpad) AS BIGINT) AS body_bytes,
             CAST(sum(8 + mpad + bpad) AS BIGINT) AS batch_msgs
      FROM b GROUP BY doc_id
    )
    SELECT d.doc_id AS media_id,
           a.n_batches,
           CAST(((24 + d.doc_id % 16 + 7) // 8) * 8 + a.batch_meta
                AS BIGINT) AS meta_bytes,
           a.body_bytes,
           CAST(8 + ((24 + d.doc_id % 16 + 7) // 8) * 8 + a.batch_msgs + 8
                AS BIGINT) AS file_bytes
    FROM documents d JOIN agg a USING (doc_id)
"""


@query("mm_arrow_ipc", oracle=MM_ARROW_ORACLE)
def mm_arrow_ipc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: frame an Arrow IPC stream (schema + record
    batches + EOS) and strictly re-walk the envelopes (alignment,
    continuation markers, zeroed padding, message order). Zero-shuffle
    Arrow mapInPandas via media_walk_query."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_arrow_ipc,
        media_walk_query,
        parse_arrow_ipc,
    )

    def per_doc(d: int) -> dict:
        msgs = [(1, 24 + d % 16, 0)] + [
            (3, 21 + (d * 3 + b * 7) % 40, (d * 5 + b * 11) % 256)
            for b in range(1 + d % 5)
        ]
        return parse_arrow_ipc(encode_arrow_ipc(msgs))

    return media_walk_query(spark, sf_dir, ARROW_SCHEMA_FIELDS, per_doc)


# ---------------------------------------------------------------------------
# sim_hnsw_m_recall. One edge build serves every M: the M-prefix of a
# node's neighbor list is a rank filter on the SAME window ranking, so
# the "curve" is 3 aggregations over one shared join, not 3 builds.
# ---------------------------------------------------------------------------
HNSW_RECALL_MS = (4, 8, 16)


def _hnsw_m_recall_oracle() -> str:
    from eeecs485_p4_mapreduce_spark.operators.similarity import (
        _DUCK_COS,
        N_QUERIES,
        TOP_K,
        _duck_hnsw_prefix,
    )

    ms = ", ".join(str(m) for m in HNSW_RECALL_MS)
    return f"""
    WITH {_duck_hnsw_prefix()},
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_DUCK_COS} DESC, b.vec_id)
                 AS rank
        FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < {N_QUERIES}
      ) WHERE rank <= {TOP_K}
    ),
    ms AS (SELECT unnest([{ms}]) AS m)
    SELECT CAST(ms.m AS BIGINT) AS m,
           CAST(count(*) AS BIGINT) AS n_truth,
           CAST(sum(CASE WHEN e.rank <= ms.m THEN 1 ELSE 0 END)
                AS BIGINT) AS hits,
           CAST(sum(CASE WHEN e.rank <= ms.m THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS recall_ppm
    FROM truth t CROSS JOIN ms
    LEFT JOIN hnsw_edges e
      ON e.level = 0 AND e.src = t.query_id AND e.dst = t.neighbor_id
    GROUP BY ms.m
    """


@query("sim_hnsw_m_recall", oracle=_hnsw_m_recall_oracle())
def sim_hnsw_m_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the layer-0 HNSW adjacency vs the build
    budget M: for each M in {HNSW_RECALL_MS}, the fraction of each
    query vector's exact cosine top-k that is already a direct edge
    of the query node. The curve a build pipeline consults to price
    out-degree against recall before committing a graph (the
    efConstruction-budget question, asked of this static build's
    knob). Ground truth is the broadcast exact top-k; the edge table
    is built ONCE and the three M values are rank filters over the
    same ranking — at 100 TB this costs one graph build plus a
    broadcast-sized join, never one build per point."""
    from eeecs485_p4_mapreduce_spark.operators.similarity import (
        _hnsw_edges_from,
        _hnsw_nodes,
        sim_topk_bruteforce,
    )

    from eeecs485_p4_mapreduce_spark.operators.similarity import (
        N_QUERIES,
    )

    nodes = _hnsw_nodes(spark, sf_dir).localCheckpoint(eager=False)
    # Only the query nodes' adjacency matters for recall, and the join
    # key is src == query_id, so bound the broadcast BEFORE it is
    # built: without the src filter the broadcast is the whole layer-0
    # edge table (O(N*M), linear in corpus — a driver OOM at 100 TB);
    # with it, N_QUERIES*M rows. Catalyst pushes the predicate through
    # the (level, src)-partitioned rank window, so the edge build
    # itself also prunes to the query nodes' candidate pairs.
    edges0 = (
        _hnsw_edges_from(nodes)
        .filter((F.col("level") == 0) & (F.col("src") < N_QUERIES))
        .select("src", "dst", "rank")
    )
    truth = sim_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    joined = truth.join(
        F.broadcast(edges0),
        (F.col("query_id") == F.col("src"))
        & (F.col("neighbor_id") == F.col("dst")),
        "left",
    ).select("query_id", "neighbor_id", "rank")
    ms = F.array(*[F.lit(m).cast("bigint") for m in HNSW_RECALL_MS])
    return (
        joined.withColumn("m", F.explode(ms))
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.sum(
                F.when(F.col("rank") <= F.col("m"), 1).otherwise(0)
            ).alias("hits"),
        )
        .select(
            "m",
            "n_truth",
            "hits",
            F.expr(
                "CAST(hits * 1000000L div n_truth AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# ta_kl_mixture. KL(p_source || p_corpus) = sum_t p_s(t) *
# ln(p_s(t) / q(t)) with p_s(t) = c_st/T_s and q(t) = c_t/T; every
# ratio handed to ln() is a quotient of exact BIGINT counts, so both
# engines evaluate ln() on bit-identical doubles and only the final
# vocabulary-sized sum needs round(4)+0.0.
# ---------------------------------------------------------------------------
TA_KL_ORACLE = f"""
    WITH toks AS (
      SELECT source, unnest({_DUCK_TOKS}) AS token FROM documents
    ), tf AS (
      SELECT source, token, count(*) AS c FROM toks GROUP BY 1, 2
    ), ct AS (
      SELECT token, CAST(sum(c) AS BIGINT) AS ctot FROM tf GROUP BY 1
    ), ts AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS tsrc FROM tf GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS t FROM tf
    )
    SELECT tf.source,
           CAST(max(ts.tsrc) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_vocab,
           round(sum((tf.c * 1.0 / ts.tsrc)
                     * ln((tf.c * 1.0 * tot.t)
                          / (ts.tsrc * 1.0 * ct.ctot))), 4) + 0.0
             AS kl_nats
    FROM tf JOIN ct USING (token) JOIN ts USING (source), tot
    GROUP BY tf.source
"""


@query("ta_kl_mixture", oracle=TA_KL_ORACLE)
def ta_kl_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence from the corpus mixture — the
    distribution-shift number mixture-reweighting recipes optimize.

    Scale shape: ONE corpus explode+shuffle builds the (source, token)
    partial-agg table, pinned DISK_ONLY because three aggregates read
    it (per-token totals, per-source totals, grand total). The
    per-token join is vocabulary x source-vocabulary — neither side
    bounded-small at 100 TB, so it carries a merge hint; per-source
    totals (sources are a bounded set) and the 1-row grand total
    broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(tokens()).alias("token"))
    tf = (
        toks.groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(pin_disk)
    )
    ct = tf.groupBy("token").agg(F.sum("c").alias("ctot"))
    ts_ = tf.groupBy("source").agg(F.sum("c").alias("tsrc"))
    tot = tf.agg(F.sum("c").alias("t")).localCheckpoint(eager=False)  # 1 row
    contrib = (
        F.col("c") / F.col("tsrc")
    ) * F.log(
        (F.col("c") * F.lit(1.0) * F.col("t"))
        / (F.col("tsrc") * F.lit(1.0) * F.col("ctot"))
    )
    return (
        tf.join(ct.hint("merge"), "token")
        .join(F.broadcast(ts_), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.max("tsrc").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_vocab"),
            (F.round(F.sum(contrib), 4) + F.lit(0.0)).alias("kl_nats"),
        )
    )


# ---------------------------------------------------------------------------
# curate_bottomk_sample. Key = first 8 md5 hex digits of doc_id as a
# bigint (the repo's standard engine-portable uniform hash); ties
# broken by doc_id. Mergeability: global bottom-k ⊆ union of
# per-source bottom-k, so the two-level Spark plan equals the
# oracle's direct global bottom-k row-for-row.
# ---------------------------------------------------------------------------
BOTTOMK_K = 64

_DUCK_DOC_H = (
    "CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))"
    " AS UBIGINT) AS BIGINT)"
)
_SPARK_DOC_H = (
    "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10)"
    " as bigint)"
)

CURATE_BOTTOMK_ORACLE = f"""
    SELECT sample_rank, doc_id, source, h FROM (
      SELECT doc_id, source, {_DUCK_DOC_H} AS h,
             row_number() OVER (ORDER BY {_DUCK_DOC_H}, doc_id)
               AS sample_rank
      FROM documents
    ) WHERE sample_rank <= {BOTTOMK_K}
"""


@query("curate_bottomk_sample", oracle=CURATE_BOTTOMK_ORACLE)
def curate_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform {BOTTOMK_K}-document sample as a MERGEABLE bottom-k
    sketch, computed the distributed-reservoir way: ``orderBy(h,
    doc_id).limit(K)`` plans as TakeOrderedAndProject — every task
    keeps only ITS OWN K smallest rows and the driver K-way-merges
    the per-task reservoirs, which IS the merge identity
    sample(A ∪ B) = merge(sample(A), sample(B)) executed by the
    engine (no global sort, no corpus-wide window; the earlier
    per-source partitioned window capped parallelism at the source
    cardinality — the r12 window gate caught it). The oracle takes
    the direct global bottom-k, so the driver's hash-equality check
    proves the merged reservoir equals it row-for-row; ranks are a
    window over the K survivors only. Deterministic md5 keys make
    the sample reproducible across runs, partitionings, engines."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.selectExpr("doc_id", "source", f"{_SPARK_DOC_H} AS h")
    survivors = base.orderBy("h", "doc_id").limit(BOTTOMK_K)
    w2 = Window.orderBy("h", "doc_id")
    return survivors.withColumn(
        "sample_rank", F.row_number().over(w2)
    ).select("sample_rank", "doc_id", "source", "h")


# ---------------------------------------------------------------------------
# skew_key_entropy. One explode -> one (key_name, key) partial-agg
# shuffle; the key-grain count table then aggregates per key_name.
# ---------------------------------------------------------------------------
SKEW_ENTROPY_ORACLE = """
    WITH k AS (
      SELECT 'l_partkey' AS key_name, l_partkey AS k FROM lineitem
      UNION ALL
      SELECT 'l_suppkey', l_suppkey FROM lineitem
    ), c AS (
      SELECT key_name, k, count(*) AS c FROM k GROUP BY 1, 2
    )
    SELECT key_name,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS n_rows,
           round(ln(sum(c) * 1.0)
                 - sum(c * ln(c * 1.0)) / sum(c), 4) + 0.0
             AS entropy_nats,
           CAST(max(c) * 1000000 // sum(c) AS BIGINT) AS top1_ppm
    FROM c GROUP BY key_name
"""


@query("skew_key_entropy", oracle=SKEW_ENTROPY_ORACLE)
def skew_key_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic for lineitem's two fact join keys:
    distinct keys, total rows, Shannon entropy of the key
    distribution (nats, round(4)), and the heaviest single key's mass
    in exact ppm. Entropy close to ln(n_keys) says hash partitions
    will balance; a fat top1_ppm argues for the isolated-hot-key path
    (skew_isolated_hot_join) or salting (skew_salted_join).

    Scale shape: the explode doubles the scanned rows but the
    partial agg combines map-side, so the single shuffle carries one
    row per (key_name, key) — key-grain, not fact-grain; the window
    and final agg run over that key-grain table."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("l_partkey").alias("key_name"),
                    F.col("l_partkey").alias("k"),
                ),
                F.struct(
                    F.lit("l_suppkey").alias("key_name"),
                    F.col("l_suppkey").alias("k"),
                ),
            )
        ).alias("e")
    ).select("e.key_name", "e.k")
    counts = pairs.groupBy("key_name", "k").agg(
        F.count(F.lit(1)).alias("c")
    )
    # Entropy folded algebraically into ONE aggregation:
    # -Σ (c/T)·ln(c/T) = ln(T) − (Σ c·ln c)/T — no window over the
    # key-grain table (a Window.partitionBy(key_name) would funnel the
    # corpus-linear distinct-key rows into exactly 2 tasks, the
    # dimension-bounded-window shape SCALE.md bans). The oracle states
    # the same identity, term for term.
    return counts.groupBy("key_name").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_rows"),
        (
            F.round(
                F.log(F.sum("c") * F.lit(1.0))
                - F.sum(
                    F.col("c") * F.log(F.col("c") * F.lit(1.0))
                )
                / F.sum("c"),
                4,
            )
            + F.lit(0.0)
        ).alias("entropy_nats"),
        F.expr(
            "CAST(max(c) * 1000000L div sum(c) AS BIGINT)"
        ).alias("top1_ppm"),
    )


# ---------------------------------------------------------------------------
# q126_interval_coverage. The classic merge-overlapping-intervals sweep,
# distributed: islands form per customer via a running-max window (an
# UNBOUNDED PRECEDING frame — the streamable direction per SCALE.md),
# so the whole sweep is one customer-partitioned sort, no self-join.
# Intervals are closed [s, e] epoch days (the order's lineitem shipdate
# range, q120's derivation); islands break when s > running max e
# (touching at a day merges, adjacency does not). All integer-exact.
# ---------------------------------------------------------------------------
Q126_ORACLE = """
    WITH iv AS (
      SELECT l_orderkey AS k,
             CAST(min(epoch_us(l_shipdate)) // 86400000000 AS BIGINT) AS s,
             CAST(max(epoch_us(l_shipdate)) // 86400000000 AS BIGINT) AS e
      FROM lineitem GROUP BY 1
    ), oi AS (
      SELECT o_custkey AS c, k, s, e
      FROM orders JOIN iv ON o_orderkey = k
    ), marked AS (
      SELECT c, k, s, e,
             CASE WHEN max(e) OVER (
                    PARTITION BY c ORDER BY s, e, k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  >= s
                  THEN 0 ELSE 1 END AS new_island
      FROM oi
    ), islands AS (
      SELECT c, k, s, e,
             sum(new_island) OVER (
               PARTITION BY c ORDER BY s, e, k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island_id
      FROM marked
    ), isl AS (
      SELECT c, island_id,
             min(s) AS is_, max(e) AS ie,
             count(*) AS n_orders
      FROM islands GROUP BY 1, 2
    )
    SELECT c AS custkey,
           CAST(sum(n_orders) AS BIGINT) AS n_orders,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(ie - is_ + 1) AS BIGINT) AS covered_days,
           CAST(max(ie) - min(is_) + 1 AS BIGINT) AS span_days,
           CAST(sum(ie - is_ + 1) * 1000000
                // (max(ie) - min(is_) + 1) AS BIGINT) AS coverage_ppm
    FROM isl GROUP BY c
"""


@query("q126_interval_coverage", oracle=Q126_ORACLE)
def q126_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per customer: the union length of their orders' shipping
    intervals — merge-overlapping-intervals as a distributed sweep.
    Emits order count, island count, covered days, span days, and the
    exact ppm fraction of the span the customer's shipping activity
    covers (a fill-rate/utilization shape that q120's pairwise Allen
    census cannot answer, because coverage is a property of the UNION,
    not of pairs).

    Scale shape: one lineitem partial agg (order grain), one
    broadcast-eligible join to orders, then two windows and two aggs
    all partitioned by custkey — per-key work is bounded by orders per
    customer, both window frames run UNBOUNDED PRECEDING (the
    streaming-friendly direction, SCALE.md frame rule), and no
    self-join ever forms interval pairs."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    iv = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.expr(
            "CAST(min(unix_micros(cast(l_shipdate as timestamp)))"
            " div 86400000000 AS BIGINT)"
        ).alias("s"),
        F.expr(
            "CAST(max(unix_micros(cast(l_shipdate as timestamp)))"
            " div 86400000000 AS BIGINT)"
        ).alias("e"),
    )
    oi = orders.select(
        F.col("o_custkey").alias("c"), F.col("o_orderkey").alias("k")
    ).join(iv, "k")
    order_w = Window.partitionBy("c").orderBy("s", "e", "k")
    prev_max = (
        F.max("e")
        .over(order_w.rowsBetween(Window.unboundedPreceding, -1))
    )
    marked = oi.withColumn(
        "new_island",
        F.when(prev_max >= F.col("s"), 0).otherwise(1),
    )
    islands = marked.withColumn(
        "island_id",
        F.sum("new_island").over(
            order_w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    isl = islands.groupBy("c", "island_id").agg(
        F.min("s").alias("is_"),
        F.max("e").alias("ie"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return isl.groupBy(F.col("c").alias("custkey")).agg(
        F.sum("n_orders").alias("n_orders"),
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("ie") - F.col("is_") + 1).alias("covered_days"),
        (F.max("ie") - F.min("is_") + 1).alias("span_days"),
        F.expr(
            "CAST(sum(ie - is_ + 1) * 1000000L"
            " div (max(ie) - min(is_) + 1) AS BIGINT)"
        ).alias("coverage_ppm"),
    )


# ---------------------------------------------------------------------------
# ta_burstiness. Church & Gale's observation: content words are BURSTY
# (variance-to-mean ratio of per-document counts >> 1, the Poisson
# baseline), function words are not. VMR over ALL documents (absent
# docs count as zero occurrences) in exact ppm via denominator
# clearing: vmr = (n*Σx² − (Σx)²) / (n*Σx).
# ---------------------------------------------------------------------------
TA_BURST_TOP = 10

TA_BURST_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, count(*) AS c FROM toks GROUP BY 1, 2
    ), stats AS (
      SELECT token,
             CAST(count(*) AS BIGINT) AS df,
             CAST(sum(c) AS BIGINT) AS total_tf,
             CAST(sum(c * c) AS BIGINT) AS sq
      FROM tf GROUP BY token
    ), n AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
    )
    SELECT token, df, total_tf,
           CAST((n.n_docs * sq - total_tf * total_tf) * 1000000
                // (n.n_docs * total_tf) AS BIGINT) AS vmr_ppm
    FROM stats, n
    ORDER BY df DESC, token
    LIMIT {TA_BURST_TOP}
"""


@query("ta_burstiness_cg", oracle=TA_BURST_ORACLE)
def ta_burstiness_cg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-to-mean ratio (exact ppm) of per-document counts for
    the {TA_BURST_TOP} highest-document-frequency tokens — the
    Church–Gale burstiness diagnostic that separates topical content
    words (VMR >> 1e6) from Poisson-like function words (~1e6).
    Absent documents count as zeros, handled algebraically
    (n·Σx² − (Σx)²)/(n·Σx) so no zero rows are ever materialized.

    Scale shape: one corpus explode into the (doc, token) partial agg,
    one token-grain aggregate (map-side combine on both), a 1-row
    n_docs broadcast, and a driver-trivial top-{TA_BURST_TOP} sort on
    the token-grain stats."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens()).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = tf.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("total_tf"),
        F.sum(F.col("c") * F.col("c")).alias("sq"),
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs")).localCheckpoint(eager=False)
    return (
        stats.crossJoin(F.broadcast(n))
        .select(
            "token",
            "df",
            "total_tf",
            F.expr(
                "CAST((n_docs * sq - total_tf * total_tf) * 1000000L"
                " div (n_docs * total_tf) AS BIGINT)"
            ).alias("vmr_ppm"),
        )
        .orderBy(F.col("df").desc(), "token")
        .limit(TA_BURST_TOP)
    )


# ---------------------------------------------------------------------------
# mm_parquet_footer. Every numeric is pinned inside the 2-byte zigzag
# varint band by construction (row-group size in [500, 3499] -> zigzag
# [1000, 6998]; rows in [100, 999] -> zigzag [200, 1998]; total rows
# <= 2997), so the thrift footer size is the CLOSED FORM 19 + 7*n_rg:
# version (1+1) + num_rows (1+2) + list field+header (2) + per group
# ((1+2) size + (1+2) rows + 1 STOP) + created_by (1+1+9) + STOP (1).
# ---------------------------------------------------------------------------
PQ_SCHEMA_FIELDS = (
    "media_id",
    "n_rowgroups",
    "total_rows",
    "body_bytes",
    "footer_bytes",
    "created_len",
    "file_bytes",
)

MM_PQ_ORACLE = """
    WITH rg AS (
      SELECT doc_id, g.g AS g,
             500 + (doc_id * 7 + g.g * 17) % 3000 AS size,
             100 + (doc_id * 13 + g.g * 29) % 900 AS nrows
      FROM (SELECT doc_id, 1 + doc_id % 3 AS ng FROM documents),
           LATERAL (SELECT unnest(range(ng)) AS g) g
    ), agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_rowgroups,
             CAST(sum(nrows) AS BIGINT) AS total_rows,
             CAST(sum(size) AS BIGINT) AS body_bytes
      FROM rg GROUP BY doc_id
    )
    SELECT doc_id AS media_id, n_rowgroups, total_rows, body_bytes,
           CAST(19 + 7 * n_rowgroups AS BIGINT) AS footer_bytes,
           CAST(9 AS BIGINT) AS created_len,
           12 + body_bytes + 19 + 7 * n_rowgroups AS file_bytes
    FROM agg
"""


@query("mm_parquet_footer", oracle=MM_PQ_ORACLE)
def mm_parquet_footer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: build a parquet-shaped file (PAR1 magic at both
    ends, real row-group byte runs, thrift compact FileMetaData
    footer, LE32 footer length) and strictly re-walk the tail — the
    fourth varint discipline in the walker family (thrift compact's
    delta-encoded field headers + zigzag ints, next to protobuf
    LEB128, EBML VINTs, and msgpack tags). Zero-shuffle Arrow
    mapInPandas via media_walk_query."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_parquet_footer,
        media_walk_query,
        parse_parquet_footer,
    )

    def per_doc(d: int) -> dict:
        rgs = [
            (
                500 + (d * 7 + g * 17) % 3000,
                100 + (d * 13 + g * 29) % 900,
            )
            for g in range(1 + d % 3)
        ]
        return parse_parquet_footer(
            encode_parquet_footer(rgs, f"p4spark-{d % 10}")
        )

    return media_walk_query(spark, sf_dir, PQ_SCHEMA_FIELDS, per_doc)


# ---------------------------------------------------------------------------
# mm_zstd_frames. Per-doc plan keeps every frame's decoded total < 256
# (1-byte FCS): block sizes 10 + (...)%70 <= 79, at most 3 blocks per
# frame. Encoded size per block = 3 + (size if raw else 1); raw when
# (d + f + b) is even. Skippable frames: 8 + payload.
# ---------------------------------------------------------------------------
ZSTD_SCHEMA_FIELDS = (
    "media_id",
    "n_frames",
    "n_skippable",
    "n_blocks",
    "raw_bytes",
    "rle_bytes",
    "content_bytes",
    "file_bytes",
)

MM_ZSTD_ORACLE = """
    WITH blk AS (
      SELECT doc_id, f.f AS f, b.b AS b,
             10 + (doc_id * 3 + f.f * 7 + b.b * 11) % 70 AS sz,
             CASE WHEN (doc_id + f.f + b.b) % 2 = 0 THEN 1 ELSE 0 END
               AS is_raw
      FROM (SELECT doc_id, 1 + doc_id % 2 AS nf FROM documents),
           LATERAL (SELECT unnest(range(nf)) AS f) f,
           LATERAL (SELECT unnest(range(1 + (doc_id + f.f) % 3)) AS b) b
    ), frames AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum(is_raw * sz) AS BIGINT) AS raw_bytes,
             CAST(sum((1 - is_raw) * sz) AS BIGINT) AS rle_bytes,
             -- magic(4) + FHD(1) + FCS(1) + per block 3 + payload
             CAST(6 + sum(3 + CASE WHEN is_raw = 1 THEN sz ELSE 1 END)
                  AS BIGINT) AS enc_bytes
      FROM blk GROUP BY doc_id, f
    ), per_doc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_frames,
             CAST(sum(n_blocks) AS BIGINT) AS n_blocks,
             CAST(sum(raw_bytes) AS BIGINT) AS raw_bytes,
             CAST(sum(rle_bytes) AS BIGINT) AS rle_bytes,
             CAST(sum(enc_bytes) AS BIGINT) AS frame_bytes
      FROM frames GROUP BY doc_id
    ), skips AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_skippable,
             CAST(coalesce(sum(8 + 5 + (doc_id * 7 + s.s * 13) % 40), 0)
                  AS BIGINT) AS skip_bytes
      FROM (SELECT doc_id, doc_id % 2 AS ns FROM documents),
           LATERAL (SELECT unnest(range(ns)) AS s) s
      GROUP BY doc_id
    )
    SELECT p.doc_id AS media_id, p.n_frames,
           CAST(coalesce(k.n_skippable, 0) AS BIGINT) AS n_skippable,
           p.n_blocks, p.raw_bytes, p.rle_bytes,
           p.raw_bytes + p.rle_bytes AS content_bytes,
           p.frame_bytes + coalesce(k.skip_bytes, 0) AS file_bytes
    FROM per_doc p LEFT JOIN skips k USING (doc_id)
"""


@query("mm_zstd_frames", oracle=MM_ZSTD_ORACLE)
def mm_zstd_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: build an RFC 8878 zstd stream (data frames with
    raw/RLE blocks + skippable frames) and strictly re-walk it —
    frame magics, FHD flag bits, 3-byte LE block headers, last-block
    placement, and the FCS cross-check (frame content size must equal
    the sum of block decoded sizes). Raw/RLE blocks are the spec's two
    entropy-free block types, so the walk is exact without a
    decompressor. Zero-shuffle Arrow mapInPandas via
    media_walk_query."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_zstd_frames,
        media_walk_query,
        parse_zstd_frames,
    )

    def per_doc(d: int) -> dict:
        items = [
            ("skip", d % 16, 5 + (d * 7 + s * 13) % 40)
            for s in range(d % 2)
        ]
        for f in range(1 + d % 2):
            items.append(
                (
                    "frame",
                    [
                        (
                            0 if (d + f + b) % 2 == 0 else 1,
                            10 + (d * 3 + f * 7 + b * 11) % 70,
                        )
                        for b in range(1 + (d + f) % 3)
                    ],
                )
            )
        return parse_zstd_frames(encode_zstd_frames(items))

    return media_walk_query(spark, sf_dir, ZSTD_SCHEMA_FIELDS, per_doc)


# ---------------------------------------------------------------------------
# q127_event_funnel. Strict-ordering funnel view -> click -> purchase:
# each stage's timestamp must be STRICTLY after the previous stage's
# (integer epoch micros both engines). Per-user stage tables are
# user-grain; neither side of the stage joins is bounded-small at
# corpus scale, so they carry merge hints.
# ---------------------------------------------------------------------------
FUNNEL_STAGES = ("view", "click", "purchase")

Q127_ORACLE = """
    WITH ev AS (
      SELECT user_id, event_type,
             CAST(epoch_us(ts) AS BIGINT) AS us
      FROM events
    ), v AS (
      SELECT user_id, min(us) AS v_us FROM ev
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT ev.user_id, min(us) AS c_us
      FROM ev JOIN v USING (user_id)
      WHERE event_type = 'click' AND us > v_us
      GROUP BY ev.user_id
    ), p AS (
      SELECT ev.user_id, min(us) AS p_us
      FROM ev JOIN c USING (user_id)
      WHERE event_type = 'purchase' AND us > c_us
      GROUP BY ev.user_id
    )
    SELECT 1 AS stage_idx, 'view' AS stage,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(1000000 AS BIGINT) AS conv_ppm,
           CAST(0 AS BIGINT) AS avg_lag_us
    FROM v
    UNION ALL
    SELECT 2, 'click', CAST(count(*) AS BIGINT),
           CAST(coalesce(count(*) * 1000000
                // nullif((SELECT count(*) FROM v), 0), 0) AS BIGINT),
           CAST(coalesce(sum(c_us - v_us) // count(*), 0) AS BIGINT)
    FROM c JOIN v USING (user_id)
    UNION ALL
    SELECT 3, 'purchase', CAST(count(*) AS BIGINT),
           CAST(coalesce(count(*) * 1000000
                // nullif((SELECT count(*) FROM v), 0), 0) AS BIGINT),
           CAST(coalesce(sum(p_us - c_us) // count(*), 0) AS BIGINT)
    FROM p JOIN c USING (user_id)
"""


@query("q127_event_funnel", oracle=Q127_ORACLE)
def q127_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the events stream: per user, the
    earliest view, the earliest click STRICTLY after that view, the
    earliest purchase strictly after that click; per stage, the users
    reached, conversion vs stage 1 in exact ppm, and the exact mean
    stage-to-stage lag in integer micros (sum div count — no float
    averaging). The strict-ordering semantics (each stage must follow
    the previous PER USER) is the part a plain per-type count cannot
    express and the classic funnel-analysis bug when done with
    unordered joins.

    Scale shape: one events scan feeds three type-filtered per-user
    min-aggregates; the two stage joins are user-grain vs user-grain
    (neither bounded-small at 100 TB — merge-hinted, no broadcast of a
    corpus-proportional side); the final 3-row union aggregates are
    scalar."""
    # ONE user-keyed shuffle feeds the whole funnel: every per-stage
    # aggregate groups on user_id and every stage join is keyed on
    # user_id, so hash-partitioning the (pinned) event projection once
    # lets Catalyst elide the exchange under all three groupBys and
    # both merge joins — the reuse-a-partitioning-across-stages rule.
    ev = (
        load_table(spark, sf_dir, "events")
        .selectExpr(
            "user_id",
            "event_type",
            "CAST(unix_micros(ts) AS BIGINT) AS us",
        )
        .repartition("user_id")
        .transform(pin_disk)
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v.hint("merge"), "user_id")
        .filter(F.col("us") > F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("c_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c.hint("merge"), "user_id")
        .filter(F.col("us") > F.col("c_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )
    n_v = v.agg(F.count(F.lit(1)).alias("nv")).localCheckpoint(eager=False)  # 1 row
    row1 = v.agg(
        F.lit(1).cast("bigint").alias("stage_idx"),
        F.lit("view").alias("stage"),
        F.count(F.lit(1)).alias("n_users"),
        F.lit(1_000_000).cast("bigint").alias("conv_ppm"),
        F.lit(0).cast("bigint").alias("avg_lag_us"),
    )
    row2 = (
        c.join(v.hint("merge"), "user_id")
        .crossJoin(F.broadcast(n_v))
        .agg(
            F.lit(2).cast("bigint").alias("stage_idx"),
            F.lit("click").alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
            F.expr(
                "CAST(coalesce(count(1) * 1000000L div max(nv), 0)"
                " AS BIGINT)"
            ).alias("conv_ppm"),
            F.expr(
                "CAST(coalesce(sum(c_us - v_us) div count(1), 0)"
                " AS BIGINT)"
            ).alias("avg_lag_us"),
        )
    )
    row3 = (
        p.join(c.hint("merge"), "user_id")
        .crossJoin(F.broadcast(n_v))
        .agg(
            F.lit(3).cast("bigint").alias("stage_idx"),
            F.lit("purchase").alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
            F.expr(
                "CAST(coalesce(count(1) * 1000000L div max(nv), 0)"
                " AS BIGINT)"
            ).alias("conv_ppm"),
            F.expr(
                "CAST(coalesce(sum(p_us - c_us) div count(1), 0)"
                " AS BIGINT)"
            ).alias("avg_lag_us"),
        )
    )
    return row1.unionByName(row2).unionByName(row3)


# ---------------------------------------------------------------------------
# stream_bottomk_incremental. The streaming proof of the bottom-k
# sketch's merge identity: the reservoir is maintained INCREMENTALLY
# across micro-batches (per-batch bottom-k, then bottom-k of
# state ∪ batch — state never exceeds 2K rows) and must hash-equal the
# batch/oracle global bottom-k. This is exactly why mergeable sampling
# matters at 100 TB: the same K-row merge works per partition, per
# executor, per micro-batch, or per day of arrivals.
# ---------------------------------------------------------------------------
@query("stream_bottomk_incremental", oracle=CURATE_BOTTOMK_ORACLE)
def stream_bottomk_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Maintain curate_bottomk_sample's reservoir over a 3-slice
    document feed (one slice per micro-batch, availableNow); the
    final state must equal the batch global bottom-{BOTTOMK_K}
    exactly — same oracle, same hash."""
    import tempfile

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from eeecs485_p4_mapreduce_spark.streaming.queries import (
        cached_layout,
    )
    from pathlib import Path

    doc_schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("source", StringType(), False),
        ]
    )

    def build(sp: SparkSession, d: str) -> None:
        docs = load_table(sp, sf_dir, "documents").select(
            "doc_id", "source"
        )
        for sl in range(3):
            (
                docs.filter(F.col("doc_id") % 3 == sl)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(str(Path(d) / f"slice-{sl:03d}.parquet"))
            )

    spool = cached_layout(spark, sf_dir, "bottomk_slices", build)
    state: dict = {"sample": None}
    w = Window.orderBy("h", "doc_id")

    def merge_batch(batch_df, batch_id: int) -> None:
        # Per-batch reservoir via TakeOrderedAndProject (each task
        # keeps its own K smallest; never a whole-batch global window
        # — that would sort the entire slice on one task at scale),
        # then bottom-k of state ∪ batch over <= 2K rows.
        part = (
            batch_df.selectExpr(
                "doc_id", "source", f"{_SPARK_DOC_H} AS h"
            )
            .orderBy("h", "doc_id")
            .limit(BOTTOMK_K)
        )
        merged = (
            part
            if state["sample"] is None
            else state["sample"].unionByName(part)
        )
        # state is <= 2K rows; the pin keeps lineage O(1) across
        # batches (the CC-loop rule, SCALE.md)
        state["sample"] = (
            merged.orderBy("h", "doc_id")
            .limit(BOTTOMK_K)
            .localCheckpoint()
        )

    # Checkpoint dir is per-invocation (availableNow reruns must not
    # resume a finished query's offsets) and removed after termination
    # so repeated bench/driver runs don't accumulate temp dirs.
    ckpt = tempfile.mkdtemp(prefix="p4spark_bottomk_ckpt_")
    try:
        q = (
            spark.readStream.schema(doc_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(spool + "/*.parquet")
            .writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)
    out = state["sample"]
    if out is None:
        raise ValueError("bottom-k stream produced no batches")
    # The limit is a row-wise no-op (state is already <= K) but makes
    # the bound PROVEN in-plan, so the rank window's input is a
    # GlobalLimit, not an unbounded local relation.
    return (
        out.orderBy("h", "doc_id")
        .limit(BOTTOMK_K)
        .withColumn("sample_rank", F.row_number().over(w))
        .select("sample_rank", "doc_id", "source", "h")
    )


# ---------------------------------------------------------------------------
# dedup_exact_substring. Lee et al. 2022 ("Deduplicating Training Data
# Makes Language Models Better") dedups EXACT REPEATED SUBSTRINGS via
# suffix arrays — the property that matters is any-offset matching.
# This is its W-token-granular distributed form: SLIDING windows (one
# per token position), fingerprinted BEFORE the shuffle (48-bit md5
# prefix, the repo's standing rule), inverted-indexed by fingerprint,
# cross-document when >= 2 distinct docs share one. The existing
# dedup_chunk_shared hashes ALIGNED non-overlapping chunks and
# therefore misses a passage repeated at a different offset — the
# exact failure mode suffix-array dedup exists to fix; the sliding
# window is the unaligned complement.
# ---------------------------------------------------------------------------
SUBSTR_W = 8  # window length in tokens

_SPARK_TOKS22 = "split(lower(text), '[ \t]')"

_SUBSTR_FP_SPARK = (
    "cast(conv(substring(md5(win), 1, 12), 16, 10) as bigint)"
)
_SUBSTR_FP_DUCK = (
    "CAST(CAST(concat('0x', substr(md5(win), 1, 12)) AS UBIGINT)"
    " AS BIGINT)"
)

DEDUP_SUBSTR_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ), w AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) >= {SUBSTR_W} THEN
               list_transform(range(len(toks) - {SUBSTR_W - 1}),
                 i -> array_to_string(
                        list_slice(toks, i + 1, i + {SUBSTR_W}), ' '))
               ELSE [] END) AS win
      FROM sh
    ), f AS (
      SELECT doc_id, {_SUBSTR_FP_DUCK} AS fp FROM w
    ), nd AS (
      SELECT fp, count(DISTINCT doc_id) AS ndocs FROM f GROUP BY fp
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_windows,
           CAST(count(DISTINCT CASE WHEN ndocs >= 2 THEN fp END)
                AS BIGINT) AS n_dup_fps,
           CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS dup_ppm
    FROM f JOIN nd USING (fp)
    GROUP BY doc_id
"""


@query("dedup_exact_substring", oracle=DEDUP_SUBSTR_ORACLE)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: how much of it is an EXACT {SUBSTR_W}-token run
    that also appears verbatim in another document — sliding windows
    at every token position (any-offset matching, the suffix-array
    property dedup_chunk_shared's aligned chunks cannot see), counted
    as total windows, cross-document windows, distinct shared
    fingerprints, and the exact ppm duplication rate.

    Scale shape: windows never leave their doc as strings — each is
    folded to a 48-bit md5-prefix fingerprint map-side, so the ONE
    corpus shuffle carries (doc_id, fp) longs; the fingerprint
    document-frequency table is window-grain (not bounded-small), so
    the join back carries a merge hint; per-doc aggregation is the
    second and last shuffle. Docs shorter than {SUBSTR_W} tokens have
    no windows and are absent, mirrored by construction in the
    oracle."""
    docs = load_table(spark, sf_dir, "documents")
    # Tokenizer let-binding (r15, the word_shingles rule): without the
    # transform(array(tok), __t -> ...)[0] wrapper, CollapseProject
    # inlines the regex split into the window lambda and the document
    # is RE-SPLIT once per window position (measured: the fingerprint
    # pass alone was 2.95 s warm at sf0.1; bound, ~0.3 s). Window
    # strings are byte-identical (same concat_ws over the same slices),
    # so fingerprints and output are unchanged.
    wins = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(array({_SPARK_TOKS22}), __t ->"
                f" CASE WHEN size(__t) >= {SUBSTR_W} THEN"
                f" transform(sequence(1, size(__t) - {SUBSTR_W - 1}),"
                f" i -> concat_ws(' ', slice(__t, i, {SUBSTR_W})))"
                f" ELSE array() END)[0]"
            )
        ).alias("win"),
    )
    # the fingerprint table feeds BOTH the document-frequency aggregate
    # and the join back; pin it so the corpus is scanned and shingled
    # once (corpus-sized reuse -> DISK_ONLY, the ta_bm25 rule)
    f = wins.selectExpr(
        "doc_id", f"{_SUBSTR_FP_SPARK} AS fp"
    ).transform(pin_disk)
    nd = f.groupBy("fp").agg(
        F.count_distinct("doc_id").alias("ndocs")
    )
    return (
        f.join(nd.hint("merge"), "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(
                F.when(F.col("ndocs") >= 2, 1).otherwise(0)
            ).alias("n_dup_windows"),
            F.count_distinct(
                F.when(F.col("ndocs") >= 2, F.col("fp"))
            ).alias("n_dup_fps"),
            F.expr(
                "CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)"
                " * 1000000L div count(1) AS BIGINT)"
            ).alias("dup_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_lsh_band_curve. The LSH S-CURVE measured, not assumed: the SAME
# 16 MinHash values support three bandings (2x8, 4x4, 8x2); candidate
# probability at Jaccard j is 1-(1-j^r)^b, so more/shorter bands buy
# recall with precision (the knob every production LSH dedup tunes).
# Ground truth is the exact 3-shingle Jaccard >= 0.2 pair set
# (dedup_ngram_jaccard's own definition, reused); signatures come from
# dedup._minhash_signatures — the production definition, shared, not
# copied.
# ---------------------------------------------------------------------------
LSH_CURVE_CONFIGS = ((2, 8), (4, 4), (8, 2))  # (bands, rows) over 16


def _lsh_curve_oracle() -> str:
    from eeecs485_p4_mapreduce_spark.operators.dedup import (
        _DUCK_BASE,
        _DUCK_SHINGLES,
        _MH_A,
        _MH_B,
        _MH_P,
        N_HASHES,
    )

    nl = ",\n             "
    mins = nl.join(
        f"min(({_MH_A[i]} * base + {_MH_B[i]}) % {_MH_P}) AS h{i}"
        for i in range(N_HASHES)
    )
    band_ctes = []
    selects = []
    for nb, r in LSH_CURVE_CONFIGS:
        sig_case = " ".join(
            "WHEN {b} THEN {sig}".format(
                b=b,
                sig=" || '-' || ".join(
                    f"CAST(h{r * b + i} AS VARCHAR)" for i in range(r)
                ),
            )
            for b in range(nb)
        )
        band_ctes.append(
            f"""bands_{nb} AS (
      SELECT doc_id, bb.b AS band_id,
             CASE bb.b {sig_case} END AS band_sig
      FROM hashes, (SELECT unnest(range({nb})) AS b) bb
    ),
    cand_{nb} AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands_{nb} a JOIN bands_{nb} b
        ON a.band_id = b.band_id AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    )"""
        )
        selects.append(
            f"""SELECT CAST({nb} AS BIGINT) AS n_bands,
           CAST({r} AS BIGINT) AS rows_per_band,
           CAST((SELECT count(*) FROM cand_{nb}) AS BIGINT)
             AS n_candidates,
           CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT count(*) FROM cand_{nb} c
                 JOIN truth t ON c.doc_a = t.doc_a
                  AND c.doc_b = t.doc_b) AS BIGINT) AS true_positives,
           CAST(coalesce((SELECT count(*) FROM cand_{nb} c
                 JOIN truth t ON c.doc_a = t.doc_a
                  AND c.doc_b = t.doc_b) * 1000000
                // nullif((SELECT count(*) FROM truth), 0), 0)
             AS BIGINT) AS recall_ppm,
           CAST(coalesce((SELECT count(*) FROM cand_{nb} c
                 JOIN truth t ON c.doc_a = t.doc_a
                  AND c.doc_b = t.doc_b) * 1000000
                // nullif((SELECT count(*) FROM cand_{nb}), 0), 0)
             AS BIGINT) AS precision_ppm"""
        )
    cte_block = ",\n    ".join(band_ctes)
    select_block = "\n    UNION ALL\n    ".join(selects)
    return f"""
    WITH sh AS (
      SELECT doc_id, {_DUCK_SHINGLES} AS shingles
      FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
    ),
    ex AS (
      SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n
      FROM sh WHERE len(shingles) > 0
    ),
    hashes AS (
      SELECT doc_id, {mins}
      FROM (SELECT doc_id, {_DUCK_BASE} AS base, n FROM ex)
      GROUP BY doc_id
    ),
    jpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS n_common,
             any_value(a.n) AS n_a, any_value(b.n) AS n_b
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b FROM jpairs
      WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.2
    ),
    {cte_block}
    {select_block}
    """


@query("dedup_lsh_band_curve", oracle=_lsh_curve_oracle())
def dedup_lsh_band_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH banding S-curve, measured on this corpus: for bandings
    (2x8, 4x4, 8x2) over the SAME 16-value MinHash signatures, the
    candidate count, exact-Jaccard>=0.2 ground-truth count, true
    positives, and exact ppm recall/precision. This is the number a
    production dedup pipeline tunes (1-(1-j^r)^b): more, shorter bands
    trade precision for recall — here the trade is measured instead of
    read off the formula.

    Scale shape: ONE shingle scan feeds both the signature aggregate
    and the exact-Jaccard truth (both pinned DISK_ONLY — doc-grain and
    pair-grain reuse); per banding, candidates come from bucket
    grouping (never all-pairs). All three bandings union into ONE
    tagged relation whose single left join against the truth pairs
    (unique by construction) yields every curve point in one grouped
    aggregate — the r14 form ran 2 aggregates over each banding's
    candidate set plus a truth count per point (42 sequential jobs at
    sf0.1); this form is one action whose independent banding branches
    AQE materializes concurrently (r15: 42 -> ~17 exec jobs, warm
    3.2 s -> ~1.6 s). Same pairs, same counts — count("t") over the
    left join equals the old semi-join count because truth pairs are
    distinct."""
    from eeecs485_p4_mapreduce_spark.operators.dedup import (
        _minhash_signatures,
        dedup_ngram_jaccard,
    )

    docs = load_table(spark, sf_dir, "documents")
    hashes = _minhash_signatures(docs).transform(pin_disk)
    truth = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .transform(pin_disk)
    )
    cands = []
    for nb, r in LSH_CURVE_CONFIGS:
        band_structs = ", ".join(
            "struct({b} as band_id, concat_ws('-', {cols}) as band_sig)".format(
                b=b,
                cols=", ".join(f"h{r * b + i}" for i in range(r)),
            )
            for b in range(nb)
        )
        bands = hashes.select(
            "doc_id",
            F.explode(F.expr(f"array({band_structs})")).alias("bs"),
        ).select("doc_id", "bs.band_id", "bs.band_sig")
        buckets = (
            bands.groupBy("band_id", "band_sig")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
            .filter(F.size("ds") > 1)
        )
        cands.append(
            buckets.select(F.posexplode("ds").alias("i", "doc_a"), "ds")
            .select(
                "doc_a",
                F.explode(
                    F.expr("slice(ds, i + 2, size(ds))")
                ).alias("doc_b"),
            )
            .distinct()
            .select(
                F.lit(nb).cast("bigint").alias("n_bands"),
                F.lit(r).cast("bigint").alias("rows_per_band"),
                "doc_a",
                "doc_b",
            )
        )
    cand_all = cands[0]
    for c in cands[1:]:
        cand_all = cand_all.unionByName(c)
    stats = (
        cand_all.join(
            truth.withColumn("t", F.lit(1)), ["doc_a", "doc_b"], "left"
        )
        .groupBy("n_bands", "rows_per_band")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.count("t").alias("true_positives"),
        )
        .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_truth")))
    )
    return stats.select(
        "n_bands",
        "rows_per_band",
        "n_candidates",
        "n_truth",
        "true_positives",
        F.expr(
            "CAST(coalesce(true_positives * 1000000L"
            " div nullif(n_truth, 0), 0) AS BIGINT)"
        ).alias("recall_ppm"),
        F.expr(
            "CAST(coalesce(true_positives * 1000000L"
            " div nullif(n_candidates, 0), 0) AS BIGINT)"
        ).alias("precision_ppm"),
    )
