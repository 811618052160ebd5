"""The r10-session query additions — built under the staging
discipline and REGISTERED within the same round once every query had
its full evidence set (the r9 verdict ranked "exists but not yet
driver-graded" as the only gap worth closing, so the flip no longer
waits for the next round).

Same discipline as operators/staged_r9–r19: built, pytest
hash-checked against DuckDB at sf0.001 and sf0.01
(tests/test_staged_r20.py), fixture-tested with independent
references, plan-gate swept, x10/x100 replica-probed, and — new for
this flip — re-checked under a VANILLA driver-style session
(SPARK_VANILLA=1 tools/oracle_check.py, 20/20 green at sf0.01) before
registration. Same contract as every registered query: identical
aliases both sides, round()-ed or integer-exact outputs, no nullable
hash-bearing columns.

Registered surface (flipped in r10):

- ``mm_mkv_ebml`` — the third container-framing discipline alongside
  mm_mp4_boxes (length-prefixed boxes) and mm_ogg_pages (lacing
  runs): Matroska/EBML, where element IDs AND sizes are
  variable-length integers whose width is announced by their own
  leading zero bits (RFC 8794). Each document synthesizes a real
  minimal Matroska file (EBML header, Segment, Info/TimestampScale,
  Clusters of Timestamp + SimpleBlock) and re-walks it with a strict
  recursive VINT reader; the oracle mirrors the VINT width arithmetic
  byte-for-byte, so one byte of drift in either the writer or the
  walker breaks file_bytes.
- ``ta_fertility_census`` — per-language tokenizer-fertility /
  compression census (tokens-per-word, bytes-per-token — the two
  numbers a multilingual pretraining mix is balanced against, cf.
  the fertility tables in multilingual-tokenizer papers): one
  map-side regex pass per doc, one |languages|-row aggregate, exact
  two-step ppm arithmetic (no doubles anywhere).
- ``ta_zipf_rank_mass`` — Zipf-law diagnostic without logarithms:
  bucket the corpus vocabulary by rank OCTAVE (rank in [2^o,
  2^(o+1))) and report exact token counts and probability mass per
  octave. Under Zipf (freq ∝ 1/rank) every octave carries roughly
  equal mass, so the ppm column IS the goodness-of-fit read-out —
  fully integer-exact. Complements the registered ``ta_zipf_slope``
  (the point-estimate fit): the octave table shows WHERE on the rank
  axis the corpus departs from the law, which one slope cannot.
- ``sim_ivfpq_rerank_recall`` — the quality curve for the two-stage
  ANN pipeline every vector store ships (FAISS IVF-PQ + refine):
  IVF-restricted ADC candidates, exact-cosine rerank of the ADC
  top-R, recall@k against the exact brute force, for R on a 3-point
  curve. Pairs sim_ivfpq_search (which returns the ADC ranking) with
  sim_ann_recall's overlap metric, and answers the operational
  question those two leave open: how much rerank budget buys how
  much recall.
- ``q111_sessionize`` — classic 30-minute-gap sessionization over the
  events stream (the canonical pre-aggregation for engagement/funnel
  work): per-user session ids from a lag window over microsecond
  timestamps, then per-user session stats. All integer (epoch
  microseconds), tz-free by construction.
- ``skew_partition_histogram`` — the shuffle-skew diagnosis read-out:
  per-partition row/key counts under the repo's hash32 md5 routing
  (the 32-bit cousin of mrlite's M2 full-digest router — md5 is the
  one hash family both engines can mirror exactly, unlike Spark's
  murmur3 ``hash()``), with each partition's
  load as exact ppm of the even share. This is the table you read
  BEFORE reaching for salting/AQE — it tells you whether imbalance
  is key-skew (n_keys small, n_rows big) or hash-unluck (n_keys
  even, n_rows off).
- ``q114_protobuf_roundtrip`` — completes the varint-serialization
  trilogy (Avro's zigzag block format in q109, EBML's
  leading-bit-width VINTs in mm_mkv_ebml): Protocol Buffers wire
  format from the public spec — LEB128 varints with the 10-byte
  two's-complement negative-int64 path, (field_number << 3 |
  wire_type) tags, length-delimited strings, sint64 zigzag, packed
  repeated varints, and optional-field presence — encoded into
  per-partition length-prefixed blobs, strictly decoded back, and
  aggregated. Neither engine ships a protobuf reader, so the
  from-scratch codec IS the query, same as q109.
- ``q113_scd2_dimension`` — a type-2 slowly-changing dimension built
  from the event stream (the warehouse op every dimension pipeline
  runs nightly): the tracked attribute is a tier parsed out of the
  JSON ``props`` column (exercising get_json_object /
  json_extract_string on the two engines), versions are
  gaps-and-islands runs per user, and each version carries
  [valid_from_us, valid_to_us) with a -1 open-end sentinel and an
  is_current flag — no nullable hash columns. Pairs with q86_pit_join
  (which consumes exactly this interval shape).
- ``stream_scd2_incremental`` — nightly-feed dimension maintenance:
  the event history streams in three time-range slices
  (maxFilesPerTrigger=1) and each micro-batch MERGES into the running
  SCD2 dimension (extend the open version on equal tier, close+append
  on change, carry untouched users forward). The oracle is the batch
  rebuild (Q113_ORACLE verbatim): incremental maintenance must be
  exactly equivalent to rebuild-from-scratch — the invariant that
  makes nightly dimension merges trustworthy.
- ``q115_supplier_skyline`` — the SKYLINE (Pareto-frontier) operator
  from the classic DB literature (Börzsönyi et al., ICDE 2001): the
  suppliers not dominated on (revenue, shipped-line count). The Spark
  plan is the O(n log n) sort + strict-greater RANGE-frame running
  max over the aggregated (dimension-sized) relation — never the
  naive O(n²) self-join — while the DuckDB oracle deliberately IS the
  quadratic NOT EXISTS definition, so the window formulation is
  proven against the textbook semantics including ties (equal points
  both survive; equal-revenue lower-count rows are dominated).
- ``curate_survivorship_report`` — the per-(source, lang) dedup
  funnel read-out every corpus release ships: how many documents each
  slice loses to exact dedup (non-min doc_id within an md5(text)
  group) and to near-dup clustering (non-representative members of
  MinHash-LSH connected components, the registered
  dedup_near_survivors rule), and the exact-ppm survival rate. The
  oracle recomputes both stages relationally (window-min for exact,
  the recursive-CTE closure for near) — the report is provably the
  same decision the dedup operators make, sliced for the data-mix
  dashboard.
- ``q112_dow_profile`` — day-of-week × event-type activity profile
  with exact per-type ppm shares: the seasonality fingerprint used
  to sanity-check event pipelines after timezone or clock changes.
  DOW is computed from the epoch DAY NUMBER (1970-01-01 was a
  Thursday), not an engine dow() builtin, so both engines share one
  integer definition.
- ``mm_qoi_decode`` — the QOI image codec (qoiformat.org): the
  stateful PIXEL codec complementing the container walkers — running
  64-entry color index, delta ops, run-length ops over one flat pixel
  stream. Real spec-complete encoder + strict decoder; the fixture
  image is chosen so the chunk census has a closed form the oracle
  mirrors (see section comment).
- ``q116_gini_split`` — the decision-stump split finder: weighted
  Gini impurity per candidate order-value threshold for predicting
  urgent priority — the inner loop of tree learners and label-quality
  audits, in overflow-safe exact-ppm arithmetic (shares first, never
  squared counts).
- ``q117_autocorrelation`` — lag-1..7 sample ACF of the daily revenue
  series with the mean-free (n·x − S) deviation trick and sign-split
  two-step ppm division (integer division on negatives floors
  differently across engines). The day axis is calendar-bounded, so
  every post-aggregation relation stays dimension-sized at any sf.
- ``skew_isolated_hot_join`` — hot-key ISOLATION, completing the skew
  family next to salting and the partition histogram: the synthetic
  degenerate user (half the fact table) takes a broadcast map-side
  path that never shuffles its rows; the cold rest takes the ordinary
  shuffle join; the oracle is the plain join.
- ``mm_gzip_members`` — RFC 1952 multi-member gzip framing (the
  block-gzipped corpus-shard shape): real members with STORED-mode
  deflate (closed-form byte layout), FNAME handling, and per-member
  CRC32/ISIZE verification; Python's own gzip module serves as the
  independent decoder in tests.
- ``q118_theil_sen`` / ``q119_mann_kendall`` — the classic robust
  trend duo over the daily revenue series: median-of-pairwise-slopes
  (quartiles as exact order statistics) and the Mann–Kendall S / 
  Kendall's tau sign test. O(days²) by definition, but the day axis
  is calendar-bounded, so the pair relation is a constant ~3.2M rows
  at every corpus size; slopes use the 0..10,000 quantization +
  sign-split floor division discipline.
- ``dedup_prefix_filter_join`` — the prefix-filtering set-similarity
  join (AllPairs/PPJoin, Bayardo WWW'07): index only each doc's
  rarest n − ceil(t·n) + 1 shingle fingerprints (t = 0.8), pair
  within those cold postings, verify with exact integer Jaccard. By
  the prefix-filter theorem the output is IDENTICAL to the full
  inverted-index join, which is exactly what the oracle checks. The
  x100 probe drove three successive scale fixes recorded in the
  section comment (no per-doc arrays, fingerprints not strings, merge
  hints on corpus-proportional joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from eeecs485_p4_mapreduce_spark.catalog import load_table, pin_disk
from eeecs485_p4_mapreduce_spark.registry import query

# ---------------------------------------------------------------------------
# mm_mkv_ebml: REAL Matroska/EBML walk (see encode_mkv/parse_mkv_ebml
# in multimodal.py). Doc d writes timescale 500000 + (d%10)*100000,
# 1 + d%3 clusters at timestamps (c+1)*(100 + d%50); cluster c holds
# 1 + (d+c)%4 SimpleBlocks; block j carries 40 + (d*5 + c*11 + j*17)
# % 200 frame bytes. The oracle mirrors the EBML size-VINT widths:
# a payload of s bytes costs 1 lacing^W size byte when s < 127 and 2
# when s < 16383 (nothing here exceeds that), so every element is
# id_bytes + vint(s) + s — the file_bytes column re-derives the whole
# layout arithmetic relationally.
# ---------------------------------------------------------------------------
MKV_SCHEMA_FIELDS = (
    "media_id",
    "n_elements",
    "n_clusters",
    "n_blocks",
    "frame_bytes",
    "file_bytes",
    "timestamp_scale",
    "last_cluster_ts",
)

MM_MKV_ORACLE = """
    WITH blk AS (
      SELECT doc_id, c.c AS c, j.j AS j,
             40 + (doc_id * 5 + c.c * 11 + j.j * 17) % 200 AS flen
      FROM (SELECT doc_id, 1 + doc_id % 3 AS nc FROM documents),
           LATERAL (SELECT unnest(range(nc)) AS c) c,
           LATERAL (SELECT unnest(range(1 + (doc_id + c.c) % 4)) AS j) j
    ), clusters AS (
      SELECT doc_id, c,
             CAST(count(*) AS BIGINT) AS n_blk,
             CAST(sum(flen) AS BIGINT) AS fbytes,
             -- block element: 1 id + vint(4+flen) + (4+flen)
             CAST(sum(1 + CASE WHEN 4 + flen < 127 THEN 1 ELSE 2 END
                          + 4 + flen) AS BIGINT) AS blk_bytes
      FROM blk GROUP BY 1, 2
    ), cl_sized AS (
      SELECT doc_id, c, n_blk, fbytes,
             -- cluster content: Timestamp element (4) + blocks
             4 + blk_bytes AS content
      FROM clusters
    ), per_doc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_clusters,
             CAST(sum(n_blk) AS BIGINT) AS n_blocks,
             CAST(sum(fbytes) AS BIGINT) AS frame_bytes,
             -- cluster element: 4 id + vint(content) + content
             CAST(sum(4 + CASE WHEN content < 127 THEN 1 ELSE 2 END
                          + content) AS BIGINT) AS cl_bytes,
             CAST(sum(2 + n_blk) AS BIGINT) AS inner_elems
      FROM cl_sized GROUP BY doc_id
    )
    SELECT d.doc_id AS media_id,
           6 + p.inner_elems AS n_elements,
           p.n_clusters,
           p.n_blocks,
           p.frame_bytes,
           -- header(20) + segment: 4 id + vint(12 + clusters) + content
           20 + 4 + CASE WHEN 12 + p.cl_bytes < 127 THEN 1 ELSE 2 END
              + 12 + p.cl_bytes AS file_bytes,
           CAST(500000 + (d.doc_id % 10) * 100000 AS BIGINT)
             AS timestamp_scale,
           CAST(p.n_clusters * (100 + d.doc_id % 50) AS BIGINT)
             AS last_cluster_ts
    FROM documents d JOIN per_doc p USING (doc_id)
"""


@query("mm_mkv_ebml", oracle=MM_MKV_ORACLE)
def mm_mkv_ebml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: build a Matroska/EBML file and re-walk it with the
    real recursive VINT parser (see section comment). Zero-shuffle
    Arrow mapInPandas via the shared media_walk_query scaffold."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_mkv,
        media_walk_query,
        parse_mkv_ebml,
    )

    def per_doc(d: int) -> dict:
        base = 100 + d % 50
        clusters = []
        for c in range(1 + d % 3):
            lens = [
                40 + (d * 5 + c * 11 + j * 17) % 200
                for j in range(1 + (d + c) % 4)
            ]
            clusters.append(((c + 1) * base, lens))
        info = parse_mkv_ebml(
            encode_mkv(500_000 + (d % 10) * 100_000, clusters)
        )
        return info

    return media_walk_query(spark, sf_dir, MKV_SCHEMA_FIELDS, per_doc)


# ---------------------------------------------------------------------------
# ta_fertility_census: per-language tokenizer fertility + compression.
# fertility_ppm = BPE-ish tokens per whitespace word (how many pieces
# the tokenizer shatters a word into — the metric multilingual
# tokenizer papers tabulate per language); bytes_per_token_ppm = UTF-8
# bytes per token (the compression read-out that decides per-language
# sampling budgets). Both in exact ppm via the two-step x1000 split
# (same overflow discipline as ta_char_gini: a direct *1e6 would
# overflow BIGINT near ~9e12 tokens per language).
# ---------------------------------------------------------------------------
_BPE_PAT = "[a-z0-9]+|[^a-z0-9 ]"

TA_FERTILITY_ORACLE = f"""
    WITH per_doc AS (
      SELECT lang,
             CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS BIGINT)
               AS bpe,
             CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
               AS words,
             CAST(n_chars AS BIGINT) AS chars,
             CAST(strlen(text) AS BIGINT) AS bytes
      FROM documents
    ), agg AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(words) AS BIGINT) AS n_words,
             CAST(sum(bpe) AS BIGINT) AS n_bpe_tokens,
             CAST(sum(chars) AS BIGINT) AS n_chars,
             CAST(sum(bytes) AS BIGINT) AS n_bytes
      FROM per_doc GROUP BY lang
    )
    SELECT lang, n_docs, n_words, n_bpe_tokens, n_chars, n_bytes,
           CAST(((n_bpe_tokens * 1000) // n_words) * 1000
                + (((n_bpe_tokens * 1000) % n_words) * 1000) // n_words
             AS BIGINT) AS fertility_ppm,
           CAST(((n_bytes * 1000) // n_bpe_tokens) * 1000
                + (((n_bytes * 1000) % n_bpe_tokens) * 1000)
                  // n_bpe_tokens AS BIGINT) AS bytes_per_token_ppm
    FROM agg
"""


@query("ta_fertility_census", oracle=TA_FERTILITY_ORACLE)
def ta_fertility_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language fertility / compression census in exact ppm (see
    section comment). One regex projection per doc (map-side), one
    |languages|-row aggregate — at 100 TB the only exchange is the
    partial-aggregated lang shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.selectExpr(
        "lang",
        f"cast(size(regexp_extract_all(text, '{_BPE_PAT}', 0)) as bigint)"
        " AS bpe",
        "cast(size(regexp_extract_all(text, '[a-z0-9]+', 0)) as bigint)"
        " AS words",
        "cast(n_chars as bigint) AS chars",
        "cast(octet_length(text) as bigint) AS bytes",
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("words").alias("n_words"),
        F.sum("bpe").alias("n_bpe_tokens"),
        F.sum("chars").alias("n_chars"),
        F.sum("bytes").alias("n_bytes"),
    )
    return agg.selectExpr(
        "lang",
        "n_docs",
        "n_words",
        "n_bpe_tokens",
        "n_chars",
        "n_bytes",
        "((n_bpe_tokens * 1000) div n_words) * 1000"
        " + (((n_bpe_tokens * 1000) % n_words) * 1000) div n_words"
        " AS fertility_ppm",
        "((n_bytes * 1000) div n_bpe_tokens) * 1000"
        " + (((n_bytes * 1000) % n_bpe_tokens) * 1000) div n_bpe_tokens"
        " AS bytes_per_token_ppm",
    )


# ---------------------------------------------------------------------------
# ta_zipf_rank_mass: Zipf diagnostic by rank octave. Ranks come from
# row_number over (freq DESC, token) — the repo's standard total
# order; the octave assignment rank ∈ [2^o, 2^(o+1)) is a range join
# against a 31-row generated table (no log2() anywhere: floor(log2)
# of an integer via float log is exactly the kind of last-ulp hazard
# the oracle contract bans). mass_ppm uses the two-step x1000 split.
# Scale: the vocabulary aggregate is the only corpus-sized exchange;
# ranking the vocabulary is a single-dimension sort of |V| rows and
# the output is <= 31 rows.
# ---------------------------------------------------------------------------
TA_ZIPF_ORACLE = """
    WITH counts AS (
      SELECT token, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split_regex(lower(text), '[ \t]'))
              AS token FROM documents)
      WHERE token <> '' GROUP BY token
    ), ranked AS (
      SELECT token, freq,
             row_number() OVER (ORDER BY freq DESC, token) AS rank
      FROM counts
    ), octaves AS (
      SELECT CAST(o AS BIGINT) AS octave,
             CAST(1 << o AS BIGINT) AS rank_lo,
             CAST((1 << (o + 1)) - 1 AS BIGINT) AS rank_hi
      FROM (SELECT unnest(range(31)) AS o)
    ), tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM counts)
    SELECT o.octave, o.rank_lo,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(r.freq) AS BIGINT) AS mass,
           CAST(((sum(r.freq) * 1000) // t.total) * 1000
                + (((sum(r.freq) * 1000) % t.total) * 1000) // t.total
             AS BIGINT) AS mass_ppm
    FROM ranked r
    JOIN octaves o ON r.rank >= o.rank_lo AND r.rank <= o.rank_hi
    CROSS JOIN tot t
    GROUP BY o.octave, o.rank_lo, t.total
"""


@query("ta_zipf_rank_mass", oracle=TA_ZIPF_ORACLE)
def ta_zipf_rank_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact probability mass per vocabulary rank octave (see section
    comment)."""
    from eeecs485_p4_mapreduce_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens()).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = counts.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("freq").desc(), "token")),
    )
    octaves = spark.range(31).selectExpr(
        "cast(id as bigint) AS octave",
        "cast(shiftleft(1L, cast(id as int)) as bigint) AS rank_lo",
        "cast(shiftleft(1L, cast(id as int) + 1) - 1 as bigint) AS rank_hi",
    )
    tot = counts.agg(F.sum("freq").alias("total"))
    return (
        ranked.join(
            F.broadcast(octaves),
            (F.col("rank") >= F.col("rank_lo"))
            & (F.col("rank") <= F.col("rank_hi")),
        )
        .crossJoin(F.broadcast(tot))
        .groupBy("octave", "rank_lo", "total")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("freq").alias("mass"),
        )
        .selectExpr(
            "octave",
            "rank_lo",
            "n_tokens",
            "mass",
            "((mass * 1000) div total) * 1000"
            " + (((mass * 1000) % total) * 1000) div total AS mass_ppm",
        )
    )


# ---------------------------------------------------------------------------
# sim_ivfpq_rerank_recall: the IVF-PQ + exact-refine quality curve.
# Stage 1 (shared with sim_ivfpq_search): candidates = vectors whose
# IVF cell is among each query's NPROBE probed cells, ranked by the
# 4-subspace ADC distance. Stage 2: for each rerank budget R on the
# curve, take the ADC top-R, score them with TRUE cosine, keep the
# exact top-k, and measure overlap against sim_topk_bruteforce's
# exact top-k. recall is exact ppm (integer), so the only floats in
# the query are the orderings both engines already hash elsewhere.
# Scale: candidates are |corpus|·NPROBE/|cells| rows of code columns
# (never raw vectors); only the ≤ max(R)·|queries| winners rejoin the
# vector table for the exact rerank — which is the entire point of
# the two-stage design this query grades.
# ---------------------------------------------------------------------------
RERANK_RS = (10, 25, 50)


def _ivfpq_rerank_oracle() -> str:
    from eeecs485_p4_mapreduce_spark.operators.similarity import (
        _DUCK_COS,
        _DUCK_IVF_CELLS,
        _DUCK_PQ_CTES,
        N_QUERIES,
        NPROBE,
        TOP_K,
    )
    from eeecs485_p4_mapreduce_spark.registry import ORACLES

    rs = ", ".join(f"({r})" for r in RERANK_RS)
    return f"""
    WITH {_DUCK_IVF_CELLS},
    {_DUCK_PQ_CTES},
    cells2 AS (
      SELECT vec_id, c_label AS cell FROM scored WHERE rnk = 1
    ),
    probes2 AS (
      SELECT vec_id AS query_id, c_label AS cell
      FROM scored WHERE vec_id < {N_QUERIES} AND rnk <= {NPROBE}
    ),
    wide AS (
      SELECT vec_id,
             max(CASE WHEN subspace = 0 THEN code END) AS c0,
             max(CASE WHEN subspace = 1 THEN code END) AS c1,
             max(CASE WHEN subspace = 2 THEN code END) AS c2,
             max(CASE WHEN subspace = 3 THEN code END) AS c3
      FROM pqa GROUP BY vec_id
    ),
    qd AS (SELECT * FROM pqd WHERE vec_id < {N_QUERIES}),
    adc_ranked AS (
      SELECT p.query_id, w.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY p.query_id
               ORDER BY q0.qerr + q1.qerr + q2.qerr + q3.qerr, w.vec_id
             ) AS adc_rank
      FROM (SELECT DISTINCT c2.vec_id, p2.query_id
            FROM cells2 c2 JOIN probes2 p2 ON c2.cell = p2.cell
            WHERE c2.vec_id <> p2.query_id) p
      JOIN wide w ON w.vec_id = p.vec_id
      JOIN qd q0 ON q0.vec_id = p.query_id AND q0.subspace = 0
                AND q0.code = w.c0
      JOIN qd q1 ON q1.vec_id = p.query_id AND q1.subspace = 1
                AND q1.code = w.c1
      JOIN qd q2 ON q2.vec_id = p.query_id AND q2.subspace = 2
                AND q2.code = w.c2
      JOIN qd q3 ON q3.vec_id = p.query_id AND q3.subspace = 3
                AND q3.code = w.c3
    ),
    rs(rerank_r) AS (VALUES {rs}),
    reranked AS (
      SELECT rerank_r, query_id, neighbor_id
      FROM (
        SELECT rs.rerank_r, ar.query_id, ar.neighbor_id,
               row_number() OVER (
                 PARTITION BY rs.rerank_r, ar.query_id
                 ORDER BY {_DUCK_COS} DESC, ar.neighbor_id
               ) AS rr
        FROM adc_ranked ar
        JOIN rs ON ar.adc_rank <= rs.rerank_r
        JOIN embeddings a ON a.vec_id = ar.query_id
        JOIN embeddings b ON b.vec_id = ar.neighbor_id
      ) WHERE rr <= {TOP_K}
    ),
    bf AS ({ORACLES["sim_topk_bruteforce"]})
    SELECT CAST(rs.rerank_r AS BIGINT) AS rerank_r, bf.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(rk.neighbor_id) AS BIGINT) AS n_overlap,
           CAST((count(rk.neighbor_id) * 1000000) // count(*) AS BIGINT)
             AS recall_ppm
    FROM bf CROSS JOIN rs
    LEFT JOIN reranked rk
      ON rk.rerank_r = rs.rerank_r AND rk.query_id = bf.query_id
     AND rk.neighbor_id = bf.neighbor_id
    GROUP BY rs.rerank_r, bf.query_id
"""


@query("sim_ivfpq_rerank_recall", oracle=_ivfpq_rerank_oracle())
def sim_ivfpq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of IVF-PQ + exact top-R rerank, for R on the
    {RERANK_RS} curve (see section comment). Reuses the registered
    building blocks: _centroids_packed/_ASSIGN_SORTED for the coarse
    cells, _pq_codes_wide/_pq_codebook for the codes, and
    sim_topk_bruteforce as the exact reference."""
    from eeecs485_p4_mapreduce_spark.operators.similarity import (
        _ASSIGN_SORTED,
        _centroids_packed,
        _emb_with_norm,
        _pq_codes_wide,
        _pq_codebook,
        _pq_dist_expr,
        N_QUERIES,
        NPROBE,
        PQ_K,
        PQ_M,
        TOP_K,
        sim_topk_bruteforce,
    )

    # full embedding table feeds the coarse assignment, the code build,
    # the rerank join-back AND the brute-force reference: DISK_ONLY
    # persist (lineage kept) per SCALE.md.
    emb = _emb_with_norm(spark, sf_dir).transform(pin_disk)
    # packed is pinned via persist, NOT localCheckpoint (r15): a lazy
    # localCheckpoint over a subplan with exchanges still materializes
    # every upstream AQE stage at plan-build time (.rdd conversion),
    # serializing ~14 driver-blocking jobs before the query's own
    # action; a persist pin is genuinely lazy (0 build jobs) and the
    # in-run cache still guarantees every multi-consumer subtree
    # computes once. Fresh-process A/B (min-of-3 totals, sf0.1):
    # ckpt 4.07 s / pin 3.43 s / no-pin-at-all 5.22 s (the unpinned
    # form re-executes the shared assignment subtrees per consumer).
    packed = _centroids_packed(emb).transform(pin_disk)
    scored = emb.crossJoin(F.broadcast(packed)).selectExpr(
        "vec_id",
        "v",
        "norm",
        f"slice({_ASSIGN_SORTED}, 1, {NPROBE}) AS top_cells",
    )
    cells = scored.selectExpr(
        "vec_id", "element_at(top_cells, 1).c_label AS cell"
    )
    probes = (
        scored.filter(F.col("vec_id") < N_QUERIES)
        .selectExpr(
            "vec_id AS query_id", "v AS qv", "norm AS qnorm",
            "explode(top_cells) AS tc",
        )
        .select("query_id", "qv", "qnorm", F.col("tc.c_label").alias("cell"))
    )
    # row-local wide codes (r15): no explode + groupBy(vec_id) pivot
    wide = _pq_codes_wide(emb.select("vec_id", "v"))
    structs = ", ".join(
        f"struct({s} as subspace, {_pq_dist_expr('qv', 'cv', s)} as qdist)"
        for s in range(PQ_M)
    )
    # The whole distance table packs to one |queries|-row broadcast
    # (PQ_M x PQ_K = 32 doubles per query, positioned subspace*PQ_K +
    # code), so ADC is a single map-side array lookup per candidate —
    # sim_ivfpq_search's 4 sequential per-subspace broadcast joins
    # collapse to 1 join (r10 A/B at sf0.1: 4.9 s -> 3.4 s warm). The qdist
    # VALUES are the same _pq_dist_expr doubles and the sum keeps the
    # d0+d1+d2+d3 association, so hashes match the join formulation.
    dpacked = (
        probes.select("query_id", "qv")
        .distinct()
        .crossJoin(F.broadcast(_pq_codebook(emb)))
        .select(
            "query_id",
            F.explode(F.expr(f"array({structs})")).alias("sd"),
            "code",
        )
        .groupBy("query_id")
        .agg(
            F.expr(
                f"transform(array_sort(collect_list(struct("
                f"sd.subspace * {PQ_K} + code AS pos, sd.qdist AS qd))),"
                f" s -> s.qd)"
            ).alias("dt")
        )
    )
    cand = (
        cells.join(F.broadcast(probes.select("query_id", "cell")), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(wide, "vec_id")
        .join(F.broadcast(dpacked), "query_id")
    )
    res = cand
    for s in range(PQ_M):
        res = res.withColumn(
            f"d{s}",
            F.expr(f"element_at(dt, cast({s} * {PQ_K} + c{s} + 1 as int))"),
        )
    adc = ((F.col("d0") + F.col("d1")) + F.col("d2")) + F.col("d3")
    adc_w = Window.partitionBy("query_id").orderBy(
        F.col("adc_raw"), F.col("neighbor_id")
    )
    adc_ranked = (
        res.select("query_id", F.col("vec_id").alias("neighbor_id"),
                   adc.alias("adc_raw"))
        .withColumn("adc_rank", F.row_number().over(adc_w))
        .select("query_id", "neighbor_id", "adc_rank")
    )
    rs = spark.createDataFrame(
        [(r,) for r in RERANK_RS], "rerank_r int"
    ).selectExpr("cast(rerank_r as int) AS rerank_r")
    # exact rerank of each budget's ADC winners: only <= max(R) rows
    # per (query, R) rejoin the vector table
    cos = (
        F.expr(
            "aggregate(zip_with(qv, v, (x, y) -> x * y), 0.0d,"
            " (acc, x) -> acc + x)"
        )
        / (F.col("qnorm") * F.col("norm"))
    )
    rr_w = Window.partitionBy("rerank_r", "query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    reranked = (
        adc_ranked.join(F.broadcast(rs), F.col("adc_rank") <= F.col("rerank_r"))
        .join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "v", "norm"),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                probes.select("query_id", "qv", "qnorm").distinct()
            ),
            "query_id",
        )
        .withColumn("cos_raw", cos)
        .withColumn("rr", F.row_number().over(rr_w))
        .filter(F.col("rr") <= TOP_K)
        .select("rerank_r", "query_id", "neighbor_id",
                F.lit(1).alias("hit"))
        # N_QUERIES x |RERANK_RS| x TOP_K rows; pinned (persist, not
        # checkpoint — see the packed comment) so the two-stage search
        # executes once with zero plan-build barriers.
        .transform(pin_disk)
    )
    bf = sim_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    return (
        bf.crossJoin(F.broadcast(rs))
        .join(reranked, ["rerank_r", "query_id", "neighbor_id"], "left")
        .groupBy("rerank_r", "query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("hit").alias("n_overlap"),
        )
        .selectExpr(
            "cast(rerank_r as bigint) AS rerank_r",
            "query_id",
            "n_exact",
            "n_overlap",
            "(n_overlap * 1000000) div n_exact AS recall_ppm",
        )
    )


# ---------------------------------------------------------------------------
# q111_sessionize: 30-minute-gap sessionization. Everything is epoch
# MICROSECONDS (unix_micros / epoch_us — both BIGINT, both tz-free),
# ordered by (ts_us, event_id) so simultaneous events are totally
# ordered. Scale: one user-keyed exchange feeds both windows AND the
# session aggregate (the partitioning is reused); session count per
# user is bounded by events per user, never materialized corpus-wide.
# ---------------------------------------------------------------------------
SESSION_GAP_US = 1_800_000_000  # 30 minutes

Q111_ORACLE = f"""
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS us FROM events
    ), flagged AS (
      SELECT user_id, us,
             CASE WHEN lag(us) OVER w IS NULL
                    OR us - lag(us) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_sess
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), sess AS (
      SELECT user_id, us,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ), per_sess AS (
      SELECT user_id, sid,
             CAST(count(*) AS BIGINT) AS n_ev,
             CAST(max(us) - min(us) AS BIGINT) AS span_us
      FROM sess GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(sum(n_ev) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(max(n_ev) AS BIGINT) AS max_session_events,
           CAST(sum(span_us) AS BIGINT) AS active_us
    FROM per_sess GROUP BY user_id
"""


@query("q111_sessionize", oracle=Q111_ORACLE)
def q111_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session stats under 30-minute-gap sessionization (see
    section comment)."""
    events = load_table(spark, sf_dir, "events")
    ev = events.selectExpr(
        "user_id", "event_id", "unix_micros(ts) AS us"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            F.lag("us").over(w).isNull()
            | ((F.col("us") - F.lag("us").over(w)) > SESSION_GAP_US),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    cum_w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = flagged.withColumn("sid", F.sum("new_sess").over(cum_w))
    per_sess = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_ev"),
        (F.max("us") - F.min("us")).alias("span_us"),
    )
    return per_sess.groupBy("user_id").agg(
        F.sum("n_ev").alias("n_events"),
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_ev").alias("max_session_events"),
        F.sum("span_us").alias("active_us"),
    )


# ---------------------------------------------------------------------------
# q112_dow_profile: day-of-week x event-type profile. DOW from the
# integer epoch day — (epoch_day + 4) % 7 maps 1970-01-01 (Thursday)
# to 4 with Monday=0 — so neither engine's dow()/dayofweek() builtin
# (they disagree on week start AND on Sunday's index) touches the
# hash. share_ppm is each (type, dow) cell's exact ppm of its type's
# total. Scale: pure two-key partial aggregation, one exchange of
# |types| x 7 rows.
# ---------------------------------------------------------------------------
Q112_ORACLE = """
    WITH cells AS (
      SELECT event_type,
             CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT) AS dow,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS t
      FROM cells GROUP BY event_type
    )
    SELECT c.event_type, c.dow, c.n,
           CAST((c.n * 1000000) // t.t AS BIGINT) AS share_ppm
    FROM cells c JOIN tot t USING (event_type)
"""


@query("q112_dow_profile", oracle=Q112_ORACLE)
def q112_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week activity profile per event type with exact ppm
    shares (see section comment)."""
    events = load_table(spark, sf_dir, "events")
    cells = events.selectExpr(
        "event_type",
        "(unix_micros(ts) div 86400000000 + 4) % 7 AS dow",
    ).groupBy("event_type", "dow").agg(F.count(F.lit(1)).alias("n"))
    tot = cells.groupBy("event_type").agg(F.sum("n").alias("t"))
    return cells.join(F.broadcast(tot), "event_type").selectExpr(
        "event_type",
        "dow",
        "n",
        "(n * 1000000) div t AS share_ppm",
    )


# ---------------------------------------------------------------------------
# Protocol Buffers wire format, from the public spec
# (https://protobuf.dev/programming-guides/encoding/): a message is a
# sequence of (tag, value) where tag = (field_number << 3) | wire_type
# as a LEB128 varint. Negative int64 costs the full 10-byte varint
# (two's complement), sint64 zigzags first — this codec exercises BOTH
# paths, plus length-delimited UTF-8, packed repeated varints, and
# optional-field presence. The decoder is strict: unknown fields,
# wrong wire types, truncated or >10-byte varints, missing mandatory
# fields, and trailing bytes all raise.
#
# Schema (field -> type): 1 raw_id int64, 2 source string,
# 3 tricky optional string, 4 delta sint64, 5 packed repeated uint64.
# ---------------------------------------------------------------------------
_PB_U64 = (1 << 64) - 1


def _pb_varint(n: int) -> bytes:
    """Unsigned LEB128 of n interpreted as a 64-bit value (negative
    ints take the two's-complement 10-byte form, per the spec)."""
    n &= _PB_U64
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _pb_read_varint(buf: bytes, pos: int):
    val = 0
    for i in range(10):
        if pos >= len(buf):
            raise ValueError("truncated protobuf varint")
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << (7 * i)
        if not b & 0x80:
            if i == 9 and b > 1:
                raise ValueError("varint overflows 64 bits")
            return val, pos
    raise ValueError("varint longer than 10 bytes")


def _pb_zigzag(n: int) -> int:
    return ((n << 1) ^ (n >> 63)) & _PB_U64


def _pb_unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _pb_signed(v: int) -> int:
    """Reinterpret an unsigned 64-bit varint value as int64."""
    return v - (1 << 64) if v >= (1 << 63) else v


def encode_pb_blob(rows) -> bytes:
    """rows: iterable of (raw_id, source, tricky_or_None, delta,
    packed_list). Returns length-prefixed concatenated messages."""
    out = bytearray()
    for raw_id, source, tricky, delta, packed in rows:
        msg = bytearray()
        msg += _pb_varint(1 << 3 | 0) + _pb_varint(int(raw_id))
        s = source.encode("utf-8")
        msg += _pb_varint(2 << 3 | 2) + _pb_varint(len(s)) + s
        if tricky is not None:
            t = tricky.encode("utf-8")
            msg += _pb_varint(3 << 3 | 2) + _pb_varint(len(t)) + t
        msg += _pb_varint(4 << 3 | 0) + _pb_varint(_pb_zigzag(int(delta)))
        body = b"".join(_pb_varint(int(p)) for p in packed)
        msg += _pb_varint(5 << 3 | 2) + _pb_varint(len(body)) + body
        out += _pb_varint(len(msg)) + msg
    return bytes(out)


def decode_pb_blob(payload: bytes):
    """Strictly decode a length-prefixed message stream; returns the
    row tuples. Raises ValueError on any malformation (see section
    comment)."""
    buf = bytes(payload)
    pos = 0
    rows = []
    while pos < len(buf):
        mlen, pos = _pb_read_varint(buf, pos)
        end = pos + mlen
        if end > len(buf):
            raise ValueError("message overruns blob")
        fields: dict = {}
        while pos < end:
            tag, pos = _pb_read_varint(buf, pos)
            fnum, wt = tag >> 3, tag & 7
            if fnum in (1, 4):
                if wt != 0:
                    raise ValueError(f"field {fnum}: expected varint")
                v, pos = _pb_read_varint(buf, pos)
                if pos > end:
                    raise ValueError("varint overruns message")
                fields[fnum] = v
            elif fnum in (2, 3, 5):
                if wt != 2:
                    raise ValueError(f"field {fnum}: expected len-delim")
                ln, pos = _pb_read_varint(buf, pos)
                if pos + ln > end:
                    raise ValueError("length-delimited field overruns")
                fields[fnum] = buf[pos : pos + ln]
                pos += ln
            else:
                raise ValueError(f"unknown field number {fnum}")
        if pos != end:
            raise ValueError("message underruns its declared length")
        for req in (1, 2, 4, 5):
            if req not in fields:
                raise ValueError(f"missing mandatory field {req}")
        packed = []
        p = 0
        body = fields[5]
        while p < len(body):
            v, p = _pb_read_varint(body, p)
            packed.append(v)
        rows.append(
            (
                _pb_signed(fields[1]),
                fields[2].decode("utf-8"),
                fields[3].decode("utf-8") if 3 in fields else None,
                _pb_unzigzag(fields[4]),
                packed,
            )
        )
    return rows


Q114_TRICKY = (
    """concat('próto ✓ "', substr(text, 1, 10), '" ,', chr(39), source)"""
)

Q114_ORACLE = f"""
    WITH src AS (
      SELECT source,
             doc_id - 250 AS raw_id,
             CASE WHEN doc_id % 5 = 0 THEN NULL ELSE {Q114_TRICKY} END
               AS tricky,
             n_chars - 3000 AS delta,
             n_chars % 7 + n_chars % 11 + n_chars % 13 AS packed_sum
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) - count(tricky) AS BIGINT) AS n_null_tricky,
           CAST(coalesce(sum(len(tricky)), 0) AS BIGINT) AS sum_tricky_len,
           CAST(sum(raw_id) AS BIGINT) AS sum_raw,
           CAST(sum(delta) AS BIGINT) AS sum_delta,
           CAST(sum(packed_sum) AS BIGINT) AS sum_packed
    FROM src GROUP BY source
"""


@query("q114_protobuf_roundtrip", oracle=Q114_ORACLE)
def q114_protobuf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode an adversarial documents slice into per-partition
    protobuf wire-format blobs with the from-scratch codec, strictly
    decode them back, and aggregate (see section comment). raw_id is
    negative for half the corpus (10-byte varints), delta is negative
    for short documents (zigzag on both signs), doc_id % 5 == 0 rows
    exercise optional-field absence, and the multi-byte-UTF-8 tricky
    string exercises byte-vs-char length accounting."""
    import pandas as pd

    from eeecs485_p4_mapreduce_spark.catalog import spread_small_source

    docs = load_table(spark, sf_dir, "documents")
    src = docs.select(
        "doc_id",
        (F.col("doc_id") - 250).alias("raw_id"),
        "source",
        F.when(F.col("doc_id") % 5 == 0, F.lit(None))
        .otherwise(F.expr(Q114_TRICKY))
        .alias("tricky"),
        (F.col("n_chars") - 3000).alias("delta"),
        F.expr(
            "array(n_chars % 7, n_chars % 11, n_chars % 13)"
        ).alias("packed"),
    )
    src = spread_small_source(src)

    def encode(batches):
        rows = []
        for pdf in batches:
            for t in pdf.itertuples(index=False):
                rows.append(
                    (
                        int(t.raw_id),
                        str(t.source),
                        None if pd.isna(t.tricky) else str(t.tricky),
                        int(t.delta),
                        [int(x) for x in t.packed],
                    )
                )
        payload = encode_pb_blob(rows)
        if decode_pb_blob(payload) != rows:  # encoder self-check
            raise ValueError("protobuf: roundtrip mismatch at encode time")
        yield pd.DataFrame({"payload": [payload], "n_rows": [len(rows)]})

    def decode(batches):
        for pdf in batches:
            out = {
                "raw_id": [],
                "source": [],
                "tricky": [],
                "delta": [],
                "packed_sum": [],
            }
            for payload in pdf["payload"]:
                for raw_id, source, tricky, delta, packed in decode_pb_blob(
                    bytes(payload)
                ):
                    out["raw_id"].append(raw_id)
                    out["source"].append(source)
                    out["tricky"].append(tricky)
                    out["delta"].append(delta)
                    out["packed_sum"].append(sum(packed))
            yield pd.DataFrame(out)

    decoded = src.mapInPandas(
        encode, "payload binary, n_rows bigint"
    ).mapInPandas(
        decode,
        "raw_id bigint, source string, tricky string, delta bigint,"
        " packed_sum bigint",
    )
    return decoded.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - F.count("tricky")).alias("n_null_tricky"),
        F.coalesce(F.sum(F.length("tricky")), F.lit(0)).alias(
            "sum_tricky_len"
        ),
        F.sum("raw_id").alias("sum_raw"),
        F.sum("delta").alias("sum_delta"),
        F.sum("packed_sum").alias("sum_packed"),
    )


# ---------------------------------------------------------------------------
# q115_supplier_skyline: 2-D skyline. Dominance: s' dominates s iff
# rev' >= rev AND cnt' >= cnt with at least one strict. Window form:
# a row survives iff (a) no strictly-higher-revenue row has cnt >= its
# cnt (running max over a RANGE frame starting at rev+1 — integer
# cents make the strict frame exact), and (b) it has the max cnt
# within its equal-revenue group (equal-rev ties with equal cnt both
# survive; lower cnt is dominated). The oracle is the independent
# quadratic NOT EXISTS textbook definition. Scale: the corpus-sized
# work is the partial-aggregated supplier rollup; the skyline itself
# sorts |suppliers| rows once.
# ---------------------------------------------------------------------------
Q115_ORACLE = """
    WITH s AS (
      SELECT l_suppkey AS suppkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100,
                                 0) AS BIGINT)) AS BIGINT) AS rev_cents,
             CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY 1
    )
    SELECT s.suppkey, sup.s_name, s.rev_cents, s.n_lines
    FROM s JOIN supplier sup ON sup.s_suppkey = s.suppkey
    WHERE NOT EXISTS (
      SELECT 1 FROM s o
      WHERE o.rev_cents >= s.rev_cents AND o.n_lines >= s.n_lines
        AND (o.rev_cents > s.rev_cents OR o.n_lines > s.n_lines)
    )
"""


def _skyline_2d(s: DataFrame, x: str, y: str) -> DataFrame:
    """Rows not dominated on integer columns (x, y): survive iff no
    strictly-higher-x row has y >= theirs (RANGE frame ending at x+1 —
    the strict frame is exact on integers) AND they carry the max y
    within their equal-x group (equal points all survive; lower y in
    the same x group is dominated).

    The strict-greater frame is expressed as [unboundedPreceding, -1]
    over DESCENDING x, not [+1, unboundedFollowing] over ascending x:
    Spark computes unbounded-PRECEDING frames incrementally (one
    running aggregate per partition) while unbounded-FOLLOWING frames
    with a sliding start rebuild the aggregate per row — O(n^2), which
    the x100 replica probe measured at 36 s vs 1.4 s for this form on
    a 100k-row input."""
    higher = (
        Window.orderBy(F.col(x).desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    same = Window.partitionBy(x)
    return (
        s.withColumn("_max_y_higher", F.max(y).over(higher))
        .withColumn("_max_y_same", F.max(y).over(same))
        .filter(
            (
                F.col("_max_y_higher").isNull()
                | (F.col(y) > F.col("_max_y_higher"))
            )
            & (F.col(y) == F.col("_max_y_same"))
        )
        .drop("_max_y_higher", "_max_y_same")
    )


@query("q115_supplier_skyline", oracle=Q115_ORACLE)
def q115_supplier_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal suppliers on (revenue, line count) via the
    sort + range-frame running-max skyline (see section comment)."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    s = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum(
            F.expr(
                "cast(round(l_extendedprice * (1 - l_discount) * 100, 0)"
                " as bigint)"
            )
        ).alias("rev_cents"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    survivors = _skyline_2d(s, "rev_cents", "n_lines")
    return survivors.join(
        F.broadcast(sup.select(F.col("s_suppkey").alias("suppkey"), "s_name")),
        "suppkey",
    ).select("suppkey", "s_name", "rev_cents", "n_lines")


# ---------------------------------------------------------------------------
# q113_scd2_dimension: SCD type 2 from an event stream. Attribute =
# tier (props JSON ->> 'k', integer-div 25); a version is a maximal
# run of equal tier per user in (epoch_us, event_id) order (classic
# gaps-and-islands: run id = cumsum of change flags); validity is
# [valid_from_us, valid_to_us) where valid_to is the NEXT version's
# start and the open current version carries the -1 sentinel +
# is_current=1. Scale: one user-keyed exchange feeds the change
# window, the run aggregate, and the interval lead — the same
# partitioning throughout; output is versions, not events.
# ---------------------------------------------------------------------------
Q113_ORACLE = """
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(json_extract_string(props, '$.k') AS BIGINT) // 25 AS tier
      FROM events
    ), flagged AS (
      SELECT user_id, us, tier,
             CASE WHEN lag(tier) OVER w IS NULL
                    OR tier <> lag(tier) OVER w
                  THEN 1 ELSE 0 END AS chg
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), runs AS (
      SELECT user_id, us, tier,
             sum(chg) OVER (PARTITION BY user_id ORDER BY us
                            ROWS UNBOUNDED PRECEDING) AS version
      FROM flagged
    ), versions AS (
      SELECT user_id, CAST(version AS BIGINT) AS version,
             CAST(any_value(tier) AS BIGINT) AS tier,
             CAST(min(us) AS BIGINT) AS valid_from_us,
             CAST(count(*) AS BIGINT) AS n_events
      FROM runs GROUP BY 1, 2
    )
    SELECT user_id, version, tier, valid_from_us,
           CAST(coalesce(lead(valid_from_us) OVER v, -1) AS BIGINT)
             AS valid_to_us,
           n_events,
           CAST(CASE WHEN lead(valid_from_us) OVER v IS NULL
                     THEN 1 ELSE 0 END AS BIGINT) AS is_current
    FROM versions
    WINDOW v AS (PARTITION BY user_id ORDER BY version)
"""


def _scd2_events(events: DataFrame) -> DataFrame:
    """(user_id, event_id, us, tier) projection shared by the batch
    build and the streaming merge."""
    return events.selectExpr(
        "user_id",
        "event_id",
        "unix_micros(ts) AS us",
        "cast(get_json_object(props, '$.k') as bigint) div 25 AS tier",
    )


def _scd2_versions(ev: DataFrame) -> DataFrame:
    """Gaps-and-islands runs: (user_id, version 1.., tier,
    valid_from_us, n_events) over (us, event_id) order. tier is
    constant within a run, so first() is deterministic."""
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = ev.withColumn(
        "chg",
        F.when(
            F.lag("tier").over(w).isNull()
            | (F.col("tier") != F.lag("tier").over(w)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    cum_w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = flagged.withColumn("version", F.sum("chg").over(cum_w))
    return runs.groupBy("user_id", "version").agg(
        F.first("tier").alias("tier"),
        F.min("us").alias("valid_from_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


def _scd2_chain(versions: DataFrame) -> DataFrame:
    """Attach [valid_from, valid_to) chaining + is_current to a
    per-user versions table (valid_to = next version's start; the open
    current version carries -1)."""
    v_w = Window.partitionBy("user_id").orderBy("version")
    nxt = F.lead("valid_from_us").over(v_w)
    return versions.select(
        "user_id",
        "version",
        "tier",
        "valid_from_us",
        F.coalesce(nxt, F.lit(-1)).cast("long").alias("valid_to_us"),
        "n_events",
        F.when(nxt.isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_current"),
    )


@query("q113_scd2_dimension", oracle=Q113_ORACLE)
def q113_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD versions per user from the event stream (see section
    comment)."""
    events = load_table(spark, sf_dir, "events")
    return _scd2_chain(_scd2_versions(_scd2_events(events)))


# ---------------------------------------------------------------------------
# stream_scd2_incremental: nightly-feed dimension maintenance, graded.
# The event table is split into three TIME-RANGE slices (an
# append-only daily feed — each user's new events are at or after all
# their previous ones), streamed with maxFilesPerTrigger=1, and each
# micro-batch MERGES into the running SCD2 dimension: a batch run
# whose tier matches the user's open version EXTENDS it (same version
# number, same valid_from, summed n_events); a differing tier CLOSES
# the open version at the new run's start and appends; unseen users
# append from version 1; untouched users carry forward. The oracle is
# the whole-history batch build (Q113_ORACLE) — incremental
# maintenance must be EXACTLY equivalent to rebuild-from-scratch,
# which is the invariant that makes nightly merges trustworthy.
# State lives in the foreachBatch closure (per-batch localCheckpoint
# cuts lineage); the availableNow pass is single-run — the
# replay/exactly-once contract is stream_restart_idempotent's file.
# ---------------------------------------------------------------------------
def _scd2_merge(dim: DataFrame | None, bver: DataFrame) -> DataFrame:
    """Merge one time-ordered batch's runs into the chained dimension."""
    if dim is None:
        return _scd2_chain(bver)
    cur = dim.filter(F.col("is_current") == 1).select(
        "user_id",
        F.col("version").alias("c_ver"),
        F.col("tier").alias("c_tier"),
        F.col("valid_from_us").alias("c_from"),
        F.col("n_events").alias("c_n"),
    )
    busers = bver.select("user_id").distinct()
    untouched = dim.join(busers, "user_id", "left_anti")
    hist_touched = (
        dim.filter(F.col("is_current") == 0)
        .join(busers, "user_id", "left_semi")
    )
    b1 = bver.filter(F.col("version") == 1).select(
        "user_id",
        F.col("tier").alias("b_tier"),
        F.col("valid_from_us").alias("b_from"),
        F.col("n_events").alias("b_n"),
    )
    j = b1.join(cur, "user_id", "left")
    merged = F.col("c_tier").isNotNull() & (
        F.col("c_tier") == F.col("b_tier")
    )
    first_rows = j.select(
        "user_id",
        F.when(merged, F.col("c_ver"))
        .when(F.col("c_ver").isNull(), F.lit(1))
        .otherwise(F.col("c_ver") + 1)
        .cast("long")
        .alias("version"),
        F.col("b_tier").alias("tier"),
        F.when(merged, F.col("c_from"))
        .otherwise(F.col("b_from"))
        .alias("valid_from_us"),
        F.when(merged, F.col("c_n") + F.col("b_n"))
        .otherwise(F.col("b_n"))
        .alias("n_events"),
    )
    closed = (
        j.filter(F.col("c_tier").isNotNull() & ~merged)
        .select(
            "user_id",
            F.col("c_ver").alias("version"),
            F.col("c_tier").alias("tier"),
            F.col("c_from").alias("valid_from_us"),
            F.col("b_from").cast("long").alias("valid_to_us"),
            F.col("c_n").alias("n_events"),
            F.lit(0).cast("long").alias("is_current"),
        )
    )
    offsets = j.select(
        "user_id",
        F.when(merged, F.col("c_ver") - 1)
        .when(F.col("c_ver").isNull(), F.lit(0))
        .otherwise(F.col("c_ver"))
        .alias("off"),
    )
    rest = (
        bver.filter(F.col("version") >= 2)
        .join(offsets, "user_id")
        .select(
            "user_id",
            (F.col("off") + F.col("version")).cast("long").alias("version"),
            "tier",
            "valid_from_us",
            "n_events",
        )
    )
    fresh = _scd2_chain(first_rows.unionByName(rest))
    return (
        untouched.unionByName(hist_touched)
        .unionByName(closed)
        .unionByName(fresh)
    )


@query("stream_scd2_incremental", oracle=Q113_ORACLE)
def stream_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain the SCD2 dimension incrementally over a 3-slice
    time-ordered feed; must equal the batch rebuild exactly (see
    section comment)."""
    import tempfile
    from pathlib import Path

    from eeecs485_p4_mapreduce_spark.streaming.jobs import EVENT_SCHEMA
    from eeecs485_p4_mapreduce_spark.streaming.queries import cached_layout

    def build(sp: SparkSession, d: str) -> None:
        events = load_table(sp, sf_dir, "events")
        day = F.expr("unix_micros(ts) div 86400000000")
        bounds = events.agg(
            F.min(day).alias("d0"), F.max(day).alias("d1")
        ).first()
        d0, d1 = bounds[0], bounds[1]
        span = max(1, d1 - d0 + 1)
        for s in range(3):
            (
                events.filter(((day - d0) * 3 / span).cast("long") == s)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(str(Path(d) / f"slice-{s:03d}.parquet"))
            )

    # read-only slice layout — process-lifetime cached (staging is
    # setup, not the graded plan; the merge dataflow below is)
    spool = cached_layout(spark, sf_dir, "scd2_slices", build)

    state: dict = {"dim": None}

    def merge_batch(batch_df, batch_id: int) -> None:
        bver = _scd2_versions(_scd2_events(batch_df))
        # per-batch pin: cuts the O(batches) lineage the loop would
        # otherwise grow (the CC-loop rule, SCALE.md)
        state["dim"] = _scd2_merge(state["dim"], bver).localCheckpoint()

    q = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # one time slice per batch
        .parquet(spool + "/*.parquet")
        .writeStream.foreachBatch(merge_batch)
        .option(
            "checkpointLocation",
            tempfile.mkdtemp(prefix="p4spark_scd2_ckpt_"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = state["dim"]
    if out is None:
        raise ValueError("scd2 stream produced no batches")
    return out


# ---------------------------------------------------------------------------
# curate_survivorship_report: the dedup funnel per (source, lang).
# Stage flags per doc: exact loser = not the min doc_id of its
# md5(text) group; near loser = a non-representative member of a
# MinHash-LSH connected component (dedup_near_survivors' rule,
# computed over the full corpus so the report matches the registered
# operators' decisions); survivor = neither. Scale: the exact flag is
# one (fp, doc_id) shuffle; the near flag reuses the LSH-sparse
# candidate graph (never all-pairs); the report aggregate is
# |source|x|lang| rows.
# ---------------------------------------------------------------------------
def _curate_survivorship_oracle() -> str:
    from eeecs485_p4_mapreduce_spark.operators.dedup import (
        _DUCK_CLUSTER_CTES,
    )

    return f"""
    WITH RECURSIVE {_DUCK_CLUSTER_CTES},
    flags AS (
      SELECT d.source, d.lang, d.doc_id,
             CASE WHEN d.doc_id <> min(d.doc_id) OVER (
                    PARTITION BY md5(d.text)) THEN 1 ELSE 0 END
               AS exact_loser,
             CASE WHEN l.cluster_id IS NOT NULL
                    AND l.cluster_id <> d.doc_id THEN 1 ELSE 0 END
               AS near_loser
      FROM documents d LEFT JOIN lbl l ON l.doc_id = d.doc_id
    )
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(exact_loser) AS BIGINT) AS n_exact_dropped,
           CAST(sum(CASE WHEN exact_loser = 0 AND near_loser = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dropped,
           CAST(sum(CASE WHEN exact_loser = 0 AND near_loser = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
           CAST((sum(CASE WHEN exact_loser = 0 AND near_loser = 0
                          THEN 1 ELSE 0 END) * 1000000) // count(*)
             AS BIGINT) AS survival_ppm
    FROM flags GROUP BY source, lang
"""


@query("curate_survivorship_report", oracle=_curate_survivorship_oracle())
def curate_survivorship_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-funnel survivorship per (source, lang) in exact ppm (see
    section comment)."""
    from eeecs485_p4_mapreduce_spark.operators.dedup import (
        _propagate_min_labels,
        _symmetric_edges,
        minhash_candidate_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    exact_w = Window.partitionBy(F.md5("text"))
    losers = (
        _propagate_min_labels(
            _symmetric_edges(
                minhash_candidate_pairs(spark, sf_dir).select(
                    "doc_a", "doc_b"
                )
            )
        )
        .filter(F.col("lbl") != F.col("doc_id"))
        .select("doc_id", F.lit(1).alias("near_loser"))
    )
    flags = (
        docs.withColumn(
            "exact_loser",
            F.when(
                F.col("doc_id") != F.min("doc_id").over(exact_w), 1
            ).otherwise(0),
        )
        # no broadcast hint: the loser set is corpus-density-
        # proportional (a 50%-dup corpus makes it corpus-sized), so the
        # join side is AQE's runtime-stats call, not a compile-time bet
        .join(losers, "doc_id", "left")
        .select(
            "source",
            "lang",
            "exact_loser",
            F.coalesce("near_loser", F.lit(0)).alias("near_loser"),
        )
    )
    return (
        flags.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("exact_loser").alias("n_exact_dropped"),
            F.sum(
                F.when(
                    (F.col("exact_loser") == 0) & (F.col("near_loser") == 1),
                    1,
                ).otherwise(0)
            ).alias("n_near_dropped"),
            F.sum(
                F.when(
                    (F.col("exact_loser") == 0) & (F.col("near_loser") == 0),
                    1,
                ).otherwise(0)
            ).alias("n_survivors"),
        )
        .selectExpr(
            "source",
            "lang",
            "n_docs",
            "n_exact_dropped",
            "n_near_dropped",
            "n_survivors",
            "(n_survivors * 1000000) div n_docs AS survival_ppm",
        )
    )


# ---------------------------------------------------------------------------
# skew_partition_histogram: per-partition load under md5 routing (see
# module docstring). W matches the session's shuffle width; the hash
# is the repo's hash32 convention (functions/text.py:35 — first 8 md5
# hex chars; mrlite's M2 router at mrlite/partitioner.py:20 is the
# full-digest variant of the same family), which DuckDB mirrors
# bit-exactly via UBIGINT hex parse — Spark's murmur3 hash() has no
# cross-engine mirror, which is why the diagnostic is defined over
# the md5 router. Scale: one partial-aggregated exchange of W
# rows; count(DISTINCT) per partition is a two-level aggregate.
# ---------------------------------------------------------------------------
SKEW_HIST_W = 32

SKEW_HIST_ORACLE = f"""
    WITH parts AS (
      SELECT CAST(CAST(concat('0x',
                  substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS UBIGINT) % {SKEW_HIST_W} AS BIGINT) AS partition_id,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys
      FROM events GROUP BY 1
    ), tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS t FROM parts)
    SELECT p.partition_id, p.n_rows, p.n_keys,
           CAST((p.n_rows * {SKEW_HIST_W} * 1000000) // t.t AS BIGINT)
             AS load_ppm_of_even
    FROM parts p CROSS JOIN tot t
"""


@query("skew_partition_histogram", oracle=SKEW_HIST_ORACLE)
def skew_partition_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition rows/keys + exact ppm-of-even-share load under the
    md5 router (see section comment)."""
    ev = load_table(spark, sf_dir, "events")
    parts = (
        ev.selectExpr(
            f"cast(conv(substring(md5(cast(user_id as string)), 1, 8),"
            f" 16, 10) % {SKEW_HIST_W} as bigint) AS partition_id",
            "user_id",
        )
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_keys"),
        )
    )
    tot = parts.agg(F.sum("n_rows").alias("t"))
    return parts.crossJoin(F.broadcast(tot)).selectExpr(
        "partition_id",
        "n_rows",
        "n_keys",
        f"(n_rows * {SKEW_HIST_W} * 1000000) div t AS load_ppm_of_even",
    )



# ---------------------------------------------------------------------------
# mm_qoi_decode: QOI image codec (qoiformat.org) — the stateful PIXEL
# codec complementing the container walkers: a running 64-entry color
# index, delta ops, and run-length ops over one flat pixel stream.
# Doc d synthesizes a W×H RGB image (W = 8 + d%9, H = 8 + d%7) whose
# rows alternate color A = (100, 8 + d%30, 50 + d%60) and
# B = A + (0, 1, 0); encode_qoi compresses it (real spec-complete
# encoder) and parse_qoi strictly re-decodes. The pattern is chosen so
# the chunk census has a closed form the oracle can mirror:
#   row 0 first pixel: never DIFF (dr=100) nor LUMA (dr-dg ≥ 63) → RGB;
#   row 1 first pixel: (0,+1,0) → DIFF;
#   rows ≥ 2 first pixel: color already in the index, and hash(B) =
#     hash(A)+5 mod 64 ≠ hash(A) so neither evicts the other → INDEX;
#   each row then runs W-1 ≤ 15 < 62 equal pixels → exactly one RUN.
# n_rgb=1, n_diff=1, n_index=H-2, n_run=H, n_chunks=2H,
# file_bytes = 14 header + 4 + 1 + (H-2) + H + 8 marker = 25 + 2H,
# checksum = W*(H*(r+g+b) + H//2)  (odd rows add +1 per pixel).
# The decoder itself is generic (all 6 op types incl. RGBA/LUMA — see
# tests/test_staged_r20.py fuzz); only the FIXTURE has a closed form.
# ---------------------------------------------------------------------------
QOI_SCHEMA_FIELDS = (
    "media_id",
    "width",
    "height",
    "n_pixels",
    "n_chunks",
    "n_rgb",
    "n_rgba",
    "n_index",
    "n_diff",
    "n_luma",
    "n_run",
    "file_bytes",
    "pixel_checksum",
)

MM_QOI_ORACLE = """
    WITH dims AS (
      SELECT doc_id,
             CAST(8 + doc_id % 9 AS BIGINT) AS w,
             CAST(8 + doc_id % 7 AS BIGINT) AS h,
             CAST(158 + doc_id % 30 + doc_id % 60 AS BIGINT) AS rgb_sum
      FROM documents
    )
    SELECT doc_id AS media_id,
           w AS width,
           h AS height,
           w * h AS n_pixels,
           2 * h AS n_chunks,
           CAST(1 AS BIGINT) AS n_rgb,
           CAST(0 AS BIGINT) AS n_rgba,
           h - 2 AS n_index,
           CAST(1 AS BIGINT) AS n_diff,
           CAST(0 AS BIGINT) AS n_luma,
           h AS n_run,
           25 + 2 * h AS file_bytes,
           w * (h * rgb_sum + h // 2) AS pixel_checksum
    FROM dims
"""


@query("mm_qoi_decode", oracle=MM_QOI_ORACLE)
def mm_qoi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: synthesize the alternating-row image, QOI-encode
    it, strictly re-decode, and report the chunk census (see section
    comment). Zero-shuffle Arrow mapInPandas via media_walk_query."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_qoi,
        media_walk_query,
        parse_qoi,
    )

    def per_doc(d: int) -> dict:
        w, h = 8 + d % 9, 8 + d % 7
        a = (100, 8 + d % 30, 50 + d % 60)
        b = (a[0], a[1] + 1, a[2])
        pixels = [
            (a if y % 2 == 0 else b) for y in range(h) for _ in range(w)
        ]
        return parse_qoi(encode_qoi(w, h, pixels))

    return media_walk_query(spark, sf_dir, QOI_SCHEMA_FIELDS, per_doc)


# ---------------------------------------------------------------------------
# q116_gini_split: the decision-stump split finder — for every
# candidate threshold over the $25k order-value buckets, the weighted
# Gini impurity of predicting "urgent priority" by value-above/below.
# This is the inner loop of tree learners and of feature-quality
# audits on training labels. Exact ppm arithmetic throughout, with the
# overflow discipline stated in SCALE.md: shares first (pos*1e6 div n,
# never pos²), so every intermediate stays ≤ 2e12 even at 1e12 rows —
# gini_ppm = 2·p·(1-p) in ppm = (2·p_ppm·(1e6-p_ppm)) div 1e6.
# Plan: one partial-agg shuffle to ~20 bucket rows, then an
# unpartitioned running-sum window over that DIMENSION-SIZED relation
# (bucket count is price-range-bounded, not volume-bounded) and a
# broadcast of the 1-row total. Survives any scale-up: only the
# bucket table ever leaves the map side.
# ---------------------------------------------------------------------------
Q116_ORACLE = """
    WITH b AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 2500000 AS bucket,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pos
      FROM orders
    ), g AS (
      SELECT bucket,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pos) AS BIGINT) AS p
      FROM b GROUP BY bucket
    ), c AS (
      SELECT bucket,
             CAST(sum(n) OVER w AS BIGINT) AS nl,
             CAST(sum(p) OVER w AS BIGINT) AS pl,
             CAST(sum(n) OVER () AS BIGINT) AS nt,
             CAST(sum(p) OVER () AS BIGINT) AS pt
      FROM g
      WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ), sides AS (
      SELECT bucket, nl, pl, nt - nl AS nr, pt - pl AS pr, nt
      FROM c WHERE nl < nt
    ), ppm AS (
      SELECT bucket, nl, pl, nr, pr, nt,
             pl * 1000000 // nl AS ppl,
             pr * 1000000 // nr AS ppr
      FROM sides
    )
    SELECT bucket AS split_bucket,
           nl AS n_left, pl AS pos_left,
           nr AS n_right, pr AS pos_right,
           2 * ppl * (1000000 - ppl) // 1000000 AS gini_left_ppm,
           2 * ppr * (1000000 - ppr) // 1000000 AS gini_right_ppm,
           ((2 * ppl * (1000000 - ppl) // 1000000) * (nl * 1000000 // nt)
            + (2 * ppr * (1000000 - ppr) // 1000000) * (nr * 1000000 // nt))
             // 1000000 AS weighted_gini_ppm
    FROM ppm
"""


@query("q116_gini_split", oracle=Q116_ORACLE)
def q116_gini_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Gini impurity per candidate split threshold (see
    section comment). The unpartitioned window is over the ~20-row
    bucket table — dimension-sized by construction."""
    orders = load_table(spark, sf_dir, "orders")
    g = (
        orders.selectExpr(
            "cast(round(o_totalprice * 100) as bigint) div 2500000"
            " AS bucket",
            "case when o_orderpriority = '1-URGENT' then 1 else 0 end"
            " AS pos",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pos").alias("p"),
        )
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # Window over the LIVE aggregate (the unpartitioned-window gate
    # must see the bounding aggregate in the window's subtree — a pin
    # below the window would hide it), THEN pin the ~20-row cumulative
    # table; the totals are its last row, so orders is scanned and
    # aggregated exactly once.
    cum = g.select(
        "bucket",
        F.sum("n").over(w).alias("nl"),
        F.sum("p").over(w).alias("pl"),
    ).localCheckpoint(eager=False)
    tot = cum.agg(
        F.max("nl").alias("nt"), F.max("pl").alias("pt")
    )
    c = (
        cum.crossJoin(F.broadcast(tot))
        .where("nl < nt")
        .selectExpr(
            "bucket",
            "nl",
            "pl",
            "nt - nl AS nr",
            "pt - pl AS pr",
            "nt",
        )
        .selectExpr(
            "bucket",
            "nl",
            "pl",
            "nr",
            "pr",
            "nt",
            "pl * 1000000 div nl AS ppl",
            "pr * 1000000 div nr AS ppr",
        )
    )
    return c.selectExpr(
        "bucket AS split_bucket",
        "nl AS n_left",
        "pl AS pos_left",
        "nr AS n_right",
        "pr AS pos_right",
        "2 * ppl * (1000000 - ppl) div 1000000 AS gini_left_ppm",
        "2 * ppr * (1000000 - ppr) div 1000000 AS gini_right_ppm",
        "((2 * ppl * (1000000 - ppl) div 1000000) * (nl * 1000000 div nt)"
        " + (2 * ppr * (1000000 - ppr) div 1000000)"
        "   * (nr * 1000000 div nt)) div 1000000 AS weighted_gini_ppm",
    )


# ---------------------------------------------------------------------------
# q117_autocorrelation: lag-1..7 sample autocorrelation of the daily
# revenue series — the seasonality/memory fingerprint read before
# fitting any forecast (lag-7 spikes = weekly cycle; all-lags-high =
# trend leakage). Exactness discipline: the series is quantized to a
# 0..100 per-mille-of-max grid, deviations are computed as
# (n·x_t − S) so the mean never becomes a fraction, and the ACF ratio
# is emitted via sign-split two-step ppm division (integer div on
# negatives floors differently across engines, so both sides compute
# sign(num) · two_step(|num|, den)). Bounds: the day axis is
# CALENDAR-bounded (~2,526 ship days at every sf — more volume adds
# rows per day, not days), so dev ≤ 2526·100, den ≤ 2526·(2.5e5)² ≈
# 1.6e14, and |num|·1000 ≤ 1.6e17 — BIGINT-safe at any corpus size.
# Plan: one partial-agg shuffle to the ~2.5k-row day table; the lag
# pairing is a broadcast self-join on t+k (7 lags × 2.5k rows).
# ---------------------------------------------------------------------------
Q117_ORACLE = """
    WITH daily AS (
      SELECT CAST(epoch_us(l_shipdate) AS BIGINT) // 86400000000 AS day,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
    ), norm AS (
      SELECT day,
             cents * 100 // (SELECT max(cents) FROM daily) AS x
      FROM daily
    ), seq AS (
      SELECT row_number() OVER (ORDER BY day) AS t, x FROM norm
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
      FROM seq
    ), dev AS (
      SELECT t, (SELECT n FROM stats) * x - (SELECT s FROM stats) AS d
      FROM seq
    ), den AS (
      SELECT CAST(sum(d * d) AS BIGINT) AS den FROM dev
    ), pairs AS (
      SELECT k.lag AS lag,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(a.d * b.d) AS BIGINT) AS num
      FROM (SELECT unnest(range(1, 8)) AS lag) k
      JOIN dev a ON TRUE
      JOIN dev b ON b.t = a.t + k.lag
      GROUP BY k.lag
    )
    SELECT lag, n_pairs, num, (SELECT den FROM den) AS den,
           CASE WHEN num < 0 THEN -1 ELSE 1 END
             * (((abs(num) * 1000) // (SELECT den FROM den)) * 1000
                + (((abs(num) * 1000) % (SELECT den FROM den)) * 1000)
                  // (SELECT den FROM den)) AS acf_ppm
    FROM pairs
"""


@query("q117_autocorrelation", oracle=Q117_ORACLE)
def q117_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 ACF of daily revenue (see section comment). Every
    relation past the first aggregation is day-table-sized."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.selectExpr(
            "unix_micros(cast(l_shipdate as timestamp)) div 86400000000"
            " AS day",
            "cast(round(l_extendedprice * 100) as bigint) AS cents",
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("cents"))
        # day-table-sized (~2.5k rows, calendar-bounded) and consumed
        # by max, stats, deviations, and 7 lag joins: pin it — without
        # this the plan scans lineitem 12 times (PLANS gate audit).
        .localCheckpoint(eager=False)
    )
    mx = daily.agg(F.max("cents").alias("mx"))
    seq = (
        daily.crossJoin(F.broadcast(mx))
        .selectExpr("day", "cents * 100 div mx AS x")
        .select(
            F.row_number().over(Window.orderBy("day")).alias("t"), "x"
        )
    )
    stats = seq.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    dev = seq.crossJoin(F.broadcast(stats)).selectExpr(
        "t", "n * x - s AS d"
    ).localCheckpoint(eager=False)  # feeds den + both sides of every lag join
    den = dev.agg(F.sum(F.expr("d * d")).alias("den"))
    lags = spark.range(1, 8).withColumnRenamed("id", "lag")
    a = dev.crossJoin(F.broadcast(lags))
    b = dev.selectExpr("t AS t2", "d AS d2")
    pairs = (
        a.join(F.broadcast(b), F.expr("t2 = t + lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.expr("d * d2")).alias("num"),
        )
    )
    return pairs.crossJoin(F.broadcast(den)).selectExpr(
        "lag",
        "n_pairs",
        "num",
        "den",
        "(case when num < 0 then -1 else 1 end)"
        " * (((abs(num) * 1000) div den) * 1000"
        "    + (((abs(num) * 1000) % den) * 1000) div den) AS acf_ppm",
    )


# ---------------------------------------------------------------------------
# skew_isolated_hot_join: the OTHER classic skew-join mitigation,
# completing the family (skew_salted_enrich/skew_zipf_salted_join =
# salting; skew_partition_histogram = diagnosis): HOT-KEY ISOLATION.
# The generated events table is deliberately near-uniform (max/avg
# per-user count ≈ 1.3), so the degenerate key is synthesized the same
# way skew_zipf_salted_join synthesizes its zipfian key: every
# even-event_id row is remapped to user 0, making one user carry ~half
# the fact table at every sf. The hot rule is engine-mirrorable
# integer arithmetic (cnt·n_users > 3·n_events — i.e. 3× the per-user
# average, which only the synthetic hot user passes). Hot users take
# the broadcast path: their few DIMENSION rows are broadcast and
# map-side joined, so the hot fact rows NEVER shuffle; everyone else
# takes the ordinary shuffle join. The union is aggregated per
# (segment, is_hot) so the report shows what each path carried. At
# 100 TB isolation beats salting when the hot set is small-but-extreme:
# salting still shuffles the hot rows (n_salts ways); isolation ships
# only the hot dimension rows. The oracle is the PLAIN join + the same
# hot rule — isolation is correctness-neutral by construction.
# ---------------------------------------------------------------------------
SKEW_ISO_ORACLE = """
    WITH ev AS (
      SELECT CASE WHEN event_id % 2 = 0 THEN 0 ELSE user_id END
               AS user_id,
             value
      FROM events
    ), cnt AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
      FROM ev GROUP BY user_id
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(cnt) AS BIGINT) AS n_events
      FROM cnt
    ), hot AS (
      SELECT user_id FROM cnt, tot WHERE cnt * n_users > 3 * n_events
    )
    SELECT c_mktsegment,
           CASE WHEN h.user_id IS NOT NULL THEN 1 ELSE 0 END AS is_hot,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
           round(sum(value), 2) + 0.0 AS total_value
    FROM ev e
    JOIN customer ON e.user_id = c_custkey
    LEFT JOIN hot h ON e.user_id = h.user_id
    GROUP BY 1, 2
"""


@query("skew_isolated_hot_join", oracle=SKEW_ISO_ORACLE)
def skew_isolated_hot_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-path hot-key-isolation join (see section comment): hot rows
    broadcast-join, cold rows shuffle-join, union, aggregate."""
    events = load_table(spark, sf_dir, "events").selectExpr(
        "case when event_id % 2 = 0 then 0 else user_id end AS user_id",
        "value",
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    cnt = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    tot = cnt.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("cnt").alias("n_events"),
    )
    hot_keys = (
        cnt.crossJoin(F.broadcast(tot))
        .where("cnt * n_users > 3 * n_events")
        .select("user_id")
        # tiny by the hot rule's nature; consumed by the hot-dim join
        # AND the cold anti-join — pin so the per-user count aggregate
        # over the fact table runs once, not twice.
        .localCheckpoint(eager=False)
    )
    # Hot path: only the hot users' DIMENSION rows ship (broadcast);
    # the hot fact rows are joined map-side and never shuffle.
    hot_dim = cust.join(F.broadcast(hot_keys), "user_id")
    hot_part = events.join(F.broadcast(hot_dim), "user_id").withColumn(
        "is_hot", F.lit(1)
    )
    # Cold path: ordinary shuffle join, hot keys excluded via
    # broadcast anti-join (no shuffle added by the exclusion).
    cold_part = (
        events.join(F.broadcast(hot_keys), "user_id", "left_anti")
        .join(cust, "user_id")
        .withColumn("is_hot", F.lit(0))
    )
    return (
        hot_part.unionByName(cold_part)
        .groupBy("c_mktsegment", "is_hot")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            (F.round(F.sum("value"), 2) + F.lit(0.0)).alias(
                "total_value"
            ),
        )
    )



# ---------------------------------------------------------------------------
# dedup_prefix_filter_join: the PREFIX-FILTERING set-similarity join
# (AllPairs/PPJoin, Bayardo et al. WWW'07 / Xiao et al. WWW'08) — the
# third candidate-generation discipline in the dedup family next to
# MinHash-LSH (probabilistic banding) and the full inverted index
# (dedup_ngram_jaccard, which posts EVERY shingle). The theorem: if
# Jaccard(x, y) >= t, then the first |x| - ceil(t|x|) + 1 shingles of
# x under ANY global total order intersect the same-order prefix of y
# — so indexing ONLY prefixes finds every qualifying pair. Ordering
# rarest-first (ascending document frequency) makes the indexed
# prefixes the COLD end of the vocabulary: the stopword-ish shingles
# whose posting lists explode the full index at 100 TB are exactly
# the ones the prefix drops. At t = 0.8 each doc posts only its
# rarest fifth (n − ceil(0.8n) + 1), and selectivity is essentially
# perfect on this corpus: sf0.01 has 11.5k docs-sharing-any-shingle
# pairs but the prefix generates exactly the 25 that qualify. (The
# first cut used t = 0.5 — half of each doc indexed — and the x100
# probe showed why production systems run prefix joins at high t:
# 41M candidates whose exact verification is the real cost; t is the
# knob that buys selectivity, and 0.8 is the near-dup regime this
# operator targets.) Verification is exact integer Jaccard
# (c·5 >= 4·(n_a + n_b − c)) with a ppm read-out — no doubles
# anywhere. The oracle is the full inverted-index exact join: by the
# prefix-filter theorem the outputs are IDENTICAL, which is precisely
# what the oracle proves.
# ---------------------------------------------------------------------------
PF_T_NUM, PF_T_DEN = 4, 5  # Jaccard threshold t = 0.8 as a ratio

DEDUP_PF_ORACLE = """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3 THEN
               list_transform(range(len(toks) - 2),
                 i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3])
               ELSE [] END) AS shingles
      FROM (SELECT doc_id, string_split_regex(lower(text), '[ \t]') AS toks
            FROM documents)
    ),
    ex AS (
      SELECT doc_id,
             CAST(CAST(concat('0x', substr(md5(s), 1, 12)) AS UBIGINT)
               AS BIGINT) AS h,
             n
      FROM (SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n
            FROM sh)
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_common,
             CAST(any_value(a.n) AS BIGINT) AS n_a,
             CAST(any_value(b.n) AS BIGINT) AS n_b
      FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_a, n_b, n_common,
           n_common * 1000000 // (n_a + n_b - n_common) AS jaccard_ppm
    FROM pairs
    WHERE n_common * 5 >= 4 * (n_a + n_b - n_common)
"""


@query("dedup_prefix_filter_join", oracle=DEDUP_PF_ORACLE)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-Jaccard pair join via prefix filtering (see section
    comment): index only each doc's rarest n - ceil(0.8n) + 1
    shingles, pair within those cold postings, verify exactly."""
    from eeecs485_p4_mapreduce_spark.operators.dedup import (
        _SPARK_TOKS,
        word_shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.selectExpr(
        "doc_id", f"{word_shingles(_SPARK_TOKS, 3)} AS shingles"
    )
    # 48-bit md5 fingerprints replace the shingle STRINGS before any
    # shuffle — the MinHash-family trick: at 100 TB you never sort or
    # ship raw shingle text, only 8-byte keys (the string version of
    # this operator spilled past local disk at the x100 probe). The
    # oracle mirrors the identical hash, so the comparison is exact;
    # per-pair hash merges are ~|x|·|y|/2^48 — the same accepted noise
    # floor as the registered MinHash operators.
    # ex is consumed three times (df census, prefix ranking,
    # verification a/b sides); corpus-sized, so DISK_ONLY persist —
    # keeps lineage, saves two shingling+md5 scans (see SCALE.md).
    ex = (
        sh.select(
            "doc_id",
            F.explode("shingles").alias("s"),
            F.size("shingles").alias("n"),
        ).select(
            "doc_id",
            F.expr(
                "cast(conv(substring(md5(s), 1, 12), 16, 10) as bigint)"
            ).alias("h"),
            "n",
        )
    ).transform(pin_disk)
    # Global rarest-first order = ascending (df, shingle), attached by
    # one shuffle on the shingle. The per-doc prefix (the first
    # n - ceil(n/2) + 1 = n div 2 + 1 shingles under that order) comes
    # from a rank window PARTITIONED BY doc_id: the rank streams out of
    # the shuffle sort, so no per-doc array is ever materialized — the
    # first cut collect_list-ed each doc's full (df, shingle) structs
    # and OOMed the x100 probe inside the hash aggregate.
    # EVERY relation in this operator is corpus-proportional (the
    # vocabulary, the sizes table, the candidate set), so above the
    # small-corpus cutoff each join is pinned to sort-merge: Spark's
    # size estimate for the string-heavy vocabulary sat under the
    # session's 64 MB broadcast threshold at the x100 probe and the
    # resulting broadcast build OOMed the driver. There is no
    # ALWAYS-bounded side to broadcast — but below the cutoff (decided
    # from parquet footer row counts, the similarity.py pattern, never
    # a Spark job) the corpus-proportional tables ARE provably tiny,
    # and letting Spark broadcast them saves five sort-merge exchanges
    # per census run.
    from eeecs485_p4_mapreduce_spark.catalog import table_path
    from eeecs485_p4_mapreduce_spark.operators.similarity import (
        _parquet_row_count,
    )

    small_corpus = (
        _parquet_row_count(table_path(sf_dir, "documents")) < 100_000
    )

    def corpus_join_side(df: DataFrame) -> DataFrame:
        return df if small_corpus else df.hint("merge")

    df_tbl = ex.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "h")
    )
    # Prefix length: n - ceil(t*n) + 1 with t = 4/5, all integer.
    plen = f"n - ({PF_T_NUM} * n + {PF_T_DEN} - 1) div {PF_T_DEN} + 1"
    prefix = (
        ex.join(corpus_join_side(df_tbl), "h")
        .withColumn("rn", rn)
        .where(f"rn <= {plen}")
        .select("doc_id", "h")
    )
    # In-bucket pairing on the (cold) prefix postings — the same
    # posting-slice explosion dedup_ngram_jaccard uses, but over the
    # prefix index, then distinct because a pair may share several
    # prefix shingles.
    postings = (
        prefix.groupBy("h")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    cands = (
        postings.select(F.posexplode("ds").alias("i", "doc_a"), "ds")
        .select(
            "doc_a",
            F.explode(F.expr("slice(ds, i + 2, size(ds))")).alias("doc_b"),
        )
        .distinct()
    )
    # Exact verification WITHOUT materializing array pairs: count the
    # shared shingles by re-exploding the candidate docs' shingle rows
    # and joining on (doc_b, s). Rows stay narrow (id, id, shingle), so
    # verification streams through the shuffle — the first cut attached
    # both docs' FULL shingle arrays to every candidate row (~30 KB per
    # row) and died of executor memory at the x100 probe; this plan
    # probes sub-linear there.
    common = (
        cands.join(
            corpus_join_side(
                ex.select(F.col("doc_id").alias("doc_a"), "h")
            ),
            "doc_a",
        )
        .join(
            corpus_join_side(
                ex.select(F.col("doc_id").alias("doc_b"), "h")
            ),
            ["doc_b", "h"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = sh.select("doc_id", F.size("shingles").alias("n"))
    verified = (
        common.join(
            corpus_join_side(
                sizes.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("n").alias("n_a"),
                )
            ),
            "doc_a",
        )
        .join(
            corpus_join_side(
                sizes.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("n").alias("n_b"),
                )
            ),
            "doc_b",
        )
        .where(
            f"n_common * {PF_T_DEN} >= {PF_T_NUM} * (n_a + n_b - n_common)"
        )
    )
    return verified.selectExpr(
        "doc_a",
        "doc_b",
        "cast(n_a as bigint) AS n_a",
        "cast(n_b as bigint) AS n_b",
        "cast(n_common as bigint) AS n_common",
        "cast(n_common as bigint) * 1000000 div (n_a + n_b - n_common)"
        " AS jaccard_ppm",
    )



# ---------------------------------------------------------------------------
# q118_theil_sen + q119_mann_kendall: the classic ROBUST trend duo
# over the daily revenue series — Theil–Sen (median of all pairwise
# slopes; the 29%-breakdown robust alternative to q84's OLS fit) and
# the Mann–Kendall monotone-trend test with Kendall's tau. Both are
# O(days²) BY DEFINITION — and the day axis is CALENDAR-bounded
# (~2,526 ship days at every sf), so the pair relation is a constant
# ~3.2M rows however big the corpus gets: the only corpus-sized work
# is the first partial-agg shuffle to the day table. Exactness:
# y is quantized to a 0..10,000 per-mille-of-max grid (slope
# numerators then fit ppm arithmetic with room to spare), slopes use
# sign-split floor division (negative int division floors differently
# across engines), quartiles are EXACT order statistics picked by
# row_number at mirrored integer positions (no interpolation), and
# Mann–Kendall needs only signs, so it runs on raw cents.
# ---------------------------------------------------------------------------
_DAILY_CENTS = """
      SELECT CAST(epoch_us(l_shipdate) AS BIGINT) // 86400000000 AS day,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
"""

Q118_ORACLE = f"""
    WITH daily AS ({_DAILY_CENTS}),
    norm AS (
      SELECT day, cents * 10000 // (SELECT max(cents) FROM daily) AS y
      FROM daily
    ), seq AS (
      SELECT row_number() OVER (ORDER BY day) AS t, y FROM norm
    ), slopes AS (
      SELECT CASE WHEN b.y < a.y THEN -1 ELSE 1 END
               * ((abs(b.y - a.y) * 1000000) // (b.t - a.t)) AS slope_ppm
      FROM seq a JOIN seq b ON b.t > a.t
    ), ranked AS (
      SELECT slope_ppm,
             row_number() OVER (ORDER BY slope_ppm) AS rn,
             count(*) OVER () AS np
      FROM slopes
    )
    SELECT CAST((SELECT count(*) FROM seq) AS BIGINT) AS n_days,
           CAST(max(np) AS BIGINT) AS n_pairs,
           CAST(max(CASE WHEN rn = (np + 1) // 4 THEN slope_ppm END)
             AS BIGINT) AS slope_p25_ppm,
           CAST(max(CASE WHEN rn = (np + 1) // 2 THEN slope_ppm END)
             AS BIGINT) AS slope_median_ppm,
           CAST(max(CASE WHEN rn = (3 * (np + 1)) // 4 THEN slope_ppm END)
             AS BIGINT) AS slope_p75_ppm
    FROM ranked
"""


def _daily_seq(spark: SparkSession, sf_dir: str, scale: int) -> DataFrame:
    """(t, y) day sequence: rank on the day axis, revenue quantized to
    0..scale per-mille-of-max. Deliberately LIVE lineage (no pin): the
    pair join consumes it twice and the downstream slope window is
    unpartitioned, so the plan gate must find the bounding day
    aggregate inside every window's subtree — a pin would hide it.
    The cost is re-running a column-pruned scan + partial agg per
    consumer, which stays embarrassingly parallel at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.selectExpr(
            "unix_micros(cast(l_shipdate as timestamp)) div 86400000000"
            " AS day",
            "cast(round(l_extendedprice * 100) as bigint) AS cents",
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("cents"))
    )
    mx = daily.agg(F.max("cents").alias("mx"))
    return (
        daily.crossJoin(F.broadcast(mx))
        .selectExpr("day", f"cents * {scale} div mx AS y")
        .select(
            F.row_number().over(Window.orderBy("day")).alias("t"), "y"
        )
    )


@query("q118_theil_sen", oracle=Q118_ORACLE)
def q118_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen slope quartiles over the daily revenue series (see
    section comment). The pair relation and its sort are bounded by
    calendar-days², constant in corpus size."""
    seq = _daily_seq(spark, sf_dir, 10000)
    b = seq.selectExpr("t AS t2", "y AS y2")
    slopes = (
        seq.join(F.broadcast(b), F.expr("t2 > t"))
        .selectExpr(
            "(case when y2 < y then -1 else 1 end)"
            " * ((abs(y2 - y) * 1000000) div (t2 - t)) AS slope_ppm"
        )
    )
    ranked = slopes.select(
        "slope_ppm",
        F.row_number().over(Window.orderBy("slope_ppm")).alias("rn"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("np"),
    )
    n_days = seq.count()
    return ranked.groupBy().agg(
        F.lit(n_days).cast("long").alias("n_days"),
        F.max("np").cast("long").alias("n_pairs"),
        F.max(
            F.expr("case when rn = (np + 1) div 4 then slope_ppm end")
        ).cast("long").alias("slope_p25_ppm"),
        F.max(
            F.expr("case when rn = (np + 1) div 2 then slope_ppm end")
        ).cast("long").alias("slope_median_ppm"),
        F.max(
            F.expr("case when rn = (3 * (np + 1)) div 4 then slope_ppm end")
        ).cast("long").alias("slope_p75_ppm"),
    )


Q119_ORACLE = f"""
    WITH daily AS ({_DAILY_CENTS}),
    seq AS (
      SELECT row_number() OVER (ORDER BY day) AS t, cents AS y FROM daily
    ), pairs AS (
      SELECT CASE WHEN b.y > a.y THEN 1
                  WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
      FROM seq a JOIN seq b ON b.t > a.t
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(sgn) AS BIGINT) AS s_stat,
             CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_concordant,
             CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_discordant,
             CAST(sum(CASE WHEN sgn = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ties
      FROM pairs
    )
    SELECT CAST((SELECT count(*) FROM seq) AS BIGINT) AS n_days,
           n_pairs, s_stat, n_concordant, n_discordant, n_ties,
           CASE WHEN s_stat < 0 THEN -1 ELSE 1 END
             * ((abs(s_stat) * 1000000) // n_pairs) AS tau_ppm
    FROM agg
"""


@query("q119_mann_kendall", oracle=Q119_ORACLE)
def q119_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall S statistic and Kendall's tau over the daily
    revenue series (see section comment) — signs only, so it runs on
    raw cents with no quantization at all."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.selectExpr(
            "unix_micros(cast(l_shipdate as timestamp)) div 86400000000"
            " AS day",
            "cast(round(l_extendedprice * 100) as bigint) AS cents",
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("y"))
        .select(
            F.row_number().over(Window.orderBy("day")).alias("t"), "y"
        )
        .localCheckpoint(eager=False)  # day-table-sized, feeds both pair sides
    )
    b = daily.selectExpr("t AS t2", "y AS y2")
    pairs = daily.join(F.broadcast(b), F.expr("t2 > t")).selectExpr(
        "case when y2 > y then 1 when y2 < y then -1 else 0 end AS sgn"
    )
    n_days = daily.count()
    return pairs.groupBy().agg(
        F.lit(n_days).cast("long").alias("n_days"),
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("sgn").alias("s_stat"),
        F.sum(F.expr("case when sgn = 1 then 1 else 0 end")).alias(
            "n_concordant"
        ),
        F.sum(F.expr("case when sgn = -1 then 1 else 0 end")).alias(
            "n_discordant"
        ),
        F.sum(F.expr("case when sgn = 0 then 1 else 0 end")).alias(
            "n_ties"
        ),
    ).selectExpr(
        "n_days",
        "n_pairs",
        "s_stat",
        "n_concordant",
        "n_discordant",
        "n_ties",
        "(case when s_stat < 0 then -1 else 1 end)"
        " * ((abs(s_stat) * 1000000) div n_pairs) AS tau_ppm",
    )



# ---------------------------------------------------------------------------
# mm_gzip_members: RFC 1952 multi-member gzip framing (see the codec
# section in multimodal.py) — the on-disk shape of block-gzipped
# corpus shards, where one .gz is N complete members back-to-back.
# Doc d writes 1 + d%3 members; member m carries 50 + (d*7 + m*13)
# % 180 payload bytes of pattern (d + m + i) % 251 and an FNAME
# ("part{m}.txt", 9 bytes) iff (d + m) % 2 == 0. STORED-mode deflate
# makes the layout closed-form: member bytes = 10 header + (named ?
# 9 + 1 : 0) + (5 + b) deflate + 8 trailer. CRC32 and ISIZE are
# verified during the walk (strictness pytest-fuzzed); the oracle
# mirrors the byte arithmetic relationally.
# ---------------------------------------------------------------------------
GZ_SCHEMA_FIELDS = (
    "media_id",
    "n_members",
    "n_named",
    "payload_bytes",
    "name_bytes",
    "file_bytes",
)

MM_GZ_ORACLE = """
    WITH m AS (
      SELECT doc_id, mm.m AS m,
             50 + (doc_id * 7 + mm.m * 13) % 180 AS b,
             CASE WHEN (doc_id + mm.m) % 2 = 0 THEN 1 ELSE 0 END AS named
      FROM (SELECT doc_id, 1 + doc_id % 3 AS nm FROM documents),
           LATERAL (SELECT unnest(range(nm)) AS m) mm
    )
    SELECT doc_id AS media_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(named) AS BIGINT) AS n_named,
           CAST(sum(b) AS BIGINT) AS payload_bytes,
           CAST(sum(named) * 9 AS BIGINT) AS name_bytes,
           CAST(sum(10 + named * 10 + 5 + b + 8) AS BIGINT) AS file_bytes
    FROM m GROUP BY doc_id
"""


@query("mm_gzip_members", oracle=MM_GZ_ORACLE)
def mm_gzip_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: build a multi-member gzip stream and strictly
    re-walk it (CRC32/ISIZE verified per member). Zero-shuffle Arrow
    mapInPandas via media_walk_query."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_gzip_members,
        media_walk_query,
        parse_gzip_members,
    )

    def per_doc(d: int) -> dict:
        members = []
        for m in range(1 + d % 3):
            b = 50 + (d * 7 + m * 13) % 180
            payload = bytes((d + m + i) % 251 for i in range(b))
            fname = f"part{m}.txt" if (d + m) % 2 == 0 else None
            members.append((payload, fname, 1_500_000_000 + d))
        return parse_gzip_members(encode_gzip_members(members))

    return media_walk_query(spark, sf_dir, GZ_SCHEMA_FIELDS, per_doc)
