"""Registered queries of the r19 pipeline (each with ``@query``).

Same discipline as operators/staged_r9–r18: built, hash-checked against
DuckDB at sf0.001 and sf0.01, fixture-tested with independent references
(tests/test_staged_r19.py), plan-gate swept, and x10/x100 replica-probed
before registration. Same contract as every registered query: identical
aliases both sides, round()-ed or integer-exact outputs, no nullable
hash-bearing columns.

Surface:

- ``q109_avro_roundtrip`` — closes the format-contract family
  (CSV q82 / JSONL q89 / ORC q94 / XML q95 / parquet q96): an
  adversarial documents slice is encoded into REAL Avro Object
  Container Files with a from-scratch OCF codec (public spec,
  https://avro.apache.org/docs/1.11.1/specification/ — magic
  ``Obj\\x01``, file-metadata map carrying the writer schema JSON,
  16-byte sync markers, zigzag-varint longs, length-prefixed UTF-8,
  null-union branch indices), decoded back strictly, and aggregated.
  The payload never touches a third-party library — pyspark ships no
  avro module and DuckDB has no read_avro, so BOTH engines would
  otherwise skip the format entirely. Negative longs exercise zigzag;
  a nullable column exercises the union encoding; multi-byte UTF-8
  exercises length-vs-char accounting.
- ``skew_zipf_salted_join`` — the deliberately-zipfian probe the
  skew.py family lacked: a derived join key whose bucket k holds
  ~2^k of the events (the top key alone carries ~half the fact
  table), joined to a 17-row dimension through ``skew.salted_join``
  with the salt from the per-row-unique event_id — the one knob that
  splits even a single degenerate key. The oracle is the plain join:
  salting is correctness-neutral by construction.
- ``ta_impact_topk`` — learned-sparse / impact-ordered retrieval
  (SPLADE-style quantized impacts) with the block-max WAND pruning
  invariant (Ding & Suel 2011) run as a batch dataflow: phase A takes
  a cheap per-query threshold estimate from the champion term's
  posting list alone; phase B computes per-doc UPPER BOUNDS from the
  per-term impact maxima and fully scores ONLY docs whose bound
  clears the estimate. Pruning is exact by the WAND invariant
  (score(d) <= sum of matched terms' maxima, and the estimate is a
  lower bound of the true top-k threshold), so the oracle is the
  unpruned scoring — all integer arithmetic, no float anywhere.
- ``ta_decontaminate`` — benchmark-contamination detection: the
  8-token-window collision pass every LLM pipeline runs against
  held-out eval sets before a data release, as an inverted gram match
  (never pairwise), reported per source in exact ppm.
- ``q110_cohort_retention`` — the cohort-retention triangle over
  7-day integer epoch periods (tz-free by construction), with
  retained_ppm against each cohort's size and the offset-0 row kept
  as the built-in self-check.
- ``sim_binary_quantize`` — 1-bit sign quantization (the compression
  family's most aggressive member, shipped by modern vector stores as
  the first-pass filter): two-bigint-half signatures, integer Hamming
  scoring via a salted exact two-phase top-k, TRUE cosine attached as
  the exact-rerank column.
- ``curate_split_assign`` — deterministic 80/10/10 train/val/test
  assignment by md5 hash bucket plus the cross-split exact-text
  LEAKAGE audit every dataset release needs, in exact ppm.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from eeecs485_p4_mapreduce_spark.catalog import load_table, spread_small_source, pin_disk
from eeecs485_p4_mapreduce_spark.functions.text import tokens
from eeecs485_p4_mapreduce_spark.operators.similarity import N_QUERIES
from eeecs485_p4_mapreduce_spark.registry import query

# ---------------------------------------------------------------------------
# Avro Object Container File codec — from scratch, public spec:
# https://avro.apache.org/docs/1.11.1/specification/ (Object Container
# Files; Binary Encoding). Longs are zigzag + base-128 varint; strings
# are long-prefixed UTF-8; the nullable column is the 2-branch union
# ["null","string"] with a long branch index; blocks are (row count,
# byte size, payload, sync) and every sync must equal the header's.
# The decoder is strict: any structural violation raises ValueError
# (the repo-wide container-walker contract).
# ---------------------------------------------------------------------------
_AVRO_MAGIC = b"Obj\x01"

_AVRO_SCHEMA_JSON = (
    '{"type":"record","name":"doc_slice","fields":['
    '{"name":"doc_id","type":"long"},'
    '{"name":"source","type":"string"},'
    '{"name":"tricky","type":["null","string"]},'
    '{"name":"delta","type":"long"}]}'
)


def _avro_long(n: int) -> bytes:
    """Zigzag + base-128 varint (spec: Binary Encoding / primitives)."""
    u = (n << 1) ^ (n >> 63)  # Python ints: exact two's-complement zigzag
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _avro_str(s: str) -> bytes:
    raw = s.encode("utf-8")
    return _avro_long(len(raw)) + raw


def encode_avro_ocf(rows, sync: bytes, rows_per_block: int = 1000) -> bytes:
    """rows: iterable of (doc_id, source, tricky_or_None, delta)."""
    if len(sync) != 16:
        raise ValueError("sync marker must be 16 bytes")
    out = bytearray(_AVRO_MAGIC)
    # file metadata map: one block of 2 entries, then the 0 terminator
    out += _avro_long(2)
    out += _avro_str("avro.schema") + _avro_str(_AVRO_SCHEMA_JSON)
    out += _avro_str("avro.codec") + _avro_str("null")
    out += _avro_long(0)
    out += sync
    rows = list(rows)
    for i in range(0, len(rows), rows_per_block):
        chunk = rows[i : i + rows_per_block]
        body = bytearray()
        for doc_id, source, tricky, delta in chunk:
            body += _avro_long(int(doc_id))
            body += _avro_str(source)
            if tricky is None:
                body += _avro_long(0)  # union branch: null
            else:
                body += _avro_long(1) + _avro_str(tricky)
            body += _avro_long(int(delta))
        out += _avro_long(len(chunk)) + _avro_long(len(body))
        out += body
        out += sync
    return bytes(out)


class _AvroReader:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read(self, n: int) -> bytes:
        if self.pos + n > len(self.buf):
            raise ValueError("avro: truncated")
        b = self.buf[self.pos : self.pos + n]
        self.pos += n
        return b

    def long(self) -> int:
        shift = 0
        u = 0
        while True:
            if self.pos >= len(self.buf):
                raise ValueError("avro: truncated varint")
            if shift > 63:
                raise ValueError("avro: varint too long")
            b = self.buf[self.pos]
            self.pos += 1
            if shift == 63 and (b & 0x7F) > 1:
                # 10th byte may only contribute the sign bit of an
                # int64 zigzag; anything else decodes outside int64
                # and must fail the strict-walker contract, not leak
                # a >64-bit Python int into the arrow conversion
                raise ValueError("avro: varint exceeds int64")
            u |= (b & 0x7F) << shift
            if not (b & 0x80):
                break
            shift += 7
        return (u >> 1) ^ -(u & 1)  # un-zigzag

    def string(self) -> str:
        n = self.long()
        if n < 0:
            raise ValueError("avro: negative string length")
        return self.read(n).decode("utf-8")


def decode_avro_ocf(payload: bytes):
    """Strict OCF walk -> (rows, n_blocks). Raises ValueError on any
    structural violation (bad magic, sync mismatch, unknown union
    branch, block-size disagreement, trailing garbage)."""
    r = _AvroReader(payload)
    if r.read(4) != _AVRO_MAGIC:
        raise ValueError("avro: bad magic")
    meta = {}
    while True:
        count = r.long()
        if count == 0:
            break
        if count < 0:  # spec: negative count is followed by a byte size
            count = -count
            r.long()
        for _ in range(count):
            # explicit ordering: Python evaluates an assignment's RHS
            # BEFORE the subscript key, which would swap key and value
            key = r.string()
            meta[key] = r.string()
    if meta.get("avro.codec", "null") != "null":
        raise ValueError("avro: unsupported codec")
    if meta.get("avro.schema") != _AVRO_SCHEMA_JSON:
        raise ValueError("avro: unexpected writer schema")
    sync = r.read(16)
    rows = []
    n_blocks = 0
    while r.pos < len(r.buf):
        n_rows = r.long()
        if n_rows < 0:
            raise ValueError("avro: negative block row count")
        size = r.long()
        if size < 0 or r.pos + size + 16 > len(r.buf):
            raise ValueError("avro: block overruns file")
        end = r.pos + size
        for _ in range(n_rows):
            doc_id = r.long()
            source = r.string()
            branch = r.long()
            if branch == 0:
                tricky = None
            elif branch == 1:
                tricky = r.string()
            else:
                raise ValueError("avro: bad union branch")
            delta = r.long()
            rows.append((doc_id, source, tricky, delta))
        if r.pos != end:
            raise ValueError("avro: block size mismatch")
        if r.read(16) != sync:
            raise ValueError("avro: sync marker mismatch")
        n_blocks += 1
    return rows, n_blocks


# single quote via chr(39) (the q89/q94 engine-neutral spelling); the
# multi-byte char exercises UTF-8 length-vs-char accounting
Q109_TRICKY = (
    """concat('avró ✓ "', substr(text, 1, 10), '" ,', chr(39), source)"""
)

Q109_ORACLE = f"""
    WITH src AS (
      SELECT source,
             CASE WHEN doc_id % 5 = 0 THEN NULL ELSE {Q109_TRICKY} END
               AS tricky,
             n_chars - 3000 AS delta, doc_id
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) - count(tricky) AS BIGINT) AS n_null_tricky,
           CAST(coalesce(sum(len(tricky)), 0) AS BIGINT) AS sum_tricky_len,
           CAST(sum(delta) AS BIGINT) AS sum_delta,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM src GROUP BY source
"""


@query("q109_avro_roundtrip", oracle=Q109_ORACLE)
def q109_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode an adversarial documents slice into per-partition Avro
    OCF payloads with the from-scratch codec, strictly decode them
    back, and aggregate (see section comment). The roundtrip is
    byte-level (the OCF blobs flow between two Arrow stages as binary
    columns — the same contract as writing shard files to an object
    store, minus the filesystem); the id column is repartitioned to
    core width first per the media_walk_query rule. delta is negative
    for short documents, so zigzag encoding is exercised on both
    signs; doc_id % 5 == 0 rows exercise the null-union branch."""
    import pandas as pd
    from pyspark import TaskContext
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    docs = load_table(spark, sf_dir, "documents")
    src = docs.select(
        "doc_id",
        "source",
        F.when(F.col("doc_id") % 5 == 0, F.lit(None))
        .otherwise(F.expr(Q109_TRICKY))
        .alias("tricky"),
        (F.col("n_chars") - F.lit(3000)).alias("delta"),
    )
    src = spread_small_source(src)

    enc_schema = StructType(
        [
            StructField("shard_id", LongType(), False),
            StructField("n_rows", LongType(), False),
            StructField("n_blocks", LongType(), False),
            StructField("payload", BinaryType(), False),
        ]
    )

    def encode(batches):
        rows = []
        for pdf in batches:
            for t in pdf.itertuples(index=False):
                rows.append(
                    (
                        int(t.doc_id),
                        str(t.source),
                        None if pd.isna(t.tricky) else str(t.tricky),
                        int(t.delta),
                    )
                )
        pid = TaskContext.get().partitionId()
        # deterministic per-shard sync marker (no randomness in
        # registered modules — the resume/replay rule)
        sync = hashlib.md5(b"p4spark-avro-%d" % pid).digest()
        payload = encode_avro_ocf(rows, sync, rows_per_block=200)
        back, n_blocks = decode_avro_ocf(payload)
        if back != rows:  # encoder self-check before the blob ships
            raise ValueError("avro: roundtrip mismatch at encode time")
        yield pd.DataFrame(
            {
                "shard_id": [pid],
                "n_rows": [len(rows)],
                "n_blocks": [n_blocks],
                "payload": [payload],
            }
        )

    def decode(batches):
        for pdf in batches:
            out = {"doc_id": [], "source": [], "tricky": [], "delta": []}
            for payload in pdf["payload"]:
                rows, _ = decode_avro_ocf(bytes(payload))
                for doc_id, source, tricky, delta in rows:
                    out["doc_id"].append(doc_id)
                    out["source"].append(source)
                    out["tricky"].append(tricky)
                    out["delta"].append(delta)
            yield pd.DataFrame(out)

    decoded = src.mapInPandas(encode, enc_schema).mapInPandas(
        decode,
        "doc_id bigint, source string, tricky string, delta bigint",
    )
    return decoded.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - F.count("tricky")).alias("n_null_tricky"),
        F.coalesce(F.sum(F.length("tricky")), F.lit(0)).alias(
            "sum_tricky_len"
        ),
        F.sum("delta").alias("sum_delta"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# skew_zipf_salted_join: a DELIBERATELY zipfian key. zkey = bit-length
# of (event_id % 65536 + 1) - 1, i.e. floor(log2) computed with integer
# string ops (length(bin(x)) agrees bit-for-bit across engines, unlike
# floating log2 at exact powers of two): bucket k holds the ~2^k values
# in [2^k, 2^(k+1)), so the TOP bucket alone carries ~half the fact
# table — the degenerate hot key AQE's skew split handles reactively
# and salted_join handles deterministically. Salt derives from the
# per-row-unique event_id (the salted_join docstring's own rule for a
# truly degenerate key).
# ---------------------------------------------------------------------------
ZIPF_MOD = 65536
ZIPF_KEYS = 17  # bit lengths 0..16 of x+1, x in [0, 65535]

SKEW_ZIPF_ORACLE = f"""
    WITH ev AS (
      SELECT length(bin(event_id % {ZIPF_MOD} + 1)) - 1 AS zkey,
             user_id,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events
    ), dim AS (
      SELECT r.range AS dzkey,
             concat('tier', r.range) AS tier,
             r.range * r.range + 1 AS weight
      FROM range({ZIPF_KEYS}) r
    )
    SELECT tier,
           CAST(max(weight) AS BIGINT) AS weight,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM ev JOIN dim ON ev.zkey = dim.dzkey
    GROUP BY tier
"""


@query("skew_zipf_salted_join", oracle=SKEW_ZIPF_ORACLE)
def skew_zipf_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipfian-key enrichment through the salted join (see section
    comment). The oracle is the PLAIN join — salting is
    correctness-neutral; what it buys is that the hot key's ~50% of
    the fact table spreads across 16 shuffle subpartitions instead of
    one straggler task."""
    from eeecs485_p4_mapreduce_spark.operators.skew import salted_join

    events = load_table(spark, sf_dir, "events").select(
        F.expr(f"length(bin(event_id % {ZIPF_MOD} + 1)) - 1").alias(
            "zkey"
        ),
        "event_id",
        "user_id",
        F.expr("cast(round(value * 100, 0) as bigint)").alias("cents"),
    )
    dim = spark.range(ZIPF_KEYS).select(
        F.col("id").alias("dzkey"),
        F.concat(F.lit("tier"), F.col("id")).alias("tier"),
        (F.col("id") * F.col("id") + 1).alias("weight"),
    )
    return (
        salted_join(
            events, dim, "zkey", "dzkey", n_salts=16, salt_from="event_id"
        )
        .groupBy("tier")
        .agg(
            F.max("weight").alias("weight"),
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("cents").alias("sum_cents"),
        )
    )


# ---------------------------------------------------------------------------
# ta_impact_topk: impact-ordered sparse retrieval with block-max-WAND
# pruning. Integer impacts: idf_q = 1000000 div df (floor), impact =
# tf * idf_q — every value exact in both engines. Query workload: the
# 12 highest-df tokens dealt round-robin into 4 three-term queries
# (rank r -> query (r-1) % 4), so each query mixes common and less
# common terms. score(q, d) = sum of impacts over q's terms present in
# d; exact top-{IMPACT_TOP_K} per query, ties by doc_id.
#
# The WAND invariant, run as dataflow: theta-hat(q) = the k-th largest
# SINGLE-TERM impact on q's champion term's posting list (champion =
# the query term with the largest posting-max impact; any seed's k-th
# best single-term score is a lower bound of the true k-th best full
# score, since full >= single-term and seed subset of all docs). A doc
# can reach the top k only if ub(q, d) = sum of matched terms' maxima
# >= true theta >= theta-hat, so phase B fully scores ONLY candidates
# with ub >= theta-hat. Exact by construction; the oracle is the
# unpruned scoring.
# ---------------------------------------------------------------------------
IMPACT_N_TERMS = 12
IMPACT_N_QUERIES = 4
IMPACT_TOP_K = 5

_DUCK_TOKS_R19 = "string_split_regex(lower(text), '[ \t]')"

TA_IMPACT_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS_R19}) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, token
    ), df AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token
    ), qterms AS (
      SELECT token AS term, (r - 1) % {IMPACT_N_QUERIES} AS query_id,
             1000000 // df AS idf_q
      FROM (
        SELECT token, df,
               row_number() OVER (ORDER BY df DESC, token) AS r
        FROM df
      ) WHERE r <= {IMPACT_N_TERMS}
    ), scored AS (
      SELECT q.query_id, tf.doc_id,
             CAST(sum(tf.tf * q.idf_q) AS BIGINT) AS score,
             CAST(count(*) AS BIGINT) AS n_terms
      FROM tf JOIN qterms q ON tf.token = q.term
      GROUP BY 1, 2
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, n_terms,
           CAST(rnk AS BIGINT) AS rank
    FROM (
      SELECT query_id, doc_id, score, n_terms,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rnk
      FROM scored
    ) WHERE rnk <= {IMPACT_TOP_K}
"""


@query("ta_impact_topk", oracle=TA_IMPACT_ORACLE)
def ta_impact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-{IMPACT_TOP_K} docs per query under integer impact
    scoring, computed through the block-max WAND pruning dataflow (see
    section comment — phase A seeds a threshold from the champion
    term's postings, phase B scores only docs whose matched-maxima
    upper bound clears it)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens()).alias("token"))
    # corpus-sized: DISK_ONLY persist keeps lineage (recoverable on
    # executor loss) and stays out of exec memory — see SCALE.md.
    tf = (
        toks.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(pin_disk)
    )
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    rw = Window.orderBy(F.col("df").desc(), "token")
    qterms = (
        df_t.withColumn("r", F.row_number().over(rw))
        .filter(F.col("r") <= IMPACT_N_TERMS)
        .select(
            F.col("token").alias("term"),
            ((F.col("r") - 1) % IMPACT_N_QUERIES).alias("query_id"),
            F.expr("1000000 div df").alias("idf_q"),
        )
    )
    # postings restricted to query terms: vocabulary-filtered via the
    # broadcast 12-row term table, impact computed inline
    post = (
        tf.withColumnRenamed("token", "term")
        .join(F.broadcast(qterms), "term")
        .select(
            "query_id",
            "term",
            "doc_id",
            (F.col("tf") * F.col("idf_q")).alias("imp"),
        )
        # consumed by bmax, phase A, ub, and phase B; postings are
        # corpus-sized so DISK_ONLY (lineage kept), not localCheckpoint
        .transform(pin_disk)
    )
    # per-term posting maxima (the "block max" table — 12 rows)
    bmax = post.groupBy("query_id", "term").agg(
        F.max("imp").alias("bmax")
    )
    champ_w = Window.partitionBy("query_id").orderBy(
        F.col("bmax").desc(), "term"
    )
    champion = (
        bmax.withColumn("cr", F.row_number().over(champ_w))
        .filter(F.col("cr") == 1)
        # renamed columns: champion derives from post, so a join back
        # against post on same-named columns is a self-join ambiguity
        .select(
            F.col("query_id").alias("cqid"),
            F.col("term").alias("champ_term"),
        )
    )
    # phase A: theta-hat = k-th largest impact on the champion's list
    # (fewer than k postings -> no k-th value -> theta-hat 0, pruning
    # simply disabled — still exact)
    seed_w = Window.partitionBy("query_id").orderBy(
        F.col("imp").desc(), "doc_id"
    )
    theta = (
        post.join(
            F.broadcast(champion),
            (F.col("query_id") == F.col("cqid"))
            & (F.col("term") == F.col("champ_term")),
        )
        .select("query_id", "imp", "doc_id")
        .withColumn("sr", F.row_number().over(seed_w))
        .filter(F.col("sr") == IMPACT_TOP_K)
        .select("query_id", F.col("imp").alias("theta"))
    )
    # upper bounds from matched terms' maxima; candidates must clear
    # theta-hat (left join: a query with <k champion postings has no
    # theta row and keeps every candidate)
    ub = (
        post.join(F.broadcast(bmax), ["query_id", "term"])
        .groupBy("query_id", "doc_id")
        .agg(F.sum("bmax").alias("ub"))
    )
    cand = (
        ub.join(F.broadcast(theta), "query_id", "left")
        .filter(
            F.col("theta").isNull() | (F.col("ub") >= F.col("theta"))
        )
        .select("query_id", "doc_id")
    )
    # phase B: full scoring of the survivors only
    scored = (
        post.join(cand, ["query_id", "doc_id"], "left_semi")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("imp").alias("score"),
            F.count(F.lit(1)).alias("n_terms"),
        )
    )
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), "doc_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= IMPACT_TOP_K)
        .select("query_id", "doc_id", "score", "n_terms", "rank")
    )


# ---------------------------------------------------------------------------
# ta_decontaminate: benchmark-contamination detection — the
# decontamination pass every LLM training pipeline runs before a data
# release (n-gram collision against held-out eval sets; the 8-gram
# window is the published convention, e.g. GPT-3 appendix C / PaLM's
# "data contamination" analyses). Here the held-out set is the
# deterministic doc_id % 50 == 0 slice; a train document is
# contaminated iff it shares ANY 8-token window with any benchmark
# document. The join is an inverted match on the gram itself (only
# docs sharing a gram ever meet — no pairwise stage, the dedup-family
# rule), and the output is a per-source census in exact ppm.
# ---------------------------------------------------------------------------
DECON_N = 8
DECON_MOD = 50

TA_DECON_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, source,
             string_split_regex(lower(text), '[ \t]') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - {DECON_N - 2}),
                    i -> array_to_string(t[i:i + {DECON_N - 1}], ' ')))
               AS g
      FROM toks WHERE len(t) >= {DECON_N}
    ), bench AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % {DECON_MOD} = 0
    ), hits AS (
      SELECT DISTINCT gr.doc_id
      FROM grams gr JOIN bench USING (g)
      WHERE gr.doc_id % {DECON_MOD} != 0
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_train,
           CAST(count(h.doc_id) AS BIGINT) AS n_contaminated,
           CAST((count(h.doc_id) * 1000000) // count(*) AS BIGINT)
             AS contam_ppm
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % {DECON_MOD} != 0
    GROUP BY d.source
"""


@query("ta_decontaminate", oracle=TA_DECON_ORACLE)
def ta_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source benchmark-contamination census (see section comment).
    Scale shape: grams are distinct-ed per side before the match, the
    join key is the gram text (only colliding docs meet — inverted
    index, never pairs), and the flagged-doc set is doc-cardinality;
    nothing quadratic anywhere. Integer ppm output."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", tokens().alias("t"))
    grams = (
        toks.filter(F.size("t") >= DECON_N)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {DECON_N - 1}),"
                    f" i -> array_join(slice(t, i, {DECON_N}), ' '))"
                )
            ).alias("g"),
        )
    )
    bench = (
        grams.filter(F.col("doc_id") % DECON_MOD == 0)
        .select("g")
        .distinct()
    )
    hits = (
        grams.filter(F.col("doc_id") % DECON_MOD != 0)
        .join(bench, "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = docs.filter(F.col("doc_id") % DECON_MOD != 0).select(
        "doc_id", "source"
    )
    return (
        train.join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.count("hit").alias("n_contaminated"),
            F.expr("(count(hit) * 1000000) div count(1)").alias(
                "contam_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q110_cohort_retention: the cohort-retention matrix (the standard
# product-analytics triangle). Periods are 7-day epoch buckets
# (unix_micros div 7 days) — integer-exact and tz-free, sidestepping
# calendar-month arithmetic divergence between engines. A user's
# cohort is their first active period; the matrix counts distinct
# users active at each offset, with retained_ppm against the cohort's
# size (offset 0 row is the size itself, ppm = 1e6 by construction —
# kept in the output as the self-check).
# ---------------------------------------------------------------------------
PERIOD_US = 7 * 86_400_000_000

Q110_ORACLE = f"""
    WITH act AS (
      SELECT DISTINCT user_id,
             epoch_us(ts) // {PERIOD_US} AS period
      FROM events
    ), coh AS (
      SELECT user_id, min(period) AS cohort FROM act GROUP BY user_id
    ), mat AS (
      SELECT c.cohort, a.period - c.cohort AS offset_periods,
             count(DISTINCT a.user_id) AS n_active
      FROM act a JOIN coh c USING (user_id)
      GROUP BY 1, 2
    ), size_ AS (
      SELECT cohort, n_active AS cohort_size FROM mat
      WHERE offset_periods = 0
    )
    SELECT CAST(m.cohort AS BIGINT) AS cohort_period,
           CAST(m.offset_periods AS BIGINT) AS offset_periods,
           CAST(m.n_active AS BIGINT) AS n_active,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           CAST((m.n_active * 1000000) // s.cohort_size AS BIGINT)
             AS retained_ppm
    FROM mat m JOIN size_ s USING (cohort)
"""


@query("q110_cohort_retention", oracle=Q110_ORACLE)
def q110_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-retention triangle over 7-day integer periods (see
    section comment). One distinct (user, period) pass feeds both the
    cohort assignment and the matrix; the per-cohort size joins back
    broadcast (cohort cardinality = number of periods, tiny)."""
    events = load_table(spark, sf_dir, "events")
    act = (
        events.select(
            "user_id",
            F.expr(f"unix_micros(ts) div {PERIOD_US}").alias("period"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds cohort, matrix, and size
    )
    coh = act.groupBy("user_id").agg(F.min("period").alias("cohort"))
    mat = (
        act.join(coh, "user_id")
        .groupBy("cohort", (F.col("period") - F.col("cohort")).alias("offset_periods"))
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    size = mat.filter(F.col("offset_periods") == 0).select(
        "cohort", F.col("n_active").alias("cohort_size")
    )
    return mat.join(F.broadcast(size), "cohort").select(
        F.col("cohort").alias("cohort_period"),
        "offset_periods",
        "n_active",
        "cohort_size",
        F.expr("(n_active * 1000000) div cohort_size").alias(
            "retained_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# sim_binary_quantize: 1-bit (sign) quantization — the most aggressive
# member of the module's compression family (SQ8 -> PQ -> BQ), and the
# one modern vector stores ship for first-pass filtering (binary
# quantization + exact rerank). Each vector compresses to DIM sign
# bits, stored as TWO bigint halves (bits 0-31 / 32-63) so no shift
# ever touches the signed 64th bit in either engine; candidate scoring
# is Hamming distance = bit_count(xor(lo)) + bit_count(xor(hi)), and
# the graded output is the top-{BQ_TOP_K} per query by (hamming,
# vec_id) with the TRUE cosine attached as the exact-rerank column —
# the accuracy/compression tradeoff made visible. Integer Hamming,
# round(4) cosine (the sim-family contract).
# ---------------------------------------------------------------------------
BQ_TOP_K = 5

_DUCK_COS_QC = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
    "    * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)

_DUCK_BQ_HALF = (
    "CAST(sum(CASE WHEN e.embedding[i.i + 1 + {off}]::DOUBLE > 0.0"
    " THEN (CAST(1 AS BIGINT) << i.i) ELSE 0 END) AS BIGINT)"
)

SIM_BQ_ORACLE = f"""
    WITH sig AS (
      SELECT e.vec_id,
             {_DUCK_BQ_HALF.format(off=0)} AS lo,
             {_DUCK_BQ_HALF.format(off=32)} AS hi
      FROM embeddings e, (SELECT unnest(range(32)) AS i) i
      GROUP BY e.vec_id
    ), pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi))
               AS hamming
      FROM sig q JOIN sig c ON q.vec_id < {N_QUERIES}
                            AND c.vec_id <> q.vec_id
    ), topk AS (
      SELECT query_id, neighbor_id, hamming,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY hamming, neighbor_id) AS rank
      FROM pairs
    )
    SELECT t.query_id, t.neighbor_id,
           CAST(t.hamming AS BIGINT) AS hamming,
           CAST(t.rank AS BIGINT) AS rank,
           round({_DUCK_COS_QC}, 4) AS cosine
    FROM topk t
    JOIN embeddings a ON a.vec_id = t.query_id
    JOIN embeddings b ON b.vec_id = t.neighbor_id
    WHERE t.rank <= {BQ_TOP_K}
"""


@query("sim_binary_quantize", oracle=SIM_BQ_ORACLE)
def sim_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BQ_TOP_K} per query under 1-bit sign quantization, exact
    cosine attached as the rerank column (see section comment). Scale
    shape: signatures are 16 bytes/vector computed in one map-side
    projection; the {N_QUERIES}-row query side broadcasts against the
    signature scan (the corpus never shuffles — BQ exists to make the
    first-pass scan this cheap), and only the winners join back to the
    raw vectors for the exact rerank."""
    from eeecs485_p4_mapreduce_spark.operators.similarity import (
        _emb_with_norm,
    )

    # full embedding table feeds the signature scan AND the rerank
    # join-back: DISK_ONLY persist (lineage kept), not localCheckpoint.
    emb = _emb_with_norm(spark, sf_dir).transform(pin_disk)
    half = (
        "aggregate(sequence(0, 31), 0L, (acc, i) ->"
        " acc + if(element_at(v, i + 1 + {off}) > 0.0d,"
        " shiftleft(1L, i), 0L))"
    )
    sig = emb.selectExpr(
        "vec_id",
        f"{half.format(off=0)} AS lo",
        f"{half.format(off=32)} AS hi",
    )
    q = sig.filter(F.col("vec_id") < N_QUERIES).selectExpr(
        "vec_id AS query_id", "lo AS qlo", "hi AS qhi"
    )
    scored = sig.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            F.bit_count(F.expr("qlo ^ lo"))
            + F.bit_count(F.expr("qhi ^ hi"))
        ).cast("long").alias("hamming"),
    )
    # two-phase top-k (the ta_bm25 salting trick): a window partitioned
    # only by query_id would move every scored corpus row for a query
    # to ONE task; phase 1 ranks per (query, neighbor_id % 32) salt and
    # phase 2 ranks the <= 32*k survivors — the global top-k is a
    # subset of the per-salt winners, so the decomposition is exact
    w1 = Window.partitionBy("query_id", "salt").orderBy(
        "hamming", "neighbor_id"
    )
    w2 = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    topk = (
        scored.withColumn("salt", F.col("neighbor_id") % 32)
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= BQ_TOP_K)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= BQ_TOP_K)
    )
    qv = emb.selectExpr("vec_id AS query_id", "v AS qv", "norm AS qnorm")
    nv = emb.selectExpr("vec_id AS neighbor_id", "v AS nv", "norm AS nn")
    cos = F.expr(
        "aggregate(zip_with(qv, nv, (x, y) -> x * y), 0.0d,"
        " (acc, x) -> acc + x)"
    ) / (F.col("qnorm") * F.col("nn"))
    return (
        topk.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            F.col("rank").cast("long").alias("rank"),
            F.round(cos, 4).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# curate_split_assign: deterministic train/val/test assignment (80/10/10
# by md5 hash bucket of doc_id — the reproducible-split rule: no RNG,
# re-runnable on any engine) PLUS the leakage audit every release
# needs: documents with byte-identical text landing in DIFFERENT
# splits are leaked (a val/test answer sitting in train). Reported per
# split: size, share, and how many of its docs belong to a text-hash
# group that spans another split.
# ---------------------------------------------------------------------------
SPLIT_BUCKETS = 10  # hash buckets: 0-7 train, 8 val, 9 test

_DUCK_SPLIT_HASH = (
    "(CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))"
    f" AS UBIGINT) AS BIGINT) % {SPLIT_BUCKETS})"
)

CURATE_SPLIT_ORACLE = f"""
    WITH assigned AS (
      SELECT doc_id, md5(text) AS th,
             CASE WHEN {_DUCK_SPLIT_HASH} < 8 THEN 'train'
                  WHEN {_DUCK_SPLIT_HASH} = 8 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ), groups AS (
      SELECT th, count(DISTINCT split) AS n_splits FROM assigned GROUP BY th
    )
    SELECT a.split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST((count(*) * 1000000)
                // (SELECT count(*) FROM documents) AS BIGINT) AS share_ppm,
           CAST(sum(CASE WHEN g.n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_leaked
    FROM assigned a JOIN groups g ON a.th = g.th
    GROUP BY a.split
"""


@query("curate_split_assign", oracle=CURATE_SPLIT_ORACLE)
def curate_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split with a cross-split exact-text
    leakage audit (see section comment). One grouped pass over the
    text hash builds the span census; the grand total is a broadcast
    1-row aggregate (the share-of-total idiom)."""
    from eeecs485_p4_mapreduce_spark.functions.text import hash32

    docs = load_table(spark, sf_dir, "documents")
    assigned = docs.selectExpr(
        "doc_id",
        "md5(text) AS th",
        f"CASE WHEN {hash32('cast(doc_id as string)')} % {SPLIT_BUCKETS} < 8"
        " THEN 'train'"
        f" WHEN {hash32('cast(doc_id as string)')} % {SPLIT_BUCKETS} = 8"
        " THEN 'val' ELSE 'test' END AS split",
    )
    groups = assigned.groupBy("th").agg(
        F.countDistinct("split").alias("n_splits")
    )
    total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        assigned.join(groups, "th")
        .crossJoin(F.broadcast(total))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("(count(1) * 1000000) div max(n_total)").alias(
                "share_ppm"
            ),
            F.sum(
                F.when(F.col("n_splits") > 1, 1).otherwise(0)
            ).alias("n_leaked"),
        )
    )
