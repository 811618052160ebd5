"""Registered queries of the r23 pipeline (each with ``@query``).

Same discipline as operators/staged_r9-r22: built, hash-checked against
DuckDB at sf0.001 and sf0.01, fixture-tested with independent references
(tests/test_staged_r23.py), plan-gate swept (incl. the CartesianProduct
gate), and x10/x100 replica-probed before registration. Same contract as
every registered query: identical aliases both sides, round()-ed or
integer-exact outputs, no nullable hash-bearing columns.

Surface:

- ``mm_parquet_datapage`` — the r11 verdict's prescribed extension of
  mm_parquet_footer's thrift walk into REAL columnar value reads: a
  pyarrow-written spool (uncompressed, REQUIRED fields, v1 pages,
  PLAIN int64 + RLE_DICTIONARY byte-array) is decoded back to rows
  straight from the bytes — full FileMetaData thrift, page headers,
  dictionary pages, and the RLE/bit-packed hybrid — by
  multimodal.decode_parquet_int64_string, with zero parquet-library
  involvement on the read side. The oracle is the table read natively
  (plus the closed-form row-group geometry the fixed writer settings
  pin), so the hash match IS the decoder-vs-native proof.
- ``dedup_unicode_canonical`` — canonical-key dedup for PRESENTATION
  variants of the same text: width-fold (fullwidth ASCII -> ASCII),
  casefold, a declared NFC subset (precomposed accent <-> combining
  mark pairs), and whitespace collapse, all JVM-side string ops.
  Variants are synthesized deterministically per doc (the corpus is
  ASCII; the adversarial-slice pattern of q89/dedup_url_canonical),
  then recovered by folding: every canonical group must reunite
  exactly the variants of one base doc.
- ``curate_bloom_contamination`` — shard-scale eval-contamination
  screen: a Bloom bitmap (1024 x 64-bit words, 4 md5-derived probes)
  is BUILT from the eval split's shingle fingerprints in one
  word-grain aggregate, packed to a single array row, and probed
  MAP-SIDE by the train split via a broadcast scalar join — no
  train-side shuffle keyed on shingles, the q74 scalar-subquery
  discipline paired with curate_contamination's task. False positives
  are deterministic (same hashes both sides), so the DuckDB oracle
  reproduces the bitmap bit-for-bit.
- ``dedup_cdc_chunking`` — content-defined chunk dedup (FastCDC
  family): boundaries from token-hash residues, so shifted repeats
  re-synchronize; row-local aggregate() fold, one fingerprint-grain
  shuffle.
- ``mm_deflate_fixed_huffman`` / ``mm_deflate_dynamic_huffman`` —
  hand-rolled RFC 1950/1951 inflate (canonical fixed tables; full
  3.2.7 dynamic path with the code-length code), closed-form
  payloads so the oracle proves byte-exact decode via length,
  Adler-32, and an md5 fingerprint.
- ``mm_gzip_inflate`` — RFC 1952 members over the shared raw-deflate
  core: FNAME/FEXTRA/FCOMMENT/FHCRC rotation, table-driven CRC-32,
  multi-member concatenation.
- ``ta_kwic_concordance`` — keyword-in-context windows for the
  corpus's top long tokens; hit positions via an index-aware
  transform/filter lambda (hits-only Generate, zero fact shuffle).
- ``q128_survival_km`` — Kaplan-Meier product-limit over order
  fulfillment durations; day-grain reduction bounds the risk-set
  window input at any corpus size.
- ``curate_doremi_step`` — DoReMi-style domain-mixture reweighting
  in exact fixed-scale integer arithmetic (Spark div == DuckDB //).
- ``skew_twophase_topn`` — salted two-phase per-key top-N for tiny
  key domains with corpus-sized groups; oracle is the plain window.
- ``curate_coreset_kcenter`` — greedy farthest-first (Gonzalez)
  coreset over embeddings; per-round broadcast centers + global
  TakeOrdered, CTE-unrolled oracle.
- ``q129_kcore_peel`` — fixed-round k-core peeling on the observed
  part–supplier bipartite graph at a data-derived threshold
  (floor(|E|/|N|)); integer-coded nodes, CTE-unrolled oracle.
- ``q130_bootstrap_ci`` — hash-seeded Poisson-bootstrap confidence
  intervals (the production A/B-system uncertainty pattern): all
  replicas fold map-side in one pass, hash cost amortized 8x via
  16-bit md5 slices, every column exact integer.

Pre-flip verification record (r12): all 14 queries re-verified under
``SPARK_VANILLA=1``-equivalent conditions — a bare SparkSession with
none of the session factory's confs — at sf0.01 with full
column/row/value-hash compare against the DuckDB oracles: 14/14
PASS, 0 errors (12 re-run at HEAD after the second review pass;
q129_kcore_peel and q130_bootstrap_ci verified the same way on
addition). Review hardening this round: window counting moved
to distinct-per-doc grain (bloom screen), the CDC fold carries an
explicit open-chunk token count so empty tokens survive, and both
fixes are pinned by a crafted-corpus hash test
(tests/test_staged_r23.py::test_bloom_and_cdc_adversarial_grain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from eeecs485_p4_mapreduce_spark.catalog import load_table, pin_disk
from eeecs485_p4_mapreduce_spark.functions.text import hash32
from eeecs485_p4_mapreduce_spark.registry import query

_DUCK_TOKS = "string_split_regex(lower(text), '[ \t]')"


def _py_toks(text: str) -> list:
    """Python mirror of _DUCK_TOKS for the mm_* fixture builders —
    ONE definition so an engine/oracle token-contract change can't
    silently diverge in a single mapInPandas body."""
    toks: list = []
    for t in text.lower().split(" "):
        toks.extend(t.split("\t"))
    return toks

# ---------------------------------------------------------------------------
# mm_parquet_datapage. Spool geometry is pinned by the writer call
# (row_group_size=PQ_RG_ROWS, data_page_size small enough to split
# chunks into multiple pages, compression NONE, dictionary only on
# the string column, REQUIRED fields), so the oracle can recompute
# row-group geometry closed-form: shard = doc_id % n_files, rank
# within shard -> rg_ordinal = rank div PQ_RG_ROWS. n_files scales
# with the corpus (one file per PQ_FILE_ROWS docs) so decode
# parallelism grows with data — the per-file Python decode is the
# bounded unit of work, never the corpus.
# ---------------------------------------------------------------------------
PQ_RG_ROWS = 200
PQ_FILE_ROWS = 2000

MM_DATAPAGE_ORACLE = f"""
    WITH n AS (
      SELECT greatest(4, CAST(count(*) AS BIGINT) // {PQ_FILE_ROWS})
             AS n_files
      FROM documents
    ), shards AS (
      SELECT doc_id, source, doc_id % n.n_files AS shard,
             row_number() OVER (PARTITION BY doc_id % n.n_files
                                ORDER BY doc_id) - 1 AS rn
      FROM documents, n
    )
    SELECT doc_id, source,
           CAST(rn // {PQ_RG_ROWS} AS BIGINT) AS rg_ordinal,
           CAST(count(*) OVER (PARTITION BY shard, rn // {PQ_RG_ROWS})
                AS BIGINT) AS rg_rows
    FROM shards
"""


def _pq_datapage_spool(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per layout) the sharded pyarrow spool the decoder
    reads. The writer is pyarrow on purpose: it is the FIXTURE side,
    pinned to the exact physical layout the strict decoder supports
    (REQUIRED fields -> no definition levels, uncompressed v1 pages,
    dictionary only where declared); the engine side is the
    byte-level decode."""
    from pathlib import Path

    from eeecs485_p4_mapreduce_spark.catalog import table_path
    from eeecs485_p4_mapreduce_spark.streaming.queries import (
        cached_layout,
    )

    def build(sp: SparkSession, d: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_table(
            table_path(sf_dir, "documents"), columns=["doc_id", "source"]
        )
        n_files = max(4, t.num_rows // PQ_FILE_ROWS)
        shard = pa.array(t.column("doc_id").to_numpy() % n_files)
        schema = pa.schema(
            [
                pa.field("doc_id", pa.int64(), nullable=False),
                pa.field("source", pa.string(), nullable=False),
            ]
        )
        for s in range(n_files):
            part = t.filter(pa.compute.equal(shard, s)).sort_by("doc_id")
            part = part.cast(schema)
            pq.write_table(
                part,
                str(Path(d) / f"shard-{s:05d}.parquet"),
                compression="NONE",
                use_dictionary=["source"],
                data_page_version="1.0",
                row_group_size=PQ_RG_ROWS,
                data_page_size=512,
            )

    return cached_layout(spark, sf_dir, "pq_datapage", build)


@query("mm_parquet_datapage", oracle=MM_DATAPAGE_ORACLE)
def mm_parquet_datapage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode every (doc_id, source) row back out of real parquet
    bytes — thrift FileMetaData, v1 page headers, PLAIN int64 pages,
    dictionary pages + RLE/bit-packed hybrid indices — with no parquet
    reader library (multimodal.decode_parquet_int64_string; see the
    module section comment there). The hash match against the
    natively-read table is the decoder proof; rg_ordinal/rg_rows pin
    that the row-group STRUCTURE was read correctly, not just the
    values. Per-file decode via Arrow mapInPandas over a binaryFile
    scan; file count scales with the corpus (PQ_FILE_ROWS docs per
    shard), so the Python work unit is bounded and the fan-out grows
    with data."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_parquet_int64_string,
    )

    spool = _pq_datapage_spool(spark, sf_dir)
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("source", StringType(), False),
            StructField("rg_ordinal", LongType(), False),
            StructField("rg_rows", LongType(), False),
        ]
    )
    files = (
        spark.read.format("binaryFile")
        .load(spool + "/shard-*.parquet")
        .select("path", "content")
    )
    width = spark.sparkContext.defaultParallelism

    def run(batches):
        import pandas as pd

        for pdf in batches:
            for blob in pdf["content"]:
                rows = decode_parquet_int64_string(
                    bytes(blob), "doc_id", "source"
                )
                yield pd.DataFrame(
                    {
                        "doc_id": [r["doc_id"] for r in rows],
                        "source": [r["source"] for r in rows],
                        "rg_ordinal": [
                            int(r["rg_ordinal"]) for r in rows
                        ],
                        "rg_rows": [int(r["rg_rows"]) for r in rows],
                    }
                )

    return files.repartition(width, "path").mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# curate_bloom_contamination. The Bloom sibling of curate_contamination:
# that operator broadcasts the eval set's EXACT distinct-shingle set,
# which grows with the eval corpus; this one compresses it to a
# constant-size bitmap (BLOOM_WORDS x 32 bits) so the broadcast is 8 KB
# no matter how large the benchmark suite gets — the shard-scale shape.
# k = 4 probe positions come from disjoint 4-hex-char slices of
# md5(shingle): each is exactly 16 bits, spanning the 65536-bit filter
# with no modulo bias. Words are 32-bit (not 64) because DuckDB's
# BIGINT << 63 overflows — the oracle must state the identical bitmap.
# False positives are deterministic (same md5 slices both sides), so
# the oracle reproduces every hit bit-for-bit, FPs included.
# ---------------------------------------------------------------------------
BLOOM_W = 5  # shingle width (tokens)
BLOOM_WORDS = 2048  # 2048 x 32 bits = 65536-bit filter
BLOOM_K = 4  # probe positions (md5 hex slices)
BLOOM_EVAL_MOD = 97  # doc_id % 97 == 0 -> eval split

_BLOOM_H_SPARK = [
    f"cast(conv(substring(md5(win), {1 + 4 * i}, 4), 16, 10) as bigint)"
    for i in range(BLOOM_K)
]
_BLOOM_H_DUCK = [
    f"CAST(CAST(concat('0x', substr(md5(win), {1 + 4 * i}, 4))"
    " AS UBIGINT) AS BIGINT)"
    for i in range(BLOOM_K)
]

CURATE_BLOOM_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ), wins AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) >= {BLOOM_W} THEN
               list_transform(range(1, len(toks) - {BLOOM_W} + 2),
                 i -> list_aggregate(toks[i:i+{BLOOM_W}-1], 'string_agg', ' '))
             ELSE [] END) AS win
      FROM sh
    ), eval_probes AS (
      SELECT h.h AS h
      FROM (SELECT win FROM wins WHERE doc_id % {BLOOM_EVAL_MOD} = 0),
           LATERAL (SELECT unnest([{", ".join(_BLOOM_H_DUCK)}]) AS h) h
    ), bloom AS (
      SELECT h // 32 AS word,
             CAST(bit_or(CAST(1 AS BIGINT) << CAST(h % 32 AS INT))
                  AS BIGINT) AS bits
      FROM eval_probes GROUP BY 1
    ), train_probes AS (
      SELECT doc_id, win, h.i AS i, h.h AS h
      FROM (SELECT doc_id, win FROM wins
            WHERE doc_id % {BLOOM_EVAL_MOD} <> 0),
           LATERAL (SELECT unnest(range({BLOOM_K})) AS i,
                           unnest([{", ".join(_BLOOM_H_DUCK)}]) AS h) h
    ), win_hits AS (
      SELECT doc_id, win,
             CAST(bool_and(
               (coalesce(b.bits, 0) >> CAST(h % 32 AS INT)) & 1 = 1
             ) AS INT) AS hit
      FROM train_probes LEFT JOIN bloom b ON b.word = h // 32
      GROUP BY doc_id, win
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(hit) AS BIGINT) AS n_hits,
           CAST(sum(hit) * 1000000 // count(*) AS BIGINT) AS hit_ppm
    FROM win_hits
    GROUP BY doc_id
    HAVING sum(hit) > 0
"""


@query("curate_bloom_contamination", oracle=CURATE_BLOOM_ORACLE)
def curate_bloom_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Train-split docs whose {BLOOM_W}-token sliding windows hit a
    Bloom bitmap built from the eval split's windows (see section
    comment). Build side: one word-grain aggregate over the eval
    split's probe positions, packed to a single map row. Probe side:
    NO shuffle keyed on shingles — the bitmap broadcasts as one row
    (the q74 scalar discipline) and every window tests its {BLOOM_K}
    bits row-locally; the only train-side shuffle is the final
    doc-grain count aggregate. Unlike curate_contamination's exact
    broadcast set, the broadcast here is constant-size at any eval
    corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toks = "split(lower(text), '[ \t]')"
    # array_distinct: a window repeated INSIDE one doc is one shingle
    # (matches the oracle's GROUP BY doc_id, win grain — and the
    # screen's semantics: contamination is about which windows a doc
    # shares with eval, not how often it repeats them internally).
    wins = docs.selectExpr(
        "doc_id",
        f"""explode(array_distinct(
          transform(array({toks}), __t ->
            CASE WHEN size(__t) >= {BLOOM_W} THEN
              transform(sequence(1, size(__t) - {BLOOM_W} + 1),
                i -> concat_ws(' ', slice(__t, i, {BLOOM_W})))
            ELSE array() END)[0]
        )) AS win""",
    )
    probes = ", ".join(_BLOOM_H_SPARK)
    bloom = (
        wins.filter(F.col("doc_id") % BLOOM_EVAL_MOD == 0)
        .selectExpr(f"explode(array({probes})) AS h")
        .selectExpr(
            "cast(h div 32 as bigint) AS word",
            "shiftleft(cast(1 as bigint), cast(h % 32 as int)) AS mask",
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
        .agg(
            F.map_from_entries(
                F.sort_array(
                    F.collect_list(F.struct("word", "bits"))
                )
            ).alias("bloom")
        )
        .localCheckpoint(eager=False)
    )
    hit_terms = " AND ".join(
        f"((coalesce(element_at(bloom, cast(({h}) div 32 as bigint)), 0L)"
        f" >> cast(({h}) % 32 as int)) & 1) = 1"
        for h in _BLOOM_H_SPARK
    )
    return (
        wins.filter(F.col("doc_id") % BLOOM_EVAL_MOD != 0)
        .crossJoin(F.broadcast(bloom))
        .selectExpr(
            "doc_id", f"cast(({hit_terms}) as int) AS hit"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("hit").alias("n_hits"),
        )
        .filter(F.col("n_hits") > 0)
        .selectExpr(
            "doc_id",
            "n_shingles",
            "n_hits",
            "CAST(n_hits * 1000000L div n_shingles AS BIGINT) AS hit_ppm",
        )
    )


# ---------------------------------------------------------------------------
# dedup_unicode_canonical. The multilingual sibling of
# dedup_url_canonical (same adversarial-variant pattern): the SAME
# snippet circulates as width variants (fullwidth ASCII), case
# variants, NFC variants (precomposed vs combining accents), and
# spacing variants — the presentation noise a crawl of CJK-adjacent
# or copy-pasted text carries. Canonical key = width-fold ->
# casefold -> NFC-subset fold -> whitespace collapse, all JVM string
# builtins (translate / lower / replace / regexp_replace), no UDF;
# the only shuffle is the final groupBy on the canonical string.
# Full NFC needs ICU's composition tables; the DECLARED subset here
# (five precomposed-vs-combining vowel pairs) is the discipline in
# miniature — and the variants prove the fold reunites true
# equivalents WITHOUT conflating accented with unaccented text
# (groups of 4 docs must yield exactly 2 canonical groups of 2).
# Each fold stage is mirrored verbatim in the oracle.
# ---------------------------------------------------------------------------
_FW_UPPER = "".join(chr(0xFF21 + i) for i in range(26))
_FW_LOWER = "".join(chr(0xFF41 + i) for i in range(26))
_FW_DIGIT = "".join(chr(0xFF10 + i) for i in range(10))
_ASC_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASC_LOWER = "abcdefghijklmnopqrstuvwxyz"
_ASC_DIGIT = "0123456789"
_IDEO_SP = "　"
_WIDTH_FROM = _FW_UPPER + _FW_LOWER + _FW_DIGIT + _IDEO_SP
_WIDTH_TO = _ASC_UPPER + _ASC_LOWER + _ASC_DIGIT + " "
_COMBINING = "́"  # combining acute
_NFC_PAIRS = [(v + _COMBINING, p) for v, p in zip("aeiou", "áéíóú")]

# Base snippet keyed by doc_id div 4 (the url-canonical pattern:
# group members share a base built from arithmetic everyone can
# recompute; the group id inside the string makes each base unique,
# and every base carries vowels so the NFC variants really differ).
_UC_SNIPPET = (
    "concat('data quality gate shard ', cast(doc_id div 4 as string),"
    " ' review alpha beta')"
)
_UC_SNIPPET_DUCK = (
    "'data quality gate shard ' || (doc_id // 4) || ' review alpha beta'"
)


def _uc_variant_spark() -> str:
    fw = f"translate(upper(__s), '{_ASC_UPPER} ', '{_FW_UPPER}{_IDEO_SP}')"
    pre = "__s"
    comb = "__s"
    for (c, p) in _NFC_PAIRS:
        pre = f"replace({pre}, '{c[0]}', '{p}')"
        comb = f"replace({comb}, '{c[0]}', '{c}')"
    dbl = f"replace({comb}, ' ', '  ')"
    return (
        f"transform(array({_UC_SNIPPET}), __s -> CASE doc_id % 4"
        f" WHEN 0 THEN __s"
        f" WHEN 1 THEN {fw}"
        f" WHEN 2 THEN {pre}"
        f" ELSE {dbl} END)[0]"
    )


def _uc_variant_duck() -> str:
    fw = (
        f"translate(upper(snip), '{_ASC_UPPER} ',"
        f" '{_FW_UPPER}{_IDEO_SP}')"
    )
    pre = "snip"
    comb = "snip"
    for (c, p) in _NFC_PAIRS:
        pre = f"replace({pre}, '{c[0]}', '{p}')"
        comb = f"replace({comb}, '{c[0]}', '{c}')"
    dbl = f"replace({comb}, ' ', '  ')"
    return (
        f"CASE doc_id % 4 WHEN 0 THEN snip WHEN 1 THEN {fw}"
        f" WHEN 2 THEN {pre} ELSE {dbl} END"
    )


def _uc_fold(col: str, duck: bool = False) -> str:
    """The canonicalizer, same fragment for Spark SQL and DuckDB up to
    one dialect split: width-fold -> casefold -> NFC-subset ->
    whitespace collapse (DuckDB regexp_replace is first-match-only
    without the 'g' flag; Spark's is always global)."""
    s = f"translate({col}, '{_WIDTH_FROM}', '{_WIDTH_TO}')"
    s = f"lower({s})"
    for (c, p) in _NFC_PAIRS:
        s = f"replace({s}, '{c}', '{p}')"
    flag = ", 'g'" if duck else ""
    return f"trim(regexp_replace({s}, ' +', ' '{flag}))"


DEDUP_UNICODE_ORACLE = f"""
    WITH snips AS (
      SELECT doc_id, {_UC_SNIPPET_DUCK} AS snip FROM documents
    ), variants AS (
      SELECT doc_id, {_uc_variant_duck()} AS v FROM snips
    ), canon AS (
      SELECT doc_id, {_uc_fold("v", duck=True)} AS canonical FROM variants
    )
    SELECT canonical,
           CAST(count(*) AS BIGINT) AS n_variants,
           CAST(count(DISTINCT doc_id % 4) AS BIGINT) AS n_forms,
           CAST(min(doc_id) AS BIGINT) AS survivor_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM canon GROUP BY canonical
"""


@query("dedup_unicode_canonical", oracle=DEDUP_UNICODE_ORACLE)
def dedup_unicode_canonical(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Collapse width/case/NFC/spacing presentation variants to
    canonical text groups (see section comment). All folds are
    JVM-side string builtins; one shuffle, on the canonical key."""
    docs = load_table(spark, sf_dir, "documents")
    variants = docs.selectExpr(
        "doc_id", f"{_uc_variant_spark()} AS v"
    )
    return (
        variants.selectExpr("doc_id", f"{_uc_fold('v')} AS canonical")
        .groupBy("canonical")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.countDistinct(F.expr("doc_id % 4")).alias("n_forms"),
            F.min("doc_id").alias("survivor_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_cdc_chunking. Content-defined chunking (the FastCDC/rolling-
# hash family used by backup dedup and corpus-scale near-dup passes):
# a token ends a chunk when its 32-bit md5 hash satisfies
# h % CDC_MOD == 0, so chunk boundaries depend on CONTENT, not
# position — a passage repeated at a different offset re-synchronizes
# to identical chunks after the first boundary inside it. That is the
# middle point of the repo's chunking triangle: dedup_chunk_shared's
# aligned fixed blocks miss shifted repeats entirely,
# dedup_exact_substring's sliding windows catch any offset at O(n)
# fingerprints per doc, CDC catches shifted repeats at ~n/CDC_MOD
# fingerprints. The chunk assembly is ROW-LOCAL (one aggregate() fold
# over the token array — no per-token shuffle, no window); the only
# shuffle is the fingerprint-grain group. The oracle states the same
# chunks positionally (prefix-count of boundary tokens via a window)
# — two independent constructions of one definition.
# ---------------------------------------------------------------------------
CDC_MOD = 8  # expected chunk length in tokens
CDC_MIN_TOKENS = 3  # ignore trivial chunks

_CDC_H32_SPARK = hash32("__t")
_CDC_H32_DUCK = (
    "CAST(CAST(concat('0x', substr(md5(tok), 1, 8)) AS UBIGINT)"
    " AS BIGINT)"
)

DEDUP_CDC_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, ts[p.pos] AS tok, p.pos AS pos
      FROM (SELECT doc_id, {_DUCK_TOKS} AS ts FROM documents),
           LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS pos) p
    ), flagged AS (
      SELECT doc_id, tok, pos,
             CASE WHEN {_CDC_H32_DUCK} % {CDC_MOD} = 0 THEN 1 ELSE 0 END
               AS is_bp
      FROM toks
    ), assigned AS (
      SELECT doc_id, tok, pos,
             sum(is_bp) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS cid
      FROM flagged
    ), chunks AS (
      SELECT doc_id, coalesce(cid, 0) AS cid,
             string_agg(tok, ' ' ORDER BY pos) AS chunk,
             CAST(count(*) AS BIGINT) AS tok_len
      FROM assigned GROUP BY doc_id, coalesce(cid, 0)
    ), fps AS (
      SELECT doc_id, tok_len,
             CAST(CAST(concat('0x', substr(md5(chunk), 1, 12))
                  AS UBIGINT) AS BIGINT) AS fp
      FROM chunks WHERE tok_len >= {CDC_MIN_TOKENS}
    )
    SELECT fp,
           CAST(min(tok_len) AS BIGINT) AS tok_len,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM fps
    GROUP BY fp
    HAVING count(DISTINCT doc_id) > 1
"""


@query("dedup_cdc_chunking", oracle=DEDUP_CDC_ORACLE)
def dedup_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document shared chunks under content-defined boundaries
    (see section comment). Chunks assemble row-locally via one
    aggregate() fold over the token array; fingerprints are 48-bit
    md5 prefixes (the repo's standing fingerprint-before-shuffle
    rule), and the single shuffle is the fingerprint-grain group."""
    docs = load_table(spark, sf_dir, "documents")
    toks = "split(lower(text), '[ \t]')"
    # Row-local fold: accumulate (finished chunks, current chunk) over
    # the token array; a boundary token CLOSES its chunk (inclusive).
    # The open-chunk state carries an explicit token count `n` — the
    # string `cur` alone can't double as the emptiness sentinel
    # because '' is itself a legal token (consecutive delimiters), and
    # the oracle's positional string_agg keeps such tokens.
    fold = f"""
      aggregate(
        {toks},
        named_struct('done', cast(array() as array<string>),
                     'cur', '', 'n', 0),
        (acc, __t) -> IF(
          ({_CDC_H32_SPARK}) % {CDC_MOD} = 0,
          named_struct(
            'done', array_append(acc.done,
                      IF(acc.n = 0, __t, concat(acc.cur, ' ', __t))),
            'cur', '', 'n', 0),
          named_struct(
            'done', acc.done,
            'cur', IF(acc.n = 0, __t, concat(acc.cur, ' ', __t)),
            'n', acc.n + 1)),
        acc -> IF(acc.n = 0, acc.done, array_append(acc.done, acc.cur))
      )
    """
    chunks = docs.selectExpr(
        "doc_id", f"explode({fold}) AS chunk"
    ).selectExpr(
        "doc_id",
        "size(split(chunk, ' ')) AS tok_len",
        "cast(conv(substring(md5(chunk), 1, 12), 16, 10) as bigint) AS fp",
    )
    return (
        chunks.filter(F.col("tok_len") >= CDC_MIN_TOKENS)
        .groupBy("fp")
        .agg(
            F.min("tok_len").alias("tok_len"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# mm_deflate_fixed_huffman. Fixture side: Python zlib COMPRESSES a
# closed-form payload (first {DEFLATE_TOKS} tokens of the doc, doubled
# with a ' | ' seam so LZ77 back-references actually occur), strategy
# Z_FIXED on even docs (forces fixed-Huffman blocks, never dynamic)
# and level 0 on odd docs (stored blocks) — both RFC 1951 paths the
# hand decoder supports. Engine side: multimodal.inflate_zlib decodes
# bit-by-bit and the query emits only what the ORACLE can recompute
# closed-form from the documents table: payload length, the Adler-32
# of the payload (position-weighted byte sums mod 65521 — ASCII, so
# DuckDB's ascii() per char IS the byte), and a 48-bit md5 of the
# decoded text. Compressed-size/block-count stats are encoder-version
# facts, not spec facts — asserted in pytest, excluded from the hash.
# ---------------------------------------------------------------------------
DEFLATE_TOKS = 20

MM_DEFLATE_ORACLE = f"""
    WITH pay AS (
      SELECT doc_id,
             array_to_string({_DUCK_TOKS}[1:{DEFLATE_TOKS}], ' ')
               || ' | ' ||
             array_to_string({_DUCK_TOKS}[1:{DEFLATE_TOKS}], ' ') AS p
      FROM documents
    ), by_char AS MATERIALIZED (
      SELECT doc_id, p, length(p) AS n,
             ascii(p[c.i]) AS b, c.i AS i
      FROM pay, LATERAL (SELECT unnest(range(1, length(p) + 1)) AS i) c
    ), adler AS (
      SELECT doc_id,
             (1 + sum(b)) % 65521 AS s1,
             (n + sum((n - i + 1) * b)) % 65521 AS s2
      FROM by_char GROUP BY doc_id, n
    )
    SELECT pay.doc_id AS media_id,
           CAST(length(p) AS BIGINT) AS raw_bytes,
           CAST(s2 * 65536 + s1 AS BIGINT) AS adler32,
           CAST(CAST(concat('0x', substr(md5(p), 1, 12)) AS UBIGINT)
                AS BIGINT) AS payload_fp
    FROM pay JOIN adler ON pay.doc_id = adler.doc_id
"""


@query("mm_deflate_fixed_huffman", oracle=MM_DEFLATE_ORACLE)
def mm_deflate_fixed_huffman(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Compress each doc's closed-form payload with zlib (fixed-
    Huffman or stored blocks, alternating) and hand-decode the stream
    back — canonical code table, LZ77 back-references, Adler-32
    verify (see section comment and multimodal.inflate_zlib). Output
    is entirely recomputable by the oracle from the documents table,
    so the hash match proves the decoder reproduced the exact bytes.
    Zero-shuffle Arrow mapInPandas over (doc_id, text)."""
    import hashlib
    import zlib as _zlib

    from pyspark.sql.types import LongType, StructField, StructType

    from eeecs485_p4_mapreduce_spark.catalog import spread_small_source
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        inflate_zlib,
    )

    docs = spread_small_source(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("raw_bytes", LongType(), False),
            StructField("adler32", LongType(), False),
            StructField("payload_fp", LongType(), False),
        ]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {k.name: [] for k in schema.fields}
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                toks = _py_toks(text)
                s = " ".join(toks[:DEFLATE_TOKS])
                try:
                    payload = f"{s} | {s}".encode("ascii")
                except UnicodeEncodeError as exc:
                    raise ValueError(
                        f"doc {d}: non-ASCII text breaks the oracle's"
                        " char/byte identity"
                    ) from exc
                if d % 2 == 0:
                    co = _zlib.compressobj(
                        6, _zlib.DEFLATED, 15, 9, _zlib.Z_FIXED
                    )
                else:
                    co = _zlib.compressobj(0, _zlib.DEFLATED, 15)
                blob = co.compress(payload) + co.flush()
                dec, info = inflate_zlib(blob)
                if dec != payload:
                    raise ValueError(f"doc {d}: decode != payload")
                if info["comp_bytes"] != len(blob):
                    raise ValueError(f"doc {d}: trailing bytes")
                if d % 2 == 0 and info["n_stored"]:
                    raise ValueError(f"doc {d}: Z_FIXED emitted stored")
                if d % 2 == 1 and info["n_fixed"]:
                    raise ValueError(f"doc {d}: level 0 emitted huffman")
                out["media_id"].append(int(d))
                out["raw_bytes"].append(len(dec))
                out["adler32"].append(info["adler32"])
                out["payload_fp"].append(
                    int(
                        hashlib.md5(dec).hexdigest()[:12], 16
                    )
                )
            yield pd.DataFrame(out)

    return docs.mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# mm_deflate_dynamic_huffman. The dynamic-Huffman sibling of
# mm_deflate_fixed_huffman — the fixture compresses a LONGER
# closed-form payload (first {DEFLATE_DYN_TOKS} tokens, seamed with
# their uppercase twin so the literal alphabet is wide enough that
# zlib level 9's default strategy elects BTYPE=10 on essentially
# every doc) and multimodal.inflate_zlib now decodes the full RFC
# 1951 3.2.7 path: HLIT/HDIST/HCLEN header, the 19-symbol
# code-length code with repeat symbols 16/17/18, per-block canonical
# tables. Same oracle discipline: only closed-form-recomputable
# columns (payload length, Adler-32, md5 fingerprint) are hashed;
# which block types zlib elected is an encoder fact, asserted in
# pytest at corpus grain, never hashed.
# ---------------------------------------------------------------------------
DEFLATE_DYN_TOKS = 40

MM_DEFLATE_DYN_ORACLE = f"""
    WITH pay AS (
      SELECT doc_id,
             array_to_string({_DUCK_TOKS}[1:{DEFLATE_DYN_TOKS}], ' ')
               || ' # ' ||
             upper(array_to_string({_DUCK_TOKS}[1:{DEFLATE_DYN_TOKS}],
                                   ' ')) AS p
      FROM documents
    ), by_char AS MATERIALIZED (
      SELECT doc_id, p, length(p) AS n,
             ascii(p[c.i]) AS b, c.i AS i
      FROM pay, LATERAL (SELECT unnest(range(1, length(p) + 1)) AS i) c
    ), adler AS (
      SELECT doc_id,
             (1 + sum(b)) % 65521 AS s1,
             (n + sum((n - i + 1) * b)) % 65521 AS s2
      FROM by_char GROUP BY doc_id, n
    )
    SELECT pay.doc_id AS media_id,
           CAST(length(p) AS BIGINT) AS raw_bytes,
           CAST(s2 * 65536 + s1 AS BIGINT) AS adler32,
           CAST(CAST(concat('0x', substr(md5(p), 1, 12)) AS UBIGINT)
                AS BIGINT) AS payload_fp
    FROM pay JOIN adler ON pay.doc_id = adler.doc_id
"""


@query("mm_deflate_dynamic_huffman", oracle=MM_DEFLATE_DYN_ORACLE)
def mm_deflate_dynamic_huffman(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Compress each doc's closed-form payload with zlib level 9
    (default strategy — dynamic-Huffman blocks on essentially every
    doc) and hand-decode the stream back through the full RFC 1951
    path, code-length code and all (multimodal._dynamic_tables).
    Output is entirely recomputable by the oracle from the documents
    table, so the hash match proves the dynamic decoder reproduced
    the exact bytes. Zero-shuffle Arrow mapInPandas."""
    import hashlib
    import zlib as _zlib

    from pyspark.sql.types import LongType, StructField, StructType

    from eeecs485_p4_mapreduce_spark.catalog import spread_small_source
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        inflate_zlib,
    )

    docs = spread_small_source(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("raw_bytes", LongType(), False),
            StructField("adler32", LongType(), False),
            StructField("payload_fp", LongType(), False),
        ]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {k.name: [] for k in schema.fields}
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                toks = _py_toks(text)
                s = " ".join(toks[:DEFLATE_DYN_TOKS])
                try:
                    payload = f"{s} # {s.upper()}".encode("ascii")
                except UnicodeEncodeError as exc:
                    raise ValueError(
                        f"doc {d}: non-ASCII text breaks the oracle's"
                        " char/byte identity"
                    ) from exc
                blob = _zlib.compress(payload, 9)
                dec, info = inflate_zlib(blob)
                if dec != payload:
                    raise ValueError(f"doc {d}: decode != payload")
                if info["comp_bytes"] != len(blob):
                    raise ValueError(f"doc {d}: trailing bytes")
                out["media_id"].append(int(d))
                out["raw_bytes"].append(len(dec))
                out["adler32"].append(info["adler32"])
                out["payload_fp"].append(
                    int(hashlib.md5(dec).hexdigest()[:12], 16)
                )
            yield pd.DataFrame(out)

    return docs.mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# ta_kwic_concordance. Keyword-in-context extraction (the concordance
# view corpus auditors use to eyeball how a term is used before
# filtering on it): the dictionary is derived from the corpus itself
# (top-KWIC_TOP_TERMS tokens of length >= KWIC_MIN_LEN, ties broken
# by token), shipped as ONE broadcast array scalar, and each doc
# finds its hit positions with an index-aware transform/filter lambda
# — the Generate yields only hit rows, so there is no per-token
# array amplification and the fact side never shuffles. Context
# windows are +-KWIC_CTX tokens sliced in the same projection.
# ---------------------------------------------------------------------------
KWIC_MIN_LEN = 7
KWIC_TOP_TERMS = 3
KWIC_CTX = 3

TA_KWIC_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
    ), flat AS (
      SELECT doc_id, t, len(t) AS n, c.i AS i, t[c.i] AS token
      FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) c
    ), terms AS (
      SELECT token AS term FROM flat
      WHERE length(token) >= {KWIC_MIN_LEN}
      GROUP BY token
      ORDER BY count(*) DESC, token ASC
      LIMIT {KWIC_TOP_TERMS}
    )
    SELECT f.token AS term, f.doc_id AS doc_id,
           CAST(f.i AS BIGINT) AS pos,
           coalesce(array_to_string(
             f.t[greatest(1, f.i - {KWIC_CTX}):f.i - 1], ' '),
             '') AS left_ctx,
           coalesce(array_to_string(
             f.t[f.i + 1:least(f.n, f.i + {KWIC_CTX})], ' '),
             '') AS right_ctx
    FROM flat f JOIN terms ON f.token = terms.term
"""


@query("ta_kwic_concordance", oracle=TA_KWIC_ORACLE)
def ta_kwic_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concordance lines (term, 1-based position, +-3-token contexts)
    for the corpus's own top frequent long tokens. One token-count
    shuffle builds the dictionary; the extraction pass is a single
    scan with a broadcast scalar join — hit positions come from an
    index-aware filter lambda so only matches are generated."""
    from eeecs485_p4_mapreduce_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", tokens().alias("toks"))

    terms = (
        toks.select(F.explode("toks").alias("token"))
        .where(F.length("token") >= KWIC_MIN_LEN)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(KWIC_TOP_TERMS)
        .agg(F.collect_list("token").alias("terms"))
    )

    hits = (
        toks.join(F.broadcast(terms))
        .select(
            "doc_id",
            "toks",
            F.size("toks").alias("n"),
            F.explode(
                F.filter(
                    F.transform(
                        "toks",
                        lambda x, i: F.struct(
                            i.alias("i"), x.alias("x")
                        ),
                    ),
                    lambda s: F.array_contains(F.col("terms"), s["x"]),
                )
            ).alias("h"),
        )
        .select(
            "doc_id",
            "toks",
            "n",
            (F.col("h.i") + 1).cast("long").alias("pos"),
            F.col("h.x").alias("term"),
        )
    )
    left_start = F.greatest(F.lit(1), F.col("pos") - KWIC_CTX)
    right_end = F.least(F.col("n"), F.col("pos") + KWIC_CTX)
    return hits.select(
        "term",
        "doc_id",
        "pos",
        F.array_join(
            F.slice("toks", left_start, F.col("pos") - left_start), " "
        ).alias("left_ctx"),
        F.array_join(
            F.slice("toks", F.col("pos") + 1, right_end - F.col("pos")),
            " ",
        ).alias("right_ctx"),
    )


# ---------------------------------------------------------------------------
# q128_survival_km. Kaplan-Meier product-limit estimator — subjects
# are orders, duration = days from o_orderdate to the order's LAST
# l_shipdate, event = the order had a returned line (censored
# otherwise). Two key-colocated shuffles (lineitem rollup + orders
# join share the orderkey partitioning) reduce the corpus to ONE row
# per distinct duration day — bounded by the date domain, constant
# as the corpus grows — so the global ordered window that forms the
# risk set and the cumulative product runs over a fixed-size input
# at any scale. Survival is exp(sum(ln(factor))) with identical
# formula, operand order, and round(...,6)+0.0 on both sides; the
# everyone-dies terminal row (n_risk == d) is guarded to an exact 0
# rather than ln(0).
# ---------------------------------------------------------------------------
Q128_KM_ORACLE = """
    WITH per AS (
      SELECT date_diff('day', o.o_orderdate, max(l.l_shipdate)) AS dur,
             max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS ev
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    ), tot AS (
      SELECT count(*) AS n_total FROM per
    ), by_t AS (
      SELECT dur, count(*) AS at_t, sum(ev) AS d
      FROM per GROUP BY dur
    ), risk AS (
      SELECT dur, d,
             n_total - coalesce(sum(at_t) OVER (
               ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM by_t, tot
    ), km AS (
      SELECT dur, d, n_risk,
             max(CASE WHEN n_risk = d THEN 1 ELSE 0 END)
               OVER (ORDER BY dur) AS hit_zero,
             sum(ln(CASE WHEN n_risk = d THEN 1.0
                         ELSE CAST(n_risk - d AS DOUBLE) / n_risk END))
               OVER (ORDER BY dur) AS log_surv
      FROM risk
    )
    SELECT CAST(dur AS BIGINT) AS t,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_event,
           CASE WHEN hit_zero = 1 THEN 0.0
                ELSE round(exp(log_surv), 6) + 0.0 END AS survival
    FROM km WHERE d > 0
"""


@query("q128_survival_km", oracle=Q128_KM_ORACLE)
def q128_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier curve over order fulfillment durations (see the
    section comment for the risk-set algebra and why the global
    window input stays date-domain-bounded at any corpus size)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_returnflag"
    )
    per = (
        li.groupBy("l_orderkey")
        .agg(
            F.max("l_shipdate").alias("ship_last"),
            F.max(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("ev"),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.datediff("ship_last", "o_orderdate").alias("dur"), "ev"
        )
        # corpus-sized with two consumers (tot + by_t): DISK_ONLY
        # persist so the lineitem rollup + orders join runs once
        .transform(pin_disk)
    )
    tot = per.agg(F.count(F.lit(1)).alias("n_total"))
    by_t = per.groupBy("dur").agg(
        F.count(F.lit(1)).alias("at_t"), F.sum("ev").alias("d")
    )
    w_prev = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("dur")
    risk = by_t.crossJoin(F.broadcast(tot)).withColumn(
        "n_risk",
        F.col("n_total")
        - F.coalesce(F.sum("at_t").over(w_prev), F.lit(0)),
    )
    factor = F.when(F.col("n_risk") == F.col("d"), F.lit(1.0)).otherwise(
        (F.col("n_risk") - F.col("d")).cast("double") / F.col("n_risk")
    )
    km = risk.select(
        "dur",
        "d",
        "n_risk",
        F.max(F.when(F.col("n_risk") == F.col("d"), 1).otherwise(0))
        .over(w_cum)
        .alias("hit_zero"),
        F.sum(F.log(factor)).over(w_cum).alias("log_surv"),
    )
    return km.where(F.col("d") > 0).select(
        F.col("dur").cast("long").alias("t"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("n_event"),
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("log_surv"), 6) + F.lit(0.0))
        .alias("survival"),
    )


# ---------------------------------------------------------------------------
# curate_doremi_step. One DoReMi-style domain-mixture reweighting
# step (multiplicative-weights flavor, Xie et al.'s domain
# reweighting loop reduced to its per-round data-plane update): per
# domain, a deterministic excess-loss proxy (mean doc length vs the
# corpus mean, in centi-tokens, clipped) multiplies the domain's
# baseline token share, then weights renormalize and smooth toward
# uniform. EVERYTHING is integer arithmetic at fixed scales
# (centi-tokens, basis points, factor scale 1e5) with non-negative
# divisions only, so Spark `div` and DuckDB `//` agree bit-for-bit
# — no doubles anywhere in the hash. One corpus scan reduces to
# domain grain (map-side combine), localCheckpoint pins the tiny
# domain table, and both normalization scalars are 1-row broadcast
# joins.
# ---------------------------------------------------------------------------
DOREMI_CLIP_C = 2000  # excess-loss clip, centi-tokens (+-20 tokens)
DOREMI_ETA = 10  # factor units per centi-token of excess
DOREMI_SMOOTH_NUM, DOREMI_SMOOTH_DEN = 9, 10  # 0.1 toward uniform

CURATE_DOREMI_ORACLE = f"""
    WITH dom AS (
      SELECT source,
             count(*) AS n_docs,
             sum(len({_DUCK_TOKS})) AS n_tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT sum(n_docs) AS t_docs, sum(n_tokens) AS t_tokens,
             count(*) AS n_domains
      FROM dom
    ), step AS (
      SELECT source, n_docs, n_tokens,
             n_tokens * 100 // n_docs AS loss_c,
             greatest(-{DOREMI_CLIP_C}, least({DOREMI_CLIP_C},
               n_tokens * 100 // n_docs - t_tokens * 100 // t_docs))
               AS excess_c,
             n_tokens * 10000 // t_tokens AS base_bp,
             n_domains, t_tokens
      FROM dom, tot
    ), unnorm AS (
      SELECT *,
             base_bp * (100000 + {DOREMI_ETA} * excess_c) AS u
      FROM step
    ), norm AS (
      SELECT sum(u) AS sum_u FROM unnorm
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(loss_c AS BIGINT) AS loss_c,
           CAST(excess_c AS BIGINT) AS excess_c,
           CAST(base_bp AS BIGINT) AS base_bp,
           CAST(u * 10000 // sum_u AS BIGINT) AS weight_bp,
           CAST(({DOREMI_SMOOTH_NUM} * (u * 10000 // sum_u)
                 + (10000 // n_domains))
                // {DOREMI_SMOOTH_DEN} AS BIGINT) AS final_bp
    FROM unnorm, norm
"""


@query("curate_doremi_step", oracle=CURATE_DOREMI_ORACLE)
def curate_doremi_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One domain-reweighting step for a training mixture (see the
    section comment for the fixed-point scales). The loss proxy is a
    documented stand-in column — a real loop would join per-domain
    eval losses in its place; the update algebra is the operator."""
    from eeecs485_p4_mapreduce_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.size(tokens()).alias("n_toks")
    )
    dom = (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
        )
        .localCheckpoint(eager=False)
    )
    tot = dom.agg(
        F.sum("n_docs").alias("t_docs"),
        F.sum("n_tokens").alias("t_tokens"),
        F.count(F.lit(1)).alias("n_domains"),
    )
    step = dom.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        "n_domains",
        F.expr("n_tokens * 100 div n_docs").alias("loss_c"),
        F.greatest(
            F.lit(-DOREMI_CLIP_C),
            F.least(
                F.lit(DOREMI_CLIP_C),
                F.expr(
                    "n_tokens * 100 div n_docs - t_tokens * 100 div t_docs"
                ),
            ),
        ).alias("excess_c"),
        F.expr("n_tokens * 10000 div t_tokens").alias("base_bp"),
    )
    unnorm = step.withColumn(
        "u", F.expr(f"base_bp * (100000 + {DOREMI_ETA} * excess_c)")
    )
    norm = unnorm.agg(F.sum("u").alias("sum_u"))
    return unnorm.crossJoin(F.broadcast(norm)).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("loss_c").cast("long").alias("loss_c"),
        F.col("excess_c").cast("long").alias("excess_c"),
        F.col("base_bp").cast("long").alias("base_bp"),
        F.expr("u * 10000 div sum_u").cast("long").alias("weight_bp"),
        F.expr(
            f"({DOREMI_SMOOTH_NUM} * (u * 10000 div sum_u)"
            f" + (10000 div n_domains)) div {DOREMI_SMOOTH_DEN}"
        )
        .cast("long")
        .alias("final_bp"),
    )


# ---------------------------------------------------------------------------
# skew_twophase_topn. Per-key top-N where the key domain is tiny and
# every group is corpus-sized (event_type) — the shape where a plain
# Window.partitionBy(key) funnels 1/|domain| of the corpus through
# ONE task. Phase 1 ranks within (key, salt) so each hot group
# splits n_salts ways (salt from the unique event_id) and keeps only
# N survivors per shard; phase 2 merges the <= N * n_salts survivors
# per key with a bounded-state AGGREGATE (collect_list capped at
# N * n_salts rows per group by construction, comparator-sorted,
# sliced to N) — deliberately NOT a partitionBy(event_type) window,
# which the repo's dimension-bounded-window gate rejects over
# scan-fed input. n_salts is the knob that scales with
# corpus/task-size. The oracle is the PLAIN one-phase window:
# salting + aggregate-merge are correctness-neutral. Ordering is
# total (value DESC NULLS LAST, event_id ASC) on both engines.
# ---------------------------------------------------------------------------
TOPN_N = 5
TOPN_SALTS = 16

SKEW_TOPN_ORACLE = f"""
    SELECT event_type,
           CAST(row_number() OVER w AS BIGINT) AS rnk,
           event_id, value
    FROM events
    WINDOW w AS (PARTITION BY event_type
                 ORDER BY value DESC NULLS LAST, event_id ASC)
    QUALIFY rnk <= {TOPN_N}
"""


@query("skew_twophase_topn", oracle=SKEW_TOPN_ORACLE)
def skew_twophase_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase (salted) top-{N} events per event_type (see the
    section comment; same skew discipline as skew_salted_agg, applied
    to ranking instead of aggregation)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    order = [F.col("value").desc_nulls_last(), F.col("event_id").asc()]
    w1 = Window.partitionBy("event_type", "__salt").orderBy(*order)
    survivors = (
        ev.withColumn(
            "__salt",
            F.pmod(F.xxhash64(F.col("event_id")), F.lit(TOPN_SALTS)),
        )
        .withColumn("__r1", F.row_number().over(w1))
        .where(F.col("__r1") <= TOPN_N)
    )
    # Phase 2: merge per-shard survivors with a bounded aggregate —
    # the comparator mirrors (value DESC NULLS LAST, event_id ASC);
    # event_id is unique so the order is total.
    top = survivors.groupBy("event_type").agg(
        F.expr(
            f"""
            slice(
              array_sort(
                collect_list(struct(value, event_id)),
                (a, b) -> CASE
                  WHEN a.value IS NULL AND b.value IS NULL THEN
                    IF(a.event_id < b.event_id, -1, 1)
                  WHEN a.value IS NULL THEN 1
                  WHEN b.value IS NULL THEN -1
                  WHEN a.value > b.value THEN -1
                  WHEN a.value < b.value THEN 1
                  ELSE IF(a.event_id < b.event_id, -1, 1)
                END),
              1, {TOPN_N}) AS top
            """
        )
    )
    return top.select(
        "event_type", F.posexplode("top").alias("pos", "t")
    ).select(
        "event_type",
        (F.col("pos") + 1).cast("long").alias("rnk"),
        F.col("t.event_id").alias("event_id"),
        F.col("t.value").alias("value"),
    )


# ---------------------------------------------------------------------------
# mm_gzip_inflate. The COMPRESSED-body completion of mm_gzip_members
# (staged_r20), the same walker->decoder upgrade mm_parquet_datapage
# made over mm_parquet_footer: members carry REAL deflate bodies
# (zlib level 9 on the fixture side) plus the full RFC 1952 header
# feature set — FNAME on (d+m)%2==0, FEXTRA subfields on (d+m)%3==0,
# FCOMMENT on (d+m)%5==0, FHCRC on every member — and the engine
# decodes everything by hand: multimodal.inflate_gzip_members rides
# the shared _inflate_raw core and a table-driven CRC-32 for FHCRC +
# trailer verification. Hashed columns are only what the oracle can
# recompute closed-form from the documents table (member count,
# concatenated payload length, md5 fingerprint); header-feature and
# block-type counts are asserted in-run against their closed forms.
# ---------------------------------------------------------------------------
GZI_TOKS = 12  # tokens per member payload

MM_GZIP_INFLATE_ORACLE = f"""
    WITH mem AS (
      SELECT doc_id, mm.m AS m,
             coalesce(array_to_string(
               toks[(mm.m * {GZI_TOKS}) + 1:(mm.m + 1) * {GZI_TOKS}],
               ' '), '') AS s
      FROM (SELECT doc_id, 1 + doc_id % 3 AS nm, {_DUCK_TOKS} AS toks
            FROM documents),
           LATERAL (SELECT unnest(range(nm)) AS m) mm
    ), pay AS (
      SELECT doc_id,
             string_agg(s || ' / ' || upper(s), '' ORDER BY m) AS p
      FROM mem GROUP BY doc_id
    )
    SELECT doc_id AS media_id,
           CAST(1 + doc_id % 3 AS BIGINT) AS n_members,
           CAST(length(p) AS BIGINT) AS raw_bytes,
           CAST(CAST(concat('0x', substr(md5(p), 1, 12)) AS UBIGINT)
                AS BIGINT) AS payload_fp
    FROM pay
"""


@query("mm_gzip_inflate", oracle=MM_GZIP_INFLATE_ORACLE)
def mm_gzip_inflate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: hand-build a multi-member gzip stream (closed-form
    member payloads, full header feature rotation, level-9 deflate
    bodies) and hand-decode it back (see section comment). The run
    itself asserts the decoder's header-feature and byte-count
    attribution against their closed forms; the oracle hash proves
    byte-exact payload recovery. Zero-shuffle Arrow mapInPandas."""
    import hashlib
    import zlib as _zlib

    from pyspark.sql.types import LongType, StructField, StructType

    from eeecs485_p4_mapreduce_spark.catalog import spread_small_source
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        inflate_gzip_members,
    )

    docs = spread_small_source(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("n_members", LongType(), False),
            StructField("raw_bytes", LongType(), False),
            StructField("payload_fp", LongType(), False),
        ]
    )

    def encode_member(d: int, m: int, payload: bytes) -> bytes:
        flg = 0x02  # FHCRC always
        extra = name = comment = b""
        if (d + m) % 3 == 0:
            sub = bytes((d + m + i) % 251 for i in range(4))
            extra = b"GZ" + len(sub).to_bytes(2, "little") + sub
            extra = len(extra).to_bytes(2, "little") + extra
            flg |= 0x04
        if (d + m) % 2 == 0:
            name = f"member{m}.dat".encode("latin-1") + b"\x00"
            flg |= 0x08
        if (d + m) % 5 == 0:
            comment = b"doc comment\x00"
            flg |= 0x10
        hdr = (
            bytes((0x1F, 0x8B, 0x08, flg))
            + ((1_500_000_000 + d) % (1 << 32)).to_bytes(4, "little")
            + bytes((0x00, 0xFF))
            + extra
            + name
            + comment
        )
        hdr += (_zlib.crc32(hdr) & 0xFFFF).to_bytes(2, "little")
        co = _zlib.compressobj(9, _zlib.DEFLATED, -15)
        return (
            hdr
            + co.compress(payload)
            + co.flush()
            + (_zlib.crc32(payload) & 0xFFFFFFFF).to_bytes(4, "little")
            + (len(payload) % (1 << 32)).to_bytes(4, "little")
        )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {k.name: [] for k in schema.fields}
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                toks = _py_toks(text)
                nm = 1 + d % 3
                payloads = []
                for m in range(nm):
                    s = " ".join(toks[m * GZI_TOKS : (m + 1) * GZI_TOKS])
                    try:
                        payloads.append(
                            f"{s} / {s.upper()}".encode("ascii")
                        )
                    except UnicodeEncodeError as exc:
                        raise ValueError(
                            f"doc {d}: non-ASCII text breaks the"
                            " oracle's char/byte identity"
                        ) from exc
                blob = b"".join(
                    encode_member(d, m, p) for m, p in enumerate(payloads)
                )
                dec, info = inflate_gzip_members(blob)
                full = b"".join(payloads)
                if dec != full:
                    raise ValueError(f"doc {d}: decode != payload")
                if info["comp_bytes"] != len(blob):
                    raise ValueError(f"doc {d}: trailing bytes")
                want = {
                    "n_members": nm,
                    "n_fhcrc": nm,
                    "n_named": sum((d + m) % 2 == 0 for m in range(nm)),
                    "n_extra": sum((d + m) % 3 == 0 for m in range(nm)),
                }
                got = {k: info[k] for k in want}
                if got != want:
                    raise ValueError(f"doc {d}: header counts {got}")
                out["media_id"].append(d)
                out["n_members"].append(nm)
                out["raw_bytes"].append(len(dec))
                out["payload_fp"].append(
                    int(hashlib.md5(dec).hexdigest()[:12], 16)
                )
            yield pd.DataFrame(out)

    return docs.mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# curate_coreset_kcenter. Greedy k-center (farthest-first traversal,
# the 2-approximation of Gonzalez 1985) over the embeddings table —
# the diversity-sampling coreset selector a curation pipeline runs
# to pick maximally-spread exemplars. Each round is ONE corpus scan:
# the chosen centers travel as a broadcast struct array, every vector
# folds its min squared-L2 to them JVM-side (the exact
# aggregate/zip_with ≡ list_sum/list_transform parity the sim family
# established), and the round's winner is a global TakeOrdered
# (dist DESC, id ASC) — no collect, no window. Per-round 1-row
# localCheckpoints keep the unrolled plan flat; the corpus persists
# DISK_ONLY across the K-1 rescans. The oracle unrolls the same
# greedy recursion as a CTE chain, so the hash proves every argmax
# tie-break and distance fold agreed at every round.
# ---------------------------------------------------------------------------
CORESET_K = 6
_EMB_DIM = 64

_L2_SPARK = (
    "aggregate(zip_with(v, {c}, (x, y) -> (x - y) * (x - y)), 0.0d,"
    " (acc, x) -> acc + x)"
)


def _kcenter_oracle() -> str:
    def l2(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {_EMB_DIM + 1}),"
            f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
        )

    ctes = [
        "e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v"
        " FROM embeddings)",
        "c0 AS (SELECT id, v FROM e ORDER BY id LIMIT 1)",
    ]
    prev = ["c0"]
    for i in range(1, CORESET_K):
        dists = ", ".join(l2("e.v", f"{c}.v") for c in prev)
        dist = f"least({dists})" if len(prev) > 1 else dists
        ctes.append(
            f"c{i} AS (SELECT e.id, e.v, {dist} AS dist"
            f" FROM e, {', '.join(prev)}"
            f" ORDER BY dist DESC, e.id ASC LIMIT 1)"
        )
        prev.append(f"c{i}")
    selects = [
        "SELECT CAST(0 AS BIGINT) AS rank, id, 0.0 AS dist_sq FROM c0"
    ] + [
        f"SELECT CAST({i} AS BIGINT) AS rank, id,"
        f" round(dist, 6) + 0.0 AS dist_sq FROM c{i}"
        for i in range(1, CORESET_K)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


CURATE_KCENTER_ORACLE = _kcenter_oracle()


@query("curate_coreset_kcenter", oracle=CURATE_KCENTER_ORACLE)
def curate_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest-first coreset of CORESET_K exemplar embeddings (see
    section comment). Returns (rank, id, dist_sq) where dist_sq is
    the winner's squared L2 to the nearest earlier center."""
    from eeecs485_p4_mapreduce_spark.catalog import spread_small_source

    emb = spread_small_source(
        load_table(spark, sf_dir, "embeddings").selectExpr(
            "vec_id AS id", "cast(embedding AS array<double>) AS v"
        ),
        "id",
    ).transform(pin_disk)

    seed = (
        emb.orderBy("id")
        .limit(1)
        .select(
            F.lit(0).cast("long").alias("rank"),
            "id",
            "v",
            F.lit(0.0).alias("dist_sq"),
        )
        .localCheckpoint()
    )
    centers = seed
    min_dist = (
        "array_min(transform(cs, c -> "
        + _L2_SPARK.format(c="c")
        + "))"
    )
    for i in range(1, CORESET_K):
        packed = centers.agg(F.collect_list("v").alias("cs"))
        nxt = (
            emb.crossJoin(F.broadcast(packed))
            .selectExpr("id", "v", f"{min_dist} AS dist")
            .orderBy(F.desc("dist"), F.asc("id"))
            .limit(1)
            .select(
                F.lit(i).cast("long").alias("rank"),
                "id",
                "v",
                (F.round(F.col("dist"), 6) + F.lit(0.0)).alias(
                    "dist_sq"
                ),
            )
            .localCheckpoint()
        )
        centers = centers.union(nxt)
    return centers.select("rank", "id", "dist_sq")


# ---------------------------------------------------------------------------
# q129_kcore_peel. K-core peeling on the part–supplier bipartite
# graph observed in lineitem — the graph-family pattern the registry
# lacked (pagerank step, triangles, BFS, CC and link prediction exist;
# degree peeling did not). KCORE_ROUNDS fixed peels of "drop nodes
# with degree < K, then their edges" — the same
# fixed-iteration-is-the-oracle-checkable-unit argument as
# q69_pagerank_step / sim_kmeans_step (a fixpoint loop is just this
# plan repeated). K is DATA-DERIVED — floor(|E|/|N|), half the mean
# degree, computed once on the unpeeled graph — so the peel bites at
# every scale factor (any fixed constant is vacuous at one SF and
# graph-emptying at another on this skew-bipartite shape); exact
# integer division keeps it engine-identical. Nodes are INTEGER-coded
# (part -> 2*key, supplier -> 2*key+1) per the
# fingerprint-before-shuffle rule — no string keys ever shuffle. Each
# round: one degree aggregate + two node-keyed semi-joins, edges
# localCheckpointed so the plan stays O(1) deep; the oracle unrolls
# the identical peels as a CTE chain.
# ---------------------------------------------------------------------------
KCORE_ROUNDS = 2


def _kcore_oracle() -> str:
    ctes = [
        "e0 AS (SELECT DISTINCT l_partkey * 2 AS a,"
        " l_suppkey * 2 + 1 AS b FROM lineitem)",
        "d0all AS (SELECT n, count(*) AS c FROM"
        " (SELECT a AS n FROM e0 UNION ALL"
        "  SELECT b AS n FROM e0) GROUP BY n)",
        "kk AS (SELECT (SELECT count(*) FROM e0)"
        " // (SELECT count(*) FROM d0all) AS k)",
    ]
    for r in range(KCORE_ROUNDS):
        ctes.append(
            f"d{r} AS (SELECT n, count(*) AS c FROM"
            f" (SELECT a AS n FROM e{r} UNION ALL"
            f"  SELECT b AS n FROM e{r}) GROUP BY n)"
        )
        ctes.append(
            f"k{r} AS (SELECT n FROM d{r}"
            f" WHERE c >= (SELECT k FROM kk))"
        )
        ctes.append(
            f"e{r + 1} AS (SELECT e.a, e.b FROM e{r} e"
            f" JOIN k{r} x ON e.a = x.n JOIN k{r} y ON e.b = y.n)"
        )
    last = KCORE_ROUNDS
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT n AS node, CAST(count(*) AS BIGINT) AS degree
    FROM (SELECT a AS n FROM e{last} UNION ALL
          SELECT b AS n FROM e{last})
    GROUP BY n
    """
    )


Q129_KCORE_ORACLE = _kcore_oracle()


@query("q129_kcore_peel", oracle=Q129_KCORE_ORACLE)
def q129_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_ROUNDS} degree-peeling rounds at the data-derived
    threshold K = floor(|E|/|N|) over the observed part–supplier
    graph; returns every surviving node with its post-peel degree
    (see section comment for the scale shape)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    edges = (
        li.selectExpr(
            "l_partkey * 2 AS a", "l_suppkey * 2 + 1 AS b"
        )
        .distinct()
        .transform(pin_disk)
    )

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.selectExpr("a AS n")
            .unionAll(e.selectExpr("b AS n"))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    # r15 job-count cut (§1.2; profiler: 18 build jobs -> see
    # OPTIMIZATION_r15.md). Three changes, all output-identical:
    # (a) K comes from ONE action over the round-0 degree table —
    #     sum(c) = 2|E| exactly (every distinct edge contributes one
    #     occurrence to each endpoint), so (sum(c) div 2) div count(*)
    #     is the same floor(|E|/|N|) the old two-aggregate crossJoin
    #     chain computed; the driver was already paying this barrier
    #     as the k_df eager checkpoint.
    # (b) d0 is PINNED and shared by the K action and round 1's keep
    #     filter (same subtree the old form computed twice).
    # (c) K joins each round as a LITERAL, and the two per-round
    #     semi-joins reference the SAME keep subplan with the join key
    #     in the condition instead of withColumnRenamed copies — the
    #     rename made the two broadcast children structurally distinct,
    #     defeating exchange reuse; identical children collapse to one
    #     broadcast per round (ReusedExchange).
    d0 = degrees(edges).transform(pin_disk)
    k = d0.agg(
        F.expr("(sum(c) div 2) div count(1)").alias("k")
    ).first()[0]
    # An empty edge table has a NULL sum: no node survives any K, so
    # K = 0 yields the oracle's empty result.
    k = 0 if k is None else int(k)

    from eeecs485_p4_mapreduce_spark.catalog import dump_plan_evidence

    for _r in range(KCORE_ROUNDS):
        d = d0 if _r == 0 else degrees(edges)
        keep = d.filter(F.col("c") >= F.lit(k)).select("n")
        edges = edges.join(keep, edges["a"] == keep["n"], "semi").join(
            keep, edges["b"] == keep["n"], "semi"
        )
        if _r == KCORE_ROUNDS - 1:
            # pre-checkpoint plan evidence (no-op unless the env hook is
            # set): the returned plan is degrees over a Scan ExistingRDD,
            # which hides the per-round shared-broadcast join structure
            edges = dump_plan_evidence(edges, "q129_kcore_peel_prepin")
        edges = edges.localCheckpoint(eager=False)
    return degrees(edges).select(
        F.col("n").alias("node"),
        F.col("c").cast("long").alias("degree"),
    )


# ---------------------------------------------------------------------------
# q130_bootstrap_ci. Hash-seeded Poisson bootstrap — the way
# production A/B systems attach uncertainty at scale (Chamandy et
# al., "Estimating Uncertainty for Massive Data Streams"): instead
# of resampling (a shuffle per replica), every row draws a
# DETERMINISTIC pseudo-Poisson(1) weight per replica b from
# md5(orderkey:b), so all BOOT_B replicate partial aggregates fold
# map-side in ONE corpus pass. Hash cost is amortized 8x: each row
# computes BOOT_B/8 md5s BEFORE the replica explode and every
# replica reads its own 16-bit hex slice (b div 8 picks the hash,
# b % 8 the slice) — 40 per-row hashes was a measured 5.7 s census
# row; 5 is 3.1 s. The weight table quantizes the Poisson(1) pmf at
# 4 buckets (0.3679/0.3679/0.1839/0.0613+tail) with thresholds
# placed directly on the 16-bit slice domain (24109/48219/60273 =
# round(cum_pmf * 65536) — a mod-10000 fold would bias P(0) by
# +0.025), identical arithmetic both engines. Replicate
# means are exact integer cents (div), the CI bounds are order
# statistics of the BOOT_B-length sorted replicate array (bounded
# collect_list — gate-safe), so every hashed column is an integer.
# ---------------------------------------------------------------------------
BOOT_B = 40
_BOOT_LO_IDX = 1  # ceil(0.025 * B)
_BOOT_HI_IDX = 39  # ceil(0.975 * B)

Q130_BOOT_ORACLE = f"""
    WITH base AS (
      SELECT o_orderpriority AS prio, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), rep AS (
      SELECT prio, b.b AS b, cents,
             CAST(CAST(concat('0x', substr(md5(
               CAST(o_orderkey AS VARCHAR) || ':' ||
               CAST(b.b // 8 AS VARCHAR)),
               CAST((b.b % 8) * 4 + 1 AS BIGINT), 4)) AS UBIGINT)
               AS BIGINT) AS hmod
      FROM base, LATERAL (SELECT unnest(range({BOOT_B})) AS b) b
    ), w AS (
      SELECT prio, b, cents,
             CASE WHEN hmod < 24109 THEN 0
                  WHEN hmod < 48219 THEN 1
                  WHEN hmod < 60273 THEN 2
                  ELSE 3 END AS w
      FROM rep
    ), est AS (
      SELECT prio, b,
             coalesce(sum(w * cents) // nullif(sum(w), 0), 0) AS est
      FROM w GROUP BY prio, b
    ), ci AS (
      SELECT prio,
             CAST(list_sort(list(est))[{_BOOT_LO_IDX}] AS BIGINT)
               AS boot_lo,
             CAST(list_sort(list(est))[{_BOOT_HI_IDX}] AS BIGINT)
               AS boot_hi
      FROM est GROUP BY prio
    ), point AS (
      SELECT prio, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents
      FROM base GROUP BY prio
    )
    SELECT point.prio AS prio, n_orders, mean_cents, boot_lo, boot_hi
    FROM point JOIN ci ON point.prio = ci.prio
"""


@query("q130_bootstrap_ci", oracle=Q130_BOOT_ORACLE)
def q130_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Poisson-bootstrap CI for mean order value per priority
    (see section comment — {BOOT_B} deterministic replicas fold
    map-side in one pass; no resampling shuffle exists anywhere)."""
    base = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority AS prio",
        "o_orderkey",
        "cast(round(o_totalprice * 100) as bigint) AS cents",
    )
    rep = base.selectExpr(
        "prio",
        "cents",
        f"transform(sequence(0, {BOOT_B // 8 - 1}), i ->"
        " md5(concat(cast(o_orderkey as string), ':',"
        " cast(i as string)))) AS hs",
    ).selectExpr(
        "prio",
        "cents",
        "hs",
        f"explode(sequence(0, {BOOT_B - 1})) AS b",
    ).selectExpr(
        "prio",
        "b",
        "cents",
        "cast(conv(substring(element_at(hs, int(b div 8) + 1),"
        " (b % 8) * 4 + 1, 4), 16, 10) as bigint) AS hmod",
    )
    w = rep.selectExpr(
        "prio",
        "b",
        "cents",
        "CASE WHEN hmod < 24109 THEN 0"
        " WHEN hmod < 48219 THEN 1"
        " WHEN hmod < 60273 THEN 2"
        " ELSE 3 END AS w",
    )
    est = w.groupBy("prio", "b").agg(
        F.expr(
            "coalesce(sum(w * cents) div nullif(sum(w), 0), 0)"
        ).alias("est")
    )
    ci = est.groupBy("prio").agg(
        F.expr(
            f"element_at(sort_array(collect_list(est)),"
            f" {_BOOT_LO_IDX})"
        )
        .cast("long")
        .alias("boot_lo"),
        F.expr(
            f"element_at(sort_array(collect_list(est)),"
            f" {_BOOT_HI_IDX})"
        )
        .cast("long")
        .alias("boot_hi"),
    )
    point = base.groupBy("prio").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr("sum(cents) div count(1)").cast("long").alias(
            "mean_cents"
        ),
    )
    return point.join(F.broadcast(ci), "prio").select(
        "prio", "n_orders", "mean_cents", "boot_lo", "boot_hi"
    )
