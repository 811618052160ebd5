"""Queries REGISTERED via ``registry.load_all`` (staged one judged
round under the full discipline, then flipped; first driver rows
expected in ``CORRECTNESS_r09.json``).

Same staging discipline as operators/staged_r9–r17: built, pytest
hash-checked against DuckDB at sf0.001 and sf0.01
(tests/test_staged_r18.py), fixture-tested with independent
references, plan-gate swept, and x10/x100 replica-probed BEFORE
registration. Same contract as every registered query: identical
aliases both sides, round()-ed or integer-exact outputs, no nullable
hash-bearing columns.

Staged surface:

- ``q108_weighted_median`` — QUANTITY-weighted median unit price per
  brand, exactly, from the price-domain histogram (cumulative WEIGHT,
  not cumulative count — the procurement "typical price paid per
  unit", which a plain median gets wrong whenever cheap lines carry
  big quantities); the unweighted median is emitted alongside so the
  divergence is visible in the graded output.
- ``mm_aiff_comm`` — REAL AIFF walk: the big-endian IFF FORM sibling
  of RIFF/WAV, including the COMM chunk's 80-bit IEEE EXTENDED-float
  sample rate (1+15+64 bits with an explicit integer bit — not
  struct-unpackable, decoded exactly for integer rates) and the
  odd-chunk pad-byte rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from eeecs485_p4_mapreduce_spark.catalog import load_table
from eeecs485_p4_mapreduce_spark.registry import query

# ---------------------------------------------------------------------------
# q108: weighted vs unweighted median price per brand. Both medians
# come from the SAME (brand, price) histogram — cnt for the plain
# median, sum(qty) for the weighted one — with the standard exact rule
# (smallest value whose cumulative reaches half the total, ties toward
# the smaller price). Windows run over the histogram (value-domain
# bounded, the q24 rule), never the fact table. Overflow: cum*2 <=
# 2*Σqty ~ 1e14 at any replica scale, far inside int64.
# ---------------------------------------------------------------------------
Q108_ORACLE = """
    WITH h AS (
      SELECT p.p_brand AS brand,
             CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CAST(round(l.l_quantity, 0) AS BIGINT)) AS BIGINT)
               AS qty
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ), cum AS (
      SELECT brand, cents, cnt, qty,
             sum(cnt) OVER (PARTITION BY brand ORDER BY cents) AS ccnt,
             sum(qty) OVER (PARTITION BY brand ORDER BY cents) AS cqty,
             sum(cnt) OVER (PARTITION BY brand) AS ncnt,
             sum(qty) OVER (PARTITION BY brand) AS nqty
      FROM h
    )
    SELECT brand,
           CAST(max(ncnt) AS BIGINT) AS n_lines,
           CAST(max(nqty) AS BIGINT) AS total_qty,
           CAST(min(CASE WHEN ccnt * 2 >= ncnt THEN cents END)
                AS BIGINT) AS median_cents,
           CAST(min(CASE WHEN cqty * 2 >= nqty THEN cents END)
                AS BIGINT) AS wmedian_cents
    FROM cum GROUP BY 1
"""


@query("q108_weighted_median", oracle=Q108_ORACLE)
def q108_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median price per brand (see section
    comment)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr("cast(round(l_extendedprice * 100, 0) as bigint)").alias(
            "cents"
        ),
        F.expr("cast(round(l_quantity, 0) as bigint)").alias("qty"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    h = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), "cents")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("qty").alias("qty"),
        )
    )
    w = Window.partitionBy("brand").orderBy("cents")
    wall = Window.partitionBy("brand")
    cum = h.select(
        "brand",
        "cents",
        F.sum("cnt").over(w).alias("ccnt"),
        F.sum("qty").over(w).alias("cqty"),
        F.sum("cnt").over(wall).alias("ncnt"),
        F.sum("qty").over(wall).alias("nqty"),
    )
    return cum.groupBy("brand").agg(
        F.max("ncnt").alias("n_lines"),
        F.max("nqty").alias("total_qty"),
        F.min(
            F.expr("case when ccnt * 2 >= ncnt then cents end")
        ).alias("median_cents"),
        F.min(
            F.expr("case when cqty * 2 >= nqty then cents end")
        ).alias("wmedian_cents"),
    )


# ---------------------------------------------------------------------------
# mm_aiff_comm: REAL AIFF metadata walk (see encode_aiff /
# parse_aiff_comm / _f80_decode in multimodal.py). Per doc: one of
# five standard rates, 1-2 channels, 16 bits, 500 + (d*37) % 5000
# frames. Every emitted column comes from the strict walk (the sample
# rate crosses the 80-bit extended-float decode); the oracle mirrors
# the byte arithmetic — SSND = 8 + frames*channels*2 bytes, FORM =
# 12 + (8+18) COMM + (8+SSND), all even so no pad bytes at these
# sizes (the pad rule itself is pinned by pytest with an odd chunk).
# ---------------------------------------------------------------------------
AIFF_RATES = (8000, 22050, 44100, 48000, 96000)

AIFF_SCHEMA_FIELDS = (
    "media_id",
    "sample_rate",
    "channels",
    "bits",
    "n_frames",
    "duration_us",
    "n_chunks",
    "ssnd_bytes",
    "file_bytes",
)

MM_AIFF_ORACLE = f"""
    WITH p AS (
      SELECT doc_id,
             ([{", ".join(str(r) for r in AIFF_RATES)}])[1 + doc_id % 5]
               AS rate,
             1 + doc_id % 2 AS ch,
             500 + (doc_id * 37) % 5000 AS frames
      FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(rate AS BIGINT) AS sample_rate,
           CAST(ch AS BIGINT) AS channels,
           CAST(16 AS BIGINT) AS bits,
           CAST(frames AS BIGINT) AS n_frames,
           CAST(frames * 1000000 // rate AS BIGINT) AS duration_us,
           CAST(2 AS BIGINT) AS n_chunks,
           CAST(8 + frames * ch * 2 AS BIGINT) AS ssnd_bytes,
           CAST(12 + 26 + 8 + 8 + frames * ch * 2 AS BIGINT)
             AS file_bytes
    FROM p
"""


@query("mm_aiff_comm", oracle=MM_AIFF_ORACLE)
def mm_aiff_comm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: build an AIFF and re-walk it with the real parser
    including the 80-bit extended-float rate decode (see section
    comment). Zero-shuffle Arrow mapInPandas via the shared
    media_walk_query scaffold."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_aiff,
        media_walk_query,
        parse_aiff_comm,
    )

    def per_doc(d: int) -> dict:
        return parse_aiff_comm(
            encode_aiff(
                AIFF_RATES[d % 5],
                1 + d % 2,
                16,
                500 + (d * 37) % 5000,
            )
        )

    return media_walk_query(spark, sf_dir, AIFF_SCHEMA_FIELDS, per_doc)
