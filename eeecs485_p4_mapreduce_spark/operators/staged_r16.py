"""Queries REGISTERED via ``registry.load_all`` (staged one judged
round under the full discipline, then flipped; first driver rows
expected in ``CORRECTNESS_r09.json``).

Same staging discipline as operators/staged_r9–r15: built, pytest
hash-checked against DuckDB at sf0.001 and sf0.01
(tests/test_staged_r16.py), fixture-tested with independent
references, plan-gate swept, and x10/x100 replica-probed BEFORE
registration. Same contract as every registered query: identical
aliases both sides, round()-ed or integer-exact outputs, no nullable
hash-bearing columns.

Staged surface:

- ``q103_fifo_lots`` — FIFO lot allocation: each part's lineitems in
  ship order are assigned contiguous quantity intervals; the graded
  table reports, per brand, how many lines straddle a 100-unit lot
  boundary (the pick-face / batch-traceability question a WMS asks).
- ``q104_ship_lag_percentiles`` — exact p50/p90 order→ship lag per
  order priority from the lag-domain histogram (no fact-table window),
  plus the >30-day late share in ppm.
- ``q105_wow_change`` — week-over-week traffic change per event type
  in exact ppm with an explicit sign column (integer division of
  NEGATIVE numbers differs between engines — Spark ``div`` truncates,
  DuckDB ``//`` floors — so magnitude and sign are split).
- ``q106_basket_lift`` — association-rule metrics (support,
  confidence, lift) over the q61 co-order pairs, all exact ppm; lift's
  numerator crosses int64 at the x100 replica, so it uses the
  two-step split-division identity from SCALE.md.
- ``dedup_phonetic_names`` — Soundex blocking census over part-name
  head tokens: both engines compute the same simplified American
  Soundex (translate → collapse runs → drop vowels → pad) from shared
  constants, then report per-code block sizes and candidate-pair
  counts — the entity-resolution blocking step LSH doesn't cover.
- ``ta_hapax_ratio`` — hapax legomena share per language (the
  vocabulary-tail lexical-richness metric curation uses to spot
  boilerplate-heavy or template-generated corpora).
- ``mm_png_metadata`` — REAL PNG ancillary-chunk walk (tEXt, pHYs,
  gAMA) with every chunk CRC-32 VERIFIED during the walk; built by
  splicing real chunks into a real encoder's output.
- ``stream_restart_idempotent`` — checkpoint-recovery audit: the
  stream runs to completion, a NEW arrival file lands, and a SECOND
  run with the SAME checkpoint must process only the new file. A
  merge path that double-counts on restart fails the hash against the
  batch oracle.
"""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from eeecs485_p4_mapreduce_spark.catalog import load_table, read_parquet_cached
from eeecs485_p4_mapreduce_spark.registry import query

# ---------------------------------------------------------------------------
# q103: FIFO lot allocation. Within each part, lines ordered by
# (shipdate, orderkey, linenumber) — a UNIQUE total order, so both
# engines' running sums agree row for row — occupy the quantity
# interval [cum - qty, cum); a line straddles a lot boundary when its
# interval crosses a multiple of LOT (lot ids are interval div LOT).
# One window partitioned per part (bounded by the part's line count),
# then a brand-level rollup via broadcast part join.
# ---------------------------------------------------------------------------
_FIFO_LOT = 100

Q103_ORACLE = f"""
    WITH li AS (
      SELECT l_partkey,
             CAST(round(l_quantity, 0) AS BIGINT) AS qty,
             sum(CAST(round(l_quantity, 0) AS BIGINT)) OVER (
               PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM lineitem
    ), lots AS (
      SELECT l_partkey, qty,
             (cum - qty) // {_FIFO_LOT} AS lot_first,
             (cum - 1) // {_FIFO_LOT} AS lot_last
      FROM li
    )
    SELECT p.p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN lot_last > lot_first THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boundary_lines,
           CAST(max(lot_last - lot_first + 1) AS BIGINT)
             AS max_lots_spanned,
           CAST(sum(qty) AS BIGINT) AS sum_qty
    FROM lots JOIN read_parquet_part p ON p.p_partkey = lots.l_partkey
    GROUP BY 1
""".replace("read_parquet_part", "part")


@query("q103_fifo_lots", oracle=Q103_ORACLE)
def q103_fifo_lots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO lot-boundary census per brand (see section comment)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        F.expr("cast(round(l_quantity, 0) as bigint)").alias("qty"),
    )
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lots = li.withColumn("cum", F.sum("qty").over(w)).selectExpr(
        "l_partkey",
        "qty",
        f"(cum - qty) div {_FIFO_LOT} AS lot_first",
        f"(cum - 1) div {_FIFO_LOT} AS lot_last",
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        lots.join(F.broadcast(part), lots.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                F.expr("case when lot_last > lot_first then 1 else 0 end")
            ).alias("n_boundary_lines"),
            F.max(F.expr("lot_last - lot_first + 1")).alias(
                "max_lots_spanned"
            ),
            F.sum("qty").alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# q104: order→ship lag percentiles. The lag domain is DAYS — tiny and
# bounded — so exact p50/p90 come from a cumulative window over the
# (priority, lag) histogram, never over the joined fact (the q24/q99
# rule). p-th percentile = smallest lag whose cumulative count reaches
# ceil(n * p): cum * 100 >= n * p in integers. Late share (>30 days)
# in exact ppm.
# ---------------------------------------------------------------------------
Q104_ORACLE = """
    WITH lags AS (
      SELECT o.o_orderpriority AS priority,
             CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
                  AS BIGINT) AS lag_days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), hist AS (
      SELECT priority, lag_days, CAST(count(*) AS BIGINT) AS cnt
      FROM lags GROUP BY 1, 2
    ), cum AS (
      SELECT priority, lag_days, cnt,
             sum(cnt) OVER (PARTITION BY priority ORDER BY lag_days)
               AS cm,
             sum(cnt) OVER (PARTITION BY priority) AS n
      FROM hist
    )
    SELECT priority,
           CAST(max(n) AS BIGINT) AS n_lines,
           CAST(min(CASE WHEN cm * 100 >= n * 50 THEN lag_days END)
                AS BIGINT) AS p50_lag_days,
           CAST(min(CASE WHEN cm * 100 >= n * 90 THEN lag_days END)
                AS BIGINT) AS p90_lag_days,
           CAST(sum(CASE WHEN lag_days > 30 THEN cnt ELSE 0 END)
                * 1000000 // max(n) AS BIGINT) AS late_ppm
    FROM cum GROUP BY 1
"""


@query("q104_ship_lag_percentiles", oracle=Q104_ORACLE)
def q104_ship_lag_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ship-lag percentiles per priority (see section comment)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("ship")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.to_date("o_orderdate").alias("odate"),
    )
    hist = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "priority",
            F.datediff("ship", "odate").cast("long").alias("lag_days"),
        )
        .groupBy("priority", "lag_days")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum = hist.select(
        "priority",
        "lag_days",
        "cnt",
        F.sum("cnt")
        .over(Window.partitionBy("priority").orderBy("lag_days"))
        .alias("cm"),
        F.sum("cnt").over(Window.partitionBy("priority")).alias("n"),
    )
    return cum.groupBy("priority").agg(
        F.max("n").alias("n_lines"),
        F.min(
            F.expr("case when cm * 100 >= n * 50 then lag_days end")
        ).alias("p50_lag_days"),
        F.min(
            F.expr("case when cm * 100 >= n * 90 then lag_days end")
        ).alias("p90_lag_days"),
        F.expr(
            "sum(case when lag_days > 30 then cnt else 0 end)"
            " * 1000000 div max(n)"
        ).alias("late_ppm"),
    )


# ---------------------------------------------------------------------------
# q105: week-over-week change per event type. Weeks are epoch-day div
# 7 (tz-free); the LAG window runs over the WEEK table (bounded by the
# time domain). Change is emitted as |Δ| ppm of the previous week PLUS
# a sign column: integer division of negative numbers is the one
# arithmetic op where the engines disagree (Spark's div truncates
# toward zero, DuckDB's // floors), so the ppm math stays on
# non-negative integers by construction.
# ---------------------------------------------------------------------------
Q105_ORACLE = """
    WITH weekly AS (
      SELECT event_type,
             epoch_us(ts) // 604800000000 AS week,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT event_type, week, n,
             lag(n) OVER (PARTITION BY event_type ORDER BY week)
               AS prev_n,
             lag(week) OVER (PARTITION BY event_type ORDER BY week)
               AS prev_week
      FROM weekly
    )
    SELECT event_type,
           CAST(week AS BIGINT) AS week,
           n AS n_events,
           CAST(prev_week AS BIGINT) AS prev_week,
           prev_n,
           CAST(abs(n - prev_n) * 1000000 // greatest(prev_n, 1)
                AS BIGINT) AS abs_change_ppm,
           CAST(CASE WHEN n > prev_n THEN 1 WHEN n < prev_n THEN -1
                ELSE 0 END AS BIGINT) AS change_sign
    FROM lagged WHERE prev_n IS NOT NULL
"""


@query("q105_wow_change", oracle=Q105_ORACLE)
def q105_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week ppm change per type (see section comment)."""
    events = load_table(spark, sf_dir, "events")
    weekly = events.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 604800000000").alias("week"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("week")
    return (
        weekly.withColumn("prev_n", F.lag("n").over(w))
        .withColumn("prev_week", F.lag("week").over(w))
        .filter(F.col("prev_n").isNotNull())
        .selectExpr(
            "event_type",
            "cast(week as bigint) as week",
            "n AS n_events",
            "cast(prev_week as bigint) as prev_week",
            "prev_n",
            "abs(n - prev_n) * 1000000 div greatest(prev_n, 1L)"
            " AS abs_change_ppm",
            "cast(case when n > prev_n then 1 when n < prev_n then -1"
            " else 0 end as bigint) AS change_sign",
        )
    )


# ---------------------------------------------------------------------------
# q106: association-rule metrics over the q61 co-order pairs (reuses
# relational._co_order_pair_counts — one basket-array shuffle, pairs
# generated row-locally). support = P(a,b), confidence = P(b|a), lift
# = P(a,b) / (P(a) P(b)) — all exact ppm. Overflow audit: lift's
# numerator pair * n_orders * 1e6 crosses int64 at the x100 replica
# (1e5 * 1.5e7 * 1e6 ≈ 1.5e18 is fine, but 1e6 * 1.5e7 * 1e6 is not),
# so it uses the SCALE.md two-step split:
# q = (N*1000) div D; ppm = q*1000 + ((N*1000) % D) * 1000 div D.
# ---------------------------------------------------------------------------
Q106_ORACLE = """
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_ord AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM d
    ), cnt AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1
    ), pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM d a JOIN d b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT p.part_a, p.part_b, p.n_both,
           CAST(p.n_both * 1000000 // n.n AS BIGINT) AS support_ppm,
           CAST(p.n_both * 1000000 // ca.c AS BIGINT) AS conf_ab_ppm,
           CAST((p.n_both * n.n * 1000) // (ca.c * cb.c) * 1000
                + ((p.n_both * n.n * 1000) % (ca.c * cb.c)) * 1000
                  // (ca.c * cb.c) AS BIGINT) AS lift_ppm
    FROM pairs p
    JOIN cnt ca ON ca.l_partkey = p.part_a
    JOIN cnt cb ON cb.l_partkey = p.part_b
    CROSS JOIN n_ord n
"""


@query("q106_basket_lift", oracle=Q106_ORACLE)
def q106_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support / confidence / lift in exact ppm (see section
    comment)."""
    from eeecs485_p4_mapreduce_spark.operators.relational import (
        _co_order_pair_counts,
    )

    li = load_table(spark, sf_dir, "lineitem")
    d = li.select("l_orderkey", "l_partkey").distinct().localCheckpoint(eager=False)
    pairs = _co_order_pair_counts(d, "n_both")
    cnt = d.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    n_ord = d.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n")
    )
    ca = cnt.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("ca"))
    cb = cnt.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .crossJoin(F.broadcast(n_ord))
        .selectExpr(
            "part_a",
            "part_b",
            "n_both",
            "n_both * 1000000 div n AS support_ppm",
            "n_both * 1000000 div ca AS conf_ab_ppm",
            "(n_both * n * 1000) div (ca * cb) * 1000"
            " + ((n_both * n * 1000) % (ca * cb)) * 1000"
            "   div (ca * cb) AS lift_ppm",
        )
    )


# ---------------------------------------------------------------------------
# dedup_phonetic_names: Soundex blocking — the phonetic twin of the
# bigram-Jaccard dedup_fuzzy_names. Both engines compute the SAME
# simplified American Soundex of each part name's head token:
# translate letters to digit classes, collapse runs of equal digits
# (vowels break runs, per the real algorithm — collapse happens BEFORE
# vowel removal), drop the first position + zeros, pad to 3. The h/w
# separator subtlety is deliberately out of scope and pinned by test.
# Output: the per-code blocking census with candidate-pair counts —
# the quadratic-work budget a blocking key buys.
# ---------------------------------------------------------------------------
_SOUNDEX_MAP = "01230120022455012623010202"


def _soundex_steps(token: str, collapse: str) -> str:
    """Shared expression skeleton: ``collapse`` is the engine's
    run-collapsing regexp_replace chain over digits 1-6."""
    return (
        f"upper(substr({token}, 1, 1)) || "
        f"substr(rpad(replace(substr({collapse}, 2), '0', ''), 3, '0'),"
        " 1, 3)"
    )


def _spark_soundex(token: str) -> str:
    e = f"translate({token}, 'abcdefghijklmnopqrstuvwxyz', '{_SOUNDEX_MAP}')"
    for d in "123456":
        e = f"regexp_replace({e}, '{d}{{2,}}', '{d}')"
    return _soundex_steps(token, e)


def _duck_soundex(token: str) -> str:
    e = f"translate({token}, 'abcdefghijklmnopqrstuvwxyz', '{_SOUNDEX_MAP}')"
    for d in "123456":
        e = f"regexp_replace({e}, '{d}{{2,}}', '{d}', 'g')"
    return _soundex_steps(token, e)


DEDUP_PHONETIC_ORACLE = f"""
    WITH toks AS (
      SELECT p_partkey,
             string_split(lower(p_name), ' ')[1] AS tok
      FROM part
    ), coded AS (
      SELECT p_partkey, tok, {_duck_soundex("tok")} AS code FROM toks
    )
    SELECT code,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT tok) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT tok) * (count(DISTINCT tok) - 1) // 2
                AS BIGINT) AS candidate_pairs,
           min(tok) AS first_token
    FROM coded GROUP BY 1
"""


@query("dedup_phonetic_names", oracle=DEDUP_PHONETIC_ORACLE)
def dedup_phonetic_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soundex blocking census over part-name head tokens (see section
    comment)."""
    part = load_table(spark, sf_dir, "part")
    coded = part.selectExpr(
        "p_partkey",
        "split(lower(p_name), ' ')[0] AS tok",
    ).selectExpr("p_partkey", "tok", f"{_spark_soundex('tok')} AS code")
    return coded.groupBy("code").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.countDistinct("tok").cast("long").alias("n_tokens"),
        F.expr(
            "count(distinct tok) * (count(distinct tok) - 1) div 2"
        ).alias("candidate_pairs"),
        F.min("tok").alias("first_token"),
    )


# ---------------------------------------------------------------------------
# ta_hapax_ratio: hapax legomena share per language — what fraction of
# the distinct vocabulary occurs exactly once. Template-generated or
# boilerplate-heavy corpora have anomalously LOW hapax share; fresh
# natural text sits near 40-60%. Two keyed aggregations over the
# (lang, token) frequency table; the standard module tokenization.
# ---------------------------------------------------------------------------
TA_HAPAX_ORACLE = """
    WITH freq AS (
      SELECT lang, t, CAST(count(*) AS BIGINT) AS f
      FROM (
        SELECT lang,
               unnest(string_split_regex(lower(text), '[ \t]')) AS t
        FROM documents
      ) WHERE t <> '' GROUP BY 1, 2
    )
    SELECT lang,
           CAST(sum(f) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS hapax_ppm
    FROM freq GROUP BY 1
"""


@query("ta_hapax_ratio", oracle=TA_HAPAX_ORACLE)
def ta_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena share per language (see section comment)."""
    from eeecs485_p4_mapreduce_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select("lang", F.explode(tokens()).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("lang", "t")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    return freq.groupBy("lang").agg(
        F.sum("f").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.expr("case when f = 1 then 1 else 0 end")).alias(
            "n_hapax"
        ),
        F.expr(
            "sum(case when f = 1 then 1 else 0 end) * 1000000"
            " div count(1)"
        ).alias("hapax_ppm"),
    )


# ---------------------------------------------------------------------------
# mm_png_metadata: REAL PNG ancillary-chunk walk (see
# inject_png_chunks / parse_png_metadata in multimodal.py — every
# chunk CRC-32 is verified during the walk). Per doc: the constant
# 8x8 base PNG (compressed size embedded below) plus a Title tEXt, an
# Author tEXt on doc_id % 3 != 0, a pHYs (2834 + d % 100 ppu, square)
# and a gAMA (45455). The oracle mirrors the byte arithmetic with
# len(CAST(...)) so decimal widths stay exact at any doc_id magnitude.
# ---------------------------------------------------------------------------
def _png_meta_base() -> bytes:
    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators.multimodal import encode_png

    return encode_png(np.zeros((8, 8, 3), dtype="uint8"))


# pinned literal (import-time encoder runs are banned in registered
# modules — registry.load_all imports them); asserted at call time.
_PNG_BASE_LEN = 69

PNG_META_SCHEMA_FIELDS = (
    "media_id",
    "n_chunks",
    "n_text",
    "title_len",
    "author_len",
    "phys_ppu",
    "gamma_e5",
    "file_bytes",
)

MM_PNG_META_ORACLE = f"""
    WITH p AS (
      SELECT doc_id,
             1 + len(CAST(doc_id AS VARCHAR)) AS tlen,
             1 + len(CAST(doc_id % 61 AS VARCHAR)) AS alen,
             CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END AS has_author,
             2834 + doc_id % 100 AS ppu
      FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(3 + 1 + has_author + 2 AS BIGINT) AS n_chunks,
           CAST(1 + has_author AS BIGINT) AS n_text,
           CAST(tlen AS BIGINT) AS title_len,
           CAST(has_author * alen AS BIGINT) AS author_len,
           CAST(ppu AS BIGINT) AS phys_ppu,
           CAST(45455 AS BIGINT) AS gamma_e5,
           CAST({_PNG_BASE_LEN} + (12 + 6 + tlen)
                + has_author * (12 + 7 + alen) + 21 + 16 AS BIGINT)
             AS file_bytes
    FROM p
"""


@query("mm_png_metadata", oracle=MM_PNG_META_ORACLE)
def mm_png_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: splice real metadata chunks into a real PNG and
    re-walk it with CRC verification (see section comment).
    Zero-shuffle Arrow mapInPandas via the shared media_walk_query
    scaffold."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        inject_png_chunks,
        media_walk_query,
        parse_png_metadata,
    )

    base = _png_meta_base()
    if len(base) != _PNG_BASE_LEN:  # keep the oracle literal honest
        raise AssertionError(
            f"base PNG length {len(base)} != oracle literal"
            f" {_PNG_BASE_LEN}"
        )

    def per_doc(d: int) -> dict:
        chunks = [(b"tEXt", b"Title\x00" + f"t{d}".encode())]
        if d % 3:
            chunks.append((b"tEXt", b"Author\x00" + f"a{d % 61}".encode()))
        ppu = (2834 + d % 100).to_bytes(4, "big")
        chunks.append((b"pHYs", ppu + ppu + b"\x01"))
        chunks.append((b"gAMA", (45455).to_bytes(4, "big")))
        return parse_png_metadata(inject_png_chunks(base, chunks))

    return media_walk_query(spark, sf_dir, PNG_META_SCHEMA_FIELDS, per_doc)


# ---------------------------------------------------------------------------
# stream_restart_idempotent: the checkpoint-recovery contract, graded.
# Pass 1 processes the first arrival file to completion (availableNow
# drains and STOPS). A second file then lands, and pass 2 restarts the
# SAME query from the SAME checkpoint: Spark's file-source log must
# skip the already-processed file, so the sum-merged snapshot counts
# every event exactly once. A merge that re-reads history (or a
# checkpoint that isn't honored) double-counts the first slice and
# hash-fails against the plain batch oracle.
# ---------------------------------------------------------------------------
STREAM_RESTART_ORACLE = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events GROUP BY 1
"""


@query("stream_restart_idempotent", oracle=STREAM_RESTART_ORACLE)
def stream_restart_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two availableNow runs over a growing spool, one checkpoint (see
    section comment)."""
    from eeecs485_p4_mapreduce_spark.streaming.jobs import spool_events

    spool = tempfile.mkdtemp(prefix="p4spark_restart_")
    pending = tempfile.mkdtemp(prefix="p4spark_restart_pend_")
    spool_events(spark, sf_dir, spool)
    staged = sorted(Path(spool).glob("events-000*.parquet"))
    df_all = spark.read.parquet(*[str(p) for p in staged])
    df_all.filter(F.expr("event_id % 2 = 0")).write.mode(
        "overwrite"
    ).parquet(str(Path(spool) / "slice-0.parquet"))
    # slice-1 is FULLY WRITTEN now (the source files vanish below) but
    # parked outside the stream's glob until pass 2
    df_all.filter(F.expr("event_id % 2 = 1")).write.mode(
        "overwrite"
    ).parquet(str(Path(pending) / "slice-1.parquet"))
    for pth in staged:
        pth.unlink()

    out_dir = tempfile.mkdtemp(prefix="p4spark_restart_out_")
    ckpt = tempfile.mkdtemp(prefix="p4spark_restart_ckpt_")
    schema = read_parquet_cached(spark, str(Path(spool) / "slice-0.parquet")).schema

    def merge_batch(batch_df, batch_id: int) -> None:
        # batch-keyed partials (the staged_r14 DLQ-sink rule): a
        # replayed micro-batch overwrites ITS OWN subdirectory instead
        # of appending a second copy — the counter stays exactly-once
        # even though foreachBatch is at-least-once. Batch ids keep
        # counting across the restart (that is what the checkpoint
        # stores), so pass-2 partials never collide with pass-1's.
        (
            batch_df.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(
                    F.expr("cast(round(value * 100, 0) as bigint)")
                ).alias("sum_cents"),
            )
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch={batch_id}")
        )

    def run_once() -> None:
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(spool + "/*.parquet")
            .writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # pass 1: slice-0 only
    shutil.move(
        str(Path(pending) / "slice-1.parquet"),
        str(Path(spool) / "slice-1.parquet"),
    )
    run_once()  # pass 2, same checkpoint: must process ONLY slice-1
    shutil.rmtree(spool, ignore_errors=True)
    shutil.rmtree(pending, ignore_errors=True)
    out = (
        read_parquet_cached(spark, out_dir)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_cents").alias("sum_cents"),
        )
        .localCheckpoint()
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out
