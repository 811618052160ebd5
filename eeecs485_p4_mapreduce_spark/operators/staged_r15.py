"""REGISTERED batch (promoted via ``registry.load_all``; first driver
rows expected in CORRECTNESS_r08, same round it was built — the full
staging discipline ran in-session before the flip).

Staging discipline shared with operators/staged_r9–r14: built, pytest
hash-checked against DuckDB at sf0.001 AND sf0.01
(tests/test_staged_r15.py), fixture-tested with independent
references, plan-gate swept, x10+x100 replica-probed sub-linear, and
vanilla-session gate-checked under TZ=America/New_York BEFORE
registration. Same contract as every registered query: identical
aliases both sides, round()-ed or integer-exact outputs, no nullable
hash-bearing columns.

Surface:

- ``q100_user_streaks`` — longest consecutive-active-day streak per
  user (gaps-and-islands on the per-user day grid), reported as a
  streak-length census so the output is bounded by the time domain.
- ``q101_rolling_median`` — EXACT 7-day trailing rolling median of
  daily per-type cents (RANGE frame over the bounded day table; the
  doubled-median trick keeps both engines in BIGINT).
- ``q102_independence_audit`` — deviation-from-independence audit of
  the event_type × weekday contingency table in exact ppm arithmetic
  (the total-variation shape of a chi-square screen, with no float
  division anywhere).
- ``sim_radius_search`` — RANGE similarity query (all neighbors with
  cosine >= tau), the vector-DB API shape the top-k family doesn't
  cover; zero-match queries emit explicit empty rows.
- ``curate_length_curriculum`` — curriculum-ordering positions
  (easy-first by length bucket) assigned via a distributed two-level
  prefix sum instead of a global sort; the per-bucket contiguity and
  permutation-sum columns are the proof the order is a real total
  order.
- ``ta_code_detect`` — code-vs-prose classification from integer
  regex-count signals (brace/semicolon density, indented lines,
  keyword hits) — the corpus-separation gate every code-aware LLM
  data pipeline runs.
- ``mm_ico_directory`` — REAL ICO icon-container walk: ICONDIR +
  ICONDIRENTRY records with mixed embedded-PNG and raw-DIB payloads,
  each entry's dims cross-checked against its payload's own header.
- ``mm_id3_tags`` — REAL ID3v2.3 tag parse (syncsafe header size,
  NON-syncsafe v2.3 frame sizes — the classic trap — ISO-8859-1 text
  frames, zero padding): the music-metadata modality mm_mp3_frames
  deliberately skips.
- ``stream_lateness_audit`` — streaming late-data accounting: a
  deterministic two-slice replay (on-time slice, then late slice)
  through a foreachBatch watermark gate; rows older than the
  watermark minus the allowed lateness are ROUTED to a dropped-late
  counter instead of vanishing — the observability contract
  watermarked pipelines owe their operators.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from eeecs485_p4_mapreduce_spark.catalog import (
    load_table,
    pin_disk,
    read_parquet_cached,
)
from eeecs485_p4_mapreduce_spark.registry import query

# ---------------------------------------------------------------------------
# q100: longest activity streak per user. distinct (user, epoch-day)
# -> islands via the day - row_number() constant (window partitioned
# per user, bounded by the user's distinct days <= the time domain)
# -> per-island lengths -> per-user best -> a streak-length census
# (the leaderboard shape that stays bounded at any corpus size).
# ---------------------------------------------------------------------------
Q100_ORACLE = """
    WITH days AS (
      SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 AS day
      FROM events
    ), isl AS (
      SELECT user_id, day,
             day - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS grp
      FROM days
    ), runs AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS len
      FROM isl GROUP BY user_id, grp
    ), best AS (
      SELECT user_id, max(len) AS best FROM runs GROUP BY user_id
    )
    SELECT CAST(best AS BIGINT) AS streak_days,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(user_id) AS BIGINT) AS first_user
    FROM best GROUP BY 1
"""


@query("q100_user_streaks", oracle=Q100_ORACLE)
def q100_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day streak census (see section comment)."""
    events = load_table(spark, sf_dir, "events")
    days = events.select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    ).distinct()
    isl = days.withColumn(
        "grp",
        F.col("day")
        - F.row_number().over(
            Window.partitionBy("user_id").orderBy("day")
        ),
    )
    runs = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len")
    )
    best = runs.groupBy("user_id").agg(F.max("len").alias("best"))
    return best.groupBy(F.col("best").alias("streak_days")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("user_id").alias("first_user"),
    )


# ---------------------------------------------------------------------------
# q101: exact 7-day trailing rolling median of daily cents per type.
# The window runs over the DAY table (bounded by the time domain — the
# q24 rule), RANGE-framed on the day index so calendar gaps shrink the
# window instead of silently stretching it. Exactness: Spark extracts
# the two middle elements of the sorted in-frame list and sums them;
# DuckDB doubles its interpolating median — (a+b)/2 * 2 == a + b in
# IEEE because /2 is exact, so both sides emit the identical BIGINT.
# Overflow ceiling for THAT identity: DuckDB's median computes (a+b)/2
# in DOUBLE, so it is exact only while a + b < 2^53 (~9.0e15), i.e.
# daily per-type cent sums below ~4.5e15 (~45 trillion dollars/day);
# Spark's a + b stays exact BIGINT throughout, so past that bound the
# engines silently diverge. The x100 replica audit tops out around
# 1e11 cents/day — 4 orders of magnitude of headroom — but re-check
# this bound (like the int64 audits elsewhere) on any future scale-up.
# ---------------------------------------------------------------------------
Q101_ORACLE = """
    WITH daily AS (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(day AS BIGINT) AS day,
           CAST(count(*) OVER w AS BIGINT) AS n_in_window,
           CAST(2 * median(cents) OVER w AS BIGINT) AS med2x_cents
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


@query("q101_rolling_median", oracle=Q101_ORACLE)
def q101_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 7-day trailing rolling median of daily cents (see section
    comment)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    ).agg(
        F.sum(F.expr("cast(round(value * 100, 0) as bigint)")).alias(
            "cents"
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-6, 0)
    )
    return daily.withColumn(
        "arr", F.sort_array(F.collect_list("cents").over(w))
    ).selectExpr(
        "event_type",
        "cast(day as bigint) as day",
        "cast(size(arr) as bigint) as n_in_window",
        "cast(element_at(arr, cast((size(arr) - 1) div 2 + 1 as int))"
        " + element_at(arr, cast(size(arr) div 2 + 1 as int)) as bigint)"
        " as med2x_cents",
    )


# ---------------------------------------------------------------------------
# q102: independence audit of the event_type x weekday contingency
# table — does the traffic mix shift by day of week? Exact ppm
# arithmetic end to end: obs_ppm = cell*1e6 div n, exp_ppm =
# (rowshare_ppm * colshare_ppm) div 1e6, dev = obs - exp (the
# total-variation shape of a chi-square screen with zero float
# division). Weekday from pure epoch-day math ((d + 4) % 7, day 0 =
# Thursday) so neither engine consults a timezone or locale. Overflow
# audit (the ta_char_gini rule): cell <= n ~ 6e9 at x100, cell * 1e6
# ~ 6e15 << 2^63; shares <= 1e6 so their product <= 1e12.
# ---------------------------------------------------------------------------
Q102_ORACLE = """
    WITH base AS (
      SELECT event_type,
             CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT)
               AS weekday
      FROM events
    ), obs AS (
      SELECT event_type, weekday, CAST(count(*) AS BIGINT) AS n_cell
      FROM base GROUP BY 1, 2
    ), rt AS (
      SELECT event_type, CAST(sum(n_cell) AS BIGINT) AS n_type
      FROM obs GROUP BY 1
    ), ct AS (
      SELECT weekday, CAST(sum(n_cell) AS BIGINT) AS n_wd
      FROM obs GROUP BY 1
    ), tot AS (SELECT CAST(sum(n_cell) AS BIGINT) AS n FROM obs)
    SELECT o.event_type, o.weekday, o.n_cell,
           CAST(o.n_cell * 1000000 // n AS BIGINT) AS obs_ppm,
           CAST(((r.n_type * 1000000 // n) * (c.n_wd * 1000000 // n))
                // 1000000 AS BIGINT) AS exp_ppm,
           CAST(o.n_cell * 1000000 // n
                - ((r.n_type * 1000000 // n) * (c.n_wd * 1000000 // n))
                  // 1000000 AS BIGINT) AS dev_ppm
    FROM obs o JOIN rt r USING (event_type) JOIN ct c USING (weekday),
         tot
"""


@query("q102_independence_audit", oracle=Q102_ORACLE)
def q102_independence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-ppm deviation-from-independence table (see section
    comment)."""
    events = load_table(spark, sf_dir, "events")
    obs = events.groupBy(
        "event_type",
        F.expr(
            "cast((unix_micros(ts) div 86400000000 + 4) % 7 as bigint)"
        ).alias("weekday"),
    ).agg(F.count(F.lit(1)).alias("n_cell"))
    obs = obs.localCheckpoint(eager=False)  # feeds three aggregations + the join
    rt = obs.groupBy("event_type").agg(F.sum("n_cell").alias("n_type"))
    ct = obs.groupBy("weekday").agg(F.sum("n_cell").alias("n_wd"))
    tot = obs.agg(F.sum("n_cell").alias("n"))
    return (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "weekday")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "event_type",
            "weekday",
            "n_cell",
            "n_cell * 1000000 div n AS obs_ppm",
            "((n_type * 1000000 div n) * (n_wd * 1000000 div n))"
            " div 1000000 AS exp_ppm",
            "n_cell * 1000000 div n"
            " - ((n_type * 1000000 div n) * (n_wd * 1000000 div n))"
            "   div 1000000 AS dev_ppm",
        )
    )


# ---------------------------------------------------------------------------
# sim_radius_search: the RANGE query of the vector API — every
# neighbor whose cosine clears tau, per query vector. Scale shape is
# the bruteforce family's: the tiny query set broadcasts, the corpus
# never shuffles, and the per-query aggregate is a plain map-side-
# combinable groupBy (no window). Queries with NO neighbor in radius
# still emit a row (left join from the query list) — silence and
# zero-matches are different answers. The raw threshold compare is
# engine-consistent because both sides fold the dot product in the
# same sequential order (the established sim-family determinism).
# ---------------------------------------------------------------------------
RADIUS_TAU = 0.3
RADIUS_N_QUERIES = 8

_DUCK_RCOS = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
    "    * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)

SIM_RADIUS_ORACLE = f"""
    WITH m AS (
      SELECT a.vec_id AS query_id, b.vec_id AS nb, {_DUCK_RCOS} AS cos
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {RADIUS_N_QUERIES} AND {_DUCK_RCOS} >= {RADIUS_TAU}
    ), agg AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(nb) AS BIGINT) AS s,
             round(max(cos), 4) + 0.0 AS mx
      FROM m GROUP BY 1
    )
    SELECT q.vec_id AS query_id,
           CAST(coalesce(agg.n, 0) AS BIGINT) AS n_in_radius,
           CAST(coalesce(agg.s, 0) AS BIGINT) AS sum_neighbor_ids,
           coalesce(agg.mx, -2.0) AS max_cosine
    FROM (SELECT vec_id FROM embeddings WHERE vec_id < {RADIUS_N_QUERIES}) q
    LEFT JOIN agg ON agg.query_id = q.vec_id
"""


@query("sim_radius_search", oracle=SIM_RADIUS_ORACLE)
def sim_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine radius (range) search (see section comment)."""
    from eeecs485_p4_mapreduce_spark.operators.similarity import (
        _emb_with_norm,
    )

    # emb feeds the query side, the candidate side, and the zero-match
    # left-join anchor — pin it so the embedding load runs once (the
    # sim_pq_search precedent from this same module family). Full
    # embedding table: DISK_ONLY persist keeps lineage — see SCALE.md.
    emb = _emb_with_norm(spark, sf_dir).transform(pin_disk)
    queries = emb.filter(F.col("vec_id") < RADIUS_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    cand = emb.select(F.col("vec_id").alias("nb"), "v", "norm")
    dot = F.expr(
        "aggregate(zip_with(qv, v, (x, y) -> x * y), 0.0d,"
        " (acc, x) -> acc + x)"
    )
    matches = (
        cand.join(
            F.broadcast(queries), F.col("nb") != F.col("query_id")
        )
        .withColumn("cos", dot / (F.col("qnorm") * F.col("norm")))
        .filter(F.col("cos") >= RADIUS_TAU)
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("nb").alias("s"),
            (F.round(F.max("cos"), 4) + F.lit(0.0)).alias("mx"),
        )
    )
    qids = queries.select("query_id")
    return qids.join(matches, "query_id", "left").select(
        "query_id",
        F.coalesce("n", F.lit(0)).alias("n_in_radius"),
        F.coalesce("s", F.lit(0)).alias("sum_neighbor_ids"),
        F.coalesce("mx", F.lit(-2.0)).alias("max_cosine"),
    )


# ---------------------------------------------------------------------------
# curate_length_curriculum: curriculum learning order — easy (short)
# documents first — WITHOUT a global sort. Every doc gets its exact
# 1-based schedule position from a distributed two-level prefix sum:
# position = (count in lower buckets) + (count in lower superchunks of
# the same bucket) + (count in lower chunks of the same superchunk) +
# (rank within the <= CHUNK-row chunk). No window sees more than
# max(CHUNK, id_span/CHUNK^2 per bucket) rows; at CHUNK = 4096 the
# two-level layout covers id spans to ~7e13 before a third level (the
# same mechanical step) would be needed. The output proves the
# assignment IS a permutation: per bucket, min/max are contiguous with
# the bucket base and sum(pos) equals the arithmetic series — any
# duplicate or gap breaks one of them. The oracle just global-sorts.
# ---------------------------------------------------------------------------
_CURR_BUCKET = (
    "CASE WHEN n_chars < 150 THEN 0 WHEN n_chars < 300 THEN 1"
    " WHEN n_chars < 450 THEN 2 ELSE 3 END"
)
_CURR_CHUNK = 4096

CURATE_CURRICULUM_ORACLE = f"""
    WITH b AS (
      SELECT doc_id, {_CURR_BUCKET} AS bucket FROM documents
    ), pos AS (
      SELECT bucket,
             row_number() OVER (ORDER BY bucket, doc_id) AS pos
      FROM b
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(pos) AS BIGINT) AS first_pos,
           CAST(max(pos) AS BIGINT) AS last_pos,
           CAST(sum(pos) AS BIGINT) AS sum_pos
    FROM pos GROUP BY 1
"""


@query("curate_length_curriculum", oracle=CURATE_CURRICULUM_ORACLE)
def curate_length_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed curriculum-position assignment (see section
    comment)."""
    docs = load_table(spark, sf_dir, "documents")
    c = _CURR_CHUNK
    b = docs.selectExpr(
        "doc_id",
        f"{_CURR_BUCKET} AS bucket",
        f"doc_id div {c} AS chunk",
        f"doc_id div {c * c} AS sup",
    )
    # rank within the <= CHUNK-row (bucket, chunk) cell
    within = b.withColumn(
        "wrk",
        F.row_number().over(
            Window.partitionBy("bucket", "chunk").orderBy("doc_id")
        ),
    )
    # chunk counts -> exclusive prefix within each (bucket, sup)
    cc = b.groupBy("bucket", "sup", "chunk").agg(
        F.count(F.lit(1)).alias("cn")
    ).localCheckpoint(eager=False)  # feeds the chunk prefix AND the sup totals
    cpre = cc.withColumn(
        "cpre",
        F.sum("cn").over(
            Window.partitionBy("bucket", "sup").orderBy("chunk")
        )
        - F.col("cn"),
    ).select("bucket", "chunk", "cpre")
    # sup totals -> exclusive prefix within each bucket
    st = cc.groupBy("bucket", "sup").agg(F.sum("cn").alias("sn"))
    spre = st.withColumn(
        "spre",
        F.sum("sn").over(Window.partitionBy("bucket").orderBy("sup"))
        - F.col("sn"),
    ).select("bucket", "sup", "spre")
    # bucket bases: exclusive prefix over the <= 4 bucket totals
    bt = cc.groupBy("bucket").agg(F.sum("cn").alias("bn"))
    base = bt.withColumn(
        "base", F.sum("bn").over(Window.orderBy("bucket")) - F.col("bn")
    ).select("bucket", "base")
    pos = (
        within.join(F.broadcast(cpre), ["bucket", "chunk"])
        .join(F.broadcast(spre), ["bucket", "sup"])
        .join(F.broadcast(base), "bucket")
        .selectExpr("bucket", "base + spre + cpre + wrk AS pos")
    )
    return pos.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("pos").alias("first_pos"),
        F.max("pos").alias("last_pos"),
        F.sum("pos").alias("sum_pos"),
    )


# ---------------------------------------------------------------------------
# ta_code_detect: code-vs-prose gate from three integer signals per
# document — {};-symbol count, indented-line count, and code-keyword
# hits — combined into an exact ppm score against n_chars. All three
# are literal-class / literal-alternation regexes (no anchors, no
# backslash classes) so Java regex and RE2 agree by construction; the
# Spark patterns go through the Python API (F.lit) per the repo's
# backslash rule. The sf corpus is prose, so the graded table mostly
# exercises the prose side; the pytest fixture proves real code text
# lands in the code bucket.
# ---------------------------------------------------------------------------
_CODE_SYMBOLS = "[{};]"
# a newline followed by two spaces-or-tabs = an indented line
_CODE_INDENT = "\n[ \t][ \t]"
_CODE_KEYWORDS = (
    "(def |import |return |#include |void |function |struct |lambda )"
)
_CODE_THRESHOLD_PPM = 50000

TA_CODE_DETECT_ORACLE = f"""
    WITH sig AS (
      SELECT lang,
             CAST(greatest(n_chars, 1) AS BIGINT) AS nc,
             CAST(len(regexp_extract_all(text, '[{{}};]')) AS BIGINT)
               AS sym,
             CAST(len(regexp_extract_all(text,
                      chr(10) || '[ ' || chr(9) || '][ ' || chr(9) || ']'))
                  AS BIGINT) AS ind,
             CAST(len(regexp_extract_all(text, '{_CODE_KEYWORDS}'))
                  AS BIGINT) AS kw
      FROM documents
    ), scored AS (
      SELECT lang,
             (sym * 20 + ind * 50 + kw * 100) * 1000000 // nc AS ppm
      FROM sig
    )
    SELECT lang,
           CASE WHEN ppm >= {_CODE_THRESHOLD_PPM} THEN 'code'
                ELSE 'prose' END AS verdict,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ppm) AS BIGINT) AS sum_score_ppm,
           CAST(max(ppm) AS BIGINT) AS max_score_ppm
    FROM scored GROUP BY 1, 2
"""


@query("ta_code_detect", oracle=TA_CODE_DETECT_ORACLE)
def ta_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-signal code/prose classification (see section
    comment)."""
    docs = load_table(spark, sf_dir, "documents")
    sig = docs.select(
        "lang",
        F.greatest(F.col("n_chars"), F.lit(1)).alias("nc"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(_CODE_SYMBOLS), F.lit(0))
        ).cast("long").alias("sym"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(_CODE_INDENT), F.lit(0))
        ).cast("long").alias("ind"),
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit(_CODE_KEYWORDS), F.lit(0)
            )
        ).cast("long").alias("kw"),
    )
    scored = sig.selectExpr(
        "lang", "(sym * 20 + ind * 50 + kw * 100) * 1000000 div nc AS ppm"
    )
    return scored.groupBy(
        "lang",
        F.expr(
            f"CASE WHEN ppm >= {_CODE_THRESHOLD_PPM} THEN 'code'"
            " ELSE 'prose' END"
        ).alias("verdict"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ppm").alias("sum_score_ppm"),
        F.max("ppm").alias("max_score_ppm"),
    )


# ---------------------------------------------------------------------------
# mm_ico_directory: REAL ICO container walk (see encode_ico/parse_ico
# in multimodal.py). Per doc, 1 + d % 3 entries; entry i (k = d + i)
# is an embedded 16x16 PNG when k % 4 == 0 (the constant-content PNG
# whose compressed size is embedded below), else a raw 32-bpp DIB at
# 32/64/32 px for k % 4 = 1/2/3. The oracle mirrors the synthesis
# arithmetic; the walker cross-checks every entry's declared dims
# against the payload's own header, so the hash proves a REAL parse.
# ---------------------------------------------------------------------------
def _ico_png_body() -> bytes:
    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators.multimodal import encode_png

    return encode_png(np.zeros((16, 16, 3), dtype="uint8"))


# the constant-content PNG's compressed size, pinned as a literal so
# importing this module (registry.load_all does) never runs the PNG
# encoder; mm_ico_directory asserts the real encoder still agrees.
_ICO_PNG_LEN = 73
_ICO_DIB_32 = 40 + 32 * 32 * 4 + 4 * 32      # header + XOR + AND mask
_ICO_DIB_64 = 40 + 64 * 64 * 4 + 8 * 64

ICO_SCHEMA_FIELDS = (
    "media_id",
    "n_icons",
    "n_png",
    "n_dib",
    "sum_width",
    "max_bpp",
    "image_bytes",
    "file_bytes",
)

MM_ICO_ORACLE = f"""
    WITH e AS (
      SELECT doc_id, unnest(range(1 + doc_id % 3)) AS i FROM documents
    ), sized AS (
      SELECT doc_id,
             CASE (doc_id + i) % 4
               WHEN 0 THEN 16 WHEN 2 THEN 64 ELSE 32 END AS w,
             CASE (doc_id + i) % 4
               WHEN 0 THEN {_ICO_PNG_LEN}
               WHEN 2 THEN {_ICO_DIB_64}
               ELSE {_ICO_DIB_32} END AS sz,
             CASE WHEN (doc_id + i) % 4 = 0 THEN 1 ELSE 0 END AS is_png
      FROM e
    )
    SELECT doc_id AS media_id,
           CAST(count(*) AS BIGINT) AS n_icons,
           CAST(sum(is_png) AS BIGINT) AS n_png,
           CAST(count(*) - sum(is_png) AS BIGINT) AS n_dib,
           CAST(sum(w) AS BIGINT) AS sum_width,
           CAST(32 AS BIGINT) AS max_bpp,
           CAST(sum(sz) AS BIGINT) AS image_bytes,
           CAST(6 + 16 * count(*) + sum(sz) AS BIGINT) AS file_bytes
    FROM sized GROUP BY doc_id
"""


@query("mm_ico_directory", oracle=MM_ICO_ORACLE)
def mm_ico_directory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: build an ICO container and re-walk it with the
    real parser (see section comment). Zero-shuffle Arrow mapInPandas
    via the shared media_walk_query scaffold."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_ico,
        media_walk_query,
        parse_ico,
    )

    png_body = _ico_png_body()
    if len(png_body) != _ICO_PNG_LEN:  # keep the oracle literal honest
        raise AssertionError(
            f"PNG body length {len(png_body)} != oracle literal"
            f" {_ICO_PNG_LEN}"
        )

    def per_doc(d: int) -> dict:
        entries = []
        for i in range(1 + d % 3):
            cls = (d + i) % 4
            if cls == 0:
                entries.append((16, 16, 32, "png", png_body))
            else:
                w = 64 if cls == 2 else 32
                entries.append((w, w, 32, "dib", b""))
        return parse_ico(encode_ico(entries))

    return media_walk_query(spark, sf_dir, ICO_SCHEMA_FIELDS, per_doc)


# ---------------------------------------------------------------------------
# mm_id3_tags: REAL ID3v2.3 parse (see encode_id3v2/parse_id3v2 in
# multimodal.py). Per doc: TIT2 "title-<d>", TPE1 "artist-<d%97>",
# TRCK <1 + d%12>, plus TALB "album-<d%53>" on odd docs, padded with
# d % 33 zero bytes. Every emitted column comes from the parse; the
# oracle recomputes the byte arithmetic with len(CAST(...)) so variable
# decimal widths are exact at any doc_id magnitude (no fixed-width
# assumption — the probe-ids lesson).
# ---------------------------------------------------------------------------
ID3_SCHEMA_FIELDS = (
    "media_id",
    "n_frames",
    "frame_bytes",
    "tag_bytes",
    "padding_bytes",
    "title_len",
    "artist_len",
    "track_no",
)

MM_ID3_ORACLE = """
    WITH p AS (
      SELECT doc_id,
             6 + len(CAST(doc_id AS VARCHAR)) AS tlen,
             7 + len(CAST(doc_id % 97 AS VARCHAR)) AS alen,
             len(CAST(1 + doc_id % 12 AS VARCHAR)) AS klen,
             doc_id % 2 AS has_alb,
             6 + len(CAST(doc_id % 53 AS VARCHAR)) AS blen,
             doc_id % 33 AS pad
      FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(3 + has_alb AS BIGINT) AS n_frames,
           CAST((11 + tlen) + (11 + alen) + (11 + klen)
                + has_alb * (11 + blen) AS BIGINT) AS frame_bytes,
           CAST(10 + (11 + tlen) + (11 + alen) + (11 + klen)
                + has_alb * (11 + blen) + pad AS BIGINT) AS tag_bytes,
           CAST(pad AS BIGINT) AS padding_bytes,
           CAST(tlen AS BIGINT) AS title_len,
           CAST(alen AS BIGINT) AS artist_len,
           CAST(1 + doc_id % 12 AS BIGINT) AS track_no
    FROM p
"""


@query("mm_id3_tags", oracle=MM_ID3_ORACLE)
def mm_id3_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: build an ID3v2.3 tag and re-parse it with the real
    parser (see section comment). Zero-shuffle Arrow mapInPandas via
    the shared media_walk_query scaffold."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_id3v2_tag,
        media_walk_query,
        parse_id3v2,
    )

    def per_doc(d: int) -> dict:
        frames = [
            ("TIT2", f"title-{d}"),
            ("TPE1", f"artist-{d % 97}"),
            ("TRCK", str(1 + d % 12)),
        ]
        if d % 2:
            frames.append(("TALB", f"album-{d % 53}"))
        return parse_id3v2(encode_id3v2_tag(frames, padding=d % 33))

    return media_walk_query(spark, sf_dir, ID3_SCHEMA_FIELDS, per_doc)


# ---------------------------------------------------------------------------
# stream_lateness_audit: late-data accounting through a watermark
# gate. The spool is split into exactly two single-file slices — the
# on-time slice (event_id % 11 != 0) and the late slice (the rest) —
# replayed one file per trigger in slice order (single part files +
# monotonic mtimes pin the file source's (mtime, path) ordering).
# foreachBatch keeps a stored max-event-time; rows FLAGGED late whose
# event time is older than that maximum minus the allowed lateness
# (1 h) are counted into a dropped-late column instead of merging —
# nothing vanishes silently (the streaming twin of the q98 malformed-
# CSV rescue, for time instead of syntax). Batch 1 therefore gates the
# late slice against the watermark established by the full on-time
# slice, which is exactly what the batch oracle recomputes. Counters
# are sum-merged (associative + commutative), so the replay is
# batching-insensitive WITHIN each slice; only the slice boundary
# carries semantics, and that boundary is pinned by construction.
# ---------------------------------------------------------------------------
_LATE_ALLOW_US = 3_600_000_000

STREAM_LATENESS_ORACLE = f"""
    WITH base AS (
      SELECT event_type, epoch_us(ts) AS us,
             CAST(round(value * 100, 0) AS BIGINT) AS cents,
             (event_id % 11 = 0) AS flagged
      FROM events
    ), wm AS (
      SELECT max(us) - {_LATE_ALLOW_US} AS w FROM base WHERE NOT flagged
    )
    SELECT event_type,
           CAST(sum(CASE WHEN flagged AND us < w THEN 0 ELSE 1 END)
                AS BIGINT) AS n_accepted,
           CAST(sum(CASE WHEN flagged AND us < w THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped_late,
           CAST(sum(CASE WHEN flagged AND us < w THEN 0 ELSE cents END)
                AS BIGINT) AS sum_accepted_cents
    FROM base, wm GROUP BY 1
"""


@query("stream_lateness_audit", oracle=STREAM_LATENESS_ORACLE)
def stream_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming lateness accounting (see section comment)."""
    from eeecs485_p4_mapreduce_spark.streaming.jobs import spool_events
    from eeecs485_p4_mapreduce_spark.streaming.queries import cached_layout

    def build(sp, d_: str) -> None:
        spool_events(sp, sf_dir, d_)
        staged = sorted(Path(d_).glob("events-000*.parquet"))
        df_all = sp.read.parquet(*[str(p) for p in staged])
        # exactly ONE part file per slice so slice == micro-batch
        df_all.filter(F.expr("event_id % 11 != 0")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(Path(d_) / "slice-0.parquet"))
        df_all.filter(F.expr("event_id % 11 = 0")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(Path(d_) / "slice-1.parquet"))
        for pth in staged:
            pth.unlink()
        now = time.time()
        for j, sl in enumerate(("slice-0.parquet", "slice-1.parquet")):
            for part in Path(d_, sl).glob("*.parquet"):
                os.utime(part, (now + 60 * j, now + 60 * j))

    # cached: the monotonic mtimes that pin slice order are set at build
    # time and never change, so every reuse replays the same two batches
    spool = cached_layout(spark, sf_dir, "late2slice", build)

    out_dir = tempfile.mkdtemp(prefix="p4spark_late_out_")
    wm_dir = tempfile.mkdtemp(prefix="p4spark_late_wm_")
    ckpt = tempfile.mkdtemp(prefix="p4spark_late_ckpt_")

    def merge_batch(batch_df, batch_id: int) -> None:
        # foreachBatch is AT-LEAST-ONCE: every write below is keyed by
        # batch_id (mode overwrite into batch=<id>), so a replayed
        # micro-batch rewrites ITS OWN partials instead of appending a
        # second copy — the staged_r14 DLQ-sink rule. The watermark gate
        # reads only PRIOR batches' maxima (batch < batch_id), which is
        # replay-stable: a re-run of batch 1 never sees its own max.
        sp = batch_df.sparkSession
        b = batch_df.select(
            "event_type",
            F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
            F.expr("cast(round(value * 100, 0) as bigint)").alias(
                "cents"
            ),
            F.expr("event_id % 11 = 0").alias("flagged"),
        ).localCheckpoint()  # two consumers: the partial agg + the max
        if any(Path(wm_dir).glob("batch=*")):
            # base-dir read: partition discovery turns batch=<id> into
            # a batch column (a glob path makes the reader log WARN
            # FileStreamSink probes on every call)
            prev_max = (
                read_parquet_cached(sp, wm_dir)
                .filter(F.col("batch") < batch_id)
                .agg(F.max("max_us"))
                .collect()[0][0]
            )
        else:
            prev_max = None
        if prev_max is None:
            dropped = F.lit(False)
        else:
            dropped = F.col("flagged") & (
                F.col("us") < F.lit(prev_max - _LATE_ALLOW_US)
            )
        (
            b.withColumn("dropped", dropped)
            .groupBy("event_type")
            .agg(
                F.sum(F.expr("if(dropped, 0, 1)")).alias("n_accepted"),
                F.sum(F.expr("if(dropped, 1, 0)")).alias(
                    "n_dropped_late"
                ),
                F.sum(F.expr("if(dropped, 0, cents)")).alias(
                    "sum_accepted_cents"
                ),
            )
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch={batch_id}")
        )
        batch_max = b.agg(F.max("us")).collect()[0][0]
        # batch lives in the directory name only (partition discovery
        # surfaces it on read; storing it again would collide)
        sp.createDataFrame(
            [(batch_max,)], "max_us long"
        ).write.mode("overwrite").parquet(f"{wm_dir}/batch={batch_id}")

    q = (
        spark.readStream.schema(
            read_parquet_cached(spark, str(Path(spool) / "slice-0.parquet")).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(spool + "/*.parquet")
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # spool is a cached layout (streaming.queries._LAYOUT_CACHE) — keep it
    # fold the per-batch partials (sum-merge is associative, so the
    # batch-keyed layout costs nothing semantically)
    out = (
        read_parquet_cached(spark, out_dir)
        .groupBy("event_type")
        .agg(
            F.sum("n_accepted").alias("n_accepted"),
            F.sum("n_dropped_late").alias("n_dropped_late"),
            F.sum("sum_accepted_cents").alias("sum_accepted_cents"),
        )
        .localCheckpoint()
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(wm_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out
