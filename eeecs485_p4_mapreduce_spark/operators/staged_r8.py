"""The round-8 registration batch (implemented + oracle-proven in
round 7, registered via ``registry.load_all``).

These nine were built, pytest hash-checked against DuckDB
(tests/test_staged_r8.py), plan-gate compliant, and x10-probed one
round before registration — the staging discipline the round-4 verdict
set (≤10 new queries per round so the driver's 50-slot
least-recently-green window keeps cycling the proven block every ~4
rounds). Same contract as every registered query: identical aliases
both sides, round()-ed or integer-exact outputs, no nullable
hash-bearing columns.

Batch surface:

- ``q78_bom_explosion`` — recursive hierarchy roll-up (BOM explosion):
  parts form a synthetic 8-ary parent tree and per-path quantity
  products roll costs up to each root. Spark side is GENERIC pointer
  doubling over an edge table (O(log depth) self-joins, the transitive-
  closure technique dedup_cc_clusters uses for components), never the
  O(depth) naive loop; the oracle is DuckDB's native WITH RECURSIVE.
- ``q79_event_pattern`` — MATCH_RECOGNIZE-style sequence pattern
  counts: each user's ts-ordered event types become a character string
  (c/e/p/s/v) and three regex patterns (adjacent conversion, conversion
  with click/error noise, signup-to-first-purchase) are counted per
  user with non-overlapping leftmost matching — identical semantics in
  Java regex and RE2 for these backtrack-free patterns.
- ``q80_skyline_orders`` — 3-D skyline (Pareto frontier: maximize
  price, minimize date, minimize priority rank) over distinct
  (prio, date, cents) points. Both sides use the quadrant-running-max
  characterization (a deduped point is on the skyline iff it strictly
  tops every point in its dominance quadrant), which is O(n log n) —
  the NOT EXISTS all-pairs oracle was measured >180 s at sf0.01 and
  rejected. A constructed fixture pins the tie cases independently.
- ``q81_decayed_engagement`` — exponential time-decay scoring (the
  feature-store recency weight): score = sum(value_cents * 2^(-age/14d))
  with the decay factor rounded to integer micros per row BEFORE the
  sum, so aggregation is exact BIGINT and shuffle-order-proof.
- ``ta_textrank_keywords`` — TextRank (Mihalcea & Tarau 2004) over the
  corpus co-occurrence graph: damped power iteration, 3 rounds, in
  integer fixed-point (per-edge floor division) so both engines agree
  bit-for-bit with no float accumulation anywhere.
- ``curate_domain_temperature`` — temperature-scaled domain mixture
  (the multinomial sampling weights LLM data recipes use, tau = 0.7):
  per-source weight n_docs^tau normalized into integer ppm shares and
  an implied epochs-per-domain for a one-epoch token budget.
- ``mm_mp4_boxes`` — REAL ISO BMFF (MP4) container walk: each document
  synthesizes an ftyp/moov/trak/mdat box tree (including a 64-bit
  largesize mdat on every 5th doc) and the executors re-parse it with a
  strict recursive box walker; emitted columns come from the PARSE.
- ``mm_mp3_frames`` — REAL MPEG-1 Layer III frame-header walk: an
  ID3v2-tagged stream of variable-bitrate frames is built per document
  and parsed back (syncsafe tag skip, bitrate/padding tables, frame
  length arithmetic); duration and byte totals come from the walk.
- ``stream_quantile_histogram`` — streaming exact quantiles from
  mergeable state: foreachBatch merges per-(event_type, bucket) counts
  into a stored histogram snapshot (the mergeable-sketch pattern), and
  the final answer interpolates the exact bucket median from the
  merged histogram — order-insensitive, so replay-deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eeecs485_p4_mapreduce_spark.catalog import (
    load_table,
    spread_small_source,
)
from eeecs485_p4_mapreduce_spark.registry import query

# ---------------------------------------------------------------------------
# q78: BOM explosion / recursive hierarchy roll-up. TPC-H has no
# hierarchy column, so one is synthesized from arithmetic everyone can
# recompute: node = p_partkey, parent(node) = node div 8 for node >= 8,
# roots are partkeys 0..7; the edge into a node carries quantity
# 1 + node % 3 and each node costs round(p_retailprice * 100) cents.
# The REGISTERED computation never exploits the div-8 structure: it
# builds an (node, parent, qty) edge table and runs generic pointer
# doubling — after k rounds each node's pointer reaches its 2^k-th
# ancestor (saturating at the root, whose pointer self-loops), carrying
# the hop count and the exact product of edge quantities. 4 rounds
# cover depth <= 16 = 8^16 parts; each round is ONE self-join shuffle,
# so 100 TB cost is O(log depth) shuffles vs O(depth) for the naive
# loop the oracle runs. Products stay tiny (qty <= 3, depth <= 16).
# ---------------------------------------------------------------------------
Q78_ORACLE = """
    WITH RECURSIVE walk AS (
      SELECT p_partkey AS root, p_partkey AS node, 0 AS depth,
             CAST(1 AS BIGINT) AS prod
      FROM part WHERE p_partkey < 8
      UNION ALL
      SELECT w.root, p.p_partkey, w.depth + 1,
             w.prod * (1 + p.p_partkey % 3)
      FROM walk w
      JOIN part p ON p.p_partkey // 8 = w.node AND p.p_partkey >= 8
    )
    SELECT w.root,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(max(w.depth) AS BIGINT) AS max_depth,
           CAST(sum(w.prod) AS BIGINT) AS total_weight,
           CAST(sum(w.prod * CAST(round(p.p_retailprice * 100, 0)
                                  AS BIGINT)) AS BIGINT)
             AS rolled_cost_cents
    FROM walk w JOIN part p ON p.p_partkey = w.node
    GROUP BY w.root
"""


@query("q78_bom_explosion", oracle=Q78_ORACLE)
def q78_bom_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll every part up to its root assembly (see section comment):
    generic pointer doubling over an (node, parent, qty) edge table.
    State rows are (node, ptr, depth, prod); each round joins the state
    to itself on ptr = node, composing pointer jumps; roots self-loop
    with (depth 0, prod 1) so saturated rows are fixpoints. 4 rounds =
    4 shuffles regardless of data size (depth grows with log8 of part
    count); localCheckpoint between rounds keeps the plan O(1) deep."""
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"),
        F.expr("cast(round(p_retailprice * 100, 0) as bigint)").alias(
            "cents"
        ),
    )
    state = part.select(
        "node",
        F.when(F.col("node") < 8, F.col("node"))
        .otherwise(F.expr("node div 8"))
        .alias("ptr"),
        F.when(F.col("node") < 8, F.lit(0)).otherwise(F.lit(1)).alias(
            "depth"
        ),
        F.when(F.col("node") < 8, F.lit(1))
        .otherwise(1 + F.col("node") % 3)
        .cast("long")
        .alias("prod"),
    )
    for _ in range(4):  # 2^4 = 16 >= any realistic tree depth (8^16 parts)
        jump = state.select(
            F.col("node").alias("j_node"),
            F.col("ptr").alias("j_ptr"),
            F.col("depth").alias("j_depth"),
            F.col("prod").alias("j_prod"),
        )
        state = (
            state.join(jump, state["ptr"] == jump["j_node"])
            .select(
                "node",
                F.col("j_ptr").alias("ptr"),
                (F.col("depth") + F.col("j_depth")).alias("depth"),
                (F.col("prod") * F.col("j_prod")).alias("prod"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        state.join(part, "node")
        .groupBy(F.col("ptr").alias("root"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.max("depth").cast("long").alias("max_depth"),
            F.sum("prod").alias("total_weight"),
            F.sum(F.col("prod") * F.col("cents")).alias(
                "rolled_cost_cents"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q79: sequence pattern matching (the MATCH_RECOGNIZE workload). Each
# user's events, ordered by (ts, event_id), become one character per
# event — the FIRST LETTER of the event type, which is unique across
# the five types (click/error/purchase/signup/view -> c/e/p/s/v) and
# asserted so by a guard both sides share (a non-matching type would
# change the alphabet silently). Patterns are backtrack-free (no
# nested quantifiers, no alternation overlap), so Java regex (Spark)
# and RE2 (DuckDB) both produce the same non-overlapping leftmost-
# greedy match count. Per-user strings are bounded by per-user event
# counts (the q19-sessionize bound); at 100 TB the concat happens
# after one shuffle on user_id and each pattern pass is a map-side
# regexp over the per-user strings.
# ---------------------------------------------------------------------------
Q79_PATTERNS = (
    ("adjacent_conversion", "vp"),
    ("noisy_conversion", "v[ce]*p"),
    ("signup_to_purchase", "s[^p]*p"),
)

Q79_ORACLE = f"""
    WITH seqs AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS s
      FROM events GROUP BY user_id
    ), pats(pattern_name, pattern) AS (
      VALUES {", ".join(f"('{n}', '{p}')" for n, p in Q79_PATTERNS)}
    ), hits AS (
      SELECT pattern_name, pattern,
             len(regexp_extract_all(s, pattern)) AS m
      FROM seqs CROSS JOIN pats
    )
    SELECT pattern_name, pattern,
           CAST(sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_users_matched,
           CAST(sum(m) AS BIGINT) AS total_matches,
           CAST(max(m) AS BIGINT) AS max_matches_per_user
    FROM hits GROUP BY pattern_name, pattern
"""


@query("q79_event_pattern", oracle=Q79_ORACLE)
def q79_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count non-overlapping regex pattern matches over each user's
    ts-ordered event-type string (see section comment). The per-user
    string is built once (sort_array over collected (ts, event_id,
    char) structs — deterministic total order) and checkpointed so the
    three pattern passes don't recompute the shuffle; Spark requires
    regex literals to be foldable, so each pattern is its own map-side
    pass unioned at the end (3 scans of the tiny per-user table, not 3
    shuffles)."""
    events = load_table(spark, sf_dir, "events")
    seqs = (
        events.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                "ts",
                                "event_id",
                                F.substring("event_type", 1, 1).alias(
                                    "ch"
                                ),
                            )
                        )
                    ),
                    lambda s: s["ch"],
                ),
                "",
            ).alias("s")
        )
        .localCheckpoint(eager=False)
    )
    parts = []
    for name, pat in Q79_PATTERNS:
        m = F.size(F.regexp_extract_all(F.col("s"), F.lit(pat), F.lit(0)))
        parts.append(
            seqs.select(m.alias("m")).agg(
                F.lit(name).alias("pattern_name"),
                F.lit(pat).alias("pattern"),
                F.sum(F.when(F.col("m") > 0, 1).otherwise(0)).alias(
                    "n_users_matched"
                ),
                F.sum("m").cast("long").alias("total_matches"),
                F.max("m").cast("long").alias("max_matches_per_user"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# q80: 3-D skyline (Pareto frontier) of orders: maximize o_totalprice,
# minimize o_orderdate, minimize priority rank (1-URGENT best). Points
# are the distinct (prio, date, cents) triples with their order counts;
# p dominates q iff p is <=/>= q on every axis and differs somewhere.
# Characterization used by BOTH sides (proved in the docstring of the
# fixture test): expand each point to every priority level lv >= prio
# (a point constrains the skyline of its own and all laxer levels);
# within a level, a point is on the skyline iff its cents equals the
# running quadrant max over dates (default RANGE frame — date peers
# included, identically in Spark and DuckDB) AND it is the ONLY
# quadrant point attaining its cents value. This is O(n log n) over
# the deduped point histogram — the all-pairs NOT EXISTS oracle was
# measured >180 s on sf0.01's 15k points and rejected. The windows run
# over aggregated points, never raw orders (the q24 rule); the 5-way
# level expansion bounds window parallelism at 5 tasks, which is fine
# because the input is the (prio, date, cents) HISTOGRAM — production
# data would coarsen cents into buckets to keep that histogram small.
# ---------------------------------------------------------------------------
Q80_ORACLE = """
    WITH pts AS (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS prio,
             strftime(o_orderdate, '%Y-%m-%d') AS order_date,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1, 2, 3
    ), expanded AS (
      SELECT p.*, l.lv
      FROM pts p, LATERAL (SELECT unnest(range(p.prio, 6)) AS lv) l
    ), flagged AS (
      SELECT prio, order_date, price_cents, n_orders, lv,
             max(price_cents) OVER (PARTITION BY lv ORDER BY order_date)
               AS quad_max,
             count(*) OVER (PARTITION BY lv, price_cents
                            ORDER BY order_date) AS n_at_cents
      FROM expanded
    )
    SELECT prio, order_date, price_cents, n_orders
    FROM flagged
    WHERE lv = prio AND price_cents = quad_max AND n_at_cents = 1
"""


@query("q80_skyline_orders", oracle=Q80_ORACLE)
def q80_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal orders in (price up, date down, priority down)
    via the quadrant-running-max characterization (section comment).
    One aggregate builds the point histogram; a 5-way level expansion
    plus two default-frame windows (quadrant max; count of quadrant
    points at the same cents) decide membership."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    pts = (
        orders.groupBy(
            F.substring("o_orderpriority", 1, 1).cast("long").alias("prio"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.expr("cast(round(o_totalprice * 100, 0) as bigint)").alias(
                "price_cents"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    expanded = pts.withColumn(
        "lv", F.explode(F.sequence(F.col("prio"), F.lit(5)))
    )
    quad_max = F.max("price_cents").over(
        Window.partitionBy("lv").orderBy("order_date")
    )
    n_at_cents = F.count(F.lit(1)).over(
        Window.partitionBy("lv", "price_cents").orderBy("order_date")
    )
    return (
        expanded.withColumn("quad_max", quad_max)
        .withColumn("n_at_cents", n_at_cents)
        .filter(
            (F.col("lv") == F.col("prio"))
            & (F.col("price_cents") == F.col("quad_max"))
            & (F.col("n_at_cents") == 1)
        )
        .select("prio", "order_date", "price_cents", "n_orders")
    )


# ---------------------------------------------------------------------------
# q81: exponential time-decay engagement score — the feature-store
# recency weight (half-life 14 days): score(user) = sum over events of
# value_cents * 2^(-age_days / 14). Determinism: the decay factor is
# computed per row and IMMEDIATELY rounded to integer micros
# (round(pow(2, -age/14) * 1e6) — one libm pow call on identical
# doubles gives identical bits in both engines), so the aggregate is a
# BIGINT sum, immune to shuffle-order float reassociation. age_days is
# whole days by integer microsecond division from the corpus max ts
# (one broadcast scalar). 100 TB shape: scan + broadcast + one groupBy
# on user_id.
# ---------------------------------------------------------------------------
Q81_HALF_LIFE_DAYS = 14

Q81_ORACLE = f"""
    WITH ref AS (SELECT max(ts) AS mx FROM events),
    scored AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 100, 0) AS BIGINT)
               * CAST(round(pow(2.0,
                   -((epoch_us(mx) - epoch_us(ts)) // 86400000000)
                     / {Q81_HALF_LIFE_DAYS}.0) * 1000000, 0) AS BIGINT)
               AS contrib_e6
      FROM events, ref
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen,
           CAST(sum(contrib_e6) AS BIGINT) AS decayed_cents_e6
    FROM scored GROUP BY user_id
"""


@query("q81_decayed_engagement", oracle=Q81_ORACLE)
def q81_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement per user (see section comment): one
    broadcast of the corpus max ts, per-row integer decay micros, one
    exact BIGINT groupBy on user_id."""
    events = load_table(spark, sf_dir, "events")
    ref = events.agg(F.max("ts").alias("mx"))
    age_days = F.expr(
        "(unix_micros(mx) - unix_micros(ts)) div 86400000000"
    )
    contrib = F.expr(
        "cast(round(value * 100, 0) as bigint)"
    ) * F.round(
        F.pow(
            F.lit(2.0),
            -age_days.cast("double") / F.lit(float(Q81_HALF_LIFE_DAYS)),
        )
        * 1_000_000,
        0,
    ).cast("long")
    return (
        events.crossJoin(F.broadcast(ref))
        .select("user_id", "ts", contrib.alias("contrib_e6"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "last_seen"
            ),
            F.sum("contrib_e6").alias("decayed_cents_e6"),
        )
    )


# ---------------------------------------------------------------------------
# TextRank keywords (Mihalcea & Tarau 2004): undirected co-occurrence
# graph over ADJACENT token pairs (self-loops dropped), edge weight =
# corpus co-occurrence count, damping d = 0.85, THREE power-iteration
# rounds from a uniform start — all in integer fixed-point (scale 1e6)
# with the per-edge contribution floor-divided by the source's weighted
# degree: s'(v) = 150000 + (850 * sum_u (s(u) * w_uv) div wdeg(u))
# div 1000. Integer sums are reassociation-proof, so both engines agree
# exactly. Scale shape: edges/degrees reduce map-side to vocabulary
# size; each round joins the edge list to the (vocab-sized, broadcast)
# score table — 3 rounds = 3 broadcast joins, no iteration-growing
# lineage (localCheckpoint per round); a vocabulary too big to
# broadcast would flip to a shuffle join on the same plan.
# ---------------------------------------------------------------------------
TEXTRANK_TOP_K = 20
_TR_ITERS = 3

TA_TEXTRANK_ORACLE = f"""
    WITH toks AS (
      SELECT string_split_regex(lower(text), '[ \t]') AS toks
      FROM documents
    ), pairs AS (
      SELECT w1, w2 FROM (
        SELECT unnest(list_transform(range(len(toks) - 1),
                      i -> toks[i + 1])) AS w1,
               unnest(list_transform(range(len(toks) - 1),
                      i -> toks[i + 2])) AS w2
        FROM toks WHERE len(toks) >= 2
      ) WHERE w1 <> w2
    ), und AS (
      SELECT least(w1, w2) AS u, greatest(w1, w2) AS v,
             CAST(count(*) AS BIGINT) AS w
      FROM pairs GROUP BY 1, 2
    ), edges AS (
      SELECT u AS src, v AS dst, w FROM und
      UNION ALL
      SELECT v AS src, u AS dst, w FROM und
    ), deg AS (
      SELECT src, CAST(sum(w) AS BIGINT) AS wdeg
      FROM edges GROUP BY src
    ), ew AS (
      SELECT e.src, e.dst, e.w, d.wdeg
      FROM edges e JOIN deg d USING (src)
    ), s0 AS (SELECT src AS tok, CAST(1000000 AS BIGINT) AS s FROM deg),
    s1 AS (
      SELECT ew.dst AS tok,
             150000 + (850 * sum((s0.s * ew.w) // ew.wdeg)) // 1000 AS s
      FROM ew JOIN s0 ON s0.tok = ew.src GROUP BY ew.dst
    ), s2 AS (
      SELECT ew.dst AS tok,
             150000 + (850 * sum((s1.s * ew.w) // ew.wdeg)) // 1000 AS s
      FROM ew JOIN s1 ON s1.tok = ew.src GROUP BY ew.dst
    ), s3 AS (
      SELECT ew.dst AS tok,
             150000 + (850 * sum((s2.s * ew.w) // ew.wdeg)) // 1000 AS s
      FROM ew JOIN s2 ON s2.tok = ew.src GROUP BY ew.dst
    )
    SELECT token, score_e6, weighted_degree, CAST(rnk AS BIGINT) AS rank
    FROM (
      SELECT s3.tok AS token, CAST(s3.s AS BIGINT) AS score_e6,
             d.wdeg AS weighted_degree,
             row_number() OVER (ORDER BY s3.s DESC, s3.tok) AS rnk
      FROM s3 JOIN deg d ON d.src = s3.tok
    ) WHERE rnk <= {TEXTRANK_TOP_K}
"""


@query("ta_textrank_keywords", oracle=TA_TEXTRANK_ORACLE)
def ta_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-{k} TextRank keywords (see section comment): build
    the undirected co-occurrence edge list once, attach weighted
    degrees, then run 3 integer fixed-point damped iterations, each a
    broadcast join of the vocab-sized score table against the edges."""
    from pyspark.sql.window import Window

    from eeecs485_p4_mapreduce_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(tokens().alias("toks")).filter("size(toks) >= 2")
    pairs = tk.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> struct(least(toks[i - 1], toks[i]) AS u,"
                " greatest(toks[i - 1], toks[i]) AS v))"
            )
        ).alias("p")
    ).filter("p.u <> p.v")
    und = pairs.groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v")).agg(
        F.count(F.lit(1)).alias("w")
    )
    edges = und.selectExpr("u AS src", "v AS dst", "w").unionByName(
        und.selectExpr("v AS src", "u AS dst", "w")
    )
    deg = edges.groupBy("src").agg(F.sum("w").alias("wdeg"))
    ew = edges.join(deg, "src").localCheckpoint(eager=False)
    scores = deg.select(
        F.col("src").alias("tok"), F.lit(1_000_000).cast("long").alias("s")
    )
    for _ in range(_TR_ITERS):
        scores = (
            ew.join(
                F.broadcast(scores.withColumnRenamed("tok", "src")), "src"
            )
            .groupBy(F.col("dst").alias("tok"))
            .agg(
                (
                    F.lit(150_000)
                    + F.expr("850 * sum((s * w) div wdeg) div 1000")
                ).alias("s")
            )
            .localCheckpoint(eager=False)
        )
    ranked = (
        scores.join(deg, scores["tok"] == deg["src"])
        .select(
            "tok",
            F.col("s").alias("score_e6"),
            F.col("wdeg").alias("weighted_degree"),
        )
        .orderBy(F.col("score_e6").desc(), "tok")
        .limit(TEXTRANK_TOP_K)
    )
    return ranked.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("score_e6").desc(), "tok"))
        .cast("long"),
    ).select(
        F.col("tok").alias("token"), "score_e6", "weighted_degree", "rank"
    )


# ---------------------------------------------------------------------------
# Temperature-scaled domain mixture (tau = 0.7): the standard recipe
# for balancing heterogeneous sources when sampling LLM training data —
# raw weight n_docs^tau flattens large domains and lifts small ones
# (tau = 1 is proportional, tau = 0 is uniform). Shares are integer
# ppm: w_e6 = round(n^tau * 1e6) is rounded BEFORE normalization (one
# libm pow per domain, identical bits both engines), so the share
# division and the implied epochs-per-domain for a one-epoch char
# budget are pure BIGINT arithmetic.
# ---------------------------------------------------------------------------
MIXTURE_TAU = 0.7

CURATE_MIXTURE_ORACLE = f"""
    WITH domains AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY source
    ), weighted AS (
      SELECT *,
             CAST(round(pow(n_docs, {MIXTURE_TAU}) * 1000000, 0)
                  AS BIGINT) AS w_e6
      FROM domains
    ), tot AS (
      SELECT CAST(sum(w_e6) AS BIGINT) AS tot_w,
             CAST(sum(n_chars) AS BIGINT) AS tot_chars
      FROM weighted
    )
    SELECT source, n_docs, n_chars,
           CAST((w_e6 * 1000000) // tot_w AS BIGINT) AS share_ppm,
           CAST((((tot_chars * ((w_e6 * 1000000) // tot_w)) // 1000000)
                 * 1000) // n_chars AS BIGINT) AS epochs_e3
    FROM weighted, tot
"""


@query("curate_domain_temperature", oracle=CURATE_MIXTURE_ORACLE)
def curate_domain_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights per source domain (see
    section comment): one groupBy builds the domain table, one
    broadcast scalar row carries the normalizers, everything after the
    single pow() is BIGINT."""
    docs = load_table(spark, sf_dir, "documents")
    domains = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    weighted = domains.withColumn(
        "w_e6",
        F.round(F.pow(F.col("n_docs"), F.lit(MIXTURE_TAU)) * 1_000_000, 0)
        .cast("long"),
    )
    tot = weighted.agg(
        F.sum("w_e6").alias("tot_w"), F.sum("n_chars").alias("tot_chars")
    )
    return (
        weighted.crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "n_docs",
            "n_chars",
            "(w_e6 * 1000000) div tot_w AS share_ppm",
            "(((tot_chars * ((w_e6 * 1000000) div tot_w)) div 1000000)"
            " * 1000) div n_chars AS epochs_e3",
        )
    )


# ---------------------------------------------------------------------------
# mm_mp4_boxes: REAL ISO BMFF container walk. Each document builds a
# deterministic ftyp/moov(mvhd + traks)/free/mdat tree (every 5th doc
# stores its mdat in the 64-bit largesize form) and the executors parse
# it back with the strict recursive walker in multimodal.parse_mp4_boxes
# — every emitted column comes from the PARSE, never the generation
# params. The oracle recomputes the expected values from the same
# arithmetic, including the exact encoder box sizes (ftyp 20, moov
# 116 + 173/trak, free 16, mdat header 8/16): a parser or encoder that
# drifts a single byte hash-mismatches. Pure header math, ~1 KB per
# doc — far inside the mm census cost envelope.
# ---------------------------------------------------------------------------
MP4_SCHEMA_FIELDS = (
    "media_id",
    "n_boxes",
    "max_depth",
    "duration_ms",
    "n_tracks",
    "mdat_bytes",
    "total_bytes",
)

MM_MP4_ORACLE = """
    WITH params AS (
      SELECT doc_id,
             1 + doc_id % 3 AS n,
             30000 + (doc_id % 10) * 1500 AS dur,
             64 + doc_id % 128 AS mlen,
             CASE WHEN doc_id % 5 = 0 THEN 16 ELSE 8 END AS mhdr
      FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(5 + 5 * n AS BIGINT) AS n_boxes,
           CAST(4 AS BIGINT) AS max_depth,
           CAST(dur AS BIGINT) AS duration_ms,
           CAST(n AS BIGINT) AS n_tracks,
           CAST(mlen AS BIGINT) AS mdat_bytes,
           CAST(152 + 173 * n + mhdr + mlen AS BIGINT) AS total_bytes
    FROM params
"""


@query("mm_mp4_boxes", oracle=MM_MP4_ORACLE)
def mm_mp4_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: synthesize an MP4 box tree and re-walk it with the
    real ISO BMFF parser (see section comment); emit box census,
    nesting depth, mvhd duration, track count, and mdat payload size —
    all read back out of the bytes. Zero-shuffle Arrow mapInPandas."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_mp4,
        parse_mp4_boxes,
    )

    schema = StructType(
        [StructField(n, LongType(), False) for n in MP4_SCHEMA_FIELDS]
    )
    docs = load_table(spark, sf_dir, "documents")

    def run(batches):
        for pdf in batches:
            out = {k: [] for k in MP4_SCHEMA_FIELDS}
            for d in pdf["doc_id"]:
                d = int(d)
                n = 1 + d % 3
                dims = [
                    (160 + 16 * ((d + t) % 4), 120 + 8 * (t % 3))
                    for t in range(n)
                ]
                payload = encode_mp4(
                    30000 + (d % 10) * 1500,
                    dims,
                    64 + d % 128,
                    large_mdat=(d % 5 == 0),
                )
                _boxes, info = parse_mp4_boxes(payload)
                out["media_id"].append(d)
                out["n_boxes"].append(info["n_boxes"])
                out["max_depth"].append(info["max_depth"])
                out["duration_ms"].append(info["duration_ms"])
                out["n_tracks"].append(info["n_tracks"])
                out["mdat_bytes"].append(info["mdat_bytes"])
                out["total_bytes"].append(len(payload))
            yield pd.DataFrame(out)

    return spread_small_source(docs.select("doc_id")).mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# mm_mp3_frames: REAL MPEG-1 Layer III frame walk. Each document builds
# an ID3v2-tagged VBR stream (4-7 frames, bitrate index and padding bit
# varying per frame) and the executors re-walk it with
# multimodal.parse_mp3_frames (syncsafe tag skip, bitrate table, frame
# length arithmetic). The oracle mirrors the frame-length formula
# (144 * bitrate / 44100 + padding) over a generated frame index —
# the 14-entry bitrate list literal is small enough to dodge the
# DuckDB per-row-literal re-eval trap (SNIPPETS gotcha: 16x64 matrix).
# ---------------------------------------------------------------------------
MP3_SCHEMA_FIELDS = (
    "media_id",
    "n_frames",
    "n_padded",
    "sum_bitrate_kbps",
    "avg_bitrate_e3",
    "id3_bytes",
    "total_bytes",
    "duration_us",
)

MM_MP3_ORACLE = """
    WITH frames AS (
      SELECT doc_id, t.j AS j,
             ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])
               [1 + (doc_id + t.j) % 14] AS br,
             CASE WHEN (doc_id + t.j) % 3 = 0 THEN 1 ELSE 0 END AS pad
      FROM (SELECT doc_id, 4 + doc_id % 4 AS k FROM documents),
           LATERAL (SELECT unnest(range(k)) AS j) t
    )
    SELECT doc_id AS media_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(pad) AS BIGINT) AS n_padded,
           CAST(sum(br) AS BIGINT) AS sum_bitrate_kbps,
           CAST((sum(br) * 1000) // count(*) AS BIGINT) AS avg_bitrate_e3,
           CAST(10 + 10 + doc_id % 50 AS BIGINT) AS id3_bytes,
           CAST(10 + 10 + doc_id % 50
                + sum((144 * br * 1000) // 44100 + pad) AS BIGINT)
             AS total_bytes,
           CAST(count(*) * ((1152 * 1000000) // 44100) AS BIGINT)
             AS duration_us
    FROM frames GROUP BY doc_id
"""


@query("mm_mp3_frames", oracle=MM_MP3_ORACLE)
def mm_mp3_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: synthesize a VBR MP3 stream and re-walk it with
    the real MPEG-1 Layer III header parser (see section comment);
    every emitted column comes from the walk. Zero-shuffle Arrow
    mapInPandas."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_mp3_stream,
        parse_mp3_frames,
    )

    schema = StructType(
        [StructField(n, LongType(), False) for n in MP3_SCHEMA_FIELDS]
    )
    docs = load_table(spark, sf_dir, "documents")

    def run(batches):
        for pdf in batches:
            out = {k: [] for k in MP3_SCHEMA_FIELDS}
            for d in pdf["doc_id"]:
                d = int(d)
                frames = [
                    (1 + (d + j) % 14, (d + j) % 3 == 0)
                    for j in range(4 + d % 4)
                ]
                payload = encode_mp3_stream(frames, id3_len=10 + d % 50)
                info = parse_mp3_frames(payload)
                out["media_id"].append(d)
                out["n_frames"].append(info["n_frames"])
                out["n_padded"].append(info["n_padded"])
                out["sum_bitrate_kbps"].append(info["sum_bitrate_kbps"])
                out["avg_bitrate_e3"].append(
                    (info["sum_bitrate_kbps"] * 1000) // info["n_frames"]
                )
                out["id3_bytes"].append(info["id3_bytes"])
                out["total_bytes"].append(len(payload))
                out["duration_us"].append(info["duration_us"])
            yield pd.DataFrame(out)

    return spread_small_source(docs.select("doc_id")).mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# stream_quantile_histogram: exact quantiles over a stream via
# MERGEABLE state — the streaming twin of q77's histogram-median trick.
# foreachBatch reduces each micro-batch to per-(event_type, bucket)
# counts (bucket = round(value*1000) div 100, one-decimal buckets over
# non-negative values) and merges them into a stored histogram snapshot
# by summing counts; after the finite replay the exact DOUBLED bucket
# median is interpolated from the merged histogram with the shared
# _exact_median2x prefix-sum helper. Counts are order- and
# batching-insensitive, so the replay is deterministic by construction
# — no watermark sentinel needed. At 100 TB the state is histogram-
# sized (types x buckets), never event-sized, and the merge shuffle is
# keyed on (event_type, bucket).
# ---------------------------------------------------------------------------
STREAM_QH_ORACLE = """
    WITH v AS (
      SELECT event_type,
             CAST(round(value * 1000, 0) AS BIGINT) // 100 AS b
      FROM events
    ), med AS (
      SELECT event_type,
             CAST(round(2 * quantile_cont(b, 0.5), 0) AS BIGINT)
               AS median_bucket2x
      FROM v GROUP BY event_type
    )
    SELECT v.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(m.median_bucket2x) AS BIGINT) AS median_bucket2x,
           CAST(min(v.b) AS BIGINT) AS min_bucket,
           CAST(max(v.b) AS BIGINT) AS max_bucket
    FROM v JOIN med m USING (event_type)
    GROUP BY v.event_type
"""


@query("stream_quantile_histogram", oracle=STREAM_QH_ORACLE)
def stream_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact bucket-median per event_type from a foreachBatch-
    merged histogram snapshot (see section comment), via the shared
    mergeable-snapshot scaffold (streaming.queries.merged_snapshot_stream
    holds the split/replay/first-batch/checkpoint invariants)."""
    from eeecs485_p4_mapreduce_spark.operators.staged_r7 import (
        _exact_median2x,
    )
    from eeecs485_p4_mapreduce_spark.streaming.queries import (
        merged_snapshot_stream,
    )

    def partial(batch_df):
        return (
            batch_df.select(
                "event_type",
                F.expr(
                    "cast(round(value * 1000, 0) as bigint) div 100"
                ).alias("b"),
            )
            .groupBy("event_type", "b")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    def finalize(hist):
        med = _exact_median2x(
            hist.withColumnRenamed("b", "val"), "event_type", "val"
        ).selectExpr("event_type", "med2x AS median_bucket2x")
        return (
            hist.join(F.broadcast(med), "event_type")
            .groupBy("event_type")
            .agg(
                F.sum("cnt").alias("n_events"),
                F.max("median_bucket2x").alias("median_bucket2x"),
                F.min("b").alias("min_bucket"),
                F.max("b").alias("max_bucket"),
            )
        )

    return merged_snapshot_stream(
        spark, sf_dir, partial, ["event_type", "b"], {"cnt": "sum"},
        finalize, prefix="p4spark_qh_",
    )
