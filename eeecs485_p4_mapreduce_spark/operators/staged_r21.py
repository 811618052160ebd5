"""Registered queries of the r21 pipeline (each with ``@query``).

Same discipline as operators/staged_r9–r20: built, hash-checked against
DuckDB at sf0.001 and sf0.01, fixture-tested with independent references
(tests/test_staged_r21.py), plan-gate swept, and x10/x100 replica-probed
before registration. Same contract as every registered query: identical
aliases both sides, round()-ed or integer-exact outputs, no nullable
hash-bearing columns.

Surface:

- ``q120_allen_relations`` — Allen's interval algebra (Allen, CACM
  1983): classify every same-customer order pair into the 13
  qualitative temporal relations (before/meets/overlaps/starts/during/
  finishes/equals + inverses) over their shipping intervals
  [min shipdate, max shipdate]. The 13 relations PARTITION all interval
  configurations, so the census total equals the pair count — asserted
  by test. Pairs are per-customer (key-bounded: orders per customer is
  business-bounded, so the pair join scales linearly in customers and
  partitions cleanly by custkey at any corpus size). All integer day
  arithmetic; shares in exact ppm.
- ``mm_msgpack_walk`` — MessagePack (msgpack.org spec): the TAG-
  DISPATCH serialization discipline, complementing the varint trilogy
  (Avro zigzag blocks, EBML width-announcing VINTs, protobuf LEB128):
  every value leads with a format byte that selects fixint/uint/int/
  fixstr/str8/bin8/fixarray/array16/fixmap/nil/bool decoding. Encoder
  and strict decoder are real and spec-faithful (positive/negative
  fixint ranges, width promotion at exact boundaries); the fixture
  document is built from doc_id arithmetic so the type census, byte
  size, and deep checksum all have closed forms the oracle mirrors.
- ``q125_hhi_concentration`` — the Herfindahl–Hirschman market-
  concentration index per national supplier market (Σ share² on a ppm
  scale, shares floored to ppm first so intermediates stay
  BIGINT-safe at any corpus size), with top-1 share and supplier
  count alongside.
- ``q124_runs_test`` — the Wald–Wolfowitz runs test on daily
  revenue (above/below the exact lower-median order statistic,
  equal-days excluded), with the observed/expected run ratio in exact
  ppm via denominator clearing — completing the nonparametric family
  next to Mann–Kendall and Theil–Sen.
- ``q123_abc_xyz_matrix`` — the ABC × XYZ inventory planning grid:
  q65's revenue Pareto classes crossed with demand-variability classes
  from integer-exact squared-CV predicates over 180-day-period demand
  (denominators cleared, absent periods counted as zero demand).
- ``q122_link_prediction`` — common-neighbor / Jaccard link
  prediction over the co-purchase graph (Liben-Nowell & Kleinberg):
  rank the top 20 NON-edges by shared-neighbor Jaccard under a fully
  deterministic total order; complements q61 (lift on existing pairs)
  and q72 (triangles).
- ``dedup_simhash_pigeonhole`` — Manku/Jain/Sarma's WWW'07 COMPLETE
  hamming-ball near-dup search: a union of 4 block-keyed indexes over
  a 60-bit SimHash finds every pair within hamming 3 (pigeonhole — a
  budget-3 pair must agree exactly on one of the 4 blocks), upgrading
  dedup_simhash_pairs's single-prefix approximation to a guarantee.
  The oracle is the true all-pairs hamming join; tests pin the theorem
  itself and operator-vs-bruteforce equality.
- ``q121_bitemporal_asof`` — bitemporal reconstruction (valid time ×
  transaction time, the SQL:2011 temporal-table core): events act as
  corrections carrying an EFFECTIVE day (backdated from the event's
  day by event_id % 5 days) and a RECORDED instant (the event ts);
  the query answers "as of recorded cutoff R, what was each user's
  latest effective-day value at or before effective cutoff E" — the
  audit query that q75/q113 (single-axis SCD2) and q86 (single-axis
  point-in-time join) cannot express. Deterministic tiebreak on
  (recorded_us, event_id); cutoffs derived as exact integer quantile
  positions of the day domain so both engines compute them
  identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from eeecs485_p4_mapreduce_spark.catalog import load_table
from eeecs485_p4_mapreduce_spark.registry import query

# ---------------------------------------------------------------------------
# q120_allen_relations. Intervals are closed [s, e] in epoch days from
# the order's lineitems; pairs are normalized a.orderkey < b.orderkey
# within a customer. The CASE chain below is the exhaustive 13-way
# classification — shared verbatim (modulo dialect) by both engines.
# ---------------------------------------------------------------------------
_ALLEN_CASE = """
    CASE
      WHEN ae < bs THEN 'before'
      WHEN ae = bs AND as_ < bs THEN 'meets'
      WHEN bs < as_ AND be = as_ THEN 'met_by'
      WHEN be < as_ THEN 'after'
      WHEN as_ = bs AND ae = be THEN 'equals'
      WHEN as_ = bs AND ae < be THEN 'starts'
      WHEN as_ = bs AND ae > be THEN 'started_by'
      WHEN as_ > bs AND ae < be THEN 'during'
      WHEN as_ < bs AND ae > be THEN 'contains'
      WHEN as_ > bs AND ae = be THEN 'finishes'
      WHEN as_ < bs AND ae = be THEN 'finished_by'
      WHEN as_ < bs AND ae > bs AND ae < be THEN 'overlaps'
      ELSE 'overlapped_by'
    END
"""

Q120_ORACLE = f"""
    WITH iv AS (
      SELECT l_orderkey AS k,
             CAST(min(epoch_us(l_shipdate)) // 86400000000 AS BIGINT)
               AS s,
             CAST(max(epoch_us(l_shipdate)) // 86400000000 AS BIGINT)
               AS e
      FROM lineitem GROUP BY 1
    ), oi AS (
      SELECT o_custkey AS c, k, s, e
      FROM orders JOIN iv ON o_orderkey = k
    ), pairs AS (
      SELECT a.s AS as_, a.e AS ae, b.s AS bs, b.e AS be
      FROM oi a JOIN oi b ON a.c = b.c AND a.k < b.k
    ), rel AS (
      SELECT {_ALLEN_CASE} AS relation FROM pairs
    ), counts AS (
      SELECT relation, CAST(count(*) AS BIGINT) AS n_pairs
      FROM rel GROUP BY 1
    )
    SELECT relation, n_pairs,
           CAST(n_pairs * 1000000 // (SELECT sum(n_pairs) FROM counts)
             AS BIGINT) AS share_ppm
    FROM counts
"""


@query("q120_allen_relations", oracle=Q120_ORACLE)
def q120_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen's 13-relation census over same-customer order shipping
    intervals (see module docstring). One shuffle to order grain, one
    key-bounded self-join on custkey, one 13-row aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    iv = (
        li.selectExpr(
            "l_orderkey AS k",
            "unix_micros(cast(l_shipdate as timestamp)) div 86400000000"
            " AS d",
        )
        .groupBy("k")
        .agg(F.min("d").alias("s"), F.max("d").alias("e"))
    )
    oi = orders.selectExpr("o_custkey AS c", "o_orderkey AS k").join(
        iv, "k"
    )
    a = oi.selectExpr("c", "k AS ka", "s AS as_", "e AS ae")
    b = oi.selectExpr("c", "k AS kb", "s AS bs", "e AS be")
    counts = (
        a.join(b, "c")
        .where("ka < kb")
        .selectExpr(f"{_ALLEN_CASE} AS relation")
        .groupBy("relation")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        # 13-row result reused for the total: pin, no second pair join
        .localCheckpoint(eager=False)
    )
    tot = counts.agg(F.sum("n_pairs").alias("t"))
    return counts.crossJoin(F.broadcast(tot)).selectExpr(
        "relation",
        "n_pairs",
        "n_pairs * 1000000 div t AS share_ppm",
    )



# ---------------------------------------------------------------------------
# mm_msgpack_walk (see the codec section in multimodal.py). The
# fixture document exercises the whole implemented tag set from doc_id
# arithmetic: the id rides the uint promotion ladder (fixint → uint8/
# 16/32/64 as replica-shifted ids grow), score crosses the negative
# fixint / int8 boundary at -33, name/longtext split fixstr vs str8,
# tags split fixarray vs array16 at 16 elements, plus bin8, nil, and
# both bools. Every reported stat has a closed form the oracle
# mirrors, including the per-tag string lengths via a range lateral.
# ---------------------------------------------------------------------------
MSGPACK_SCHEMA_FIELDS = (
    "media_id",
    "n_ints",
    "sum_ints",
    "n_strs",
    "str_bytes",
    "n_bins",
    "bin_bytes",
    "n_arrays",
    "n_maps",
    "n_nil",
    "n_bool",
    "file_bytes",
)

MM_MSGPACK_ORACLE = """
    WITH base AS (
      SELECT doc_id,
             doc_id % 40 AS blob_n,
             doc_id % 20 AS tag_n,
             32 + doc_id % 100 AS long_n,
             3 + CASE WHEN doc_id % 1000 < 10 THEN 1
                      WHEN doc_id % 1000 < 100 THEN 2 ELSE 3 END AS name_n,
             CASE WHEN doc_id <= 127 THEN 1
                  WHEN doc_id <= 255 THEN 2
                  WHEN doc_id <= 65535 THEN 3
                  WHEN doc_id <= 4294967295 THEN 5 ELSE 9 END AS w_id,
             CASE WHEN doc_id % 40 <= 31 THEN 1 ELSE 2 END AS w_score
      FROM documents
    ), tags AS (
      SELECT b.doc_id,
             CAST(coalesce(sum(
               CASE WHEN j.j IS NULL THEN 0
                    ELSE 2 + CASE WHEN (b.doc_id + j.j) % 50 < 10
                             THEN 0 ELSE 1 END END
             ), 0) AS BIGINT) AS tag_str_bytes
      FROM base b LEFT JOIN LATERAL (
        SELECT unnest(range(b.tag_n)) AS j
      ) j ON TRUE
      GROUP BY 1
    )
    SELECT b.doc_id AS media_id,
           CAST(5 AS BIGINT) AS n_ints,
           CAST(b.doc_id - (b.doc_id % 40) - 1
                + 1000000 + b.doc_id % 5000000
                + 256 + b.doc_id % 65000
                + 128 + b.doc_id % 128 AS BIGINT) AS sum_ints,
           CAST(12 + b.tag_n AS BIGINT) AS n_strs,
           CAST(40 + b.name_n + b.long_n + t.tag_str_bytes AS BIGINT)
             AS str_bytes,
           CAST(1 AS BIGINT) AS n_bins,
           CAST(b.blob_n AS BIGINT) AS bin_bytes,
           CAST(2 AS BIGINT) AS n_arrays,
           CAST(1 AS BIGINT) AS n_maps,
           CAST(1 AS BIGINT) AS n_nil,
           CAST(2 AS BIGINT) AS n_bool,
           CAST(70 + b.w_id + b.w_score + b.name_n + b.blob_n
                + CASE WHEN b.tag_n <= 15 THEN 1 ELSE 3 END
                + b.tag_n + t.tag_str_bytes + b.long_n AS BIGINT)
             AS file_bytes
    FROM base b JOIN tags t ON b.doc_id = t.doc_id
"""


@query("mm_msgpack_walk", oracle=MM_MSGPACK_ORACLE)
def mm_msgpack_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: build the fixture object, msgpack-encode it, and
    strictly re-decode with the type-census walker (see section
    comment). Zero-shuffle Arrow mapInPandas via media_walk_query."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_msgpack,
        media_walk_query,
        parse_msgpack,
    )

    def per_doc(d: int) -> dict:
        obj = {
            "id": d,
            "flags": [True, False, None],
            "score": -(d % 40) - 1,
            "name": "doc" + str(d % 1000),
            "blob": bytes((d + i) % 251 for i in range(d % 40)),
            "tags": ["t" + str((d + j) % 50) for j in range(d % 20)],
            "big": 1_000_000 + d % 5_000_000,
            "longtext": "x" * (32 + d % 100),
            "u16": 256 + d % 65000,
            "u8": 128 + d % 128,
        }
        st = parse_msgpack(encode_msgpack(obj))
        if st.pop("value") != obj:
            raise ValueError("msgpack roundtrip mismatch")
        return st

    return media_walk_query(
        spark, sf_dir, MSGPACK_SCHEMA_FIELDS, per_doc
    )



# ---------------------------------------------------------------------------
# q121_bitemporal_asof. Two independent time axes per correction row:
# RECORDED (transaction time = the event ts, in epoch micros) and
# EFFECTIVE (valid time = the event's day, backdated event_id % 5
# days — late-arriving corrections to earlier effective days, the
# thing bitemporal tables exist for). Cutoffs are scalar integer
# expressions over (min, max) aggregates — min + 3·span/4 on each
# axis — so both engines derive identical constants without sorting
# the fact table. The reconstruction: per user, the correction with
# the greatest (effective_day, recorded_us, event_id) among rows
# recorded ≤ R and effective ≤ E — i.e. "what did we believe at R the
# state as of E was". Window is user-partitioned (key-parallel).
# ---------------------------------------------------------------------------
Q121_ORACLE = """
    WITH corr AS (
      SELECT user_id, event_id,
             CAST(epoch_us(ts) AS BIGINT) AS recorded_us,
             CAST(epoch_us(ts) AS BIGINT) // 86400000000
               - event_id % 5 AS eff_day,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ), bounds AS (
      SELECT min(recorded_us) + 3 * (max(recorded_us) - min(recorded_us))
               // 4 AS r_cut,
             min(eff_day) + 3 * (max(eff_day) - min(eff_day)) // 4
               AS e_cut
      FROM corr
    ), seen AS (
      SELECT c.* FROM corr c, bounds b
      WHERE c.recorded_us <= b.r_cut AND c.eff_day <= b.e_cut
    ), ranked AS (
      SELECT user_id, eff_day, recorded_us, cents,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY eff_day DESC, recorded_us DESC, event_id DESC
             ) AS rn,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_seen
      FROM seen
    )
    SELECT user_id, eff_day AS asof_day, recorded_us, cents AS value_cents,
           n_seen
    FROM ranked WHERE rn = 1
"""


@query("q121_bitemporal_asof", oracle=Q121_ORACLE)
def q121_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-of reconstruction (see section comment): per user
    the latest effective correction known at the recorded cutoff."""
    ev = load_table(spark, sf_dir, "events")
    corr = ev.selectExpr(
        "user_id",
        "event_id",
        "unix_micros(ts) AS recorded_us",
        "unix_micros(ts) div 86400000000 - event_id % 5 AS eff_day",
        "cast(round(value * 100) as bigint) AS cents",
    )
    bounds = corr.agg(
        F.expr(
            "min(recorded_us) + 3 * (max(recorded_us) - min(recorded_us))"
            " div 4"
        ).alias("r_cut"),
        F.expr(
            "min(eff_day) + 3 * (max(eff_day) - min(eff_day)) div 4"
        ).alias("e_cut"),
    )
    seen = corr.crossJoin(F.broadcast(bounds)).where(
        "recorded_us <= r_cut AND eff_day <= e_cut"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("eff_day"), F.desc("recorded_us"), F.desc("event_id")
    )
    return (
        seen.select(
            "user_id",
            "eff_day",
            "recorded_us",
            "cents",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("user_id"))
            .alias("n_seen"),
        )
        .where("rn = 1")
        .selectExpr(
            "user_id",
            "eff_day AS asof_day",
            "recorded_us",
            "cents AS value_cents",
            "n_seen",
        )
    )



# ---------------------------------------------------------------------------
# dedup_simhash_pigeonhole: Manku/Jain/Sarma's WWW'07 near-duplicate
# design — the COMPLETE hamming-ball search that dedup_simhash_pairs's
# single-prefix table approximates: split the signature into
# hamming_budget + 1 blocks; any pair within the budget must agree
# EXACTLY on at least one block (pigeonhole), so a union of 4
# block-keyed indexes finds every pair with hamming <= 3 — no pair can
# hide. Signature width is 60 bits (15 hex md5 digits — 16 would
# overflow signed BIGINT), giving 15-bit blocks = 32,768 buckets per
# index; Manku's design rule is block width >= log2(n) - O(1), so a
# bigger corpus widens the signature/blocks rather than eating n²/2^15
# bucket pairs (documented, like the fixed-plane HNSW caveat). The
# oracle is the TRUE all-pairs hamming <= 3 join — identical output by
# the pigeonhole theorem, which is exactly what the oracle proves.
# ---------------------------------------------------------------------------
_SH60_BITS = 60
_SH60_BLOCKS = 4  # hamming budget 3 -> 4 blocks of 15 bits
_SH60_BLOCK_BITS = _SH60_BITS // _SH60_BLOCKS
_HAM_MAX = 3

_DUCK_TOKS60 = "string_split_regex(lower(text), '[ \t]')"

DEDUP_SH_PIGEON_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, t, count(*) AS cnt
      FROM (SELECT doc_id, unnest({_DUCK_TOKS60}) AS t FROM documents)
      GROUP BY doc_id, t
    ), bits AS (
      SELECT doc_id, b.b AS b,
             sum(CASE WHEN (CAST(CAST(concat('0x', substr(md5(t), 1, 15))
                            AS UBIGINT) AS BIGINT) >> b.b) & 1 = 1
                      THEN cnt ELSE -cnt END) AS w
      FROM tok, (SELECT unnest(range({_SH60_BITS})) AS b) b
      GROUP BY doc_id, b.b
    ), sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN w > 0 THEN (CAST(1 AS BIGINT) << b)
                      ELSE 0 END) AS BIGINT) AS sh
      FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= {_HAM_MAX}
"""


def _simhash60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash signatures, same one-aggregation shape as the
    registered 32-bit dedup_simhash (60 map-side-combinable vote
    columns, one shuffled row per doc)."""
    from eeecs485_p4_mapreduce_spark.operators.dedup import _SPARK_TOKS

    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(F.expr(_SPARK_TOKS)).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "doc_id",
            "cnt",
            F.expr(
                "cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)"
            ).alias("h"),
        )
    )
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.expr(f"(h >> {b}) & 1 = 1"), F.col("cnt")
                ).otherwise(-F.col("cnt"))
            ).alias(f"w{b}")
            for b in range(_SH60_BITS)
        ]
    )
    sig = " + ".join(
        f"(case when w{b} > 0 then {1 << b}L else 0L end)"
        for b in range(_SH60_BITS)
    )
    return votes.selectExpr("doc_id", f"({sig}) AS sh")


@query("dedup_simhash_pigeonhole", oracle=DEDUP_SH_PIGEON_ORACLE)
def dedup_simhash_pigeonhole(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COMPLETE hamming<=3 near-dup pairs via the 4-block pigeonhole
    union index (see section comment)."""
    sigs = _simhash60(spark, sf_dir).localCheckpoint(eager=False)  # doc-grain, reused 3x
    mask = (1 << _SH60_BLOCK_BITS) - 1
    blocks = sigs.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("blk"),
                        F.expr(
                            f"(sh >> {k * _SH60_BLOCK_BITS}) & {mask}"
                        ).alias("val"),
                    )
                    for k in range(_SH60_BLOCKS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "sh", "b.blk", "b.val")
    buckets = (
        blocks.groupBy("blk", "val")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "sh"))
            ).alias("ds")
        )
        .filter(F.size("ds") > 1)
    )
    ham = F.expr("bit_count(a.sh ^ b.sh)")
    return (
        buckets.select(F.posexplode("ds").alias("i", "a"), "ds")
        .select(
            "a",
            F.explode(F.expr("slice(ds, i + 2, size(ds))")).alias("b"),
        )
        .filter(ham <= _HAM_MAX)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()  # a pair can agree on several blocks
    )



# ---------------------------------------------------------------------------
# q122_link_prediction: common-neighbor / Jaccard link prediction over
# the co-purchase graph (Liben-Nowell & Kleinberg CIKM'03, the
# baseline every graph-ML paper reports): score every NON-edge pair
# that shares >= 1 neighbor by jaccard = cn / (deg_v + deg_w - cn) and
# return the top 20 under a fully deterministic total order
# (score desc, cn desc, v, w). Complements q61 (lift on EXISTING
# co-order pairs) and q72 (triangles): this ranks the pairs the graph
# does NOT yet contain. Wedge enumeration is center-grouped
# (sum deg² — max degree 13 on this graph; a hub-skewed graph would
# orient like q72); the edge list is checkpoint-shared across its
# three consumers, and the global top-k is orderBy().limit() —
# TakeOrderedAndProject, never a global window.
# ---------------------------------------------------------------------------
Q122_ORACLE = """
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    und AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM d a JOIN d b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    adj AS (
      SELECT pa AS c, pb AS n FROM und
      UNION ALL SELECT pb, pa FROM und
    ),
    deg AS (SELECT c AS node, CAST(count(*) AS BIGINT) AS dg
            FROM adj GROUP BY 1),
    cn AS (
      SELECT a1.n AS v, a2.n AS w, CAST(count(*) AS BIGINT) AS cn
      FROM adj a1 JOIN adj a2 ON a1.c = a2.c AND a1.n < a2.n
      GROUP BY 1, 2
    ),
    nonedges AS (
      SELECT cn.* FROM cn
      LEFT JOIN und ON v = pa AND w = pb
      WHERE pa IS NULL
    )
    SELECT v AS part_v, w AS part_w, cn AS common_neighbors,
           dv.dg AS deg_v, dw.dg AS deg_w,
           cn * 1000000 // (dv.dg + dw.dg - cn) AS jaccard_ppm
    FROM nonedges
    JOIN deg dv ON dv.node = v
    JOIN deg dw ON dw.node = w
    ORDER BY jaccard_ppm DESC, cn DESC, v, w
    LIMIT 20
"""


@query("q122_link_prediction", oracle=Q122_ORACLE)
def q122_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 predicted links by common-neighbor Jaccard (see section
    comment)."""
    from eeecs485_p4_mapreduce_spark.operators.relational import (
        _co_order_pair_counts,
    )

    li = load_table(spark, sf_dir, "lineitem")
    und = _co_order_pair_counts(li, "c").select("part_a", "part_b")
    und = und.localCheckpoint(eager=False)  # adj, anti-join, (deg via adj)
    adj = und.selectExpr("part_a AS c", "part_b AS n").unionByName(
        und.selectExpr("part_b AS c", "part_a AS n")
    )
    deg = adj.groupBy("c").agg(F.count(F.lit(1)).alias("dg"))
    a1 = adj.selectExpr("c", "n AS v")
    a2 = adj.selectExpr("c", "n AS w")
    cn = (
        a1.join(a2, "c")
        .where("v < w")
        .groupBy("v", "w")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    nonedges = cn.join(
        und,
        (cn.v == und.part_a) & (cn.w == und.part_b),
        "left_anti",
    )
    dv = deg.selectExpr("c AS v", "dg AS deg_v")
    dw = deg.selectExpr("c AS w", "dg AS deg_w")
    return (
        nonedges.join(dv, "v")
        .join(dw, "w")
        .selectExpr(
            "v AS part_v",
            "w AS part_w",
            "cn AS common_neighbors",
            "deg_v",
            "deg_w",
            "cn * 1000000 div (deg_v + deg_w - cn) AS jaccard_ppm",
        )
        .orderBy(
            F.desc("jaccard_ppm"),
            F.desc("common_neighbors"),
            "part_v",
            "part_w",
        )
        .limit(20)
    )



# ---------------------------------------------------------------------------
# q123_abc_xyz_matrix: the ABC × XYZ inventory matrix — q65's revenue
# Pareto classes (A <= 80% cumulative, B <= 95%, same rule) crossed
# with demand-VARIABILITY classes from the squared coefficient of
# variation of per-period demand, the standard planning grid (AX =
# high-value steady, CZ = low-value erratic). Periods are 180-day
# half-years — chosen because this corpus's demand is sparse enough
# that monthly periods put EVERY part in Z (zeros dominate CV), while
# half-years split the fixture into all three classes (29/1699/272 at
# sf0.01). CV thresholds 0.5 / 1.0 become exact integer predicates by
# clearing denominators: CV² = (n·Σx² − S²) / S² (population variance
# over ALL n periods in the calendar domain — absent periods are
# genuine zero demand), so X ⇔ 4·(n·Σx² − S²) < S² and
# Y ⇔ n·Σx² − S² < S². The part-grain tables are dimension-sized; the
# period domain is calendar-bounded; the period count is a broadcast
# scalar, never a driver collect.
# ---------------------------------------------------------------------------
Q123_ORACLE = """
    WITH pm AS (
      SELECT l_partkey,
             CAST(epoch_us(l_shipdate) AS BIGINT) // 86400000000 // 180
               AS m,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100,
                 0) AS BIGINT)) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    nm AS (SELECT CAST(count(DISTINCT m) AS BIGINT) AS n FROM pm),
    per_part AS (
      SELECT l_partkey,
             CAST(sum(q) AS BIGINT) AS s1,
             CAST(sum(q * q) AS BIGINT) AS s2,
             CAST(sum(c) AS BIGINT) AS rev
      FROM pm GROUP BY 1
    ),
    cls AS (
      SELECT l_partkey, rev,
             CASE WHEN sum(rev) OVER (ORDER BY rev DESC, l_partkey) * 100
                       <= sum(rev) OVER () * 80 THEN 'A'
                  WHEN sum(rev) OVER (ORDER BY rev DESC, l_partkey) * 100
                       <= sum(rev) OVER () * 95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             CASE WHEN 4 * ((SELECT n FROM nm) * s2 - s1 * s1)
                       < s1 * s1 THEN 'X'
                  WHEN (SELECT n FROM nm) * s2 - s1 * s1
                       < s1 * s1 THEN 'Y'
                  ELSE 'Z' END AS xyz_class
      FROM per_part
    )
    SELECT abc_class, xyz_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev) AS BIGINT) AS revenue_cents
    FROM cls GROUP BY 1, 2
"""


@query("q123_abc_xyz_matrix", oracle=Q123_ORACLE)
def q123_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC × XYZ planning matrix (see section comment)."""
    li = load_table(spark, sf_dir, "lineitem")
    pm = (
        li.selectExpr(
            "l_partkey",
            "unix_micros(cast(l_shipdate as timestamp))"
            " div 86400000000 div 180 AS m",
            "cast(round(l_quantity) as bigint) AS q",
            "cast(round(l_extendedprice * (1 - l_discount) * 100, 0)"
            " as bigint) AS c",
        )
        .groupBy("l_partkey", "m")
        .agg(F.sum("q").alias("q"), F.sum("c").alias("c"))
        # part×month grain, feeds the month-count scalar AND the
        # per-part rollup: pin (dimension × calendar sized)
        .localCheckpoint(eager=False)
    )
    nm = pm.agg(F.countDistinct("m").alias("n"))
    per_part = pm.groupBy("l_partkey").agg(
        F.sum("q").alias("s1"),
        F.expr("sum(q * q)").alias("s2"),
        F.sum("c").alias("rev"),
    )
    w_cum = Window.orderBy(F.desc("rev"), "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cls = (
        per_part.crossJoin(F.broadcast(nm))
        .select(
            "rev",
            F.sum("rev").over(w_cum).alias("cum"),
            F.sum("rev").over(w_all).alias("tot"),
            "s1",
            "s2",
            "n",
        )
        .selectExpr(
            "rev",
            "case when cum * 100 <= tot * 80 then 'A'"
            " when cum * 100 <= tot * 95 then 'B' else 'C' end"
            " AS abc_class",
            "case when 4 * (n * s2 - s1 * s1) < s1 * s1 then 'X'"
            " when n * s2 - s1 * s1 < s1 * s1 then 'Y' else 'Z' end"
            " AS xyz_class",
        )
    )
    return cls.groupBy("abc_class", "xyz_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("rev").alias("revenue_cents"),
    )



# ---------------------------------------------------------------------------
# q124_runs_test: the Wald–Wolfowitz runs test on the daily revenue
# series — the nonparametric randomness check that pairs with
# staged_r20's Mann–Kendall (trend) and Theil–Sen (slope): too FEW
# runs of above/below-median days means clustering/trend, too many
# means oscillation. Exactness: the median is the exact lower-median
# order statistic (row_number at (n+1) div 2 — no interpolation),
# equal-to-median days are excluded (the standard treatment), the run
# count is a lag window over the CALENDAR-bounded day table, and the
# observed/expected ratio is exact ppm with the expectation's
# denominator cleared: E[runs] = 1 + 2ab/n = (n + 2ab)/n, so
# ratio_ppm = runs · n · 1e6 div (n + 2ab). Windows are unpartitioned
# but their input is the live day aggregate (plan-gate bounded).
# ---------------------------------------------------------------------------
Q124_ORACLE = """
    WITH daily AS (
      SELECT CAST(epoch_us(l_shipdate) AS BIGINT) // 86400000000 AS day,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
    ), med AS (
      SELECT cents AS m FROM (
        SELECT cents,
               row_number() OVER (ORDER BY cents, day) AS rn,
               count(*) OVER () AS n
        FROM daily
      ) WHERE rn = (n + 1) // 2
    ), signs AS (
      SELECT day, CASE WHEN cents > (SELECT m FROM med) THEN 1 ELSE 0 END
               AS s
      FROM daily WHERE cents <> (SELECT m FROM med)
    ), runs AS (
      SELECT s,
             CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
                  OR lag(s) OVER (ORDER BY day) <> s
                  THEN 1 ELSE 0 END AS boundary
      FROM signs
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_days_used,
             CAST(sum(s) AS BIGINT) AS n_above,
             CAST(count(*) - sum(s) AS BIGINT) AS n_below,
             CAST(sum(boundary) AS BIGINT) AS n_runs
      FROM runs
    )
    SELECT n_days_used, n_above, n_below, n_runs,
           n_runs * n_days_used * 1000000
             // (n_days_used + 2 * n_above * n_below) AS runs_ratio_ppm
    FROM agg
"""


@query("q124_runs_test", oracle=Q124_ORACLE)
def q124_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test over daily revenue (see section
    comment)."""
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
    ranked = daily.select(
        "day",
        "cents",
        F.row_number().over(Window.orderBy("cents", "day")).alias("rn"),
        F.count(F.lit(1))
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    med = ranked.where("rn = (n + 1) div 2").select(
        F.col("cents").alias("m")
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .where("cents <> m")
        .selectExpr("day", "case when cents > m then 1 else 0 end AS s")
    )
    runs = signs.select(
        "s",
        F.expr(
            "case when lag(s) over (order by day) is null"
            " or lag(s) over (order by day) <> s then 1 else 0 end"
        ).alias("boundary"),
    )
    return runs.groupBy().agg(
        F.count(F.lit(1)).alias("n_days_used"),
        F.sum("s").alias("n_above"),
        (F.count(F.lit(1)) - F.sum("s")).alias("n_below"),
        F.sum("boundary").alias("n_runs"),
    ).selectExpr(
        "n_days_used",
        "n_above",
        "n_below",
        "n_runs",
        "n_runs * n_days_used * 1000000"
        " div (n_days_used + 2 * n_above * n_below) AS runs_ratio_ppm",
    )



# ---------------------------------------------------------------------------
# q125_hhi_concentration: the Herfindahl–Hirschman index per national
# supplier market — THE market-concentration statistic (antitrust
# guidelines, supply-chain risk): HHI = Σ share_i², here on a 0..1e6
# ppm scale (share_ppm per supplier, then Σ share² div 1e6). Exact
# integer arithmetic throughout: shares floor to ppm first, so every
# intermediate is ≤ 1e12 per supplier regardless of corpus size. The
# report also carries the top-1 share and supplier count — the three
# numbers a concentration review reads together. All aggregation is
# key-partitioned by nation; the supplier-grain table is
# dimension-sized.
# ---------------------------------------------------------------------------
Q125_ORACLE = """
    WITH sup_rev AS (
      SELECT s_nationkey AS nation, s_suppkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS rev
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY 1, 2
    ), shares AS (
      SELECT nation, s_suppkey, rev,
             rev * 1000000 // sum(rev) OVER (PARTITION BY nation)
               AS share_ppm
      FROM sup_rev
    )
    SELECT n_name AS nation_name,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(rev) AS BIGINT) AS revenue_cents,
           CAST(sum(share_ppm * share_ppm) // 1000000 AS BIGINT)
             AS hhi_ppm,
           CAST(max(share_ppm) AS BIGINT) AS top1_share_ppm
    FROM shares JOIN nation ON nation = n_nationkey
    GROUP BY 1
"""


@query("q125_hhi_concentration", oracle=Q125_ORACLE)
def q125_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation supplier-market HHI in exact ppm (see section
    comment)."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    sup_rev = (
        li.selectExpr(
            "l_suppkey",
            "cast(round(l_extendedprice * 100) as bigint) AS cents",
        )
        .groupBy("l_suppkey")
        .agg(F.sum("cents").alias("rev"))
        .join(
            F.broadcast(
                sup.selectExpr(
                    "s_suppkey AS l_suppkey", "s_nationkey AS nation"
                )
            ),
            "l_suppkey",
        )
    )
    shares = sup_rev.select(
        "nation",
        "rev",
        F.expr(
            "rev * 1000000 div sum(rev) over (partition by nation)"
        ).alias("share_ppm"),
    )
    return (
        shares.groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum("rev").alias("revenue_cents"),
            F.expr("sum(share_ppm * share_ppm) div 1000000").alias(
                "hhi_ppm"
            ),
            F.max("share_ppm").alias("top1_share_ppm"),
        )
        .join(
            F.broadcast(
                nat.selectExpr("n_nationkey AS nation", "n_name")
            ),
            "nation",
        )
        .selectExpr(
            "n_name AS nation_name",
            "n_suppliers",
            "revenue_cents",
            "hhi_ppm",
            "top1_share_ppm",
        )
    )
