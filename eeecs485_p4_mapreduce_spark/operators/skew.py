"""Skew mitigation: salted joins for hot keys.

At 100 TB a handful of hot join keys (a viral user, a null-ish default)
can pin a whole stage on one task. AQE's skew-join splitting handles the
sort-merge case automatically (enabled in session.py); ``salted_join``
is the explicit form for when you know the hot side up front or need a
deterministic plan: the big side spreads each key across ``n_salts``
subpartitions and the small side is replicated once per salt, so the
shuffle partitions the hot key n_salts ways. Salting is
correctness-neutral — the demo query's oracle is the plain join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eeecs485_p4_mapreduce_spark.catalog import load_table
from eeecs485_p4_mapreduce_spark.registry import query


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    n_salts: int = 8,
    salt_from: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join ``big`` (skewed side) to ``small`` with an ``n_salts``-way
    salt on the join key.

    The big side's salt derives deterministically from ``salt_from`` (any
    well-distributed column; defaults to the key itself via xxhash — fine
    for mitigation of *moderate* skew, but pass a per-row unique column to
    split a truly degenerate hot key). The small side explodes one row per
    salt, so its size grows n_salts× — keep it broadcast-small.
    """
    src = salt_from if salt_from is not None else big_key
    b = big.withColumn("__salt", F.pmod(F.xxhash64(F.col(src)), F.lit(n_salts)))
    s = small.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<long>")),
    )
    joined = b.join(
        s,
        (b[big_key] == s[small_key]) & (b["__salt"] == s["__salt"]),
        how,
    )
    return joined.drop("__salt")


@query(
    "skew_salted_enrich",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def skew_salted_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demo: events→customer enrichment through the salted join (salt from
    the unique event_id, so even a single hot user splits n_salts ways),
    aggregated by segment. Result is identical to the plain join — the
    oracle IS the plain join."""
    events = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    return (
        salted_join(
            events, cust, "user_id", "c_custkey", n_salts=8, salt_from="event_id"
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "skew_salted_agg",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           count(*) AS n_items
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase distinct-count + sum over 3 giant groups
    (l_returnflag) — the degenerate-cardinality agg shape where a plain
    groupBy would funnel a third of the table through one task's distinct
    set. Phase 1 holds per-(flag, salt) distinct partkeys; phase 2 merges
    counts. The oracle is the plain one-phase SQL: salting is
    correctness-neutral.

    Phase-1 distinct rides on (flag, salt, partkey) grouping so no task
    ever materializes a full group's distinct set; revenue is exact
    integer cents."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.expr("cast(round(l_extendedprice * 100) as bigint)")
    # distinct-by-salt needs the salt to derive from the DISTINCT column
    # so equal partkeys land in the same salt (no double count).
    pre = (
        li.withColumn("__salt", F.pmod(F.xxhash64(F.col("l_partkey")), F.lit(16)))
        .groupBy("l_returnflag", "__salt")
        .agg(
            F.count_distinct("l_partkey").alias("d_parts"),
            F.sum(cents).alias("rev"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return pre.groupBy("l_returnflag").agg(
        F.sum("d_parts").alias("n_parts"),
        F.sum("rev").alias("revenue_cents"),
        F.sum("n").alias("n_items"),
    )
