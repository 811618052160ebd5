"""Core relational operator surface: scans, filters, projections, joins
(shuffle/broadcast/semi/anti), aggregations (hash, rollup/cube, distinct,
conditional), windows (rank, running totals), set operations, top-k,
scalar function pipelines, and time-window aggregation.

The reference framework has none of these built in (SURVEY.md §2.8) — its
only "queries" are external wc/grep executables — so this module IS the
generalized engine surface, expressed 100% in Catalyst-optimizable
DataFrame ops (no Python UDFs anywhere: every expression is JVM-side and
whole-stage-codegen eligible).

Scale notes are attached per query; the common themes:

- dimension joins (`region`, `nation`, query vectors) are explicitly
  broadcast — no shuffle of the fact table for them;
- fact-fact joins shuffle on their join key only after filters have been
  pushed to the parquet scan;
- aggregations are partial (map-side combine) by construction since we use
  `groupBy().agg()` — Spark plans HashAggregate(partial) → Exchange →
  HashAggregate(final).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eeecs485_p4_mapreduce_spark.catalog import (
    dump_plan_evidence,
    load_table,
    table_path,
)
from eeecs485_p4_mapreduce_spark.registry import query

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"


# ---------------------------------------------------------------------------
# q01: full-scan aggregation (TPC-H Q1 pattern): filter → groupBy → many aggs.
# Scale: partial aggregation map-side; only 4 groups cross the wire. The
# shipdate filter and 7-column projection are pushed into the parquet scan.
# ---------------------------------------------------------------------------
@query(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                   AS avg_qty,
           round(avg(l_extendedprice), 4)                              AS avg_price,
           round(avg(l_discount), 4)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q02: selective filter + arithmetic projection folded into one scan
# (TPC-H Q6 pattern). Scale: everything happens inside the scan stage; the
# answer is a single row, so shuffle traffic is one partial-agg row per task.
# ---------------------------------------------------------------------------
@query(
    "q02_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.02 AND 0.06
      AND l_quantity < 24
    """,
)
def q02_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.02, 0.06))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# q03: 3-way fact join + agg + deterministic top-k (TPC-H Q3 pattern).
# Scale: no customer column reaches the output, so the customer branch is
# a LEFT SEMI join — rows filter, never widen — with the segment predicate
# pushed to its scan. No broadcast hint: at bench scale Catalyst/AQE
# broadcasts the filtered slice on its own; at real scale (where customer
# is a fifth of a fact table) the planner is free to pick a shuffled semi
# join instead of being forced to ship it to every executor.
# orders⋈lineitem shuffles on orderkey. Top-k is a TakeOrdered — only k
# rows per partition reach the driver side of the sort.
# ---------------------------------------------------------------------------
@query(
    "q03_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(
            orders.join(cust, orders.o_custkey == cust.c_custkey, "left_semi"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", TS_FMT_SPARK).alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q04: EXISTS semi-join + agg (TPC-H Q4 pattern, adapted to our schema).
# Scale: left-semi join shuffles only (orderkey) pairs, never duplicates
# orders rows; the probe side is pre-aggregated by AQE if skewed.
# ---------------------------------------------------------------------------
@query(
    "q04_priority_with_late_ship",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q04_priority_with_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    joined = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return joined.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# ---------------------------------------------------------------------------
# q05: star join across 6 tables (TPC-H Q5 pattern). Scale: region+nation
# (+supplier) are broadcast — the lineitem fact never shuffles for them;
# only the orders⋈lineitem and customer⋈orders edges exchange data, both on
# their natural keys so AQE can coalesce/skew-split.
# ---------------------------------------------------------------------------
@query(
    "q05_local_supplier_volume",
    oracle="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# q06: deterministic top-k over an aggregation. Scale: agg first (15k → 1.5k
# rows), then TakeOrdered(k) — no global sort materialization.
# ---------------------------------------------------------------------------
@query(
    "q06_top_customers",
    oracle="""
    SELECT c_custkey, c_name,
           round(sum(o_totalprice), 2) AS total_spend,
           count(*) AS n_orders
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    ORDER BY total_spend DESC, c_custkey
    LIMIT 10
    """,
)
def q06_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 customers by spend, with the top-k pushed BELOW the join:
    orders aggregate to customer grain, TakeOrdered keeps 10 rows, and
    only those 10 join customer for the name — so customer is never
    broadcast or shuffled (at real scale customer is itself fact-sized;
    broadcasting it is a small-corpus habit). Relies on the
    orders→customer FK the TPC-H-style generator guarantees: an orphan
    o_custkey would be dropped after the limit here but before it in the
    oracle's join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    top = (
        orders.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("total_spend").desc(), F.col("c_custkey"))
        .limit(10)
    )
    return F.broadcast(top).join(cust, "c_custkey").select(
        "c_custkey", "c_name", "total_spend", "n_orders"
    )


# ---------------------------------------------------------------------------
# q07: ranking window function (top-3 orders per customer). Scale: one
# shuffle on the partition key, sort within partitions only; no global sort.
# ---------------------------------------------------------------------------
@query(
    "q07_top_orders_per_customer",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def q07_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# q08: running-total + lag window frame. Scale: same single-shuffle shape as
# q07; frame is ROWS UNBOUNDED PRECEDING (streaming accumulation, no
# re-scan per row).
# ---------------------------------------------------------------------------
@query(
    "q08_customer_running_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS orderdate,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS running_spend,
           round(coalesce(lag(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ), 0.0), 2) AS prev_price
    FROM orders
    """,
)
def q08_customer_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    order_w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", TS_FMT_SPARK).alias("orderdate"),
        F.round(F.sum("o_totalprice").over(running), 2).alias("running_spend"),
        F.round(F.coalesce(F.lag("o_totalprice").over(order_w), F.lit(0.0)), 2).alias(
            "prev_price"
        ),
    )


# ---------------------------------------------------------------------------
# q09: exact distinct aggregation. Scale: count(DISTINCT) expands to a
# two-phase partial-distinct plan; Spark de-dups map-side per group first.
# ---------------------------------------------------------------------------
@query(
    "q09_distinct_parts_per_flag",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q09_distinct_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# q10: set operations (INTERSECT / EXCEPT). Scale: both compile to
# hash-based distinct joins on the full row — single shuffle each.
# ---------------------------------------------------------------------------
@query(
    "q10_customer_set_ops",
    oracle="""
    WITH c1995 AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                     AND o_orderdate <  TIMESTAMP '1996-01-01'),
         c1996 AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                     AND o_orderdate <  TIMESTAMP '1997-01-01')
    SELECT o_custkey, 'both' AS cohort FROM (SELECT * FROM c1995 INTERSECT SELECT * FROM c1996)
    UNION ALL
    SELECT o_custkey, 'only_1995' AS cohort FROM (SELECT * FROM c1995 EXCEPT SELECT * FROM c1996)
    """,
)
def q10_customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def cohort(year: int) -> DataFrame:
        return (
            orders.filter(
                (F.col("o_orderdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01").cast("timestamp"))
            )
            .select("o_custkey")
            .distinct()
        )

    c1995, c1996 = cohort(1995), cohort(1996)
    both = c1995.intersect(c1996).withColumn("cohort", F.lit("both"))
    only_1995 = c1995.exceptAll(c1996).withColumn("cohort", F.lit("only_1995"))
    return both.unionAll(only_1995)


# ---------------------------------------------------------------------------
# q11: ROLLUP multi-level aggregation. Scale: Spark expands rollup to a
# single Expand + hash-agg — one pass over the fact table.
# ---------------------------------------------------------------------------
@query(
    "q11_rollup_qty",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q11_rollup_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


# ---------------------------------------------------------------------------
# q12: CUBE over two dimensions of orders.
# ---------------------------------------------------------------------------
@query(
    "q12_cube_orders",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
           coalesce(o_orderpriority, 'ALL') AS orderpriority,
           round(sum(o_totalprice), 2) AS sum_price,
           count(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q12_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "sum_price",
            "n_orders",
        )
    )


# ---------------------------------------------------------------------------
# q13: scalar function pipeline (string/date/math), pure per-row — entirely
# whole-stage-codegen, no shuffle at all.
# ---------------------------------------------------------------------------
@query(
    "q13_scalar_functions",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate)  AS order_year,
           month(o_orderdate) AS order_month,
           upper(o_orderpriority) AS prio_upper,
           substr(o_orderpriority, 1, 1) AS prio_code,
           concat(o_orderstatus, '-', o_orderpriority) AS status_prio,
           length(o_orderpriority) AS prio_len,
           round(sqrt(o_totalprice), 4) AS price_sqrt,
           round(ln(o_totalprice + 1), 4) AS price_ln,
           abs(o_custkey - 750) AS key_dist,
           CASE WHEN o_totalprice > 100000 THEN 'big'
                WHEN o_totalprice > 10000 THEN 'mid'
                ELSE 'small' END AS price_band
    FROM orders
    """,
)
def q13_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.upper("o_orderpriority").alias("prio_upper"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.length("o_orderpriority").alias("prio_len"),
        F.round(F.sqrt("o_totalprice"), 4).alias("price_sqrt"),
        F.round(F.log(F.col("o_totalprice") + 1), 4).alias("price_ln"),
        F.abs(F.col("o_custkey") - 750).alias("key_dist"),
        F.when(F.col("o_totalprice") > 100000, "big")
        .when(F.col("o_totalprice") > 10000, "mid")
        .otherwise("small")
        .alias("price_band"),
    )


# ---------------------------------------------------------------------------
# q14: join + conditional aggregation (TPC-H Q14 pattern). Scale: part side
# is broadcast (2k rows at sf0.01, dimension-sized at any SF).
# ---------------------------------------------------------------------------
@query(
    "q14_promo_revenue",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share,
           count(*) AS n_rows
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1997-02-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_share"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# q15: conditional aggregation pivot (status columns). Scale: single pass,
# partial agg; a real `pivot()` needs the value set up front — we pin it so
# the plan stays one stage.
# ---------------------------------------------------------------------------
@query(
    "q15_status_pivot",
    oracle="""
    SELECT year(o_orderdate) AS order_year,
           count(*) FILTER (o_orderstatus = 'F') AS n_f,
           count(*) FILTER (o_orderstatus = 'O') AS n_o,
           count(*) FILTER (o_orderstatus = 'P') AS n_p,
           round(sum(o_totalprice) FILTER (o_orderstatus = 'F'), 2) AS price_f
    FROM orders
    GROUP BY year(o_orderdate)
    """,
)
def q15_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def cnt(status: str):
        return F.count(F.when(F.col("o_orderstatus") == status, 1))

    return (
        orders.groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            cnt("F").alias("n_f"),
            cnt("O").alias("n_o"),
            cnt("P").alias("n_p"),
            F.round(
                F.sum(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))), 2
            ).alias("price_f"),
        )
    )


# ---------------------------------------------------------------------------
# q16: anti join (customers with no URGENT order). Scale: left-anti
# broadcast/shuffle join — never duplicates the left side.
# ---------------------------------------------------------------------------
@query(
    "q16_customers_without_urgent",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
)
def q16_customers_without_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# q17: per-group average comparison (TPC-H Q17 pattern) via a window —
# avoids a second scan+self-join of the fact table.
# ---------------------------------------------------------------------------
@query(
    "q17_above_brand_average",
    oracle="""
    SELECT p_partkey, p_brand, p_retailprice,
           round(sum_cents / (100.0 * n_parts), 4) AS brand_avg
    FROM (
      SELECT p_partkey, p_brand, p_retailprice,
             CAST(round(p_retailprice * 100, 0) AS BIGINT) AS p_cents,
             sum(CAST(round(p_retailprice * 100, 0) AS BIGINT))
               OVER (PARTITION BY p_brand) AS sum_cents,
             count(*) OVER (PARTITION BY p_brand) AS n_parts
      FROM part
    )
    WHERE 100 * p_cents * n_parts > 105 * sum_cents
    """,
)
def q17_above_brand_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prices are 2-decimal values; comparing against 1.05x the brand
    average in floating point is a knife-edge (averages can land exactly on
    a rounding boundary, and Spark/DuckDB accumulate in different orders).
    Computing in integer cents makes both the filter and the reported
    average exact and engine-independent.

    Plan shape: brand totals come from a partial-agg into a brand-sized
    table broadcast back onto the scan — not a PARTITION BY p_brand
    window, which would drag every part row through one task per brand
    (the ratio-to-report pattern used across this repo; ~25 brands
    means ~25 window tasks at ANY table size).
    """
    part = load_table(spark, sf_dir, "part").withColumn(
        "p_cents", F.round(F.col("p_retailprice") * 100, 0).cast("bigint")
    )
    brand_stats = part.groupBy("p_brand").agg(
        F.sum("p_cents").alias("sum_cents"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        part.join(F.broadcast(brand_stats), "p_brand")
        .filter(100 * F.col("p_cents") * F.col("n_parts") > 105 * F.col("sum_cents"))
        .select(
            "p_partkey",
            "p_brand",
            "p_retailprice",
            F.round(F.col("sum_cents") / (100.0 * F.col("n_parts")), 4).alias(
                "brand_avg"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q18: tumbling time-window aggregation over the events stream table —
# the batch twin of the Structured Streaming job in streaming/jobs.py.
# Scale: window(ts) is a scalar bucketing expression; the agg is an
# ordinary partial hash-agg on (bucket, type).
# ---------------------------------------------------------------------------
@query(
    "q18_events_hourly",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def q18_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users",
        )
    )


# ---------------------------------------------------------------------------
# q19: sessionization via gaps-and-islands windows (30-minute inactivity
# gap). Scale: one shuffle on user_id; both window passes share the same
# partitioning so Spark plans a single Exchange.
# ---------------------------------------------------------------------------
@query(
    "q19_sessionize",
    oracle="""
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           round(sum(value), 2) AS session_value
    FROM (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM (
        SELECT user_id, ts, event_id, value,
               CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                         > 1800.0
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
      )
    )
    GROUP BY user_id, session_id
    """,
)
def q19_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    running = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(order_w)
    is_new = F.when(
        prev_ts.isNull()
        | (F.col("ts").cast("double") - prev_ts.cast("double") > 1800.0),
        1,
    ).otherwise(0)
    return (
        events.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(running))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), TS_FMT_SPARK).alias("session_start"),
            F.date_format(F.max("ts"), TS_FMT_SPARK).alias("session_end"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
    )


# ---------------------------------------------------------------------------
# q20: broadcast dimension chain + grouped count (region rollup of
# customers). Scale: region/nation broadcast; single shuffle for the agg.
# ---------------------------------------------------------------------------
@query(
    "q20_customers_per_region",
    oracle="""
    SELECT r_name,
           count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS sum_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q20_customers_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# q21: JSON extraction from the events.props column + agg — semi-structured
# scalar pipeline (get_json_object stays JVM-side).
# ---------------------------------------------------------------------------
@query(
    "q21_json_props",
    oracle="""
    SELECT event_type,
           round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 4) AS avg_k,
           max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def q21_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return events.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# q22: AS-OF join — for each click, the most recent purchase by the same
# user at-or-before the click time. Spark has no ASOF operator, so this is
# the union-marker composition: tag both sides, union, and take
# last(ignorenulls) over a (user, time)-ordered running window. One shuffle
# on user_id, no join explosion; state per row is O(1), so it scales to
# arbitrarily long histories (vs. a range self-join, which is quadratic in
# events-per-user). DuckDB states the same query natively with ASOF JOIN.
# ---------------------------------------------------------------------------
@query(
    "q22_asof_last_purchase",
    oracle="""
    SELECT e.event_id AS click_id, e.user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           p.event_id AS purchase_id,
           round(p.value, 2) AS purchase_value,
           epoch_us(e.ts) - epoch_us(p.ts) AS micros_since_purchase
    FROM (SELECT * FROM events WHERE event_type = 'click') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def q22_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("p_id"),
        F.col("value").alias("p_val"),
        F.lit(1).alias("is_p"),
        F.lit(None).cast("long").alias("c_id"),
    )
    c = events.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("p_id"),
        F.lit(None).cast("double").alias("p_val"),
        F.lit(0).alias("is_p"),
        F.col("event_id").alias("c_id"),
    )
    # At equal ts the purchase must sort before the click (ASOF is >=);
    # p_id breaks any same-ts purchase tie deterministically.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_p").desc(), F.col("p_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = p.unionByName(c)
    return (
        u.withColumn("purchase_id", F.last("p_id", ignorenulls=True).over(w))
        .withColumn("pv", F.last("p_val", ignorenulls=True).over(w))
        .withColumn(
            "p_ts",
            F.last(F.when(F.col("is_p") == 1, F.col("ts")), ignorenulls=True).over(w),
        )
        .filter(F.col("is_p") == 0)
        .select(
            F.col("c_id").alias("click_id"),
            "user_id",
            F.date_format("ts", TS_FMT_SPARK).alias("click_ts"),
            "purchase_id",
            F.round("pv", 2).alias("purchase_value"),
            (F.unix_micros("ts") - F.unix_micros("p_ts")).alias(
                "micros_since_purchase"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q23: range (band) join — classify lineitems into quantity bands defined
# by an inline dimension with [lo, hi] intervals. The band table is tiny
# and explicitly broadcast, so Spark plans a BroadcastNestedLoopJoin: the
# fact side streams through in place, no shuffle at all before the final
# partial agg. This is the scale-correct plan for any small-interval-table
# range join (calendar bins, SLA tiers, price bands).
# ---------------------------------------------------------------------------
_QTY_BANDS = [("low", 1, 10), ("mid", 11, 25), ("high", 26, 40), ("bulk", 41, 50)]


@query(
    "q23_quantity_band_join",
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('low', 1, 10), ('mid', 11, 25), ('high', 26, 40), ('bulk', 41, 50)
    )
    SELECT band,
           count(*) AS n_items,
           round(sum(l_extendedprice), 2) AS revenue,
           round(avg(l_quantity), 4) AS avg_qty
    FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity <= hi
    GROUP BY band
    """,
)
def q23_quantity_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(_QTY_BANDS, "band string, lo int, hi int")
    return (
        li.join(
            F.broadcast(bands),
            (li.l_quantity >= bands.lo) & (li.l_quantity <= bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        )
    )


# ---------------------------------------------------------------------------
# q24: exact interpolated percentiles per group, computed by TARGETED
# BUCKET SELECTION (r15; guide §2.3 "shuffle fewer bytes" / §2.4):
#   1. one scan aggregates per-(flag, bucket) row counts, bucket =
#      cents div 2^14 — a TINY table (price domain / 16384 rows), whose
#      cumulative window pinpoints, for every needed rank threshold t
#      (floor(q*(n-1)) and +1 per quantile), the ONE bucket where the
#      cumulative count crosses t;
#   2. a second scan keeps only rows in those ≤ 8 buckets per flag
#      (broadcast semi of the target-bucket list, ~1% of rows), builds
#      the value histogram for just them, and runs the cumulative
#      window + conditional-min interpolation exactly as before, with
#      each bucket's preceding-row count added as a constant offset.
# The conditional min over the filtered histogram equals the min over
# the full one: cum is monotone in cents, so argmin{cents: cum > t} is
# the first value in the crossing bucket — which is in the kept set by
# construction; every other kept row either fails the WHEN or is
# larger. Outputs are bit-identical (oracle-verified).
# vs the r14 form (full value histogram + flag-wide window): the
# distinct-value exchange shrinks from every distinct cent (583k rows
# at sf0.1, ~1e7 at any corpus size for this price domain) to the
# target buckets only (~8*16384 per flag), and the DOMAIN-sized
# per-flag window sort disappears — at the cost of a second (pruned,
# 2-column) scan of the fact table. Same-session min-of-5 at sf0.1:
# 1.378 s (old) -> 1.037 s; the old 2x-slower bucket-prefix-window A/B
# (which parallelized the window but still shuffled the whole domain)
# is superseded by this form, which shuffles almost nothing.
# Spark's built-in exact `percentile` stays rejected — it is a
# row-at-a-time ObjectAggregate buffering every raw value per group
# (measured 3.5s vs ~1s at sf0.1; unbounded memory at scale).
# Determinism: interpolation runs over exact integer CENTS at dyadic
# quantiles (k/2^m) only, so lo + frac*(hi-lo) is exact in doubles and
# the two engines agree bit-for-bit — at non-dyadic quantiles (e.g.
# 0.95) engines' interpolation formulas differ in the last ulp, which
# flips a 2-decimal round on real data (observed at sf0.001). Output
# stays in cents.
# ---------------------------------------------------------------------------
_PCTS = [("p25_cents", 0.25), ("p50_cents", 0.5), ("p75_cents", 0.75), ("p875_cents", 0.875)]


@query(
    "q24_group_percentiles",
    oracle=f"""
    SELECT l_returnflag,
           {", ".join(f"quantile_cont(CAST(round(l_extendedprice * 100, 0) AS BIGINT), {q}) AS {name}" for name, q in _PCTS)},
           count(*) AS n_items
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q24_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = (
        load_table(spark, sf_dir, "lineitem")
        .withColumn(
            "cents", F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
        )
        .withColumn("bkt", F.expr("cents div 16384"))
    )
    # Pass 1 (one broadcast subplan): per-(flag, bucket) counts —
    # price-domain/16384 rows — whose cumulative window locates every
    # rank threshold the interpolation will probe (floor(q*(n-1)) and
    # +1 per quantile): the bucket where cum crosses threshold t is
    # min{bkt : cum_end > t}. n rides along so the fact side needs no
    # second broadcast.
    bcnt = li.groupBy("l_returnflag", "bkt").agg(F.count(F.lit(1)).alias("cnt"))
    w_bcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binfo = bcnt.withColumn("cum_end", F.sum("cnt").over(w_bcum)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("l_returnflag"))
    )
    thr_list = ", ".join(
        f"floor({q}d * (n - 1)){plus}"
        for _name, q in _PCTS
        for plus in ("", " + 1L")
    )
    targets = (
        binfo.select(
            "l_returnflag",
            "bkt",
            (F.col("cum_end") - F.col("cnt")).alias("before"),
            "cum_end",
            "n",
            F.explode(F.expr(f"array({thr_list})")).alias("thr"),
        )
        .filter(F.col("cum_end") > F.col("thr"))
        .groupBy("l_returnflag", "thr")
        .agg(
            F.min_by(F.struct("bkt", "before"), "bkt").alias("s"),
            F.max("n").alias("n"),
        )
        .select(
            "l_returnflag",
            F.col("s.bkt").alias("bkt"),
            F.col("s.before").alias("before"),
            "n",
        )
        .distinct()
    )
    # Pass 2: value histogram over ONLY the target buckets (~8 per flag);
    # cum = bucket offset + within-bucket running count reproduces the
    # full-table cumulative count exactly on the kept rows. The groupBy
    # keeps map-side partial aggregation, so BOTH exchanges here (agg on
    # the distinct values, window re-key to (flag, bkt)) stay
    # domain-bounded at any corpus size. A/B'd against an explicit
    # repartition(flag, bkt) before the agg, which fuses the two
    # exchanges into one and measures ~0.1 s faster at sf0.1 — but that
    # form shuffles the RAW matched rows (corpus-proportional) with no
    # partial agg, so the one-barrier saving is local-only; rejected.
    counts = (
        li.join(F.broadcast(targets), ["l_returnflag", "bkt"])
        .groupBy("l_returnflag", "bkt", "before", "n", "cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("l_returnflag", "bkt")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = counts.withColumn("cum", F.col("before") + F.sum("cnt").over(w_cum))
    # rank position h = (n-1)*q; the quantile interpolates the values at
    # ranks floor(h)+1 and floor(h)+2 (1-based) with fraction h-floor(h).
    for name, q in _PCTS:
        ranked = ranked.withColumn(f"lo_{name}", F.expr(f"floor({q}d * (n - 1))"))
    aggs = []
    for name, _q in _PCTS:
        aggs.append(
            F.min(
                F.when(F.col("cum") > F.col(f"lo_{name}"), F.col("cents"))
            ).alias(f"vlo_{name}")
        )
        aggs.append(
            F.min(
                F.when(F.col("cum") > F.col(f"lo_{name}") + 1, F.col("cents"))
            ).alias(f"vhi_{name}")
        )
    out = ranked.groupBy("l_returnflag").agg(*aggs, F.first("n").alias("n_items"))
    sels = ["l_returnflag"]
    for name, q in _PCTS:
        sels.append(
            f"cast(vlo_{name} as double)"
            f" + ({q}d * (n_items - 1) - floor({q}d * (n_items - 1)))"
            f" * (cast(coalesce(vhi_{name}, vlo_{name}) as double)"
            f"    - cast(vlo_{name} as double)) AS {name}"
        )
    sels.append("n_items")
    return out.selectExpr(*sels)


# ---------------------------------------------------------------------------
# q25: arg-min/arg-max aggregates (min_by/max_by). events.value is always
# 2-decimal and event_id is unique, so ordering by the exact integer pack
# cents*10^12 + event_id makes the winner deterministic in both engines
# (bare min_by/max_by on value would be tie-ambiguous — 872 duplicate
# (type, value) pairs exist at sf0.01).
# ---------------------------------------------------------------------------
_PACK_SPARK = "cast(round(value * 100, 0) as bigint) * 1000000000000 + event_id"
_PACK_DUCK = "CAST(round(value * 100, 0) AS BIGINT) * 1000000000000 + event_id"


@query(
    "q25_event_extremes",
    oracle=f"""
    SELECT event_type,
           max_by(event_id, {_PACK_DUCK}) AS top_event_id,
           round(max(value), 2) AS max_value,
           min_by(event_id, {_PACK_DUCK}) AS bottom_event_id,
           round(min(value), 2) AS min_value,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def q25_event_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pack = F.expr(_PACK_SPARK)
    return events.groupBy("event_type").agg(
        F.max_by("event_id", pack).alias("top_event_id"),
        F.round(F.max("value"), 2).alias("max_value"),
        F.min_by("event_id", pack).alias("bottom_event_id"),
        F.round(F.min("value"), 2).alias("min_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# q26: sketch aggregates — HyperLogLog distinct counts and quantile-digest
# percentiles. These are THE 100 TB cardinality/quantile tools (fixed-size
# sketch per group, merged map-side, no exact sort). DuckDB cannot
# reproduce Spark's HLL++/approx_percentile bit-for-bit, so the
# REGISTERED output is restructured to be hash-provable anyway: the exact
# columns DuckDB can compute (exact_users, n_events) plus deterministic
# bound-check booleans (Spark's sketches are deterministic for fixed
# input, so `|approx-exact| <= bound` is a stable TRUE) — the oracle SQL
# emits the exact side + literal TRUE. The raw sketch estimates stay
# available via ``_q26_sketch_vs_exact`` (pytest bounds them directly).
# The exact columns are the verification harness; a production user of
# the sketch path reads the ``sketches`` branch alone.
# ---------------------------------------------------------------------------
def _q26_percentile_brackets(events: DataFrame) -> DataFrame:
    """Exact rank-bracket values per event_type, computed from an
    (event_type, value) COUNT HISTOGRAM — the same scale-shaped two-phase
    formulation q24 uses. Spark's built-in exact ``percentile`` is an
    ObjectAggregate that buffers every raw value per group (unbounded
    memory at 100 TB); the histogram shuffles only distinct values, and
    the per-group cumulative window runs over that domain-bounded table.

    Bracket semantics: for q in {0.5, 0.95}, emit the exact data values at
    0-based ranks ``floor(q·(n-1)) - slack`` and ``ceil(q·(n-1)) + slack``
    with ``slack = 2 + ceil(0.01·n)``. approx_percentile(accuracy=10000)
    returns an actual datum whose rank error is ≤ 1e-4·n, so the datum's
    rank always falls inside [lo_rank, hi_rank]: the containment boolean
    is a stable TRUE at ANY scale factor. The ±2 absolute slack makes the
    bracket safe for tiny groups too (for n=4, q=0.5 the bracket spans
    min..max), where the old interpolated percentile(0.49)/(0.51) bracket
    could exclude the returned datum."""
    from pyspark.sql.window import Window

    hist = events.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = hist.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("event_type"))
    )
    slack = F.lit(2) + F.ceil(F.col("n") * 0.01)
    aggs = []
    for name, q in (("p50", 0.5), ("p95", 0.95)):
        h = F.lit(q) * (F.col("n") - 1)
        lo_rank = F.greatest(F.lit(0).cast("bigint"), F.floor(h) - slack)
        hi_rank = F.least(F.col("n") - 1, F.ceil(h) + slack)
        # value at 0-based rank r = min value whose cumulative count > r
        aggs.append(
            F.min(F.when(F.col("cum") > lo_rank, F.col("value"))).alias(
                f"{name}_lo"
            )
        )
        aggs.append(
            F.min(F.when(F.col("cum") > hi_rank, F.col("value"))).alias(
                f"{name}_hi"
            )
        )
    return ranked.groupBy("event_type").agg(*aggs).withColumnRenamed(
        "event_type", "et_brackets"
    )


def _q26_sketch_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch estimates joined with exact counterparts, one row per
    event_type. Columns: approx_users / exact_users, value_p50 / value_p95
    (sketch) plus exact rank-bracket values p50_lo..p95_hi."""
    events = load_table(spark, sf_dir, "events")
    # One agg per shape: mixing countDistinct with the sketch aggregates
    # makes Catalyst rewrite the whole aggregation through Expand (every
    # input row duplicated per distinct-group), which drags the
    # percentile buffers through the expanded stream — measured 11.5s vs
    # 0.3s for the same aggs un-mixed at sf0.1. The exact distinct runs
    # as its own two-phase aggregate (distinct pairs, then count — the
    # skew-safe form), the exact percentile brackets as a histogram agg
    # (_q26_percentile_brackets — no per-group value buffering), and both
    # join the sketch row at group grain (5 rows — trivial joins).
    sketches = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        # scalar columns, not the raw array: the driver's canonicalizer
        # can't sort list cells.
        F.expr("approx_percentile(value, 0.5, 10000)").alias("value_p50"),
        F.expr("approx_percentile(value, 0.95, 10000)").alias("value_p95"),
        F.count(F.lit(1)).alias("n_events"),
    )
    exact = (
        events.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        # count("user_id") after distinct() = countDistinct semantics
        # (NULL user_id is not a distinct value); count(lit(1)) would
        # count it.
        .agg(F.count("user_id").alias("exact_users"))
        .withColumnRenamed("event_type", "et_exact")
    )
    brackets = _q26_percentile_brackets(events)
    return (
        sketches.join(
            exact, sketches["event_type"].eqNullSafe(exact["et_exact"])
        )
        # eqNullSafe so a NULL event_type group would survive the joins
        # (plain `==` silently drops it; events currently has no NULLs
        # but the semantics shouldn't depend on that).
        .join(
            brackets,
            sketches["event_type"].eqNullSafe(brackets["et_brackets"]),
        )
        .drop("et_exact", "et_brackets")
    )


@query(
    "q26_approx_sketches",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           count(*) AS n_events,
           TRUE AS approx_users_ok,
           TRUE AS p50_ok,
           TRUE AS p95_ok
    FROM events
    GROUP BY event_type
    """,
)
def q26_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    full = _q26_sketch_vs_exact(spark, sf_dir)
    # Every boolean is coalesce'd to TRUE: an all-NULL value group would
    # make the sketch columns (and thus between()) NULL, which would
    # canonicalize as 'NULL' vs the oracle's literal TRUE. The bound is
    # 5·rsd (rsd=0.02 → 10%), matching the pytest tolerance, with a
    # small-count floor — HLL++ is deterministic for fixed input and the
    # boolean only needs to be stably TRUE, not tight.
    return full.select(
        "event_type",
        "exact_users",
        "n_events",
        F.coalesce(
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.greatest(F.lit(3.0), F.col("exact_users") * 0.10),
            F.lit(True),
        ).alias("approx_users_ok"),
        F.coalesce(
            F.col("value_p50").between(F.col("p50_lo"), F.col("p50_hi")),
            F.lit(True),
        ).alias("p50_ok"),
        F.coalesce(
            F.col("value_p95").between(F.col("p95_lo"), F.col("p95_hi")),
            F.lit(True),
        ).alias("p95_ok"),
    )


# ---------------------------------------------------------------------------
# q27: pivot-then-unpivot (wide/long reshaping). The conditional agg is one
# partial-agg shuffle; unpivot is a pure map-side generator (no shuffle),
# so the reshape costs nothing extra at scale.
# ---------------------------------------------------------------------------
@query(
    "q27_status_unpivot",
    oracle="""
    WITH agg AS (
      SELECT o_orderpriority,
             sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS f_cnt,
             sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS o_cnt,
             sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS p_cnt
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, 'F' AS status, CAST(f_cnt AS BIGINT) AS n_orders
    FROM agg
    UNION ALL
    SELECT o_orderpriority, 'O' AS status, CAST(o_cnt AS BIGINT) AS n_orders
    FROM agg
    UNION ALL
    SELECT o_orderpriority, 'P' AS status, CAST(p_cnt AS BIGINT) AS n_orders
    FROM agg
    """,
)
def q27_status_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderpriority").agg(
        *[
            F.sum(F.when(F.col("o_orderstatus") == s, 1).otherwise(0)).alias(s)
            for s in ("F", "O", "P")
        ]
    )
    return wide.unpivot("o_orderpriority", ["F", "O", "P"], "status", "n_orders")


# ---------------------------------------------------------------------------
# q28: the analytic-window family — rank, dense_rank, ntile, percent_rank,
# cume_dist, lag/lead — over one (priority, price desc, key) ordering.
#
# Scale: a direct Window.partitionBy(o_orderpriority) caps parallelism at
# the PARTITION CARDINALITY (5 priorities = 5 tasks forever — the x10
# replica probe measured it at 6.5x wall for 10x rows while everything
# else stayed under 4x). Instead, the same two-level prefix decomposition
# as q57/curate_token_budget, extended to the whole rank family:
#   1. equi-width price buckets from a broadcast (min,max) scalar — bucket
#      id is monotone in the sort order, so bucket boundaries are rank
#      boundaries;
#   2. per-(priority, bucket) counts + edge prices form a TINY table; a
#      window over it yields each bucket's preceding row count, total n,
#      and neighbor-bucket edge prices;
#   3. the fact table sorts only WITHIN (priority, bucket) — hundreds of
#      independent tasks — and every global quantity is local state plus
#      the broadcast prefix: rank = before + row_number (the ordering is
#      total, keys are unique, so rank = dense_rank = row_number),
#      percent_rank = (rank-1)/(n-1), cume_dist = rank/n, ntile(k) by the
#      exact tile-size formula, lag/lead patched at bucket edges with the
#      neighbor's edge price.
# Task state is bucket-sized (rows/B), not partition-sized (rows/5), at
# any corpus size — PROVIDED the sort key is spread across the value
# range. KNOWN CAVEAT (same in q40's SQL twin): the buckets are
# equi-WIDTH over [min, max], so a degenerate distribution (e.g. 90% of
# orders at one constant price) lands in ONE bucket and re-creates the
# single-task bottleneck; AQE skew handling does not split window
# partitions. The fix when profiling shows value skew is equi-DEPTH
# boundaries — seed `bkt` from approx_percentile(o_totalprice,
# array(1/B..)) in the same broadcast aggregate that today carries
# (pmin, pmax), at the cost of an O(log B) boundary search per row.
# Not wired here because order prices are near-uniform by construction
# and the exact-integer bucket arithmetic below is cheaper to verify.
# r15 A/B (same-session min-of-4 at sf0.1): the naive single
# flag-partitioned window measures 0.54 s vs 1.05 s for this two-level
# form — at bench scale the 5-partition cap does not bite (30k rows per
# task) while the bucket scaffolding pays two extra broadcast barriers.
# The two-level form is kept anyway: the x10 replica probe measured the
# naive form at 6.5x wall for 10x rows (per-priority populations grow
# with the corpus; task width is fixed at 5 forever), which is exactly
# the local[32]-only trap the optimization rules exclude. The sf0.1 gap
# is the documented price of the scale-correct shape.
# ---------------------------------------------------------------------------
_Q28_BUCKETS = 256


def _parquet_col_minmax(path: str, col: str):
    """(min, max) of a numeric column from parquet FOOTER statistics
    only — no Spark job, the same metadata-read pattern as the HNSW
    family's _parquet_row_count. Returns None when any row group lacks
    stats (caller falls back to the aggregate). Numeric parquet
    statistics are exact (string stats can be truncated — do not use
    this for strings)."""
    from pathlib import Path

    import pyarrow.parquet as pq

    p = Path(path)
    files = sorted(p.rglob("*.parquet")) if p.is_dir() else [p]
    if not files:
        return None
    lo = hi = None
    for f in files:
        md = pq.read_metadata(str(f))
        try:
            idx = md.schema.names.index(col)
        except ValueError:
            return None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
    return (lo, hi) if lo is not None else None


@query(
    "q28_window_rank_family",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           rank()         OVER w AS rnk,
           dense_rank()   OVER w AS drnk,
           ntile(4)       OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cume,
           lag(o_totalprice)  OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q28_window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    B = _Q28_BUCKETS
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
    # Bucket bounds from parquet footer statistics when available (r15):
    # the (pmin, pmax) scalar only anchors the equi-width grid — ranks
    # depend on bucket ids being MONOTONE in price, not on the exact
    # bounds — and footer min/max ARE the exact column min/max, so the
    # output is identical either way. This removes one of the three
    # order scans and its broadcast barrier (the mm aggregate) from the
    # chain; a stats-less file falls back to the aggregate.
    mm_vals = _parquet_col_minmax(table_path(sf_dir, "orders"), "o_totalprice")
    if mm_vals is not None:
        pmin, pmax = float(mm_vals[0]), float(mm_vals[1])
        bucketed = base.withColumn(
            "bkt",
            F.expr(
                f"least({B - 1}L, floor((o_totalprice - {pmin!r}d)"
                f" / (greatest({pmax!r}d - {pmin!r}d, 1e-9d) / {B})))"
            ),
        )
    else:  # pragma: no cover — driver-generated tables always carry stats
        mm = base.groupBy().agg(
            F.min("o_totalprice").alias("pmin"),
            F.max("o_totalprice").alias("pmax"),
        )
        bucketed = base.join(F.broadcast(mm)).withColumn(
            "bkt",
            F.expr(
                f"least({B - 1}L, floor((o_totalprice - pmin)"
                f" / (greatest(pmax - pmin, 1e-9d) / {B})))"
            ),
        )
    # the (price desc, key asc) total order as an ascending struct key,
    # for picking each bucket's first/last row edge prices
    okey = F.struct(
        (-F.col("o_totalprice")).alias("np"), F.col("o_orderkey").alias("k")
    )
    w_b = Window.partitionBy("o_orderpriority").orderBy(F.col("bkt").desc())
    binfo = (
        bucketed.groupBy("o_orderpriority", "bkt")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min_by("o_totalprice", okey).alias("first_price"),
            F.max_by("o_totalprice", okey).alias("last_price"),
        )
        .select(
            "o_orderpriority",
            "bkt",
            "cnt",
            (
                F.sum("cnt").over(
                    w_b.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
                - F.col("cnt")
            ).alias("before"),
            F.sum("cnt").over(Window.partitionBy("o_orderpriority")).alias("n"),
            F.lag("last_price").over(w_b).alias("prev_edge"),
            F.lead("first_price").over(w_b).alias("next_edge"),
        )
    )
    w_local = Window.partitionBy("o_orderpriority", "bkt").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    ranked = (
        bucketed.join(F.broadcast(binfo), ["o_orderpriority", "bkt"])
        .withColumn("rn", F.row_number().over(w_local))
        .withColumn("rnk", F.col("before") + F.col("rn"))
    )
    # exact ntile(4): q = n div 4 rows per tail tile, the first n % 4
    # tiles get one extra row — identical to the engine definition
    ntile4 = F.expr(
        "CASE WHEN rnk <= (n % 4) * (n div 4 + 1)"
        " THEN (rnk + (n div 4)) div (n div 4 + 1)"
        " ELSE (n % 4) + (rnk - (n % 4) * (n div 4 + 1) + (n div 4) - 1)"
        "      div (n div 4) END"
    )
    return ranked.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("rnk"),
        F.col("rnk").alias("drnk"),  # unique total order: dense_rank = rank
        ntile4.cast("int").alias("quartile"),
        F.round(
            F.when(F.col("n") > 1, (F.col("rnk") - 1) / (F.col("n") - 1))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("pct_rank"),
        F.round(F.col("rnk") / F.col("n"), 6).alias("cume"),
        F.coalesce(
            F.lag("o_totalprice").over(w_local), F.col("prev_edge")
        ).alias("prev_price"),
        F.coalesce(
            F.lead("o_totalprice").over(w_local), F.col("next_edge")
        ).alias("next_price"),
    )


# ---------------------------------------------------------------------------
# q29: date/time scalar function family (trunc, extract, diff, last_day).
# Pure map-side projection — stays in whole-stage codegen, no shuffle.
# Engine notes: Spark dayofweek is 1=Sunday, DuckDB dow is 0=Sunday, so
# the Spark side subtracts 1; both week-of-year functions are ISO.
# ---------------------------------------------------------------------------
@query(
    "q29_date_features",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS orderdate,
           date_part('year', o_orderdate)    AS yr,
           date_part('quarter', o_orderdate) AS qtr,
           date_part('month', o_orderdate)   AS mon,
           date_part('dow', o_orderdate)     AS dow,
           date_part('week', o_orderdate)    AS iso_week,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
           date_diff('day', DATE '1995-01-01', o_orderdate) AS days_since_95
    FROM orders
    """,
)
def q29_date_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.date_format(d, TS_FMT_SPARK).alias("orderdate"),
        F.year(d).cast("bigint").alias("yr"),
        F.quarter(d).cast("bigint").alias("qtr"),
        F.month(d).cast("bigint").alias("mon"),
        (F.dayofweek(d) - 1).cast("bigint").alias("dow"),
        F.weekofyear(d).cast("bigint").alias("iso_week"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since_95"),
    )


# ---------------------------------------------------------------------------
# q30: GROUPING SETS with grouping() markers — the general form of
# q11's rollup / q12's cube. One shuffle; Spark expands the sets in a
# single Expand+HashAggregate, not one pass per set.
# ---------------------------------------------------------------------------
@query(
    "q30_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag)  AS g_flag,
           grouping(l_linestatus)  AS g_status,
           count(*) AS n_items,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q30_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
        F.grouping("l_linestatus").cast("bigint").alias("g_status"),
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# q31: left-outer join + two-level aggregation (TPC-H Q13 pattern): how
# many customers have 0, 1, 2, ... non-urgent orders. Scale: the outer
# join shuffles on custkey once; both aggs are partial. Customers with no
# orders survive via the outer side (count(o_orderkey) ignores nulls).
# ---------------------------------------------------------------------------
@query(
    "q31_order_count_distribution",
    oracle="""
    SELECT n_orders, count(*) AS n_customers
    FROM (
      SELECT c_custkey, count(o_orderkey) AS n_orders
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY n_orders
    """,
)
def q31_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


# ---------------------------------------------------------------------------
# q32: scalar-subquery max (TPC-H Q15 pattern): supplier(s) achieving the
# maximum quarterly revenue. Revenue is summed in integer cents (per-row
# round, then exact integer sum) so the max and the equality filter are
# bit-deterministic in both engines regardless of accumulation order.
# Scale: the scalar max is a 1-row broadcast joined against the
# aggregated (not raw) revenue table.
# ---------------------------------------------------------------------------
_REV_CENTS_DUCK = (
    "sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT))"
)


@query(
    "q32_top_supplier_revenue",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey AS suppkey, {_REV_CENTS_DUCK} AS total_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(total_cents / 100.0, 2) AS total_rev
    FROM supplier JOIN rev ON s_suppkey = suppkey
    WHERE total_cents = (SELECT max(total_cents) FROM rev)
    """,
)
def q32_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
                ).cast("bigint")
            ).alias("total_cents")
        )
    )
    top = rev.agg(F.max("total_cents").alias("max_cents"))
    return (
        rev.join(F.broadcast(top), rev.total_cents == F.col("max_cents"))
        .join(F.broadcast(sup), rev.suppkey == sup.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_cents") / 100.0, 2).alias("total_rev"),
        )
    )


# ---------------------------------------------------------------------------
# q33: scalar-subquery average + NOT EXISTS anti-join + substring grouping
# (TPC-H Q22 pattern): above-average-balance customers with no recent
# (2001+) order, grouped by a name prefix. The average is exact integer
# cents / exact count, so the threshold is bit-identical across engines;
# the anti-join is a left-anti shuffle on custkey with its date filter
# pushed to the orders scan.
# ---------------------------------------------------------------------------
@query(
    "q33_rich_inactive_customers",
    oracle="""
    WITH thresh AS (
      SELECT sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) * 1.0
             / (count(*) * 100.0) AS avg_bal
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT substr(c_name, 18, 1) AS name_suffix,
           count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer, thresh
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2001-01-01')
    GROUP BY 1
    """,
)
def q33_rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    thresh = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("bigint"))
            / (F.count(F.lit(1)) * 100.0)
        ).alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            orders.filter(
                F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
            ),
            cust.c_custkey == orders.o_custkey,
            "left_anti",
        )
        .groupBy(F.substring("c_name", 18, 1).alias("name_suffix"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# q34: event-time interval join in batch (funnel attribution) — the batch
# twin of streaming/jobs.click_to_purchase_stream, under a full DuckDB
# oracle. Scale: the join shuffles both sides on user_id once; the time
# predicate bounds the per-user cross product to the attribution horizon.
# ---------------------------------------------------------------------------
@query(
    "q34_click_attribution",
    oracle="""
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS micros_to_purchase,
           round(p.value, 2) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def q34_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return (
        c.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
            ),
        )
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
                "micros_to_purchase"
            ),
            F.round("purchase_value", 2).alias("purchase_value"),
        )
    )


# ---------------------------------------------------------------------------
# q35: sessionization via Spark's NATIVE session_window aggregate — the
# streaming-compatible form of q19's gaps-and-islands windows (same
# 30-minute gap, same sessions; the oracle is q19's SQL reshaped, and the
# row counts match exactly). Scale: one shuffle on user_id; the window
# merge is Spark-internal state, no second window pass.
# ---------------------------------------------------------------------------
@query(
    "q35_session_window",
    oracle="""
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS session_value
    FROM (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM (
        SELECT user_id, ts, event_id, value,
               CASE WHEN epoch(ts) - epoch(lag(ts) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id)) > 1800.0
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
      )
    )
    GROUP BY user_id, session_id
    """,
)
def q35_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
            F.date_format(F.min("ts"), TS_FMT_SPARK).alias("session_start"),
            F.date_format(F.max("ts"), TS_FMT_SPARK).alias("session_end"),
        )
        .select(
            "user_id",
            "session_start",
            "session_end",
            "n_events",
            "session_value",
        )
    )


# ---------------------------------------------------------------------------
# q36: nation-pair shipping volume (TPC-H Q7 pattern): two independent
# dimension lineages (supplier->nation, customer->nation) meeting at the
# lineitem/orders fact join, with a symmetric pair predicate.
# Scale: nation broadcasts into customer and supplier; the filtered
# supplier side (2/25 nations) broadcasts into lineitem, so the only
# shuffles are orders<->customer (on custkey) and that result<->lineitem
# (on orderkey). Year extraction and the pair filter are codegen'd.
# ---------------------------------------------------------------------------
@query(
    "q36_volume_shipping",
    oracle="""
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           year(l.l_shipdate) AS ship_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
    GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
    """,
)
def q36_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    pair = ("NATION_1", "NATION_2")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    return (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# q37: product-type profit by supplier nation and order year (TPC-H Q9
# pattern, adapted: no partsupp table, so cost = 60% of retail price).
# Scale: the part filter (`p_name LIKE '%widget%'`) applies BEFORE the
# broadcast, so only the qualifying slice of part ships to executors;
# supplier+nation broadcast too. The single shuffle join is
# lineitem<->orders on orderkey, and the profit arithmetic happens
# map-side before the tiny (nation x year) aggregation.
# ---------------------------------------------------------------------------
@query(
    "q37_product_profit",
    oracle="""
    SELECT n.n_name AS nation,
           year(o.o_orderdate) AS o_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)
                     - 0.6 * p.p_retailprice * l.l_quantity), 2) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
)
def q37_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).alias("profit"))
    )


# ---------------------------------------------------------------------------
# q38: disjunctive multi-clause predicate join (TPC-H Q19 pattern) — an
# OR of three (brand, size-range, quantity-range) conjunctions.
# Scale: the part-only disjunction pre-filters the part side BEFORE the
# broadcast (the OR of part predicates is the union of what any clause
# can accept), then the full residual predicate — which needs columns
# from both sides — runs after the join. The lineitem side pushes
# l_quantity bounds (the OR's convex hull, 1..30) into the scan.
# ---------------------------------------------------------------------------
_Q38_CLAUSES = [
    ("Brand#1", 1, 5, 1.0, 11.0),
    ("Brand#2", 1, 10, 10.0, 20.0),
    ("Brand#3", 1, 15, 20.0, 30.0),
]


@query(
    "q38_disjunctive_revenue",
    oracle="""
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q38_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part_pred = None
    full_pred = None
    for brand, slo, shi, qlo, qhi in _Q38_CLAUSES:
        pp = (F.col("p_brand") == brand) & F.col("p_size").between(slo, shi)
        fp = pp & F.col("l_quantity").between(qlo, qhi)
        part_pred = pp if part_pred is None else (part_pred | pp)
        full_pred = fp if full_pred is None else (full_pred | fp)
    part = (
        load_table(spark, sf_dir, "part")
        .filter(part_pred)
        .select("p_partkey", "p_brand", "p_size")
    )
    qlo = min(c[3] for c in _Q38_CLAUSES)
    qhi = max(c[4] for c in _Q38_CLAUSES)
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(qlo, qhi)
    ).select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(full_pred)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# q39: lone-returner suppliers (TPC-H Q21 pattern): suppliers who are the
# ONLY supplier with a returned item in a multi-supplier order. The
# textbook form is EXISTS + NOT EXISTS correlated self-joins (that is the
# oracle SQL); Spark-first it collapses into two aggregations over ONE
# shuffle lineage — per (order, supplier) returned-flag, then per order
# count suppliers / count returners / pick the lone returner — so
# lineitem is scanned and shuffled exactly once, with no self-join.
# Scale: the heavy agg keys on l_orderkey (high cardinality, no skew);
# the supplier-name join is a broadcast; top-10 is a tiny final sort.
# ---------------------------------------------------------------------------
@query(
    "q39_lone_return_suppliers",
    oracle="""
    SELECT s.s_name, count(*) AS n_orders
    FROM supplier s
    JOIN (SELECT DISTINCT l_orderkey, l_suppkey
          FROM lineitem WHERE l_returnflag = 'R') l1
      ON l1.l_suppkey = s.s_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY n_orders DESC, s.s_name
    LIMIT 10
    """,
)
def q39_lone_return_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("has_r")
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("has_r").alias("n_r_supp"),
        F.max(F.when(F.col("has_r") == 1, F.col("l_suppkey"))).alias("r_supp"),
    )
    lone = per_order.filter((F.col("n_supp") > 1) & (F.col("n_r_supp") == 1))
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        lone.groupBy("r_supp")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .join(F.broadcast(sup), F.col("r_supp") == F.col("s_suppkey"))
        .select("s_name", "n_orders")
        .orderBy(F.col("n_orders").desc(), "s_name")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q40: the SQL text surface — the IDENTICAL ANSI SQL string runs through
# spark.sql() over registered views and through the DuckDB oracle,
# proving the engine speaks SQL directly (multi-CTE, window frames,
# prefix-sum prune, qualify-style rank filter), not just the DataFrame
# DSL. Scale: top-3-per-segment via a rank over PARTITION BY
# c_mktsegment alone would cap parallelism at the segment cardinality
# (5 tasks at any corpus size — the q28 failure mode), so the string
# expresses the two-level prefix idiom in portable ANSI SQL: bucket
# acctbal, window the tiny per-(segment, bucket) counts for each
# bucket's preceding row count, keep only buckets that can still reach
# rank 3 (before < 3 — every earlier bucket row outranks them), and run
# the final rank over those few surviving rows. Correct because bucket
# id is monotone in the rank order: a row with >= 3 rows in strictly
# higher buckets can never be top-3.
# ---------------------------------------------------------------------------
_Q40_SQL = """
    WITH bucketed AS (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             CAST(floor(c_acctbal / 100) AS BIGINT) AS bkt
      FROM customer
    ),
    bucket_counts AS (
      SELECT c_mktsegment, bkt, count(*) AS cnt
      FROM bucketed GROUP BY c_mktsegment, bkt
    ),
    keep AS (
      SELECT c_mktsegment, bkt,
             sum(cnt) OVER (PARTITION BY c_mktsegment ORDER BY bkt DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - cnt AS before
      FROM bucket_counts
    ),
    cand AS (
      SELECT b.c_mktsegment, b.c_custkey, b.c_acctbal
      FROM bucketed b
      JOIN keep k ON b.c_mktsegment = k.c_mktsegment AND b.bkt = k.bkt
      WHERE k.before < 3
    ),
    ranked AS (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             rank() OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal DESC, c_custkey) AS seg_rank
      FROM cand
    )
    SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS acctbal, seg_rank
    FROM ranked
    WHERE seg_rank <= 3
"""


@query("q40_sql_surface", oracle=_Q40_SQL)
def q40_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_Q40_SQL)


# ---------------------------------------------------------------------------
# q41: statistical aggregates (stddev/variance/correlation/covariance)
# per group — the moments family. Scale: all four are one-pass mergeable
# aggregates (partial moment sums map-side, tiny merge); the answer is
# rounded on both engines because the merge ORDER perturbs the last ulp.
# ---------------------------------------------------------------------------
@query(
    "q41_stats_summary",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_discount), 6) AS var_disc,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
           round(avg(l_extendedprice), 2) AS avg_price,
           count(*) AS n_items
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q41_stats_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "covar_qty_price"
        ),
        F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
# q42: time-series resample + gap fill (telemetry/feature-engineering
# pattern): per-user hourly grid from first to last activity, missing
# hours materialized with explode(sequence(...)), metric forward-filled
# with last(..., ignorenulls) over an ordered window. Scale: the grid is
# generated distributed (one sequence per user — never a driver loop),
# the join keys on (user, hour), and the fill is one window pass; state
# per user is O(1). Users are cut to a deterministic subset so the
# output stays bounded.
# ---------------------------------------------------------------------------
@query(
    "q42_gap_fill_hourly",
    oracle="""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h, count(*) AS n,
             round(avg(value), 4) AS v
      FROM events WHERE user_id < 20 GROUP BY 1, 2
    ),
    bounds AS (SELECT user_id, min(h) AS mn, max(h) AS mx FROM hourly GROUP BY 1),
    grid AS (
      SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
      FROM bounds
    )
    SELECT g.user_id,
           strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           coalesce(hy.n, 0) AS n_events,
           last_value(hy.v IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM grid g
    LEFT JOIN hourly hy ON g.user_id = hy.user_id AND g.h = hy.h
    """,
)
def q42_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 4).alias("v")
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        .select(
            "user_id",
            F.explode(F.expr("sequence(mn, mx, interval 1 hour)")).alias("h"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.date_format("h", TS_FMT_SPARK).alias("hour_ts"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.last("v", ignorenulls=True).over(w).alias("filled_value"),
        )
    )


# ---------------------------------------------------------------------------
# q43: sliding-window aggregation — 2-hour windows advancing every 30
# minutes, so each event lands in 4 overlapping windows. Spark's window()
# generates the per-event window set JVM-side; the oracle replicates it
# with time_bucket + a 4-offset unnest. Scale: the explode is map-side
# (x4 rows before the partial agg, combined before the shuffle); state
# is per (window, type), bounded in streaming by the same watermark
# mechanics as q18's tumbling twin.
# ---------------------------------------------------------------------------
@query(
    "q43_sliding_window_trend",
    oracle="""
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM (
      SELECT time_bucket(INTERVAL '30 minutes', ts)
               - k.k * INTERVAL '30 minutes' AS ws,
             event_type, value
      FROM events, (SELECT unnest(range(4)) AS k) k
    )
    GROUP BY ws, event_type
    """,
)
def q43_sliding_window_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "2 hours", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# q44: table profiling — per-column null counts, distinct counts, and
# min/max in ONE wide aggregation pass (the data-quality primitive every
# ingest pipeline runs before trusting a feed). Scale: single scan, all
# counters partial-agg map-side; count(DISTINCT) over multiple columns
# is planned via expand, which multiplies rows BEFORE the combine — at
# 100 TB swap exact distinct for approx_count_distinct (one pass, no
# expand); kept exact here for the oracle.
# ---------------------------------------------------------------------------
@query(
    "q44_profile_orders",
    oracle="""
    SELECT count(*) AS n_rows,
           count(DISTINCT o_custkey) AS d_custkey,
           count(DISTINCT o_orderstatus) AS d_status,
           count(DISTINCT o_orderpriority) AS d_priority,
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_price,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price,
           strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS min_date,
           strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS max_date
    FROM orders
    """,
)
def q44_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("o_custkey").alias("d_custkey"),
        F.count_distinct("o_orderstatus").alias("d_status"),
        F.count_distinct("o_orderpriority").alias("d_priority"),
        F.sum(F.col("o_totalprice").isNull().cast("int")).alias("null_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.date_format(F.min("o_orderdate"), TS_FMT_SPARK).alias("min_date"),
        F.date_format(F.max("o_orderdate"), TS_FMT_SPARK).alias("max_date"),
    )


# ---------------------------------------------------------------------------
# q45: market share (TPC-H Q8 pattern) — a ratio of conditional sums per
# order year: NATION_3 suppliers' share of total revenue. The share is
# sum(case)/sum as ONE aggregation pass (no self-join of two aggregates).
# Scale: supplier+nation broadcast; lineitem<->orders is the only
# shuffle join; integer-cent sums make the ratio accumulation-order-
# proof before the final division.
# ---------------------------------------------------------------------------
@query(
    "q45_market_share",
    oracle="""
    SELECT year(o.o_orderdate) AS o_year,
           round(sum(CASE WHEN n.n_name = 'NATION_3'
                          THEN CAST(round(l.l_extendedprice
                                          * (1 - l.l_discount) * 10000) AS BIGINT)
                          ELSE 0 END)
                 * 1.0
                 / sum(CAST(round(l.l_extendedprice
                                  * (1 - l.l_discount) * 10000) AS BIGINT)), 6)
             AS mkt_share,
           count(*) AS n_items
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY year(o.o_orderdate)
    """,
)
def q45_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev_e4 = F.expr(
        "cast(round(l_extendedprice * (1 - l_discount) * 10000) as bigint)"
    )
    return (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("n_name") == "NATION_3", rev_e4).otherwise(0))
                * 1.0
                / F.sum(rev_e4),
                6,
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# q46: Morton (Z-order) clustering key — the layout primitive behind
# 2-D data skipping (sources/layout.py). Registered so the bit math is
# oracle-proven: the identical expression text runs on both engines.
# ---------------------------------------------------------------------------
def _q46_zexpr() -> str:
    from eeecs485_p4_mapreduce_spark.sources.layout import zvalue_expr

    return zvalue_expr("l_partkey", "l_suppkey", bits=16)


@query(
    "q46_zvalue_interleave",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           {_q46_zexpr()} AS zval
    FROM lineitem
    """,
)
def q46_zvalue_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the bit-interleave is ~100 integer ops/row; spread the under-split
    # bench source to core width first (no-op on a properly-split table)
    from eeecs485_p4_mapreduce_spark.catalog import spread_small_source

    li = spread_small_source(
        load_table(spark, sf_dir, "lineitem"), "l_orderkey"
    )
    return li.selectExpr(
        "l_orderkey", "l_linenumber", f"{_q46_zexpr()} AS zval"
    )


# ---------------------------------------------------------------------------
# q47: ratio-to-report — each customer's share of segment and grand
# totals. The SQL-natural form is sum() OVER (PARTITION BY seg) and
# sum() OVER () — but an empty-partition window funnels the whole table
# through ONE task. The Spark plan instead aggregates the (tiny) totals
# and broadcast-joins them back: two scans of a pruned 3-column input,
# zero wide shuffles, identical answers (integer-cent totals, one
# division at the end).
# ---------------------------------------------------------------------------
@query(
    "q47_share_of_total",
    oracle="""
    -- CAST AS DOUBLE before dividing: DuckDB's BIGINT*DECIMAL path keeps
    -- exact decimal arithmetic whose round(,6) can land one ulp away from
    -- Spark's double division at half-way points; double-on-same-ints is
    -- bit-identical on both engines.
    SELECT c_custkey, c_mktsegment, bal_cents,
           round(CAST(bal_cents AS DOUBLE)
                 / CAST(sum(bal_cents) OVER (PARTITION BY c_mktsegment)
                        AS DOUBLE), 6) + 0.0
             AS share_segment,
           round(CAST(bal_cents AS DOUBLE)
                 / CAST(sum(bal_cents) OVER () AS DOUBLE), 6) + 0.0
             AS share_total
    FROM (SELECT c_custkey, c_mktsegment,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
          FROM customer)
    """,
)
def q47_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.expr("cast(round(c_acctbal * 100) as bigint)").alias("bal_cents"),
    )
    seg_tot = cust.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.sum("bal_cents").alias("seg_cents")
    )
    grand = seg_tot.agg(F.sum("seg_cents").alias("all_cents"))
    return (
        cust.join(
            F.broadcast(seg_tot), F.col("c_mktsegment") == F.col("seg")
        )
        .crossJoin(F.broadcast(grand))
        .select(
            "c_custkey",
            "c_mktsegment",
            "bal_cents",
            (
                F.round(F.col("bal_cents") * 1.0 / F.col("seg_cents"), 6)
                + F.lit(0.0)  # collapse IEEE -0.0, mirroring the oracle
            ).alias("share_segment"),
            (
                F.round(F.col("bal_cents") * 1.0 / F.col("all_cents"), 6)
                + F.lit(0.0)
            ).alias("share_total"),
        )
    )


# ---------------------------------------------------------------------------
# q48: funnel analysis — ordered sequence matching view → click →
# purchase per user, each stage strictly after the previous one. Spark
# plan: ONE shuffle on user_id, then the stage timestamps derive from a
# single sorted array per user (aggregate once, then array_min over
# filtered events) — no per-stage re-join of the fact table, which is
# the naive formulation's cost (the oracle uses it to prove
# equivalence). State per user is its event list; for unbounded streams
# the session_window/applyInPandasWithState forms bound it instead.
# ---------------------------------------------------------------------------
@query(
    "q48_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS tv FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS tc
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.tv
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS tp
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.tc
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_view_click,
           (SELECT count(*) FROM p) AS n_full_funnel
    """,
)
def q48_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    per_user = ev.groupBy("user_id").agg(
        F.collect_list(F.struct("ts", "event_type")).alias("evts")
    )
    # stage timestamps from the in-memory event list: tv = first view,
    # tc = first click after tv, tp = first purchase after tc. Chained
    # selects stay one map-side projection — no re-join, no extra shuffle.
    staged = (
        per_user.selectExpr(
            "user_id",
            "evts",
            "array_min(transform(filter(evts, e -> e.event_type = 'view'),"
            " e -> e.ts)) AS tv",
        )
        .selectExpr(
            "user_id",
            "evts",
            "tv",
            "array_min(transform(filter(evts,"
            " e -> e.event_type = 'click' AND tv IS NOT NULL AND e.ts > tv),"
            " e -> e.ts)) AS tc",
        )
        .selectExpr(
            "user_id",
            "tv",
            "tc",
            "array_min(transform(filter(evts,"
            " e -> e.event_type = 'purchase' AND tc IS NOT NULL AND e.ts > tc),"
            " e -> e.ts)) AS tp",
        )
    )
    return staged.agg(
        F.count("tv").alias("n_view"),
        F.count("tc").alias("n_view_click"),
        F.count("tp").alias("n_full_funnel"),
    )


# ---------------------------------------------------------------------------
# q49: TPC-H Q2-pattern "min-cost supplier" — for every part, the
# supplier(s) offering the lowest observed unit price. The classic
# correlated-subquery (WHERE cost = (SELECT min(cost) ...)) is expressed as
# a window min over the part key, which Spark executes as one exchange on
# l_partkey shared by the aggregation AND the window — no second shuffle,
# no re-scan of lineitem the way a self-join subquery would.
# Exactness: prices are 2-decimal values, so unit cost is computed as
# bigint cents / bigint quantity — a single double division of two exact
# integers is IEEE-deterministic in both engines, making the min-equality
# filter knife-edge-free (same trick as q17); the reported unit cost is an
# integer floor-division so no decimal rounding is involved at all.
# Scale: supplier and part are dimension tables → broadcast joins after the
# fact-side reduction, which shrinks lineitem to one row per (part, supp).
# ---------------------------------------------------------------------------
@query(
    "q49_min_cost_supplier",
    oracle="""
    WITH supply AS (
      SELECT l_partkey, l_suppkey,
             sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS cost_cents,
             sum(CAST(round(l_quantity, 0) AS BIGINT)) AS qty
      FROM lineitem
      GROUP BY l_partkey, l_suppkey
    ), ranked AS (
      SELECT *,
             cost_cents * 1.0 / qty AS unit_cents,
             min(cost_cents * 1.0 / qty) OVER (PARTITION BY l_partkey)
               AS min_unit_cents
      FROM supply
    )
    SELECT l_partkey, p_name, l_suppkey, s_name, s_acctbal,
           (cost_cents * 100 // qty) / 10000.0 AS unit_cost
    FROM ranked
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE unit_cents = min_unit_cents
    """,
)
def q49_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 pattern (correlated min) over the available tables: lineitem
    plays partsupp, unit price plays ps_supplycost. All min-ties are kept,
    matching Q2's subquery semantics."""
    from pyspark.sql.window import Window

    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    supply = lineitem.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")).alias(
            "cost_cents"
        ),
        F.sum(F.round(F.col("l_quantity"), 0).cast("bigint")).alias("qty"),
    )
    ranked = supply.withColumn(
        "unit_cents", F.col("cost_cents") * F.lit(1.0) / F.col("qty")
    ).withColumn(
        "min_unit_cents",
        F.min(F.col("cost_cents") * F.lit(1.0) / F.col("qty")).over(
            Window.partitionBy("l_partkey")
        ),
    )
    return (
        ranked.filter(F.col("unit_cents") == F.col("min_unit_cents"))
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "l_partkey",
            "p_name",
            "l_suppkey",
            "s_name",
            "s_acctbal",
            (F.expr("(cost_cents * 100) div qty") / F.lit(10000.0)).alias("unit_cost"),
        )
    )


# ---------------------------------------------------------------------------
# q50: LEFT OUTER event-time interval join — q34's attribution funnel
# including the clicks that converted to nothing (null purchase columns),
# i.e. the abandonment report. Batch twin of
# streaming/jobs.click_to_purchase_outer_stream. Scale: identical to q34
# (one shuffle of each side on user_id, horizon-bounded per-user cross
# product); the outer side adds no state in batch.
# ---------------------------------------------------------------------------
@query(
    "q50_click_attribution_outer",
    oracle="""
    SELECT c.event_id AS click_id,
           c.user_id,
           p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS micros_to_purchase,
           round(p.value, 2) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def q50_click_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return (
        c.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
            ),
            "left",
        )
        .select(
            "click_id",
            "user_id",
            "purchase_id",
            (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
                "micros_to_purchase"
            ),
            F.round("purchase_value", 2).alias("purchase_value"),
        )
    )


# ---------------------------------------------------------------------------
# q51: TPC-H Q20-pattern "dominant supplier" semi-join chain — suppliers
# who shipped more than 20% of some part's total shipped quantity (the
# excess-stock/concentration audit; the TPC-H original uses 50%, which the
# uniform synthetic data never reaches — 20% keeps the path exercised at
# every test scale). The correlated subquery
# (WHERE sq > 0.2 * (SELECT sum ...)) is a window sum over l_partkey on
# the already-reduced (part, supplier) aggregate; quantities are exact
# integers so the dominance test has no float edge at all.
# Scale: lineitem reduces to one row per (part, supplier) in the first
# shuffle; the window re-keys that reduced table on partkey only; the
# supplier name join is a broadcast. The fact table never shuffles twice.
# ---------------------------------------------------------------------------
@query(
    "q51_dominant_suppliers",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             sum(CAST(round(l_quantity, 0) AS BIGINT)) AS sq
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    dom AS (
      SELECT l_suppkey, count(*) AS n_dominated,
             CAST(sum(sq) AS BIGINT) AS dominated_qty
      FROM (SELECT *, sum(sq) OVER (PARTITION BY l_partkey) AS pt FROM ps)
      WHERE 5 * sq > pt
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, n_dominated, dominated_qty
    FROM dom JOIN supplier ON s_suppkey = l_suppkey
    """,
)
def q51_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    ps = lineitem.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.round(F.col("l_quantity"), 0).cast("bigint")).alias("sq")
    )
    dom = (
        ps.withColumn("pt", F.sum("sq").over(Window.partitionBy("l_partkey")))
        .filter(5 * F.col("sq") > F.col("pt"))
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_dominated"),
            F.sum("sq").alias("dominated_qty"),
        )
    )
    return dom.join(
        F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey")
    ).select("s_suppkey", "s_name", "n_dominated", "dominated_qty")


# ---------------------------------------------------------------------------
# q52: TPC-H Q11-pattern "important share" — suppliers whose shipped value
# exceeds 0.1% of the global shipped value (HAVING against a scalar
# subquery). The global total is a one-row broadcast and both sides of the
# threshold are exact integer cents, so the cut is engine-portable.
# Scale: one shuffle to (suppkey); the global total is an unpartitioned
# window over the supplier-cardinality aggregate — one narrow
# single-partition pass, strictly cheaper than the second full fact-table
# scan+shuffle an agg+crossJoin scalar would plan. The corpus-sized side
# never sees a window.
# ---------------------------------------------------------------------------
@query(
    "q52_important_value_share",
    oracle="""
    WITH sv AS (
      SELECT l_suppkey,
             sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS value_cents
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           round(value_cents / 100.0, 2) AS supplier_value,
           round(value_cents * 1.0 / (SELECT sum(value_cents) FROM sv), 6)
             AS value_share
    FROM sv JOIN supplier ON s_suppkey = l_suppkey
    WHERE 1000 * value_cents > (SELECT sum(value_cents) FROM sv)
    """,
)
def q52_important_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    sv = lineitem.groupBy("l_suppkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")).alias(
            "value_cents"
        )
    )
    from pyspark.sql.window import Window

    return (
        sv.withColumn("t_cents", F.sum("value_cents").over(Window.partitionBy()))
        .filter(1000 * F.col("value_cents") > F.col("t_cents"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("value_cents") / 100.0, 2).alias("supplier_value"),
            F.round(F.col("value_cents") / F.col("t_cents"), 6).alias("value_share"),
        )
    )


# ---------------------------------------------------------------------------
# q53: retention cohort analysis — users grouped by first-activity week
# (their cohort), tracked by distinct activity in each subsequent week;
# retention is the exact integer ratio retained/cohort_size. The classic
# product-analytics triangle table.
# Scale: ONE shuffle of (user_id, week) pairs builds each user's distinct
# week set via collect_set (state per user = distinct calendar weeks, a
# bounded set, never raw events); cohort = array_min and the offsets
# explode map-side from it. The (cohort, offset) aggregate and the
# cohort-size window both act on triangle-sized data. No self-join of the
# activity grid, no second scan, no driver-side loops.
# ---------------------------------------------------------------------------
@query(
    "q53_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(date_trunc('week', ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events
    ),
    cohort_sizes AS (
      SELECT cohort_week, count(*) AS cohort_size FROM firsts GROUP BY cohort_week
    ),
    retained AS (
      SELECT f.cohort_week,
             CAST(date_diff('day', f.cohort_week, a.act_week) / 7 AS BIGINT)
               AS weeks_since,
             count(*) AS n_retained
      FROM firsts f JOIN activity a USING (user_id)
      GROUP BY 1, 2
    )
    SELECT strftime(r.cohort_week, '%Y-%m-%d') AS cohort_week,
           r.weeks_since, c.cohort_size, r.n_retained,
           round(r.n_retained * 1.0 / c.cohort_size, 4) AS retention
    FROM retained r JOIN cohort_sizes c USING (cohort_week)
    """,
)
def q53_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    per_user = (
        events.select("user_id", F.date_trunc("week", "ts").alias("w"))
        .groupBy("user_id")
        .agg(F.collect_set("w").alias("weeks"))
    )
    exploded = per_user.select(
        F.array_min("weeks").alias("cohort_week"),
        F.explode("weeks").alias("act_week"),
    )
    retained = exploded.groupBy(
        "cohort_week",
        (F.datediff("act_week", "cohort_week") / 7)
        .cast("bigint")
        .alias("weeks_since"),
    ).agg(F.count(F.lit(1)).alias("n_retained"))
    w_cohort = Window.partitionBy("cohort_week")
    return retained.withColumn(
        "cohort_size",
        F.max(F.when(F.col("weeks_since") == 0, F.col("n_retained"))).over(w_cohort),
    ).select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "weeks_since",
        "cohort_size",
        "n_retained",
        F.round(F.col("n_retained") / F.col("cohort_size"), 4).alias("retention"),
    )


# ---------------------------------------------------------------------------
# q54: event debounce — collapse each rapid-fire burst of the same
# (user, event_type) to its first event: an event survives iff it arrives
# more than 5 minutes after the previous raw event of its key (i.e. it
# starts a burst). This is gap-based burst suppression, the same
# gaps-and-islands shape as sessionization but keyed per event type.
# Scale: one shuffle on (user_id, event_type); the lag() is a single
# window pass over that partitioning.
# ---------------------------------------------------------------------------
@query(
    "q54_event_debounce",
    oracle="""
    WITH ordered AS (
      SELECT event_id, user_id, event_type, ts,
             lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)
               AS prev_ts
      FROM events
    )
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts
    FROM ordered
    WHERE prev_ts IS NULL
       OR epoch_us(ts) - epoch_us(prev_ts) > 300000000
    """,
)
def q54_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    horizon_us = 300_000_000
    debounced = (
        events.withColumn("ts_us", F.unix_micros("ts"))
        .withColumn("prev_us", F.lag("ts_us").over(w))
        .filter(
            F.col("prev_us").isNull()
            | (F.col("ts_us") - F.col("prev_us") > horizon_us)
        )
    )
    return debounced.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
    )


# ---------------------------------------------------------------------------
# q55: RANGE-frame window — a true time-interval moving aggregate (each
# row's frame is "all of this user's events in the preceding hour", peers
# included by VALUE, not by row position — the semantics ROWS frames can't
# express when timestamps repeat or gap). Scale: one shuffle on user_id;
# the frame is bounded by event density per hour, so window state is
# O(events-in-horizon), the batch twin of a streaming sliding window.
# Determinism: the frame is keyed on exact integer microseconds and the
# average is exact integer cents / count — no float accumulation.
# ---------------------------------------------------------------------------
@query(
    "q55_range_frame_moving_avg",
    oracle="""
    SELECT event_id, user_id,
           count(*) OVER w AS n_1h,
           round(sum(CAST(round(value * 100, 0) AS BIGINT)) OVER w
                 / (100.0 * count(*) OVER w), 4) AS avg_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def q55_range_frame_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    ).withColumn("cents", F.round(F.col("value") * 100, 0).cast("bigint"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(
            F.sum("cents").over(w) / (100.0 * F.count(F.lit(1)).over(w)), 4
        ).alias("avg_1h"),
    )


# ---------------------------------------------------------------------------
# q56: rolling 7-day distinct users (trailing DAU/WAU-style window). A
# windowed COUNT(DISTINCT) has no Spark window form, and the textbook
# range self-join (days x events ON day BETWEEN d-6 AND d) is a
# near-cross-product at scale. Instead, explode-to-horizon: each distinct
# (user, day) contributes to exactly the 7 as-of days it can be seen
# from, so the whole query is shuffle-only — dedupe, a 7x fanout of the
# *deduped* pairs (bounded: 7 rows per user-day, not per event), and one
# distinct-count; the day-domain restriction is a broadcast semi join.
# ---------------------------------------------------------------------------
@query(
    "q56_rolling_distinct_users",
    oracle="""
    SELECT CAST(d.day AS VARCHAR) AS day,
           count(DISTINCT e.user_id) AS users_7d
    FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events) d
    JOIN (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events) e
      ON e.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    """,
)
def q56_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return _rolling_distinct_exact(events, "users_7d")


def _rolling_distinct_exact(events: DataFrame, out_col: str) -> DataFrame:
    """Exact 7-day rolling distinct users per present day (q56's plan;
    also the verification counterpart inside q59). One shuffle of
    (user_id, day) pairs after a map-side distinct; the explode fans each
    pair to at most 7 as-of days."""
    user_days = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct().localCheckpoint(eager=False)  # feeds the day list AND the fan-out; lazy — materialized by the query's own job instead of a blocking build-time job
    days_present = user_days.select("day").distinct()
    contrib = user_days.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("as_of"),
    )
    return (
        contrib.join(
            F.broadcast(days_present),
            contrib["as_of"] == days_present["day"],
            "left_semi",
        )
        .groupBy("as_of")
        .agg(F.countDistinct("user_id").alias(out_col))
        .select(F.date_format("as_of", "yyyy-MM-dd").alias("day"), out_col)
    )


# ---------------------------------------------------------------------------
# q57: peak concurrency per day, sweep-line style: each event opens a
# 5-minute active interval; +1/-1 deltas at interval ends, a global
# running sum, and a per-day max. The global cumsum does NOT use a
# global-order window over the deltas (single-task bottleneck at scale):
# deltas collapse per distinct timestamp, hour buckets carry a prefix
# computed on the tiny hour-totals table (one row per hour — the only
# single-partition window, bounded by the time domain, not the data),
# and the per-timestamp cumsum runs partitioned by hour after a
# broadcast join of the prefixes. Same two-level-prefix pattern as
# curate_token_budget.
# ---------------------------------------------------------------------------
@query(
    "q57_peak_concurrency",
    oracle="""
    WITH deltas AS (
      SELECT epoch_us(ts) AS t, 1 AS d FROM events
      UNION ALL
      SELECT epoch_us(ts) + 300000000 AS t, -1 AS d FROM events
    ),
    pts AS (SELECT t, sum(d) AS d FROM deltas GROUP BY t),
    cum AS (SELECT t, sum(d) OVER (ORDER BY t) AS conc FROM pts)
    SELECT CAST(CAST(make_timestamp(t) AS DATE) AS VARCHAR) AS day,
           CAST(max(conc) AS BIGINT) AS peak_concurrency
    FROM cum GROUP BY 1
    """,
)
def q57_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    horizon_us = 300_000_000
    ev = load_table(spark, sf_dir, "events").withColumn(
        "t", F.unix_micros("ts")
    )
    deltas = ev.select("t", F.lit(1).alias("d")).unionByName(
        ev.select((F.col("t") + horizon_us).alias("t"), F.lit(-1).alias("d"))
    ).localCheckpoint(eager=False)  # feeds the per-ts collapse AND the hour totals; lazy — no blocking build-time job
    pts = (
        deltas.groupBy("t")
        .agg(F.sum("d").alias("d"))
        .withColumn("hr", F.expr("t div 3600000000"))
    )
    w_hr = Window.orderBy("hr").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # Hour totals come straight from the raw deltas (sum is the same
    # whether or not per-timestamp collapsing happened first) — one
    # aggregation, not two, on the second scan.
    hr_prefix = (
        deltas.groupBy(F.expr("t div 3600000000").alias("hr"))
        .agg(F.sum("d").alias("htot"))
        .select(
            "hr", (F.sum("htot").over(w_hr) - F.col("htot")).alias("before")
        )
    )
    w_t = (
        Window.partitionBy("hr")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        pts.join(F.broadcast(hr_prefix), "hr")
        .withColumn("conc", F.col("before") + F.sum("d").over(w_t))
        .withColumn("day", F.to_date(F.timestamp_micros(F.col("t"))))
        .groupBy("day")
        .agg(F.max("conc").alias("peak_concurrency"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "peak_concurrency",
        )
    )


# ---------------------------------------------------------------------------
# q58: TPC-H Q18 pattern (large-volume orders): HAVING over a fact
# aggregate, then join the survivors back to orders and customers.
# Scale: the only fact-sized shuffle is the lineitem groupBy on its
# natural key. The HAVING survivors are rare by construction (<1% of
# orders), so BOTH enrichment joins broadcast the reduced side — orders
# and customer are scanned but never shuffled. (Contrast q03, which
# broadcasts a filtered dimension: here the broadcast side is a
# *derived* aggregate, the shape AQE would discover at runtime; we
# declare it because the threshold guarantees rarity.)
# ---------------------------------------------------------------------------
@query(
    "q58_big_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           round(o.o_totalprice, 2) AS o_totalprice,
           big.sum_qty
    FROM big
    JOIN orders o   ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q58_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    big_orders = orders.join(
        F.broadcast(big), orders["o_orderkey"] == big["l_orderkey"]
    )
    return cust.join(
        F.broadcast(big_orders), cust["c_custkey"] == big_orders["o_custkey"]
    ).select(
        "c_name",
        "c_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "sum_qty",
    )


# ---------------------------------------------------------------------------
# q59: sketch-merge rolling distinct — the scalable twin of q56. Build
# ONE DataSketches HLL sketch per day (a single pass over events, one
# shuffle whose output is ~31 rows), then answer the trailing-7-day
# question entirely on the sketch table: explode each day's sketch to
# the 7 as-of days it serves and hll_union_agg the buckets. At 100 TB
# the events scan happens once regardless of how many window lengths
# (7d, 28d, 90d) are asked — each is another cheap merge over the same
# daily sketches, which is exactly why mergeable sketches beat exact
# recount pipelines for rolling-distinct dashboards. Accuracy vs the
# exact q56 is pinned by test (lgConfigK=12 → ~1.6% rse).
# DuckDB has no mergeable-HLL SQL surface, so the REGISTERED output is
# hash-provable anyway via the q26 pattern: the exact rolling distinct
# (q56's plan, DuckDB-checkable) plus a deterministic bound boolean
# `|approx - exact| <= max(3, 5%·exact)` — DataSketches HLL is
# deterministic for fixed input, so the boolean is a stable TRUE and the
# oracle emits the exact side + literal TRUE. The raw estimates stay
# available via ``_q59_sketch_rolling`` (pytest bounds them against q56);
# the exact branch exists for verification — a production rollup runs the
# sketch branch alone.
# ---------------------------------------------------------------------------
def _q59_sketch_rolling(events: DataFrame) -> DataFrame:
    """(day, approx_users_7d) from daily HLL sketches union-merged over a
    trailing 7-day horizon."""
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", 12).alias("sk")
    ).localCheckpoint(eager=False)  # day-table sized; feeds the fan-out AND the day list
    contrib = daily.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("as_of"),
        "sk",
    )
    days_present = daily.select("day")
    return (
        contrib.join(
            F.broadcast(days_present),
            contrib["as_of"] == days_present["day"],
            "left_semi",
        )
        .groupBy("as_of")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
                "approx_users_7d"
            )
        )
        .select(
            F.date_format("as_of", "yyyy-MM-dd").alias("day"),
            "approx_users_7d",
        )
    )


@query(
    "q59_rolling_distinct_sketch",
    oracle="""
    SELECT CAST(d.day AS VARCHAR) AS day,
           count(DISTINCT e.user_id) AS users_7d_exact,
           TRUE AS approx_ok
    FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events) d
    JOIN (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events) e
      ON e.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    """,
)
def q59_rolling_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    approx = _q59_sketch_rolling(events)
    exact = _rolling_distinct_exact(events, "users_7d_exact")
    return approx.join(exact, "day").select(
        "day",
        "users_7d_exact",
        # lgConfigK=12 → ~1.6% rse; 5σ ≈ 8%, floored at 3 absolute for
        # tiny days (same bound the pytest uses). Wider than strictly
        # needed on purpose: the boolean only needs to be stably TRUE at
        # any scale factor, not tight; coalesce guards the latent
        # NULL-group case (NULL boolean would hash-mismatch TRUE).
        F.coalesce(
            F.abs(F.col("approx_users_7d") - F.col("users_7d_exact"))
            <= F.greatest(F.lit(3.0), F.col("users_7d_exact") * 0.08),
            F.lit(True),
        ).alias("approx_ok"),
    )


# ---------------------------------------------------------------------------
# q60: equi-width histogram with densified grid — the standard numeric
# profiling op (dashboards, drift detection). One bounded-domain shuffle:
# rows collapse to their bin map-side (partial agg), and everything after
# the exchange — extent, grid generation, zero-fill left join — runs on
# the tiny bin table. The empty bins are materialized (sequence explode
# over [min_bin, max_bin]) so a drift monitor sees gaps, not absences.
# ---------------------------------------------------------------------------
@query(
    "q60_value_histogram",
    oracle="""
    WITH b AS (SELECT CAST(floor(value / 25) AS BIGINT) AS bin, value
               FROM events),
    agg AS (SELECT bin, count(*) AS n, round(sum(value), 2) AS s
            FROM b GROUP BY bin),
    ext AS (SELECT min(bin) AS lo, max(bin) AS hi FROM agg),
    grid AS (SELECT unnest(range((SELECT lo FROM ext),
                                 (SELECT hi FROM ext) + 1)) AS bin)
    SELECT g.bin AS bin,
           CAST(g.bin * 25.0 AS DOUBLE) AS bin_lo,
           CAST((g.bin + 1) * 25.0 AS DOUBLE) AS bin_hi,
           coalesce(a.n, 0) AS n_events,
           coalesce(a.s, 0.0) AS sum_value
    FROM grid g LEFT JOIN agg a USING (bin)
    """,
)
def q60_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    agg = (
        events.select(
            F.floor(F.col("value") / 25).cast("bigint").alias("bin"), "value"
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("s"),
        )
    )
    grid = agg.agg(
        F.min("bin").alias("lo"), F.max("bin").alias("hi")
    ).select(F.explode(F.sequence("lo", "hi")).alias("bin"))
    return grid.join(agg, "bin", "left").select(
        "bin",
        (F.col("bin") * 25.0).alias("bin_lo"),
        ((F.col("bin") + 1) * 25.0).alias("bin_hi"),
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.coalesce("s", F.lit(0.0)).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# q61: market-basket affinity (frequent-itemset step 1): part pairs
# co-ordered in at least 2 orders. Scale: the naive form self-joins the
# fact table on orderkey — shuffling lineitem twice and letting the join
# fan out. Instead, collapse each order to its sorted distinct part
# basket (ONE shuffle, map-side combine), then generate pairs from the
# basket array row-locally: baskets are bounded by order size (7 here),
# so the pair fanout is basket-squared per ORDER, not per comparison,
# and the pair count shuffle is again map-side-combined. The oracle
# states the same thing as the naive self-join.
# ---------------------------------------------------------------------------
def _co_order_pair_counts(li: DataFrame, count_col: str) -> DataFrame:
    """(part_a, part_b, count_col) for unordered part pairs sharing an
    order, counted across orders. Pair generation is two chained
    codegen'd Generate nodes — posexplode for the anchor, explode of the
    array tail slice for the partner — which runs ~1.5x faster than the
    equivalent nested higher-order-function transform (HOF lambdas are
    interpreted per element and allocate a nested array per basket;
    measured 37s vs 24s at the x100 replica)."""
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .filter(F.size("ps") >= 2)
    )
    anchored = baskets.select(
        "ps", F.posexplode("ps").alias("i", "part_a")
    )
    return (
        anchored.select(
            "part_a",
            F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("part_b"),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias(count_col))
        .filter(F.col(count_col) >= 2)
    )


@query(
    "q61_part_affinity",
    oracle="""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(*) AS n_orders
    FROM d a JOIN d b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def q61_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return _co_order_pair_counts(li, "n_orders")


# ---------------------------------------------------------------------------
# q62: event transition matrix (Markov step 1 / path mining): for each
# ordered pair of consecutive event types within a user's timeline, the
# transition count and conditional probability. Scale: one shuffle on
# user_id for the lag window (per-user state only), then the transition
# matrix is type-domain-sized — the probability normalization windows
# over that tiny table, never the events.
# ---------------------------------------------------------------------------
@query(
    "q62_event_transitions",
    oracle="""
    WITH t AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type,
             event_type AS next_type
      FROM events
    ),
    m AS (SELECT prev_type, next_type, count(*) AS n_transitions
          FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2)
    SELECT prev_type, next_type, n_transitions,
           round(n_transitions * 1.0 /
                 sum(n_transitions) OVER (PARTITION BY prev_type), 4) AS p
    FROM m
    """,
)
def q62_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    m = (
        events.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    w_prev = Window.partitionBy("prev_type")
    return m.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") * 1.0 / F.sum("n_transitions").over(w_prev),
            4,
        ).alias("p"),
    )


# ---------------------------------------------------------------------------
# q63: z-score outlier detection per event type — the broadcast-totals
# pattern applied to anomaly detection: per-type mean/stddev reduce to a
# type-domain-sized table that broadcasts back over the fact scan; no
# second shuffle, no window. The 3-sigma cut compares raw doubles; both
# engines compute mu/sd from the same values so only an event sitting
# within float-noise of the exact boundary could diverge (verified
# hash-stable at sf0.001/0.01/0.1; same caveat class as q17's
# price-average boundary, documented there).
# ---------------------------------------------------------------------------
@query(
    "q63_value_outliers",
    oracle="""
    WITH s AS (SELECT event_type, avg(value) AS mu,
                      stddev_samp(value) AS sd
               FROM events GROUP BY 1)
    SELECT e.event_id, e.event_type,
           round(e.value, 2) AS value,
           round((e.value - s.mu) / s.sd, 3) AS z
    FROM events e JOIN s USING (event_type)
    WHERE abs(e.value - s.mu) > 3 * s.sd
    """,
)
def q63_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    stats = events.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    return (
        events.join(F.broadcast(stats), "event_type")
        .filter(F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sd"))
        .select(
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.round((F.col("value") - F.col("mu")) / F.col("sd"), 3).alias(
                "z"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q64: top-N plus "others" — the reporting rollup that keeps the top 3
# suppliers per nation as named rows and collapses the tail into one
# OTHERS row (so the report sums to 100% without unbounded cardinality).
# Scale: revenue reduces per (nation, supplier) with map-side combine;
# the rank window partitions by nation over supplier-domain-sized data;
# the dimension joins broadcast. Ranking keys on the 2-dp-rounded
# revenue (then supplier key), so rank order is engine-portable despite
# float summation order.
# ---------------------------------------------------------------------------
@query(
    "q64_top_suppliers_others",
    oracle="""
    WITH rev AS (
      SELECT n.n_name, s.s_suppkey, s.s_name,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS r
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY n_name
                                   ORDER BY r DESC, s_suppkey) AS rk
      FROM rev
    )
    SELECT n_name,
           CASE WHEN rk <= 3 THEN s_name ELSE 'OTHERS' END AS supplier,
           round(sum(r), 2) AS revenue,
           count(*) AS n_suppliers
    FROM ranked
    GROUP BY 1, 2
    """,
)
def q64_top_suppliers_others(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .groupBy("n_name", "s_suppkey", "s_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("r")
        )
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("r").desc(), F.col("s_suppkey")
    )
    return (
        rev.withColumn("rk", F.row_number().over(w))
        .withColumn(
            "supplier",
            F.when(F.col("rk") <= 3, F.col("s_name")).otherwise(
                F.lit("OTHERS")
            ),
        )
        .groupBy("n_name", "supplier")
        .agg(
            F.round(F.sum("r"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
    )


# ---------------------------------------------------------------------------
# q65: ABC (Pareto) classification of parts by cumulative revenue share:
# A = parts covering the first 80% of revenue, B = next 15%, C = tail.
# Scale: revenue reduces per part with map-side combine (the only
# fact-sized shuffle); the descending cumsum uses the same two-level
# prefix trick as q57 — deterministic value buckets on c (bucket id is
# monotone in the sort order, so every row in bucket b sorts before all
# of bucket b-1), a bucket-count-sized global prefix over per-bucket
# totals, then a PARTITIONED window within each bucket. No pass ever
# holds more than one bucket of the part domain in a single task. The
# bucket function is a pure expression of (c, max(c)) — reproducible
# across the two plan evaluations, unlike sampling-based range
# partitioning. All arithmetic is integer cents and the class cut
# compares cum*100 to total*80 — exact integers, so the A/B boundary
# cannot flip between engines. Totals arrive via a broadcast one-row
# cross join, not an empty-frame window.
# ---------------------------------------------------------------------------
@query(
    "q65_abc_classification",
    oracle="""
    WITH pr AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                 AS BIGINT)) AS BIGINT) AS c
      FROM lineitem GROUP BY 1
    ),
    cum AS (
      SELECT l_partkey, c,
             sum(c) OVER (ORDER BY c DESC, l_partkey) AS cum,
             sum(c) OVER () AS tot
      FROM pr
    )
    SELECT l_partkey, c AS rev_cents,
           CASE WHEN cum * 100 <= tot * 80 THEN 'A'
                WHEN cum * 100 <= tot * 95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM cum
    """,
)
def q65_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    # The part-grain revenue table feeds the totals aggregate, the bucket
    # prefix, and the final cumsum join; one materialization barrier
    # stops three reduce-side re-runs of the fact-sized groupBy (the
    # shuffle write is shared via ReusedExchange, the reduce agg is not).
    # eager=False: the barrier materializes on the query's FIRST ACTION
    # instead of at plan-build time, so building the DataFrame (plan
    # gates, explain sweeps, composition) costs nothing — identical
    # execution cost when the query actually runs. See SCALE.md
    # "localCheckpoint barriers" for the lineage-loss tradeoff.
    pr = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
                ).cast("bigint")
            ).alias("c")
        )
        .localCheckpoint(eager=False)
    )
    stats = pr.agg(F.sum("c").alias("tot"), F.max("c").alias("mx"))
    bucketed = pr.crossJoin(F.broadcast(stats)).withColumn(
        "bkt", F.expr("CAST(c * 1024 DIV (mx + 1) AS INT)")
    )
    w_b = Window.orderBy(F.col("bkt").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prefix = (
        bucketed.groupBy("bkt")
        .agg(F.sum("c").alias("btot"))
        .select(
            "bkt", (F.sum("btot").over(w_b) - F.col("btot")).alias("before")
        )
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy(F.col("c").desc(), "l_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        bucketed.join(F.broadcast(prefix), "bkt")
        .withColumn("cum", F.col("before") + F.sum("c").over(w_in))
        .select(
            "l_partkey",
            F.col("c").alias("rev_cents"),
            F.when(F.col("cum") * 100 <= F.col("tot") * 80, "A")
            .when(F.col("cum") * 100 <= F.col("tot") * 95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )


# ---------------------------------------------------------------------------
# q66: incremental materialized-view maintenance — the warehouse pattern
# that keeps a 100 TB rollup fresh without rescanning history. A stored
# hourly rollup (count / sum / min / max per (hour, event_type), i.e. only
# MERGEABLE partial aggregates; avg is derived at read time) is combined
# with a freshly aggregated delta batch by re-aggregating the UNION of
# partials. Scale: the merge touches |rollup| + |delta| rows — never the
# event history; at 100 TB the rollup is ~6 orders of magnitude smaller
# than the fact table. The demo materializes the "stored" rollup to
# parquet first (event_id <= split simulates yesterday's snapshot) so the
# merge genuinely reads partials from disk, then proves the merged result
# equals the full-history GROUP BY (the oracle).
# ---------------------------------------------------------------------------
@query(
    "q66_incremental_rollup",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
             AS hour,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q66_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    events = load_table(spark, sf_dir, "events")
    # The merged rollup equals the full-history GROUP BY for ANY split
    # value (count/sum/min/max are mergeable partials), so the snapshot
    # boundary doesn't need a percentile sketch's full scan — max*4/5
    # lands at ~80% on the generator's dense event_ids. r15: the max
    # comes straight from parquet FOOTER statistics (the q28 pattern —
    # numeric footer max is exact, no Spark job), removing the one
    # driver-barrier aggregate the build paid; a stats-less file falls
    # back to the MAX aggregate (footer-only under parquet aggregate
    # pushdown). Output-invariant either way (any-split property).
    mm = _parquet_col_minmax(table_path(sf_dir, "events"), "event_id")
    if mm is not None:
        split = int(mm[1]) * 4 // 5
    else:  # pragma: no cover — driver-generated tables always carry stats
        split = events.agg(
            (F.max("event_id") * 4 / 5).cast("bigint")
        ).first()[0]

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )

    mv_dir = tempfile.mkdtemp(prefix="p4spark_mv_")
    try:
        # yesterday's snapshot: aggregated once, stored as the view table
        snap = partials(events.filter(F.col("event_id") <= split))
        snap.write.mode("overwrite").parquet(mv_dir)
        # writer-schema reuse (dedup_incremental pattern): the read-back
        # declares the schema we just wrote, skipping the footer-
        # inference job a schema-less read runs per invocation.
        stored = spark.read.schema(snap.schema).parquet(mv_dir)
        delta = partials(events.filter(F.col("event_id") > split))
        merged = (
            stored.unionByName(delta)
            .groupBy("hour", "event_type")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.round(F.sum("sum_value"), 2).alias("sum_value"),
                F.round(F.min("min_value"), 2).alias("min_value"),
                F.round(F.max("max_value"), 2).alias("max_value"),
            )
            .select(
                F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
                "event_type",
                "n_events",
                "sum_value",
                "min_value",
                "max_value",
            )
        )
        # materialize before the tempdir vanishes (the gate would
        # otherwise lazily re-read a deleted path). The transform is the
        # pre-checkpoint plan-evidence hook (no-op unless env-enabled).
        out = merged.transform(
            lambda d: dump_plan_evidence(d, "q66_incremental_rollup_prepin")
        ).localCheckpoint()
    finally:
        shutil.rmtree(mv_dir, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# q67: banded range join — the scale rewrite of an interval theta-join.
# "Pairs of same-user events within 5 minutes" is a theta-join
# (|tb - ta| <= 300s) that a naive engine executes as a per-user cross
# product. The banded form maps each event to a 300-second bucket and
# equi-joins on (user_id, bucket) with the left side exploded to
# [bucket, bucket+1] — every qualifying pair shares one of those bucket
# keys, so the shuffle is an ordinary hash exchange and the residual
# time filter runs on co-located rows. At 100 TB this is the difference
# between a hash join and an O(n_u^2)-per-user nested loop; the 2x row
# explosion on one side is the entire cost. The oracle is the naive
# theta-join, proving the banding loses no pairs.
# ---------------------------------------------------------------------------
@query(
    "q67_range_join_buckets",
    oracle="""
    SELECT a.user_id,
           count(*) AS n_close_pairs,
           min(a.event_id) AS first_event
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts
     AND b.ts <= a.ts + INTERVAL 5 MINUTE
     AND a.event_id < b.event_id
    GROUP BY a.user_id
    """,
)
def q67_range_join_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    horizon_us = 300_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("t")
    )
    left = ev.select(
        "user_id",
        F.col("event_id").alias("a_id"),
        F.col("t").alias("ta"),
        F.explode(
            F.array(
                F.expr(f"t div {horizon_us}"),
                F.expr(f"t div {horizon_us}") + 1,
            )
        ).alias("bucket"),
    )
    right = ev.select(
        "user_id",
        F.col("event_id").alias("b_id"),
        F.col("t").alias("tb"),
        F.expr(f"t div {horizon_us}").alias("bucket"),
    )
    pairs = left.join(right, ["user_id", "bucket"]).filter(
        (F.col("tb") >= F.col("ta"))
        & (F.col("tb") <= F.col("ta") + horizon_us)
        & (F.col("a_id") < F.col("b_id"))
    )
    # each qualifying pair matches in exactly ONE shared bucket:
    # tb's bucket is either ta's (same band) or ta's + 1 (next band),
    # never both, so no distinct pass is needed before the count.
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_close_pairs"),
        F.min("a_id").alias("first_event"),
    )


# ---------------------------------------------------------------------------
# q68: one-pass data profiling — the quality dashboard every ingest
# pipeline runs before training on a new drop: per-column null rate,
# distinct count, and min/max, in long (column, metric) form. ONE scan,
# ONE aggregation row: all metrics compute as parallel aggregates in a
# single groupBy-less agg (Spark fuses them into one partial-agg
# pipeline), then a literal-array explode reshapes wide → long map-side.
# At 100 TB this is strictly scan-bound; the alternative per-column
# loop would scan the table once per column. Exact distinct counts are
# exchanged for approx_count_distinct's one-pass sketch at real scale —
# here exact, so the oracle can mirror it.
# ---------------------------------------------------------------------------
_PROFILE_COLS = [
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
    ("o_orderpriority", "string"),
]


@query(
    "q68_profile_orders",
    oracle="""
    WITH w AS (
      SELECT count(*) AS n_rows,
    """
    + ",\n".join(
        f"""        CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS {c}_nulls,
        count(DISTINCT {c}) AS {c}_distinct,
        CAST(min({c}) AS VARCHAR) AS {c}_min,
        CAST(max({c}) AS VARCHAR) AS {c}_max"""
        for c, _ in _PROFILE_COLS
    )
    + """
      FROM orders
    )
    """
    + "\n    UNION ALL\n".join(
        f"""    SELECT '{c}' AS column_name, n_rows,
           {c}_nulls AS n_nulls, {c}_distinct AS n_distinct,
           {c}_min AS min_value, {c}_max AS max_value FROM w"""
        for c, _ in _PROFILE_COLS
    ),
)
def q68_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, _t in _PROFILE_COLS:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"{c}_nulls"),
            F.count_distinct(c).alias(f"{c}_distinct"),
            F.min(c).cast("string").alias(f"{c}_min"),
            F.max(c).cast("string").alias(f"{c}_max"),
        ]
    wide = orders.agg(*aggs)
    structs = ", ".join(
        f"struct('{c}' AS column_name, n_rows, {c}_nulls AS n_nulls,"
        f" {c}_distinct AS n_distinct, {c}_min AS min_value,"
        f" {c}_max AS max_value)"
        for c, _t in _PROFILE_COLS
    )
    return wide.select(
        F.explode(F.expr(f"array({structs})")).alias("p")
    ).select("p.*")


# ---------------------------------------------------------------------------
# q69: one damped PageRank power-iteration step over the part
# co-purchase graph — graph centrality as a first-class operator (the
# "which items anchor the catalog" signal behind recommendation and
# importance-weighted sampling). Same one-step-oracle pattern as
# sim_kmeans_step: iterating = feeding ranks back in; one step is the
# checkable unit. Scale: ranks/degrees are node-table-sized; each step
# is contributions = rank/degree exploded along edges (one shuffle keyed
# on dst) + a per-node sum — the textbook distributed PageRank schedule,
# with dangling mass redistributed via one broadcast scalar. Integer
# basis-point ranks would drift across engines; instead every division
# is double-on-same-ints and the output is rounded on both sides.
# ---------------------------------------------------------------------------
@query(
    "q69_pagerank_step",
    oracle="""
    WITH baskets AS (
      SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS ps
      FROM lineitem GROUP BY l_orderkey HAVING count(DISTINCT l_partkey) >= 2
    ),
    pairs AS (
      SELECT a.part AS part_a, b.part AS part_b
      FROM (SELECT l_orderkey, unnest(ps) AS part FROM baskets) a
      JOIN (SELECT l_orderkey, unnest(ps) AS part FROM baskets) b
        USING (l_orderkey)
      WHERE a.part < b.part
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    edges AS (
      SELECT part_a AS src, part_b AS dst FROM pairs
      UNION ALL
      SELECT part_b, part_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    n AS (SELECT count(*) AS n_nodes FROM nodes),
    contrib AS (
      SELECT e.dst AS node, sum(1.0 / n.n_nodes / deg.d) AS inflow
      FROM edges e JOIN deg ON e.src = deg.src, n
      GROUP BY e.dst
    )
    SELECT nodes.node AS part,
           round(0.15 / n.n_nodes + 0.85 * coalesce(contrib.inflow, 0.0), 8)
             AS rank_1
    FROM nodes LEFT JOIN contrib ON nodes.node = contrib.node, n
    """,
)
def q69_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Same co-purchase edge definition as q61, same codegen'd pair
    # generator (see _co_order_pair_counts for the HOF-vs-Generate
    # measurement).
    pairs = _co_order_pair_counts(li, "c")
    # The graph is consumed four times (degrees, nodes, node count,
    # contributions), so it is materialized ONCE, as the checkpointed
    # ADJACENCY table src -> list(dst) — the classic Spark PageRank
    # layout. This beats a flat checkpointed edge list on every count:
    # degree is size(dsts) (no separate aggregate or join), the node set
    # is the adjacency keys (every node of this symmetric graph has
    # out-edges — no distinct over edges), and contributions explode
    # straight out of the adjacency rows. The edge data crosses the wire
    # exactly twice — once grouping into adjacency, once shuffling
    # contributions on dst — where the flat-edge form paid three
    # edge-table shuffles (degree agg, nodes distinct, contribution
    # re-shuffle). A full power-iterate (ranks fed back in) re-uses the
    # same checkpointed adjacency every step, shuffling only node-sized
    # rank tables. (The localCheckpoint is also the ReusedExchange fix:
    # without it each consumer re-ran the pair-explode reduce side —
    # 72 s at the x100 replica.) Skew note: a hub node's dst list is one
    # row — fine for co-purchase degrees; a power-law web graph would
    # split hub adjacencies into fixed-size chunks (same contribution
    # math, chunk rows summing per src) before grouping.
    # Both edge directions come from ONE pass over pairs (explode of a
    # 2-element array), not a union of two selects: a union's branches
    # each re-run the pair aggregate's reduce side (ReusedExchange only
    # shares the shuffle files) — the same N-consumer re-execution this
    # query's checkpoint exists to prevent.
    adj = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("part_a").alias("src"),
                        F.col("part_b").alias("dst"),
                    ),
                    F.struct(
                        F.col("part_b").alias("src"),
                        F.col("part_a").alias("dst"),
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .groupBy("src")
        .agg(F.collect_list("dst").alias("dsts"))
        # eager=False: materializes on first action, not at plan build —
        # see SCALE.md "localCheckpoint barriers".
        .localCheckpoint(eager=False)
    )
    n_nodes = adj.agg(F.count(F.lit(1)).alias("n_nodes"))
    contrib = (
        adj.crossJoin(F.broadcast(n_nodes))
        .select(
            F.explode("dsts").alias("node"),
            (F.lit(1.0) / F.col("n_nodes") / F.size("dsts")).alias("w"),
        )
        .groupBy("node")
        .agg(F.sum("w").alias("inflow"))
    )
    return (
        adj.select(F.col("src").alias("node"))
        .join(contrib, "node", "left")
        .crossJoin(F.broadcast(n_nodes))
        .select(
            F.col("node").alias("part"),
            F.round(
                0.15 / F.col("n_nodes")
                + 0.85 * F.coalesce("inflow", F.lit(0.0)),
                8,
            ).alias("rank_1"),
        )
    )


# ---------------------------------------------------------------------------
# q70: cohort lifetime-value triangle — cumulative purchase value per
# (first-seen-week cohort, weeks-since-first-seen), the revenue twin of
# q53's retention triangle. Scale: first-seen derives from one min()
# agg (map-side combinable) joined back broadcast; the triangle is a
# cohort x age-sized aggregate plus a running-sum window over that tiny
# table — the corpus shuffles once, on user_id.
# ---------------------------------------------------------------------------
@query(
    "q70_cohort_ltv",
    oracle="""
    WITH first_seen AS (
      SELECT user_id,
             CAST(epoch_us(min(ts)) // CAST(604800000000 AS BIGINT) AS BIGINT)
               AS cohort_week
      FROM events GROUP BY user_id
    ),
    purchases AS (
      SELECT e.user_id,
             f.cohort_week,
             CAST(epoch_us(e.ts) // CAST(604800000000 AS BIGINT) AS BIGINT)
               - f.cohort_week AS age_weeks,
             CAST(round(e.value * 100) AS BIGINT) AS cents
      FROM events e JOIN first_seen f USING (user_id)
      WHERE e.event_type = 'purchase'
    ),
    tri AS (
      SELECT cohort_week, age_weeks,
             count(*) AS n_purchases,
             CAST(sum(cents) AS BIGINT) AS revenue_cents
      FROM purchases GROUP BY 1, 2
    )
    SELECT cohort_week, age_weeks, n_purchases, revenue_cents,
           CAST(sum(revenue_cents) OVER (
             PARTITION BY cohort_week ORDER BY age_weeks
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_revenue_cents
    FROM tri
    """,
)
def q70_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    week = lambda c: F.expr(f"unix_micros({c}) div {7 * 86400 * 1000000}")  # noqa: E731
    first_seen = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts")
    ).select("user_id", week("first_ts").alias("cohort_week"))
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(first_seen), "user_id")
        .select(
            "cohort_week",
            (week("ts") - F.col("cohort_week")).alias("age_weeks"),
            F.expr("cast(round(value * 100) as bigint)").alias("cents"),
        )
    )
    tri = purchases.groupBy("cohort_week", "age_weeks").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("cents").alias("revenue_cents"),
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return tri.select(
        "cohort_week",
        "age_weeks",
        "n_purchases",
        "revenue_cents",
        F.sum("revenue_cents").over(w).alias("cum_revenue_cents"),
    )


# ---------------------------------------------------------------------------
# q71: one-pass Pearson correlation matrix over lineitem's numeric
# columns — the profiling companion (q68) for relationship discovery.
# All sufficient statistics (avg(x), avg(x*x), avg(x*y) per pair) come
# from ONE scan and ONE aggregation row; the upper-triangle reshape is a
# map-side literal-struct explode. At 100 TB: strictly scan-bound, the
# shuffle carries one partial-agg row per task.
# ---------------------------------------------------------------------------
_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_CORR_PAIRS = [
    (a, b) for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1:]
]


@query(
    "q71_correlation_matrix",
    oracle="""
    WITH s AS (
      SELECT
    """
    + ",\n".join(f"        avg({c}) AS m_{c}, avg({c} * {c}) AS s_{c}"
                 for c in _CORR_COLS)
    + ",\n"
    + ",\n".join(f"        avg({a} * {b}) AS p_{a}_{b}"
                 for a, b in _CORR_PAIRS)
    + """
      FROM lineitem
    )
    """
    + "\n    UNION ALL\n".join(
        f"""    SELECT '{a}' AS col_a, '{b}' AS col_b,
           round((p_{a}_{b} - m_{a} * m_{b})
                 / sqrt((s_{a} - m_{a} * m_{a}) * (s_{b} - m_{b} * m_{b})),
                 5) + 0.0 AS pearson_r
    FROM s"""
        for a, b in _CORR_PAIRS
    ),
)
def q71_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _CORR_COLS:
        aggs += [
            F.avg(c).alias(f"m_{c}"),
            F.avg(F.col(c) * F.col(c)).alias(f"s_{c}"),
        ]
    for a, b in _CORR_PAIRS:
        aggs.append(F.avg(F.col(a) * F.col(b)).alias(f"p_{a}_{b}"))
    wide = li.agg(*aggs)
    structs = ", ".join(
        f"struct('{a}' AS col_a, '{b}' AS col_b,"
        f" round((p_{a}_{b} - m_{a} * m_{b})"
        f" / sqrt((s_{a} - m_{a} * m_{a}) * (s_{b} - m_{b} * m_{b})), 5)"
        f" + 0.0d AS pearson_r)"
        for a, b in _CORR_PAIRS
    )
    return wide.select(
        F.explode(F.expr(f"array({structs})")).alias("r")
    ).select("r.*")


# ---------------------------------------------------------------------------
# q72: per-node triangle counts on the co-purchase graph (q61/q69's edge
# set) via DEGREE-ORIENTED wedge closing — the standard distributed
# triangle algorithm (Suri & Vassilvitskii's MR-style "count on the
# low-degree side"). Every undirected edge is oriented from its
# (degree, node)-smaller endpoint to the larger, which caps any node's
# out-degree at O(sqrt(m)); wedges are enumerated only from out-edges
# (e1.src = e2.src) and closed by an equi-join back against the oriented
# edge set, so the worst-case join fan-out is sum(out_deg^2) = O(m^1.5)
# instead of the sum(deg^2) a hub node would cost unoriented. At 100 TB:
# edges shuffle once on src for wedge generation and once on the closing
# (dst_lo, dst_hi) key — no node ranking window, no global sort; the
# degree table shuffles on node (it is node-sized, not edge-sized).
# Generalizes the reference's reduce-side grouping (SURVEY §2.8) to graph
# analytics, like q69 — /root/reference/tests/test_worker_08.py:66-77.
# ---------------------------------------------------------------------------
@query(
    "q72_triangle_count",
    oracle="""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    und AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM d a JOIN d b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    deg AS (
      SELECT node, count(*) AS dg FROM (
        SELECT part_a AS node FROM und
        UNION ALL SELECT part_b FROM und
      ) GROUP BY node
    ),
    oriented AS (
      SELECT CASE WHEN (da.dg, part_a) < (db.dg, part_b)
                  THEN part_a ELSE part_b END AS src,
             CASE WHEN (da.dg, part_a) < (db.dg, part_b)
                  THEN part_b ELSE part_a END AS dst,
             CASE WHEN (da.dg, part_a) < (db.dg, part_b)
                  THEN db.dg ELSE da.dg END AS dst_dg
      FROM und
      JOIN deg da ON da.node = part_a
      JOIN deg db ON db.node = part_b
    ),
    tri AS (
      SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
      FROM oriented e1
      JOIN oriented e2
        ON e1.src = e2.src
       AND (e1.dst_dg, e1.dst) < (e2.dst_dg, e2.dst)
      JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst
    )
    SELECT node AS part, count(*) AS n_triangles FROM (
      SELECT u AS node FROM tri
      UNION ALL SELECT v FROM tri
      UNION ALL SELECT w FROM tri
    ) GROUP BY node
    """,
)
def q72_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Same co-purchase edge definition (and codegen'd pair generator) as
    # q61/q69; pairs are canonical part_a < part_b by construction.
    und = _co_order_pair_counts(li, "c").select("part_a", "part_b")
    # The undirected edge list is consumed three times (degree count,
    # orientation join, closing join) — checkpoint once, like q69's
    # adjacency (see SCALE.md "localCheckpoint barriers").
    und = und.localCheckpoint(eager=False)
    deg = (
        und.select(F.col("part_a").alias("node"))
        .unionByName(und.select(F.col("part_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("dg"))
    )
    da = deg.select(F.col("node").alias("part_a"), F.col("dg").alias("da"))
    db = deg.select(F.col("node").alias("part_b"), F.col("dg").alias("db"))
    a_first = F.struct("da", "part_a") < F.struct("db", "part_b")
    oriented = (
        und.join(da, "part_a")
        .join(db, "part_b")
        .select(
            F.when(a_first, F.col("part_a")).otherwise(F.col("part_b")).alias("src"),
            F.when(a_first, F.col("part_b")).otherwise(F.col("part_a")).alias("dst"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dst_dg"),
        )
        # consumed twice (wedge sides e1/e2 + closing e3): one barrier
        # stops the pair-generate + two degree joins re-running per use
        .localCheckpoint(eager=False)
    )
    e1 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("v"),
        F.col("dst_dg").alias("v_dg"),
    )
    e2 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("w"),
        F.col("dst_dg").alias("w_dg"),
    )
    wedges = e1.join(e2, "u").filter(
        F.struct("v_dg", "v") < F.struct("w_dg", "w")
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"]).select("u", "v", "w")
    return (
        tri.select(F.explode(F.array("u", "v", "w")).alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


# ---------------------------------------------------------------------------
# q73: audience-overlap estimation with Apache DataSketches THETA sketches
# (Spark 4.1 theta_sketch_agg / theta_intersection / theta_difference) —
# the sketch family member HLL cannot provide: mergeable SET-OPERATION
# cardinalities (overlap and exclusive reach between user segments).
# Output follows the q26 verification pattern: the hash-checkable columns
# are the exact DuckDB-computable counts, plus deterministic booleans
# asserting each sketch estimate lands within its error bound (theta
# sketches are order-independent — the retained set is the k smallest
# hashes — so the booleans are stable across partitionings; below 2^12
# distinct keys the sketch is in exact mode and the estimates are exact).
# At 100 TB: per-segment sketches are built with one map-side-combinable
# aggregation over (event_type, user_id) and are ~few-KB binaries; every
# pairwise intersection/difference happens on the 5-row sketch table —
# user sets never shuffle, unlike the exact verification branch, whose
# distinct + self-join is the sandbox-only proof harness (q26's pattern).
# ---------------------------------------------------------------------------
@query(
    "q73_theta_audience_overlap",
    oracle="""
    WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
    exact AS (SELECT event_type, count(*) AS users FROM d GROUP BY 1),
    ov AS (
      SELECT a.event_type AS et_a, b.event_type AS et_b,
             count(*) AS exact_overlap
      FROM d a JOIN d b ON a.user_id = b.user_id
      WHERE a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT ea.event_type AS et_a, eb.event_type AS et_b,
           ea.users AS users_a, eb.users AS users_b,
           coalesce(ov.exact_overlap, 0) AS exact_overlap,
           ea.users - coalesce(ov.exact_overlap, 0) AS exact_only_a,
           TRUE AS overlap_est_ok, TRUE AS only_a_est_ok
    FROM exact ea
    JOIN exact eb ON ea.event_type < eb.event_type
    LEFT JOIN ov
      ON ov.et_a = ea.event_type AND ov.et_b = eb.event_type
    """,
)
def q73_theta_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.theta_sketch_agg("user_id").alias("sk")
    )
    a = sk.select(F.col("event_type").alias("et_a"), F.col("sk").alias("sk_a"))
    b = sk.select(F.col("event_type").alias("et_b"), F.col("sk").alias("sk_b"))
    # 5x5 segment table: broadcast nested-loop on the inequality, never a
    # CartesianProduct over user data.
    est = a.join(F.broadcast(b), F.col("et_a") < F.col("et_b")).select(
        "et_a",
        "et_b",
        F.theta_sketch_estimate(
            F.theta_intersection("sk_a", "sk_b")
        ).alias("est_overlap"),
        F.theta_sketch_estimate(
            F.theta_difference("sk_a", "sk_b")
        ).alias("est_only_a"),
    )
    # exact verification branch (two-phase distinct, skew-safe) — the
    # sandbox proof harness; production reads the sketch columns alone.
    d = ev.select("event_type", "user_id").distinct().localCheckpoint(
        eager=False
    )
    exact = d.groupBy("event_type").agg(F.count("user_id").alias("users"))
    da = d.select(F.col("event_type").alias("et_a"), "user_id")
    dbj = d.select(F.col("event_type").alias("et_b"), "user_id")
    ov = (
        da.join(dbj, "user_id")
        .filter(F.col("et_a") < F.col("et_b"))
        .groupBy("et_a", "et_b")
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    ea = exact.select(F.col("event_type").alias("et_a"), F.col("users").alias("users_a"))
    eb = exact.select(F.col("event_type").alias("et_b"), F.col("users").alias("users_b"))
    # The pair frame comes from the per-segment COUNTS self-join (all
    # segment pairs), with the overlap LEFT-joined and coalesced to 0 —
    # an inner join on the co-occurrence table would silently drop
    # disjoint segment pairs (caught by the constructed partial-overlap
    # fixture test; invisible on the full-overlap sf corpora).
    pairs = ea.join(F.broadcast(eb), F.col("et_a") < F.col("et_b"))
    # 10%-relative (min 4 absolute) bound: theta intersections carry
    # larger relative error than unions when overlap is small; below
    # 4096 distinct users per segment the sketch is exact and the
    # booleans are trivially TRUE. coalesce guards NULL-valued estimates
    # (empty segment) from breaking the hash (ADVICE r4 pattern).
    tol = lambda exact_col: F.greatest(  # noqa: E731
        F.lit(4.0), 0.10 * F.col(exact_col)
    )
    return (
        pairs.join(F.broadcast(ov), ["et_a", "et_b"], "left")
        .join(F.broadcast(est), ["et_a", "et_b"])
        .withColumn("exact_overlap", F.coalesce("exact_overlap", F.lit(0)))
        .select(
            "et_a",
            "et_b",
            "users_a",
            "users_b",
            "exact_overlap",
            (F.col("users_a") - F.col("exact_overlap")).alias("exact_only_a"),
            F.coalesce(
                F.abs(F.col("est_overlap") - F.col("exact_overlap"))
                <= tol("exact_overlap"),
                F.lit(True),
            ).alias("overlap_est_ok"),
            F.coalesce(
                F.abs(
                    F.col("est_only_a")
                    - (F.col("users_a") - F.col("exact_overlap"))
                )
                <= tol("users_a"),
                F.lit(True),
            ).alias("only_a_est_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter semi-join prefilter (q74): the explicit form of Spark's
# runtime row-level filtering. A compact bitmap built from the build
# side's join keys is broadcast and applied map-side to the probe side
# BEFORE the shuffle, so at 100 TB only candidate rows (true matches +
# the bitmap's small false-positive set) ever leave the scan stage; the
# exact semi-join then removes the false positives, making the whole
# prefilter correctness-neutral (the oracle is the plain semi-join).
# The bitmap is built distributed (groupBy word -> bit_or, never a
# driver-side loop) and packed into ONE broadcast dense-array row of
# BLOOM_M/64 longs (256 KiB here; split-block sizing is keys-per-word,
# see the note below — NOT the classic m ~ 1.44*n*log2(1/fp) formula,
# which assumes bits spread over the whole filter).
# ---------------------------------------------------------------------------
# Split-block sizing note: with all BLOOM_K bits of a key confined to
# ONE word, the load that matters is keys-per-word, not bits-per-key —
# a word holding c keys has ~3c of its 64 bits set, so FPR per probe is
# ~(3c/64)^3 and the filter SATURATES near c ≈ 20 (measured: the 2048-
# word layout that served the classic filter passed everything at
# sf0.1's ~45k build keys and made the query 2x slower). 32768 words
# (256 KiB broadcast — still nothing) keeps c ≈ 1.4 at sf0.1 and FPR
# ~3e-4; at a 100 TB build side you size words ≈ keys/2 the same way.
BLOOM_M = 1 << 21  # bits in the filter (BLOOM_M/64 = 32768 words)
BLOOM_K = 3  # bit positions per key (xxhash64 seeds)
Q74_PRICE_MIN = 150_000.0


def _bloom_word_and_mask(key_col: str) -> tuple:
    """SQL text for the SPLIT-BLOCK bloom coordinates of a key: the
    single word index (seed 0) and the BLOOM_K-bit mask within that
    word (seeds 1..K) — shared by build and probe so the two sides
    can never drift."""
    word = f"cast(pmod(xxhash64({key_col}, 0), {BLOOM_M // 64}) as int)"
    mask = " | ".join(
        f"shiftleft(1L, cast(pmod(xxhash64({key_col}, {s}), 64) as int))"
        for s in range(1, BLOOM_K + 1)
    )
    return word, f"({mask})"


def bloom_build(keys: DataFrame, key: str) -> DataFrame:
    """One broadcast-sized row: a DENSE array of BLOOM_M/64 longs,
    SPLIT-BLOCK layout (Impala/Parquet's register-blocked bloom): all
    BLOOM_K bits of a key live in ONE word picked by seed 0, with the
    bit positions from seeds 1..K. One word per key means the probe is
    a single array access and — the motivating cost on this engine — a
    single scalar-subquery reference instead of K (the classic layout's
    K conjuncts each re-instantiate the subquery; ~3.5 s of per-run
    stage scheduling at sf0.1, measured across r10-r13). Dense array,
    not map: Spark's MapType lookup is a linear scan over the entries
    (measured 1.8 s for 600k probe rows against a 2048-entry map at
    sf0.1 vs 0.6 s dense), while ``arr[i]`` is O(1). The sparse->dense
    expansion runs once, inside the one-row aggregate."""
    word, mask = _bloom_word_and_mask(key)
    sparse = (
        keys.selectExpr(
            f"cast({word} as bigint) AS word", f"{mask} AS bit"
        )
        .groupBy("word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )
    # Sparse -> dense via a range left-join + one sorted collect. NOT
    # via per-element map lookup (transform(sequence(..), w -> m[w])):
    # Spark's GetMapValue is a linear scan, which makes that expansion
    # O(words^2) in one task — fine at 2048 words, a multi-minute hang
    # at 32768 (measured this round).
    dense = (
        keys.sparkSession.range(BLOOM_M // 64)
        .withColumnRenamed("id", "word")
        .join(F.broadcast(sparse), "word", "left")
        .selectExpr("word", "coalesce(bits, 0L) AS bits")
    )
    return dense.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(word, bits))),"
            " x -> x.bits)"
        ).alias("bloom")
    )


def bloom_might_contain(key_col: str, bloom_ref: str = "bloom") -> "F.Column":
    """Predicate over a probe row given the bloom array (a column named
    ``bloom`` by default, or any SQL expression — e.g. a scalar subquery
    ``(SELECT bloom FROM v)`` — via ``bloom_ref``): the key's single
    split-block word must contain its whole BLOOM_K-bit mask
    (``word & mask = mask``). ONE ``bloom_ref`` occurrence — the point
    of the blocked layout on this engine: the classic layout's K
    conjuncts each re-instantiate a scalar-subquery reference (folding
    them into one ``forall`` is not an option — Spark rejects
    subqueries inside higher-order functions), and constraint
    propagation inferred K more copies onto the build side, ~6 subquery
    jobs and ~3.5 s of stage scheduling per run at sf0.1 (measured,
    r10-r13). The blocked probe carries exactly one subquery instance,
    and the one-word access is also the cache-friendly shape at 100 TB
    (one cache line per probe instead of K)."""
    word, mask = _bloom_word_and_mask(key_col)
    return F.expr(
        f"(({bloom_ref})[{word}] & {mask}) = {mask}"
    )


@query(
    "q74_bloom_semi_join",
    oracle=f"""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           round(sum(l_extendedprice * (1 - l_discount)), 2) + 0.0
             AS revenue
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                         WHERE o_totalprice > {Q74_PRICE_MIN})
    GROUP BY l_returnflag
    """,
)
def q74_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue of lineitems belonging to big-ticket orders, computed as
    bloom-prefilter -> exact LEFT SEMI join -> aggregate. The bitmap
    (built by ``bloom_build``, checked by ``bloom_might_contain``) is
    broadcast as one 256 KiB dense-array row, evaluated inside the probe
    side's scan stage, so the shuffle only carries candidate rows; the
    semi-join scrubs the false positives, and the oracle (the plain IN
    semi-join) proves the prefilter changed nothing. This is the
    explicit twin of Catalyst's runtime bloom pushdown
    (spark.sql.optimizer.runtime.bloomFilter), with the same plan
    shape: the probe is a SCALAR SUBQUERY in a filter that references
    only probe-side columns, so predicate pushdown pins it onto the
    lineitem scan BELOW the semi-join — a plain crossJoin(broadcast)
    formulation gets join-reordered to semi-join-first, which runs the
    full join before the filter and defeats the prefilter (measured on
    this exact query; see test_bloom_filter_sits_below_semi_join)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    keys = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > Q74_PRICE_MIN)
        .select("o_orderkey")
    )
    # Cost history (the r10-r13 scheduling-floor saga, resolved r13):
    # the CLASSIC k-conjunct probe instantiated the scalar subquery K
    # times (constraint propagation inferred K more onto the build
    # side) — ~6 subquery jobs, a measured ~3.5-5 s floor at sf0.1
    # independent of probe size; a localCheckpoint didn't help (each
    # instance copies the logical plan) and binding the bitmap as a
    # 2048-long LITERAL was worse (~7 s of per-run analysis). The
    # SPLIT-BLOCK layout (bloom_build) needs exactly one subquery
    # reference, collapsing the floor: 1.2 s warm at sf0.1 vs 3.8 s
    # classic, same session, 6-run A/B this round.
    bloom_build(keys, "o_orderkey").createOrReplaceTempView("q74_bloom")
    candidates = lineitem.filter(
        bloom_might_contain("l_orderkey", "SELECT bloom FROM q74_bloom")
    )
    survivors = candidates.join(
        keys, candidates["l_orderkey"] == keys["o_orderkey"], "left_semi"
    )
    return survivors.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
        (
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            + F.lit(0.0)
        ).alias("revenue"),
    )


@query(
    "q75_scd2_dimension",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), seg AS (
      SELECT user_id, ts, event_type,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS seg
      FROM e
    ), runs AS (
      SELECT user_id, seg, min(event_type) AS state,
             min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_events
      FROM seg GROUP BY user_id, seg
    )
    SELECT user_id, state,
           strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
           coalesce(strftime(lead(valid_from) OVER v,
                             '%Y-%m-%d %H:%M:%S'), '9999-12-31 00:00:00')
             AS valid_to,
           CAST(row_number() OVER v AS BIGINT) AS version,
           CASE WHEN lead(valid_from) OVER v IS NULL THEN 1 ELSE 0 END
             AS is_current,
           n_events
    FROM runs
    -- seg tie-break: two adjacent runs can START at the same timestamp
    -- when consecutive events share a ts; the segment id carries the
    -- true event order (caught by the adversarial same-ts fixture)
    WINDOW v AS (PARTITION BY user_id ORDER BY valid_from, seg)
    """,
)
def q75_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 history build (Kimball): collapse
    each user's event_type timeline into [valid_from, valid_to) validity
    intervals with a version counter and an is_current flag — the
    standard warehouse dimension-history table, derived here with the
    gaps-and-islands value-change decomposition (lag -> change flag ->
    prefix-sum segment id -> run aggregate) instead of any self-join.
    All three windows partition by user_id (unbounded key cardinality,
    so parallelism scales with users, and rows per task are bounded by
    one user's history); the run aggregate is a partial-agg-friendly
    groupBy. At 100 TB this is one shuffle on user_id reused by every
    window stage; the open interval is closed with the conventional
    9999-12-31 sentinel so the output carries no NULL hash columns."""
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        events.withColumn(
            "chg",
            F.when(
                ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "seg",
            F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    runs = seg.groupBy("user_id", "seg").agg(
        F.min("event_type").alias("state"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # seg tie-break mirrors the oracle: same-ts adjacent runs share a
    # valid_from, and version order must follow event order, not an
    # engine-dependent tie resolution
    v = Window.partitionBy("user_id").orderBy("valid_from", "seg")
    nxt = F.lead("valid_from").over(v)
    return runs.select(
        "user_id",
        "state",
        F.date_format("valid_from", TS_FMT_SPARK).alias("valid_from"),
        F.coalesce(
            F.date_format(nxt, TS_FMT_SPARK), F.lit("9999-12-31 00:00:00")
        ).alias("valid_to"),
        F.row_number().over(v).cast("long").alias("version"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
        "n_events",
    )
