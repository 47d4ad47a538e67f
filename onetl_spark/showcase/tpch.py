"""TPC-H-ish analytics — the capabilities the reference delegates to Spark
(SURVEY §2.10): joins, aggregations, window functions, top-k, set ops.

Scale notes (designed for 100 TB, tested at sf0.1):
- every dimension join (region/nation/supplier/customer/part) is broadcast —
  dims are tiny even at SF100k, so no shuffle on the fact side for them;
- fact-fact joins (orders ⋈ lineitem) shuffle on the join key, which AQE
  re-plans at runtime; keys are uniform (synthetic), no salting needed;
- aggregates are partial (map-side combine) by construction via groupBy.agg;
- filters are applied before joins so parquet scans prune columns + rows
  (verified via PushedFilters in .explain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from onetl_spark.showcase.registry import register
from onetl_spark.showcase.util import davg, dsum, ensure_views, sql_davg, sql_dsum

SHIP_CUTOFF = "1998-09-02"


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: pricing summary report over lineitem."""
    ensure_views(spark, sf_dir)
    l = spark.table("lineitem").filter(F.col("l_shipdate") <= F.lit(SHIP_CUTOFF).cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price, 8).alias("sum_disc_price"),
            dsum(charge, 8).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice')} AS sum_base_price,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 8)} AS sum_disc_price,
       {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 8)} AS sum_charge,
       {sql_davg('l_quantity')} AS avg_qty,
       {sql_davg('l_extendedprice')} AS avg_price,
       {sql_davg('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{SHIP_CUTOFF} 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-ish: top-10 unshipped orders by revenue for one segment.

    customer is broadcast (small dim); orders⋈lineitem shuffles on
    o_orderkey; TakeOrderedAndProject handles the top-k without a full sort.
    """
    ensure_views(spark, sf_dir)
    cust = spark.table("customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = spark.table("orders").filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    line = spark.table("lineitem").filter(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    return (
        line.join(orders, line.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 8).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 8)} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-ish: revenue by nation where customer and supplier share the
    nation. All dims broadcast; single shuffle for the fact join + agg."""
    ensure_views(spark, sf_dir)
    region = spark.table("region")
    nation = spark.table("nation")
    supplier = spark.table("supplier")
    customer = spark.table("customer")
    orders = spark.table("orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")),
    )
    line = spark.table("lineitem")
    return (
        line.join(orders, line.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), line.l_suppkey == supplier.s_suppkey)
        .filter(customer.c_nationkey == supplier.s_nationkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 8).alias("revenue"))
    )


Q5_SQL = f"""
SELECT n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 8)} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


def window_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function: each customer's highest-value order (row_number)."""
    ensure_views(spark, sf_dir)
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        spark.table("orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


WINDOW_TOP_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn = 1
"""


def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer ordered by date (rows between)."""
    ensure_views(spark, sf_dir)
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        spark.table("orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).over(w).cast("double").alias("running_total"),
        )
    )


WINDOW_RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
FROM orders
"""


def topk_expensive_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort/limit → Catalyst TakeOrderedAndProject (no full sort at scale)."""
    ensure_views(spark, sf_dir)
    return (
        spark.table("orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


TOPK_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 25
"""


def agg_rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation with grouping flags."""
    ensure_views(spark, sf_dir)
    return (
        spark.table("orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total"),
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        )
    )


ROLLUP_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS total,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def setops_high_value_not_building(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: customers with >3 orders EXCEPT the BUILDING segment."""
    ensure_views(spark, sf_dir)
    frequent = (
        spark.table("orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter("n > 3")
        .select(F.col("o_custkey").alias("custkey"))
    )
    building = (
        spark.table("customer")
        .filter("c_mktsegment = 'BUILDING'")
        .select(F.col("c_custkey").alias("custkey"))
    )
    return frequent.exceptAll(building)


SETOPS_SQL = """
SELECT o_custkey AS custkey FROM orders GROUP BY o_custkey HAVING COUNT(*) > 3
EXCEPT ALL
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
"""


def semi_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi + left-anti joins: customers with orders but no high-value order."""
    ensure_views(spark, sf_dir)
    customer = spark.table("customer")
    orders = spark.table("orders")
    big = orders.filter("o_totalprice > 400000")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .join(big, customer.c_custkey == big.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


SEMI_ANTI_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
"""


def events_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed event aggregation (date_trunc + conditional agg)."""
    ensure_views(spark, sf_dir)
    e = spark.table("events")
    return (
        e.groupBy(
            F.to_date(F.col("ts")).alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value").alias("total_value"),
        )
    )


EVENTS_STATS_SQL = f"""
SELECT CAST(ts AS DATE) AS day,
       event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {sql_dsum('value')} AS total_value
FROM events
GROUP BY 1, 2
"""


register(q1_pricing_summary, Q1_SQL)
register(q3_shipping_priority, Q3_SQL)
register(q5_local_supplier_volume, Q5_SQL)
register(window_top_order_per_customer, WINDOW_TOP_SQL)
register(window_running_total, WINDOW_RUNNING_SQL)
register(topk_expensive_orders, TOPK_SQL)
register(agg_rollup_status_priority, ROLLUP_SQL)
register(setops_high_value_not_building, SETOPS_SQL)
register(semi_anti_join_customers, SEMI_ANTI_SQL)
register(events_daily_stats, EVENTS_STATS_SQL)


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: forecasting revenue change — pure scan+filter+agg, the
    canonical predicate-pushdown benchmark."""
    ensure_views(spark, sf_dir)
    l = spark.table("lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24),
    )
    return l.agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), 8).alias("revenue"))


Q6_SQL = f"""
SELECT {sql_dsum('l_extendedprice * l_discount', 8)} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-ish: top-20 customers by revenue lost to returns."""
    ensure_views(spark, sf_dir)
    customer = spark.table("customer")
    nation = spark.table("nation")
    orders = spark.table("orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")),
    )
    line = spark.table("lineitem").filter("l_returnflag = 'R'")
    return (
        line.join(orders, line.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 8).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 8)} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-ish: share of revenue from promo parts (conditional agg
    over a broadcast part join)."""
    ensure_views(spark, sf_dir)
    part = spark.table("part")
    line = spark.table("lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp")),
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), disc).otherwise(F.lit(0.0))
    joined = line.join(F.broadcast(part), line.l_partkey == part.p_partkey)
    return joined.agg(
        (100.0 * dsum(promo, 8) / dsum(disc, 8)).alias("promo_revenue_pct"),
    )


Q14_SQL = f"""
SELECT 100.0 * {sql_dsum("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", 8)}
       / {sql_dsum('l_extendedprice * (1 - l_discount)', 8)} AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
"""


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-ish: orders whose total quantity exceeds a threshold
    (agg → semi-join back on the aggregated key)."""
    ensure_views(spark, sf_dir)
    line = spark.table("lineitem")
    big_orders = (
        line.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    orders = spark.table("orders")
    customer = spark.table("customer")
    return (
        big_orders.join(orders, big_orders.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


Q18_SQL = f"""
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM (
  SELECT l_orderkey, {sql_dsum('l_quantity')} AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING total_qty > 150
) b
JOIN orders   ON b.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""

register(q6_forecast_revenue, Q6_SQL)
register(q10_returned_items, Q10_SQL)
register(q14_promo_revenue, Q14_SQL)
register(q18_large_volume_customers, Q18_SQL)
