"""Extended TPC-H-style coverage (SURVEY §2.10 breadth).

The testdata is TPC-H-ish: no partsupp table, no commit/receipt dates,
no phone/comment columns — so each classic query keeps its SHAPE
(EXISTS semi-join, correlated avg subquery, scalar subquery, conditional
aggregation, disjunctive pushdown, distinct counting, nation-pair joins)
with predicates adapted to the available columns.

Scale design as in tpch.py: dims broadcast, facts shuffle on join keys,
partial aggregation everywhere, filters before joins, deterministic
decimal sums for every hashed double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onetl_spark.showcase.registry import register
from onetl_spark.showcase.util import (
    davg,
    dsum,
    ensure_views,
    fsig,
    sql_davg,
    sql_dsum,
    sql_fsig,
    sql_round_hu,
)


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: priority distribution of orders having at least one
    late-shipped lineitem (EXISTS → left-semi join; the testdata lacks
    commit/receipt dates, so 'late' = shipped >30 days after order)."""
    ensure_views(spark, sf_dir)
    orders = spark.table("orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp")),
    )
    line = spark.table("lineitem")
    late = (
        line.join(orders, line.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 30))
        .select("l_orderkey")
    )
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
"""


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: shipping volume between nation pairs (supplier nation ≠
    customer nation), by year. Both nation dims broadcast; one fact
    shuffle on the orders⋈lineitem key."""
    ensure_views(spark, sf_dir)
    line = spark.table("lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")),
    )
    orders = spark.table("orders")
    customer = spark.table("customer")
    supplier = spark.table("supplier")
    n1 = spark.table("nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation"),
    )
    n2 = spark.table("nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation"),
    )
    return (
        line.join(orders, line.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), line.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 8).alias("revenue"))
    )


Q7_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 8)} AS revenue
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN customer  ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
"""


def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: conditional aggregation — per shipping-speed bucket,
    how many high- vs low-priority orders (no l_shipmode in testdata;
    bucket = shipped within 30 days of order or not)."""
    ensure_views(spark, sf_dir)
    line = spark.table("lineitem")
    orders = spark.table("orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        line.join(orders, line.l_orderkey == orders.o_orderkey)
        .filter(F.year("l_shipdate") == 1997)
        .withColumn(
            "ship_bucket",
            F.when(
                F.col("l_shipdate") <= F.date_add(F.col("o_orderdate"), 30), F.lit("FAST"),
            ).otherwise(F.lit("SLOW")),
        )
        .groupBy("ship_bucket")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT CASE WHEN l_shipdate <= o_orderdate + INTERVAL 30 DAY
            THEN 'FAST' ELSE 'SLOW' END AS ship_bucket,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE year(l_shipdate) = 1997
GROUP BY 1
"""


def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: two-level aggregation — distribution of order counts per
    customer, including zero-order customers (LEFT join; the classic
    'not like %special%' filter becomes a priority exclusion)."""
    ensure_views(spark, sf_dir)
    customer = spark.table("customer")
    orders = spark.table("orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey)
GROUP BY c_count
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: scalar subquery — supplier(s) achieving the maximum
    quarterly revenue. The revenue view is aggregated once and compared
    against its own max (broadcast 1-row join)."""
    ensure_views(spark, sf_dir)
    line = spark.table("lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp")),
    )
    revenue = line.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 8).alias("total_revenue"),
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("_max"))
    supplier = spark.table("supplier")
    return (
        revenue.join(F.broadcast(max_rev), revenue.total_revenue == F.col("_max"))
        .join(F.broadcast(supplier), F.col("supplier_no") == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {sql_dsum('l_extendedprice * (1 - l_discount)', 8)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON supplier_no = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: correlated average subquery — revenue from lineitems
    whose quantity is below 20% of that part's average quantity, for one
    brand. Decorrelated to a per-part aggregate joined back (the plan a
    100 TB run needs: one agg + one broadcast-able join, no per-row
    subquery execution)."""
    ensure_views(spark, sf_dir)
    part = spark.table("part").filter(F.col("p_brand") == "Brand#1")
    line = spark.table("lineitem")
    branded = line.join(F.broadcast(part), line.l_partkey == part.p_partkey)
    avg_qty = branded.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (davg("l_quantity")).alias("_avg_qty"),
    )
    return (
        branded.join(avg_qty, branded.l_partkey == F.col("_pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("_avg_qty"))
        # magnitude > 1e6 → 9-dp rounding is inert; float32 round-trip is
        # the engine-stable significant rounding (magnitude lint, r11)
        .agg(fsig(dsum("l_extendedprice", 8) / 7.0).alias("avg_yearly"))
    )


Q17_SQL = f"""
WITH branded AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#1'
), avg_qty AS (
  SELECT l_partkey AS _pk, {sql_davg('l_quantity')} AS _avg_qty
  FROM branded GROUP BY l_partkey)
SELECT {sql_fsig(sql_dsum('l_extendedprice', 8) + ' / 7.0')} AS avg_yearly
FROM branded JOIN avg_qty ON l_partkey = _pk
WHERE l_quantity < 0.2 * _avg_qty
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: disjunction of conjunctive predicates over part ⋈
    lineitem (brand/size/quantity bands). Written as one OR filter after
    the join so Catalyst can still push the common l_quantity bounds."""
    ensure_views(spark, sf_dir)
    part = spark.table("part")
    line = spark.table("lineitem")
    j = line.join(F.broadcast(part), line.l_partkey == part.p_partkey)
    band1 = (
        (F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(1, 11))
    )
    band2 = (
        (F.col("p_brand") == "Brand#2") & (F.col("p_size").between(1, 25))
        & (F.col("l_quantity").between(10, 20))
    )
    band3 = (
        (F.col("p_brand") == "Brand#3") & (F.col("p_size").between(1, 35))
        & (F.col("l_quantity").between(20, 30))
    )
    return j.filter(band1 | band2 | band3).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 8).alias("revenue"),
    )


Q19_SQL = f"""
SELECT {sql_dsum('l_extendedprice * (1 - l_discount)', 8)} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""


def q22_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: scalar subquery (global average) + NOT EXISTS anti-join —
    high-balance customers from selected nations with no orders after a
    cutoff (testdata has no phone column; nation keys play the country
    codes)."""
    ensure_views(spark, sf_dir)
    customer = spark.table("customer").filter(F.col("c_nationkey").isin(1, 3, 5, 7, 9))
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        davg("c_acctbal").alias("_avg_bal"),
    )
    recent = spark.table("orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"),
    ).select("o_custkey")
    rich = customer.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("_avg_bal"))
    return (
        rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").cast("long").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


Q22_SQL = f"""
WITH sel AS (
  SELECT * FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9)
), avg_bal AS (
  SELECT {sql_davg('c_acctbal')} AS _avg_bal FROM sel WHERE c_acctbal > 0)
SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
       COUNT(*) AS numcust,
       {sql_dsum('c_acctbal')} AS totacctbal
FROM sel CROSS JOIN avg_bal
WHERE c_acctbal > _avg_bal
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
GROUP BY 1
"""


register(q4_order_priority, Q4_SQL)
register(q7_nation_volume, Q7_SQL)
register(q12_priority_shipping, Q12_SQL)
register(q13_customer_order_distribution, Q13_SQL)
register(q15_top_supplier, Q15_SQL)
register(q17_small_quantity_revenue, Q17_SQL)
register(q19_disjunctive_revenue, Q19_SQL)
register(q22_inactive_customers, Q22_SQL)


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: market share by year — the fraction of a region's ECONOMY
    revenue supplied from one nation. Ratio of two deterministic decimal
    sums evaluated in double, rounded 9."""
    ensure_views(spark, sf_dir)
    line = spark.table("lineitem")
    orders = spark.table("orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")),
    )
    customer = spark.table("customer")
    supplier = spark.table("supplier")
    part = spark.table("part").filter(F.col("p_type") == "ECONOMY")
    cnat = spark.table("nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey"),
    )
    region = spark.table("region").filter(F.col("r_name") == "ASIA")
    snat = spark.table("nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation"),
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        line.join(orders, line.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), line.l_partkey == part.p_partkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(cnat), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(region), F.col("c_rkey") == F.col("r_regionkey"))
        .join(F.broadcast(supplier), line.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(snat), F.col("s_nationkey") == F.col("s_nkey"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            dsum(F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(0.0), 8).alias("nation_volume"),
            dsum(vol, 8).alias("total_volume"),
        )
        .select(
            "o_year",
            F.round(F.col("nation_volume") / F.col("total_volume"), 9).alias("mkt_share"),
        )
    )


Q8_SQL = f"""
WITH j AS (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS vol,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders    ON l_orderkey = o_orderkey
  JOIN part      ON l_partkey = p_partkey
  JOIN customer  ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region    ON n1.n_regionkey = r_regionkey
  JOIN supplier  ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00')
SELECT CAST(o_year AS BIGINT) AS o_year,
       round({sql_dsum("CASE WHEN supp_nation = 'NATION_1' THEN vol ELSE 0.0 END", 8)}
             / {sql_dsum('vol', 8)}, 9) AS mkt_share
FROM j
GROUP BY o_year
"""


def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit per supplier nation per year over parts matching a
    name pattern (no partsupp in testdata — supply cost stands in as 10%
    of p_retailprice × quantity)."""
    ensure_views(spark, sf_dir)
    line = spark.table("lineitem")
    orders = spark.table("orders")
    supplier = spark.table("supplier")
    part = spark.table("part").filter(F.col("p_name").contains("gear"))
    nation = spark.table("nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("nation"),
    )
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        line.join(orders, line.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), line.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), line.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("s_nkey"))
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(dsum(amount, 6).alias("sum_profit"))
    )


Q9_SQL = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       {sql_dsum('l_extendedprice * (1 - l_discount) - 0.1 * p_retailprice * l_quantity', 6)}
         AS sum_profit
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY 1, 2
"""


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct-supplier counting per part attribute group (no
    partsupp — the lineitem (partkey, suppkey) pairs ARE the supplies
    relation at 100 TB, with the count-distinct shuffled on the group)."""
    ensure_views(spark, sf_dir)
    part = spark.table("part").filter(
        (F.col("p_brand") != "Brand#5") & (F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)),
    )
    supplies = spark.table("lineitem").select("l_partkey", "l_suppkey").distinct()
    return (
        supplies.join(F.broadcast(part), supplies.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) s
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
GROUP BY 1, 2, 3
"""


def q20_bulk_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: chained semi-joins — suppliers from one nation who moved
    more than a quantity threshold of promo-named parts in one year."""
    ensure_views(spark, sf_dir)
    part = spark.table("part").filter(F.col("p_name").startswith("small"))
    line = spark.table("lineitem").filter(F.year("l_shipdate") == 1997)
    qualifying = (
        line.join(F.broadcast(part), line.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(dsum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 50.0)
        .select("l_suppkey")
    )
    supplier = spark.table("supplier")
    nation = spark.table("nation").filter(F.col("n_name") == "NATION_3")
    return (
        supplier.join(qualifying, supplier.s_suppkey == qualifying.l_suppkey, "left_semi")
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


Q20_SQL = f"""
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'small%' AND year(l_shipdate) = 1997
    GROUP BY l_suppkey
    HAVING {sql_dsum('l_quantity')} > 50.0)
  AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_3')
"""


def q21_last_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: per-order multi-supplier analysis — for finalized orders
    involving ≥2 suppliers, count per supplier the orders where THEIR last
    shipment was the order's overall last (they held the order up). One
    shuffle on l_orderkey; the per-order stats join back broadcast-free on
    the same key."""
    ensure_views(spark, sf_dir)
    line = spark.table("lineitem")
    orders = spark.table("orders").filter(F.col("o_orderstatus") == "F")
    l = line.join(orders, line.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_suppkey", "l_shipdate",
    )
    per_order = l.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("_n_supp"),
        F.max("l_shipdate").alias("_max_ship"),
    )
    per_supp = l.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("_supp_max"),
    )
    supplier = spark.table("supplier")
    return (
        per_supp.join(per_order, "l_orderkey")
        .filter((F.col("_n_supp") >= 2) & (F.col("_supp_max") == F.col("_max_ship")))
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


Q21_SQL = """
WITH l AS (
  SELECT l_orderkey, l_suppkey, l_shipdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), per_order AS (
  SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS _n_supp, MAX(l_shipdate) AS _max_ship
  FROM l GROUP BY l_orderkey
), per_supp AS (
  SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS _supp_max
  FROM l GROUP BY l_orderkey, l_suppkey
)
SELECT s_name, COUNT(*) AS numwait
FROM per_supp
JOIN per_order USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE _n_supp >= 2 AND _supp_max = _max_ship
GROUP BY s_name
"""


register(q8_market_share, Q8_SQL)
register(q9_profit_by_nation_year, Q9_SQL)
register(q16_supplier_part_counts, Q16_SQL)
register(q20_bulk_suppliers, Q20_SQL)
register(q21_last_shipper, Q21_SQL)


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: minimum-cost supplier per part within a region (no
    partsupp table — the observed per-(part, supplier) minimum unit price
    in lineitem stands in for ps_supplycost). Correlated-MIN subquery
    expressed as an extra aggregation on the part key joined back on
    equality; supplier/nation/region dims broadcast, the supplies
    relation shuffles once on its grouping key."""
    ensure_views(spark, sf_dir)
    region = spark.table("region").filter(F.col("r_name") == "ASIA")
    nation = spark.table("nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"),
    )
    supplier = spark.table("supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"),
    )
    part = spark.table("part").filter(F.col("p_size") == 15)
    cost = (
        spark.table("lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.round(F.col("l_extendedprice") / F.col("l_quantity"), 6)).alias("unit_cost"))
    )
    offers = (
        cost.join(F.broadcast(part), cost.l_partkey == part.p_partkey)
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name", "n_name")),
            cost.l_suppkey == F.col("s_suppkey"),
        )
    )
    best = offers.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.min("unit_cost").alias("_min_cost"),
    )
    return (
        offers.join(
            best,
            (offers.l_partkey == best._pk) & (offers.unit_cost == best._min_cost),
        )
        .select("s_name", "n_name", F.col("l_partkey").alias("p_partkey"), "p_type", "unit_cost")
    )


Q2_SQL = f"""
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         MIN({sql_round_hu('l_extendedprice / l_quantity', 6)}) AS unit_cost
  FROM lineitem GROUP BY 1, 2
), offers AS (
  SELECT s.s_name, n.n_name, c.l_partkey, p.p_type, c.unit_cost
  FROM cost c
  JOIN part p ON c.l_partkey = p.p_partkey AND p.p_size = 15
  JOIN supplier s ON c.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
)
SELECT s_name, n_name, l_partkey AS p_partkey, p_type, unit_cost
FROM offers o
WHERE unit_cost = (SELECT MIN(unit_cost) FROM offers i WHERE i.l_partkey = o.l_partkey)
"""


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: parts whose shipped value from one nation's suppliers
    exceeds a fraction of that nation's total (HAVING against a scalar
    subquery). The global total is a 1-row aggregate cross-joined
    broadcast; both aggregates partial-combine map-side. Decimal sums
    keep the threshold comparison bit-identical across engines."""
    ensure_views(spark, sf_dir)
    nation = spark.table("nation").filter(F.col("n_name") == "NATION_5")
    supplier = spark.table("supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey")
    shipped = (
        spark.table("lineitem")
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
    )
    per_part = shipped.groupBy("l_partkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("part_value"),
    )
    total = shipped.agg(
        (dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * F.lit(0.001)).alias("_cut"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("_cut"))
        .select(F.col("l_partkey").alias("p_partkey"), "part_value")
    )


Q11_SQL = f"""
WITH shipped AS (
  SELECT l_partkey, l_extendedprice, l_discount
  FROM lineitem
  WHERE l_suppkey IN (
    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_5')
)
SELECT l_partkey AS p_partkey,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS part_value
FROM shipped
GROUP BY l_partkey
HAVING {sql_dsum('l_extendedprice * (1 - l_discount)')} >
       (SELECT {sql_dsum('l_extendedprice * (1 - l_discount)')} * 0.001 FROM shipped)
"""


register(q2_min_cost_supplier, Q2_SQL)
register(q11_important_parts, Q11_SQL)


def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer) shape — reference parity target:
    the HAVING-filtered aggregate feeding a semi-join back into a
    three-table join (reference test surface:
    onetl/tests/.../test_db_reader — complex SELECT rendering; here the
    full Spark-native shape). The qualifying-orders aggregate runs
    FIRST (one shuffle on orderkey, HAVING SUM(qty) > threshold), the
    survivors semi-join orders+customer+lineitem — Catalyst broadcasts
    the qualifying key set when small, which is exactly the 100-TB
    plan. Threshold 150 keeps a non-empty result at the test SFs."""
    ensure_views(spark, sf_dir)
    li = spark.table("lineitem")
    qualifying = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 150)
        .select(F.col("l_orderkey").alias("_qk"))
    )
    li2 = li.select(
        F.col("l_orderkey").alias("_lk"), F.col("l_quantity")
    )
    j = (
        spark.table("orders")
        .join(qualifying, F.col("o_orderkey") == F.col("_qk"))
        .join(
            spark.table("customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(li2, F.col("o_orderkey") == F.col("_lk"))
    )
    return (
        j.groupBy(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
        )
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,2)")).alias("sum_qty"))
        .select(
            "c_name",
            F.col("c_custkey").cast("long").alias("c_custkey"),
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            "o_orderdate",
            # exact decimal internally; DOUBLE at the output boundary
            # (dsum convention — the driver hash has only ever seen floats)
            F.col("o_totalprice").cast("decimal(38,2)").cast("double").alias("o_totalprice"),
            F.col("sum_qty").cast("decimal(38,2)").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


Q18_SQL = """
SELECT c_name, CAST(c_custkey AS BIGINT) AS c_custkey,
       CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderdate,
       CAST(CAST(o_totalprice AS DECIMAL(38,2)) AS DOUBLE) AS o_totalprice,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING SUM(l_quantity) > 150)
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
"""

register(q18_large_volume_customer, Q18_SQL)


def q10_returned_item_reporting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting) — reference parity
    target for the wide-join + group-by-many-columns + top-k pattern:
    customers ranked by revenue lost to returns (l_returnflag = 'R') in
    a pinned quarter, joined through orders to nation. Revenue uses the
    exact decimal l_extendedprice·(1−l_discount) micro-unit identity
    shared with q1; the final top-20 plans as TakeOrderedAndProject,
    never a global sort."""
    ensure_views(spark, sf_dir)
    rev = (
        F.col("l_extendedprice").cast("decimal(38,6)")
        * (F.lit(1).cast("decimal(38,6)") - F.col("l_discount").cast("decimal(38,6)"))
    )
    j = (
        spark.table("lineitem")
        .filter(F.col("l_returnflag") == "R")
        .join(
            spark.table("orders").filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1996-04-01").cast("date"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            spark.table("customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(spark.table("nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(F.sum(F.round(rev, 4).cast("decimal(38,4)")).alias("_rev"))
        .select(
            F.col("c_custkey").cast("long").alias("c_custkey"),
            "c_name",
            # exact decimal accumulation; DOUBLE at the output boundary
            F.col("_rev").cast("decimal(38,4)").cast("double").alias("revenue"),
            F.round(F.col("c_acctbal"), 2).alias("c_acctbal"),
            "n_name",
            "c_mktsegment",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


Q10_SQL = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
       CAST(CAST(SUM(CAST(round(CAST(l_extendedprice AS DECIMAL(38,6))
                           * (CAST(1 AS DECIMAL(38,6))
                              - CAST(l_discount AS DECIMAL(38,6))), 4)
                     AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
       round(c_acctbal, 2) AS c_acctbal, n_name, c_mktsegment
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""

# Named apart from "q10_returned_items", showcase/tpch.py's original
# (all-double) Q10, which a shared name once silently shadowed; both
# variants are registered.
register(q10_returned_item_reporting, Q10_SQL)
