"""Additional analytics shapes: pivot, cube, exact percentiles.

Rounding/aggregation determinism follows showcase/util.py: decimal sums
for hashed doubles, `round(x, 9)` on interpolated percentiles (Spark's
exact ``percentile`` and DuckDB's ``quantile_cont`` both use linear
interpolation over the sorted values).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from onetl_spark.llm.text import mix31_sql
from onetl_spark.showcase.registry import register
from onetl_spark.showcase.util import dsum, ensure_views, sql_dec, sql_dsum, sql_round_hu

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_pivot_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one row per user, one count column per event type. The
    explicit value list keeps the plan a single pass (no distinct-values
    pre-query) — mandatory at scale."""
    ensure_views(spark, sf_dir)
    out = (
        spark.table("events")
        .groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .count()
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in EVENT_TYPES],
    )


PIVOT_SQL = """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS n_view
FROM events
GROUP BY user_id
"""


def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles per event type (Spark ``percentile``, not the
    approximate sketch — approx_percentile/DuckDB approx sketches differ
    by construction and can never hash-match an oracle)."""
    ensure_views(spark, sf_dir)
    return (
        spark.table("events")
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 9).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 9).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 9).alias("p99"),
        )
    )


PERCENTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 9) AS p50,
       round(quantile_cont(value, 0.9), 9) AS p90,
       round(quantile_cont(value, 0.99), 9) AS p99
FROM events
GROUP BY event_type
"""


register(events_pivot_by_type, PIVOT_SQL)
register(events_value_percentiles, PERCENTILES_SQL)


def events_distinct_users_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user sketch (KMV, k=64): deterministic,
    engine-reproducible approximate count-distinct — one distinct
    shuffle + a WindowGroupLimit top-k, never the full value set per
    group post-shuffle (contrast exact COUNT(DISTINCT) at 100 TB)."""
    from onetl_spark.operators.sketches import kmv_distinct_estimate

    ensure_views(spark, sf_dir)
    return kmv_distinct_estimate(
        spark.table("events"), group_cols=["event_type"], value_col="user_id", k=64,
    )


def _kmv_sql() -> str:
    from onetl_spark.operators.sketches import sql_kmv_distinct_estimate

    return sql_kmv_distinct_estimate("events", ["event_type"], "user_id", k=64)


def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup in ONE pass: daily and hourly
    aggregates via GROUPING SETS — the hypertable continuous-aggregate
    shape. Spark evaluates both granularities from a single scan with
    partial aggregation; resolution is disambiguated by the grouping
    flag, not a second job."""
    ensure_views(spark, sf_dir)
    ev = spark.table("events").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "value",
    )
    return (
        ev.groupingSets([["day"], ["day", "hour"]], "day", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            # hour is NULL on the daily grouping set; fold the two
            # granularities into one non-null bucket column + resolution
            F.coalesce("hour", "day").alias("bucket_start"),
            F.when(F.col("hour").isNull(), "1d").otherwise("1h").alias("resolution"),
            "n_events",
            "total_value",
        )
    )


MULTIRES_SQL = f"""
SELECT CAST(COALESCE(CASE WHEN GROUPING(date_trunc('hour', CAST(ts AS TIMESTAMP))) = 0
                              THEN date_trunc('hour', CAST(ts AS TIMESTAMP)) END,
                         date_trunc('day', CAST(ts AS TIMESTAMP))) AS TIMESTAMP) AS bucket_start,
       CASE WHEN GROUPING(date_trunc('hour', CAST(ts AS TIMESTAMP))) = 1
            THEN '1d' ELSE '1h' END AS resolution,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value
FROM events
GROUP BY GROUPING SETS (
  (date_trunc('day', CAST(ts AS TIMESTAMP))),
  (date_trunc('day', CAST(ts AS TIMESTAMP)), date_trunc('hour', CAST(ts AS TIMESTAMP)))
)
"""


register(events_distinct_users_kmv, _kmv_sql())
register(events_multires_rollup, MULTIRES_SQL)


def rolling_24h_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24-hour rolling event count/value per user — a RANGE window frame
    over exact epoch-microsecond keys (integer keys both engines, so
    frame membership can't drift on fractional seconds). Unlike a ROWS
    frame, peers at the same instant always aggregate together."""
    ensure_views(spark, sf_dir)
    day_us = 24 * 3600 * 1_000_000
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-(day_us - 1), 0)
    )
    return spark.table("events").select(
        "user_id",
        "event_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_24h"),
        F.sum(F.col("value").cast("decimal(38,6)")).over(w).cast("double").alias("value_24h"),
    )


ROLLING_24H_SQL = """
SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
       COUNT(*) OVER w AS n_24h,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS value_24h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
             RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW)
"""


register(rolling_24h_user_value, ROLLING_24H_SQL)


def funnel_signup_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-step funnel over events: first signup, first view after it,
    first purchase after that."""
    from onetl_spark.operators.funnel import funnel_steps

    ensure_views(spark, sf_dir)
    return funnel_steps(spark.table("events"), ["signup", "view", "purchase"])


FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS step_1_ts
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS step_2_ts
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'view' AND CAST(e.ts AS TIMESTAMP) > s1.step_1_ts
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS step_3_ts
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > s2.step_2_ts
  GROUP BY e.user_id
)
SELECT s1.user_id, s1.step_1_ts, s2.step_2_ts, s3.step_3_ts,
       CASE WHEN s3.step_3_ts IS NOT NULL THEN 3
            WHEN s2.step_2_ts IS NOT NULL THEN 2
            ELSE 1 END AS steps_completed
FROM s1
LEFT JOIN s2 ON s1.user_id = s2.user_id
LEFT JOIN s3 ON s1.user_id = s3.user_id
"""


register(funnel_signup_view_purchase, FUNNEL_SQL)


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary scored
    1-4 against exact quartile boundaries. The boundaries are three
    scalars from one percentile aggregate broadcast back as literals —
    never an ntile over a single global partition (which would sort the
    whole customer table on one task at scale)."""
    ensure_views(spark, sf_dir)
    per_cust = (
        spark.table("orders")
        .groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            dsum("o_totalprice", 2).alias("monetary"),
        )
    )
    # quartile boundaries: one tiny aggregate, three scalars per measure
    b = per_cust.agg(
        *[
            F.round(F.expr(f"percentile(frequency, {p})"), 9).alias(f"f{int(p * 100)}")
            for p in (0.25, 0.5, 0.75)
        ],
        *[
            F.round(F.expr(f"percentile(monetary, {p})"), 9).alias(f"m{int(p * 100)}")
            for p in (0.25, 0.5, 0.75)
        ],
    ).collect()[0]

    def score(col, lo, mid, hi):
        c = F.col(col)
        return (
            F.when(c <= F.lit(lo), 1)
            .when(c <= F.lit(mid), 2)
            .when(c <= F.lit(hi), 3)
            .otherwise(4)
        )

    return per_cust.select(
        "o_custkey",
        "last_order",
        "frequency",
        "monetary",
        score("frequency", b["f25"], b["f50"], b["f75"]).alias("f_score"),
        score("monetary", b["m25"], b["m50"], b["m75"]).alias("m_score"),
    )


RFM_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey,
         MAX(CAST(o_orderdate AS DATE)) AS last_order,
         COUNT(*) AS frequency,
         {sql_dsum('o_totalprice', 2)} AS monetary
  FROM orders GROUP BY o_custkey
), b AS (
  SELECT round(quantile_cont(frequency, 0.25), 9) AS f25,
         round(quantile_cont(frequency, 0.50), 9) AS f50,
         round(quantile_cont(frequency, 0.75), 9) AS f75,
         round(quantile_cont(monetary, 0.25), 9) AS m25,
         round(quantile_cont(monetary, 0.50), 9) AS m50,
         round(quantile_cont(monetary, 0.75), 9) AS m75
  FROM per_cust
)
SELECT o_custkey, last_order, frequency, monetary,
       CASE WHEN frequency <= f25 THEN 1 WHEN frequency <= f50 THEN 2
            WHEN frequency <= f75 THEN 3 ELSE 4 END AS f_score,
       CASE WHEN monetary <= m25 THEN 1 WHEN monetary <= m50 THEN 2
            WHEN monetary <= m75 THEN 3 ELSE 4 END AS m_score
FROM per_cust, b
"""


register(customer_rfm_segments, RFM_SQL)


def orders_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass-per-column data-quality profile of the orders table
    (rows / nulls / exact distinct / extrema). Per-column single-column
    aggregates (parquet prunes each scan to one column) instead of one
    multi-distinct aggregate, which Spark would expand into an `Expand`
    node replicating every row once per profiled column."""
    from onetl_spark.operators.quality import profile

    ensure_views(spark, sf_dir)
    return profile(
        spark.table("orders"),
        ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus", "o_orderdate", "o_orderpriority"],
    )


def _profile_col_sql(col: str, numeric: bool) -> str:
    if numeric:
        lo, hi = f"CAST(MIN({col}) AS DOUBLE)", f"CAST(MAX({col}) AS DOUBLE)"
        slo = shi = "CAST(NULL AS VARCHAR)"
    else:
        lo = hi = "CAST(NULL AS DOUBLE)"
        slo, shi = f"CAST(MIN({col}) AS VARCHAR)", f"CAST(MAX({col}) AS VARCHAR)"
    return f"""
SELECT '{col}' AS col_name, COUNT(*) AS n_rows,
       COUNT(CASE WHEN {col} IS NULL THEN 1 END) AS n_nulls,
       COUNT(DISTINCT {col}) AS n_distinct,
       {lo} AS min_num, {hi} AS max_num, {slo} AS min_str, {shi} AS max_str
FROM orders"""


DQ_PROFILE_SQL = " UNION ALL ".join(
    _profile_col_sql(c, n)
    for c, n in [
        ("o_orderkey", True), ("o_custkey", True), ("o_totalprice", True),
        ("o_orderstatus", False), ("o_orderdate", False), ("o_orderpriority", False),
    ]
)

register(orders_dq_profile, DQ_PROFILE_SQL)


def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity risk report over (nation, market segment) quasi-
    identifiers: equivalence classes below k=5 are re-identifiable."""
    from onetl_spark.operators.quality import k_anonymity

    ensure_views(spark, sf_dir)
    return k_anonymity(spark.table("customer"), ["c_nationkey", "c_mktsegment"], k=5)


K_ANON_SQL = """
SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size,
       COUNT(*) < 5 AS at_risk
FROM customer
GROUP BY c_nationkey, c_mktsegment
"""

register(customer_k_anonymity, K_ANON_SQL)


def orders_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract checks folded into ONE aggregate pass
    (never one job per rule); nulls count as failures."""
    from onetl_spark.operators.quality import Expectation, expect

    ensure_views(spark, sf_dir)
    return expect(
        spark.table("orders"),
        [
            Expectation("key_not_null", "o_orderkey IS NOT NULL"),
            Expectation("positive_price", "o_totalprice > 0"),
            Expectation("status_domain", "o_orderstatus IN ('F','O','P')"),
            Expectation("high_value", "o_totalprice >= 50000"),
        ],
    )


EXPECT_SQL = """
WITH t AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN COALESCE(o_orderkey IS NOT NULL, FALSE) THEN 0 ELSE 1 END) AS f1,
         SUM(CASE WHEN COALESCE(o_totalprice > 0, FALSE) THEN 0 ELSE 1 END) AS f2,
         SUM(CASE WHEN COALESCE(o_orderstatus IN ('F','O','P'), FALSE) THEN 0 ELSE 1 END) AS f3,
         SUM(CASE WHEN COALESCE(o_totalprice >= 50000, FALSE) THEN 0 ELSE 1 END) AS f4
  FROM orders
)
SELECT e.expectation, t.n AS n_rows, CAST(e.f AS BIGINT) AS n_failed,
       ROUND(CASE WHEN t.n > 0 THEN 1.0 - CAST(e.f AS DOUBLE) / t.n ELSE 1.0 END, 9) AS pass_rate
FROM t, LATERAL (VALUES
  ('key_not_null', t.f1), ('positive_price', t.f2),
  ('status_domain', t.f3), ('high_value', t.f4)
) AS e(expectation, f)
"""

register(orders_expectations, EXPECT_SQL)


def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly cohort retention matrix: cohort = month of a user's first
    event; n_users = distinct users from that cohort active at each month
    offset. Two aggregations plus one user-keyed join — the join reuses
    the partitioning the first aggregate established, and the month
    arithmetic is integer (year*12+month), exact in both engines."""
    ensure_views(spark, sf_dir)
    ev = spark.table("events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))

    def midx(c):
        return F.year(c) * 12 + F.month(c)

    return (
        ev.join(first, "user_id")
        .select(
            F.trunc(F.col("first_ts").cast("date"), "month").alias("cohort_month"),
            (midx(F.col("ts")) - midx(F.col("first_ts"))).cast("long").alias("month_offset"),
            "user_id",
        )
        .groupBy("cohort_month", "month_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


RETENTION_SQL = """
WITH f AS (
  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS first_ts FROM events GROUP BY user_id
)
SELECT CAST(date_trunc('month', f.first_ts) AS DATE) AS cohort_month,
       CAST((YEAR(CAST(e.ts AS TIMESTAMP)) * 12 + MONTH(CAST(e.ts AS TIMESTAMP)))
          - (YEAR(f.first_ts) * 12 + MONTH(f.first_ts)) AS BIGINT) AS month_offset,
       COUNT(DISTINCT e.user_id) AS n_users
FROM events e JOIN f USING (user_id)
GROUP BY 1, 2
"""

register(user_retention_cohorts, RETENTION_SQL)


def daily_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection on the daily event-value series:
    7-day trailing window, exact decimal sums feeding identical IEEE
    double arithmetic in both engines. The window is over the DAY series
    (one row per day — time-dimension-sized, never event-sized), so the
    unpartitioned ordered window is a few-thousand-row single task by
    construction; the heavy lifting is the per-day pre-aggregation, which
    shuffles once on the date key."""
    ensure_views(spark, sf_dir)
    daily = (
        spark.table("events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(dsum("value").alias("v"))
    )
    w = W.orderBy("day").rowsBetween(-6, 0)
    s = F.sum(F.col("v").cast("decimal(38,6)")).over(w).cast("double")
    s2 = F.sum((F.col("v") * F.col("v")).cast("decimal(38,6)")).over(w).cast("double")
    n = F.count(F.lit(1)).over(w).cast("double")
    mean = s / n
    # guard the n==1 first row: ANSI mode makes /(n-1) a hard error
    var = F.when(n > 1, (s2 - (s * s) / n) / (n - 1)).otherwise(F.lit(0.0))
    z = F.when(var > 0, (F.col("v") - mean) / F.sqrt(var)).otherwise(F.lit(0.0))
    return daily.select(
        "day",
        "v",
        F.round(mean, 9).alias("mean_7d"),
        F.round(z, 9).alias("zscore"),
        (F.abs(z) > 2.0).alias("anomaly"),
    )


ANOMALY_SQL = f"""
WITH daily AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
  FROM events GROUP BY 1
), roll AS (
  SELECT day, v,
         CAST(SUM(CAST(v AS DECIMAL(38,6))) OVER w AS DOUBLE) AS s,
         CAST(SUM({sql_dec('v * v')}) OVER w AS DOUBLE) AS s2,
         CAST(COUNT(*) OVER w AS DOUBLE) AS n
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
), vv AS (
  SELECT day, v, s, n,
         CASE WHEN n > 1 THEN (s2 - (s * s) / n) / (n - 1) ELSE 0.0 END AS var
  FROM roll
)
SELECT day, v,
       {sql_round_hu('s / n')} AS mean_7d,
       {sql_round_hu('CASE WHEN var > 0 THEN (v - s / n) / SQRT(var) ELSE 0.0 END')} AS zscore,
       CASE WHEN var > 0 THEN ABS((v - s / n) / SQRT(var)) > 2.0 ELSE FALSE END AS anomaly
FROM vv
"""

register(daily_value_anomalies, ANOMALY_SQL)


def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase attributed to the most
    recent click by the same user at or before the purchase (as-of
    backward join — one shuffle on user_id, no window over the full
    event stream)."""
    from onetl_spark.operators.temporal import asof_join

    ensure_views(spark, sf_dir)
    ev = spark.table("events")
    purchases = ev.filter("event_type = 'purchase'").select(
        "event_id", "user_id", "ts", "value",
    )
    # one click per (user, instant): ties at the same timestamp are
    # ambiguous under as-of semantics — resolve to max event_id in BOTH
    # engines so the attribution is deterministic
    clicks = (
        ev.filter("event_type = 'click'")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    out = asof_join(purchases, clicks, on="ts", by=["user_id"])
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.coalesce(F.col("click_id_right"), F.lit(-1)).alias("attributed_click_id"),
        (
            (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_right"))) / F.lit(60_000_000.0)
        ).alias("mins_since_click"),
    ).withColumn("mins_since_click", F.round("mins_since_click", 9))


ATTRIBUTION_SQL = """
WITH p AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(event_id) AS click_id
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, CAST(ts AS TIMESTAMP)
), best AS (
  SELECT p.event_id, MAX(c.ts) AS click_ts
  FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
  GROUP BY p.event_id
)
SELECT p.event_id, p.user_id, p.ts, p.value,
       COALESCE(c.click_id, -1) AS attributed_click_id,
       ROUND((epoch_us(p.ts) - epoch_us(best.click_ts)) / 60000000.0, 9) AS mins_since_click
FROM p
JOIN best ON p.event_id = best.event_id
LEFT JOIN c ON c.user_id = p.user_id AND c.ts = best.click_ts
"""

register(last_touch_attribution, ATTRIBUTION_SQL)


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON extraction from the props payload column with
    ``from_json`` (JVM-side, schema-directed — never a Python UDF or a
    per-row regex), aggregated per event type."""
    ensure_views(spark, sf_dir)
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        spark.table("events")
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("k").isNull(), 1)).alias("n_null_k"),
            F.min("k").cast("long").alias("k_min"),
            F.max("k").cast("long").alias("k_max"),
            F.sum("k").cast("long").alias("k_sum"),
        )
    )


JSON_PROPS_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) IS NULL THEN 1 END) AS n_null_k,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_min,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_max,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum
FROM events
GROUP BY event_type
"""

register(events_json_props, JSON_PROPS_SQL)


def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram of event values (integer bucket arithmetic —
    a single aggregate pass; the bucket count is fixed up front so the
    result is bucket-sized regardless of input scale)."""
    ensure_views(spark, sf_dir)
    width = 50.0
    bucket = F.floor(F.col("value") / width).cast("long")
    return (
        spark.table("events")
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(dsum("value"), 6).alias("total_value"),
        )
        .withColumn("bucket_lo", F.round(F.col("bucket") * width, 6))
    )


HISTOGRAM_SQL = """
SELECT CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS total_value,
       ROUND(CAST(CAST(FLOOR(value / 50.0) AS BIGINT) * 50.0 AS DOUBLE), 6) AS bucket_lo
FROM events
GROUP BY 1
"""

register(events_value_histogram, HISTOGRAM_SQL)


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over each user's event sequence: count
    and probability of event_type → next event_type. One shuffle on
    user_id for the lead window; the probability window runs over the
    25-row transition table, not the events."""
    ensure_views(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("event_type").over(w)
    pairs = (
        spark.table("events")
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", nxt)
        .filter(F.col("next_type").isNotNull())
    )
    counts = pairs.groupBy("event_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    wt = W.partitionBy("event_type")
    return counts.select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wt), 9).alias("p"),
    )


TRANSITION_SQL = """
WITH pairs AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
), counts AS (
  SELECT event_type, next_type, COUNT(*) AS n
  FROM pairs WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
)
SELECT event_type, next_type, n,
       ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY event_type), 9) AS p
FROM counts
"""

register(event_transition_matrix, TRANSITION_SQL)


def chi2_type_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square contingency analysis of event type vs customer market
    segment: observed vs expected counts and per-cell chi2 contribution.
    The events→customer join broadcasts the dimension; every window runs
    over the cell table (|segments|×|types| rows), never the events."""
    ensure_views(spark, sf_dir)
    j = (
        spark.table("events")
        .join(
            F.broadcast(spark.table("customer").select("c_custkey", "c_mktsegment")),
            F.col("user_id") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_seg = W.partitionBy("c_mktsegment")
    w_typ = W.partitionBy("event_type")
    w_all = W.partitionBy()
    rt = F.sum("n").over(w_seg).cast("double")
    ct = F.sum("n").over(w_typ).cast("double")
    g = F.sum("n").over(w_all).cast("double")
    exp = rt * ct / g
    nd = F.col("n").cast("double")
    return j.select(
        "c_mktsegment",
        "event_type",
        "n",
        F.round(exp, 9).alias("expected"),
        F.round((nd - exp) * (nd - exp) / exp, 9).alias("chi2_contrib"),
    )


CHI2_SQL = """
WITH cells AS (
  SELECT c.c_mktsegment, e.event_type, COUNT(*) AS n
  FROM events e JOIN customer c ON e.user_id = c.c_custkey
  GROUP BY c.c_mktsegment, e.event_type
)
SELECT c_mktsegment, event_type, n,
       ROUND(CAST(SUM(n) OVER (PARTITION BY c_mktsegment) AS DOUBLE)
             * CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE)
             / CAST(SUM(n) OVER () AS DOUBLE), 9) AS expected,
       ROUND(POWER(CAST(n AS DOUBLE)
               - CAST(SUM(n) OVER (PARTITION BY c_mktsegment) AS DOUBLE)
                 * CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE)
                 / CAST(SUM(n) OVER () AS DOUBLE), 2)
             / (CAST(SUM(n) OVER (PARTITION BY c_mktsegment) AS DOUBLE)
                * CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE)
                / CAST(SUM(n) OVER () AS DOUBLE)), 9) AS chi2_contrib
FROM cells
"""

register(chi2_type_by_segment, CHI2_SQL)


def event_value_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type statistics: exact median and median absolute
    deviation. Two aggregate passes (median, then median of |x−median|)
    with the 5-row median table broadcast back — the robust-stats recipe
    that never sorts the full column on one task."""
    ensure_views(spark, sf_dir)
    ev = spark.table("events")
    med = ev.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.min("med"), 9).alias("median"),
            F.round(F.expr("percentile(abs(value - med), 0.5)"), 9).alias("mad"),
        )
    )


MAD_SQL = """
WITH m AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1
)
SELECT e.event_type,
       ROUND(MIN(m.med), 9) AS median,
       ROUND(quantile_cont(ABS(e.value - m.med), 0.5), 9) AS mad
FROM events e JOIN m USING (event_type)
GROUP BY e.event_type
"""

register(event_value_mad, MAD_SQL)


def events_unpivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt/unpivot round-trip: the wide per-user pivot table back to
    long (user_id, event_type, n) — Spark's native ``unpivot`` (an
    Expand over the already-aggregated wide table, never the raw
    events)."""
    ensure_views(spark, sf_dir)
    wide = events_pivot_by_type(spark, sf_dir)
    return (
        wide.unpivot(
            "user_id",
            [f"n_{t}" for t in EVENT_TYPES],
            "event_type",
            "n",
        )
        .withColumn("event_type", F.expr("substring(event_type, 3)"))
        .filter(F.col("n") > 0)
    )


UNPIVOT_SQL = """
SELECT user_id, event_type, COUNT(*) AS n
FROM events
GROUP BY user_id, event_type
"""

register(events_unpivot_counts, UNPIVOT_SQL)


def topk_orders_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority top-5 orders by price with RANK ties kept — Catalyst
    still plans a WindowGroupLimit partial top-k before the shuffle, so
    no partition ever materializes its full order list."""
    ensure_views(spark, sf_dir)
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"),
    )
    return (
        spark.table("orders")
        .select(
            "o_orderpriority", "o_orderkey", "o_totalprice",
            F.rank().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 5)
    )


TOPK_TIES_SQL = """
SELECT o_orderpriority, o_orderkey, o_totalprice, rnk
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         rank() OVER (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
)
WHERE rnk <= 5
"""

register(topk_orders_with_ties, TOPK_TIES_SQL)


def user_purchase_daily_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: each user's sparse purchase history becomes
    a dense daily series over their active span (calendar via
    ``sequence``/``explode`` — span-bounded, no cross join against a
    global calendar), with gaps forward-filled by the last observed daily
    total (``last(..., ignorenulls=True)`` running window). One shuffle on
    user_id covers the daily aggregate, the span aggregate, and the fill
    window."""
    ensure_views(spark, sf_dir)
    daily = (
        spark.table("events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.round(dsum("value"), 6).alias("day_value"))
    )
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1"),
    )
    cal = spans.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        cal.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.col("day_value").isNotNull().cast("int").alias("observed"),
            F.last("day_value", ignorenulls=True).over(w).alias("value_ffill"),
        )
    )


FFILL_SQL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS day_value
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2
),
spans AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id),
cal AS (
  SELECT user_id, CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM spans
)
SELECT c.user_id, c.day,
       CASE WHEN d.day_value IS NULL THEN 0 ELSE 1 END AS observed,
       LAST_VALUE(d.day_value IGNORE NULLS) OVER (
         PARTITION BY c.user_id ORDER BY c.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
FROM cal c LEFT JOIN daily d ON d.user_id = c.user_id AND d.day = c.day
"""

register(user_purchase_daily_ffill, FFILL_SQL)


_EWMA_K = 7  # trailing terms; halving weights 1, 1/2, ... 1/64


def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the daily value series per
    event type (finite 7-term halving kernel — the bounded-window EWMA
    production monitors use, so the weight of truncated history is < 1%).
    The window runs over the per-(type, day) pre-aggregate — time-dimension
    sized, partitioned by type — while the event-sized work is a single
    groupBy shuffle. Weights are powers of two, so every product is exact
    and both engines add the same doubles in the same textual order."""
    ensure_views(spark, sf_dir)
    daily = (
        spark.table("events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(dsum("value").alias("v"))
    )
    w = W.partitionBy("event_type").orderBy("day")
    num = F.col("v")
    den = F.lit(1.0)
    for k in range(1, _EWMA_K):
        lag_k = F.lag("v", k).over(w)
        wt = 0.5 ** k
        num = num + F.coalesce(lag_k * wt, F.lit(0.0))
        den = den + F.when(lag_k.isNull(), 0.0).otherwise(wt)
    return daily.select(
        "event_type", "day", "v", F.round(num / den, 9).alias("ewma_7d")
    )


def _ewma_sql() -> str:
    num_terms = " + ".join(
        f"COALESCE(lag(v, {k}) OVER w * {0.5 ** k!r}, 0.0)" for k in range(1, _EWMA_K)
    )
    den_terms = " + ".join(
        f"CASE WHEN lag(v, {k}) OVER w IS NULL THEN 0.0 ELSE {0.5 ** k!r} END"
        for k in range(1, _EWMA_K)
    )
    return f"""
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         {sql_dsum('value')} AS v
  FROM events GROUP BY 1, 2
)
SELECT event_type, day, v,
       round((v + {num_terms}) / (1.0 + {den_terms}), 9) AS ewma_7d
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day)
"""


register(events_ewma_daily, _ewma_sql())


def events_user_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-period audience overlap per event type WITHOUT an exact
    distinct-set intersection: KMV sketches of first-half vs second-half
    monthly actives, merged for |A∪B| and resemblance-scaled for |A∩B|
    (`operators/sketches.py kmv_set_ops`). At 100 TB the exact version
    shuffles both periods' full user sets together; the sketch shuffles
    2k rows per type."""
    from onetl_spark.operators.sketches import kmv_set_ops

    ensure_views(spark, sf_dir)
    ev = spark.table("events").select(
        "event_type",
        "user_id",
        F.when(F.dayofmonth("ts") <= 15, F.lit("a")).otherwise(F.lit("b")).alias("half"),
    )
    return kmv_set_ops(
        ev, group_cols=["event_type"], side_col="half", value_col="user_id", k=64,
    )


def _kmv_overlap_sql() -> str:
    from onetl_spark.operators.sketches import sql_kmv_set_ops

    return sql_kmv_set_ops(
        "events",
        ["event_type"],
        "CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15 THEN 'a' ELSE 'b' END",
        "user_id",
        k=64,
    )


register(events_user_overlap_kmv, _kmv_overlap_sql())


def markov_next_event_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov next-event prediction, trained and evaluated in
    one pass: per-user transitions (lag window), a deterministic
    hash-split into train/test, argmax next-type per previous type from
    train counts (ties by type order), accuracy on the held-out
    transitions. The model is |types|²-sized → broadcast to the test
    join; the only event-sized shuffles are the user window and the
    transition groupBy."""
    ensure_views(spark, sf_dir)
    from onetl_spark.llm.text import md5_long

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        spark.table("events")
        .select(
            "user_id", "event_id", "ts",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .withColumn(
            "is_train", F.pmod(md5_long(F.col("event_id").cast("string")), F.lit(2)) == 0
        )
    )
    counts = (
        trans.filter("is_train")
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wp = W.partitionBy("prev_type").orderBy(F.desc("n"), F.asc("next_type"))
    model = (
        counts.withColumn("_rk", F.row_number().over(wp))
        .withColumn("n_train", F.sum("n").over(W.partitionBy("prev_type")))
        .filter(F.col("_rk") == 1)
        .select("prev_type", F.col("next_type").alias("predicted_next"), "n_train")
    )
    return (
        trans.filter(~F.col("is_train"))
        .join(F.broadcast(model), "prev_type")
        .groupBy("prev_type", "predicted_next", "n_train")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum((F.col("next_type") == F.col("predicted_next")).cast("long")).alias("n_correct"),
        )
        .withColumn("accuracy", F.round(F.col("n_correct") / F.col("n_test"), 9))
    )


MARKOV_EVAL_SQL = """
WITH trans AS (
  SELECT user_id, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
), t AS (
  SELECT *,
         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0 AS is_train
  FROM trans WHERE prev_type IS NOT NULL
), counts AS (
  SELECT prev_type, next_type, COUNT(*) AS n
  FROM t WHERE is_train GROUP BY 1, 2
), model AS (
  SELECT prev_type, next_type AS predicted_next,
         CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS n_train
  FROM counts
  QUALIFY ROW_NUMBER() OVER (PARTITION BY prev_type ORDER BY n DESC, next_type ASC) = 1
)
SELECT prev_type, predicted_next, n_train,
       COUNT(*) AS n_test,
       CAST(SUM(CASE WHEN next_type = predicted_next THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       round(SUM(CASE WHEN next_type = predicted_next THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 9) AS accuracy
FROM t JOIN model USING (prev_type)
WHERE NOT is_train
GROUP BY 1, 2, 3
"""

register(markov_next_event_eval, MARKOV_EVAL_SQL)


def lineitem_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew advisor on the lineitem→supplier join key: would a
    shuffle on l_suppkey straggler out? (`operators/quality.py
    key_skew_profile` — exact key-count distribution stats, hot-key
    shares via TakeOrdered, no global window)."""
    from onetl_spark.operators.quality import key_skew_profile

    ensure_views(spark, sf_dir)
    return key_skew_profile(spark.table("lineitem"), "l_suppkey", top_n=5)


LINEITEM_SKEW_SQL = """
WITH counts AS (
  SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY 1
), stats AS (
  SELECT COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows,
         MAX(n) AS max_key_rows,
         round(quantile_cont(n, 0.5), 9) AS median_key_rows,
         round(quantile_cont(n, 0.99), 9) AS p99_key_rows
  FROM counts
), topn AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tn
  FROM (SELECT n FROM counts ORDER BY n DESC, l_suppkey ASC LIMIT 5)
)
SELECT n_keys, n_rows, max_key_rows, median_key_rows, p99_key_rows,
       round(max_key_rows * 1.0 / n_rows, 9) AS top1_share,
       round(tn * 1.0 / n_rows, 9) AS top5_share,
       round(max_key_rows * 1.0 / median_key_rows, 9) AS skew_ratio
FROM stats, topn
"""

register(lineitem_skew_profile, LINEITEM_SKEW_SQL)


def seasonal_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest per event type: predict each day's
    value total with the value 7 days earlier, score MAE/MAPE over the
    days where the lag exists. The forecast and its error are per-day
    window math over the (type, day) pre-aggregate; error sums accumulate
    as exact decimals so both engines agree bit-for-bit."""
    ensure_views(spark, sf_dir)
    daily = (
        spark.table("events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(dsum("value").alias("v"))
    )
    w = W.partitionBy("event_type").orderBy("day")
    scored = daily.withColumn("f", F.lag("v", 7).over(w)).filter(F.col("f").isNotNull())
    abs_err = F.abs(F.col("v") - F.col("f"))
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(
            (F.sum(abs_err.cast("decimal(38,6)")).cast("double") / F.count(F.lit(1))), 9
        ).alias("mae"),
        F.round(
            (
                F.sum((abs_err / F.abs("v")).cast("decimal(38,9)")).cast("double")
                / F.count(F.lit(1))
            ),
            9,
        ).alias("mape"),
    )


SEASONAL_FORECAST_SQL = """
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
), scored AS (
  SELECT event_type, v,
         lag(v, 7) OVER (PARTITION BY event_type ORDER BY day) AS f
  FROM daily
)
SELECT event_type, COUNT(*) AS n_days,
       round(CAST(SUM(CAST(abs(v - f) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 9) AS mae,
       round(CAST(SUM(CAST(abs(v - f) / abs(v) AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*), 9) AS mape
FROM scored WHERE f IS NOT NULL
GROUP BY event_type
"""

register(seasonal_forecast_eval, SEASONAL_FORECAST_SQL)


def ab_value_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t statistic comparing per-event value between the
    first- and second-half-of-month cohorts, per event type — the
    experiment-analysis primitive. Count/sum/sum-of-squares accumulate as
    exact decimals in ONE pass per cohort; the t statistic and the
    Welch–Satterthwaite dof are closed-form doubles from those exacts."""
    ensure_views(spark, sf_dir)
    ev = spark.table("events").select(
        "event_type",
        "value",
        F.when(F.dayofmonth("ts") <= 15, F.lit("a")).otherwise(F.lit("b")).alias("grp"),
    )
    agg = ev.groupBy("event_type", "grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("s"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)")).cast("double").alias("s2"),
    )
    a = agg.filter("grp = 'a'").select(
        "event_type", F.col("n").alias("n_a"), F.col("s").alias("s_a"), F.col("s2").alias("s2_a")
    )
    b = agg.filter("grp = 'b'").select(
        "event_type", F.col("n").alias("n_b"), F.col("s").alias("s_b"), F.col("s2").alias("s2_b")
    )
    j = a.join(b, "event_type")
    m_a, m_b = F.col("s_a") / F.col("n_a"), F.col("s_b") / F.col("n_b")
    v_a = (F.col("s2_a") - (F.col("s_a") * F.col("s_a")) / F.col("n_a")) / (F.col("n_a") - 1)
    v_b = (F.col("s2_b") - (F.col("s_b") * F.col("s_b")) / F.col("n_b")) / (F.col("n_b") - 1)
    se2 = v_a / F.col("n_a") + v_b / F.col("n_b")
    dof = (se2 * se2) / (
        (v_a / F.col("n_a")) * (v_a / F.col("n_a")) / (F.col("n_a") - 1)
        + (v_b / F.col("n_b")) * (v_b / F.col("n_b")) / (F.col("n_b") - 1)
    )
    return j.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(m_a, 9).alias("mean_a"),
        F.round(m_b, 9).alias("mean_b"),
        F.round((m_a - m_b) / F.sqrt(se2), 9).alias("t_stat"),
        F.round(dof, 9).alias("welch_dof"),
    )


AB_TTEST_SQL = """
WITH ev AS (
  SELECT event_type, value,
         CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15 THEN 'a' ELSE 'b' END AS grp
  FROM events
), agg AS (
  SELECT event_type, grp, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s,
         CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2
  FROM ev GROUP BY 1, 2
), j AS (
  SELECT a.event_type,
         a.n AS n_a, a.s AS s_a, a.s2 AS s2_a,
         b.n AS n_b, b.s AS s_b, b.s2 AS s2_b
  FROM (SELECT * FROM agg WHERE grp = 'a') a
  JOIN (SELECT * FROM agg WHERE grp = 'b') b USING (event_type)
), c AS (
  SELECT event_type, n_a, n_b,
         s_a / n_a AS m_a, s_b / n_b AS m_b,
         (s2_a - (s_a * s_a) / n_a) / (n_a - 1) AS v_a,
         (s2_b - (s_b * s_b) / n_b) / (n_b - 1) AS v_b
  FROM j
), d AS (
  SELECT *, v_a / n_a + v_b / n_b AS se2 FROM c
)
SELECT event_type, n_a, n_b,
       round(m_a, 9) AS mean_a, round(m_b, 9) AS mean_b,
       round((m_a - m_b) / sqrt(se2), 9) AS t_stat,
       round((se2 * se2) / ((v_a / n_a) * (v_a / n_a) / (n_a - 1)
                          + (v_b / n_b) * (v_b / n_b) / (n_b - 1)), 9) AS welch_dof
FROM d
"""

register(ab_value_ttest, AB_TTEST_SQL)


def customer_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity over (nation, segment) with the account-balance SIGN as
    the sensitive attribute: classes whose members all share one sign
    leak it regardless of class size (`operators/quality.py l_diversity`)."""
    from onetl_spark.operators.quality import l_diversity

    ensure_views(spark, sf_dir)
    docs = spark.table("customer").select(
        "c_nationkey", "c_mktsegment", F.signum("c_acctbal").alias("bal_sign")
    )
    return l_diversity(docs, ["c_nationkey", "c_mktsegment"], "bal_sign", l=2)


L_DIVERSITY_SQL = """
WITH t AS (
  SELECT c_nationkey, c_mktsegment, sign(c_acctbal) AS bal_sign FROM customer
), sizes AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size
  FROM t GROUP BY 1, 2
), div AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS distinct_sensitive
  FROM (SELECT DISTINCT c_nationkey, c_mktsegment, bal_sign FROM t)
  GROUP BY 1, 2
)
SELECT sizes.c_nationkey, sizes.c_mktsegment, class_size, distinct_sensitive,
       distinct_sensitive < 2 AS at_risk
FROM sizes JOIN div USING (c_nationkey, c_mktsegment)
"""

register(customer_l_diversity, L_DIVERSITY_SQL)


def events_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite decomposition of the daily value series per event type:
    trend = 7-day CENTERED moving average (only where the full window
    exists), seasonal = per-weekday mean of the detrended series,
    residual = value - trend - seasonal. All sums accumulate as exact
    decimals; the time-dimension windows run over the per-(type, day)
    pre-aggregate, so the event-sized work is one groupBy shuffle."""
    ensure_views(spark, sf_dir)
    daily = (
        spark.table("events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(dsum("value").alias("v"))
    )
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    n_win = F.count(F.lit(1)).over(w)
    trend_raw = (
        F.sum(F.col("v").cast("decimal(38,6)")).over(w).cast("double") / n_win
    )
    with_trend = daily.withColumn(
        "trend", F.when(n_win == 7, F.round(trend_raw, 9))
    ).withColumn("detr", F.col("v") - F.col("trend"))
    wd = F.dayofweek("day")
    ws = W.partitionBy("event_type", wd)
    seasonal = F.round(
        F.sum(F.col("detr").cast("decimal(38,9)")).over(ws).cast("double")
        / F.count("detr").over(ws),
        9,
    )
    return (
        with_trend.withColumn("seasonal", F.when(F.col("detr").isNotNull(), seasonal))
        .select(
            "event_type",
            "day",
            "v",
            "trend",
            "seasonal",
            F.round(F.col("v") - F.col("trend") - F.col("seasonal"), 9).alias("residual"),
        )
    )


_TREND = sql_round_hu(
    "CAST(SUM(CAST(v AS DECIMAL(38,6))) OVER w7 AS DOUBLE) / (COUNT(*) OVER w7)"
)
_SEASONAL = sql_round_hu(
    f"CAST(SUM({sql_dec('detr', 9)}) OVER wd AS DOUBLE) / COUNT(detr) OVER wd"
)
SEASONAL_DECOMP_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
), t AS (
  SELECT event_type, day, v,
         CASE WHEN COUNT(*) OVER w7 = 7
              THEN {_TREND}
         END AS trend
  FROM daily
  WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), d AS (
  SELECT *, v - trend AS detr FROM t
), s AS (
  SELECT *,
         CASE WHEN detr IS NOT NULL THEN
           {_SEASONAL}
         END AS seasonal
  FROM d
  WINDOW wd AS (PARTITION BY event_type, date_part('dow', day))
)
SELECT event_type, day, v, trend, seasonal,
       {sql_round_hu('v - trend - seasonal')} AS residual
FROM s
"""

register(events_seasonal_decomposition, SEASONAL_DECOMP_SQL)


def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per event type: the day where the cumulative sum
    of deviations from the series mean peaks in magnitude — the classic
    single-changepoint locator for level shifts. Deviations and their
    running sum accumulate as exact decimals; the argmax is a day-count-
    sized window per type."""
    ensure_views(spark, sf_dir)
    daily = (
        spark.table("events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(dsum("value").alias("v"))
    )
    wm = W.partitionBy("event_type")
    mean_v = F.round(
        F.sum(F.col("v").cast("decimal(38,6)")).over(wm).cast("double")
        / F.count(F.lit(1)).over(wm),
        9,
    )
    staged = daily.withColumn("mean_v", mean_v)
    wc = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cusum = F.round(
        F.sum((F.col("v") - F.col("mean_v")).cast("decimal(38,9)")).over(wc).cast("double"),
        9,
    )
    scored = staged.withColumn("cusum", cusum)
    wr = W.partitionBy("event_type").orderBy(
        F.desc(F.round(F.abs(F.col("cusum")), 9)), F.asc("day")
    )
    return (
        scored.withColumn("_rk", F.row_number().over(wr))
        .filter(F.col("_rk") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            "cusum",
            "mean_v",
        )
    )


CUSUM_SQL = """
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
), m AS (
  SELECT *, round(CAST(SUM(CAST(v AS DECIMAL(38,6))) OVER wt AS DOUBLE)
                  / COUNT(*) OVER wt, 9) AS mean_v
  FROM daily WINDOW wt AS (PARTITION BY event_type)
), c AS (
  SELECT *, round(CAST(SUM(CAST(v - mean_v AS DECIMAL(38,9))) OVER wc AS DOUBLE), 9) AS cusum
  FROM m
  WINDOW wc AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, day AS change_day, cusum, mean_v
FROM c
QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
                           ORDER BY round(abs(cusum), 9) DESC, day ASC) = 1
"""

register(events_cusum_changepoint, CUSUM_SQL)


def events_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event type: the LOWER MEDIAN of all
    pairwise daily slopes (breakdown point 29% — a few anomalous days
    cannot drag the trend the way OLS lets them), plus the matching
    lower-median intercept. The pair join is within-type over the DAILY
    pre-aggregate, so its size is bounded by the calendar span squared
    (~O(10^4) rows per type for a year), never by the event count; the
    median is an explicit rank selection (row_number = (n+1)//2) —
    identical on both engines, no engine-specific quantile interpolation
    — inside per-type window partitions."""
    ensure_views(spark, sf_dir)
    daily = (
        spark.table("events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(dsum("value").alias("v"))
        .withColumn("x", F.unix_date("day"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("a.day") < F.col("b.day"))
        .select(
            "event_type",
            F.round(
                (F.col("b.v") - F.col("a.v")) / (F.col("b.x") - F.col("a.x")), 9
            ).alias("slope"),
        )
    )
    wt = W.partitionBy("event_type")
    ws = W.partitionBy("event_type").orderBy("slope")
    med_slope = (
        pairs.withColumn("_n", F.count(F.lit(1)).over(wt))
        .withColumn("_rn", F.row_number().over(ws))
        .filter(F.col("_rn") == F.floor((F.col("_n") + 1) / 2))
        .select("event_type", F.col("slope").alias("ts_slope"), F.col("_n").alias("n_pairs"))
    )
    resid = daily.join(med_slope, "event_type").select(
        "event_type",
        "ts_slope",
        "n_pairs",
        F.round(F.col("v") - F.col("ts_slope") * F.col("x"), 9).alias("ic"),
    )
    wi = W.partitionBy("event_type").orderBy("ic")
    return (
        resid.withColumn("_n", F.count(F.lit(1)).over(wt))
        .withColumn("_rn", F.row_number().over(wi))
        .filter(F.col("_rn") == F.floor((F.col("_n") + 1) / 2))
        .select(
            "event_type",
            F.col("_n").alias("n_days"),
            "n_pairs",
            "ts_slope",
            F.col("ic").alias("ts_intercept"),
        )
        .orderBy("event_type")
    )


THEILSEN_SQL = """
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
), dx AS (
  SELECT *, day - DATE '1970-01-01' AS x FROM daily
), pairs AS (
  SELECT a.event_type,
         round((b.v - a.v) / (b.x - a.x), 9) AS slope
  FROM dx a JOIN dx b ON a.event_type = b.event_type AND a.day < b.day
), ms AS (
  SELECT event_type, slope AS ts_slope, _n AS n_pairs FROM (
    SELECT event_type, slope,
           COUNT(*) OVER (PARTITION BY event_type) AS _n,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope) AS _rn
    FROM pairs)
  WHERE _rn = (_n + 1) // 2
), resid AS (
  SELECT dx.event_type, ms.ts_slope, ms.n_pairs,
         round(dx.v - ms.ts_slope * dx.x, 9) AS ic
  FROM dx JOIN ms USING (event_type)
)
SELECT event_type, _n AS n_days, n_pairs, ts_slope, ic AS ts_intercept FROM (
  SELECT event_type, ts_slope, n_pairs, ic,
         COUNT(*) OVER (PARTITION BY event_type) AS _n,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ic) AS _rn
  FROM resid)
WHERE _rn = (_n + 1) // 2
ORDER BY event_type
"""

register(events_theilsen_trend, THEILSEN_SQL)


def _micro_units(col):
    """Exact integer micro-units of a 6-decimal double (decimal on the
    engine side; the oracles mirror it with HUGEINT). decimal(30,6)
    rather than (18,6): a daily aggregate past 1e12 would overflow the
    narrow cast — Spark (non-ANSI) yields NULL while DuckDB raises, so
    the engines would diverge instead of failing together. The scale-6
    multiplier is a decimal(7,0) literal so the product is decimal(38,6)
    — exactly at the precision cap, no precision-loss rescaling."""
    return (col.cast("decimal(30,6)") * F.lit(1000000).cast("decimal(7,0)")).cast(
        "decimal(38,0)"
    )


def _pearson_from_moments(m: DataFrame) -> DataFrame:
    """Closed-form Pearson r from the five exact moment sums — the shared
    operator-level expression (`operators/stats.py pearson_from_moments`,
    also used by graph degree assortativity)."""
    from onetl_spark.operators.stats import pearson_from_moments

    return pearson_from_moments(m, n_col="n_days")


def _moment_sums(df: DataFrame, keys: list) -> DataFrame:
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )


def events_type_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between every pair of event types' daily-value
    series — the cross-signal dependence report (do purchases move with
    clicks?). Days present in both series join on the DAILY pre-aggregate
    (calendar-bounded, never event-bounded); series values scale to
    exact integer micro-units so all five moment sums are exact integers
    (decimal on the Spark side, HUGEINT in the oracle) and the closed-form
    correlation — evaluated in a fixed double parenthesization with IEEE
    sqrt — is bit-identical across engines. One pair
    shuffle + one 10-row aggregate."""
    ensure_views(spark, sf_dir)
    daily = (
        spark.table("events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(dsum("value").alias("v"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.join(b, "day")
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            _micro_units(F.col("a.v")).alias("x"),
            _micro_units(F.col("b.v")).alias("y"),
        )
    )
    m = _pearson_from_moments(_moment_sums(pairs, ["type_a", "type_b"]))
    return m.select("type_a", "type_b", "n_days", "pearson_r").orderBy("type_a", "type_b")


TYPE_CORR_SQL = """
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(CAST(a.v AS DECIMAL(30,6)) * 1000000 AS HUGEINT) AS x,
         CAST(CAST(b.v AS DECIMAL(30,6)) * 1000000 AS HUGEINT) AS y
  FROM daily a JOIN daily b ON a.day = b.day AND a.event_type < b.event_type
), m AS (
  SELECT type_a, type_b, COUNT(*) AS n_days,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx,
         CAST(SUM(y * y) AS DOUBLE) AS syy
  FROM pairs GROUP BY type_a, type_b
)
SELECT type_a, type_b, n_days,
       round((CAST(n_days AS DOUBLE) * sxy - sx * sy)
             / NULLIF(sqrt((CAST(n_days AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n_days AS DOUBLE) * syy - sy * sy)), 0), 9) AS pearson_r
FROM m ORDER BY type_a, type_b
"""

register(events_type_correlations, TYPE_CORR_SQL)


def events_lag_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation: does today's click value predict
    purchase value k days later? Pearson r of click(day) vs
    purchase(day+k) for k = 0..7, same exact-integer-moment discipline
    as `events_type_correlations`. The 8-row lag relation is broadcast
    against the calendar-bounded daily series — the whole computation
    never touches raw events after the first pre-aggregate."""
    ensure_views(spark, sf_dir)
    daily = (
        spark.table("events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(dsum("value").alias("v"))
    )
    clicks = daily.filter(F.col("event_type") == "click").select(
        "day", _micro_units(F.col("v")).alias("x")
    )
    purch = daily.filter(F.col("event_type") == "purchase").select(
        F.col("day").alias("pday"), _micro_units(F.col("v")).alias("y")
    )
    lags = spark.range(0, 8).select(F.col("id").cast("int").alias("lag"))
    joined = (
        clicks.join(F.broadcast(lags))
        .join(purch, F.expr("pday = date_add(day, lag)"))
    )
    m = _pearson_from_moments(_moment_sums(joined, ["lag"]))
    return m.select("lag", "n_days", "pearson_r").orderBy("lag")


LAG_CORR_SQL = """
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2
), c AS (
  SELECT day, CAST(CAST(v AS DECIMAL(30,6)) * 1000000 AS HUGEINT) AS x
  FROM daily WHERE event_type = 'click'
), p AS (
  SELECT day AS pday, CAST(CAST(v AS DECIMAL(30,6)) * 1000000 AS HUGEINT) AS y
  FROM daily WHERE event_type = 'purchase'
), j AS (
  SELECT l.lag, c.x, p.y
  FROM c CROSS JOIN range(0, 8) l(lag)
  JOIN p ON p.pday = c.day + CAST(l.lag AS INTEGER)
), m AS (
  SELECT lag, COUNT(*) AS n_days,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx,
         CAST(SUM(y * y) AS DOUBLE) AS syy
  FROM j GROUP BY lag
)
SELECT CAST(lag AS INTEGER) AS lag, n_days,
       round((CAST(n_days AS DOUBLE) * sxy - sx * sy)
             / NULLIF(sqrt((CAST(n_days AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n_days AS DOUBLE) * syy - sy * sy)), 0), 9) AS pearson_r
FROM m ORDER BY lag
"""

register(events_lag_correlation, LAG_CORR_SQL)


def position_attribution_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped multi-touch attribution (`operators/funnel.py
    position_based_attribution`): click/view touches credit their next
    purchase 40/20/40; per-touch-type total credit and touch counts.
    Forward-carry window — no touch×conversion join."""
    from onetl_spark.operators.funnel import position_based_attribution

    ensure_views(spark, sf_dir)
    ev = spark.table("events")
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", "ts", "event_id", "event_type"
    )
    conversions = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    credits = position_based_attribution(touches, conversions)
    typed = credits.join(
        touches.select(F.col("event_id").alias("touch_id"), "event_type"),
        "touch_id",
    )
    return (
        typed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum(F.when(F.col("conv_id").isNotNull(), 1).otherwise(0)).alias("n_attributed"),
            F.sum("credit").cast("double").alias("total_credit"),
        )
        .orderBy("event_type")
    )


POSITION_ATTRIBUTION_SQL = """
WITH conv AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(event_id) AS conv_id
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), touch AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id AS touch_id, event_type
  FROM events WHERE event_type IN ('click', 'view')
), u AS (
  SELECT user_id, ts, touch_id, event_type, 0 AS is_conv, NULL::BIGINT AS conv_id FROM touch
  UNION ALL
  SELECT user_id, ts, NULL, NULL, 1, conv_id FROM conv
), carried AS (
  SELECT *, first_value(conv_id IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, is_conv
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_conv
  FROM u
), paths AS (
  SELECT user_id, touch_id, event_type, next_conv,
         row_number() OVER (PARTITION BY user_id, next_conv ORDER BY ts, touch_id) AS pos,
         COUNT(*) OVER (PARTITION BY user_id, next_conv) AS n
  FROM carried WHERE is_conv = 0
), credited AS (
  SELECT event_type, next_conv,
         CASE WHEN next_conv IS NULL THEN NULL
              WHEN n = 1 THEN CAST(1.0 AS DECIMAL(20,9))
              WHEN n = 2 THEN CAST(0.5 AS DECIMAL(20,9))
              WHEN pos = 1 OR pos = n THEN CAST(0.4 AS DECIMAL(20,9))
              ELSE CAST(round(CAST(0.2 AS DOUBLE) / (n - 2), 9) AS DECIMAL(20,9)) END AS credit
  FROM paths
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(CASE WHEN next_conv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
       CAST(SUM(credit) AS DOUBLE) AS total_credit
FROM credited GROUP BY event_type ORDER BY event_type
"""

register(position_attribution_by_type, POSITION_ATTRIBUTION_SQL)


def event_type_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over (user, day) baskets of event types
    (`operators/stats.py association_lift`): which behaviors co-occur
    beyond chance — support, confidences, and lift per type pair."""
    from onetl_spark.operators.stats import association_lift

    ensure_views(spark, sf_dir)
    ev = spark.table("events").select(
        "user_id", F.col("ts").cast("date").alias("day"), "event_type"
    )
    return association_lift(ev, ["user_id", "day"], "event_type", min_count=5)


EVENT_LIFT_SQL = """
WITH items AS (
  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         event_type AS it
  FROM events
), nb AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (SELECT DISTINCT user_id, day FROM items)
), totals AS (
  SELECT it, CAST(COUNT(*) AS BIGINT) AS cnt FROM items GROUP BY it
), pairs AS (
  SELECT x.it AS item_a, y.it AS item_b, CAST(COUNT(*) AS BIGINT) AS n_both
  FROM items x JOIN items y ON x.user_id = y.user_id AND x.day = y.day
  WHERE x.it < y.it
  GROUP BY 1, 2 HAVING COUNT(*) >= 5
)
SELECT item_a, item_b, n_both, ta.cnt AS n_a, tb.cnt AS n_b,
       round(CAST(n_both AS DOUBLE) / nb.n, 9) AS support,
       round(CAST(n_both AS DOUBLE) / ta.cnt, 9) AS conf_a_to_b,
       round(CAST(n_both AS DOUBLE) / tb.cnt, 9) AS conf_b_to_a,
       round((CAST(n_both AS DOUBLE) * nb.n) / (CAST(ta.cnt AS DOUBLE) * tb.cnt), 9) AS lift
FROM pairs
JOIN totals ta ON ta.it = pairs.item_a
JOIN totals tb ON tb.it = pairs.item_b
CROSS JOIN nb
"""

register(event_type_lift, EVENT_LIFT_SQL)


_CMS_W, _CMS_D = 64, 4


def events_user_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates (`operators/sketches.py
    cms_sketch/cms_estimate`): per sampled user, the sketch estimate vs
    the exact event count and the (always non-negative) overcount — the
    one-sided-error property the sketch guarantees."""
    ensure_views(spark, sf_dir)
    from onetl_spark.operators.sketches import cms_estimate, cms_sketch

    ev = spark.table("events")
    sketch = cms_sketch(ev, "user_id", width=_CMS_W, depth=_CMS_D)
    sample = ev.select("user_id").distinct().filter(F.col("user_id") % 29 == 3)
    est = cms_estimate(sketch, sample, "user_id", width=_CMS_W, depth=_CMS_D)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    return (
        est.join(exact, "user_id")
        .select(
            "user_id",
            "cms_count",
            "exact_count",
            (F.col("cms_count") - F.col("exact_count")).alias("overcount"),
        )
    )


def _cms_hash(i: int, expr: str, width: int) -> str:
    return (
        f"(('0x' || substr(md5('{i}:' || CAST({expr} AS VARCHAR)), 1, 15))::BIGINT"
        f" % {width})"
    )


def _cms_sql(width: int = _CMS_W, depth: int = _CMS_D) -> str:
    cell_rows = " UNION ALL ".join(
        f"SELECT {i} AS row, {_cms_hash(i, 'user_id', width)} AS bucket FROM events"
        for i in range(depth)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT user_id, {i} AS row, {_cms_hash(i, 'user_id', width)} AS bucket FROM sample"
        for i in range(depth)
    )
    return f"""
WITH sketch AS MATERIALIZED (
  SELECT row, bucket, COUNT(*) AS cnt FROM ({cell_rows}) GROUP BY row, bucket
), sample AS MATERIALIZED (
  SELECT DISTINCT user_id FROM events WHERE user_id % 29 = 3
), probes AS (
  {probe_rows}
), est AS (
  SELECT probes.user_id, MIN(COALESCE(sketch.cnt, 0)) AS cms_count
  FROM probes LEFT JOIN sketch USING (row, bucket)
  GROUP BY probes.user_id
), exact AS (
  SELECT user_id, COUNT(*) AS exact_count FROM events GROUP BY user_id
)
SELECT est.user_id, est.cms_count, exact.exact_count,
       est.cms_count - exact.exact_count AS overcount
FROM est JOIN exact USING (user_id)
"""


register(events_user_cms_counts, _cms_sql())


_BLOOM_M, _BLOOM_K = 16384, 5


def customer_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-filter (`operators/sketches.py
    bloom_build/bloom_probe`): sketch the custkeys holding finished
    orders, probe EVERY customer, and report the probe verdict next to
    the exact membership — `might_contain=false → is_present=false` is
    the no-false-negative guarantee that lets a broadcast-sized bit
    relation pre-screen a 100-TB join's probe side (the classic
    semi-join pushdown a Bloom exists for)."""
    ensure_views(spark, sf_dir)
    from onetl_spark.operators.sketches import bloom_build, bloom_probe

    fin = spark.table("orders").filter(F.col("o_orderstatus") == "F")
    sketch = bloom_build(fin, "o_custkey", m_bits=_BLOOM_M, k_hashes=_BLOOM_K)
    cust = spark.table("customer").select(F.col("c_custkey").alias("custkey"))
    probed = bloom_probe(sketch, cust, "custkey", m_bits=_BLOOM_M, k_hashes=_BLOOM_K)
    actual = fin.select(F.col("o_custkey").alias("custkey")).distinct().withColumn(
        "is_present", F.lit(True)
    )
    return probed.join(actual, "custkey", "left").select(
        "custkey",
        "might_contain",
        F.coalesce("is_present", F.lit(False)).alias("is_present"),
    )


def _bloom_hash(i: int, expr: str, m: int) -> str:
    return (
        f"(('0x' || substr(md5('b{i}:' || CAST({expr} AS VARCHAR)), 1, 15))::BIGINT"
        f" % {m})"
    )


def _bloom_sql(m: int = _BLOOM_M, k: int = _BLOOM_K) -> str:
    bit_rows = " UNION ALL ".join(
        f"SELECT {_bloom_hash(i, 'o_custkey', m)} AS bit FROM fin"
        for i in range(k)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT c_custkey AS custkey, {_bloom_hash(i, 'c_custkey', m)} AS bit FROM customer"
        for i in range(k)
    )
    return f"""
WITH fin AS MATERIALIZED (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
), bits AS MATERIALIZED (
  SELECT DISTINCT bit FROM ({bit_rows})
), probes AS (
  {probe_rows}
), hit AS (
  SELECT custkey,
         SUM(CASE WHEN bits.bit IS NOT NULL THEN 1 ELSE 0 END) AS nhit
  FROM probes LEFT JOIN bits USING (bit)
  GROUP BY custkey
), actual AS (
  SELECT DISTINCT o_custkey AS custkey FROM fin
)
SELECT hit.custkey,
       hit.nhit = {k} AS might_contain,
       actual.custkey IS NOT NULL AS is_present
FROM hit LEFT JOIN actual USING (custkey)
"""


register(customer_bloom_prefilter, _bloom_sql())


def events_type_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical OLS daily-value trend per event type (`operators/
    stats.py ols_fit`): slope/intercept/R²/stderr from one moment
    aggregate — the efficiency baseline next to the robust Theil–Sen
    trend (`events_theilsen_trend`), with the inference numbers
    (stderr) Theil–Sen doesn't give. One groupBy per group; 100 TB of
    points reduce to six moments."""
    ensure_views(spark, sf_dir)
    from onetl_spark.operators.stats import ols_from_moments

    daily = (
        spark.table("events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(dsum("value").alias("v"))
    )
    pairs = daily.select(
        "event_type",
        F.unix_date("day").cast("decimal(38,0)").alias("x"),
        _micro_units(F.col("v")).alias("y"),
    )
    fit = ols_from_moments(_moment_sums(pairs, ["event_type"]), n_col="n_days")
    # y was in exact integer micro-units: scale slope/intercept/stderr
    # back as a pinned post-rounding double op (both engines identical)
    return fit.select(
        "event_type",
        F.col("n_days").cast("long").alias("n"),
        F.round(F.col("slope") / F.lit(1000000.0), 9).alias("slope"),
        F.round(F.col("intercept") / F.lit(1000000.0), 9).alias("intercept"),
        "r2",
        F.round(F.col("stderr_slope") / F.lit(1000000.0), 9).alias("stderr_slope"),
    ).orderBy("event_type")


OLS_TREND_SQL = """
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT event_type,
         CAST(day - DATE '1970-01-01' AS HUGEINT) AS x,
         CAST(CAST(v AS DECIMAL(30,6)) * 1000000 AS HUGEINT) AS y
  FROM daily
), m AS (
  SELECT event_type, COUNT(*) AS n_days,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx,
         CAST(SUM(y * y) AS DOUBLE) AS syy
  FROM pairs GROUP BY event_type
), fit AS (
  SELECT event_type, n_days, sx, sy, n,
         (sxy - sx * sy / n) / NULLIF(sxx - sx * sx / n, 0) AS slope,
         sxx - sx * sx / n AS sxx_c,
         sxy - sx * sy / n AS sxy_c,
         syy - sy * sy / n AS syy_c
  FROM (SELECT *, CAST(n_days AS DOUBLE) AS n FROM m)
), ext AS (
  SELECT *,
         (sy - slope * sx) / n AS intercept,
         CASE WHEN syy_c - slope * sxy_c < 0 THEN 0.0
              ELSE syy_c - slope * sxy_c END AS sse
  FROM fit
)
SELECT event_type,
       CAST(n_days AS BIGINT) AS n,
       round(round(slope, 9) / 1000000.0, 9) AS slope,
       round(round(intercept, 9) / 1000000.0, 9) AS intercept,
       round(1.0 - sse / NULLIF(syy_c, 0), 9) AS r2,
       round(round(CASE WHEN n_days > 2 THEN sqrt((sse / (n - 2.0)) / NULLIF(sxx_c, 0)) END, 9) / 1000000.0, 9) AS stderr_slope
FROM ext
ORDER BY event_type
"""

register(events_type_ols_trend, OLS_TREND_SQL)


def doc_lang_source_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between document language and source
    (`operators/stats.py mutual_information`): does a source determine
    language? MI + marginal entropies + normalized MI — the model-free
    dependence check next to Cramér's V for curation-mix audits."""
    ensure_views(spark, sf_dir)
    from onetl_spark.operators.stats import mutual_information

    return mutual_information(spark.table("documents"), "lang", "source")


DOC_MI_SQL = """
WITH pairs AS (
  SELECT CAST(lang AS VARCHAR) AS x, CAST(source AS VARCHAR) AS y
  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
), tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, COUNT(*) AS n_i FROM pairs),
joint AS (SELECT x, y, COUNT(*) AS cxy FROM pairs GROUP BY x, y),
mx AS (SELECT x, COUNT(*) AS cx FROM pairs GROUP BY x),
my AS (SELECT y, COUNT(*) AS cy FROM pairs GROUP BY y),
mi AS (
  SELECT CAST(SUM(CAST(round(
           (CAST(cxy AS DOUBLE) / n)
           * ln((CAST(cxy AS DOUBLE) * n)
                / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))), 9)
         AS DECIMAL(30,9))) AS DOUBLE) AS mi
  FROM joint JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
),
hx AS (
  SELECT CAST(SUM(CAST(round(
           -(CAST(cx AS DOUBLE) / n) * ln(CAST(cx AS DOUBLE) / n), 9)
         AS DECIMAL(30,9))) AS DOUBLE) AS h
  FROM mx CROSS JOIN tot
),
hy AS (
  SELECT CAST(SUM(CAST(round(
           -(CAST(cy AS DOUBLE) / n) * ln(CAST(cy AS DOUBLE) / n), 9)
         AS DECIMAL(30,9))) AS DOUBLE) AS h
  FROM my CROSS JOIN tot
)
SELECT CAST(tot.n_i AS BIGINT) AS n,
       round(mi.mi, 9) AS mi_nats,
       round(hx.h, 9) AS h_x_nats,
       round(hy.h, 9) AS h_y_nats,
       round(mi.mi / NULLIF(sqrt(hx.h * hy.h), 0), 9) AS nmi
FROM mi CROSS JOIN hx CROSS JOIN hy CROSS JOIN tot
"""

register(doc_lang_source_mi, DOC_MI_SQL)


def lineitem_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median of extended price per return flag
    (`operators/quality.py weighted_median`): the robust center when
    observations carry sizes. Explicit rank selection over the
    per-(group, value) collapsed relation — exact decimal half-total
    comparison, no quantile interpolation, no global sort."""
    ensure_views(spark, sf_dir)
    from onetl_spark.operators.quality import weighted_median

    return weighted_median(
        spark.table("lineitem"), "l_extendedprice", "l_quantity",
        ("l_returnflag",),
    ).orderBy("l_returnflag")


WMEDIAN_SQL = """
WITH t AS (
  SELECT l_returnflag AS g,
         CAST(l_extendedprice AS DOUBLE) AS v,
         CAST(l_quantity AS DECIMAL(30,6)) AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL AND l_quantity <> 0
), counts AS (
  SELECT g, v, SUM(w) AS w FROM t GROUP BY g, v
), staged AS (
  SELECT g, v,
         SUM(w) OVER (PARTITION BY g ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(w) OVER (PARTITION BY g) AS tot
  FROM counts
)
SELECT g AS l_returnflag,
       CAST(MIN(tot) AS DOUBLE) AS total_weight,
       MIN(CASE WHEN 2 * cum >= tot THEN v END) AS weighted_median
FROM staged
GROUP BY g
ORDER BY l_returnflag
"""

register(lineitem_weighted_median_price, WMEDIAN_SQL)


def events_daily_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-anomaly report per event type (`operators/quality.py
    mad_outlier_stats`, modified z = 0.6745·(v−median)/MAD): the
    detector a few extreme days cannot recalibrate, next to the
    mean/std `daily_value_anomalies`. Runs on the DAILY pre-aggregate
    so the per-type window partitions stay calendar-bounded."""
    ensure_views(spark, sf_dir)
    from onetl_spark.operators.quality import mad_outlier_stats

    daily = (
        spark.table("events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(dsum("value").alias("v"))
    )
    return mad_outlier_stats(daily, "v", ("event_type",)).orderBy("event_type")


MAD_SQL = """
WITH daily AS (
  SELECT event_type AS g, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
), med AS (
  SELECT g, v AS med FROM (
    SELECT g, v,
           COUNT(*) OVER (PARTITION BY g) AS n,
           ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn
    FROM daily
  ) WHERE rn = (n + 1) // 2
), dev AS (
  SELECT daily.g, daily.v, med.med, abs(daily.v - med.med) AS d
  FROM daily JOIN med USING (g)
), mad AS (
  SELECT g, d AS mad FROM (
    SELECT g, d,
           COUNT(*) OVER (PARTITION BY g) AS n,
           ROW_NUMBER() OVER (PARTITION BY g ORDER BY d) AS rn
    FROM dev
  ) WHERE rn = (n + 1) // 2
), scored AS (
  SELECT dev.g, dev.v, dev.med, mad.mad,
         round(0.6745 * (dev.v - dev.med) / NULLIF(mad.mad, 0), 9) AS z
  FROM dev JOIN mad USING (g)
)
SELECT g AS event_type,
       COUNT(*) AS n,
       MIN(med) AS median,
       MIN(mad) AS mad,
       CAST(SUM(CASE WHEN abs(z) > 3.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       MAX(abs(z)) AS max_abs_z
FROM scored
GROUP BY g
ORDER BY event_type
"""

register(events_daily_mad_outliers, MAD_SQL)


def doc_source_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information value of document source
    predicting English-language content (`operators/quality.py woe_iv`)
    — the scorecard-era feature screen on the curation-mix question
    "how strongly does provenance determine language?"."""
    ensure_views(spark, sf_dir)
    from onetl_spark.operators.quality import woe_iv

    labeled = spark.table("documents").select(
        "source", (F.col("lang") == "en").cast("long").alias("is_en")
    )
    return woe_iv(labeled, "source", "is_en").orderBy("category")


WOE_SQL = """
WITH t AS (
  SELECT CAST(source AS VARCHAR) AS c,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
), per AS (
  SELECT c, COUNT(*) AS n, SUM(y) AS pos, SUM(1 - y) AS neg FROM t GROUP BY c
), tot AS (
  SELECT CAST(SUM(pos) AS DOUBLE) AS tp, CAST(SUM(neg) AS DOUBLE) AS tn FROM per
), scored AS (
  SELECT c, n, pos, neg,
         CASE WHEN pos > 0 AND neg > 0
              THEN round(ln((CAST(pos AS DOUBLE) / tp) / (CAST(neg AS DOUBLE) / tn)), 9)
         END AS woe,
         round((CAST(pos AS DOUBLE) / tp - CAST(neg AS DOUBLE) / tn)
               * CASE WHEN pos > 0 AND neg > 0
                      THEN round(ln((CAST(pos AS DOUBLE) / tp) / (CAST(neg AS DOUBLE) / tn)), 9)
                 END, 9) AS iv_term
  FROM per CROSS JOIN tot
), iv AS (
  SELECT CAST(SUM(CAST(iv_term AS DECIMAL(30,9))) AS DOUBLE) AS iv FROM scored
)
SELECT c AS category, CAST(n AS BIGINT) AS n,
       CAST(pos AS BIGINT) AS n_pos, CAST(neg AS BIGINT) AS n_neg,
       woe, iv_term, round(iv.iv, 9) AS iv_total
FROM scored CROSS JOIN iv
ORDER BY category
"""

register(doc_source_woe_iv, WOE_SQL)


def events_daily_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC resample of event values per type
    (`operators/temporal.py ohlc_downsample`): open/close from the
    lexicographic min/max of (ts, value) — deterministic under tied
    timestamps where arg_min/first are engine-unspecified."""
    ensure_views(spark, sf_dir)
    from onetl_spark.operators.temporal import ohlc_downsample

    out = ohlc_downsample(spark.table("events"), "ts", "value", ("event_type",))
    return out.select(
        "event_type",
        F.col("bucket").cast("date").alias("day"),
        "open", "high", "low", "close", "n_ticks",
    ).orderBy("event_type", "day")


OHLC_SQL = """
WITH t AS (
  SELECT event_type AS g, CAST(ts AS TIMESTAMP) AS ts, CAST(value AS DOUBLE) AS v
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
), b AS (
  SELECT g, CAST(date_trunc('day', ts) AS DATE) AS day, ts, v,
         ROW_NUMBER() OVER (PARTITION BY g, date_trunc('day', ts) ORDER BY ts ASC, v ASC) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY g, date_trunc('day', ts) ORDER BY ts DESC, v DESC) AS rn_d
  FROM t
)
SELECT g AS event_type, day,
       MIN(CASE WHEN rn_a = 1 THEN v END) AS open,
       MAX(v) AS high,
       MIN(v) AS low,
       MIN(CASE WHEN rn_d = 1 THEN v END) AS close,
       COUNT(*) AS n_ticks
FROM b GROUP BY g, day
ORDER BY event_type, day
"""

register(events_daily_ohlc, OHLC_SQL)


def user_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh–Barabási burstiness of each user's event stream
    (`operators/temporal.py interarrival_burstiness`, tiebreak on
    event_id): integer-microsecond gaps, exact decimal moments, pinned
    CV and B — bot-vs-human activity shape at a glance."""
    ensure_views(spark, sf_dir)
    from onetl_spark.operators.temporal import interarrival_burstiness

    return interarrival_burstiness(
        spark.table("events"), "ts", "user_id", tiebreak_col="event_id"
    )


BURSTINESS_SQL = f"""
WITH t AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), g AS (
  SELECT user_id,
         us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap
  FROM t
), gg AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL),
m AS (
  SELECT user_id, COUNT(*) AS n_i,
         CAST(SUM(CAST(gap AS DECIMAL(38,0))) AS DOUBLE) AS s,
         CAST(SUM(CAST(gap AS HUGEINT) * CAST(gap AS HUGEINT)) AS DOUBLE) AS ss,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM gg GROUP BY user_id
), e AS (
  SELECT user_id, n_i, s / n AS mu,
         sqrt(CASE WHEN (n * ss - s * s) / (n * n) < 0 THEN 0.0
                   ELSE (n * ss - s * s) / (n * n) END) AS sigma
  FROM m
)
SELECT user_id,
       CAST(n_i AS BIGINT) AS n_gaps,
       {sql_round_hu('mu / 1000000.0')} AS mean_gap_s,
       {sql_round_hu('sigma / NULLIF(mu, 0)')} AS cv_gap,
       {sql_round_hu('(sigma - mu) / NULLIF(sigma + mu, 0)')} AS burstiness
FROM e
"""

register(user_interarrival_burstiness, BURSTINESS_SQL)


def markov_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + ECE of the Markov next-event model
    (`operators/quality.py calibration_bins` over the
    `markov_next_event_eval` train/test split): each held-out
    transition scores every candidate next-type the train model knows
    for that prefix (one-vs-all), outcome = "was that the realized
    type". The answer to "when the model says 60%, does it happen 60%
    of the time?" — the check that makes a routing threshold
    meaningful. Model is |types|²-sized → broadcast; calibration is a
    bin-sized aggregate."""
    ensure_views(spark, sf_dir)
    from onetl_spark.llm.text import md5_long
    from onetl_spark.operators.quality import calibration_bins

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        spark.table("events")
        .select(
            "user_id", "event_id", "ts",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .withColumn(
            "is_train", F.pmod(md5_long(F.col("event_id").cast("string")), F.lit(2)) == 0
        )
        # one materialized pass: the train (probs) and test (scored)
        # branches both consume this window output; un-checkpointed each
        # replays the corpus lag-window (the before-plan scanned events
        # 16x across the fan-out — see plans/r12)
        .localCheckpoint(eager=False)
    )
    probs = (
        trans.filter("is_train")
        .groupBy("prev_type", F.col("next_type").alias("cand"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            "score",
            F.round(
                F.col("_n").cast("double")
                / F.sum("_n").over(W.partitionBy("prev_type")).cast("double"),
                9,
            ),
        )
        .select("prev_type", "cand", "score")
    )
    scored = (
        trans.filter(~F.col("is_train"))
        .join(F.broadcast(probs), "prev_type")
        .select(
            "score",
            (F.col("next_type") == F.col("cand")).cast("long").alias("hit"),
        )
    )
    return calibration_bins(scored, "score", "hit", bins=10).orderBy("bin")


MARKOV_CAL_SQL = """
WITH trans AS (
  SELECT event_id,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type,
         event_type AS next_type
  FROM events
), tt AS (
  SELECT *,
         (('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0)
           AS is_train
  FROM trans WHERE prev_type IS NOT NULL
), probs AS (
  SELECT prev_type, next_type AS cand,
         round(CAST(COUNT(*) AS DOUBLE)
               / CAST(SUM(COUNT(*)) OVER (PARTITION BY prev_type) AS DOUBLE), 9) AS score
  FROM tt WHERE is_train GROUP BY prev_type, next_type
), scored AS (
  SELECT probs.score AS s,
         CASE WHEN tt.next_type = probs.cand THEN 1 ELSE 0 END AS y
  FROM tt JOIN probs USING (prev_type) WHERE NOT tt.is_train
), per AS (
  SELECT least(CAST(floor(s * 10) AS INTEGER), 9) AS bin,
         COUNT(*) AS n_i,
         CAST(SUM(CAST(round(s, 9) AS DECIMAL(30,9))) AS DOUBLE) AS ssum,
         SUM(y) AS pos
  FROM scored GROUP BY 1
), tot AS (SELECT CAST(SUM(n_i) AS DOUBLE) AS t FROM per),
sc AS (
  SELECT bin, n_i,
         round(ssum / n_i, 9) AS mean_score,
         round(CAST(pos AS DOUBLE) / n_i, 9) AS pos_rate,
         CAST(round((n_i / t) * abs(CAST(pos AS DOUBLE) / n_i - ssum / n_i), 9)
              AS DECIMAL(30,9)) AS e
  FROM per CROSS JOIN tot
), ece AS (SELECT CAST(SUM(e) AS DOUBLE) AS ece FROM sc)
SELECT bin, CAST(n_i AS BIGINT) AS n, mean_score, pos_rate,
       CAST(e AS DOUBLE) AS ece_term, round(ece.ece, 9) AS ece_total
FROM sc CROSS JOIN ece
ORDER BY bin
"""

register(markov_calibration, MARKOV_CAL_SQL)


_HIST_LO, _HIST_HI, _HIST_BINS = 0.0, 500.0, 50
_HIST_QS = [0.1, 0.5, 0.9, 0.99]


def events_value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned-bin histogram quantile sketch (`operators/sketches.py
    histogram_sketch/histogram_merge/histogram_quantiles`): the SCALE
    path to quantiles — one aggregate, mergeable cell-wise, one-bin-
    width error bound — next to the exact global-rank deciles
    (`events_value_deciles`). Built from two DISJOINT event shards and
    MERGED, so the hash match also proves merge exactness; the
    overflow bin catches the >hi tail instead of clamping it away."""
    ensure_views(spark, sf_dir)
    from onetl_spark.operators.sketches import (
        histogram_merge,
        histogram_quantiles,
        histogram_sketch,
    )

    ev = spark.table("events")
    a = histogram_sketch(
        ev.filter(F.col("event_id") % 2 == 0), "value", _HIST_LO, _HIST_HI, _HIST_BINS
    )
    b = histogram_sketch(
        ev.filter(F.col("event_id") % 2 == 1), "value", _HIST_LO, _HIST_HI, _HIST_BINS
    )
    return histogram_quantiles(histogram_merge(a, b), _HIST_QS).orderBy("q")


def _hist_quantile_sql(
    lo: float = _HIST_LO, hi: float = _HIST_HI, bins: int = _HIST_BINS
) -> str:
    width = (hi - lo) / bins
    values = ", ".join(f"({q})" for q in _HIST_QS)
    return f"""
WITH t AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL
), h AS (
  SELECT CASE WHEN v < {lo} THEN -1
              WHEN v >= {hi} THEN {bins}
              ELSE CAST(floor((v - {lo}) / {width}) AS INTEGER) END AS bin,
         COUNT(*) AS cnt
  FROM t GROUP BY 1
), c AS (
  SELECT bin, cnt,
         SUM(cnt) OVER (ORDER BY bin) AS cum,
         SUM(cnt) OVER (ORDER BY bin) - cnt AS bef
  FROM h
), tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n, SUM(cnt) AS n_i FROM h),
q(q) AS (VALUES {values}),
hit AS (
  SELECT q.q, c.bin, c.cnt, c.bef, tot.n, tot.n_i
  FROM c CROSS JOIN tot JOIN q
    ON (CAST(c.cum AS DOUBLE) >= q.q * tot.n AND CAST(c.bef AS DOUBLE) < q.q * tot.n)
       OR (q.q = 0 AND c.bef = 0)
)
SELECT CAST(q AS DOUBLE) AS q, bin,
       round(least(greatest(
         {lo} + (CAST(bin AS DOUBLE)
                 + (q * n - CAST(bef AS DOUBLE)) / CAST(cnt AS DOUBLE)) * {width},
         {lo}), {hi}), 9) AS estimate,
       CAST({width} AS DOUBLE) AS error_bound,
       CAST(n_i AS BIGINT) AS n
FROM hit
ORDER BY q
"""


register(events_value_quantile_sketch, _hist_quantile_sql())


def events_user_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct users (`operators/sketches.py
    hll_registers/hll_merge/hll_estimate`): one sketch PER EVENT TYPE
    merged register-wise, then estimated — the oracle sketches the whole
    corpus directly, so the hash match PROVES merge exactness
    (sketch(A∪B) == merge(sketch(A), sketch(B)) register for register).
    Exact distinct included for the error context.

    NULL semantics (changed r8): the old per-type loop filtered
    ``event_type == t`` and so silently DROPPED NULL-typed rows from the
    merged sketch; ``hll_registers_by`` groups NULL event_type as its own
    group and includes it in the merge — which matches the whole-corpus
    oracle and the exact countDistinct. No NULL types exist in the
    testdata, but on data with them the r7 and r8 outputs differ (r8 is
    the correct one)."""
    ensure_views(spark, sf_dir)
    from onetl_spark.operators.sketches import (
        hll_estimate,
        hll_fill_buckets,
        hll_registers_by,
    )

    ev = spark.table("events")
    # ALL per-type sketches in one aggregation (hll_registers_by) — the
    # r7 version collected the type list and looped hll_registers per
    # type: 21 Spark jobs whose driver round-trips dominated the bench
    # (BENCH_NOTES r8). Register-wise max across types is the same exact
    # merge, now one groupBy((type, bucket)) + one groupBy(bucket).
    per_type = hll_registers_by(ev, "user_id", ["event_type"], b=8)
    merged = hll_fill_buckets(
        per_type.groupBy("bucket").agg(F.max("rho").alias("rho")), b=8
    )
    est = hll_estimate(merged, b=8)
    exact = ev.agg(F.countDistinct("user_id").alias("exact_distinct"))
    return est.crossJoin(F.broadcast(exact))


EVENTS_HLL_SQL = """
WITH h AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events WHERE user_id IS NOT NULL
), obs AS (
  SELECT CAST(h % 256 AS INTEGER) AS bucket,
         CASE WHEN h // 256 = 0 THEN 53
              ELSE 52 - length(bin(h // 256)) + 1 END AS rho
  FROM h
), reg AS (
  SELECT bucket, MAX(rho) AS rho FROM obs GROUP BY bucket
), allb AS (
  SELECT CAST(r.i AS INTEGER) AS bucket FROM range(0, 256) r(i)
), fullr AS (
  SELECT allb.bucket, COALESCE(reg.rho, 0) AS rho
  FROM allb LEFT JOIN reg USING (bucket)
), agg AS (
  SELECT CAST(SUM(CAST(pow(2.0, 53 - rho) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
         CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS z
  FROM fullr
), est AS (
  SELECT CAST(0.718272593250 AS DOUBLE) * CAST(256 AS DOUBLE) * CAST(256 AS DOUBLE)
         * CAST(9007199254740992 AS DOUBLE) / CAST(s AS DOUBLE) AS raw, z
  FROM agg
)
SELECT CAST(256 AS BIGINT) AS m, z AS n_zero,
       round(raw, 9) AS raw_estimate,
       round(CASE WHEN raw < CAST(640 AS DOUBLE) AND z > 0
                  THEN CAST(256 AS DOUBLE) * ln(CAST(256 AS DOUBLE) / z) ELSE raw END, 9) AS estimate,
       (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_distinct
FROM est
"""

register(events_user_hll_distinct, EVENTS_HLL_SQL)


def events_hll_partition_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`hll_merge` as the explicit subject (`operators/sketches.py
    hll_merge`): the corpus is split into four DISJOINT user shards
    (``user_id % 4``), each sketched independently, then merged
    register-wise — and the full 256-row merged REGISTER TABLE is the
    query result. The oracle sketches the whole corpus in one pass, so
    a hash match proves ``merge(sketch(P0..P3)) == sketch(∪Pi)``
    register for register — the exactness property that makes HLL the
    distributed distinct sketch (per-executor partials, exact combine,
    no re-scan)."""
    ensure_views(spark, sf_dir)
    from onetl_spark.operators.sketches import hll_merge, hll_registers

    ev = spark.table("events")
    shards = [
        hll_registers(
            ev.filter(F.pmod(F.col("user_id"), F.lit(4)) == i), "user_id", b=8
        )
        for i in range(4)
    ]
    return hll_merge(*shards).select(
        F.col("bucket").cast("int").alias("bucket"),
        F.col("rho").cast("int").alias("rho"),
    )


HLL_PARTITION_MERGE_SQL = """
WITH h AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events WHERE user_id IS NOT NULL
), obs AS (
  SELECT CAST(h % 256 AS INTEGER) AS bucket,
         CASE WHEN h // 256 = 0 THEN 53
              ELSE 52 - length(bin(h // 256)) + 1 END AS rho
  FROM h
), reg AS (
  SELECT bucket, MAX(rho) AS rho FROM obs GROUP BY bucket
), allb AS (
  SELECT CAST(r.i AS INTEGER) AS bucket FROM range(0, 256) r(i)
)
SELECT allb.bucket, CAST(COALESCE(reg.rho, 0) AS INTEGER) AS rho
FROM allb LEFT JOIN reg USING (bucket)
"""

register(events_hll_partition_merge, HLL_PARTITION_MERGE_SQL)


def user_activity_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Spearman rank correlation between per-user event count and
    per-user total value (`operators/stats.py spearman_correlation`) —
    does activity track spend monotonically? Tie-averaged ranks as exact
    doubled integers through the shared Pearson parenthesization."""
    ensure_views(spark, sf_dir)
    from onetl_spark.operators.stats import spearman_correlation

    per_user = (
        spark.table("events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )
    return spearman_correlation(per_user, "n_events", "total_value")


USER_SPEARMAN_SQL = f"""
WITH per_user AS (
  SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS a, {sql_dsum('value')} AS b
  FROM events GROUP BY user_id
), pairs AS (
  SELECT a, b FROM per_user WHERE a IS NOT NULL AND b IS NOT NULL
), ca AS (
  SELECT a, COUNT(*) AS nv FROM pairs GROUP BY a
), ra AS (
  SELECT a, 2 * (SUM(nv) OVER (ORDER BY a ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - nv) + nv + 1 AS dr
  FROM ca
), cb AS (
  SELECT b, COUNT(*) AS nv FROM pairs GROUP BY b
), rb AS (
  SELECT b, 2 * (SUM(nv) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - nv) + nv + 1 AS dr
  FROM cb
), ranked AS (
  SELECT ra.dr AS x, rb.dr AS y
  FROM pairs JOIN ra USING (a) JOIN rb USING (b)
), m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n,
       round((CAST(n AS DOUBLE) * sxy - sx * sy)
             / NULLIF(sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n AS DOUBLE) * syy - sy * sy)), 0), 9) AS spearman_rho
FROM m
"""

register(user_activity_spearman, USER_SPEARMAN_SQL)


def events_type_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type (TWAP): each event's
    value holds until the type's next event, weighted by the held
    microseconds — the metrics-pipeline average that a plain mean gets
    wrong under irregular sampling. One lead() window per type (single
    shuffle), integer µs weights, decimal-exact weighted sums."""
    ensure_views(spark, sf_dir)
    from pyspark.sql.window import Window as W

    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    held = (
        spark.table("events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "ts", "event_id", "value")
        .withColumn(
            "_held_us",
            F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts"),
        )
        .filter(F.col("_held_us").isNotNull())  # last event holds nothing
    )
    agg = held.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("_held_us").alias("_total_us"),
        # (20,6)x(13,0) -> decimal(34,6): full value range (a (14,6)
        # value cast silently NULLed values past 1e8), and month-scale
        # holds fit 13 digits of microseconds
        F.sum(
            (F.col("value").cast("decimal(20,6)") * F.col("_held_us").cast("decimal(13,0)"))
        ).alias("_vw"),
    )
    return agg.select(
        "event_type",
        "n_intervals",
        F.round(
            F.col("_vw").cast("double") / F.col("_total_us").cast("double"), 9
        ).alias("twap"),
    ).orderBy("event_type")


EVENTS_TWAP_SQL = """
WITH held AS (
  SELECT event_type, value,
         lead(epoch_us(CAST(ts AS TIMESTAMP)))
             OVER (PARTITION BY event_type ORDER BY CAST(ts AS TIMESTAMP), event_id)
           - epoch_us(CAST(ts AS TIMESTAMP)) AS held_us
  FROM events WHERE value IS NOT NULL
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_intervals,
       -- DECIMAL(20,6) forces DuckDB's HUGEINT multiply path (an 18-wide
       -- operand pair overflows its INT64 fast path); both engines'
       -- products are exact, so the widths need not match
       round(CAST(SUM(CAST(value AS DECIMAL(20,6)) * CAST(held_us AS DECIMAL(13,0))) AS DOUBLE)
             / CAST(SUM(held_us) AS DOUBLE), 9) AS twap
FROM held WHERE held_us IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""

register(events_type_twap, EVENTS_TWAP_SQL)


def ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on conversion (did the user purchase?)
    between deterministic hash-split cohorts — the categorical companion
    to `ab_value_ttest`. Per-user conversion flags from one aggregate;
    pooled-proportion z in one pinned double expression; cohorts split
    by md5 parity so any engine reproduces the assignment."""
    ensure_views(spark, sf_dir)
    from onetl_spark.llm.text import md5_long

    users = (
        spark.table("events")
        .groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "purchase").cast("int")).alias("_conv")
        )
        .select(
            F.when(F.pmod(md5_long(F.col("user_id").cast("string")), F.lit(2)) == 0,
                   F.lit("a")).otherwise(F.lit("b")).alias("grp"),
            "_conv",
        )
    )
    agg = users.groupBy("grp").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_conv").alias("_c")
    )
    a = agg.filter("grp = 'a'").select(
        F.col("_n").alias("_na"), F.col("_c").alias("_ca")
    )
    b = agg.filter("grp = 'b'").select(
        F.col("_n").alias("_nb"), F.col("_c").alias("_cb")
    )
    j = a.crossJoin(b)
    na, nb = F.col("_na").cast("double"), F.col("_nb").cast("double")
    ca, cb = F.col("_ca").cast("double"), F.col("_cb").cast("double")
    p1, p2 = ca / na, cb / nb
    pooled = (ca + cb) / (na + nb)
    se = F.sqrt(pooled * (F.lit(1.0) - pooled) * (F.lit(1.0) / na + F.lit(1.0) / nb))
    z = F.when(se == 0, F.lit(None)).otherwise(F.round((p1 - p2) / se, 9))
    return j.select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.col("_ca").cast("long").alias("conv_a"),
        F.col("_cb").cast("long").alias("conv_b"),
        F.round(p1, 9).alias("rate_a"),
        F.round(p2, 9).alias("rate_b"),
        z.alias("z_score"),
    )


AB_ZTEST_SQL = """
WITH users AS (
  SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
              THEN 'a' ELSE 'b' END AS grp,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
), agg AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(conv) AS BIGINT) AS c
  FROM users GROUP BY grp
), j AS (
  SELECT a.n AS na, a.c AS ca, b.n AS nb, b.c AS cb
  FROM (SELECT * FROM agg WHERE grp = 'a') a
  CROSS JOIN (SELECT * FROM agg WHERE grp = 'b') b
)
SELECT na AS n_a, nb AS n_b, ca AS conv_a, cb AS conv_b,
       round(CAST(ca AS DOUBLE) / na, 9) AS rate_a,
       round(CAST(cb AS DOUBLE) / nb, 9) AS rate_b,
       round((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
             / NULLIF(sqrt((CAST(ca AS DOUBLE) + cb) / (CAST(na AS DOUBLE) + nb)
                    * (1.0 - (CAST(ca AS DOUBLE) + cb) / (CAST(na AS DOUBLE) + nb))
                    * (1.0 / na + 1.0 / nb)), 0), 9) AS z_score
FROM j
"""

register(ab_conversion_ztest, AB_ZTEST_SQL)


_ACF_MAX_LAG = 7


def events_daily_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function + Ljung-Box Q of the daily total event
    value (`operators/stats.py acf_ljung_box`): the seasonality/memory
    probe on the calendar-bounded daily series — micro-unit decimal
    sums keep every moment exact until one double division per lag, and
    the DuckDB oracle replays the identical expression tree over a
    HUGEINT series."""
    from onetl_spark.operators.stats import acf_ljung_box

    ensure_views(spark, sf_dir)
    daily = (
        spark.table("events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(dsum("value").alias("v"))
        .select(
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")).alias("t"),
            _micro_units(F.col("v")).alias("x"),
        )
    )
    return acf_ljung_box(daily, "t", "x", max_lag=_ACF_MAX_LAG)


EVENTS_ACF_SQL = f"""
WITH daily AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
  FROM events GROUP BY 1
), s AS (
  SELECT (day - DATE '1970-01-01') AS t,
         CAST(CAST(v AS DECIMAL(30,6)) * 1000000 AS HUGEINT) AS x
  FROM daily
), tot AS (
  SELECT COUNT(*) AS n, CAST(SUM(x) AS DOUBLE) AS s_,
         CAST(SUM(x * x) AS DOUBLE) AS sxx
  FROM s
), j AS (
  SELECT l.lag, a.x AS xa, b.x AS xb
  FROM s a CROSS JOIN range(1, {_ACF_MAX_LAG + 1}) l(lag)
  JOIN s b ON b.t = a.t + l.lag
), m AS (
  SELECT lag, COUNT(*) AS n_pairs,
         CAST(SUM(xa * xb) AS DOUBLE) AS sxy,
         CAST(SUM(xa) AS DOUBLE) AS sh,
         CAST(SUM(xb) AS DOUBLE) AS st
  FROM j GROUP BY lag
), r AS (
  SELECT CAST(lag AS INTEGER) AS lag, n_pairs, n,
         (sxy - (s_ / n) * (sh + st) + n_pairs * (s_ / n) * (s_ / n))
           / NULLIF(sxx - s_ * s_ / n, 0) AS r_raw
  FROM m CROSS JOIN tot
)
SELECT lag, n_pairs, round(r_raw, 9) AS acf,
       round(n * (n + 2.0)
             * SUM(r_raw * r_raw / (n - lag))
               OVER (ORDER BY lag ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW), 9) AS ljung_box_q
FROM r ORDER BY lag
"""

register(events_daily_acf, EVENTS_ACF_SQL)


_SEQ_K, _SEQ_SUPPORT, _SEQ_CAP = 3, 30, 30


def frequent_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent sequential patterns over user event streams
    (`operators/funnel.py frequent_sequences`, GSP/PrefixSpan
    semantics): ordered non-contiguous event-type triples supported by
    >= 30 users, each user's sequence capped at its first 30 events
    (deterministic (ts, event_id) order — the logged recall cap). The
    oracle replays rank, k-1 growth joins, per-user DISTINCT, and the
    support count declaratively."""
    from onetl_spark.operators.funnel import frequent_sequences

    ensure_views(spark, sf_dir)
    return frequent_sequences(
        spark.table("events"),
        "user_id",
        "ts",
        "event_type",
        k=_SEQ_K,
        min_support=_SEQ_SUPPORT,
        max_events_per_entity=_SEQ_CAP,
        tiebreak_col="event_id",
    )


FREQ_SEQ_SQL = f"""
WITH e AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY CAST(ts AS TIMESTAMP), event_id) AS idx
  FROM events
  QUALIFY idx <= {_SEQ_CAP}
), p AS (
  SELECT DISTINCT a.user_id,
         a.event_type || '>' || b.event_type || '>' || c.event_type AS pattern
  FROM e a
  JOIN e b ON b.user_id = a.user_id AND b.idx > a.idx
  JOIN e c ON c.user_id = b.user_id AND c.idx > b.idx
)
SELECT pattern, COUNT(*) AS support
FROM p GROUP BY pattern
HAVING COUNT(*) >= {_SEQ_SUPPORT}
"""

register(frequent_event_sequences, FREQ_SEQ_SQL)


def user_churn_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of user lifetimes (`operators/stats.py
    kaplan_meier`): duration = days between a user's first and last
    event, churn OBSERVED unless the last event is a purchase (those
    users are treated as still-active, i.e. right-censored — the
    distinction naive retention curves ignore). Day-granularity
    durations keep the summary calendar-bounded; the product-limit
    runs as exp(Σ ln(1-d/n)) in ascending-duration order with the
    explicit risk-set-exhausted zero pin, and the oracle replays the
    identical sequential expression."""
    from onetl_spark.operators.stats import kaplan_meier

    ensure_views(spark, sf_dir)
    per_user = (
        spark.table("events")
        .groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("date")).alias("_fd"),
            F.max(F.col("ts").cast("date")).alias("_ld"),
            F.max_by("event_type", F.struct("ts", "event_id")).alias("_lt"),
        )
    )
    subjects = per_user.select(
        F.datediff("_ld", "_fd").alias("dur"),
        (F.col("_lt") != "purchase").cast("int").alias("observed"),
    )
    return kaplan_meier(subjects, "dur", "observed")


KAPLAN_MEIER_SQL = """
WITH last_ev AS (
  SELECT user_id, event_type AS lt
  FROM events
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                             ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                      event_id DESC) = 1
), u AS (
  SELECT e.user_id,
         CAST(MIN(CAST(e.ts AS TIMESTAMP)) AS DATE) AS fd,
         CAST(MAX(CAST(e.ts AS TIMESTAMP)) AS DATE) AS ld,
         ANY_VALUE(l.lt) AS lt
  FROM events e JOIN last_ev l ON l.user_id = e.user_id
  GROUP BY e.user_id
), s AS (
  SELECT CAST(ld - fd AS BIGINT) AS t,
         CASE WHEN lt <> 'purchase' THEN 1 ELSE 0 END AS e
  FROM u
), per_t AS (
  SELECT t, COUNT(*) AS n, CAST(SUM(e) AS BIGINT) AS d FROM s GROUP BY t
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total FROM per_t
), r AS (
  SELECT t, n, d,
         total - COALESCE(SUM(n) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                          PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM per_t CROSS JOIN tot
), ev AS (SELECT * FROM r WHERE d > 0)
SELECT t AS duration, CAST(n_risk AS BIGINT) AS n_risk, d AS n_events,
       CAST(n - d AS BIGINT) AS n_censored,
       CASE WHEN MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END) OVER w = 1
            THEN 0.0
            ELSE round(exp(SUM(CASE WHEN d < n_risk
                                    THEN ln(1 - CAST(d AS DOUBLE)
                                            / CAST(n_risk AS DOUBLE))
                                    ELSE 0.0 END) OVER w), 9) END AS survival
FROM ev
WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY duration
"""

register(user_churn_kaplan_meier, KAPLAN_MEIER_SQL)


_TTC_QUANTILES = (0.5, 0.9)


def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert percentiles per funnel transition: the
    signup->view->purchase funnel (`operators/funnel.py funnel_steps`)
    feeds exact rank-selection quantiles (`operators/quality.py
    grouped_quantiles` — no engine interpolation, so both engines agree
    bit-for-bit) over the integer-microsecond step deltas. "Half the
    converters view within X minutes of signup" is the activation
    metric this powers."""
    from onetl_spark.operators.funnel import funnel_steps
    from onetl_spark.operators.quality import grouped_quantiles

    ensure_views(spark, sf_dir)
    f = funnel_steps(spark.table("events"), ["signup", "view", "purchase"])
    d12 = f.filter(F.col("step_2_ts").isNotNull()).select(
        F.lit("signup>view").alias("transition"),
        (F.unix_micros("step_2_ts") - F.unix_micros("step_1_ts")).alias("delta_us"),
    )
    d23 = f.filter(F.col("step_3_ts").isNotNull()).select(
        F.lit("view>purchase").alias("transition"),
        (F.unix_micros("step_3_ts") - F.unix_micros("step_2_ts")).alias("delta_us"),
    )
    return grouped_quantiles(
        d12.unionAll(d23),
        "delta_us",
        quantiles=_TTC_QUANTILES,
        group_cols=("transition",),
    )


TIME_TO_CONVERT_SQL = """
WITH s1 AS (
  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'view' AND CAST(e.ts AS TIMESTAMP) > s1.t1
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > s2.t2
  GROUP BY e.user_id
), deltas AS (
  SELECT 'signup>view' AS transition,
         CAST(epoch_us(t2) - epoch_us(t1) AS DOUBLE) AS v
  FROM s1 JOIN s2 USING (user_id)
  UNION ALL
  SELECT 'view>purchase',
         CAST(epoch_us(t3) - epoch_us(t2) AS DOUBLE)
  FROM s2 JOIN s3 USING (user_id)
), counts AS (
  SELECT transition, v, CAST(COUNT(*) AS DECIMAL(30,6)) AS w
  FROM deltas GROUP BY transition, v
), staged AS (
  SELECT transition, v,
         SUM(w) OVER (PARTITION BY transition ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(w) OVER (PARTITION BY transition) AS tot
  FROM counts
), q(quantile, num, den) AS (VALUES (CAST(0.5 AS DOUBLE), 1, 2), (CAST(0.9 AS DOUBLE), 9, 10))
SELECT transition, quantile,
       CAST(MIN(tot) AS DOUBLE) AS total_weight,
       MIN(v) AS value
FROM staged CROSS JOIN q
WHERE cum * den >= num * tot
GROUP BY transition, quantile
"""

register(funnel_time_to_convert, TIME_TO_CONVERT_SQL)


def events_value_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic for per-event value across event types —
    "does mean value differ by type at all?", the k-group generalization
    of `ab_value_ttest`. Group count/sum/sum-of-squares accumulate as
    exact decimals in ONE scan (map-side combined); the between/within
    sums of squares come from the k bounded group moments, with each
    group's s^2/n term rounded to 9 dp and re-accumulated as a decimal so
    the cross-group reduction is order-independent (same recipe both
    engines). Scale shape: one groupBy(type) shuffle over events, then
    k-row arithmetic — nothing else touches the fact table."""
    ensure_views(spark, sf_dir)
    g = (
        spark.table("events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("s"),
            F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)"))
            .cast("double")
            .alias("s2"),
        )
    )
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_total"),
        F.sum(F.round(F.col("s"), 6).cast("decimal(38,6)")).cast("double").alias("s_total"),
        F.sum(F.round(F.col("s2"), 6).cast("decimal(38,6)")).cast("double").alias("q_total"),
        F.sum(
            F.round(F.col("s") * F.col("s") / F.col("n"), 9).cast("decimal(38,9)")
        )
        .cast("double")
        .alias("between_raw"),
    )
    ssb = F.col("between_raw") - F.col("s_total") * F.col("s_total") / F.col("n_total")
    ssw = F.col("q_total") - F.col("between_raw")
    f_stat = (ssb / (F.col("k") - 1)) / (ssw / (F.col("n_total") - F.col("k")))
    return tot.select(
        "k",
        "n_total",
        F.round(ssb, 6).alias("ss_between"),
        F.round(ssw, 6).alias("ss_within"),
        F.when(
            (F.col("k") > 1) & (F.col("n_total") > F.col("k")), F.round(f_stat, 6)
        ).alias("f_stat"),
    )


ANOVA_SQL = f"""
WITH g AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s,
         CAST(SUM({sql_dec('value * value')}) AS DOUBLE) AS s2
  FROM events GROUP BY event_type
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_total,
         CAST(SUM(CAST(round(s, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s_total,
         CAST(SUM(CAST(round(s2, 6) AS DECIMAL(38,6))) AS DOUBLE) AS q_total,
         CAST(SUM({sql_dec(sql_round_hu('s * s / n'), 9)}) AS DOUBLE) AS between_raw
  FROM g
)
SELECT k, n_total,
       {sql_round_hu('between_raw - s_total * s_total / n_total', 6)} AS ss_between,
       {sql_round_hu('q_total - between_raw', 6)} AS ss_within,
       CASE WHEN k > 1 AND n_total > k THEN
         {sql_round_hu('((between_raw - s_total * s_total / n_total) / (k - 1)) / ((q_total - between_raw) / (n_total - k))', 6)}
       END AS f_stat
FROM tot
"""

register(events_value_anova, ANOVA_SQL)


def lineitem_qty_line_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between line-item quantity and line number
    (`operators/stats.py kendall_tau_b`): tie-corrected concordance over
    the bounded 50×7 contingency grid — one fact-table aggregate, then an
    O(cells²) epilogue on the grid, never on rows."""
    ensure_views(spark, sf_dir)
    from onetl_spark.operators.stats import kendall_tau_b

    return kendall_tau_b(spark.table("lineitem"), "l_quantity", "l_linenumber")


KENDALL_SQL = """
WITH cells AS (
  SELECT CAST(l_quantity AS DOUBLE) AS x, CAST(l_linenumber AS DOUBLE) AS y,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_linenumber IS NOT NULL
  GROUP BY 1, 2
), cp AS (
  SELECT CAST(COALESCE(SUM(a.c * b.c), 0) AS BIGINT) AS p
  FROM cells a JOIN cells b ON b.x > a.x AND b.y > a.y
), cq AS (
  SELECT CAST(COALESCE(SUM(a.c * b.c), 0) AS BIGINT) AS q
  FROM cells a JOIN cells b ON b.x > a.x AND b.y < a.y
), tx AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1)), 0) AS BIGINT) AS tx2
  FROM (SELECT SUM(c) AS t FROM cells GROUP BY x)
), ty AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1)), 0) AS BIGINT) AS ty2
  FROM (SELECT SUM(c) AS t FROM cells GROUP BY y)
), nt AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n FROM cells)
SELECT n, p AS concordant, q AS discordant,
       CAST(tx2 / 2 AS BIGINT) AS ties_x,
       CAST(ty2 / 2 AS BIGINT) AS ties_y,
       CASE WHEN n * (n - 1) > tx2 AND n * (n - 1) > ty2 THEN
         round(CAST(p - q AS DOUBLE)
               / (sqrt((n * (n - 1) - tx2) / 2) * sqrt((n * (n - 1) - ty2) / 2)), 9)
       END AS tau_b
FROM nt CROSS JOIN cp CROSS JOIN cq CROSS JOIN tx CROSS JOIN ty
"""

register(lineitem_qty_line_kendall, KENDALL_SQL)


_COP_MIN, _COP_K = 3, 3


def part_copurchase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-k co-purchased parts per
    part by cosine similarity over order baskets (co-occurrence count /
    sqrt of the two basket frequencies) — the classic Amazon-style
    recommender primitive (Linden et al., IEEE Internet Computing 2003).

    Scale shape: the pair generator is a per-order self-join — baskets
    are bounded (TPC-H orders have <= 7 line items), so pair fan-out is
    linear in orders, never quadratic in parts; a support floor keeps
    the long tail out before the similarity math; the top-k is a window
    over the AGGREGATED pair relation partitioned by part. Deterministic
    tie-break (cosine desc, partner asc) keeps the oracle hash-stable."""
    ensure_views(spark, sf_dir)
    from pyspark.sql import Window as W

    # three consumers (freq + both pair sides): materialize the distinct
    # basket relation once instead of re-running the scan+distinct shuffle
    li = (
        spark.table("lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    freq = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count(F.lit(1)).alias("nf")
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("i"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("j"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= _COP_MIN)
        # both orientations below re-reference this aggregated pair
        # relation — checkpoint so the wedge join + groupBy run once
        .localCheckpoint(eager=False)
    )
    both = pairs.unionAll(
        pairs.select(F.col("j").alias("i"), F.col("i").alias("j"), "co")
    )
    scored = (
        both.join(freq.select(F.col("part").alias("i"), F.col("nf").alias("ni")), "i")
        .join(freq.select(F.col("part").alias("j"), F.col("nf").alias("nj")), "j")
        .select(
            "i",
            "j",
            "co",
            F.round(
                F.col("co").cast("double") / (F.sqrt("ni") * F.sqrt("nj")), 9
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("i").orderBy(F.col("cosine").desc(), F.col("j").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _COP_K)
        .select(
            F.col("i").alias("part"),
            "rank",
            F.col("j").alias("partner"),
            "co",
            "cosine",
        )
    )


COPURCHASE_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
freq AS (SELECT l_partkey AS part, CAST(COUNT(*) AS BIGINT) AS nf FROM li GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS i, b.l_partkey AS j, CAST(COUNT(*) AS BIGINT) AS co
  FROM li a JOIN li b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_COP_MIN}
), bidir AS (
  SELECT i, j, co FROM pairs
  UNION ALL SELECT j, i, co FROM pairs
), scored AS (
  SELECT b.i, b.j, b.co,
         round(CAST(b.co AS DOUBLE) / (sqrt(fi.nf) * sqrt(fj.nf)), 9) AS cosine
  FROM bidir b
  JOIN freq fi ON fi.part = b.i
  JOIN freq fj ON fj.part = b.j
)
SELECT i AS part,
       CAST(ROW_NUMBER() OVER (PARTITION BY i ORDER BY cosine DESC, j ASC) AS INT) AS rank,
       j AS partner, co, cosine
FROM scored
QUALIFY rank <= {_COP_K}
"""

register(part_copurchase_topk, COPURCHASE_SQL)


def user_churn_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative churn hazard of user lifetimes
    (`operators/stats.py nelson_aalen`), on the same censored-subject
    cohort as the Kaplan-Meier curve (churn observed unless the last
    event is a purchase): the additive hazard view rate comparisons
    consume, with exp(−H) alongside as the Fleming-Harrington survival."""
    from onetl_spark.operators.stats import nelson_aalen

    ensure_views(spark, sf_dir)
    per_user = (
        spark.table("events")
        .groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("date")).alias("_fd"),
            F.max(F.col("ts").cast("date")).alias("_ld"),
            F.max_by("event_type", F.struct("ts", "event_id")).alias("_lt"),
        )
    )
    subjects = per_user.select(
        F.datediff("_ld", "_fd").alias("dur"),
        (F.col("_lt") != "purchase").cast("int").alias("observed"),
    )
    return nelson_aalen(subjects, "dur", "observed")


NELSON_AALEN_SQL = """
WITH last_ev AS (
  SELECT user_id, event_type AS lt
  FROM events
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                             ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                      event_id DESC) = 1
), u AS (
  SELECT e.user_id,
         CAST(MIN(CAST(e.ts AS TIMESTAMP)) AS DATE) AS fd,
         CAST(MAX(CAST(e.ts AS TIMESTAMP)) AS DATE) AS ld,
         ANY_VALUE(l.lt) AS lt
  FROM events e JOIN last_ev l ON l.user_id = e.user_id
  GROUP BY e.user_id
), s AS (
  SELECT CAST(ld - fd AS BIGINT) AS t,
         CASE WHEN lt <> 'purchase' THEN 1 ELSE 0 END AS e
  FROM u
), per_t AS (
  SELECT t, COUNT(*) AS n, CAST(SUM(e) AS BIGINT) AS d FROM s GROUP BY t
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total FROM per_t
), r AS (
  SELECT t, n, d,
         total - COALESCE(SUM(n) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                          PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM per_t CROSS JOIN tot
), ev AS (SELECT * FROM r WHERE d > 0)
SELECT t AS duration, CAST(n_risk AS BIGINT) AS n_risk, d AS n_events,
       round(CAST(SUM(CAST(round(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE), 12)
                           AS DECIMAL(30,12))) OVER w AS DOUBLE), 9) AS cum_hazard,
       round(exp(-CAST(SUM(CAST(round(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE), 12)
                           AS DECIMAL(30,12))) OVER w AS DOUBLE)), 9) AS na_survival
FROM ev
WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY duration
"""

register(user_churn_nelson_aalen, NELSON_AALEN_SQL)


_TE_M = 100


def event_type_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed mean-target encoding of event_type against value — the
    m-estimate encoder (Micci-Barreca, SIGKDD Explorations 2001) feature
    pipelines use for high-cardinality categoricals: enc = (sum_y +
    m·prior) / (n + m), shrinking rare categories toward the global
    prior (m = {_TE_M} virtual prior rows). One map-side-combined
    aggregate per category plus a 1-row broadcast prior; exact decimal
    value sums, with the division pinned as one double expression."""
    ensure_views(spark, sf_dir)
    ev = spark.table("events").filter(F.col("value").isNotNull())
    per_type = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("_s"),
    )
    prior = ev.agg(
        (
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_gm")
    )
    return per_type.crossJoin(F.broadcast(prior)).select(
        "event_type",
        "n",
        F.round(F.col("_s") / F.col("n"), 9).alias("raw_mean"),
        F.round(
            (F.col("_s") + F.lit(float(_TE_M)) * F.col("_gm"))
            / (F.col("n") + F.lit(float(_TE_M))),
            9,
        ).alias("encoded"),
    )


TARGET_ENC_SQL = f"""
WITH ev AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
per_type AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s
  FROM ev GROUP BY event_type
), prior AS (
  SELECT CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS gm
  FROM ev
)
SELECT event_type, n,
       round(s / n, 9) AS raw_mean,
       round((s + {float(_TE_M)} * gm) / (n + {float(_TE_M)}), 9) AS encoded
FROM per_type CROSS JOIN prior
"""

register(event_type_target_encoding, TARGET_ENC_SQL)


def events_hour_circular_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular statistics of event time-of-day per event type: the
    24-hour clock is a CIRCLE, so "mean hour" must be the direction of
    the resultant vector (Fisher, Statistical Analysis of Circular
    Data): mean_hour = atan2(Σsin, Σcos)·24/2π and concentration
    R = |resultant|/n (R→1 = sharply peaked schedule, R→0 = uniform;
    an arithmetic mean of 23:00 and 01:00 would say noon). Second-
    resolution angles; sin/cos sums accumulate decimal-rounded terms so
    the resultant is engine-exact; atan2/modulo pinned as one
    expression."""
    ensure_views(spark, sf_dir)
    two_pi = 2.0 * 3.141592653589793
    frac_day = (
        F.hour("ts") * 3600 + F.minute("ts") * 60 + F.second("ts")
    ).cast("double") / F.lit(86400.0)
    theta = frac_day * F.lit(two_pi)
    g = (
        spark.table("events")
        .select("event_type", theta.alias("_th"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.cos("_th"), 12).cast("decimal(30,12)"))
            .cast("double")
            .alias("_sc"),
            F.sum(F.round(F.sin("_th"), 12).cast("decimal(30,12)"))
            .cast("double")
            .alias("_ss"),
        )
    )
    mean_angle = F.atan2(F.col("_ss"), F.col("_sc"))
    mean_hour = (mean_angle / F.lit(two_pi) * 24.0 + 24.0) % 24.0
    r = F.sqrt(F.col("_sc") * F.col("_sc") + F.col("_ss") * F.col("_ss")) / F.col("n")
    return g.select(
        "event_type",
        "n",
        F.round(mean_hour, 6).alias("mean_hour"),
        F.round(r, 9).alias("concentration"),
    )


CIRCULAR_SQL = """
WITH th AS (
  SELECT event_type,
         CAST(date_part('hour', CAST(ts AS TIMESTAMP)) * 3600
              + date_part('minute', CAST(ts AS TIMESTAMP)) * 60
              + date_part('second', CAST(ts AS TIMESTAMP)) AS DOUBLE)
         / 86400.0 * (2.0 * 3.141592653589793) AS t
  FROM events
), g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(round(cos(t), 12) AS DECIMAL(30,12))) AS DOUBLE) AS sc,
         CAST(SUM(CAST(round(sin(t), 12) AS DECIMAL(30,12))) AS DOUBLE) AS ss
  FROM th GROUP BY event_type
)
SELECT event_type, n,
       round(fmod(atan2(ss, sc) / (2.0 * 3.141592653589793) * 24.0 + 24.0, 24.0), 6) AS mean_hour,
       round(sqrt(sc * sc + ss * ss) / n, 9) AS concentration
FROM g
"""

register(events_hour_circular_stats, CIRCULAR_SQL)


def events_extreme_value_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit of DAILY MAXIMUM event values by the
    method of moments (beta = s·√6/π, mu = m − γ·beta, γ = 0.5772...)
    plus the implied 30-day return level — the principled way to set
    "alert if value exceeds X" thresholds from block maxima instead of
    eyeballing a percentile (Gumbel, Statistics of Extremes, 1958).
    Daily maxima come from one calendar-bounded aggregate; mean/std use
    exact decimal moment sums with the variance in one pinned double
    parenthesization."""
    ensure_views(spark, sf_dir)
    daily_max = (
        spark.table("events")
        .filter(F.col("value").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("_d"))
        .agg(F.max("value").alias("_m"))
    )
    g = daily_max.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.round(F.col("_m"), 9).cast("decimal(38,9)")).cast("double").alias("_s"),
        F.sum(F.round(F.col("_m") * F.col("_m"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("_s2"),
    )
    mean = F.col("_s") / F.col("n_days")
    var = (F.col("_s2") - F.col("_s") * F.col("_s") / F.col("n_days")) / (
        F.col("n_days") - 1
    )
    beta = F.sqrt(var) * F.lit(2.449489742783178) / F.lit(3.141592653589793)
    mu = mean - F.lit(0.5772156649015329) * beta
    # Gumbel quantile for the 1-in-30-block level: mu − beta·ln(ln(30/29))
    ret30 = mu - beta * F.log(F.log(F.lit(30.0) / F.lit(29.0)))
    return g.filter(F.col("n_days") > 1).select(
        "n_days",
        F.round(mean, 9).alias("block_mean"),
        F.round(beta, 9).alias("gumbel_beta"),
        F.round(mu, 9).alias("gumbel_mu"),
        F.round(ret30, 9).alias("return_level_30"),
    )


GUMBEL_SQL = """
WITH dm AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, MAX(value) AS m
  FROM events WHERE value IS NOT NULL GROUP BY 1
), g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(CAST(round(m, 9) AS DECIMAL(38,9))) AS DOUBLE) AS s,
         CAST(SUM(CAST(round(m * m, 9) AS DECIMAL(38,9))) AS DOUBLE) AS s2
  FROM dm
)
SELECT n_days,
       round(s / n_days, 9) AS block_mean,
       round(sqrt((s2 - s * s / n_days) / (n_days - 1))
             * 2.449489742783178 / 3.141592653589793, 9) AS gumbel_beta,
       round(s / n_days - 0.5772156649015329
             * (sqrt((s2 - s * s / n_days) / (n_days - 1))
                * 2.449489742783178 / 3.141592653589793), 9) AS gumbel_mu,
       round((s / n_days - 0.5772156649015329
              * (sqrt((s2 - s * s / n_days) / (n_days - 1))
                 * 2.449489742783178 / 3.141592653589793))
             - (sqrt((s2 - s * s / n_days) / (n_days - 1))
                * 2.449489742783178 / 3.141592653589793)
               * ln(ln(30.0 / 29.0)), 9) AS return_level_30
FROM g WHERE n_days > 1
"""

register(events_extreme_value_fit, GUMBEL_SQL)


def segment_purchase_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Wilson score interval for the purchase rate of each hash-split
    user segment — the binomial CI that stays inside [0,1] and behaves
    at small n / extreme rates where the naive Wald interval collapses
    (Wilson 1927; the interval A/B dashboards should be using). Exact
    integer numerators; the closed form evaluates in one pinned double
    expression per segment."""
    ensure_views(spark, sf_dir)
    from onetl_spark.llm.text import md5_long

    z = 1.959963984540054  # 97.5th normal quantile
    seg = (
        spark.table("events")
        .select(
            F.pmod(md5_long(F.col("user_id").cast("string")), F.lit(4)).alias("segment"),
            (F.col("event_type") == "purchase").cast("long").alias("_y"),
        )
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_y").alias("successes"))
    )
    p = F.col("successes").cast("double") / F.col("n")
    nn = F.col("n").cast("double")
    denom = F.lit(1.0) + F.lit(z * z) / nn
    center = (p + F.lit(z * z) / (F.lit(2.0) * nn)) / denom
    half = (
        F.lit(z)
        * F.sqrt(p * (F.lit(1.0) - p) / nn + F.lit(z * z) / (F.lit(4.0) * nn * nn))
        / denom
    )
    return seg.select(
        "segment",
        "n",
        "successes",
        F.round(p, 9).alias("rate"),
        F.round(center - half, 9).alias("wilson_low"),
        F.round(center + half, 9).alias("wilson_high"),
    ).orderBy("segment")


WILSON_SQL = """
WITH seg AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 4 AS segment,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
), g AS (
  SELECT segment, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS successes
  FROM seg GROUP BY segment
)
SELECT segment, n, successes,
       round(CAST(successes AS DOUBLE) / n, 9) AS rate,
       round(((CAST(successes AS DOUBLE) / n)
              + 1.959963984540054 * 1.959963984540054 / (2.0 * n))
             / (1.0 + 1.959963984540054 * 1.959963984540054 / n)
             - 1.959963984540054
               * sqrt((CAST(successes AS DOUBLE) / n) * (1.0 - CAST(successes AS DOUBLE) / n) / n
                      + 1.959963984540054 * 1.959963984540054 / (4.0 * n * n))
               / (1.0 + 1.959963984540054 * 1.959963984540054 / n), 9) AS wilson_low,
       round(((CAST(successes AS DOUBLE) / n)
              + 1.959963984540054 * 1.959963984540054 / (2.0 * n))
             / (1.0 + 1.959963984540054 * 1.959963984540054 / n)
             + 1.959963984540054
               * sqrt((CAST(successes AS DOUBLE) / n) * (1.0 - CAST(successes AS DOUBLE) / n) / n
                      + 1.959963984540054 * 1.959963984540054 / (4.0 * n * n))
               / (1.0 + 1.959963984540054 * 1.959963984540054 / n), 9) AS wilson_high
FROM g ORDER BY segment
"""

register(segment_purchase_wilson_ci, WILSON_SQL)


def ab_value_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B value metric (Deng et al.,
    "Improving the Sensitivity of Online Controlled Experiments", WSDM
    2013): per-user second-half value adjusted by the PRE-period (first
    half) covariate, θ = cov(X,Y)/var(X) — the standard trick that cuts
    experiment variance by the covariate's R². Cohorts split by md5
    parity (engine-reproducible); per-user totals are exact decimal
    sums; θ uses two-pass CENTERED moments (the uncentered normal
    equations cancel catastrophically — same fix as the Heaps fit);
    the adjusted mean is mean_y − θ·(mean_x_cohort − mean_x_overall)."""
    ensure_views(spark, sf_dir)
    from onetl_spark.llm.text import md5_long

    ev = spark.table("events").filter(F.col("value").isNotNull())
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.dayofmonth("ts") <= 15, F.col("value")).otherwise(F.lit(0.0)).cast("decimal(38,6)")
            )
            .cast("double")
            .alias("_x"),
            F.sum(
                F.when(F.dayofmonth("ts") > 15, F.col("value")).otherwise(F.lit(0.0)).cast("decimal(38,6)")
            )
            .cast("double")
            .alias("_y"),
        )
        .select(
            F.when(
                F.pmod(md5_long(F.col("user_id").cast("string")), F.lit(2)) == 0,
                F.lit("a"),
            )
            .otherwise(F.lit("b"))
            .alias("grp"),
            "_x",
            "_y",
        )
        .localCheckpoint(eager=False)
    )
    means = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.round(F.col("_x"), 6).cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("mx"),
    )
    cen = per_user.crossJoin(F.broadcast(means))
    theta_agg = cen.agg(
        F.max("mx").alias("mx"),
        F.sum(
            F.round((F.col("_x") - F.col("mx")) * (F.col("_x") - F.col("mx")), 6)
            .cast("decimal(38,6)")
        )
        .cast("double")
        .alias("sxx"),
        F.sum(
            F.round((F.col("_x") - F.col("mx")) * (F.col("_y") - F.col("mx")), 6)
            .cast("decimal(38,6)")
        )
        .cast("double")
        .alias("sxy"),
    ).select(
        "mx",
        F.when(F.col("sxx") > 0, F.round(F.col("sxy") / F.col("sxx"), 9))
        .otherwise(F.lit(0.0))
        .alias("theta"),
    )
    cohorts = per_user.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.round(F.col("_x"), 6).cast("decimal(38,6)")).cast("double").alias("_sx"),
        F.sum(F.round(F.col("_y"), 6).cast("decimal(38,6)")).cast("double").alias("_sy"),
    )
    return (
        cohorts.crossJoin(F.broadcast(theta_agg))
        .select(
            "grp",
            "n_users",
            F.round(F.col("_sy") / F.col("n_users"), 9).alias("mean_raw"),
            F.round(
                F.col("_sy") / F.col("n_users")
                - F.col("theta") * (F.col("_sx") / F.col("n_users") - F.col("mx")),
                9,
            ).alias("mean_cuped"),
            "theta",
        )
        .orderBy("grp")
    )


CUPED_SQL = """
WITH ev AS (SELECT user_id, value, CAST(ts AS TIMESTAMP) AS t FROM events WHERE value IS NOT NULL),
per_user AS (
  SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
              THEN 'a' ELSE 'b' END AS grp,
         CAST(SUM(CAST(CASE WHEN date_part('day', t) <= 15 THEN value ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS x,
         CAST(SUM(CAST(CASE WHEN date_part('day', t) > 15 THEN value ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS y
  FROM ev GROUP BY user_id
), means AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         round(CAST(SUM(CAST(round(x, 6) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 9) AS mx
  FROM per_user
), th AS (
  SELECT mx,
         CASE WHEN CAST(SUM(CAST(round((x - mx) * (x - mx), 6) AS DECIMAL(38,6))) AS DOUBLE) > 0
              THEN round(CAST(SUM(CAST(round((x - mx) * (y - mx), 6) AS DECIMAL(38,6))) AS DOUBLE)
                         / CAST(SUM(CAST(round((x - mx) * (x - mx), 6) AS DECIMAL(38,6))) AS DOUBLE), 9)
              ELSE 0.0 END AS theta
  FROM per_user CROSS JOIN means
  GROUP BY mx
), cohorts AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(CAST(round(x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(round(y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy
  FROM per_user GROUP BY grp
)
SELECT grp, n_users,
       round(sy / n_users, 9) AS mean_raw,
       round(sy / n_users - theta * (sx / n_users - mx), 9) AS mean_cuped,
       theta
FROM cohorts CROSS JOIN th
ORDER BY grp
"""

register(ab_value_cuped, CUPED_SQL)


def event_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-state entropy of the first-order event-type Markov chain plus
    its stationary weight: H_i = −Σ_j P_ij·log2(P_ij) with P from the
    empirical transition counts (consecutive events per user), weight =
    row mass / total transitions. Σ weight·H_i is the chain's entropy
    rate — how PREDICTABLE user behavior is (0 bits = deterministic
    next-event; log2(k) = uniform). Transitions from one lag window per
    user; everything downstream is k×k-bounded with exact integer counts
    and decimal-rounded log terms."""
    ensure_views(spark, sf_dir)
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        spark.table("events")
        .select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("_a"),
            F.lead("event_type").over(w).alias("_b"),
        )
        .filter(F.col("_b").isNotNull())
        .groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    row_tot = pairs.groupBy("_a").agg(F.sum("_c").alias("_rt"))
    total = pairs.agg(F.sum("_c").alias("_tot"))
    ent = (
        pairs.join(row_tot, "_a")
        .select(
            "_a",
            "_rt",
            F.round(
                -(F.col("_c").cast("double") / F.col("_rt"))
                * F.log2(F.col("_c").cast("double") / F.col("_rt")),
                12,
            )
            .cast("decimal(30,12)")
            .alias("_h"),
        )
        .groupBy("_a", "_rt")
        .agg(F.round(F.sum("_h").cast("double"), 9).alias("entropy_bits"))
    )
    return (
        ent.crossJoin(F.broadcast(total))
        .select(
            F.col("_a").alias("event_type"),
            F.col("_rt").alias("n_transitions"),
            "entropy_bits",
            F.round(F.col("_rt").cast("double") / F.col("_tot"), 9).alias("weight"),
        )
        .orderBy("event_type")
    )


ENTROPY_RATE_SQL = """
WITH seq AS (
  SELECT user_id, event_type AS a,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS b
  FROM events
), pairs AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c FROM seq WHERE b IS NOT NULL GROUP BY a, b
), rt AS (
  SELECT a, CAST(SUM(c) AS BIGINT) AS rt FROM pairs GROUP BY a
), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM pairs),
ent AS (
  SELECT pairs.a, rt.rt,
         round(CAST(SUM(CAST(round(-(CAST(c AS DOUBLE) / rt)
                                   * log2(CAST(c AS DOUBLE) / rt), 12)
                             AS DECIMAL(30,12))) AS DOUBLE), 9) AS entropy_bits
  FROM pairs JOIN rt ON rt.a = pairs.a
  GROUP BY pairs.a, rt.rt
)
SELECT a AS event_type, rt AS n_transitions, entropy_bits,
       round(CAST(rt AS DOUBLE) / tot.t, 9) AS weight
FROM ent CROSS JOIN tot
ORDER BY event_type
"""

register(event_entropy_rate, ENTROPY_RATE_SQL)


def user_activity_negbinom_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial fit of per-user event counts by the method of
    moments: r = m²/(v−m), p = m/v — the standard overdispersion model
    for activity data (a Poisson fit is wrong the moment var > mean,
    which user event counts always are). Per-user counts from one
    aggregate; cross-user mean/variance from exact integer moment sums
    in one pinned parenthesization; degenerate var <= mean pins the NB
    parameters to NULL (the data is then Poisson-or-under-dispersed)."""
    ensure_views(spark, sf_dir)
    per_user = (
        spark.table("events").groupBy("user_id").agg(F.count(F.lit(1)).alias("_c"))
    )
    g = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("_c").alias("_s"),
        F.sum(F.col("_c") * F.col("_c")).alias("_s2"),
    )
    mean = F.col("_s").cast("double") / F.col("n_users")
    var = (
        F.col("_s2").cast("double") - F.col("_s").cast("double") * F.col("_s") / F.col("n_users")
    ) / (F.col("n_users") - 1)
    over = var > mean
    return g.filter(F.col("n_users") > 1).select(
        "n_users",
        F.round(mean, 9).alias("mean_events"),
        F.round(var, 9).alias("var_events"),
        F.when(over, F.round(mean * mean / (var - mean), 9)).alias("nb_r"),
        F.when(over, F.round(mean / var, 9)).alias("nb_p"),
    )


NEGBINOM_SQL = """
WITH pu AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY user_id
), g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS s2
  FROM pu
)
SELECT n_users,
       round(CAST(s AS DOUBLE) / n_users, 9) AS mean_events,
       round((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n_users) / (n_users - 1), 9) AS var_events,
       CASE WHEN (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n_users) / (n_users - 1)
                 > CAST(s AS DOUBLE) / n_users THEN
         round((CAST(s AS DOUBLE) / n_users) * (CAST(s AS DOUBLE) / n_users)
               / ((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n_users) / (n_users - 1)
                  - CAST(s AS DOUBLE) / n_users), 9) END AS nb_r,
       CASE WHEN (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n_users) / (n_users - 1)
                 > CAST(s AS DOUBLE) / n_users THEN
         round((CAST(s AS DOUBLE) / n_users)
               / ((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n_users) / (n_users - 1)), 9)
       END AS nb_p
FROM g WHERE n_users > 1
"""

register(user_activity_negbinom_fit, NEGBINOM_SQL)


def part_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification of parts by revenue: class A = parts
    while cumulative revenue share <= 80%, B while <= 95%, C the tail —
    the Pareto cut purchasing/curation pipelines run daily. Revenue per
    part is an exact decimal sum converted to integer MICRO-units, so
    the cumulative thresholds are integer-exact (compared in DECIMAL to
    dodge the ×100 overflow at large SF); the global cumulative runs on
    the DISTINCT-revenue-value relation through the bucketed
    `stitched_cumsums` scaffold — parts tied on revenue share a class,
    and no single-partition window touches part-level rows."""
    ensure_views(spark, sf_dir)
    from onetl_spark.operators.ranking import stitched_cumsums

    li = spark.table("lineitem")
    rev = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(38,6)"
                )
            ).alias("_r")
        )
        .select(
            (-F.col("_r").cast("double")).alias("_v"),
            (F.col("_r") * 1000000).cast("long").alias("_w"),
        )
    )
    counts = (
        rev.groupBy("_v")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("_w").alias("_wv"))
        .localCheckpoint(eager=False)
    )
    stitched, totals = stitched_cumsums(counts, "_v", ("_n", "_wv"), 32)
    tot_w = totals["_wv"]
    cum = F.col("_cum__wv").cast("decimal(38,0)")
    tot = F.lit(int(tot_w)).cast("decimal(38,0)")
    cls = (
        F.when(cum * 100 <= tot * 80, F.lit("A"))
        .when(cum * 100 <= tot * 95, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return (
        stitched.select(cls.alias("abc_class"), "_n", "_wv")
        .groupBy("abc_class")
        .agg(
            F.sum("_n").alias("n_parts"),
            F.round(
                F.sum("_wv").cast("double") / F.lit(float(tot_w)), 9
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


ABC_SQL = """
WITH rev AS (
  SELECT l_partkey,
         CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DECIMAL(38,6))
              * 1000000 AS BIGINT) AS w,
         -CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS v
  FROM lineitem GROUP BY l_partkey
), vals AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(w) AS BIGINT) AS wv
  FROM rev GROUP BY v
), tot AS (SELECT CAST(SUM(wv) AS BIGINT) AS t FROM vals),
cum AS (
  SELECT v, n, wv,
         SUM(wv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
  FROM vals
)
SELECT CASE WHEN CAST(cw AS DECIMAL(38,0)) * 100 <= CAST(tot.t AS DECIMAL(38,0)) * 80 THEN 'A'
            WHEN CAST(cw AS DECIMAL(38,0)) * 100 <= CAST(tot.t AS DECIMAL(38,0)) * 95 THEN 'B'
            ELSE 'C' END AS abc_class,
       CAST(SUM(n) AS BIGINT) AS n_parts,
       round(CAST(SUM(wv) AS DOUBLE) / tot.t, 9) AS revenue_share
FROM cum CROSS JOIN tot
GROUP BY 1, tot.t
ORDER BY abc_class
"""

register(part_abc_classification, ABC_SQL)


def churn_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank comparison of user-lifetime survival between md5-parity
    cohorts (`operators/stats.py logrank_test`), on the same censored
    subjects as the Kaplan-Meier curve — the censoring-aware A/B test
    for "does the experiment change churn TIMING?", not just the rate."""
    from onetl_spark.operators.stats import logrank_test
    from onetl_spark.llm.text import md5_long

    ensure_views(spark, sf_dir)
    per_user = (
        spark.table("events")
        .groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("date")).alias("_fd"),
            F.max(F.col("ts").cast("date")).alias("_ld"),
            F.max_by("event_type", F.struct("ts", "event_id")).alias("_lt"),
        )
    )
    subjects = per_user.select(
        F.datediff("_ld", "_fd").alias("dur"),
        (F.col("_lt") != "purchase").cast("int").alias("observed"),
        F.when(
            F.pmod(md5_long(F.col("user_id").cast("string")), F.lit(2)) == 0,
            F.lit("a"),
        )
        .otherwise(F.lit("b"))
        .alias("grp"),
    )
    return logrank_test(subjects, "dur", "observed", "grp")


LOGRANK_SQL = """
WITH last_ev AS (
  SELECT user_id, event_type AS lt
  FROM events
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                             ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                      event_id DESC) = 1
), u AS (
  SELECT e.user_id,
         CAST(MIN(CAST(e.ts AS TIMESTAMP)) AS DATE) AS fd,
         CAST(MAX(CAST(e.ts AS TIMESTAMP)) AS DATE) AS ld,
         ANY_VALUE(l.lt) AS lt
  FROM events e JOIN last_ev l ON l.user_id = e.user_id
  GROUP BY e.user_id
), s AS (
  SELECT CAST(ld - fd AS BIGINT) AS t,
         CASE WHEN lt <> 'purchase' THEN 1 ELSE 0 END AS e,
         CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
              THEN 'a' ELSE 'b' END AS g
  FROM u
), per_t AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(e) AS BIGINT) AS d,
         CAST(SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n1c,
         CAST(SUM(CASE WHEN g = 'a' AND e = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1
  FROM s GROUP BY t
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(SUM(n1c) AS BIGINT) AS total1 FROM per_t
), r AS (
  SELECT t, d, d1,
         total - COALESCE(SUM(n) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nt,
         total1 - COALESCE(SUM(n1c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nt1,
         total, total1
  FROM per_t CROSS JOIN tot
), ev AS (SELECT * FROM r WHERE d > 0),
agg AS (
  SELECT CAST(MAX(total1) AS BIGINT) AS n1,
         CAST(MAX(total) - MAX(total1) AS BIGINT) AS n2,
         CAST(SUM(d1) AS BIGINT) AS observed_1,
         round(CAST(SUM(CAST(round(CAST(d AS DOUBLE) * (CAST(nt1 AS DOUBLE) / nt), 12)
                             AS DECIMAL(30,12))) AS DOUBLE), 9) AS expected_1,
         round(CAST(SUM(CAST(CASE WHEN nt > 1 THEN
                       round(CAST(d AS DOUBLE) * (CAST(nt1 AS DOUBLE) / nt)
                             * (1 - CAST(nt1 AS DOUBLE) / nt)
                             * CAST(nt - d AS DOUBLE) / CAST(nt - 1 AS DOUBLE), 12)
                       ELSE 0.0 END AS DECIMAL(30,12))) AS DOUBLE), 9) AS variance
  FROM ev
)
SELECT n1, n2, observed_1, expected_1, variance,
       CASE WHEN variance > 0 THEN
         round((CAST(observed_1 AS DOUBLE) - expected_1)
               * (CAST(observed_1 AS DOUBLE) - expected_1) / variance, 9) END AS chi2
FROM agg
"""

register(churn_logrank_test, LOGRANK_SQL)


_PI_BASE, _PI_CUR = 1995, 1996


def part_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres, Paasche and Fisher price indices for parts between two
    shipment years ({_PI_BASE} base → {_PI_CUR}) — the standard index-
    number trio (base-weighted, current-weighted, and their geometric
    mean) an assortment/pricing pipeline reports. Per-(part, period)
    unit prices and quantities come from one aggregate (exact decimal
    sums, price = Σvalue/Σqty rounded 9); indices sum decimal-rounded
    p·q terms over the COMMON part set only (a part absent in either
    period has no defined relative)."""
    ensure_views(spark, sf_dir)
    li = spark.table("lineitem").filter(
        F.year("l_shipdate").isin(_PI_BASE, _PI_CUR)
    )
    pp = (
        li.groupBy("l_partkey", F.year("l_shipdate").alias("_y"))
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).alias("_ep"),
            F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("_q"),
        )
        .select(
            "l_partkey",
            "_y",
            F.round(F.col("_ep").cast("double") / F.col("_q").cast("double"), 9).alias("_p"),
            F.col("_q").cast("double").alias("_qd"),
        )
    )
    base = pp.filter(F.col("_y") == _PI_BASE).select(
        "l_partkey", F.col("_p").alias("p0"), F.col("_qd").alias("q0")
    )
    cur = pp.filter(F.col("_y") == _PI_CUR).select(
        "l_partkey", F.col("_p").alias("p1"), F.col("_qd").alias("q1")
    )
    j = base.join(cur, "l_partkey")
    agg = j.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(F.round(F.col("p1") * F.col("q0"), 6).cast("decimal(38,6)")).cast("double").alias("_l_num"),
        F.sum(F.round(F.col("p0") * F.col("q0"), 6).cast("decimal(38,6)")).cast("double").alias("_l_den"),
        F.sum(F.round(F.col("p1") * F.col("q1"), 6).cast("decimal(38,6)")).cast("double").alias("_p_num"),
        F.sum(F.round(F.col("p0") * F.col("q1"), 6).cast("decimal(38,6)")).cast("double").alias("_p_den"),
    )
    lasp = F.col("_l_num") / F.col("_l_den")
    paas = F.col("_p_num") / F.col("_p_den")
    return agg.filter(F.col("n_parts") > 0).select(
        "n_parts",
        F.round(lasp, 9).alias("laspeyres"),
        F.round(paas, 9).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 9).alias("fisher"),
    )


PRICE_INDEX_SQL = f"""
WITH li AS (
  SELECT l_partkey, year(l_shipdate) AS y, l_extendedprice, l_quantity
  FROM lineitem WHERE year(l_shipdate) IN ({_PI_BASE}, {_PI_CUR})
), pp AS (
  SELECT l_partkey, y,
         round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
               / CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE), 9) AS p,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS q
  FROM li GROUP BY 1, 2
), j AS (
  SELECT b.l_partkey, b.p AS p0, b.q AS q0, c.p AS p1, c.q AS q1
  FROM pp b JOIN pp c ON b.l_partkey = c.l_partkey AND b.y = {_PI_BASE} AND c.y = {_PI_CUR}
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
         CAST(SUM(CAST(round(p1 * q0, 6) AS DECIMAL(38,6))) AS DOUBLE) AS l_num,
         CAST(SUM(CAST(round(p0 * q0, 6) AS DECIMAL(38,6))) AS DOUBLE) AS l_den,
         CAST(SUM(CAST(round(p1 * q1, 6) AS DECIMAL(38,6))) AS DOUBLE) AS p_num,
         CAST(SUM(CAST(round(p0 * q1, 6) AS DECIMAL(38,6))) AS DOUBLE) AS p_den
  FROM j
)
SELECT n_parts,
       round(l_num / l_den, 9) AS laspeyres,
       round(p_num / p_den, 9) AS paasche,
       round(sqrt((l_num / l_den) * (p_num / p_den)), 9) AS fisher
FROM agg WHERE n_parts > 0
"""

register(part_price_index, PRICE_INDEX_SQL)


def ab_stratified_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct standardization of the A/B value difference over event-type
    strata: adjusted mean = Σ_s w_s·mean_{g,s} with w_s the POOLED
    stratum weight — removes composition bias when cohorts land
    different event-type mixes (the epidemiology-standard adjustment;
    the categorical cousin of CUPED). Cohorts by md5 parity; per-(grp,
    stratum) decimal moment sums; stratum-weighted recombination sums
    decimal-rounded bounded terms."""
    ensure_views(spark, sf_dir)
    from onetl_spark.llm.text import md5_long

    ev = spark.table("events").filter(F.col("value").isNotNull()).select(
        F.when(
            F.pmod(md5_long(F.col("user_id").cast("string")), F.lit(2)) == 0,
            F.lit("a"),
        )
        .otherwise(F.lit("b"))
        .alias("grp"),
        F.col("event_type").alias("stratum"),
        "value",
    )
    cell = ev.groupBy("grp", "stratum").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("_s"),
    )
    w = ev.groupBy("stratum").agg(F.count(F.lit(1)).alias("_ns"))
    tot = ev.agg(F.count(F.lit(1)).alias("_nt"))
    adj = (
        cell.join(w, "stratum")
        .crossJoin(F.broadcast(tot))
        .select(
            "grp",
            "_n",
            F.round(
                (F.col("_ns").cast("double") / F.col("_nt"))
                * (F.col("_s") / F.col("_n")),
                9,
            )
            .cast("decimal(30,9)")
            .alias("_w_term"),
            F.round(F.col("_s"), 6).cast("decimal(38,6)").alias("_s_dec"),
        )
        .groupBy("grp")
        .agg(
            F.sum("_n").alias("n"),
            F.round(F.sum("_s_dec").cast("double") / F.sum("_n"), 9).alias("raw_mean"),
            F.round(F.sum("_w_term").cast("double"), 9).alias("adjusted_mean"),
        )
    )
    return adj.orderBy("grp")


STRAT_ADJ_SQL = """
WITH ev AS (
  SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
              THEN 'a' ELSE 'b' END AS grp,
         event_type AS stratum, value
  FROM events WHERE value IS NOT NULL
), cell AS (
  SELECT grp, stratum, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s
  FROM ev GROUP BY 1, 2
), w AS (
  SELECT stratum, CAST(COUNT(*) AS BIGINT) AS ns FROM ev GROUP BY stratum
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM ev)
SELECT grp, CAST(SUM(n) AS BIGINT) AS n,
       round(CAST(SUM(CAST(round(s, 6) AS DECIMAL(38,6))) AS DOUBLE) / SUM(n), 9) AS raw_mean,
       round(CAST(SUM(CAST(round((CAST(ns AS DOUBLE) / nt) * (s / n), 9)
                           AS DECIMAL(30,9))) AS DOUBLE), 9) AS adjusted_mean
FROM cell JOIN w USING (stratum) CROSS JOIN tot
GROUP BY grp
ORDER BY grp
"""

register(ab_stratified_adjustment, STRAT_ADJ_SQL)


def events_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation of daily click vs purchase counts
    CONTROLLING for daily view counts: r_xy·z = (r_xy − r_xz·r_yz) /
    √((1−r_xz²)(1−r_yz²)) — "does the click↔purchase co-movement
    survive once overall traffic is held fixed?", the basic
    confound-screen a metrics team runs before declaring two series
    causally linked. Daily count triples from one pivot aggregate
    (calendar-bounded); the three pairwise Pearsons come from exact
    integer moment sums in pinned parenthesizations; degenerate
    (constant-series or |r|=1 control) pins NULL."""
    ensure_views(spark, sf_dir)
    daily = (
        spark.table("events")
        .groupBy(F.col("ts").cast("date").alias("_d"))
        .agg(
            F.sum((F.col("event_type") == "click").cast("long")).alias("_x"),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias("_y"),
            F.sum((F.col("event_type") == "view").cast("long")).alias("_z"),
        )
    )
    m = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_x").alias("sx"),
        F.sum("_y").alias("sy"),
        F.sum("_z").alias("sz"),
        F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("syy"),
        F.sum(F.col("_z") * F.col("_z")).alias("szz"),
        F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
        F.sum(F.col("_x") * F.col("_z")).alias("sxz"),
        F.sum(F.col("_y") * F.col("_z")).alias("syz"),
    )

    def _r(sab, sa, sb, saa, sbb):
        n = F.col("n").cast("double")
        num = n * F.col(sab) - F.col(sa) * F.col(sb)
        den = F.sqrt(
            (n * F.col(saa) - F.col(sa) * F.col(sa))
            * (n * F.col(sbb) - F.col(sb) * F.col(sb))
        )
        return num / F.when(den == 0, F.lit(None)).otherwise(den)

    rxy = _r("sxy", "sx", "sy", "sxx", "syy")
    rxz = _r("sxz", "sx", "sz", "sxx", "szz")
    ryz = _r("syz", "sy", "sz", "syy", "szz")
    den2 = F.sqrt((1 - rxz * rxz) * (1 - ryz * ryz))
    partial = (rxy - rxz * ryz) / F.when(den2 == 0, F.lit(None)).otherwise(den2)
    return m.select(
        F.col("n").alias("n_days"),
        F.round(rxy, 9).alias("r_click_purchase"),
        F.round(rxz, 9).alias("r_click_view"),
        F.round(ryz, 9).alias("r_purchase_view"),
        F.round(partial, 9).alias("partial_r"),
    )


PARTIAL_CORR_SQL = """
WITH daily AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS z
  FROM events GROUP BY 1
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(z) AS BIGINT) AS sz,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(z * z) AS BIGINT) AS szz,
         CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * z) AS BIGINT) AS sxz,
         CAST(SUM(y * z) AS BIGINT) AS syz
  FROM daily
), r AS (
  SELECT n,
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / NULLIF(sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                         * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 0) AS rxy,
         (CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)
           / NULLIF(sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                         * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz)), 0) AS rxz,
         (CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)
           / NULLIF(sqrt((CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                         * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz)), 0) AS ryz
  FROM m
)
SELECT n AS n_days,
       round(rxy, 9) AS r_click_purchase,
       round(rxz, 9) AS r_click_view,
       round(ryz, 9) AS r_purchase_view,
       round((rxy - rxz * ryz) / NULLIF(sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 0), 9) AS partial_r
FROM r
"""

register(events_partial_correlation, PARTIAL_CORR_SQL)


_EB_MIN_N, _EB_TOP = 3, 10


def part_return_rate_shrunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-part return rates: fit a Beta
    prior to the observed rate distribution by method of moments
    (α = m(m(1−m)/v − 1), β likewise), then rank parts by the shrunk
    posterior mean (k+α)/(n+α+β) — the standard fix for "a part with 1
    return out of 2 lines is NOT your worst part" small-n ranking
    pathology (Robbins 1956; the baseball-batting-average textbook
    case). One per-part aggregate; prior moments from decimal-rounded
    rate sums; deterministic top-{_EB_TOP} (shrunk desc, part asc)."""
    ensure_views(spark, sf_dir)
    per_part = (
        spark.table("lineitem")
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("l_returnflag") == "R").cast("long")).alias("k"),
        )
        .filter(F.col("n") >= _EB_MIN_N)
        .localCheckpoint(eager=False)
    )
    rate = F.col("k").cast("double") / F.col("n")
    mom = per_part.agg(
        F.count(F.lit(1)).alias("_m"),
        F.sum(F.round(rate, 9).cast("decimal(30,9)")).cast("double").alias("_sr"),
        F.sum(F.round(rate * rate, 9).cast("decimal(30,9)")).cast("double").alias("_sr2"),
    )
    m = F.col("_sr") / F.col("_m")
    v = (F.col("_sr2") - F.col("_sr") * F.col("_sr") / F.col("_m")) / (F.col("_m") - 1)
    scale = m * (1 - m) / v - 1
    prior = mom.select(
        F.when((v > 0) & (v < m * (1 - m)), F.round(m * scale, 9)).alias("alpha"),
        F.when((v > 0) & (v < m * (1 - m)), F.round((1 - m) * scale, 9)).alias("beta"),
    )
    return (
        per_part.crossJoin(F.broadcast(prior))
        .select(
            F.col("l_partkey").alias("part"),
            "n",
            "k",
            F.round(rate, 9).alias("raw_rate"),
            F.round(
                (F.col("k") + F.col("alpha"))
                / (F.col("n") + F.col("alpha") + F.col("beta")),
                9,
            ).alias("shrunk_rate"),
            "alpha",
            "beta",
        )
        .orderBy(F.col("shrunk_rate").desc(), F.col("part").asc())
        .limit(_EB_TOP)
    )


EB_SHRINK_SQL = f"""
WITH pp AS (
  SELECT l_partkey AS part, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS k
  FROM lineitem GROUP BY 1
  HAVING COUNT(*) >= {_EB_MIN_N}
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(CAST(round(CAST(k AS DOUBLE) / n, 9) AS DECIMAL(30,9))) AS DOUBLE) AS sr,
         CAST(SUM(CAST(round((CAST(k AS DOUBLE) / n) * (CAST(k AS DOUBLE) / n), 9)
                       AS DECIMAL(30,9))) AS DOUBLE) AS sr2
  FROM pp
), prior AS (
  SELECT CASE WHEN (sr2 - sr * sr / m) / (m - 1) > 0
                   AND (sr2 - sr * sr / m) / (m - 1) < (sr / m) * (1 - sr / m) THEN
           round((sr / m) * ((sr / m) * (1 - sr / m) / ((sr2 - sr * sr / m) / (m - 1)) - 1), 9)
         END AS alpha,
         CASE WHEN (sr2 - sr * sr / m) / (m - 1) > 0
                   AND (sr2 - sr * sr / m) / (m - 1) < (sr / m) * (1 - sr / m) THEN
           round((1 - sr / m) * ((sr / m) * (1 - sr / m) / ((sr2 - sr * sr / m) / (m - 1)) - 1), 9)
         END AS beta
  FROM mom
)
SELECT part, n, k,
       round(CAST(k AS DOUBLE) / n, 9) AS raw_rate,
       round((k + alpha) / (n + alpha + beta), 9) AS shrunk_rate,
       alpha, beta
FROM pp CROSS JOIN prior
ORDER BY shrunk_rate DESC, part ASC
LIMIT {_EB_TOP}
"""

register(part_return_rate_shrunk, EB_SHRINK_SQL)


_SESS_MAX_BUCKET, _SESS_MAX_DIST = 200, 3


def session_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical behavior sequences: users whose full event-type
    session strings (one initial per event, time-ordered) sit within
    Levenshtein distance {_SESS_MAX_DIST} — bot/duplicate-account
    screening by BEHAVIOR rather than identity fields (the sequence
    cousin of `supplier_fuzzy_linkage`). Blocking: candidates pair only
    within equal string LENGTH (an edit-distance-aware recall cap —
    cross-length near-misses are forgone, the standard blocking trade),
    hot blocks over {_SESS_MAX_BUCKET} users are dropped (logged-cap
    posture), and the JVM `levenshtein` runs only inside blocks.
    Output: pair counts per distance — bounded, deterministic."""
    ensure_views(spark, sf_dir)
    sig = (
        spark.table("events")
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "ts",
                                "event_id",
                                F.substring("event_type", 1, 1).alias("ch"),
                            )
                        )
                    ),
                    lambda s: s["ch"],
                ),
                "",
            ).alias("sig")
        )
        .select("user_id", "sig", F.length("sig").alias("_len"))
    )
    from pyspark.sql import Window as W

    blocked = (
        sig.withColumn("_bn", F.count(F.lit(1)).over(W.partitionBy("_len")))
        .filter(F.col("_bn") <= _SESS_MAX_BUCKET)
        .drop("_bn")
    )
    a = blocked.select(
        F.col("user_id").alias("u1"), F.col("sig").alias("s1"), "_len"
    )
    b = blocked.select(
        F.col("user_id").alias("u2"), F.col("sig").alias("s2"), "_len"
    )
    pairs = (
        a.join(b, "_len")
        .filter(F.col("u1") < F.col("u2"))
        .select(F.levenshtein("s1", "s2").alias("distance"))
        .filter(F.col("distance") <= _SESS_MAX_DIST)
    )
    return (
        pairs.groupBy("distance")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("distance")
    )


SESSION_SIM_SQL = f"""
WITH sig AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY CAST(ts AS TIMESTAMP), event_id) AS s
  FROM events GROUP BY user_id
), sized AS (
  SELECT user_id, s, length(s) AS len FROM sig
  QUALIFY COUNT(*) OVER (PARTITION BY length(s)) <= {_SESS_MAX_BUCKET}
), pairs AS (
  SELECT levenshtein(a.s, b.s) AS distance
  FROM sized a JOIN sized b ON a.len = b.len AND a.user_id < b.user_id
)
SELECT CAST(distance AS INTEGER) AS distance, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs WHERE distance <= {_SESS_MAX_DIST}
GROUP BY 1 ORDER BY distance
"""

register(session_similarity_pairs, SESSION_SIM_SQL)


_SKU_TOP = 15


def order_basket_lift_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules at the BRAND level with confidence and
    conviction: for brand pairs co-occurring in orders, conf(A→B) =
    P(B|A), conviction = (1−P(B))/(1−conf) — the rule-quality trio
    (support/confidence/conviction, Brin et al. SIGMOD'97) that the
    basket-lift showcase (`event_type_lift`) does not cover. Brands are
    a bounded dimension (25 in TPC-H), so the pair relation is
    dimension-bounded after one basket aggregate; per-order brand sets
    dedupe before pairing (a basket with 3 items of one brand counts
    once). Top-{_SKU_TOP} rules by conviction (ties → rule asc)."""
    ensure_views(spark, sf_dir)
    ob = (
        spark.table("lineitem")
        .join(
            spark.table("part").select("p_partkey", "p_brand"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .distinct()
        # four consumers (order count, singletons, both pair sides) — one
        # materialized pass instead of four lineitem⋈part join replays
        .localCheckpoint(eager=False)
    )
    n_orders = ob.select("ok").distinct().count()
    single = ob.groupBy("b").agg(F.count(F.lit(1)).alias("nb"))
    a = ob.select("ok", F.col("b").alias("ba"))
    bb = ob.select("ok", F.col("b").alias("bb"))
    pair = (
        a.join(bb, "ok")
        .filter(F.col("ba") != F.col("bb"))
        .groupBy("ba", "bb")
        .agg(F.count(F.lit(1)).alias("nab"))
    )
    j = (
        pair.join(single.select(F.col("b").alias("ba"), F.col("nb").alias("na")), "ba")
        .join(single.select(F.col("b").alias("bb"), F.col("nb").alias("nb_")), "bb")
    )
    conf = F.col("nab").cast("double") / F.col("na")
    pb = F.col("nb_").cast("double") / F.lit(float(n_orders))
    conviction = F.when(conf < 1, (1 - pb) / (1 - conf))
    return (
        j.select(
            F.col("ba").alias("antecedent"),
            F.col("bb").alias("consequent"),
            F.col("nab").alias("n_both"),
            F.round(conf, 9).alias("confidence"),
            F.round(conviction, 9).alias("conviction"),
        )
        .filter(F.col("conviction").isNotNull())
        .orderBy(
            F.col("conviction").desc(),
            F.col("antecedent").asc(),
            F.col("consequent").asc(),
        )
        .limit(_SKU_TOP)
    )


BASKET_RULES_SQL = f"""
WITH ob AS (
  SELECT DISTINCT l_orderkey AS ok, p_brand AS b
  FROM lineitem JOIN part ON p_partkey = l_partkey
), no AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM ob),
single AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nb FROM ob GROUP BY b),
pair AS (
  SELECT a.b AS ba, c.b AS bb, CAST(COUNT(*) AS BIGINT) AS nab
  FROM ob a JOIN ob c ON a.ok = c.ok AND a.b <> c.b
  GROUP BY 1, 2
)
SELECT ba AS antecedent, bb AS consequent, nab AS n_both,
       round(CAST(nab AS DOUBLE) / sa.nb, 9) AS confidence,
       round((1 - CAST(sb.nb AS DOUBLE) / no.n)
             / (1 - CAST(nab AS DOUBLE) / sa.nb), 9) AS conviction
FROM pair
JOIN single sa ON sa.b = ba
JOIN single sb ON sb.b = bb
CROSS JOIN no
WHERE CAST(nab AS DOUBLE) / sa.nb < 1
ORDER BY conviction DESC, antecedent ASC, consequent ASC
LIMIT {_SKU_TOP}
"""

register(order_basket_lift_rules, BASKET_RULES_SQL)


def conversion_sprt_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT trajectory for the purchase rate: day-by-day cumulative
    log-likelihood ratio of H1: p = 1.1·p̂ against H0: p = p̂ (p̂ = the
    overall purchase share, pinned to 6 dp), with the classic
    α = β = 0.05 decision bands ±ln(19) — the sequential test that lets
    an experiment STOP EARLY the moment evidence crosses a boundary
    instead of waiting for a fixed horizon (Wald 1945). Everything
    after the per-day aggregate is calendar-bounded; the LLR is
    k·ln(p1/p0) + (n−k)·ln((1−p1)/(1−p0)) over exact integer cumulative
    counts, with both log factors computed as engine expressions from
    the pinned p̂."""
    ensure_views(spark, sf_dir)
    from pyspark.sql import Window as W

    ev = spark.table("events")
    p0 = ev.agg(
        F.round(
            F.sum((F.col("event_type") == "purchase").cast("long")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("p0")
    )
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("_k"),
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum("_n").over(w).alias("n_cum"),
        F.sum("_k").over(w).alias("k_cum"),
    ).crossJoin(F.broadcast(p0))
    p1 = F.round(F.col("p0") * 1.1, 6)
    l1 = F.log(p1 / F.col("p0"))
    l0 = F.log((1 - p1) / (1 - F.col("p0")))
    llr = F.col("k_cum") * l1 + (F.col("n_cum") - F.col("k_cum")) * l0
    upper = F.log(F.lit(19.0))
    return cum.select(
        "day",
        "n_cum",
        "k_cum",
        F.round(llr, 9).alias("llr"),
        F.when(llr >= upper, F.lit("accept_h1"))
        .when(llr <= -upper, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    ).orderBy("day")


SPRT_SQL = """
WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS t, event_type FROM events),
p AS (
  SELECT round(CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*), 6) AS p0
  FROM ev
), daily AS (
  SELECT CAST(t AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS k
  FROM ev GROUP BY 1
), cum AS (
  SELECT day,
         SUM(n) OVER w AS n_cum, SUM(k) OVER w AS k_cum
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT day, CAST(n_cum AS BIGINT) AS n_cum, CAST(k_cum AS BIGINT) AS k_cum,
       round(k_cum * ln(round(p0 * 1.1, 6) / p0)
             + (n_cum - k_cum) * ln((1 - round(p0 * 1.1, 6)) / (1 - p0)), 9) AS llr,
       CASE WHEN k_cum * ln(round(p0 * 1.1, 6) / p0)
                 + (n_cum - k_cum) * ln((1 - round(p0 * 1.1, 6)) / (1 - p0)) >= ln(19.0)
            THEN 'accept_h1'
            WHEN k_cum * ln(round(p0 * 1.1, 6) / p0)
                 + (n_cum - k_cum) * ln((1 - round(p0 * 1.1, 6)) / (1 - p0)) <= -ln(19.0)
            THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM cum CROSS JOIN p
ORDER BY day
"""

register(conversion_sprt_trajectory, SPRT_SQL)


def events_daily_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day exact p10/p50/p90 value bands — the daily-latency-band
    pattern every metrics dashboard needs, computed by RANK SELECTION
    over the per-(day, value) count relation: cumulative counts within
    each day (day-partitioned window — parallel across days, never a
    global sort), then the minimal value crossing each integer-exact
    threshold (10·cum ≥ q·total). No approxQuantile, no per-day
    collect; ties and duplicates handled exactly."""
    ensure_views(spark, sf_dir)
    from pyspark.sql import Window as W

    dv = (
        spark.table("events")
        .filter(F.col("value").isNotNull())
        .groupBy(
            F.col("ts").cast("date").alias("day"),
            F.col("value").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = W.partitionBy("day").orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    staged = dv.select(
        "day",
        "v",
        F.sum("_c").over(w).alias("_cum"),
        F.sum("_c").over(W.partitionBy("day")).alias("_tot"),
    )
    return (
        staged.groupBy("day")
        .agg(
            F.max("_tot").alias("n_values"),
            F.min(F.when(F.col("_cum") * 10 >= F.col("_tot"), F.col("v"))).alias("p10"),
            F.min(F.when(F.col("_cum") * 2 >= F.col("_tot"), F.col("v"))).alias("p50"),
            F.min(F.when(F.col("_cum") * 10 >= F.col("_tot") * 9, F.col("v"))).alias("p90"),
        )
        .orderBy("day")
    )


DAILY_BANDS_SQL = """
WITH dv AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, value AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), staged AS (
  SELECT day, v,
         SUM(c) OVER (PARTITION BY day ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY day) AS tot
  FROM dv
)
SELECT day, CAST(MAX(tot) AS BIGINT) AS n_values,
       MIN(CASE WHEN cum * 10 >= tot THEN v END) AS p10,
       MIN(CASE WHEN cum * 2 >= tot THEN v END) AS p50,
       MIN(CASE WHEN cum * 10 >= tot * 9 THEN v END) AS p90
FROM staged GROUP BY day ORDER BY day
"""

register(events_daily_value_bands, DAILY_BANDS_SQL)


_HURST_SIZES = [4, 8, 16]


def events_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the daily event-count series by classical
    rescaled-range (R/S) analysis (Hurst 1951; Mandelbrot & Wallis
    1969): for block sizes {_HURST_SIZES}, average each block's
    range-of-cumulative-deviations over its std, then the log2-log2
    slope is H — H ≈ 0.5 memoryless, H > 0.5 persistent/trending
    (capacity planning cares: persistent load clusters its peaks).
    Returns one row per block size with the shared fitted H.

    Scale shape: everything after the daily aggregate is
    calendar-bounded; day indices come from datediff (no rank); blocks
    fan out via a 3-row broadcast; in-block cumsums are (size, block)-
    partitioned windows; the 3-point slope uses centered decimal-rounded
    moments."""
    ensure_views(spark, sf_dir)
    from pyspark.sql import Window as W

    daily = (
        spark.table("events")
        .groupBy(F.col("ts").cast("date").alias("_day"))
        .agg(F.count(F.lit(1)).alias("_x"))
    )
    base = daily.crossJoin(
        F.broadcast(daily.agg(F.min("_day").alias("_d0")))
    ).select(F.datediff("_day", "_d0").alias("_i"), "_x")
    sizes = spark.createDataFrame([(s,) for s in _HURST_SIZES], "s int")
    blk = base.crossJoin(F.broadcast(sizes)).select(
        "s", (F.col("_i") / F.col("s")).cast("int").alias("_b"), "_i", "_x"
    )
    wb = W.partitionBy("s", "_b")
    full = (
        blk.withColumn("_bn", F.count(F.lit(1)).over(wb))
        .filter(F.col("_bn") == F.col("s"))
        .withColumn("_mean", F.avg(F.col("_x").cast("double")).over(wb))
        .withColumn(
            "_z",
            F.sum(F.col("_x") - F.col("_mean")).over(
                wb.orderBy("_i").rowsBetween(W.unboundedPreceding, 0)
            ),
        )
    )
    per_block = full.groupBy("s", "_b").agg(
        (F.max("_z") - F.min("_z")).alias("_r"),
        F.sqrt(
            F.avg((F.col("_x") - F.col("_mean")) * (F.col("_x") - F.col("_mean")))
        ).alias("_sd"),
    )
    per_size = (
        per_block.filter(F.col("_sd") > 0)
        .select(
            "s", F.round(F.col("_r") / F.col("_sd"), 9).alias("_rs")
        )
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.round(
                F.sum(F.round(F.col("_rs"), 9).cast("decimal(30,9)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_rs"),
        )
        .localCheckpoint(eager=False)
    )
    pts = per_size.select(
        F.log2(F.col("s").cast("double")).alias("_lx"),
        F.log2("mean_rs").alias("_ly"),
    )
    means = pts.agg(
        F.count(F.lit(1)).alias("_m"),
        F.round(
            F.sum(F.round("_lx", 9).cast("decimal(30,9)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("_mx"),
        F.round(
            F.sum(F.round("_ly", 9).cast("decimal(30,9)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("_my"),
    )
    fit = (
        pts.crossJoin(F.broadcast(means))
        .agg(
            F.sum(
                F.round((F.col("_lx") - F.col("_mx")) * (F.col("_ly") - F.col("_my")), 9)
                .cast("decimal(30,9)")
            ).cast("double").alias("_sxy"),
            F.sum(
                F.round((F.col("_lx") - F.col("_mx")) * (F.col("_lx") - F.col("_mx")), 9)
                .cast("decimal(30,9)")
            ).cast("double").alias("_sxx"),
        )
        .select(
            F.when(
                F.col("_sxx") > 0, F.round(F.col("_sxy") / F.col("_sxx"), 9)
            ).alias("hurst")
        )
    )
    return per_size.crossJoin(F.broadcast(fit)).select(
        F.col("s").alias("block_size"), "n_blocks", "mean_rs", "hurst"
    ).orderBy("block_size")


HURST_SQL = f"""
WITH daily AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
), base AS (
  SELECT day - (SELECT MIN(day) FROM daily) AS i, x FROM daily
), blk AS (
  SELECT s.s, CAST(floor(CAST(b.i AS DOUBLE) / s.s) AS INTEGER) AS b, b.i, b.x
  FROM base b CROSS JOIN (VALUES {", ".join(f"({s})" for s in _HURST_SIZES)}) s(s)
), fullb AS (
  SELECT s, b, i, x,
         COUNT(*) OVER (PARTITION BY s, b) AS bn,
         AVG(CAST(x AS DOUBLE)) OVER (PARTITION BY s, b) AS mean
  FROM blk
), dev AS (
  SELECT s, b, i, x, mean,
         SUM(x - mean) OVER (PARTITION BY s, b ORDER BY i
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS z
  FROM fullb WHERE bn = s
), per_block AS (
  SELECT s, b, MAX(z) - MIN(z) AS r,
         sqrt(AVG((x - mean) * (x - mean))) AS sd
  FROM dev GROUP BY s, b
), per_size AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS n_blocks,
         round(CAST(SUM(CAST(round(round(r / sd, 9), 9) AS DECIMAL(30,9))) AS DOUBLE)
               / COUNT(*), 9) AS mean_rs
  FROM per_block WHERE sd > 0 GROUP BY s
), pts AS (
  SELECT log2(CAST(s AS DOUBLE)) AS lx, log2(mean_rs) AS ly FROM per_size
), means AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         round(CAST(SUM(CAST(round(lx, 9) AS DECIMAL(30,9))) AS DOUBLE) / COUNT(*), 9) AS mx,
         round(CAST(SUM(CAST(round(ly, 9) AS DECIMAL(30,9))) AS DOUBLE) / COUNT(*), 9) AS my
  FROM pts
), fit AS (
  SELECT CASE WHEN CAST(SUM(CAST(round((lx - mx) * (lx - mx), 9) AS DECIMAL(30,9))) AS DOUBLE) > 0
              THEN round(CAST(SUM(CAST(round((lx - mx) * (ly - my), 9) AS DECIMAL(30,9))) AS DOUBLE)
                         / CAST(SUM(CAST(round((lx - mx) * (lx - mx), 9) AS DECIMAL(30,9))) AS DOUBLE), 9)
         END AS hurst
  FROM pts CROSS JOIN means
)
SELECT CAST(s AS INTEGER) AS block_size, n_blocks, mean_rs, hurst
FROM per_size CROSS JOIN fit
ORDER BY block_size
"""

register(events_hurst_exponent, HURST_SQL)


def user_value_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality of per-user total spend, decomposed EXACTLY
    into within-segment + between-segment parts (T = Σ s_g·T_g +
    Σ s_g·ln(μ_g/μ) — the additive-decomposability property that makes
    Theil, not Gini, the index for "is inequality driven by differences
    inside segments or between them?"). Segments by md5 % 4. Two-pass:
    segment means from exact decimal sums, then per-user terms
    (x/μ_g)·ln(x/μ_g) rounded to 12 and decimal-accumulated; zero-spend
    users contribute 0 (the x→0 limit). One row per segment with its
    share, mean and within-Theil, plus the constant decomposition
    columns."""
    ensure_views(spark, sf_dir)
    from onetl_spark.llm.text import md5_long

    per_user = (
        spark.table("events")
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("_x")
        )
        .select(
            F.pmod(md5_long(F.col("user_id").cast("string")), F.lit(4)).alias("segment"),
            "_x",
        )
        .localCheckpoint(eager=False)
    )
    seg = per_user.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.round("_x", 6).cast("decimal(38,6)")).cast("double").alias("_sx"),
    )
    tot = seg.agg(
        F.sum("n_users").alias("_n"),
        F.sum(F.round("_sx", 6).cast("decimal(38,6)")).cast("double").alias("_s"),
    )
    seg_m = seg.crossJoin(F.broadcast(tot)).select(
        "segment",
        "n_users",
        F.round(F.col("_sx") / F.col("n_users"), 9).alias("mu_g"),
        F.round(F.col("_sx") / F.col("_s"), 9).alias("share"),
        F.round(F.col("_s") / F.col("_n"), 9).alias("_mu"),
    )
    terms = per_user.join(F.broadcast(seg_m), "segment").select(
        "segment",
        "n_users",
        "share",
        "mu_g",
        "_mu",
        F.when(
            F.col("_x") > 0,
            F.round(
                (F.col("_x") / F.col("mu_g")) * F.log(F.col("_x") / F.col("mu_g")),
                12,
            ),
        )
        .otherwise(F.lit(0.0))
        .cast("decimal(30,12)")
        .alias("_t"),
    )
    within_g = terms.groupBy("segment", "n_users", "share", "mu_g", "_mu").agg(
        F.round(F.sum("_t").cast("double") / F.col("n_users"), 9).alias("theil_g")
    )
    decomp = within_g.agg(
        F.round(
            F.sum(
                F.round(F.col("share") * F.col("theil_g"), 12).cast("decimal(30,12)")
            ).cast("double"),
            9,
        ).alias("theil_within"),
        F.round(
            F.sum(
                F.round(
                    F.col("share") * F.log(F.col("mu_g") / F.col("_mu")), 12
                ).cast("decimal(30,12)")
            ).cast("double"),
            9,
        ).alias("theil_between"),
    )
    return (
        within_g.crossJoin(F.broadcast(decomp))
        .select(
            "segment",
            "n_users",
            "share",
            "mu_g",
            "theil_g",
            "theil_within",
            "theil_between",
            F.round(F.col("theil_within") + F.col("theil_between"), 9).alias(
                "theil_total"
            ),
        )
        .orderBy("segment")
    )


THEIL_SQL = """
WITH pu AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 4 AS segment,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS x
  FROM events WHERE value IS NOT NULL GROUP BY user_id
), seg AS (
  SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(CAST(round(x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sx
  FROM pu GROUP BY segment
), tot AS (
  SELECT CAST(SUM(n_users) AS BIGINT) AS n,
         CAST(SUM(CAST(round(sx, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s
  FROM seg
), seg_m AS (
  SELECT segment, n_users,
         round(sx / n_users, 9) AS mu_g,
         round(sx / tot.s, 9) AS share,
         round(tot.s / tot.n, 9) AS mu
  FROM seg CROSS JOIN tot
), terms AS (
  SELECT p.segment, m.n_users, m.share, m.mu_g, m.mu,
         CAST(CASE WHEN p.x > 0
              THEN round((p.x / m.mu_g) * ln(p.x / m.mu_g), 12) ELSE 0.0 END
              AS DECIMAL(30,12)) AS t
  FROM pu p JOIN seg_m m ON m.segment = p.segment
), within_g AS (
  SELECT segment, n_users, share, mu_g, mu,
         round(CAST(SUM(t) AS DOUBLE) / n_users, 9) AS theil_g
  FROM terms GROUP BY segment, n_users, share, mu_g, mu
), decomp AS (
  SELECT round(CAST(SUM(CAST(round(share * theil_g, 12) AS DECIMAL(30,12))) AS DOUBLE), 9) AS theil_within,
         round(CAST(SUM(CAST(round(share * ln(mu_g / mu), 12) AS DECIMAL(30,12))) AS DOUBLE), 9) AS theil_between
  FROM within_g
)
SELECT segment, n_users, share, mu_g, theil_g, theil_within, theil_between,
       round(theil_within + theil_between, 9) AS theil_total
FROM within_g CROSS JOIN decomp
ORDER BY segment
"""

register(user_value_theil_decomposition, THEIL_SQL)


def user_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the active-user population:
    treat clickers as the first capture sample and purchasers as the
    second; N̂ = (n1+1)(n2+1)/(m+1) − 1 with m the overlap — the
    ecology-standard estimator (Chapman 1951; also how analysts size an
    audience only partially visible to two independent trackers), with
    its closed-form variance. Three bounded distinct-count aggregates;
    one pinned expression each."""
    ensure_views(spark, sf_dir)
    ev = spark.table("events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    agg = (
        clicks.select(F.lit(1).alias("_a"))
        .agg(F.count(F.lit(1)).alias("n1"))
        .crossJoin(buys.agg(F.count(F.lit(1)).alias("n2")))
        .crossJoin(clicks.join(buys, "user_id").agg(F.count(F.lit(1)).alias("m")))
        .crossJoin(ev.agg(F.countDistinct("user_id").alias("true_users")))
    )
    n1, n2, m = (
        F.col("n1").cast("double"),
        F.col("n2").cast("double"),
        F.col("m").cast("double"),
    )
    nhat = (n1 + 1) * (n2 + 1) / (m + 1) - 1
    var = (
        (n1 + 1)
        * (n2 + 1)
        * (n1 - m)
        * (n2 - m)
        / ((m + 1) * (m + 1) * (m + 2))
    )
    return agg.select(
        "n1",
        "n2",
        "m",
        "true_users",
        F.round(nhat, 6).alias("chapman_estimate"),
        F.round(F.sqrt(var), 6).alias("std_error"),
    )


CAPTURE_SQL = """
WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
a AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n1,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n2,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM c JOIN p USING (user_id)) AS m,
         (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events) AS true_users
)
SELECT n1, n2, m, true_users,
       round((CAST(n1 AS DOUBLE) + 1) * (CAST(n2 AS DOUBLE) + 1) / (CAST(m AS DOUBLE) + 1) - 1, 6) AS chapman_estimate,
       round(sqrt((CAST(n1 AS DOUBLE) + 1) * (CAST(n2 AS DOUBLE) + 1)
                  * (CAST(n1 AS DOUBLE) - m) * (CAST(n2 AS DOUBLE) - m)
                  / ((CAST(m AS DOUBLE) + 1) * (CAST(m AS DOUBLE) + 1) * (CAST(m AS DOUBLE) + 2))), 6) AS std_error
FROM a
"""

register(user_capture_recapture, CAPTURE_SQL)


def events_value_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality screen on event value (`operators/stats.py
    jarque_bera`): one exact-moment scan answering "is this metric even
    roughly normal before z-testing it?" — the distribution-shape
    companion to events_value_anova's mean comparison."""
    from onetl_spark.operators.stats import jarque_bera

    ensure_views(spark, sf_dir)
    return jarque_bera(spark.table("events"), "value")


JARQUE_BERA_SQL = """
WITH m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(v * v AS DECIMAL(38,6))) AS DOUBLE) AS s2,
         CAST(SUM(CAST(v * v * v AS DECIMAL(38,6))) AS DOUBLE) AS s3,
         CAST(SUM(CAST(v * v * v * v AS DECIMAL(38,6))) AS DOUBLE) AS s4
  FROM (SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL)
), c AS (
  SELECT n,
         s2 / n - (s1 / n) * (s1 / n) AS m2,
         s3 / n - 3.0 * (s1 / n) * (s2 / n)
           + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
         s4 / n - 4.0 * (s1 / n) * (s3 / n)
           + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
           - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
  FROM m
)
SELECT n,
       CASE WHEN m2 > 0 THEN round(m3 / (m2 * sqrt(m2)), 6) END AS skewness,
       CASE WHEN m2 > 0 THEN round(m4 / (m2 * m2) - 3.0, 6) END AS excess_kurtosis,
       CASE WHEN m2 > 0 THEN
         round(CAST(n AS DOUBLE) / 6.0
               * ((m3 / (m2 * sqrt(m2))) * (m3 / (m2 * sqrt(m2)))
                  + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0) / 4.0), 6)
       END AS jb_stat
FROM c
"""

register(events_value_jarque_bera, JARQUE_BERA_SQL)


def events_type_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levene's equal-variance W across event types (`operators/stats.py
    levene_test`): the heteroscedasticity gatekeeper that decides
    whether events_value_anova's pooled-variance F is trustworthy."""
    from onetl_spark.operators.stats import levene_test

    ensure_views(spark, sf_dir)
    return levene_test(spark.table("events"), "value", "event_type")


LEVENE_SQL = """
WITH base AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
), means AS (
  SELECT g, CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS mg
  FROM base GROUP BY g
), z AS (
  SELECT base.g, round(abs(base.v - means.mg), 9) AS z
  FROM base JOIN means ON base.g = means.g
), gagg AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(z AS DECIMAL(38,9))) AS DOUBLE) AS s,
         CAST(SUM(CAST(round(z * z, 9) AS DECIMAL(38,9))) AS DOUBLE) AS q
  FROM z GROUP BY g
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_total,
         CAST(SUM(CAST(round(s, 9) AS DECIMAL(38,9))) AS DOUBLE) AS st,
         CAST(SUM(CAST(round(q, 9) AS DECIMAL(38,9))) AS DOUBLE) AS qt,
         CAST(SUM(CAST(round(s * s / n, 9) AS DECIMAL(38,9))) AS DOUBLE) AS br
  FROM gagg
)
SELECT k, n_total,
       CASE WHEN k > 1 AND n_total > k AND qt - br > 0 THEN
         round(((br - st * st / n_total) / (k - 1))
               / ((qt - br) / (n_total - k)), 6)
       END AS w_stat
FROM tot
"""

register(events_type_levene, LEVENE_SQL)


def events_type_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-Kramer HSD q statistic for every event-type pair
    (`operators/stats.py tukey_hsd`): the post-hoc step after
    events_value_anova — WHICH pairs of types differ in mean value, from
    the same one-scan group moments."""
    from onetl_spark.operators.stats import tukey_hsd

    ensure_views(spark, sf_dir)
    return tukey_hsd(spark.table("events"), "value", "event_type")


TUKEY_SQL = """
WITH g AS (
  SELECT event_type AS gg, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) AS s,
         CAST(SUM(CAST(v * v AS DECIMAL(38,6))) AS DOUBLE) AS q
  FROM (SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
        WHERE value IS NOT NULL AND event_type IS NOT NULL)
  GROUP BY event_type
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS nt,
         CAST(SUM(CAST(round(q, 6) AS DECIMAL(38,6))) AS DOUBLE) AS qt,
         CAST(SUM(CAST(round(s * s / n, 9) AS DECIMAL(38,9))) AS DOUBLE) AS br
  FROM g
)
SELECT a.gg AS group_a, b.gg AS group_b,
       a.n AS n_a, b.n AS n_b,
       round(a.s / a.n - b.s / b.n, 6) AS mean_diff,
       CASE WHEN sqrt((tot.qt - tot.br) / (tot.nt - tot.k) / 2.0
                      * (1.0 / a.n + 1.0 / b.n)) > 0 THEN
         round(abs(a.s / a.n - b.s / b.n)
               / sqrt((tot.qt - tot.br) / (tot.nt - tot.k) / 2.0
                      * (1.0 / a.n + 1.0 / b.n)), 6)
       END AS q_stat
FROM g a JOIN g b ON a.gg < b.gg CROSS JOIN tot
ORDER BY group_a, group_b
"""

register(events_type_tukey_hsd, TUKEY_SQL)


def user_click_purchase_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test on per-user click vs purchase flags
    (`operators/stats.py mcnemar_test`): are users systematically
    click-only more than purchase-only — the PAIRED companion to
    ab_conversion_ztest's unpaired proportions."""
    from onetl_spark.operators.stats import mcnemar_test

    ensure_views(spark, sf_dir)
    flags = (
        spark.table("events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("has_click"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("has_purchase"),
        )
    )
    return mcnemar_test(flags, "has_click", "has_purchase")


MCNEMAR_SQL = """
WITH f AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
  FROM events GROUP BY user_id
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(a * (1 - b)) AS BIGINT) AS n_a_only,
         CAST(SUM((1 - a) * b) AS BIGINT) AS n_b_only
  FROM f
)
SELECT n, n_a_only, n_b_only,
       CASE WHEN n_a_only + n_b_only > 0 THEN
         round((CAST(n_a_only AS DOUBLE) - CAST(n_b_only AS DOUBLE))
               * (CAST(n_a_only AS DOUBLE) - CAST(n_b_only AS DOUBLE))
               / (CAST(n_a_only AS DOUBLE) + CAST(n_b_only AS DOUBLE)), 9)
       END AS chi2
FROM m
"""

register(user_click_purchase_mcnemar, MCNEMAR_SQL)


def events_daily_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic on the residuals of the daily-total OLS
    trend (`operators/stats.py durbin_watson`): is yesterday's surprise
    predicting today's — the serial-correlation audit that decides
    whether events_type_ols_trend's stderr can be believed."""
    from onetl_spark.operators.stats import durbin_watson

    ensure_views(spark, sf_dir)
    daily = (
        spark.table("events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(dsum("value").alias("v"))
        .select(
            F.unix_date("day").alias("t"),
            _micro_units(F.col("v")).alias("y"),
        )
    )
    dw = durbin_watson(daily, "t", "y")
    # y was exact integer micro-units: rescale the fit back (DW itself
    # is scale-invariant), as a pinned post-rounding double op
    return dw.select(
        "n",
        F.round(F.col("slope") / F.lit(1000000.0), 9).alias("slope"),
        F.round(F.col("intercept") / F.lit(1000000.0), 9).alias("intercept"),
        "dw_stat",
        "rho_approx",
    )


DW_SQL = """
WITH daily AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
  FROM events GROUP BY 1
), s AS (
  SELECT CAST(day - DATE '1970-01-01' AS HUGEINT) AS t,
         CAST(CAST(v AS DECIMAL(30,6)) * 1000000 AS HUGEINT) AS y
  FROM daily
), m AS (
  SELECT COUNT(*) AS n_i,
         CAST(SUM(t) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(t * y) AS DOUBLE) AS sxy,
         CAST(SUM(t * t) AS DOUBLE) AS sxx
  FROM s
), fit AS (
  SELECT n_i,
         round((sxy - sx * sy / n) / NULLIF(sxx - sx * sx / n, 0), 9) AS slope,
         round((sy - ((sxy - sx * sy / n) / NULLIF(sxx - sx * sx / n, 0)) * sx) / n,
               9) AS intercept
  FROM (SELECT *, CAST(n_i AS DOUBLE) AS n FROM m)
), r AS (
  SELECT CAST(s.t AS BIGINT) AS t,
         CAST(s.y AS DOUBLE) - (fit.intercept + fit.slope * CAST(s.t AS DOUBLE)) AS e,
         fit.n_i, fit.slope, fit.intercept
  FROM s CROSS JOIN fit
), den AS (
  SELECT CAST(SUM(CAST(round(e * e, 9) AS DECIMAL(38,9))) AS DOUBLE) AS den,
         MIN(n_i) AS n, MIN(slope) AS slope, MIN(intercept) AS intercept
  FROM r
), num AS (
  SELECT CAST(COALESCE(SUM(CAST(round((b.e - a.e) * (b.e - a.e), 9)
                                AS DECIMAL(38,9))), 0) AS DOUBLE) AS num
  FROM r a JOIN r b ON b.t = a.t + 1
)
SELECT CAST(den.n AS BIGINT) AS n,
       round(den.slope / 1000000.0, 9) AS slope,
       round(den.intercept / 1000000.0, 9) AS intercept,
       CASE WHEN den.den > 0 THEN round(num.num / den.den, 9) END AS dw_stat,
       CASE WHEN den.den > 0
            THEN round(1.0 - (num.num / den.den) / 2.0, 9) END AS rho_approx
FROM den CROSS JOIN num
"""

register(events_daily_durbin_watson, DW_SQL)


def events_daily_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test of the daily total value around its
    lower median (`operators/stats.py runs_test`): the distribution-free
    randomness check — too few runs = drift/regime, too many =
    oscillation — on the calendar-bounded daily series."""
    from onetl_spark.operators.stats import runs_test

    ensure_views(spark, sf_dir)
    daily = (
        spark.table("events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(dsum("value").alias("v"))
        .select(
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")).alias("t"),
            F.col("v").cast("double").alias("y"),
        )
    )
    return runs_test(daily, "t", "y")


RUNS_SQL = """
WITH daily AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS y
  FROM events GROUP BY 1
), s AS (
  SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS t, y FROM daily
), nrow AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
vc AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY y),
med AS (
  SELECT MIN(y) AS med FROM (
    SELECT y, SUM(c) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum
    FROM vc
  ) q CROSS JOIN nrow WHERE q.cum >= ceil(nrow.n / 2.0)
), sg AS (
  SELECT t, CASE WHEN y > med THEN 1 ELSE 0 END AS sgn
  FROM s CROSS JOIN med WHERE y <> med
), runs AS (
  SELECT CAST(SUM(sgn) AS BIGINT) AS n_above,
         CAST(SUM(1 - sgn) AS BIGINT) AS n_below,
         CAST(1 + SUM(CASE WHEN prev IS NOT NULL AND prev <> sgn
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
  FROM (SELECT sgn, LAG(sgn) OVER (ORDER BY t) AS prev FROM sg)
)
SELECT n_above, n_below, n_runs,
       CASE WHEN n_above > 0 AND n_below > 0
                 AND 2.0 * n_above * n_below
                     * (2.0 * n_above * n_below - (n_above + n_below))
                     / ((n_above + n_below) * (n_above + n_below)
                        * (n_above + n_below - 1.0)) > 0 THEN
         round((CAST(n_runs AS DOUBLE)
                - (2.0 * n_above * n_below / (n_above + n_below) + 1.0))
               / sqrt(2.0 * n_above * n_below
                      * (2.0 * n_above * n_below - (n_above + n_below))
                      / ((n_above + n_below) * (n_above + n_below)
                         * (n_above + n_below - 1.0))), 9)
       END AS z_score
FROM runs
"""

register(events_daily_runs_test, RUNS_SQL)


def user_activity_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-to-mean dispersion index of per-user event counts
    (`operators/stats.py dispersion_index`): the Poisson-vs-negative-
    binomial screen that justifies user_activity_negbinom_fit — D >> 1
    means bursty users, not uniform traffic."""
    from onetl_spark.operators.stats import dispersion_index

    ensure_views(spark, sf_dir)
    counts = (
        spark.table("events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return dispersion_index(counts, "c")


DISPERSION_SQL = """
WITH counts AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY user_id
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS DOUBLE) AS s1,
         CAST(SUM(c * c) AS DOUBLE) AS s2
  FROM counts
)
SELECT n,
       CASE WHEN n > 0 THEN round(s1 / n, 9) END AS mean,
       CASE WHEN n > 1 THEN round((s2 - s1 * s1 / n) / (n - 1.0), 9) END AS variance,
       CASE WHEN n > 1 AND s1 / n > 0 THEN
         round(((s2 - s1 * s1 / n) / (n - 1.0)) / (s1 / n), 9) END AS dispersion,
       CASE WHEN n > 1 AND s1 / n > 0 THEN
         round((n - 1.0) * (((s2 - s1 * s1 / n) / (n - 1.0)) / (s1 / n)), 9)
       END AS chi2
FROM m
"""

register(user_activity_dispersion, DISPERSION_SQL)


def events_type_share_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type share-shift z-tests between the month halves, with
    Benjamini-Hochberg FDR adjustment across the family
    (`operators/stats.py bh_adjust` + `erfc_approx`): WHICH event types'
    traffic mix actually moved, at a controlled false-discovery rate —
    the multiple-comparisons-honest version of eyeballing five
    ab_conversion_ztest rows."""
    from onetl_spark.operators.stats import bh_adjust, erfc_approx

    ensure_views(spark, sf_dir)
    split = F.lit("2024-01-16").cast("timestamp")
    g = (
        spark.table("events")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("ts") < split, 1).otherwise(0)).alias("n1t"),
            F.sum(F.when(F.col("ts") >= split, 1).otherwise(0)).alias("n2t"),
        )
        .localCheckpoint(eager=False)
    )
    tot = g.agg(F.sum("n1t").alias("_n1"), F.sum("n2t").alias("_n2"))
    t = g.crossJoin(F.broadcast(tot))
    p1 = F.col("n1t").cast("double") / F.col("_n1").cast("double")
    p2 = F.col("n2t").cast("double") / F.col("_n2").cast("double")
    pp = (F.col("n1t") + F.col("n2t")).cast("double") / (
        F.col("_n1") + F.col("_n2")
    ).cast("double")
    se = F.sqrt(
        pp
        * (F.lit(1.0) - pp)
        * (
            F.lit(1.0) / F.col("_n1").cast("double")
            + F.lit(1.0) / F.col("_n2").cast("double")
        )
    )
    z = F.when(se > 0, F.round((p1 - p2) / se, 9))
    tests = t.select(
        "event_type",
        F.col("n1t").cast("long").alias("n_ref"),
        F.col("n2t").cast("long").alias("n_cur"),
        z.alias("z_score"),
    ).withColumn(
        "p_value",
        F.round(erfc_approx(F.abs(F.col("z_score")) / F.sqrt(F.lit(2.0))), 9),
    )
    return bh_adjust(tests, "p_value", alpha=0.05, tie_cols=("event_type",)).orderBy(
        "event_type"
    )


BH_SQL = """
WITH g AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n1t,
         CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n2t
  FROM events GROUP BY event_type
), tot AS (
  SELECT CAST(SUM(n1t) AS BIGINT) AS t1, CAST(SUM(n2t) AS BIGINT) AS t2 FROM g
), z AS (
  SELECT event_type, n1t AS n_ref, n2t AS n_cur,
         CASE WHEN sqrt(((n1t + n2t) / CAST(t1 + t2 AS DOUBLE))
                        * (1.0 - (n1t + n2t) / CAST(t1 + t2 AS DOUBLE))
                        * (1.0 / CAST(t1 AS DOUBLE) + 1.0 / CAST(t2 AS DOUBLE))) > 0
         THEN round((CAST(n1t AS DOUBLE) / CAST(t1 AS DOUBLE)
                     - CAST(n2t AS DOUBLE) / CAST(t2 AS DOUBLE))
                    / sqrt(((n1t + n2t) / CAST(t1 + t2 AS DOUBLE))
                           * (1.0 - (n1t + n2t) / CAST(t1 + t2 AS DOUBLE))
                           * (1.0 / CAST(t1 AS DOUBLE) + 1.0 / CAST(t2 AS DOUBLE))), 9)
         END AS z_score
  FROM g CROSS JOIN tot
), p AS (
  SELECT *,
         round((1.0 / (1.0 + 0.3275911 * (abs(z_score) / sqrt(2.0))))
               * (0.254829592
                  + (1.0 / (1.0 + 0.3275911 * (abs(z_score) / sqrt(2.0))))
                    * (-0.284496736
                       + (1.0 / (1.0 + 0.3275911 * (abs(z_score) / sqrt(2.0))))
                         * (1.421413741
                            + (1.0 / (1.0 + 0.3275911 * (abs(z_score) / sqrt(2.0))))
                              * (-1.453152027
                                 + (1.0 / (1.0 + 0.3275911 * (abs(z_score) / sqrt(2.0))))
                                   * 1.061405429))))
               * exp(-((abs(z_score) / sqrt(2.0)) * (abs(z_score) / sqrt(2.0)))), 9)
           AS p_value
  FROM z
), r AS (
  SELECT *, CAST(COUNT(*) OVER () AS BIGINT) AS m,
         ROW_NUMBER() OVER (ORDER BY p_value, event_type) AS p_rank
  FROM p WHERE p_value IS NOT NULL
), adj AS (
  SELECT *,
         round(least(MIN(CAST(m AS DOUBLE) * p_value / CAST(p_rank AS DOUBLE))
                       OVER (ORDER BY p_rank DESC ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW), 1.0), 9) AS p_adj
  FROM r
)
SELECT event_type, n_ref, n_cur, z_score, p_value,
       CAST(p_rank AS INTEGER) AS p_rank, p_adj, p_adj <= 0.05 AS rejected
FROM adj ORDER BY event_type
"""

register(events_type_share_bh, BH_SQL)


def events_type_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test of daily total value across event types with
    days as complete blocks (`operators/stats.py friedman_test`): the
    repeated-measures companion to events_value_anova/kruskal —
    day-level traffic effects cancel inside each block instead of
    inflating the between-type variance."""
    from onetl_spark.operators.stats import friedman_test

    ensure_views(spark, sf_dir)
    daily = (
        spark.table("events")
        .filter(F.col("value").isNotNull())
        .select(F.col("ts").cast("date").alias("day"), "event_type", "value")
    )
    return friedman_test(daily, "day", "event_type", "value")


FRIEDMAN_SQL = """
WITH cell AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS b, event_type AS t,
         CAST(SUM(CAST(CAST(value AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
), kk AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS k FROM cell),
complete AS (
  SELECT b FROM cell GROUP BY b HAVING COUNT(*) = (SELECT k FROM kk)
), kept AS (
  SELECT cell.b, cell.t, cell.v FROM cell JOIN complete USING (b)
), nn AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n FROM kept),
r2 AS (
  SELECT a.b, a.t,
         2 * SUM(CASE WHEN o.v < a.v THEN 1 ELSE 0 END)
         + SUM(CASE WHEN o.v = a.v THEN 1 ELSE 0 END) + 1 AS r2
  FROM kept a JOIN kept o ON a.b = o.b
  GROUP BY a.b, a.t, a.v
), den AS (
  SELECT CAST(SUM((r2 - (kk.k + 1)) * (r2 - (kk.k + 1))) AS DOUBLE) AS den4
  FROM r2 CROSS JOIN kk
), pt AS (
  SELECT t, CAST(SUM(r2) AS DOUBLE) AS s2 FROM r2 GROUP BY t
), num AS (
  SELECT CAST(SUM(CAST(round((s2 / (2.0 * nn.n) - (kk.k + 1) / 2.0)
                              * (s2 / (2.0 * nn.n) - (kk.k + 1) / 2.0), 9)
                       AS DECIMAL(38,9))) AS DOUBLE) AS num
  FROM pt CROSS JOIN nn CROSS JOIN kk
)
SELECT nn.n AS n_blocks, kk.k AS k_treatments,
       CASE WHEN den.den4 > 0 THEN
         round((CAST(nn.n * nn.n * (kk.k - 1) AS DOUBLE) * num.num)
               / (den.den4 / 4.0), 9)
       END AS chi2
FROM num CROSS JOIN den CROSS JOIN nn CROSS JOIN kk
"""

register(events_type_friedman, FRIEDMAN_SQL)


def segment_mh_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio of purchasing in the second
    month-half vs the first, stratified by market segment
    (`operators/stats.py mantel_haenszel`): the confounding-controlled
    readout of "did conversion really shift?" that a single pooled 2x2
    gets wrong when segment mix changes (Simpson's paradox guard)."""
    from onetl_spark.operators.stats import mantel_haenszel

    ensure_views(spark, sf_dir)
    split = F.lit("2024-01-16").cast("timestamp")
    j = (
        spark.table("events")
        .join(
            spark.table("customer").select(
                F.col("c_custkey").alias("user_id"), "c_mktsegment"
            ),
            "user_id",
        )
        .select(
            "c_mktsegment",
            (F.col("ts") >= split).cast("int").alias("is_second_half"),
            (F.col("event_type") == "purchase").cast("int").alias("is_purchase"),
        )
    )
    return mantel_haenszel(j, "c_mktsegment", "is_second_half", "is_purchase")


MH_OR_SQL = """
WITH j AS (
  SELECT c.c_mktsegment AS s,
         CASE WHEN CAST(e.ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
              THEN 1 ELSE 0 END AS x,
         CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events e JOIN customer c ON c.c_custkey = e.user_id
  WHERE c.c_mktsegment IS NOT NULL
), g AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x * y) AS BIGINT) AS a,
         CAST(SUM(x * (1 - y)) AS BIGINT) AS b,
         CAST(SUM((1 - x) * y) AS BIGINT) AS c,
         CAST(SUM((1 - x) * (1 - y)) AS BIGINT) AS d
  FROM j GROUP BY s
), m AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_strata,
         CAST(SUM(CAST(round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                             / CAST(n AS DOUBLE), 9) AS DECIMAL(38,9)))
              AS DOUBLE) AS num,
         CAST(SUM(CAST(round(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
                             / CAST(n AS DOUBLE), 9) AS DECIMAL(38,9)))
              AS DOUBLE) AS den
  FROM g
)
SELECT n, n_strata,
       CASE WHEN den > 0 THEN round(num / den, 9) END AS or_mh,
       CASE WHEN den > 0 AND num > 0 THEN round(ln(num / den), 9) END AS log_or_mh
FROM m
"""

register(segment_mh_odds_ratio, MH_OR_SQL)


_CRONBACH_TYPES = ["click", "error", "purchase", "signup", "view"]


def user_engagement_cronbach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over per-user event-type counts
    (`operators/stats.py cronbach_alpha`): do the five activity signals
    form one coherent engagement scale — the internal-consistency check
    before collapsing them into a single engagement score."""
    from onetl_spark.operators.stats import cronbach_alpha

    ensure_views(spark, sf_dir)
    items = spark.table("events").groupBy("user_id").agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
            for t in _CRONBACH_TYPES
        ]
    )
    return cronbach_alpha(items, tuple(f"n_{t}" for t in _CRONBACH_TYPES))


def _cronbach_sql() -> str:
    k = len(_CRONBACH_TYPES)
    item_defs = ", ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS i{j}"
        for j, t in enumerate(_CRONBACH_TYPES)
    )
    tot = " + ".join(f"i{j}" for j in range(k))
    moment_defs = ", ".join(
        f"CAST(SUM(i{j}) AS DOUBLE) AS s{j}, CAST(SUM(i{j} * i{j}) AS DOUBLE) AS q{j}"
        for j in range(k)
    )
    var = (
        "((q{j} - s{j} * s{j} / CAST(cnt AS DOUBLE))"
        " / (CAST(cnt AS DOUBLE) - 1.0))"
    )
    item_var_sum = " + ".join(var.format(j=j) for j in range(k))
    tot_var = "((qt - st * st / CAST(cnt AS DOUBLE)) / (CAST(cnt AS DOUBLE) - 1.0))"
    return f"""
WITH items AS (
  SELECT user_id, {item_defs}
  FROM events GROUP BY user_id
), w AS (
  SELECT *, {tot} AS tt FROM items
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS cnt, {moment_defs},
         CAST(SUM(tt) AS DOUBLE) AS st, CAST(SUM(tt * tt) AS DOUBLE) AS qt
  FROM w
)
SELECT cnt AS n, CAST({k} AS BIGINT) AS k_items,
       CASE WHEN cnt > 1 AND {tot_var} > 0 THEN
         round({k}.0 / ({k} - 1.0)
               * (1.0 - ({item_var_sum}) / {tot_var}), 9)
       END AS alpha
FROM m
"""


register(user_engagement_cronbach, _cronbach_sql())


_STATIONARY_ITERS = 12


def event_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user event-type Markov chain by
    fixed-count power iteration (12 steps of v·P on the 5x5 transition
    matrix from event_transition_matrix): the long-run traffic mix the
    chain predicts, to compare against the observed type shares. The
    iteration runs entirely on attribute-bounded relations (k states,
    k² transitions) — per step one k²-row join + one k-row aggregate —
    with each step's vector rounded to 9 and held as exact decimal so
    every engine replays the identical trajectory."""
    ensure_views(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        spark.table("events")
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
    )
    counts = pairs.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = counts.groupBy("event_type").agg(F.sum("n").alias("tn"))
    p = (
        counts.join(tot, "event_type")
        .select(
            F.col("event_type").alias("src"),
            F.col("next_type").alias("dst"),
            (F.col("n").cast("double") / F.col("tn").cast("double")).alias("pr"),
        )
        .localCheckpoint(eager=False)
    )
    states = p.select(F.col("src").alias("state")).distinct()
    k = states.count()
    if k == 0:
        raise ValueError("event_markov_stationary: no transitions")
    v = states.select(
        "state",
        F.round(F.lit(1.0) / F.lit(float(k)), 9).cast("decimal(38,9)").alias("v"),
    )
    for _ in range(_STATIONARY_ITERS):
        # broadcast the INVARIANT side: p is the checkpointed k²-row
        # transition matrix, identical in all 12 steps, so its single
        # BroadcastExchange is built once and ReusedExchange-shared by
        # every step. Broadcasting the per-step vector instead (the r12
        # shape) built 12 DIFFERENT broadcast relations, each a
        # sequential driver-collect job barrier gated on the previous
        # step's aggregate — measured 1.38s (r11) → 2.4-3.1s (r12).
        # The explicit hint is still required: both sides are
        # checkpointed RDDs with no stats, so auto-broadcast never fires.
        v = (
            v.join(F.broadcast(p), v["state"] == p["src"])
            .groupBy(F.col("dst").alias("state"))
            .agg(
                F.sum(
                    F.round(F.col("v").cast("double") * F.col("pr"), 9).cast(
                        "decimal(38,9)"
                    )
                )
                .cast("decimal(38,9)")
                .alias("v")
            )
        )
    return v.select(
        "state", F.col("v").cast("double").alias("stationary_prob")
    ).orderBy("state")


def _stationary_sql() -> str:
    its = []
    for i in range(1, _STATIONARY_ITERS + 1):
        its.append(f"""v{i} AS (
  SELECT p.dst AS state,
         CAST(SUM(CAST(round(CAST(v{i-1}.v AS DOUBLE) * p.pr, 9)
                       AS DECIMAL(38,9))) AS DECIMAL(38,9)) AS v
  FROM v{i-1} JOIN p ON v{i-1}.state = p.src
  GROUP BY p.dst
)""")
    chain = ",\n".join(its)
    return f"""
WITH pairs AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
), counts AS (
  SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
), tot AS (
  SELECT event_type, CAST(SUM(n) AS BIGINT) AS tn FROM counts GROUP BY event_type
), p AS (
  SELECT counts.event_type AS src, counts.next_type AS dst,
         CAST(counts.n AS DOUBLE) / CAST(tot.tn AS DOUBLE) AS pr
  FROM counts JOIN tot ON counts.event_type = tot.event_type
), states AS (SELECT DISTINCT src AS state FROM p),
kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states),
v0 AS (
  SELECT state, CAST(round(1.0 / CAST(kk.k AS DOUBLE), 9) AS DECIMAL(38,9)) AS v
  FROM states CROSS JOIN kk
),
{chain}
SELECT state, CAST(v AS DOUBLE) AS stationary_prob
FROM v{_STATIONARY_ITERS} ORDER BY state
"""


register(event_markov_stationary, _stationary_sql())


_SYS_SAMPLE_STEP = 100


def orders_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic 1-in-100 sample of orders by the distributed global
    row index (`operators/ranking.py global_row_index` — no
    single-partition sort), summarized as count/key-range/price
    moments: the deterministic equal-interval design that, unlike
    RNG-based sampling, any engine reproduces exactly and that
    guarantees perfectly even coverage of the keyspace."""
    from onetl_spark.operators.ranking import global_row_index

    ensure_views(spark, sf_dir)
    o = spark.table("orders").select("o_orderkey", "o_totalprice")
    idx = global_row_index(o, "o_orderkey")
    samp = idx.filter((F.col("row_idx") % _SYS_SAMPLE_STEP) == 1)
    return samp.agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.min("o_orderkey").alias("first_key"),
        F.max("o_orderkey").alias("last_key"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double"), 6
        ).alias("sum_price"),
    )


SYS_SAMPLE_SQL = f"""
WITH idx AS (
  SELECT o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (ORDER BY o_orderkey) AS row_idx
  FROM orders
), samp AS (
  SELECT * FROM idx WHERE row_idx % {_SYS_SAMPLE_STEP} = 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
       MIN(o_orderkey) AS first_key,
       MAX(o_orderkey) AS last_key,
       round(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_price
FROM samp
"""

register(orders_systematic_sample, SYS_SAMPLE_SQL)


def events_hourly_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap-fill summary of each event type's hourly value series
    over the full hour grid between its first and last observation —
    the resample-and-interpolate accounting every sensor/metric
    pipeline needs before windowed models. Per type: grid size,
    observed/filled slot counts, observed mass, and the total linearly
    interpolated mass of the filled slots.

    Exactness: the interior of a gap of L hours sums in CLOSED FORM —
    an arithmetic series, ``(L−1)·(prev+next)/2`` — so the whole
    computation stays in exact decimals with ZERO per-slot divisions or
    high-precision rounding of large doubles (the half-boundary
    misround trap the per-slot formulation hits). One lead window over
    the calendar-bounded hourly relation per type; no grid explode
    needed for the summary."""
    ensure_views(spark, sf_dir)
    hourly = (
        spark.table("events")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.sum(F.col("value").cast("decimal(38,6)")).alias("v"))
    )
    wn = W.partitionBy("event_type").orderBy("h")
    t = hourly.select(
        "event_type",
        "h",
        "v",
        F.lead("h").over(wn).alias("_nh"),
        F.lead("v").over(wn).alias("_nv"),
    )
    gap_hours = (
        (F.unix_timestamp("_nh") - F.unix_timestamp("h")) / F.lit(3600)
    ).cast("decimal(10,0)")
    fill_cnt = F.when(F.col("_nh").isNotNull(), gap_hours - 1).otherwise(
        F.lit(0).cast("decimal(10,0)")
    )
    # (L-1)*(v+nv)/2 exactly: multiply by 0.5 as DECIMAL(1,1) -> scale 7
    gap_mass = (
        ((F.col("v") + F.col("_nv")) * fill_cnt.cast("decimal(19,0)")).cast(
            "decimal(38,6)"
        )
        * F.lit(0.5).cast("decimal(1,1)")
    )
    return (
        t.groupBy("event_type")
        .agg(
            (
                (
                    (F.max("h").cast("long") - F.min("h").cast("long"))
                    / F.lit(3600)
                ).cast("long")
                + F.lit(1)
            ).alias("n_slots"),
            F.count(F.lit(1)).cast("long").alias("n_observed"),
            F.sum(fill_cnt).cast("long").alias("n_filled"),
            F.sum("v").cast("double").alias("observed_mass"),
            F.coalesce(
                F.sum(F.when(F.col("_nh").isNotNull(), gap_mass)),
                F.lit(0).cast("decimal(38,7)"),
            )
            .cast("double")
            .alias("filled_mass"),
        )
        .orderBy("event_type")
    )


INTERP_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS v
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), t AS (
  SELECT event_type, h, v,
         lead(h) OVER (PARTITION BY event_type ORDER BY h) AS nh,
         lead(v) OVER (PARTITION BY event_type ORDER BY h) AS nv
  FROM hourly
), g AS (
  SELECT event_type, h, v, nh, nv,
         CASE WHEN nh IS NOT NULL
              THEN CAST(date_diff('hour', h, nh) - 1 AS DECIMAL(10,0))
              ELSE CAST(0 AS DECIMAL(10,0)) END AS fill_cnt
  FROM t
)
SELECT event_type,
       CAST(date_diff('hour', MIN(h), MAX(h)) + 1 AS BIGINT) AS n_slots,
       CAST(COUNT(*) AS BIGINT) AS n_observed,
       CAST(SUM(fill_cnt) AS BIGINT) AS n_filled,
       CAST(SUM(v) AS DOUBLE) AS observed_mass,
       CAST(COALESCE(SUM(CASE WHEN nh IS NOT NULL THEN
                       CAST(CAST((v + nv) * CAST(fill_cnt AS DECIMAL(19,0))
                                 AS DECIMAL(38,6)) * CAST(0.5 AS DECIMAL(1,1))
                            AS DECIMAL(38,7)) END),
                     0) AS DOUBLE) AS filled_mass
FROM g GROUP BY event_type ORDER BY event_type
"""


register(events_hourly_interpolation, INTERP_SQL)


def interarrival_ks_exponential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample Kolmogorov-Smirnov test of the pooled per-user
    interarrival gaps against the fitted exponential (rate = 1/mean):
    "is arrival really Poisson?" — the distributional companion to
    user_interarrival_burstiness's CV summary. Exact integer-microsecond
    gaps ride the stitched bucketed ECDF (no single-partition window);
    the theoretical CDF ``1 − exp(−x/mean)`` is O(1)-scale so its
    round-9 terms are cross-engine safe. Returns one row
    ``(n_gaps, mean_gap_s, ks_stat, at_gap_us)``."""
    from onetl_spark.operators.ranking import stitched_cumsums

    ensure_views(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    t = (
        spark.table("events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts")).alias("us"),
        )
    )
    gaps = (
        t.select((F.col("us") - F.lag("us").over(w)).alias("_v"))
        .filter(F.col("_v").isNotNull())
    )
    counts = (
        gaps.groupBy("_v")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .localCheckpoint(eager=False)
    )
    tot = counts.agg(
        F.sum("_cnt").alias("_n"),
        F.sum(F.col("_v").cast("decimal(38,0)") * F.col("_cnt").cast("decimal(38,0)"))
        .alias("_sg"),
    ).collect()[0]
    n, sg = tot["_n"], int(tot["_sg"])
    if not n:
        raise ValueError("interarrival_ks_exponential: no gaps")
    mean = float(sg) / float(n)
    stitched, _ = stitched_cumsums(counts, "_v", ("_cnt",))
    fx = F.lit(1.0) - F.exp(-(F.col("_v").cast("double") / F.lit(mean)))
    nn = F.lit(float(n))
    d_hi = F.abs(F.col("_cum__cnt").cast("double") / nn - fx)
    d_lo = F.abs((F.col("_cum__cnt") - F.col("_cnt")).cast("double") / nn - fx)
    d = stitched.select(
        "_v", F.round(F.greatest(d_hi, d_lo), 9).alias("_d")
    )
    best = d.agg(
        F.max(
            F.struct(F.col("_d"), (-F.col("_v")).alias("_nv"), F.col("_v").alias("_at"))
        ).alias("_b")
    )
    return best.select(
        F.lit(n).cast("long").alias("n_gaps"),
        F.round(F.lit(mean) / F.lit(1000000.0), 6).alias("mean_gap_s"),
        F.col("_b._d").alias("ks_stat"),
        F.col("_b._at").cast("long").alias("at_gap_us"),
    )


KS_EXPON_SQL = """
WITH t AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), g AS (
  SELECT us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS v
  FROM t
), c AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM g WHERE v IS NOT NULL GROUP BY v
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(CAST(v AS DECIMAL(38,0)) * CAST(cnt AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS sg
  FROM c
), ecdf AS (
  SELECT v, cnt,
         SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum
  FROM c
), d AS (
  SELECT v,
         round(greatest(
           abs(CAST(cum AS DOUBLE) / CAST(tot.n AS DOUBLE)
               - (1.0 - exp(-(CAST(v AS DOUBLE)
                              / (CAST(sg AS DOUBLE) / CAST(tot.n AS DOUBLE)))))),
           abs(CAST(cum - cnt AS DOUBLE) / CAST(tot.n AS DOUBLE)
               - (1.0 - exp(-(CAST(v AS DOUBLE)
                              / (CAST(sg AS DOUBLE) / CAST(tot.n AS DOUBLE))))))
         ), 9) AS d
  FROM ecdf CROSS JOIN tot
)
SELECT tot.n AS n_gaps,
       round((CAST(sg AS DOUBLE) / CAST(tot.n AS DOUBLE)) / 1000000.0, 6)
         AS mean_gap_s,
       (SELECT MAX(d) FROM d) AS ks_stat,
       CAST((SELECT MIN(v) FROM d WHERE d = (SELECT MAX(d) FROM d)) AS BIGINT)
         AS at_gap_us
FROM tot
"""

register(interarrival_ks_exponential, KS_EXPON_SQL)


_QQ_Z = {
    1: -1.2815515655446004,
    2: -0.8416212335729142,
    3: -0.5244005127080407,
    4: -0.2533471031357997,
    5: 0.0,
    6: 0.2533471031357997,
    7: 0.5244005127080409,
    8: 0.8416212335729143,
    9: 1.2815515655446004,
}


def events_value_qq_normal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normal QQ decile gaps for event value: exact type-1 empirical
    deciles (smallest value whose global cumulative count reaches
    ``ceil(p·n)`` — integer rank formula, no interpolation) against the
    fitted-normal theoretical quantiles ``μ + σ·z_p`` with PINNED z
    literals — the tail-shape diagnostic that says WHERE normality
    fails, complementing events_value_jarque_bera's single statistic.
    Distinct-value ECDF on the stitched bucketed scaffold; μ/σ from
    exact decimal moments."""
    from onetl_spark.operators.ranking import stitched_cumsums

    ensure_views(spark, sf_dir)
    v = F.col("value").cast("double")
    base = spark.table("events").filter(v.isNotNull()).select(v.alias("_v"))
    counts = (
        base.groupBy("_v").agg(F.count(F.lit(1)).alias("_cnt")).localCheckpoint(
            eager=False
        )
    )
    m = base.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_v").cast("decimal(38,6)")).cast("double").alias("_s"),
        F.sum((F.col("_v") * F.col("_v")).cast("decimal(38,6)"))
        .cast("double")
        .alias("_q"),
    ).collect()[0]
    n = m["_n"]
    if n < 2:
        raise ValueError("events_value_qq_normal: need at least 2 values")
    stitched, _ = stitched_cumsums(counts, "_v", ("_cnt",))
    aggs = []
    for p10 in sorted(_QQ_Z):
        k = (n * p10 + 9) // 10
        aggs.append(
            F.min(F.when(F.col("_cum__cnt") >= F.lit(k), F.col("_v"))).alias(
                f"_e{p10}"
            )
        )
    # the 9 per-decile branches below each re-reference this 1-row
    # aggregate; materialize it once or every branch replays the stitched
    # cumsum windows (measured: 18 Window nodes in the un-checkpointed plan)
    emp = stitched.agg(*aggs).localCheckpoint(eager=False)
    nn = F.lit(float(n))
    mu = F.lit(m["_s"]) / nn
    var = (F.lit(m["_q"]) - F.lit(m["_s"]) * F.lit(m["_s"]) / nn) / (nn - F.lit(1.0))
    sigma = F.sqrt(var)
    rows = None
    for p10, z in sorted(_QQ_Z.items()):
        theo = mu + sigma * F.lit(z)
        r = emp.select(
            F.lit(p10 * 10).alias("pct"),
            F.round(F.col(f"_e{p10}"), 6).alias("empirical_q"),
            F.round(theo, 6).alias("theoretical_q"),
            F.round(F.col(f"_e{p10}") - theo, 6).alias("gap"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows.orderBy("pct")


QQ_NORMAL_SQL = """
WITH base AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL
), c AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM base GROUP BY v
), m AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(CAST(v AS DECIMAL(38,6)) * cnt) AS DOUBLE) AS s,
         CAST(SUM(CAST(v * v AS DECIMAL(38,6)) * cnt) AS DOUBLE) AS q
  FROM c
), ecdf AS (
  SELECT v, SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum
  FROM c
), emp AS (
  SELECT p.p10,
         MIN(CASE WHEN ecdf.cum >= (m.n * p.p10 + 9) // 10 THEN ecdf.v END) AS e
  FROM ecdf CROSS JOIN m
  CROSS JOIN (SELECT unnest(range(1, 10)) AS p10) p
  GROUP BY p.p10
), z AS (
  SELECT * FROM (VALUES
    (1, -1.2815515655446004), (2, -0.8416212335729142),
    (3, -0.5244005127080407), (4, -0.2533471031357997), (5, 0.0),
    (6, 0.2533471031357997), (7, 0.5244005127080409),
    (8, 0.8416212335729143), (9, 1.2815515655446004)) t(p10, zv)
)
SELECT CAST(emp.p10 * 10 AS INTEGER) AS pct,
       round(emp.e, 6) AS empirical_q,
       round(m.s / CAST(m.n AS DOUBLE)
             + sqrt((m.q - m.s * m.s / CAST(m.n AS DOUBLE))
                    / (CAST(m.n AS DOUBLE) - 1.0)) * z.zv, 6) AS theoretical_q,
       round(emp.e - (m.s / CAST(m.n AS DOUBLE)
                      + sqrt((m.q - m.s * m.s / CAST(m.n AS DOUBLE))
                             / (CAST(m.n AS DOUBLE) - 1.0)) * z.zv), 6) AS gap
FROM emp JOIN z USING (p10) CROSS JOIN m
ORDER BY pct
"""

register(events_value_qq_normal, QQ_NORMAL_SQL)


_SES_ALPHA = 0.3
# (1-alpha)^k as PINNED literals built by repeated IEEE multiplication —
# both engines read the same numbers, so no cross-engine pow() in play
_SES_W = [1.0]
for _ in range(60):
    _SES_W.append(_SES_W[-1] * (1.0 - _SES_ALPHA))


def events_ses_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple exponential smoothing of the daily total value (α=0.3,
    init l₁=y₁) evaluated in CLOSED FORM — ``l_t = αΣ(1−α)^{t−i}y_i +
    (1−α)^{t−1}y₁`` — so the order-sensitive recursion becomes an
    order-independent weighted sum: per-day (i ≤ t) pairs over the
    calendar-bounded series, weights from a pinned literal table (no
    cross-engine pow), round-6 decimal accumulation. Returns
    ``(n_days, final_level, mae_one_step)`` — the one-step-ahead MAE is
    the smoothing-quality score."""
    ensure_views(spark, sf_dir)
    daily = (
        spark.table("events")
        .filter(F.col("value").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(dsum("value").alias("y"))
    )
    idx = daily.select(
        F.datediff(
            F.col("day"), F.lit("2024-01-01").cast("date")
        ).alias("t"),
        "y",
    ).localCheckpoint(eager=False)
    a, b = idx.alias("a"), idx.alias("b")
    t0 = idx.agg(F.min("t").alias("_t0"))
    w_arr = F.array(*[F.lit(w) for w in _SES_W])
    pairs = (
        a.join(b, F.col("b.t") <= F.col("a.t"))
        .crossJoin(F.broadcast(t0))
        .select(
            F.col("a.t").alias("t"),
            F.col("b.t").alias("i"),
            F.col("b.y").alias("yi"),
            "_t0",
        )
    )
    weight = F.when(
        F.col("i") == F.col("_t0"), F.get(w_arr, F.col("t") - F.col("i"))
    ).otherwise(F.lit(_SES_ALPHA) * F.get(w_arr, F.col("t") - F.col("i")))
    levels = pairs.groupBy("t").agg(
        F.sum(
            F.round(weight * F.col("yi"), 6).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("level")
    )
    nxt = idx.select((F.col("t") - 1).alias("t"), F.col("y").alias("y_next"))
    scored = levels.join(nxt, "t", "left")
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.max_by("level", "t"), 6).alias("final_level"),
        F.round(
            F.sum(
                F.when(
                    F.col("y_next").isNotNull(),
                    F.round(F.abs(F.col("y_next") - F.col("level")), 6).cast(
                        "decimal(38,6)"
                    ),
                )
            ).cast("double")
            / F.sum(F.when(F.col("y_next").isNotNull(), 1).otherwise(0)).cast(
                "double"
            ),
            6,
        ).alias("mae_one_step"),
    )


def _ses_sql() -> str:
    wlist = "[" + ", ".join(repr(w) for w in _SES_W) + "]"
    return f"""
WITH daily AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS y
  FROM events WHERE value IS NOT NULL GROUP BY 1
), idx AS (
  SELECT CAST(day - DATE '2024-01-01' AS BIGINT) AS t, y FROM daily
), t0 AS (SELECT MIN(t) AS t0 FROM idx),
pairs AS (
  SELECT a.t, b.t AS i, b.y AS yi, t0.t0
  FROM idx a JOIN idx b ON b.t <= a.t CROSS JOIN t0
), lv AS (
  SELECT t,
         CAST(SUM(CAST(round(
           (CASE WHEN i = t0 THEN {wlist}[CAST(t - i AS INTEGER) + 1]
                 ELSE {_SES_ALPHA!r} * {wlist}[CAST(t - i AS INTEGER) + 1] END)
           * yi, 6) AS DECIMAL(38,6))) AS DOUBLE) AS level
  FROM pairs GROUP BY t
), nxt AS (SELECT t - 1 AS t, y AS y_next FROM idx),
s AS (SELECT lv.t, lv.level, nxt.y_next FROM lv LEFT JOIN nxt USING (t))
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       round(max_by(level, t), 6) AS final_level,
       round(CAST(SUM(CASE WHEN y_next IS NOT NULL THEN
                       CAST(round(abs(y_next - level), 6) AS DECIMAL(38,6)) END)
                  AS DOUBLE)
             / CAST(SUM(CASE WHEN y_next IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE),
             6) AS mae_one_step
FROM s
"""


register(events_ses_level, _ses_sql())


def orders_month_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonality of order volume across the full
    multi-year history: per month, order count, share, and the
    chi-square contribution against a uniform-month null — the
    calendar-seasonality screen before any forecast. One bounded
    12-row aggregate; exact integer counts."""
    ensure_views(spark, sf_dir)
    g = (
        spark.table("orders")
        .groupBy(F.month("o_orderdate").alias("month"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    tot = g.agg(F.sum("n").alias("_t"), F.count(F.lit(1)).alias("_k"))
    j = g.crossJoin(F.broadcast(tot))
    exp = F.col("_t").cast("double") / F.col("_k").cast("double")
    return j.select(
        "month",
        F.col("n").cast("long").alias("n_orders"),
        F.round(F.col("n").cast("double") / F.col("_t").cast("double"), 9).alias(
            "share"
        ),
        F.round(
            (F.col("n").cast("double") - exp) * (F.col("n").cast("double") - exp)
            / exp,
            9,
        ).alias("chi2_contrib"),
    ).orderBy("month")


MONTH_SEASONALITY_SQL = """
WITH g AS (
  SELECT CAST(month(o_orderdate) AS INTEGER) AS month, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1
), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS k FROM g)
SELECT month, n AS n_orders,
       round(CAST(n AS DOUBLE) / CAST(tot.t AS DOUBLE), 9) AS share,
       round((CAST(n AS DOUBLE) - CAST(tot.t AS DOUBLE) / CAST(tot.k AS DOUBLE))
             * (CAST(n AS DOUBLE) - CAST(tot.t AS DOUBLE) / CAST(tot.k AS DOUBLE))
             / (CAST(tot.t AS DOUBLE) / CAST(tot.k AS DOUBLE)), 9) AS chi2_contrib
FROM g CROSS JOIN tot ORDER BY month
"""

register(orders_month_seasonality, MONTH_SEASONALITY_SQL)


def orders_backlog_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-of-month open-order backlog over the full history: an order
    opens at o_orderdate and closes at its LAST line-item shipment
    (max l_shipdate); the backlog is the running difference of the
    two monthly event streams — the classic operational WIP curve. One
    aggregate per stream, a cumulative sum over the calendar-bounded
    month relation (single window over ≤ ~100 rows). Emits every month
    with activity: opened, closed, and end-of-month backlog — exact
    integers."""
    ensure_views(spark, sf_dir)
    opened = (
        spark.table("orders")
        .groupBy(F.trunc("o_orderdate", "month").alias("month"))
        .agg(F.count(F.lit(1)).alias("n_opened"))
    )
    closed = (
        spark.table("lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("_closed"))
        .groupBy(F.trunc("_closed", "month").alias("month"))
        .agg(F.count(F.lit(1)).alias("n_closed"))
    )
    m = opened.join(closed, "month", "full_outer").select(
        "month",
        F.coalesce("n_opened", F.lit(0)).alias("n_opened"),
        F.coalesce("n_closed", F.lit(0)).alias("n_closed"),
    )
    w = W.orderBy("month").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        m.withColumn(
            "backlog", F.sum(F.col("n_opened") - F.col("n_closed")).over(w)
        )
        .select(
            F.col("month").cast("string").alias("month"),
            F.col("n_opened").cast("long").alias("n_opened"),
            F.col("n_closed").cast("long").alias("n_closed"),
            F.col("backlog").cast("long").alias("backlog"),
        )
        .orderBy("month")
    )


BACKLOG_SQL = """
WITH opened AS (
  SELECT date_trunc('month', o_orderdate) AS month, CAST(COUNT(*) AS BIGINT) AS n_opened
  FROM orders GROUP BY 1
), per_order AS (
  SELECT l_orderkey, MAX(l_shipdate) AS closed FROM lineitem GROUP BY l_orderkey
), closed AS (
  SELECT date_trunc('month', closed) AS month, CAST(COUNT(*) AS BIGINT) AS n_closed
  FROM per_order GROUP BY 1
), m AS (
  SELECT COALESCE(opened.month, closed.month) AS month,
         COALESCE(n_opened, 0) AS n_opened,
         COALESCE(n_closed, 0) AS n_closed
  FROM opened FULL OUTER JOIN closed ON opened.month = closed.month
)
SELECT CAST(CAST(month AS DATE) AS VARCHAR) AS month,
       n_opened, n_closed,
       CAST(SUM(n_opened - n_closed) OVER (ORDER BY month ROWS BETWEEN
            UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS backlog
FROM m ORDER BY month
"""

register(orders_backlog_curve, BACKLOG_SQL)


def order_brand_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets at the brand level — the Apriori join step
    (Agrawal & Srikant VLDB'94) one level above `order_basket_lift_rules`
    pairs. Per-order distinct brand sets are generated once, pruned by a
    broadcast semi-join against support-frequent singletons (the Apriori
    monotonicity cut: no infrequent item appears in a frequent triple),
    then the ordered three-way self-equi-join on the order key emits each
    candidate triple exactly once (b1 < b2 < b3). Fan-out per basket is
    C(k,3) of its DISTINCT-brand size k (~4 in TPC-H), independent of
    corpus size, and the support filter is exact integer arithmetic
    (cnt·1000 ≥ 3·n_orders ⇔ support ≥ 0.3%). Top rows by support."""
    ensure_views(spark, sf_dir)
    ob = (
        spark.table("lineitem")
        .join(
            spark.table("part").select("p_partkey", "p_brand"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .distinct()
        # (order, brand)-sized; feeds the order count, the frequent-
        # singleton filter AND the pruned basket relation — without the
        # checkpoint each reference re-ran the lineitem⋈part join+distinct
        # (the before-plan scanned the base tables 24x)
        .localCheckpoint(eager=False)
    )
    n_orders = ob.select("ok").distinct().count()
    f1 = (
        ob.groupBy("b")
        .agg(F.count(F.lit(1)).alias("n1"))
        .filter(F.col("n1") * 1000 >= 3 * F.lit(n_orders))
        .select("b")
    )
    # the Apriori triple join reads this three times (a/c/d)
    obf = ob.join(F.broadcast(f1), "b").select("ok", "b").localCheckpoint(eager=False)
    a = obf.select("ok", F.col("b").alias("b1"))
    c = obf.select("ok", F.col("b").alias("b2"))
    d = obf.select("ok", F.col("b").alias("b3"))
    triples = (
        a.join(c, "ok")
        .filter(F.col("b1") < F.col("b2"))
        .join(d, "ok")
        .filter(F.col("b2") < F.col("b3"))
        .groupBy("b1", "b2", "b3")
        .agg(F.count(F.lit(1)).alias("n_orders_with"))
        .filter(F.col("n_orders_with") * 1000 >= 3 * F.lit(n_orders))
    )
    return (
        triples.select(
            "b1",
            "b2",
            "b3",
            F.col("n_orders_with").cast("long").alias("n_orders_with"),
            F.round(
                F.col("n_orders_with").cast("double") / F.lit(float(n_orders)), 9
            ).alias("support"),
        )
        .orderBy(F.col("n_orders_with").desc(), "b1", "b2", "b3")
        .limit(150)
    )


BRAND_TRIPLES_SQL = """
WITH ob AS (
  SELECT DISTINCT l_orderkey AS ok, p_brand AS b
  FROM lineitem JOIN part ON p_partkey = l_partkey
), no AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM ob),
f1 AS (
  SELECT b FROM ob CROSS JOIN no GROUP BY b, no.n
  HAVING COUNT(*) * 1000 >= 3 * no.n
), obf AS (SELECT ok, b FROM ob WHERE b IN (SELECT b FROM f1)),
-- equality on ok stays ALONE in each ON clause, inequalities in WHERE:
-- with "ON a.ok = c.ok AND a.b < c.b" DuckDB chose a PIECEWISE_MERGE_JOIN
-- on the INEQUALITY (a cross-order range join, quadratic in the corpus —
-- the r11 sf0.3 600s ceiling); split this way it hash-joins on ok and
-- the basket-local C(k,3) fan-out stays linear
p2 AS (
  SELECT a.ok, a.b AS b1, c.b AS b2
  FROM obf a JOIN obf c ON a.ok = c.ok
  WHERE a.b < c.b
),
t AS (
  SELECT p2.b1, p2.b2, d.b AS b3, CAST(COUNT(*) AS BIGINT) AS n_orders_with
  FROM p2 JOIN obf d ON p2.ok = d.ok
  WHERE p2.b2 < d.b
  GROUP BY 1, 2, 3
)
SELECT b1, b2, b3, n_orders_with,
       round(CAST(n_orders_with AS DOUBLE) / no.n, 9) AS support
FROM t CROSS JOIN no
WHERE n_orders_with * 1000 >= 3 * no.n
ORDER BY n_orders_with DESC, b1, b2, b3
LIMIT 150
"""

register(order_brand_triples, BRAND_TRIPLES_SQL)


def user_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship (MDM record fusion): one fused row per
    user, each attribute surviving by its own rule — recency for the
    last state (max_by over the (ts, event_id) struct — the same trick
    as the CDC snapshot), most-recent-NON-NULL for the value field
    (survivorship's "last known good"), and modal event_type with a
    deterministic lexicographic tie-break. One grouped aggregate over
    the full log plus one type-bounded modal aggregate — no per-key
    windows, no driver loop; exactly the fuse step a 100-TB identity
    pipeline runs after match/merge."""
    ensure_views(spark, sf_dir)
    ev = spark.table("events")
    base = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.max_by("event_type", F.struct("ts", "event_id")).alias("last_type"),
        F.round(
            F.max_by(
                F.when(F.col("value").isNotNull(), F.col("value")),
                F.when(
                    F.col("value").isNotNull(), F.struct("ts", "event_id")
                ),
            ),
            6,
        ).alias("last_value"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
    )
    tc = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("_n")
    )
    modal = tc.groupBy("user_id").agg(
        F.min(
            F.struct((-F.col("_n")).alias("_neg"), F.col("event_type"))
        )["event_type"].alias("modal_type")
    )
    return base.join(modal, "user_id").orderBy("user_id")


GOLDEN_RECORD_SQL = """
WITH base AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_records,
         MIN(CAST(ts AS TIMESTAMP)) AS first_seen,
         MAX(CAST(ts AS TIMESTAMP)) AS last_seen,
         MAX(struct_pack(t := CAST(ts AS TIMESTAMP), e := event_id,
                         v := event_type))['v'] AS last_type,
         round(MAX(struct_pack(t := CAST(ts AS TIMESTAMP), e := event_id,
                               v := value))
               FILTER (WHERE value IS NOT NULL)['v'], 6) AS last_value,
         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
  FROM events GROUP BY user_id
), tc AS (
  SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2
), modal AS (
  SELECT user_id,
         MIN(struct_pack(neg := -n, t := event_type))['t'] AS modal_type
  FROM tc GROUP BY user_id
)
SELECT base.*, modal.modal_type
FROM base JOIN modal USING (user_id) ORDER BY user_id
"""

register(user_golden_record, GOLDEN_RECORD_SQL)


_PERM_B = 200


def events_value_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed randomization (approximate permutation) test of the
    purchase-vs-click mean value gap: the pooled values are relabeled
    {_PERM_B}× by the portable nonlinear integer mix (llm/text.py mix31;
    B×n md5-of-string calls would dominate the runtime) — fully
    deterministic, identical on every engine and every cluster size —
    and the two-sided p-value is (1 + #{|d_b| ≥ |d_obs|}) / (B+1)
    (Phipson-Smyth add-one). The explode is map-side (rows × B partial-
    aggregated before any shuffle: one groupBy(b) over B·n rows → B
    rows), so the whole test is one scan + one bounded shuffle — the
    scale-correct way to get exact-inference p-values without SciPy.
    Per-relabel means use round-6 decimal term accumulation on BOTH
    engines, making every |d_b| ≥ |d_obs| comparison bit-stable."""
    ensure_views(spark, sf_dir)
    pool = (
        spark.table("events")
        .filter(
            F.col("event_type").isin("purchase", "click")
            & F.col("value").isNotNull()
        )
        .select(
            "event_id",
            (F.col("event_type") == "purchase").cast("int").alias("is_p"),
            F.round("value", 6).cast("decimal(38,6)").alias("v"),
        )
    )
    obs = pool.agg(
        F.sum(F.when(F.col("is_p") == 1, F.col("v"))).alias("s1"),
        F.sum(F.when(F.col("is_p") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("is_p") == 0, F.col("v"))).alias("s0"),
        F.sum(F.when(F.col("is_p") == 0, 1).otherwise(0)).alias("n0"),
    ).select(
        (
            F.col("s1").cast("double") / F.col("n1").cast("double")
            - F.col("s0").cast("double") / F.col("n0").cast("double")
        ).alias("d_obs"),
        F.col("n1").cast("long").alias("n_purchase"),
        F.col("n0").cast("long").alias("n_click"),
    )
    from onetl_spark.llm.text import mix31

    h = mix31(F.col("event_id"), F.col("b"))
    perm = (
        pool.select(
            "event_id",
            "v",
            F.explode(F.sequence(F.lit(1), F.lit(_PERM_B))).alias("b"),
        )
        .select("b", "v", (h % 2).alias("g"))
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("g") == 1, F.col("v"))).alias("s1"),
            F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("n1"),
            F.sum(F.when(F.col("g") == 0, F.col("v"))).alias("s0"),
            F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).alias("n0"),
        )
        .select(
            (
                F.col("s1").cast("double") / F.col("n1").cast("double")
                - F.col("s0").cast("double") / F.col("n0").cast("double")
            ).alias("d_b")
        )
    )
    tail = perm.crossJoin(F.broadcast(obs)).agg(
        F.sum(
            F.when(F.abs(F.col("d_b")) >= F.abs(F.col("d_obs")), 1).otherwise(0)
        ).alias("n_exceed")
    )
    return tail.crossJoin(F.broadcast(obs)).select(
        F.col("n_purchase"),
        F.col("n_click"),
        F.round(F.col("d_obs"), 6).alias("mean_diff_obs"),
        F.lit(_PERM_B).cast("long").alias("n_permutations"),
        F.col("n_exceed").cast("long").alias("n_exceed"),
        F.round(
            (F.col("n_exceed") + 1).cast("double") / F.lit(float(_PERM_B + 1)),
            6,
        ).alias("p_value"),
    )


PERMUTATION_SQL = f"""
WITH pool AS (
  SELECT event_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
         CAST(round(value, 6) AS DECIMAL(38,6)) AS v
  FROM events
  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
), obs AS (
  SELECT CAST(SUM(CASE WHEN is_p = 1 THEN v END) AS DOUBLE)
           / CAST(SUM(CASE WHEN is_p = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         - CAST(SUM(CASE WHEN is_p = 0 THEN v END) AS DOUBLE)
           / CAST(SUM(CASE WHEN is_p = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS d_obs,
         CAST(SUM(CASE WHEN is_p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
         CAST(SUM(CASE WHEN is_p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_click
  FROM pool
), perm AS (
  SELECT b,
         CAST(SUM(CASE WHEN g = 1 THEN v END) AS DOUBLE)
           / CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         - CAST(SUM(CASE WHEN g = 0 THEN v END) AS DOUBLE)
           / CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS d_b
  FROM (
    SELECT p.v, t.b,
           {mix31_sql('p.event_id', 't.b')} % 2 AS g
    FROM pool p CROSS JOIN (SELECT unnest(range(1, {_PERM_B + 1})) AS b) t
  ) GROUP BY b
), tail AS (
  SELECT CAST(SUM(CASE WHEN abs(d_b) >= abs(obs.d_obs) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_exceed
  FROM perm CROSS JOIN obs
)
SELECT obs.n_purchase, obs.n_click,
       round(obs.d_obs, 6) AS mean_diff_obs,
       CAST({_PERM_B} AS BIGINT) AS n_permutations,
       tail.n_exceed,
       round(CAST(tail.n_exceed + 1 AS DOUBLE) / {float(_PERM_B + 1)!r}, 6) AS p_value
FROM tail CROSS JOIN obs
"""

register(events_value_permutation_test, PERMUTATION_SQL)


_HOLT_A, _HOLT_B = 0.3, 0.1


def events_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (double exponential) smoothing of the daily total
    value — level AND trend, extending `events_ses_level`. The daily
    series is calendar-bounded (≤ a few hundred rows at ANY corpus
    scale), so after one distributed aggregate the recursion
    ``l_t = αy_t + (1−α)(l_{t−1}+b_{t−1});  b_t = β(l_t−l_{t−1}) +
    (1−β)b_{t−1}`` (init l₁=y₁, b₁=0) runs as a single left-to-right
    ``F.aggregate`` fold over the sorted array — the oracle replays the
    identical double-arithmetic sequence with a recursive CTE, so every
    intermediate is bit-identical. Emits final level/trend, the h=3
    forecast, and the one-step-ahead MAE."""
    ensure_views(spark, sf_dir)
    daily = (
        spark.table("events")
        .filter(F.col("value").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(dsum("value").alias("y"))
    )
    arr = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "y"))).alias("s")
    )
    A, B = _HOLT_A, _HOLT_B
    init = F.struct(
        F.lit(0).cast("long").alias("n"),
        F.lit(0.0).alias("l"),
        F.lit(0.0).alias("b"),
        F.lit(0.0).alias("errsum"),
    )

    def step(acc, x):
        first = acc["n"] == 0
        l_new = F.lit(A) * x["y"] + F.lit(1 - A) * (acc["l"] + acc["b"])
        b_new = F.lit(B) * (l_new - acc["l"]) + F.lit(1 - B) * acc["b"]
        return F.struct(
            (acc["n"] + 1).alias("n"),
            F.when(first, x["y"]).otherwise(l_new).alias("l"),
            F.when(first, F.lit(0.0)).otherwise(b_new).alias("b"),
            F.when(first, F.lit(0.0))
            .otherwise(acc["errsum"] + F.abs(x["y"] - (acc["l"] + acc["b"])))
            .alias("errsum"),
        )

    out = arr.select(F.aggregate("s", init, step).alias("r"))
    return out.select(
        F.col("r.n").cast("long").alias("n_days"),
        F.round("r.l", 4).alias("final_level"),
        F.round("r.b", 4).alias("final_trend"),
        F.round(F.col("r.l") + 3 * F.col("r.b"), 4).alias("forecast_h3"),
        F.round(
            F.col("r.errsum") / (F.col("r.n") - 1).cast("double"), 4
        ).alias("mae_one_step"),
    )


def _holt_sql() -> str:
    A, B = _HOLT_A, _HOLT_B
    return f"""
WITH RECURSIVE daily AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS y
  FROM events WHERE value IS NOT NULL GROUP BY 1
), s AS (
  SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, y FROM daily
), rec AS (
  SELECT 1 AS i, y AS l, CAST(0.0 AS DOUBLE) AS b,
         CAST(0.0 AS DOUBLE) AS errsum FROM s WHERE i = 1
  UNION ALL
  SELECT r.i + 1,
         {A!r} * s.y + {1 - A!r} * (r.l + r.b),
         {B!r} * (({A!r} * s.y + {1 - A!r} * (r.l + r.b)) - r.l)
           + {1 - B!r} * r.b,
         r.errsum + abs(s.y - (r.l + r.b))
  FROM rec r JOIN s ON s.i = r.i + 1
)
SELECT CAST(i AS BIGINT) AS n_days,
       round(l, 4) AS final_level,
       round(b, 4) AS final_trend,
       round(l + 3 * b, 4) AS forecast_h3,
       round(errsum / CAST(i - 1 AS DOUBLE), 4) AS mae_one_step
FROM rec ORDER BY i DESC LIMIT 1
"""


register(events_holt_trend, _holt_sql())


def orders_cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multidimensional CUBE over (priority, status) with grouping_id —
    all four aggregation granularities (detail, two marginals, grand
    total) in ONE pass: Spark expands the cube map-side into partial
    aggregates, so the cost is one scan + one shuffle regardless of how
    many grouping sets the cube spans. Decimal revenue sums keep the
    subtotal/total identity exact (children sum bit-exactly to
    parents)."""
    ensure_views(spark, sf_dir)
    out = (
        spark.table("orders")
        .cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("_rev"),
        )
    )
    return out.select(
        F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
        F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
        "gid",
        "n_orders",
        # exact decimal sum internally; DOUBLE at the output boundary
        F.col("_rev").cast("decimal(38,2)").cast("double").alias("revenue"),
    ).orderBy("gid", "priority", "status")


CUBE_SQL = """
SELECT COALESCE(o_orderpriority, '(all)') AS priority,
       COALESCE(o_orderstatus, '(all)') AS status,
       CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DECIMAL(38,2)) AS DOUBLE) AS revenue
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
ORDER BY gid, priority, status
"""

register(orders_cube_priority_status, CUBE_SQL)


def brand_ranking_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality eval — NDCG@10 and reciprocal rank per brand:
    the "system ranking" orders each brand's parts by retail price
    (desc, partkey tie-break) and graded relevance is the pinned
    deterministic mapping rel = p_size % 4 ∈ {0..3}. DCG terms
    (2^rel − 1)/log2(pos+1) are round-9 decimal-accumulated; the ideal
    ranking re-ranks by rel desc (term values depend only on the rel
    multiset, so ties are value-free). The retrieval/recsys eval every
    search pipeline needs, expressed as two brand-keyed windows + one
    grouped aggregate — at 100 TB each brand shuffles once and only
    rank ≤ 10 rows survive to the aggregate."""
    ensure_views(spark, sf_dir)
    p = spark.table("part").select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        (F.col("p_size") % 4).cast("int").alias("rel"),
    )
    w_sys = W.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    w_ideal = W.partitionBy("p_brand").orderBy(
        F.col("rel").desc(), F.col("p_partkey").asc()
    )
    ranked = p.select(
        "p_brand",
        "rel",
        F.row_number().over(w_sys).alias("pos_s"),
        F.row_number().over(w_ideal).alias("pos_i"),
    ).filter((F.col("pos_s") <= 10) | (F.col("pos_i") <= 10))
    gain = F.pow(F.lit(2.0), F.col("rel")) - 1
    term_s = F.when(
        F.col("pos_s") <= 10, gain / F.log2(F.col("pos_s") + 1)
    )
    term_i = F.when(
        F.col("pos_i") <= 10, gain / F.log2(F.col("pos_i") + 1)
    )
    agg = ranked.groupBy("p_brand").agg(
        F.sum(F.round(term_s, 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("dcg"),
        F.sum(F.round(term_i, 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("idcg"),
        F.min(F.when((F.col("rel") >= 2) & (F.col("pos_s") <= 10), F.col("pos_s")))
        .alias("_fr"),
    )
    return agg.select(
        F.col("p_brand").alias("brand"),
        F.round("dcg", 9).alias("dcg10"),
        F.round("idcg", 9).alias("idcg10"),
        F.round(
            F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg")), 9
        ).alias("ndcg10"),
        F.round(
            F.when(
                F.col("_fr").isNotNull(), F.lit(1.0) / F.col("_fr")
            ).otherwise(F.lit(0.0)),
            9,
        ).alias("rr10"),
    ).orderBy("brand")


NDCG_SQL = """
WITH p AS (
  SELECT p_brand, p_partkey, p_retailprice, CAST(p_size % 4 AS INTEGER) AS rel
  FROM part
), ranked AS (
  SELECT p_brand, rel,
         ROW_NUMBER() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey ASC) AS pos_s,
         ROW_NUMBER() OVER (PARTITION BY p_brand
                            ORDER BY rel DESC, p_partkey ASC) AS pos_i
  FROM p
), f AS (SELECT * FROM ranked WHERE pos_s <= 10 OR pos_i <= 10),
agg AS (
  SELECT p_brand,
         CAST(SUM(CAST(round(CASE WHEN pos_s <= 10 THEN
               (pow(2.0, rel) - 1) / log2(pos_s + 1) END, 9)
             AS DECIMAL(38,9))) AS DOUBLE) AS dcg,
         CAST(SUM(CAST(round(CASE WHEN pos_i <= 10 THEN
               (pow(2.0, rel) - 1) / log2(pos_i + 1) END, 9)
             AS DECIMAL(38,9))) AS DOUBLE) AS idcg,
         MIN(CASE WHEN rel >= 2 AND pos_s <= 10 THEN pos_s END) AS fr
  FROM f GROUP BY p_brand
)
SELECT p_brand AS brand,
       round(dcg, 9) AS dcg10,
       round(idcg, 9) AS idcg10,
       round(CASE WHEN idcg > 0 THEN dcg / idcg END, 9) AS ndcg10,
       round(CASE WHEN fr IS NOT NULL THEN 1.0 / fr ELSE 0.0 END, 9) AS rr10
FROM agg ORDER BY brand
"""

register(brand_ranking_ndcg, NDCG_SQL)


def events_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction on event values: rows split 70/20/10
    into train/calibration/test by the portable md5 hash (no RNG), the
    "model" is the per-event-type TRAIN mean, the conformal radius
    q_hat is the exact type-1 empirical quantile of calibration
    absolute residuals at the ceil((n+1)·0.9)-th rank (the
    finite-sample-valid split-conformal formula, Vovk et al.), and the
    TEST coverage of pred ± q_hat is reported — distribution-free
    uncertainty calibration, all in exact integer-rank arithmetic over
    a cumulative residual relation. One scan for the split + means, one
    bounded quantile pass, one test aggregate."""
    ensure_views(spark, sf_dir)
    from onetl_spark.llm.text import md5_long

    h = md5_long(F.col("event_id").cast("string"))
    ev = (
        spark.table("events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round("value", 6).cast("decimal(38,6)").alias("v"),
            (h % 10).alias("_s"),
        )
    )
    means = (
        ev.filter(F.col("_s") <= 6)
        .groupBy("event_type")
        .agg(
            (F.sum("v").cast("double") / F.count(F.lit(1))).alias("pred")
        )
    )
    resid = (
        ev.filter(F.col("_s").isin(7, 8))
        .join(F.broadcast(means), "event_type")
        .select(
            F.round(F.abs(F.col("v").cast("double") - F.col("pred")), 6).alias("r")
        )
    )
    rc = resid.groupBy("r").agg(F.count(F.lit(1)).alias("_c"))
    wcum = W.orderBy("r").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = rc.withColumn("_cum", F.sum("_c").over(wcum))
    n_row = rc.agg(F.sum("_c").alias("_n"))
    # rank k = ceil(0.9 * (n + 1)) by integer arithmetic, capped at n
    k = F.least(F.expr("(9 * (_n + 1) + 9) div 10"), F.col("_n"))
    qhat = (
        cum.crossJoin(F.broadcast(n_row))
        .agg(
            F.min(F.when(F.col("_cum") >= k, F.col("r"))).alias("q_hat"),
            F.max("_n").alias("n_cal"),
        )
    )
    test = ev.filter(F.col("_s") == 9).join(F.broadcast(means), "event_type")
    out = test.crossJoin(F.broadcast(qhat)).agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.max("n_cal").cast("long").alias("n_cal"),
        F.round(F.max("q_hat"), 6).alias("q_hat"),
        F.round(
            F.sum(
                F.when(
                    F.round(
                        F.abs(F.col("v").cast("double") - F.col("pred")), 6
                    )
                    <= F.col("q_hat"),
                    1,
                ).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("coverage"),
    )
    return out


CONFORMAL_SQL = f"""
WITH ev AS (
  SELECT event_type, CAST(round(value, 6) AS DECIMAL(38,6)) AS v,
         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
           % 10 AS s
  FROM events WHERE value IS NOT NULL
), means AS (
  SELECT event_type,
         CAST(SUM(v) AS DOUBLE) / COUNT(*) AS pred
  FROM ev WHERE s <= 6 GROUP BY event_type
), resid AS (
  SELECT round(abs(CAST(ev.v AS DOUBLE) - means.pred), 6) AS r
  FROM ev JOIN means USING (event_type) WHERE s IN (7, 8)
), rc AS (SELECT r, COUNT(*) AS c FROM resid GROUP BY r),
cum AS (
  SELECT r, SUM(c) OVER (ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cum,
         SUM(c) OVER () AS n
  FROM rc
), qh AS (
  SELECT MIN(CASE WHEN cum >= least((9 * (n + 1) + 9) // 10, n) THEN r END)
           AS q_hat,
         MAX(n) AS n_cal
  FROM cum
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(MAX(qh.n_cal) AS BIGINT) AS n_cal,
       round(MAX(qh.q_hat), 6) AS q_hat,
       round(CAST(SUM(CASE WHEN round(abs(CAST(ev.v AS DOUBLE) - means.pred), 6)
                                <= qh.q_hat THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS coverage
FROM ev JOIN means USING (event_type) CROSS JOIN qh
WHERE s = 9
"""

register(events_conformal_coverage, CONFORMAL_SQL)


_POIS_T = (
    0.36787944117144233,
    0.7357588823428847,
    0.919698602928606,
    0.9810118431238462,
    0.9963401531726563,
)


def events_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap 95% CI for the mean purchase value — the
    SCALABLE bootstrap (Chamandy et al. 2012): instead of resampling n
    rows with replacement (global coordination), every row draws an
    independent Poisson(1) replicate weight via the portable nonlinear
    integer-mix uniform (mix31) pushed through pinned inverse-CDF literals — fully deterministic,
    no RNG, embarrassingly parallel. The replicate weighted means
    (decimal-exact numerators) reduce map-side to B rows; the
    percentile CI is the exact type-1 empirical quantile pair at ranks
    ceil(0.025·B) / ceil(0.975·B) over that B-row relation."""
    ensure_views(spark, sf_dir)
    pool = (
        spark.table("events")
        .filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .select(
            "event_id", F.round("value", 6).cast("decimal(38,6)").alias("v")
        )
    )
    obs = pool.agg(
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("mean_obs"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    from onetl_spark.llm.text import mix31

    u = mix31(F.col("event_id"), F.col("b")).cast("double") / F.lit(
        2147483648.0
    )
    uu = F.col("_u")
    w = (
        F.when(uu < _POIS_T[0], 0)
        .when(uu < _POIS_T[1], 1)
        .when(uu < _POIS_T[2], 2)
        .when(uu < _POIS_T[3], 3)
        .when(uu < _POIS_T[4], 4)
        .otherwise(5)
    )
    reps = (
        pool.select(
            "event_id",
            "v",
            F.explode(F.sequence(F.lit(1), F.lit(_PERM_B))).alias("b"),
        )
        .select("v", "b", u.alias("_u"))
        .select("b", "v", w.alias("w"))
        .groupBy("b")
        .agg(
            (
                F.sum(F.col("w") * F.col("v")).cast("double")
                / F.sum("w").cast("double")
            ).alias("m")
        )
    )
    rn = F.row_number().over(W.orderBy("m"))
    ranked = reps.select("m", rn.alias("_rn"))
    k_lo = (25 * _PERM_B + 999) // 1000
    k_hi = (975 * _PERM_B + 999) // 1000
    ci = ranked.agg(
        F.min(F.when(F.col("_rn") >= k_lo, F.col("m"))).alias("lo"),
        F.min(F.when(F.col("_rn") >= k_hi, F.col("m"))).alias("hi"),
    )
    return obs.crossJoin(F.broadcast(ci)).select(
        "n",
        F.round("mean_obs", 6).alias("mean_obs"),
        F.round("lo", 6).alias("ci_lo"),
        F.round("hi", 6).alias("ci_hi"),
        F.lit(_PERM_B).cast("long").alias("n_replicates"),
    )


def _bootstrap_sql() -> str:
    t = _POIS_T
    return f"""
WITH pool AS (
  SELECT event_id, CAST(round(value, 6) AS DECIMAL(38,6)) AS v
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
), obs AS (
  SELECT CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_obs,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM pool
), reps AS (
  SELECT b,
         CAST(SUM(w * v) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS m
  FROM (
    SELECT v, b,
           CASE WHEN u < {t[0]!r} THEN 0 WHEN u < {t[1]!r} THEN 1
                WHEN u < {t[2]!r} THEN 2 WHEN u < {t[3]!r} THEN 3
                WHEN u < {t[4]!r} THEN 4 ELSE 5 END AS w
    FROM (
      SELECT p.v AS v, t.b AS b,
             CAST({mix31_sql('p.event_id', 't.b')} AS DOUBLE)
               / 2147483648.0 AS u
      FROM pool p CROSS JOIN (SELECT unnest(range(1, {_PERM_B + 1})) AS b) t
    )
  ) GROUP BY b
), ranked AS (
  SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS rn FROM reps
), ci AS (
  SELECT MIN(CASE WHEN rn >= {(25 * _PERM_B + 999) // 1000} THEN m END) AS lo,
         MIN(CASE WHEN rn >= {(975 * _PERM_B + 999) // 1000} THEN m END) AS hi
  FROM ranked
)
SELECT obs.n, round(obs.mean_obs, 6) AS mean_obs,
       round(ci.lo, 6) AS ci_lo, round(ci.hi, 6) AS ci_hi,
       CAST({_PERM_B} AS BIGINT) AS n_replicates
FROM obs CROSS JOIN ci
"""


register(events_bootstrap_mean_ci, _bootstrap_sql())


def user_rate_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage of per-user purchase
    rates (the James-Stein cure for small-n rate rankings): the prior
    (α+β) strength is fit by method of moments from the population of
    raw rates — M = (m(1−m) − v)/v with m, v the decimal-exact mean and
    variance of the per-user rates — and every user's rate shrinks to
    ``(k + M·m)/(n + M)``. Two aggregates over the per-user relation
    (one for moments, one broadcast back); no windows. Returns the 10
    largest raw-vs-shrunk movers — exactly the users a naive rate
    ranking gets wrong."""
    ensure_views(spark, sf_dir)
    per_user = (
        spark.table("events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("k"),
        )
        .select(
            "user_id",
            "n",
            "k",
            (F.col("k").cast("double") / F.col("n").cast("double")).alias("p"),
        )
    )
    mom = per_user.agg(
        (
            F.sum(F.round("p", 9).cast("decimal(38,9)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("m"),
        (
            F.sum(
                F.round(F.col("p") * F.col("p"), 9).cast("decimal(38,9)")
            ).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("m2"),
    ).select(
        "m",
        (F.col("m2") - F.col("m") * F.col("m")).alias("v"),
    ).select(
        "m",
        "v",
        F.when(
            F.col("v") > 0,
            (F.col("m") * (1 - F.col("m")) - F.col("v")) / F.col("v"),
        ).alias("bigm"),
    )
    out = per_user.crossJoin(F.broadcast(mom)).select(
        "user_id",
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.round("p", 9).alias("rate_raw"),
        F.round(
            (F.col("k").cast("double") + F.col("bigm") * F.col("m"))
            / (F.col("n").cast("double") + F.col("bigm")),
            9,
        ).alias("rate_shrunk"),
    )
    return (
        out.withColumn(
            "shift", F.round(F.abs(F.col("rate_raw") - F.col("rate_shrunk")), 9)
        )
        .orderBy(F.col("shift").desc(), F.col("user_id").asc())
        .limit(10)
    )


EB_SHRINK_SQL = """
WITH per_user AS (
  SELECT user_id, COUNT(*) AS n,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS p
  FROM events GROUP BY user_id
), mom0 AS (
  SELECT CAST(SUM(CAST(round(p, 9) AS DECIMAL(38,9))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS m,
         CAST(SUM(CAST(round(p * p, 9) AS DECIMAL(38,9))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS m2
  FROM per_user
), mom AS (
  SELECT m, m2 - m * m AS v,
         CASE WHEN m2 - m * m > 0
              THEN (m * (1 - m) - (m2 - m * m)) / (m2 - m * m) END AS bigm
  FROM mom0
)
SELECT user_id, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
       round(p, 9) AS rate_raw,
       round((CAST(k AS DOUBLE) + bigm * m) / (CAST(n AS DOUBLE) + bigm), 9)
         AS rate_shrunk,
       round(abs(round(p, 9)
                 - round((CAST(k AS DOUBLE) + bigm * m)
                         / (CAST(n AS DOUBLE) + bigm), 9)), 9) AS shift
FROM per_user CROSS JOIN mom
ORDER BY shift DESC, user_id ASC
LIMIT 10
"""

register(user_rate_eb_shrinkage, EB_SHRINK_SQL)


_DID_SPLIT_DAY = "2024-01-16"


def events_did_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate of the per-event value gap:
    users split into treat/control by the portable md5 hash (a synthetic
    assignment — the showcase is the ESTIMATOR shape), periods split at
    a pinned calendar date. The 2×2 cell means use decimal-exact
    numerators; DiD = (T,post − T,pre) − (C,post − C,pre) in one pinned
    double expression. One grouped aggregate + a 1-row epilogue — the
    canonical quasi-experimental readout at any scale."""
    ensure_views(spark, sf_dir)
    from onetl_spark.llm.text import md5_long

    ev = (
        spark.table("events")
        .filter(F.col("value").isNotNull())
        .select(
            (md5_long(F.col("user_id").cast("string")) % 2).alias("treat"),
            (F.col("ts").cast("date") >= F.lit(_DID_SPLIT_DAY).cast("date"))
            .cast("int")
            .alias("post"),
            F.round("value", 6).cast("decimal(38,6)").alias("v"),
        )
    )
    cells = ev.groupBy("treat", "post").agg(
        (F.sum("v").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "mean_v"
        ),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    agg = cells.agg(
        F.max(F.when((F.col("treat") == 1) & (F.col("post") == 1), F.col("mean_v"))).alias("t_post"),
        F.max(F.when((F.col("treat") == 1) & (F.col("post") == 0), F.col("mean_v"))).alias("t_pre"),
        F.max(F.when((F.col("treat") == 0) & (F.col("post") == 1), F.col("mean_v"))).alias("c_post"),
        F.max(F.when((F.col("treat") == 0) & (F.col("post") == 0), F.col("mean_v"))).alias("c_pre"),
        F.sum("n").cast("long").alias("n_total"),
    )
    return agg.select(
        F.round("t_pre", 6).alias("t_pre"),
        F.round("t_post", 6).alias("t_post"),
        F.round("c_pre", 6).alias("c_pre"),
        F.round("c_post", 6).alias("c_post"),
        F.round(
            (F.col("t_post") - F.col("t_pre"))
            - (F.col("c_post") - F.col("c_pre")),
            6,
        ).alias("did_estimate"),
        "n_total",
    )


DID_SQL = f"""
WITH ev AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2
           AS treat,
         CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE) >= DATE '{_DID_SPLIT_DAY}'
              THEN 1 ELSE 0 END AS post,
         CAST(round(value, 6) AS DECIMAL(38,6)) AS v
  FROM events WHERE value IS NOT NULL
), cells AS (
  SELECT treat, post,
         CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_v,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ev GROUP BY treat, post
), agg AS (
  SELECT MAX(CASE WHEN treat = 1 AND post = 1 THEN mean_v END) AS t_post,
         MAX(CASE WHEN treat = 1 AND post = 0 THEN mean_v END) AS t_pre,
         MAX(CASE WHEN treat = 0 AND post = 1 THEN mean_v END) AS c_post,
         MAX(CASE WHEN treat = 0 AND post = 0 THEN mean_v END) AS c_pre,
         CAST(SUM(n) AS BIGINT) AS n_total
  FROM cells
)
SELECT round(t_pre, 6) AS t_pre, round(t_post, 6) AS t_post,
       round(c_pre, 6) AS c_pre, round(c_post, 6) AS c_post,
       round((t_post - t_pre) - (c_post - c_pre), 6) AS did_estimate,
       n_total
FROM agg
"""

register(events_did_estimate, DID_SQL)


def user_uplift_by_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift readout by targeting band: users split treat/control by
    the portable md5 hash, outcome = any post-period purchase, targeting
    score = PRE-period purchase share bucketed into pinned RATIO bands
    (integer cross-multiplication, scale-free)
    (no global quantiles — band edges are literals, so the relation
    never needs a corpus-wide sort). Per band: group sizes, purchase
    rates (exact integer numerators), and the uplift difference — the
    table an uplift model is judged against. Two grouped aggregates,
    both map-side combinable."""
    ensure_views(spark, sf_dir)
    from onetl_spark.llm.text import md5_long

    ev = spark.table("events").select(
        "user_id",
        (F.col("ts").cast("date") >= F.lit(_DID_SPLIT_DAY).cast("date"))
        .cast("int")
        .alias("post"),
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("post") == 0, 1).otherwise(0)).alias("n_pre"),
        F.sum(
            F.when((F.col("post") == 0) & (F.col("is_p") == 1), 1).otherwise(0)
        ).alias("k_pre"),
        F.max(F.when(F.col("post") == 1, F.col("is_p")).otherwise(0)).alias(
            "converted"
        ),
    )
    # scale-free targeting score: PRE-period purchase share (integer
    # cross-multiplication — no division, no global quantiles)
    band = (
        F.when(F.col("n_pre") == 0, F.lit("a:<15%"))
        .when(F.col("k_pre") * 100 < F.col("n_pre") * 15, F.lit("a:<15%"))
        .when(F.col("k_pre") * 100 < F.col("n_pre") * 20, F.lit("b:15-20%"))
        .when(F.col("k_pre") * 100 < F.col("n_pre") * 25, F.lit("c:20-25%"))
        .otherwise(F.lit("d:>=25%"))
    )
    scored = per_user.select(
        band.alias("band"),
        (md5_long(F.col("user_id").cast("string")) % 2).alias("treat"),
        "converted",
    )
    agg = scored.groupBy("band").agg(
        F.sum(F.when(F.col("treat") == 1, 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col("treat") == 0, 1).otherwise(0)).alias("n_c"),
        F.sum(
            F.when((F.col("treat") == 1) & (F.col("converted") == 1), 1).otherwise(0)
        ).alias("k_t"),
        F.sum(
            F.when((F.col("treat") == 0) & (F.col("converted") == 1), 1).otherwise(0)
        ).alias("k_c"),
    )
    rate_t = F.when(
        F.col("n_t") > 0, F.col("k_t").cast("double") / F.col("n_t").cast("double")
    )
    rate_c = F.when(
        F.col("n_c") > 0, F.col("k_c").cast("double") / F.col("n_c").cast("double")
    )
    return agg.select(
        "band",
        F.col("n_t").cast("long").alias("n_treat"),
        F.col("n_c").cast("long").alias("n_ctrl"),
        F.round(rate_t, 9).alias("rate_treat"),
        F.round(rate_c, 9).alias("rate_ctrl"),
        F.round(rate_t - rate_c, 9).alias("uplift"),
    ).orderBy("band")


UPLIFT_SQL = f"""
WITH ev AS (
  SELECT user_id,
         CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE) >= DATE '{_DID_SPLIT_DAY}'
              THEN 1 ELSE 0 END AS post,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
  FROM events
), per_user AS (
  SELECT user_id,
         SUM(CASE WHEN post = 0 THEN 1 ELSE 0 END) AS n_pre,
         SUM(CASE WHEN post = 0 AND is_p = 1 THEN 1 ELSE 0 END) AS k_pre,
         MAX(CASE WHEN post = 1 THEN is_p ELSE 0 END) AS converted
  FROM ev GROUP BY user_id
), scored AS (
  SELECT CASE WHEN n_pre = 0 THEN 'a:<15%'
              WHEN k_pre * 100 < n_pre * 15 THEN 'a:<15%'
              WHEN k_pre * 100 < n_pre * 20 THEN 'b:15-20%'
              WHEN k_pre * 100 < n_pre * 25 THEN 'c:20-25%'
              ELSE 'd:>=25%' END AS band,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2
           AS treat,
         converted
  FROM per_user
), agg AS (
  SELECT band,
         SUM(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS n_t,
         SUM(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS n_c,
         SUM(CASE WHEN treat = 1 AND converted = 1 THEN 1 ELSE 0 END) AS k_t,
         SUM(CASE WHEN treat = 0 AND converted = 1 THEN 1 ELSE 0 END) AS k_c
  FROM scored GROUP BY band
)
SELECT band,
       CAST(n_t AS BIGINT) AS n_treat, CAST(n_c AS BIGINT) AS n_ctrl,
       round(CASE WHEN n_t > 0 THEN CAST(k_t AS DOUBLE) / n_t END, 9) AS rate_treat,
       round(CASE WHEN n_c > 0 THEN CAST(k_c AS DOUBLE) / n_c END, 9) AS rate_ctrl,
       round(CASE WHEN n_t > 0 THEN CAST(k_t AS DOUBLE) / n_t END
             - CASE WHEN n_c > 0 THEN CAST(k_c AS DOUBLE) / n_c END, 9) AS uplift
FROM agg ORDER BY band
"""

register(user_uplift_by_band, UPLIFT_SQL)


def events_time_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity time rollup in ONE pass — GROUPING SETS over
    (day), (week), (month): the warehouse pattern that feeds daily,
    weekly and monthly dashboards from a single scan + shuffle instead
    of three jobs. Spark expands the sets map-side; grouping_id
    disambiguates the granularities. Counts and decimal value sums stay
    exact across levels (a day's children sum bit-exactly into its
    week and month)."""
    ensure_views(spark, sf_dir)
    ev = spark.table("events").select(
        F.col("ts").cast("date").alias("day"),
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        F.trunc(F.col("ts").cast("date"), "month").alias("month"),
        F.round("value", 6).cast("decimal(38,6)").alias("v"),
    )
    out = (
        ev.groupingSets(
            [["day"], ["week"], ["month"]],
            "day",
            "week",
            "month",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            # exact decimal sum internally; DOUBLE at the output boundary
            F.sum("v").cast("decimal(38,6)").cast("double").alias("total_value"),
        )
    )
    return out.select(
        F.coalesce(
            F.col("day").cast("string"),
            F.col("week").cast("string"),
            F.col("month").cast("string"),
        ).alias("bucket"),
        F.when(F.col("day").isNotNull(), "day")
        .when(F.col("week").isNotNull(), "week")
        .otherwise("month")
        .alias("grain"),
        "gid",
        "n_events",
        "total_value",
    ).orderBy("grain", "bucket")


TIME_GROUPING_SETS_SQL = """
WITH ev AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week,
         CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS DATE) AS month,
         CAST(round(value, 6) AS DECIMAL(38,6)) AS v
  FROM events
)
SELECT COALESCE(CAST(day AS VARCHAR), CAST(week AS VARCHAR),
                CAST(month AS VARCHAR)) AS bucket,
       CASE WHEN day IS NOT NULL THEN 'day'
            WHEN week IS NOT NULL THEN 'week'
            ELSE 'month' END AS grain,
       CAST(GROUPING(day, week, month) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(CAST(SUM(v) AS DECIMAL(38,6)) AS DOUBLE) AS total_value
FROM ev
GROUP BY GROUPING SETS ((day), (week), (month))
ORDER BY grain, bucket
"""

register(events_time_grouping_sets, TIME_GROUPING_SETS_SQL)


def region_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent hierarchy report — nation revenue as a share
    of its region and of the grand total, the canonical BI drill-path
    readout: ONE revenue aggregate at the leaf grain, then region and
    grand totals derive from the nation relation itself (25 rows), so
    the corpus is scanned once and every share divides exact decimal
    sums. No window over data; shares are broadcast joins of bounded
    aggregates."""
    ensure_views(spark, sf_dir)
    rev = (
        spark.table("orders")
        .join(
            spark.table("customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                spark.table("nation").select(
                    "n_nationkey", "n_name", "n_regionkey"
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(spark.table("region").select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("_rev")
        )
    )
    regional = rev.groupBy("r_name").agg(F.sum("_rev").alias("_rrev"))
    total = rev.agg(F.sum("_rev").alias("_trev"))
    return (
        rev.join(F.broadcast(regional), "r_name")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            # exact decimal sum internally; DOUBLE at the output boundary
            F.col("_rev").cast("decimal(38,2)").cast("double").alias("revenue"),
            F.round(
                F.col("_rev").cast("double") / F.col("_rrev").cast("double"), 9
            ).alias("share_of_region"),
            F.round(
                F.col("_rev").cast("double") / F.col("_trev").cast("double"), 9
            ).alias("share_of_total"),
        )
        .orderBy("region", "nation")
    )


REGION_SHARE_SQL = """
WITH rev AS (
  SELECT r_name AS region, n_name AS nation,
         SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name
), reg AS (
  SELECT region, SUM(rev) AS rrev FROM rev GROUP BY region
), tot AS (SELECT SUM(rev) AS trev FROM rev)
SELECT rev.region, rev.nation,
       CAST(CAST(rev.rev AS DECIMAL(38,2)) AS DOUBLE) AS revenue,
       round(CAST(rev.rev AS DOUBLE) / CAST(reg.rrev AS DOUBLE), 9)
         AS share_of_region,
       round(CAST(rev.rev AS DOUBLE) / CAST(tot.trev AS DOUBLE), 9)
         AS share_of_total
FROM rev JOIN reg USING (region) CROSS JOIN tot
ORDER BY region, nation
"""

register(region_nation_revenue_share, REGION_SHARE_SQL)


_PW_KNOT = 15  # day index of the pinned trend knot


def events_piecewise_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Piecewise-linear trend with a pinned knot (hinge regression,
    y ~ 1 + t + max(0, t−{_PW_KNOT})) on the daily total value — the
    changepoint-trend readout (did growth bend mid-month, and by how
    much?). All nine normal-equation moments are EXACT integers
    (micro-unit daily sums × integer day index, decimal(38,0)
    accumulation), so the 3×3 Cramer solve runs on bit-identical inputs
    in both engines with one pinned expansion order. One grouped
    aggregate + a 1-row epilogue; the daily relation is
    calendar-bounded at any corpus scale."""
    ensure_views(spark, sf_dir)
    daily = (
        spark.table("events")
        .filter(F.col("value").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            (dsum("value") * 1000000).cast("decimal(38,0)").alias("y_mu")
        )
    )
    t = F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
    h = F.greatest(t - F.lit(_PW_KNOT), F.lit(0))
    d = daily.select(
        t.cast("long").alias("t"), h.cast("long").alias("h"), "y_mu"
    )
    mo = d.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("t").cast("double").alias("st"),
        F.sum("h").cast("double").alias("sh"),
        F.sum(F.col("t") * F.col("t")).cast("double").alias("stt"),
        F.sum(F.col("t") * F.col("h")).cast("double").alias("sth"),
        F.sum(F.col("h") * F.col("h")).cast("double").alias("shh"),
        F.sum("y_mu").cast("double").alias("sy"),
        F.sum(F.col("y_mu") * F.col("t").cast("decimal(38,0)"))
        .cast("double")
        .alias("sty"),
        F.sum(F.col("y_mu") * F.col("h").cast("decimal(38,0)"))
        .cast("double")
        .alias("shy"),
        F.sum(F.col("y_mu") * F.col("y_mu")).cast("double").alias("syy"),
    )
    n, st, sh = F.col("n"), F.col("st"), F.col("sh")
    stt, sth, shh = F.col("stt"), F.col("sth"), F.col("shh")
    sy, sty, shy, syy = F.col("sy"), F.col("sty"), F.col("shy"), F.col("syy")
    det = (
        n * (stt * shh - sth * sth)
        - st * (st * shh - sth * sh)
        + sh * (st * sth - stt * sh)
    )
    b0 = (
        sy * (stt * shh - sth * sth)
        - st * (sty * shh - sth * shy)
        + sh * (sty * sth - stt * shy)
    ) / det
    b1 = (
        n * (sty * shh - sth * shy)
        - sy * (st * shh - sth * sh)
        + sh * (st * shy - sty * sh)
    ) / det
    b2 = (
        n * (stt * shy - sty * sth)
        - st * (st * shy - sty * sh)
        + sy * (st * sth - stt * sh)
    ) / det
    ss_tot = syy - sy * sy / n
    ss_res = syy - b0 * sy - b1 * sty - b2 * shy
    r2 = F.when(ss_tot > 0, 1 - ss_res / ss_tot)
    u = F.lit(1000000.0)
    return mo.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(b0 / u, 4).alias("intercept"),
        F.round(b1 / u, 4).alias("slope_pre"),
        F.round(b2 / u, 4).alias("slope_change"),
        F.round((b1 + b2) / u, 4).alias("slope_post"),
        F.round(r2, 6).alias("r2"),
    )


PIECEWISE_SQL = f"""
WITH daily AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         CAST(SUM(CAST(round(value, 6) AS DECIMAL(38,6))) * 1000000
              AS HUGEINT) AS y_mu
  FROM events WHERE value IS NOT NULL GROUP BY 1
), d AS (
  SELECT CAST(day - DATE '2024-01-01' AS BIGINT) AS t,
         CAST(greatest(day - DATE '2024-01-01' - {_PW_KNOT}, 0) AS BIGINT) AS h,
         y_mu
  FROM daily
), mo AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(t) AS DOUBLE) AS st, CAST(SUM(h) AS DOUBLE) AS sh,
         CAST(SUM(t * t) AS DOUBLE) AS stt,
         CAST(SUM(t * h) AS DOUBLE) AS sth,
         CAST(SUM(h * h) AS DOUBLE) AS shh,
         CAST(SUM(y_mu) AS DOUBLE) AS sy,
         CAST(SUM(y_mu * t) AS DOUBLE) AS sty,
         CAST(SUM(y_mu * h) AS DOUBLE) AS shy,
         CAST(SUM(y_mu * y_mu) AS DOUBLE) AS syy
  FROM d
)
SELECT CAST(n AS BIGINT) AS n_days,
       round((sy * (stt * shh - sth * sth)
              - st * (sty * shh - sth * shy)
              + sh * (sty * sth - stt * shy))
             / (n * (stt * shh - sth * sth)
                - st * (st * shh - sth * sh)
                + sh * (st * sth - stt * sh)) / 1000000.0, 4) AS intercept,
       round((n * (sty * shh - sth * shy)
              - sy * (st * shh - sth * sh)
              + sh * (st * shy - sty * sh))
             / (n * (stt * shh - sth * sth)
                - st * (st * shh - sth * sh)
                + sh * (st * sth - stt * sh)) / 1000000.0, 4) AS slope_pre,
       round((n * (stt * shy - sty * sth)
              - st * (st * shy - sty * sh)
              + sy * (st * sth - stt * sh))
             / (n * (stt * shh - sth * sth)
                - st * (st * shh - sth * sh)
                + sh * (st * sth - stt * sh)) / 1000000.0, 4) AS slope_change,
       round(((n * (sty * shh - sth * shy)
               - sy * (st * shh - sth * sh)
               + sh * (st * shy - sty * sh))
              / (n * (stt * shh - sth * sth)
                 - st * (st * shh - sth * sh)
                 + sh * (st * sth - stt * sh))
              + (n * (stt * shy - sty * sth)
                 - st * (st * shy - sty * sh)
                 + sy * (st * sth - stt * sh))
              / (n * (stt * shh - sth * sth)
                 - st * (st * shh - sth * sh)
                 + sh * (st * sth - stt * sh))) / 1000000.0, 4) AS slope_post,
       round(CASE WHEN syy - sy * sy / n > 0 THEN
         1 - (syy
              - (sy * (stt * shh - sth * sth)
                 - st * (sty * shh - sth * shy)
                 + sh * (sty * sth - stt * shy))
                / (n * (stt * shh - sth * sth)
                   - st * (st * shh - sth * sh)
                   + sh * (st * sth - stt * sh)) * sy
              - (n * (sty * shh - sth * shy)
                 - sy * (st * shh - sth * sh)
                 + sh * (st * shy - sty * sh))
                / (n * (stt * shh - sth * sth)
                   - st * (st * shh - sth * sh)
                   + sh * (st * sth - stt * sh)) * sty
              - (n * (stt * shy - sty * sth)
                 - st * (st * shy - sty * sh)
                 + sy * (st * sth - stt * sh))
                / (n * (stt * shh - sth * sth)
                   - st * (st * shh - sth * sh)
                   + sh * (st * sth - stt * sh)) * shy)
           / (syy - sy * sy / n) END, 6) AS r2
FROM mo
"""

register(events_piecewise_trend, PIECEWISE_SQL)


def events_time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution with a 1-day half-life and a
    pinned 7-day lookback: every purchase splits its credit over the
    user's click/view touches in the window, weighted ``2^(−Δdays)`` —
    exact binary rationals, so the per-conversion shares are
    bit-identical on every engine. The touch×conversion pairing is an
    equi-join on user bounded by the lookback (never an unbounded
    history join); credit totals aggregate per touch type. The third
    attribution model in the family (last-touch, U-shaped, time-decay)."""
    ensure_views(spark, sf_dir)
    ev = spark.table("events")
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("touch_type"),
    )
    convs = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("conv_id")
    )
    dd = F.datediff(F.col("c_ts").cast("date"), F.col("t_ts").cast("date"))
    paired = (
        touches.join(convs, "user_id")
        .filter(
            (F.col("t_ts") < F.col("c_ts")) & (dd >= 0) & (dd <= 7)
        )
        .select(
            "conv_id",
            "touch_type",
            F.pow(F.lit(2.0), -dd.cast("double")).alias("w"),
        )
    )
    denom = paired.groupBy("conv_id").agg(F.sum("w").alias("sw"))
    credited = paired.join(denom, "conv_id").select(
        "touch_type", (F.col("w") / F.col("sw")).alias("credit")
    )
    return (
        credited.groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.round(
                F.sum(F.round("credit", 9).cast("decimal(38,9)")).cast(
                    "double"
                ),
                6,
            ).alias("total_credit"),
        )
        .orderBy("touch_type")
    )


TIME_DECAY_SQL = """
WITH touches AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS t_ts, event_type AS touch_type
  FROM events WHERE event_type IN ('click', 'view')
), convs AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS c_ts, event_id AS conv_id
  FROM events WHERE event_type = 'purchase'
), paired AS (
  SELECT conv_id, touch_type,
         pow(2.0, -CAST(CAST(c_ts AS DATE) - CAST(t_ts AS DATE) AS DOUBLE)) AS w
  FROM touches JOIN convs USING (user_id)
  WHERE t_ts < c_ts
    AND CAST(c_ts AS DATE) - CAST(t_ts AS DATE) BETWEEN 0 AND 7
), denom AS (
  SELECT conv_id, SUM(w) AS sw FROM paired GROUP BY conv_id
)
SELECT touch_type,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       round(CAST(SUM(CAST(round(w / sw, 9) AS DECIMAL(38,9))) AS DOUBLE), 6)
         AS total_credit
FROM paired JOIN denom USING (conv_id)
GROUP BY touch_type ORDER BY touch_type
"""

register(events_time_decay_attribution, TIME_DECAY_SQL)


def events_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue bridge (volume/rate/joint decomposition) per event type
    between the two month halves — the BI answer to "WHY did revenue
    move": ``ΔR = Δn·v₁ + n₁·Δv + Δn·Δv`` (exactly additive by
    construction). Means divide exact decimal sums; the three effects
    use one pinned arithmetic order so the identity
    volume+rate+joint = ΔR holds bit-exactly on both engines. One
    grouped aggregate over the scan — no self-join of the two periods."""
    ensure_views(spark, sf_dir)
    ev = (
        spark.table("events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            (F.col("ts").cast("date") >= F.lit(_DID_SPLIT_DAY).cast("date"))
            .cast("int")
            .alias("p"),
            F.round("value", 6).cast("decimal(38,6)").alias("v"),
        )
    )
    g = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("p") == 0, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("p") == 1, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("p") == 0, F.col("v"))).alias("s1"),
        F.sum(F.when(F.col("p") == 1, F.col("v"))).alias("s2"),
    )
    v1 = F.col("s1").cast("double") / F.col("n1").cast("double")
    v2 = F.col("s2").cast("double") / F.col("n2").cast("double")
    dn = (F.col("n2") - F.col("n1")).cast("double")
    volume = dn * v1
    rate = F.col("n1").cast("double") * (v2 - v1)
    joint = dn * (v2 - v1)
    return g.select(
        "event_type",
        F.col("n1").cast("long").alias("n_before"),
        F.col("n2").cast("long").alias("n_after"),
        F.round(volume, 6).alias("volume_effect"),
        F.round(rate, 6).alias("rate_effect"),
        F.round(joint, 6).alias("joint_effect"),
        F.round(volume + rate + joint, 6).alias("delta_revenue"),
    ).orderBy("event_type")


REVENUE_BRIDGE_SQL = f"""
WITH ev AS (
  SELECT event_type,
         CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE) >= DATE '{_DID_SPLIT_DAY}'
              THEN 1 ELSE 0 END AS p,
         CAST(round(value, 6) AS DECIMAL(38,6)) AS v
  FROM events WHERE value IS NOT NULL
), g AS (
  SELECT event_type,
         SUM(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS n2,
         SUM(CASE WHEN p = 0 THEN v END) AS s1,
         SUM(CASE WHEN p = 1 THEN v END) AS s2
  FROM ev GROUP BY event_type
)
SELECT event_type,
       CAST(n1 AS BIGINT) AS n_before, CAST(n2 AS BIGINT) AS n_after,
       round(CAST(n2 - n1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / n1), 6)
         AS volume_effect,
       round(CAST(n1 AS DOUBLE) * (CAST(s2 AS DOUBLE) / n2
                                   - CAST(s1 AS DOUBLE) / n1), 6)
         AS rate_effect,
       round(CAST(n2 - n1 AS DOUBLE) * (CAST(s2 AS DOUBLE) / n2
                                        - CAST(s1 AS DOUBLE) / n1), 6)
         AS joint_effect,
       round(CAST(n2 - n1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / n1)
             + CAST(n1 AS DOUBLE) * (CAST(s2 AS DOUBLE) / n2
                                     - CAST(s1 AS DOUBLE) / n1)
             + CAST(n2 - n1 AS DOUBLE) * (CAST(s2 AS DOUBLE) / n2
                                          - CAST(s1 AS DOUBLE) / n1), 6)
         AS delta_revenue
FROM g ORDER BY event_type
"""

register(events_revenue_bridge, REVENUE_BRIDGE_SQL)


def orders_price_ending_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-ending forensics — the rounding-artifact detector the
    Benford audit doesn't cover: the CENTS distribution of order totals
    (psychological .99/.00 pricing, systematic rounding, synthetic-data
    smell). Exact integer cents via micro-unit arithmetic, the top-10
    endings by excess over the uniform 1% expectation plus an overall
    chi² against uniform — 100 bounded cells from one scan."""
    ensure_views(spark, sf_dir)
    cents = (
        F.round(F.col("o_totalprice").cast("decimal(38,2)") * 100, 0)
        .cast("long")
        % 100
    )
    g = (
        spark.table("orders")
        .select(cents.alias("cents"))
        .groupBy("cents")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = g.agg(F.sum("n").alias("_t"))
    scored = g.crossJoin(F.broadcast(tot)).select(
        "cents",
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("n").cast("double") / F.col("_t").cast("double") - 0.01, 9
        ).alias("excess_share"),
    )
    return (
        scored.orderBy(F.col("excess_share").desc(), F.col("cents").asc())
        .limit(10)
    )


PRICE_ENDING_SQL = """
WITH g AS (
  SELECT CAST(round(CAST(o_totalprice AS DECIMAL(38,2)) * 100, 0) AS BIGINT)
           % 100 AS cents,
         COUNT(*) AS n
  FROM orders GROUP BY 1
), tot AS (SELECT SUM(n) AS t FROM g)
SELECT cents, CAST(n AS BIGINT) AS n,
       round(CAST(n AS DOUBLE) / t - 0.01, 9) AS excess_share
FROM g CROSS JOIN tot
ORDER BY excess_share DESC, cents ASC
LIMIT 10
"""

register(orders_price_ending_audit, PRICE_ENDING_SQL)
