"""Temporal operator showcase: as-of join and range join over ``events``.

DuckDB's native ``ASOF JOIN`` and a plain inequality join serve as the
independent oracles. Events carry nanosecond timestamps in parquet; the
Spark side reads them truncated to microseconds (catalog.read_table), so
oracles CAST to TIMESTAMP (µs) for parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onetl_spark.operators.temporal import asof_join, range_join, scd2_intervals
from onetl_spark.showcase.registry import register
from onetl_spark.showcase.util import ensure_views


def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each 'error' event matched to the same user's most recent 'purchase'
    at or before it (classic as-of enrichment)."""
    ensure_views(spark, sf_dir)
    events = spark.table("events")
    errors = events.filter("event_type = 'error'").select("event_id", "user_id", "ts")
    purchases = events.filter("event_type = 'purchase'").select("user_id", "ts", "value")
    return asof_join(errors, purchases, on="ts", by=["user_id"]).select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_right").alias("purchase_ts"),
        F.col("value_right").alias("purchase_value"),
    )


ASOF_SQL = """
SELECT l.event_id, l.user_id, CAST(l.ts AS TIMESTAMP) AS ts,
       CAST(r.ts AS TIMESTAMP) AS purchase_ts, r.value AS purchase_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') l
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND CAST(r.ts AS TIMESTAMP) <= CAST(l.ts AS TIMESTAMP)
"""


def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of enrichment with a 2-hour tolerance (pandas ``merge_asof``
    semantics): a purchase older than 2h does NOT match — the columns go
    NULL, a nearer row is never substituted."""
    ensure_views(spark, sf_dir)
    events = spark.table("events")
    errors = events.filter("event_type = 'error'").select("event_id", "user_id", "ts")
    purchases = events.filter("event_type = 'purchase'").select("user_id", "ts", "value")
    return asof_join(
        errors, purchases, on="ts", by=["user_id"], tolerance="2 hours"
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_right").alias("purchase_ts"),
        F.col("value_right").alias("purchase_value"),
    )


ASOF_TOLERANCE_SQL = """
SELECT l.event_id, l.user_id, CAST(l.ts AS TIMESTAMP) AS ts,
       CASE WHEN CAST(r.ts AS TIMESTAMP) >= CAST(l.ts AS TIMESTAMP) - INTERVAL 2 HOUR
            THEN CAST(r.ts AS TIMESTAMP) END AS purchase_ts,
       CASE WHEN CAST(r.ts AS TIMESTAMP) >= CAST(l.ts AS TIMESTAMP) - INTERVAL 2 HOUR
            THEN r.value END AS purchase_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') l
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND CAST(r.ts AS TIMESTAMP) <= CAST(l.ts AS TIMESTAMP)
"""


def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Errors within one hour after each purchase by the same user —
    bucketed equi-join instead of an inequality join."""
    ensure_views(spark, sf_dir)
    events = spark.table("events")
    purchases = (
        events.filter("event_type = 'purchase'")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("window_end"),
        )
    )
    errors = events.filter("event_type = 'error'").select(
        F.col("event_id").alias("error_id"), "user_id", F.col("ts").alias("error_ts"),
    )
    joined = range_join(
        purchases,
        errors,
        left_lower="purchase_ts",
        left_upper="window_end",
        right_point="error_ts",
        on=["user_id"],
        bucket_width=3600,
    )
    return joined.select("purchase_id", "user_id", "purchase_ts", "error_id", "error_ts").distinct()


RANGE_SQL = """
SELECT DISTINCT p.event_id AS purchase_id, p.user_id,
       CAST(p.ts AS TIMESTAMP) AS purchase_ts,
       e.event_id AS error_id, CAST(e.ts AS TIMESTAMP) AS error_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON p.user_id = e.user_id
 AND CAST(e.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP)
 AND CAST(e.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP) + INTERVAL 1 HOUR
"""


register(asof_join_events, ASOF_SQL)
register(asof_join_tolerance, ASOF_TOLERANCE_SQL)
register(range_join_events, RANGE_SQL)


def user_state_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 dimension build over the per-user event-type change
    stream (users sampled by ``user_id % 13`` to bound the showcase
    output): consecutive same-type events merge into one validity
    interval with ``effective_from``/``effective_to``/``is_current``.
    The warehouse-dimension op downstream of an incremental capture —
    two per-key windows plus a grouped aggregate, no single-partition
    stage (see operators/temporal.py scd2_intervals)."""
    ensure_views(spark, sf_dir)
    src = (
        spark.table("events")
        .filter(F.col("user_id") % 13 == 0)
        .select("user_id", "ts", "event_type", "event_id")
    )
    out = scd2_intervals(
        src, ["user_id"], "ts", "event_type", tie_break=["event_id"]
    )
    return out.select(
        "user_id",
        "value",
        "effective_from",
        "effective_to",
        F.col("is_current").cast("int").alias("is_current"),
        "n_events",
    ).orderBy("user_id", "effective_from")


SCD2_SQL = """
WITH s AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, event_id
  FROM events WHERE user_id % 13 = 0
), f AS (
  SELECT user_id, ts, event_type, event_id,
         CASE WHEN LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM s
), r AS (
  SELECT user_id, ts, event_type, chg,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM f
), g AS (
  SELECT user_id, run, MIN(event_type) AS value, MIN(ts) AS effective_from,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM r GROUP BY user_id, run
)
SELECT user_id, value, effective_from,
       LEAD(effective_from) OVER (PARTITION BY user_id ORDER BY run) AS effective_to,
       CAST(LEAD(effective_from) OVER (PARTITION BY user_id ORDER BY run) IS NULL AS INT) AS is_current,
       n_events
FROM g ORDER BY user_id, effective_from
"""

register(user_state_scd2, SCD2_SQL)


def events_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) enrichment against the SCD2 dimension — THE
    consumption pattern dimension history exists for: every purchase
    fact joins the NON-purchase state interval that was CURRENT at the fact's
    timestamp (from ≤ ts < to, open-ended current rows included) — the
    dimension is the `scd2_intervals` build over the user's browsing
    stream, purchases excluded, so the readout is the state a buyer was
    in WHEN buying; because intervals partition each key's timeline,
    every fact inside the covered range matches EXACTLY ONE interval —
    reported as a correctness column (n_unmatched, facts before the
    user's first interval). Per prior-state value: fact counts and
    value totals — "what state were buyers in when they bought"."""
    ensure_views(spark, sf_dir)
    ev = spark.table("events")
    src = ev.filter(
        (F.col("user_id") % 13 == 0) & (F.col("event_type") != "purchase")
    ).select("user_id", "ts", "event_type", "event_id")
    dim = scd2_intervals(
        src, ["user_id"], "ts", "event_type", tie_break=["event_id"]
    ).select(
        F.col("user_id").alias("d_user"),
        F.col("value").alias("state"),
        "effective_from",
        "effective_to",
    )
    facts = ev.filter(
        (F.col("user_id") % 13 == 0) & (F.col("event_type") == "purchase")
    ).select("user_id", "ts", F.round("value", 6).cast("decimal(38,6)").alias("v"))
    joined = facts.join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("ts") >= F.col("effective_from"))
        & (F.col("effective_to").isNull() | (F.col("ts") < F.col("effective_to"))),
        "left",
    )
    per_state = joined.groupBy("state").agg(
        F.count(F.lit(1)).cast("long").alias("n_facts"),
        F.sum("v").cast("decimal(38,6)").alias("total_value"),
    )
    return per_state.select(
        F.coalesce("state", F.lit("(unmatched)")).alias("state"),
        "n_facts",
        # exact decimal sum internally; DOUBLE at the output boundary
        F.col("total_value").cast("double").alias("total_value"),
    ).orderBy("state")


SCD2_PIT_SQL = """
WITH s AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, event_id
  FROM events WHERE user_id % 13 = 0 AND event_type <> 'purchase'
), f AS (
  SELECT user_id, ts, event_type, event_id,
         CASE WHEN LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM s
), r AS (
  SELECT user_id, ts, event_type, chg,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM f
), g AS (
  SELECT user_id, run, MIN(event_type) AS state, MIN(ts) AS effective_from
  FROM r GROUP BY user_id, run
), dim AS (
  SELECT user_id AS d_user, state, effective_from,
         LEAD(effective_from) OVER (PARTITION BY user_id ORDER BY run)
           AS effective_to
  FROM g
), facts AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         CAST(round(value, 6) AS DECIMAL(38,6)) AS v
  FROM events WHERE user_id % 13 = 0 AND event_type = 'purchase'
), joined AS (
  SELECT dim.state, facts.v
  FROM facts LEFT JOIN dim
    ON facts.user_id = dim.d_user
   AND facts.ts >= dim.effective_from
   AND (dim.effective_to IS NULL OR facts.ts < dim.effective_to)
)
SELECT COALESCE(state, '(unmatched)') AS state,
       CAST(COUNT(*) AS BIGINT) AS n_facts,
       CAST(CAST(SUM(v) AS DECIMAL(38,6)) AS DOUBLE) AS total_value
FROM joined GROUP BY state ORDER BY state
"""

register(events_scd2_point_in_time, SCD2_PIT_SQL)
