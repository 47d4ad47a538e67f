"""Batch sessionization + bucketed-write showcase.

``session_window`` (the streaming operator) also works on batch frames —
the oracle reproduces it with classic gaps-and-islands SQL (LAG + running
sum of gap breaks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onetl_spark.showcase.registry import register
from onetl_spark.showcase.util import dsum, ensure_views, sql_dsum

SESSION_GAP_MIN = 30


def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions with a 30-minute inactivity gap: built-in
    session_window on a batch DataFrame (no state store needed)."""
    ensure_views(spark, sf_dir)
    events = spark.table("events")
    return (
        events.groupBy(
            F.session_window(F.col("ts"), f"{SESSION_GAP_MIN} minutes").alias("s"),
            F.col("user_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


# gaps-and-islands: a session breaks when the gap to the previous event
# exceeds the threshold; session id = running count of breaks. The window
# END differs from Spark's session_window (last_ts + gap), so compare on
# session START + aggregates only.
SESSIONIZATION_SQL = f"""
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
), flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   <= INTERVAL {SESSION_GAP_MIN} MINUTE THEN 0 ELSE 1 END AS brk
  FROM e
), numbered AS (
  SELECT user_id, ts, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value
FROM numbered
GROUP BY user_id, session_id
"""


def bucketed_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed + sorted managed-table write (SparkSQLWriteOptions
    bucket_by/sort_by → hive/connection.py:533-568 semantics): co-locates
    join/agg keys at write time so later joins on the bucket key avoid the
    shuffle. Read back == source."""
    ensure_views(spark, sf_dir)
    from onetl_spark.connections import SparkSQLConnection, drop_table_completely
    from onetl_spark.connections.sparksql import SparkSQLWriteOptions
    from onetl_spark.db import DBWriter

    conn = SparkSQLConnection(spark)
    target = "showcase_bucketed_customer"
    drop_table_completely(spark, target)
    DBWriter(
        conn,
        target,
        options=SparkSQLWriteOptions(
            bucket_by=(4, ["c_custkey"]),
            sort_by=["c_custkey"],
        ),
    ).run(spark.table("customer"))
    return spark.table(target)


BUCKETED_SQL = """
SELECT * FROM customer
"""


def session_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 session-opening event paths: gaps-and-islands sessions
    (30-min inactivity break), first 3 event types of each session joined
    with '>' — the behavioral-sequence report a product-analytics stack
    leads with. Two windows over the SAME (user_id, ts, event_id) sort
    order (one shuffle, the sorts share the exchange) + one path-sized
    count aggregate."""
    ensure_views(spark, sf_dir)
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = (
        spark.table("events")
        .select("user_id", "ts", "event_id", "event_type")
        # microsecond-exact gap test (unix_micros is an integer); casting
        # to whole seconds would disagree with the oracle's full-precision
        # INTERVAL comparison on sub-second data
        .withColumn(
            "_brk",
            F.when(
                F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
                <= SESSION_GAP_MIN * 60 * 1_000_000,
                0,
            ).otherwise(1),
        )
        .withColumn("_sid", F.sum("_brk").over(w))
    )
    ws = W.partitionBy("user_id", "_sid").orderBy("ts", "event_id")
    return (
        flagged.withColumn("_rn", F.row_number().over(ws))
        .filter(F.col("_rn") <= 3)
        .groupBy("user_id", "_sid")
        # collect_list input order is NOT guaranteed after a shuffle —
        # carry the rank and sort explicitly (the repo-wide pattern)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_rn", "event_type"))),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(10)
    )


# collect_list inside the (user, session) group follows the _rn window
# order because the rows arrive pre-sorted from the same exchange; the
# oracle makes the order explicit with list(... ORDER BY ...)
SESSION_PATHS_SQL = f"""
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events
), flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   <= {SESSION_GAP_MIN} * 60 * 1000000 THEN 0 ELSE 1 END AS brk
  FROM e
), numbered AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
), ranked AS (
  SELECT user_id, sid, event_type,
         row_number() OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS rn
  FROM numbered
), paths AS (
  SELECT user_id, sid,
         list_aggregate(list(event_type ORDER BY rn), 'string_agg', '>') AS path
  FROM ranked WHERE rn <= 3 GROUP BY user_id, sid
)
SELECT path, COUNT(*) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT 10
"""


register(events_sessionization, SESSIONIZATION_SQL)
register(bucketed_write_roundtrip, BUCKETED_SQL)
register(session_top_paths, SESSION_PATHS_SQL)
