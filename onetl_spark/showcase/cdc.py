"""CDC showcase: changelog apply, SCD2 history, and MERGE upsert.

``events`` doubles as an I/U/D changelog (key ``user_id``, order
``(ts, event_id)``, 'error' events standing in for deletes); ``orders``
is the MERGE target with a deterministically derived delta. Oracles use
the textbook window/row_number formulations so the partial-aggregating
Spark plans are checked against an independent definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onetl_spark.operators.cdc import cdc_latest_snapshot, merge_upsert, scd2_history
from onetl_spark.showcase.registry import register
from onetl_spark.showcase.util import ensure_views

_ORDER_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"


def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest state per user from the events changelog; users whose final
    event is an 'error' (the stand-in delete op) drop out."""
    ensure_views(spark, sf_dir)
    return cdc_latest_snapshot(
        spark.table("events"),
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        op_col="event_type",
        delete_ops=("error",),
    ).select("user_id", "event_id", "ts", "value", "props")


CDC_LATEST_SQL = """
SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value, props
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1 AND event_type <> 'error'
"""


def scd2_purchase_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals over each user's purchase events."""
    ensure_views(spark, sf_dir)
    purchases = spark.table("events").filter("event_type = 'purchase'")
    return scd2_history(
        purchases, key_cols=["user_id"], ts_col="ts", tiebreak_cols=["event_id"]
    ).select("user_id", "event_id", "value", "valid_from", "valid_to", "is_current")


SCD2_SQL = """
SELECT user_id, event_id, value,
       CAST(ts AS TIMESTAMP) AS valid_from,
       CAST(lead(ts) OVER w AS TIMESTAMP) AS valid_to,
       (lead(ts) OVER w IS NULL) AS is_current
FROM events
WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE a derived delta into orders: every 7th key gets +10.0 on
    totalprice, every 101st key is deleted, everything else passes through."""
    ensure_views(spark, sf_dir)
    orders = spark.table("orders")
    source = orders.filter("o_orderkey % 7 = 0").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
        (F.col("o_orderkey") % 101 == 0).alias("is_delete"),
    )
    return merge_upsert(orders, source, key_cols=["o_orderkey"], delete_col="is_delete")


MERGE_SQL = f"""
WITH src AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 10.0 AS o_totalprice, o_orderdate, o_orderpriority,
         (o_orderkey % 101 = 0) AS is_delete
  FROM orders WHERE o_orderkey % 7 = 0
)
SELECT {_ORDER_COLS} FROM orders
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
UNION ALL
SELECT {_ORDER_COLS} FROM src WHERE NOT is_delete
"""


register(cdc_latest_state, CDC_LATEST_SQL)
register(scd2_purchase_history, SCD2_SQL)
register(merge_upsert_orders, MERGE_SQL)


def incremental_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain a daily events summary incrementally: IncrementalBatch
    reads consume the table in key-range chunks, each chunk aggregates to
    per-day partials, and merge_aggregate_state folds them into the
    running summary — proven equal to a full recompute by the oracle.
    Sums stay DECIMAL through every merge so batch order can't change
    the double result."""
    ensure_views(spark, sf_dir)
    from onetl_spark.connections import SparkSQLConnection
    from onetl_spark.db import DBReader
    from onetl_spark.hwm.store import MemoryHWMStore
    from onetl_spark.hwm.types import ColumnIntHWM
    from onetl_spark.hwm.window import Window
    from onetl_spark.operators.cdc import merge_aggregate_state
    from onetl_spark.strategy import IncrementalBatchStrategy

    conn = SparkSQLConnection(spark)
    reader = DBReader(
        conn,
        source="events",
        columns=["event_id", "ts", "value"],
        hwm=ColumnIntHWM(name="showcase_rollup_hwm", expression="event_id"),
    )
    lo, hi = conn.get_min_max_values("events", Window("event_id"))
    step = max(1, (hi - lo) // 3)

    def day_partials(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("ts").cast("date").alias("day")).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("_vsum"),
        )

    running: DataFrame | None = None
    with MemoryHWMStore():
        with IncrementalBatchStrategy(step=step) as batches:
            for _ in batches:
                delta = day_partials(reader.run())
                running = delta if running is None else merge_aggregate_state(
                    running, delta, ["day"], {"n_events": "sum", "_vsum": "sum"}
                )
    return running.select(
        "day", "n_events", F.col("_vsum").cast("double").alias("value_sum")
    )


ROLLUP_SQL = """
SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS value_sum
FROM events
GROUP BY CAST(ts AS DATE)
"""


register(incremental_daily_rollup, ROLLUP_SQL)


def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff between two deterministic snapshots of orders:
    the 'new' load drops every 10th key (removed), bumps price on keys
    divisible by 7 (changed), and adds shifted keys (added). The output
    is change-sized — unchanged keys never leave the join."""
    from onetl_spark.operators.cdc import snapshot_diff

    ensure_views(spark, sf_dir)
    old = spark.table("orders").select("o_orderkey", "o_totalprice", "o_orderstatus")
    base = spark.table("orders")
    new = (
        base.filter(F.col("o_orderkey") % 10 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 100.0)
            .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
            "o_orderstatus",
        )
        .unionAll(
            base.filter(F.col("o_orderkey") % 100 == 0).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                "o_totalprice",
                "o_orderstatus",
            ),
        )
    )
    return snapshot_diff(old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"])


SNAPSHOT_DIFF_SQL = """
WITH old AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
), new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 10 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 100 = 0
)
SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
       CASE WHEN old.o_orderkey IS NULL THEN 'added'
            WHEN new.o_orderkey IS NULL THEN 'removed'
            WHEN old.o_totalprice IS DISTINCT FROM new.o_totalprice
              OR old.o_orderstatus IS DISTINCT FROM new.o_orderstatus THEN 'changed'
       END AS change_type,
       old.o_totalprice AS old_o_totalprice,
       old.o_orderstatus AS old_o_orderstatus,
       new.o_totalprice AS new_o_totalprice,
       new.o_orderstatus AS new_o_orderstatus
FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
WHERE CASE WHEN old.o_orderkey IS NULL THEN 'added'
           WHEN new.o_orderkey IS NULL THEN 'removed'
           WHEN old.o_totalprice IS DISTINCT FROM new.o_totalprice
             OR old.o_orderstatus IS DISTINCT FROM new.o_orderstatus THEN 'changed'
      END IS NOT NULL
"""

register(snapshot_diff_orders, SNAPSHOT_DIFF_SQL)
