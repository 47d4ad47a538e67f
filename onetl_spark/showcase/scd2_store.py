"""Incremental SCD2 dimension-store showcase — `operators/cdc.py
scd2_apply_batch` / `scd2_batch_audit` / `streaming/cdc_store.py` as
driver-checkable queries. A NEW operator class: every existing SCD2 query
builds the dimension from one fixed history; this is the DAY-2 shape —
the store persisted from all previous load windows, each new
incremental-strategy window folded in without re-reading history
(reference spec: the window surface of
``onetl/strategy/incremental_strategy.py`` feeding DBWriter — this is
what the warehouse does with those windows).

Batch simulation: the January event stream splits into three
time-ordered load windows at Jan 11 / Jan 21 (SF-independent: the
generator always emits one month). Users are sampled ``user_id % 5 = 0``
to bound showcase output (the `user_state_scd2` precedent).

Oracle strategy: the apply-batch INVARIANT — sequential application
reproduces ``scd2_intervals`` over the concatenated history exactly — so
the oracle is the plain full-history SCD2 SQL, not a batch-by-batch
mirror; the operator's incremental path is what is under test. All
outputs are exact (timestamps, longs, strings): no float discipline
needed anywhere in this class.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onetl_spark.operators.cdc import scd2_apply_batch, scd2_batch_audit
from onetl_spark.showcase.registry import register
from onetl_spark.showcase.replay import batch_stream, run_foreach_batch, stage_batches
from onetl_spark.showcase.util import ensure_views


_USER_PRED = "user_id % 5 = 0"
_CUT1 = "2024-01-11 00:00:00"
_CUT2 = "2024-01-21 00:00:00"
_KEYS = ["user_id"]
_TS = "ts"
_VALUE = "event_type"
_TIE = ["event_id"]


def _batches(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """The three time-ordered load windows of the sampled change feed."""
    ensure_views(spark, sf_dir)
    src = (
        spark.table("events")
        .filter(F.expr(_USER_PRED))
        .select("user_id", "ts", "event_type", "event_id")
    )
    c1 = F.to_timestamp(F.lit(_CUT1))
    c2 = F.to_timestamp(F.lit(_CUT2))
    return [
        src.filter(F.col("ts") < c1),
        src.filter((F.col("ts") >= c1) & (F.col("ts") < c2)),
        src.filter(F.col("ts") >= c2),
    ]


def _final_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = None
    for b in _batches(spark, sf_dir):
        store = scd2_apply_batch(store, b, _KEYS, _TS, _VALUE, _TIE)
    return store


def _store_out(store: DataFrame) -> DataFrame:
    return store.select(
        "user_id",
        "value",
        "effective_from",
        "effective_to",
        F.col("is_current").cast("int").alias("is_current"),
        "n_events",
    ).orderBy("user_id", "effective_from")


def incremental_scd2_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dimension store after folding in all three load windows —
    must equal the from-scratch ``scd2_intervals`` build over the full
    history (the apply-batch invariant), while having windowed only
    batch-sized relations."""
    return _store_out(_final_store(spark, sf_dir))


STATE_SQL = f"""
WITH s AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, event_id
  FROM events WHERE {_USER_PRED}
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


def incremental_scd2_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window load audit: for each batch, how many keys were new /
    changed / unchanged, how many validity runs each window opened, and
    how many change events it carried — the numbers a dimension load
    logs before committing the store."""
    batches = _batches(spark, sf_dir)
    store = None
    audits = []
    for k, b in enumerate(batches, start=1):
        a = scd2_batch_audit(store, b, _KEYS, _TS, _VALUE, _TIE)
        audits.append(a.withColumn("batch_id", F.lit(k).cast("int")))
        store = scd2_apply_batch(store, b, _KEYS, _TS, _VALUE, _TIE)
    allv = audits[0]
    for a in audits[1:]:
        allv = allv.unionByName(a)
    return (
        allv.groupBy("batch_id", "verdict")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n_runs_opened").alias("n_runs_opened"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("batch_id", "verdict")
    )


AUDIT_SQL = f"""
WITH s AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, event_id,
         CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '{_CUT1}' THEN 1
              WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '{_CUT2}' THEN 2
              ELSE 3 END AS batch_id
  FROM events WHERE {_USER_PRED}
), f AS (
  SELECT user_id, ts, event_type, event_id, batch_id,
         CASE WHEN LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM s
), r AS (
  SELECT user_id, batch_id, chg,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM f
), g AS (
  -- a run opens in the batch holding its first event; batch_id is
  -- monotone in ts, so MIN(batch_id) is that batch
  SELECT user_id, run, MIN(batch_id) AS open_batch
  FROM r GROUP BY user_id, run
), runs_b AS (
  SELECT user_id, open_batch AS batch_id, CAST(COUNT(*) AS BIGINT) AS n_opened
  FROM g GROUP BY user_id, open_batch
), ev_b AS (
  SELECT user_id, batch_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         MIN(batch_id) OVER (PARTITION BY user_id) AS first_batch
  FROM s GROUP BY user_id, batch_id
), perkey AS (
  SELECT e.user_id, e.batch_id, e.n_events,
         COALESCE(r.n_opened, 0) AS n_runs_opened,
         CASE WHEN e.batch_id = e.first_batch THEN 'new_key'
              WHEN COALESCE(r.n_opened, 0) > 0 THEN 'changed'
              ELSE 'unchanged' END AS verdict
  FROM ev_b e LEFT JOIN runs_b r
    ON r.user_id = e.user_id AND r.batch_id = e.batch_id
)
SELECT batch_id, verdict,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(n_runs_opened) AS BIGINT) AS n_runs_opened,
       CAST(SUM(n_events) AS BIGINT) AS n_events
FROM perkey GROUP BY batch_id, verdict
ORDER BY batch_id, verdict
"""


def streaming_scd2_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dimension-maintenance loop as a REAL streaming pipeline
    (`streaming/cdc_store.py`): the sampled change feed replayed as the
    three load windows (the Jan 11 / Jan 21 time split) through
    ``foreachBatch`` with an external parquet SCD2 store — batch 0
    bootstraps, later batches fold in. ``ts`` is staged as epoch
    microseconds (BIGINT) and rebuilt with ``timestamp_micros`` on the
    Spark side — timezone-proof and sidesteps the INT64-nanos parquet
    footgun. Same output contract — and the SAME ORACLE — as
    `incremental_scd2_state`: the streaming store must reproduce the
    full-history build exactly."""
    from pyspark.sql import types as T

    from onetl_spark.streaming.cdc_store import scd2_store_batch_fn

    ensure_views(spark, sf_dir)
    preds = [
        f"ts_c < TIMESTAMP '{_CUT1}'",
        f"ts_c >= TIMESTAMP '{_CUT1}' AND ts_c < TIMESTAMP '{_CUT2}'",
        f"ts_c >= TIMESTAMP '{_CUT2}'",
    ]
    source = stage_batches(
        "scd2",
        sf_dir,
        ["events"],
        [
            f"SELECT user_id, event_id, event_type, "
            f"CAST(epoch_us(ts_c) AS BIGINT) AS ts_us "
            f"FROM (SELECT *, CAST(ts AS TIMESTAMP) AS ts_c "
            f"      FROM events WHERE {_USER_PRED}) t "
            f"WHERE {pred}"
            for pred in preds
        ],
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts_us", T.LongType()),
        ]
    )
    stream = batch_stream(spark, source, schema)
    stream = stream.withColumn("ts", F.timestamp_micros(F.col("ts_us"))).drop(
        "ts_us"
    )
    work = run_foreach_batch(
        "streaming_scd2_store",
        stream,
        lambda work_dir: scd2_store_batch_fn(
            os.path.join(work_dir, "store"), _KEYS, _TS, _VALUE, _TIE
        ),
    )
    return _store_out(spark.read.parquet(os.path.join(work, "store")))


def el_scd2_dimension_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EL surface (SURVEY §2.1/§2.3/§2.9) composed with the new
    dimension-store operator — the first registry query driving the
    STRATEGY machinery end-to-end into an incremental operator: three
    successive loads run ``DBReader`` under ``IncrementalStrategy`` with
    a ``ColumnDateTimeHWM`` on ``ts`` (exclusive-start window, HWM saved
    on success) while a visibility horizon WHERE simulates data arriving
    at the Jan 11 / Jan 21 cutoffs, each captured window folds into the
    SCD2 store via ``scd2_apply_batch``, the final store is written
    through ``DBWriter`` (replace_entire_table) and read back with a
    third ``DBReader``. The HWM windows reproduce the fixed-cutoff
    batches exactly (no sampled rows exist between a window's max ts
    and its horizon), so this shares the full-history oracle with
    `incremental_scd2_state`."""
    from onetl_spark.connections.catalog import drop_table_completely
    from onetl_spark.connections.sparksql import (
        SparkSQLConnection,
        SparkSQLWriteOptions,
    )
    from onetl_spark.db import DBReader, DBWriter
    from onetl_spark.hwm.store import MemoryHWMStore
    from onetl_spark.hwm.types import ColumnDateTimeHWM
    from onetl_spark.strategy import IncrementalStrategy

    ensure_views(spark, sf_dir)
    conn = SparkSQLConnection(spark)
    horizons = [
        f"ts < TIMESTAMP '{_CUT1}'",
        f"ts < TIMESTAMP '{_CUT2}'",
        None,
    ]
    store = None
    with MemoryHWMStore():
        for horizon in horizons:
            where = (
                _USER_PRED if horizon is None else f"{_USER_PRED} AND {horizon}"
            )
            reader = DBReader(
                conn,
                source="events",
                columns=["user_id", "ts", "event_type", "event_id"],
                where=where,
                hwm=ColumnDateTimeHWM(
                    name="showcase_scd2_dimension", expression="ts"
                ),
            )
            with IncrementalStrategy():
                batch = reader.run()
            store = scd2_apply_batch(store, batch, _KEYS, _TS, _VALUE, _TIE)
            # commit each window the way a real load would: the next
            # window's semi/anti joins read the materialized store, not a
            # re-executed three-deep plan chain
            store = store.localCheckpoint(eager=False)
    target = "showcase_el_scd2_dimension"
    drop_table_completely(spark, target)
    DBWriter(
        conn, target, options=SparkSQLWriteOptions(if_exists="replace_entire_table")
    ).run(_store_out(store))
    return DBReader(conn, source=target).run()


register(incremental_scd2_state, STATE_SQL)
register(incremental_scd2_audit, AUDIT_SQL)
register(streaming_scd2_store, STATE_SQL)
register(el_scd2_dimension_pipeline, STATE_SQL)
