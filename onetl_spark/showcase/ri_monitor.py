"""Incremental referential-integrity showcase — `operators/ri_store.py`
/ `streaming/ri_store.py` as driver-checkable queries. A NEW operator
class: `referential_integrity_audit` (quality.py) audits two tables
fully at hand; this is the INCREMENTAL shape — facts and dimensions
arrive in separate load windows (the reference's incremental-strategy
reality, ``onetl/strategy/incremental_strategy.py``), a fact can
reference a dimension row that has not arrived yet, and the monitor
must (a) flag it as an orphan in its own window and (b) HEAL it when
the late dimension key lands, carrying only two key-sized stores across
windows — never re-reading history.

Batch simulation (SF-independent, all three verdict classes bind on
every committed SF): facts are orders sampled ``o_orderkey % 4 = 0``,
loaded in window ``o_orderkey % 3``; dimension keys are customers,
arriving in window ``c_custkey % 4`` — and keys with
``c_custkey % 4 = 3`` NEVER arrive (the broken-upstream case), so the
monitor ends with ok (arrival ≤ fact window), healed (arrival after,
within horizon) and permanent-orphan populations.

Oracle strategy: the per-window loop collapses to a closed form — a
fact's final status depends only on its window and its key's arrival
window — so the oracle is one hash join + CASE, while the operator
earns the same answer through the store/pending/healing machinery.
Everything is exact integer/string arithmetic; the one division
(mean heal lag) is a single correctly-rounded double op on exact
integer sums, identical in every engine.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onetl_spark.operators.ri_store import ri_apply_batch, ri_final_status
from onetl_spark.showcase.registry import register
from onetl_spark.showcase.replay import batch_stream, run_foreach_batch, stage_batches
from onetl_spark.showcase.util import ensure_views


_N_BATCHES = 3
_FACT_PRED = "o_orderkey % 4 = 0"


def _window_feeds(
    spark: SparkSession, sf_dir: str
) -> list[tuple[DataFrame, DataFrame]]:
    """The three (dim_batch, fact_batch) load windows."""
    ensure_views(spark, sf_dir)
    cust = spark.table("customer").select("c_custkey")
    orders = (
        spark.table("orders")
        .filter(F.expr(_FACT_PRED))
        .select("o_orderkey", "o_custkey")
    )
    out = []
    for k in range(_N_BATCHES):
        out.append(
            (
                cust.filter(F.col("c_custkey") % 4 == k),
                orders.filter(F.col("o_orderkey") % 3 == k),
            )
        )
    return out


def _event_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    key_store, pending, log = None, None, None
    for k, (dim, fact) in enumerate(_window_feeds(spark, sf_dir)):
        key_store, pending, events = ri_apply_batch(
            key_store, pending, dim, fact, "c_custkey", "o_orderkey", "o_custkey", k
        )
        log = events if log is None else log.unionByName(events)
    return log


def _status_out(status: DataFrame) -> DataFrame:
    return status.select(
        F.col("fact_id").alias("o_orderkey"),
        F.col("ref_key").alias("o_custkey"),
        "fact_batch",
        "status",
        "matched_batch",
    ).orderBy("o_orderkey")


def incremental_ri_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final per-fact integrity status after all three load windows:
    ``ok`` (reference resolved in the fact's own window, same-window
    dimension arrivals included), ``healed`` (resolved by a LATER
    window's arrival — ``matched_batch`` records it), or ``orphan``
    (the reference never arrived)."""
    return _status_out(ri_final_status(_event_log(spark, sf_dir)))


VERDICTS_SQL = f"""
WITH f AS (
  SELECT o_orderkey, o_custkey, CAST(o_orderkey % 3 AS INT) AS fact_batch
  FROM orders WHERE {_FACT_PRED}
), d AS (
  SELECT c_custkey, CAST(c_custkey % 4 AS INT) AS arrival
  FROM customer WHERE c_custkey % 4 <> 3
)
SELECT f.o_orderkey, f.o_custkey, f.fact_batch,
       CASE WHEN d.arrival IS NULL THEN 'orphan'
            WHEN d.arrival <= f.fact_batch THEN 'ok'
            ELSE 'healed' END AS status,
       d.arrival AS matched_batch
FROM f LEFT JOIN d ON d.c_custkey = f.o_custkey
ORDER BY f.o_orderkey
"""


def incremental_ri_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window integrity report: fact counts and distinct referenced
    keys by final status, plus the mean healing lag in windows (how long
    late dimensions took to land) — the dashboard row an EL pipeline
    alerts on when the orphan share of a window jumps."""
    status = ri_final_status(_event_log(spark, sf_dir))
    lag = F.col("matched_batch") - F.col("fact_batch")
    return (
        status.groupBy("fact_batch", "status")
        .agg(
            F.count(F.lit(1)).alias("n_facts"),
            F.countDistinct("ref_key").alias("n_ref_keys"),
            F.when(
                F.count(F.when(F.col("status") == "healed", lag)) > 0,
                F.round(
                    F.sum(F.when(F.col("status") == "healed", lag)).cast("double")
                    / F.count(F.when(F.col("status") == "healed", lag)),
                    9,
                )
                + F.lit(0.0),
            ).alias("avg_heal_lag"),
        )
        .orderBy("fact_batch", "status")
    )


REPORT_SQL = f"""
WITH v AS ({VERDICTS_SQL.replace('ORDER BY f.o_orderkey', '')})
SELECT fact_batch, status,
       CAST(COUNT(*) AS BIGINT) AS n_facts,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_ref_keys,
       CASE WHEN COUNT(CASE WHEN status = 'healed'
                            THEN matched_batch - fact_batch END) > 0
            THEN round(CAST(SUM(CASE WHEN status = 'healed'
                                     THEN matched_batch - fact_batch END) AS DOUBLE)
                       / COUNT(CASE WHEN status = 'healed'
                               THEN matched_batch - fact_batch END), 9) + 0.0
            END AS avg_heal_lag
FROM v GROUP BY fact_batch, status
ORDER BY fact_batch, status
"""


def streaming_ri_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The integrity monitor as a REAL streaming pipeline
    (`streaming/ri_store.py`): a multiplexed dim+fact feed replayed as
    three deterministic load windows through ``foreachBatch`` with
    external parquet key/pending stores and a verdict-event sink. Each
    window carries its customer-key arrivals (``kind='dim'``) and its
    order facts (``kind='fact'``) in one schema ``(kind, key, fact_id)``
    — the single-CDC-topic shape. The sink collapses to the same per-fact
    statuses. Same output contract — and the SAME ORACLE — as
    `incremental_ri_verdicts`."""
    from pyspark.sql import types as T

    from onetl_spark.streaming.ri_store import ri_monitor_batch_fn

    ensure_views(spark, sf_dir)
    source = stage_batches(
        "ri",
        sf_dir,
        ["orders", "customer"],
        [
            f"SELECT 'dim' AS kind, c_custkey AS key, "
            f"       CAST(NULL AS BIGINT) AS fact_id "
            f"FROM customer WHERE c_custkey % 4 = {k} "
            f"UNION ALL "
            f"SELECT 'fact' AS kind, o_custkey AS key, o_orderkey AS fact_id "
            f"FROM orders "
            f"WHERE {_FACT_PRED} AND o_orderkey % 3 = {k}"
            for k in range(_N_BATCHES)
        ],
    )
    schema = T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("key", T.LongType()),
            T.StructField("fact_id", T.LongType()),
        ]
    )
    work = run_foreach_batch(
        "streaming_ri_monitor",
        batch_stream(spark, source, schema),
        lambda work_dir: ri_monitor_batch_fn(
            os.path.join(work_dir, "keys"),
            os.path.join(work_dir, "pending"),
            os.path.join(work_dir, "events"),
        ),
    )
    events = spark.read.parquet(os.path.join(work, "events"))
    return _status_out(ri_final_status(events))


register(incremental_ri_verdicts, VERDICTS_SQL)
register(incremental_ri_report, REPORT_SQL)
register(streaming_ri_monitor, VERDICTS_SQL)
