"""Sketch-store ingest monitoring showcase — `operators/sketch_store.py
hll_ingest_series` / `streaming/ingest.py ingest_monitor_batch_fn` as
driver-checkable queries. A NEW operator class: every existing sketch
query summarizes one fixed corpus; this is the OBSERVABILITY shape — a
per-(source, batch) time series of cumulative-distinct / new-distinct /
returning-rate accumulated across batches with exactly-mergeable HLL
registers, then fed to the CUSUM drift monitor. The full ingest-
observability loop a 100-TB pipeline runs per source per day.

Oracle strategy: registers are EXACT integers (md5-derived bucket/rho,
max-merged), the harmonic sums are exact decimals, and the only doubles
(estimate, delta, rate) go through the composed fsig rounding with every
derived statistic computed FROM the quantized values — the CTE chain
mirrors the operator's grid/window stages token for token. The batch
split (`event_id % 3`) for the streaming twin follows the
`showcase/incremental.py` convention (deterministic, SF-independent).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onetl_spark.operators.sketch_store import hll_ingest_series
from onetl_spark.showcase.registry import register
from onetl_spark.showcase.replay import batch_stream, run_foreach_batch, stage_batches
from onetl_spark.showcase.util import ensure_views, sql_fsig


_K_SIGMA = 0.5

_EST = (
    "CASE WHEN raw < CAST(640 AS DOUBLE) AND z > 0 "
    "THEN CAST(256 AS DOUBLE) * ln(CAST(256 AS DOUBLE) / z) ELSE raw END"
)


def _series_sql(batch_expr: str, b: str) -> str:
    """The `hll_ingest_series` relation in DuckDB SQL, parametrized by
    the batch key expression (mirrors the operator stage for stage)."""
    where = "user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL"
    lag = (
        f"q.cum_distinct - lag(q.cum_distinct, 1, 0.0) "
        f"OVER (PARTITION BY q.event_type ORDER BY q.{b})"
    )
    rate = "greatest(0.0, least(1.0, 1.0 - new_distinct / batch_rows))"
    return f"""
WITH src AS (
  SELECT {batch_expr} AS {b}, event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events WHERE {where}
), obs AS (
  SELECT {b}, event_type, CAST(h % 256 AS INTEGER) AS bucket,
         CASE WHEN h // 256 = 0 THEN 53
              ELSE 52 - length(bin(h // 256)) + 1 END AS rho
  FROM src
), reg AS (
  SELECT {b}, event_type, bucket, MAX(rho) AS rho FROM obs GROUP BY 1, 2, 3
), grid AS (
  SELECT d.{b}, g.event_type, bb.bucket
  FROM (SELECT DISTINCT {b} FROM src) d
  CROSS JOIN (SELECT DISTINCT event_type FROM src) g
  CROSS JOIN (SELECT CAST(r.i AS INTEGER) AS bucket FROM range(0, 256) r(i)) bb
), dense AS (
  SELECT grid.{b}, grid.event_type, grid.bucket, COALESCE(reg.rho, 0) AS rho
  FROM grid LEFT JOIN reg
    ON reg.{b} = grid.{b} AND reg.event_type = grid.event_type
   AND reg.bucket = grid.bucket
), cum AS (
  SELECT {b}, event_type, bucket,
         MAX(rho) OVER (PARTITION BY event_type, bucket ORDER BY {b}
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rho
  FROM dense
), agg AS (
  SELECT {b}, event_type,
         CAST(SUM(CAST(pow(2.0, 53 - rho) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
         SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS z
  FROM cum GROUP BY 1, 2
), q AS (
  SELECT {b}, event_type, {sql_fsig(_EST)} AS cum_distinct
  FROM (SELECT {b}, event_type, z,
               CAST(0.718272593250 AS DOUBLE) * CAST(256 AS DOUBLE)
                 * CAST(256 AS DOUBLE) * CAST(9007199254740992 AS DOUBLE)
                 / CAST(s AS DOUBLE) AS raw
        FROM agg)
), rws AS (
  SELECT {batch_expr} AS {b}, event_type, COUNT(*) AS batch_rows
  FROM events WHERE {where}
  GROUP BY 1, 2
), series AS (
  SELECT q.{b}, q.event_type,
         COALESCE(r.batch_rows, 0) AS batch_rows,
         q.cum_distinct,
         {sql_fsig(lag)} AS new_distinct
  FROM q LEFT JOIN rws r ON r.{b} = q.{b} AND r.event_type = q.event_type
)
SELECT {b}, event_type, batch_rows, cum_distinct, new_distinct,
       CASE WHEN batch_rows > 0 THEN {sql_fsig(rate)} ELSE NULL END
         AS returning_rate
FROM series"""


def _staged_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_views(spark, sf_dir)
    ev = spark.table("events")
    return ev.filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
    )


def ingest_hll_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event type, day) ingest series over the event stream: how
    many distinct users ever seen (cumulative HLL), how many are new
    today, and what share of today's rows come from returning users —
    the per-source numbers an ingest dashboard plots."""
    ev = _staged_events(spark, sf_dir).withColumn(
        "day", F.col("ts").cast("date")
    )
    return hll_ingest_series(ev, "day", ["event_type"], "user_id", b=8)


SERIES_SQL = _series_sql("CAST(CAST(ts AS TIMESTAMP) AS DATE)", "day")


def ingest_monitor_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed ingest-observability loop: the returning-rate series
    fed to the two-sided CUSUM monitor — a rate collapse (fresh-key
    breakout) or spike (history replay) drifts the excursion
    trajectories per event type."""
    from onetl_spark.operators.changepoint import cusum_excursions

    # a (type, day) cell with zero rows has no rate — monitor active days
    # only (a NULL would trip the CUSUM validity guard, by design)
    series = ingest_hll_series(spark, sf_dir).filter(F.col("batch_rows") > 0)
    return cusum_excursions(
        series.select("event_type", "day", "returning_rate"),
        ["event_type"],
        "day",
        "returning_rate",
        k_sigma=_K_SIGMA,
    )


_CUS_MU = "sx_n / n"
_CUS_SIGMA = f"sqrt(greatest(0.0, sxx_n / n - ({_CUS_MU}) * ({_CUS_MU})))"

INGEST_CUSUM_SQL = f"""
WITH series_out AS ({SERIES_SQL}
), pre AS (
  SELECT event_type, day, returning_rate,
         COUNT(*) OVER wall AS n,
         CAST(SUM(CAST(returning_rate AS DECIMAL(27,9))) OVER wall AS DOUBLE) AS sx_n,
         CAST(SUM(CAST(returning_rate * returning_rate AS DECIMAL(30,9))) OVER wall AS DOUBLE) AS sxx_n,
         ROW_NUMBER() OVER w AS i,
         CAST(SUM(CAST(returning_rate AS DECIMAL(27,9))) OVER w AS DOUBLE) AS sx_i
  FROM series_out WHERE batch_rows > 0
  WINDOW wall AS (PARTITION BY event_type),
         w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), pq AS (
  SELECT event_type, day, returning_rate,
         {sql_fsig(_CUS_MU)} AS mu,
         {sql_fsig(_CUS_SIGMA)} AS sigma,
         sx_i - i * ({_CUS_MU} + {_K_SIGMA!r} * {_CUS_SIGMA}) AS p,
         i * ({_CUS_MU} - {_K_SIGMA!r} * {_CUS_SIGMA}) - sx_i AS q
  FROM pre
)
SELECT event_type, day, returning_rate, mu, sigma,
       {sql_fsig('p - least(0.0, MIN(p) OVER w)')} AS cusum_pos,
       {sql_fsig('q - least(0.0, MIN(q) OVER w)')} AS cusum_neg
FROM pq
WINDOW w AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def streaming_ingest_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest monitor as a REAL streaming pipeline
    (`streaming/ingest.py`): the event stream replayed as three
    deterministic micro-batches (``event_id % 3``) through
    ``foreachBatch`` with an external parquet HLL register store — each
    batch emits its series rows against the store accumulated so far and
    folds its registers in. Only the columns the monitor needs are staged.
    Must reproduce the batch operator's series hash-exactly (the oracle
    is the same series SQL at the ``event_id % 3`` split)."""
    from pyspark.sql import types as T

    from onetl_spark.streaming.ingest import ingest_monitor_batch_fn

    ensure_views(spark, sf_dir)
    source = stage_batches(
        "ingest",
        sf_dir,
        ["events"],
        [
            f"SELECT event_id, event_type, user_id "
            f"FROM events WHERE event_id % 3 = {k} "
            f"AND user_id IS NOT NULL AND event_type IS NOT NULL "
            f"AND ts IS NOT NULL"
            for k in range(3)
        ],
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    work = run_foreach_batch(
        "streaming_ingest_monitor",
        batch_stream(spark, source, schema),
        lambda work_dir: ingest_monitor_batch_fn(
            os.path.join(work_dir, "store"),
            os.path.join(work_dir, "series"),
            ["event_type"],
            "user_id",
            b=8,
        ),
    )
    return spark.read.parquet(os.path.join(work, "series"))


STREAMING_INGEST_SQL = _series_sql("CAST(event_id % 3 AS INTEGER)", "batch_id")


register(ingest_hll_series, SERIES_SQL)
register(ingest_monitor_cusum, INGEST_CUSUM_SQL)
register(streaming_ingest_monitor, STREAMING_INGEST_SQL)
