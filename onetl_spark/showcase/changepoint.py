"""Changepoint / drift-monitoring showcase — `operators/changepoint.py`
as driver-checkable queries. A NEW operator class: the stats family
compares two fixed samples (Wasserstein, CvM, AD…); nothing previously
watched an ORDERED series and localized WHERE it moved. Both queries run
over the per-(event_type, day) pre-aggregate, so the window arithmetic is
grid-sized while the event-sized work is one groupBy shuffle.

Oracle strategy: decimal-exact prefix sums (the dsum discipline) feed
closed-form double arithmetic; every emitted double goes through the
float32 round-trip (spark_utils.fsig) because these statistics scale with the
data and the decimal→double cast ULP makes any fixed absolute rounding
engine-unstable at scale (r10 driver red at 1.4e7; r11 sf1 strict parity
at 1e4) — the CTE chain mirrors the operator's window stages
token-for-token.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from onetl_spark.operators.changepoint import cusum_excursions, single_changepoint
from onetl_spark.showcase.registry import register
from onetl_spark.showcase.util import dsum, ensure_views, sql_dsum, sql_fsig


_K_SIGMA = 0.5
_ALARM_SIGMA = 4.0


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_views(spark, sf_dir)
    return (
        spark.table("events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(dsum("value").alias("v"))
    )


_DAILY_SQL = f"""
daily AS (
  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         {sql_dsum('value')} AS v
  FROM events GROUP BY 1, 2
)"""

# shared exact prefix/total scaffolding (mirrors operators/changepoint.py
# _prefix_cols: decimal(27,9) values, decimal(30,9) squares)
_PRE_SQL = """
pre AS (
  SELECT event_type, day, v,
         COUNT(*) OVER wall AS n,
         CAST(SUM(CAST(v AS DECIMAL(27,9))) OVER wall AS DOUBLE) AS sx_n,
         CAST(SUM(CAST(v * v AS DECIMAL(30,9))) OVER wall AS DOUBLE) AS sxx_n,
         ROW_NUMBER() OVER w AS i,
         CAST(SUM(CAST(v AS DECIMAL(27,9))) OVER w AS DOUBLE) AS sx_i,
         CAST(SUM(CAST(v * v AS DECIMAL(30,9))) OVER w AS DOUBLE) AS sxx_i
  FROM daily
  WINDOW wall AS (PARTITION BY event_type),
         w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)"""


def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift report per event type: peak upward/downward
    excursions of the daily value series (slack k = 0.5σ) with their
    days, and the classic 4σ alarm flag."""
    cus = cusum_excursions(
        _daily(spark, sf_dir), ["event_type"], "day", "v", k_sigma=_K_SIGMA
    ).localCheckpoint(eager=False)  # grid-sized; consumed by 3 arms below

    def _peak(col: str, peak_alias: str, day_alias: str, extra: list[str]) -> DataFrame:
        w = W.partitionBy("event_type").orderBy(F.desc(col), F.asc("day"))
        return (
            cus.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "event_type",
                *extra,
                F.col(col).alias(peak_alias),
                F.col("day").alias(day_alias),
            )
        )

    pos = _peak("cusum_pos", "peak_pos", "peak_pos_day", ["mu", "sigma"])
    neg = _peak("cusum_neg", "peak_neg", "peak_neg_day", [])
    days = cus.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    return (
        pos.join(neg, "event_type")
        .join(days, "event_type")
        .select(
            "event_type",
            "n_days",
            "mu",
            "sigma",
            "peak_pos",
            "peak_pos_day",
            "peak_neg",
            "peak_neg_day",
            (
                F.greatest("peak_pos", "peak_neg") > F.lit(_ALARM_SIGMA) * F.col("sigma")
            ).alias("drift_alarm"),
        )
    )


_MU = "sx_n / n"
_SIGMA = f"sqrt(greatest(0.0, sxx_n / n - ({_MU}) * ({_MU})))"

CUSUM_SQL = f"""
WITH {_DAILY_SQL}, {_PRE_SQL}, pq AS (
  SELECT event_type, day,
         {sql_fsig(_MU)} AS mu,
         {sql_fsig(_SIGMA)} AS sigma,
         sx_i - i * ({_MU} + {_K_SIGMA!r} * {_SIGMA}) AS p,
         i * ({_MU} - {_K_SIGMA!r} * {_SIGMA}) - sx_i AS q
  FROM pre
), cus AS (
  SELECT event_type, day, mu, sigma,
         {sql_fsig('p - least(0.0, MIN(p) OVER w)')} AS cusum_pos,
         {sql_fsig('q - least(0.0, MIN(q) OVER w)')} AS cusum_neg
  FROM pq
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), pos AS (
  SELECT event_type, mu, sigma, cusum_pos AS peak_pos, day AS peak_pos_day
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY cusum_pos DESC, day ASC) AS rn
        FROM cus) WHERE rn = 1
), neg AS (
  SELECT event_type, cusum_neg AS peak_neg, day AS peak_neg_day
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY cusum_neg DESC, day ASC) AS rn
        FROM cus) WHERE rn = 1
), days AS (
  SELECT event_type, COUNT(*) AS n_days FROM cus GROUP BY event_type
)
SELECT p.event_type, d.n_days, p.mu, p.sigma, p.peak_pos, p.peak_pos_day,
       g.peak_neg, g.peak_neg_day,
       greatest(p.peak_pos, g.peak_neg) > {_ALARM_SIGMA!r} * p.sigma AS drift_alarm
FROM pos p
JOIN neg g ON g.event_type = p.event_type
JOIN days d ON d.event_type = p.event_type
"""


def events_value_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact least-squares single changepoint of each event type's daily
    value series: where the level shifted, segment means, and the
    variance the split explains."""
    return single_changepoint(_daily(spark, sf_dir), ["event_type"], "day", "v")


CHANGEPOINT_SQL = f"""
WITH {_DAILY_SQL}, {_PRE_SQL}, cand AS (
  SELECT event_type, day AS split_at, i, n AS n_points,
         {sql_fsig('''(sxx_i - sx_i * sx_i / i)
               + ((sxx_n - sxx_i)
                  - (sx_n - sx_i) * (sx_n - sx_i) / (n - i))''')} AS sse_split,
         {sql_fsig('sxx_n - sx_n * sx_n / n')} AS sse_total,
         {sql_fsig('sx_i / i')} AS pre_mean,
         {sql_fsig('(sx_n - sx_i) / (n - i)')} AS post_mean
  FROM pre WHERE i < n
), best AS (
  SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                              ORDER BY sse_split ASC, i ASC) AS rn
                 FROM cand) WHERE rn = 1
)
SELECT event_type, split_at, n_points, pre_mean, post_mean, sse_split, sse_total,
       CASE WHEN sse_total > 0 THEN round(1.0 - sse_split / sse_total, 9)
            ELSE 0.0 END AS var_explained
FROM best
"""


register(events_cusum_drift, CUSUM_SQL)
register(events_value_changepoint, CHANGEPOINT_SQL)
