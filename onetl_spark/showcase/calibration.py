"""Model-eval calibration showcase — `operators/calibration.py` as
driver-checkable queries. A NEW operator class: the scoring family
(roc_auc, auc_delong) measures DISCRIMINATION; these measure whether the
score's VALUE is trustworthy as a probability — the gate a model-filtered
100-TB corpus needs before thresholding classifier scores.

Prediction setup shared by all three queries: the event ``value`` min-max
normalized by the corpus max is the "predicted purchase probability";
``event_type = 'purchase'`` is the outcome. The normalization constant is
a 1-row broadcast (Spark) / scalar subquery (oracle) — identical doubles,
so every row's score divides identically in both engines.

Oracle strategy: per-row terms round to 9 dp then decimal-sum and STAY
decimal through every re-aggregation (the calibration operator's
determinism contract); combined bin terms carry the n_b/N weight before
rounding so magnitudes stay ≤ 1 (magnitude-aware discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onetl_spark.operators.calibration import (
    calibration_by_group,
    calibration_report,
    reliability_bins,
)
from onetl_spark.showcase.registry import register
from onetl_spark.showcase.util import ensure_views, sql_fsig


_N_BINS = 10


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_views(spark, sf_dir)
    ev = spark.table("events")
    mx = ev.agg(F.max("value").alias("_mx"))
    return ev.crossJoin(F.broadcast(mx)).select(
        (F.col("value") / F.col("_mx")).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
        F.col("ts"),
    )


_SCORED_SQL = """
scored AS (
  SELECT value / (SELECT MAX(value) FROM events) AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
         CAST(ts AS TIMESTAMP) AS ts
  FROM events
)"""

# shared per-bin CTE (mirrors operators/calibration.py _bin_relation:
# 9-dp-rounded decimal sums kept DECIMAL; bin = least(B-1, floor(p·B)))
_BINS_SQL = f"""
bins AS (
  SELECT LEAST({_N_BINS - 1}, CAST(FLOOR(score * {_N_BINS}) AS INT)) AS bin,
         COUNT(*) AS n,
         SUM(CAST(round(score, 9) AS DECIMAL(38,9))) AS sp,
         CAST(SUM(label) AS BIGINT) AS n_pos,
         SUM(CAST(round((score - label) * (score - label), 9)
             AS DECIMAL(38,9))) AS sq
  FROM scored GROUP BY 1
)"""


def events_score_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of normalized event value as a purchase
    probability: per score decile the mean prediction, the empirical
    purchase rate, and the calibration gap."""
    return reliability_bins(_scored(spark, sf_dir), n_bins=_N_BINS)


RELIABILITY_SQL = f"""
WITH {_SCORED_SQL}, {_BINS_SQL}
SELECT bin, n, n_pos,
       round(CAST(sp AS DOUBLE) / n, 9) + 0.0 AS mean_pred,
       round(CAST(n_pos AS DOUBLE) / n, 9) + 0.0 AS event_rate,
       round(CAST(n_pos AS DOUBLE) / n - CAST(sp AS DOUBLE) / n, 9) + 0.0 AS gap
FROM bins
"""


def events_score_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row calibration report: ECE, MCE, Brier and its Murphy
    decomposition (reliability − resolution + uncertainty) for the
    value-predicts-purchase score."""
    return calibration_report(_scored(spark, sf_dir), n_bins=_N_BINS)


_REPORT_CORE = """
tot AS (
  SELECT SUM(n) AS nt, SUM(n_pos) AS pt, SUM(sq) AS sqt FROM bins
), per_bin AS (
  SELECT b.n, b.n_pos, t.nt, t.pt, t.sqt,
         CAST(round((CAST(b.n AS DOUBLE) / t.nt)
               * abs(CAST(b.n_pos AS DOUBLE) / b.n - CAST(b.sp AS DOUBLE) / b.n), 9)
              AS DECIMAL(38,9)) AS ece_t,
         abs(CAST(b.n_pos AS DOUBLE) / b.n - CAST(b.sp AS DOUBLE) / b.n) AS absgap,
         CAST(round((CAST(b.n AS DOUBLE) / t.nt)
               * (CAST(b.n_pos AS DOUBLE) / b.n - CAST(b.sp AS DOUBLE) / b.n)
               * (CAST(b.n_pos AS DOUBLE) / b.n - CAST(b.sp AS DOUBLE) / b.n), 9)
              AS DECIMAL(38,9)) AS rel_t,
         CAST(round((CAST(b.n AS DOUBLE) / t.nt)
               * (CAST(b.n_pos AS DOUBLE) / b.n - CAST(t.pt AS DOUBLE) / t.nt)
               * (CAST(b.n_pos AS DOUBLE) / b.n - CAST(t.pt AS DOUBLE) / t.nt), 9)
              AS DECIMAL(38,9)) AS res_t
  FROM bins b CROSS JOIN tot t
)
SELECT CAST(MAX(nt) AS BIGINT) AS n,
       round(CAST(MAX(pt) AS DOUBLE) / MAX(nt), 9) + 0.0 AS base_rate,
       round(CAST(SUM(ece_t) AS DOUBLE), 9) + 0.0 AS ece,
       round(MAX(absgap), 9) + 0.0 AS mce,
       round(CAST(MAX(sqt) AS DOUBLE) / MAX(nt), 9) + 0.0 AS brier,
       round(CAST(SUM(rel_t) AS DOUBLE), 9) + 0.0 AS reliability,
       round(CAST(SUM(res_t) AS DOUBLE), 9) + 0.0 AS resolution,
       round((CAST(MAX(pt) AS DOUBLE) / MAX(nt))
             * (1.0 - CAST(MAX(pt) AS DOUBLE) / MAX(nt)), 9) + 0.0 AS uncertainty
"""

CALIBRATION_SQL = f"""
WITH {_SCORED_SQL}, {_BINS_SQL}, {_REPORT_CORE}
FROM per_bin
"""


def events_calibration_drift_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly calibration grid — ECE/Brier per ISO week of the event
    stream: the time-sliced view a drift monitor (CUSUM over the weekly
    ece series) consumes to catch "the score went stale"."""
    scored = _scored(spark, sf_dir).withColumn(
        "week", F.date_trunc("week", F.col("ts")).cast("date")
    )
    return calibration_by_group(scored, ["week"], n_bins=_N_BINS)


WEEKLY_SQL = f"""
WITH {_SCORED_SQL}, bins AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
         LEAST({_N_BINS - 1}, CAST(FLOOR(score * {_N_BINS}) AS INT)) AS bin,
         COUNT(*) AS n,
         SUM(CAST(round(score, 9) AS DECIMAL(38,9))) AS sp,
         CAST(SUM(label) AS BIGINT) AS n_pos,
         SUM(CAST(round((score - label) * (score - label), 9)
             AS DECIMAL(38,9))) AS sq
  FROM scored GROUP BY 1, 2
), tot AS (
  SELECT week, SUM(n) AS nt, SUM(n_pos) AS pt, SUM(sq) AS sqt
  FROM bins GROUP BY week
), per_bin AS (
  SELECT b.week, b.n, b.n_pos, t.nt, t.pt, t.sqt,
         CAST(round((CAST(b.n AS DOUBLE) / t.nt)
               * abs(CAST(b.n_pos AS DOUBLE) / b.n - CAST(b.sp AS DOUBLE) / b.n), 9)
              AS DECIMAL(38,9)) AS ece_t,
         abs(CAST(b.n_pos AS DOUBLE) / b.n - CAST(b.sp AS DOUBLE) / b.n) AS absgap,
         CAST(round((CAST(b.n AS DOUBLE) / t.nt)
               * (CAST(b.n_pos AS DOUBLE) / b.n - CAST(b.sp AS DOUBLE) / b.n)
               * (CAST(b.n_pos AS DOUBLE) / b.n - CAST(b.sp AS DOUBLE) / b.n), 9)
              AS DECIMAL(38,9)) AS rel_t,
         CAST(round((CAST(b.n AS DOUBLE) / t.nt)
               * (CAST(b.n_pos AS DOUBLE) / b.n - CAST(t.pt AS DOUBLE) / t.nt)
               * (CAST(b.n_pos AS DOUBLE) / b.n - CAST(t.pt AS DOUBLE) / t.nt), 9)
              AS DECIMAL(38,9)) AS res_t
  FROM bins b JOIN tot t USING (week)
)
SELECT week, CAST(MAX(nt) AS BIGINT) AS n,
       round(CAST(MAX(pt) AS DOUBLE) / MAX(nt), 9) + 0.0 AS base_rate,
       round(CAST(SUM(ece_t) AS DOUBLE), 9) + 0.0 AS ece,
       round(MAX(absgap), 9) + 0.0 AS mce,
       round(CAST(MAX(sqt) AS DOUBLE) / MAX(nt), 9) + 0.0 AS brier,
       round(CAST(SUM(rel_t) AS DOUBLE), 9) + 0.0 AS reliability,
       round(CAST(SUM(res_t) AS DOUBLE), 9) + 0.0 AS resolution,
       round((CAST(MAX(pt) AS DOUBLE) / MAX(nt))
             * (1.0 - CAST(MAX(pt) AS DOUBLE) / MAX(nt)), 9) + 0.0 AS uncertainty
FROM per_bin GROUP BY week
"""


def events_calibration_drift_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-class composition: per-user-segment weekly ECE series
    (`calibration_by_group`) fed into the two-sided CUSUM monitor
    (`operators/changepoint.py cusum_excursions`) — the complete
    "is the model's calibration drifting, WHERE and WHEN, per segment"
    pipeline a scoring service runs over its ingest logs. Grid-sized
    end-to-end after the one corpus shuffle: segments × weeks rows."""
    from onetl_spark.operators.changepoint import cusum_excursions

    ensure_views(spark, sf_dir)
    ev = spark.table("events")
    mx = ev.agg(F.max("value").alias("_mx"))
    scored = ev.crossJoin(F.broadcast(mx)).select(
        (F.col("value") / F.col("_mx")).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        F.pmod(F.col("user_id"), F.lit(4)).alias("segment"),
    )
    weekly = calibration_by_group(
        scored, ["segment", "week"], n_bins=_N_BINS
    ).select("segment", "week", "ece")
    return cusum_excursions(weekly, ["segment"], "week", "ece")


_SEG_WEEKLY_SQL = f"""
scored AS (
  SELECT value / (SELECT MAX(value) FROM events) AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week,
         user_id % 4 AS segment
  FROM events
), bins AS (
  SELECT segment, week,
         LEAST({_N_BINS - 1}, CAST(FLOOR(score * {_N_BINS}) AS INT)) AS bin,
         COUNT(*) AS n,
         SUM(CAST(round(score, 9) AS DECIMAL(38,9))) AS sp,
         CAST(SUM(label) AS BIGINT) AS n_pos
  FROM scored GROUP BY 1, 2, 3
), tot AS (
  SELECT segment, week, SUM(n) AS nt FROM bins GROUP BY 1, 2
), weekly AS (
  SELECT b.segment, b.week,
         round(CAST(SUM(CAST(round((CAST(b.n AS DOUBLE) / t.nt)
               * abs(CAST(b.n_pos AS DOUBLE) / b.n - CAST(b.sp AS DOUBLE) / b.n), 9)
              AS DECIMAL(38,9))) AS DOUBLE), 9) + 0.0 AS ece
  FROM bins b JOIN tot t ON t.segment = b.segment AND t.week = b.week
  GROUP BY 1, 2
)"""

_CUS_MU = "sx_n / n"
_CUS_SIGMA = f"sqrt(greatest(0.0, sxx_n / n - ({_CUS_MU}) * ({_CUS_MU})))"

DRIFT_CUSUM_SQL = f"""
WITH {_SEG_WEEKLY_SQL}, pre AS (
  SELECT segment, week, ece,
         COUNT(*) OVER wall AS n,
         CAST(SUM(CAST(ece AS DECIMAL(27,9))) OVER wall AS DOUBLE) AS sx_n,
         CAST(SUM(CAST(ece * ece AS DECIMAL(30,9))) OVER wall AS DOUBLE) AS sxx_n,
         ROW_NUMBER() OVER w AS i,
         CAST(SUM(CAST(ece AS DECIMAL(27,9))) OVER w AS DOUBLE) AS sx_i
  FROM weekly
  WINDOW wall AS (PARTITION BY segment),
         w AS (PARTITION BY segment ORDER BY week
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), pq AS (
  SELECT segment, week, ece,
         {sql_fsig(_CUS_MU)} AS mu,
         {sql_fsig(_CUS_SIGMA)} AS sigma,
         sx_i - i * ({_CUS_MU} + 0.5 * {_CUS_SIGMA}) AS p,
         i * ({_CUS_MU} - 0.5 * {_CUS_SIGMA}) - sx_i AS q
  FROM pre
)
SELECT segment, week, ece, mu, sigma,
       {sql_fsig('p - least(0.0, MIN(p) OVER w)')} AS cusum_pos,
       {sql_fsig('q - least(0.0, MIN(q) OVER w)')} AS cusum_neg
FROM pq
WINDOW w AS (PARTITION BY segment ORDER BY week
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


register(events_score_reliability, RELIABILITY_SQL)
register(events_calibration_drift_cusum, DRIFT_CUSUM_SQL)
register(events_score_calibration_report, CALIBRATION_SQL)
register(events_calibration_drift_weekly, WEEKLY_SQL)
