"""Differentially-private release showcase — `operators/privacy.py` as
driver-checkable queries. A NEW operator class: the existing privacy
queries (k-anonymity, l-diversity, PII scrub) redact or audit raw data;
these RELEASE aggregates under user-level epsilon-DP — contribution
bounding + clamping + deterministic-hash Laplace noise + composition
accounting — the shape per-source ingest statistics take when they leave
the trust boundary of a 100-TB pipeline.

Oracle strategy: the md5 → 52-bit uniform → inverse-CDF chain is exact
dyadic arithmetic except ``ln`` (libm last-ULP), so every noise term and
released double goes through the composed fsig rounding on BOTH sides;
the contribution-bounding windows and clamp expressions are mirrored
token for token (every algorithm knob appears in the oracle — the r10
simhash lesson). Both caps BIND on the test corpus: users touch up to 5
event types against ``_C = 3``, and a (user, type) cell holds ~13 rows
against ``_R = 5``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onetl_spark.operators.privacy import dp_count_release, dp_sum_release
from onetl_spark.showcase.registry import register
from onetl_spark.showcase.util import ensure_views, sql_fsig


_EPS_COUNT = 1.0
_EPS_SUM = 1.0
_C = 3  # max groups (event types) a user contributes to
_R = 5  # max rows per kept (user, type) cell in the sum release
_LO = 0.0
_HI = 100.0
_SUM_SENS = _C * _R * max(abs(_LO), abs(_HI))  # 1500.0
_U52 = "4503599627370496.0"  # 2**52 — the dyadic uniform denominator


def _sql_laplace(key_expr: str, scale: float) -> str:
    """Laplace(0, scale) from the deterministic cell uniform, mirroring
    `operators/privacy.laplace_noise` stage for stage. Every literal is
    CAST to DOUBLE — DuckDB types bare decimal-point literals as DECIMAL,
    and decimal division would diverge from Spark's IEEE doubles."""
    h = f"CAST(('0x' || substr(md5({key_expr}), 1, 13))::BIGINT AS DOUBLE)"
    u = f"(({h} + CAST(0.5 AS DOUBLE)) / CAST({_U52} AS DOUBLE))"
    t = f"({u} - CAST(0.5 AS DOUBLE))"
    raw = (
        f"CAST(-{scale!r} AS DOUBLE) * sign({t}) * "
        f"ln(CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) * abs({t}))"
    )
    return sql_fsig(raw)


def _base_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_views(spark, sf_dir)
    return spark.table("events").filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("event_id").isNotNull()
    )


def _count_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dp_count_release(
        _base_events(spark, sf_dir),
        ["event_type"],
        "user_id",
        epsilon=_EPS_COUNT,
        max_groups_per_user=_C,
        seed="dpu",
    )


def _sum_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _base_events(spark, sf_dir).filter(F.col("value").isNotNull())
    return dp_sum_release(
        ev,
        ["event_type"],
        "user_id",
        "value",
        "event_id",
        epsilon=_EPS_SUM,
        lo=_LO,
        hi=_HI,
        max_groups_per_user=_C,
        max_rows_per_group=_R,
        seed="dpv",
    )


def dp_active_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PUBLIC release: user-level epsilon-DP count of distinct active
    users per event type (true counts withheld — see `dp_release_audit`
    for the offline utility view)."""
    return _count_release(spark, sf_dir).select(
        "event_type", "noisy_count", "epsilon", "sensitivity", "noise_scale"
    )


_WHERE = "user_id IS NOT NULL AND event_type IS NOT NULL AND event_id IS NOT NULL"

# the kept (user, type) unit set under the hash-selected C-cap — shared
# by both releases (different selection seeds, and the sum release's
# unit set is built over the value-non-null base, exactly like the
# operator: the hash RANKING must see the same unit population)
def _kept_units_sql(seed: str, where: str, name: str) -> str:
    sel = f"md5(concat_ws('|', '{seed}-sel', CAST(user_id AS VARCHAR), event_type))"
    return f"""{name} AS (
  SELECT user_id, event_type FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY {sel}, event_type) AS rn
    FROM (SELECT DISTINCT user_id, event_type FROM events WHERE {where})
  ) WHERE rn <= {_C}
)"""


_COUNT_SCALE = _C / _EPS_COUNT
_COUNT_NOISE = _sql_laplace("'dpu-noise|' || event_type", _COUNT_SCALE)
_NOISY_COUNT = sql_fsig(f"CAST(true_count AS DOUBLE) + {_COUNT_NOISE}")
_COUNT_CORE = f"""
{_kept_units_sql('dpu', _WHERE, 'kept_c')},
counts AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS true_count
  FROM kept_c GROUP BY event_type
), count_rel AS (
  SELECT event_type, true_count,
         {_NOISY_COUNT}
           AS noisy_count,
         CAST({_EPS_COUNT!r} AS DOUBLE) AS epsilon,
         CAST({float(_C)!r} AS DOUBLE) AS sensitivity,
         CAST({_COUNT_SCALE!r} AS DOUBLE) AS noise_scale
  FROM counts
)"""

COUNT_RELEASE_SQL = f"""
WITH {_COUNT_CORE}
SELECT event_type, noisy_count, epsilon, sensitivity, noise_scale FROM count_rel
"""


def dp_value_sum_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PUBLIC release: user-level epsilon-DP clamped sum of event
    value per event type (contributions clamped to [0, 100], ≤ 5 rows
    per kept (user, type) cell, ≤ 3 types per user)."""
    return _sum_release(spark, sf_dir).select(
        "event_type", "noisy_sum", "epsilon", "sensitivity", "noise_scale"
    )


_SUM_WHERE = _WHERE + " AND value IS NOT NULL"
_SUM_SCALE = _SUM_SENS / _EPS_SUM
_SUM_NOISE = _sql_laplace("'dpv-noise|' || event_type", _SUM_SCALE)
_NOISY_SUM = sql_fsig(f"true_sum + {_SUM_NOISE}")
_ROW_SEL = "md5(concat_ws('|', 'dpv-rows', CAST(e.user_id AS VARCHAR), CAST(e.event_id AS VARCHAR)))"
_SUM_CORE = f"""
{_kept_units_sql('dpv', _SUM_WHERE, 'kept_s')},
capped AS (
  SELECT * FROM (
    SELECT e.user_id, e.event_type, e.value,
           ROW_NUMBER() OVER (PARTITION BY e.user_id, e.event_type
                              ORDER BY {_ROW_SEL}, e.event_id) AS rn
    FROM events e SEMI JOIN kept_s k
      ON e.user_id = k.user_id AND e.event_type = k.event_type
    WHERE e.user_id IS NOT NULL AND e.event_type IS NOT NULL
      AND e.event_id IS NOT NULL AND e.value IS NOT NULL
  ) WHERE rn <= {_R}
), sums AS (
  SELECT event_type,
         CAST(SUM(CAST(least(greatest(value, CAST({_LO!r} AS DOUBLE)), CAST({_HI!r} AS DOUBLE)) AS DECIMAL(38,6))) AS DOUBLE)
           AS true_sum
  FROM capped GROUP BY event_type
), sum_rel AS (
  SELECT event_type, true_sum,
         {_NOISY_SUM}
           AS noisy_sum,
         CAST({_EPS_SUM!r} AS DOUBLE) AS epsilon,
         CAST({_SUM_SENS!r} AS DOUBLE) AS sensitivity,
         CAST({_SUM_SCALE!r} AS DOUBLE) AS noise_scale
  FROM sums
)"""

SUM_RELEASE_SQL = f"""
WITH {_SUM_CORE}
SELECT event_type, noisy_sum, epsilon, sensitivity, noise_scale FROM sum_rel
"""


def dp_release_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OFFLINE audit of both releases: true vs noisy value and
    absolute error per released cell, plus the basic-composition
    accounting row — total epsilon spent across the release suite (the
    number the privacy budget ledger tracks)."""
    c = _count_release(spark, sf_dir)
    s = _sum_release(spark, sf_dir)
    err = lambda t, n: F.round((n - t).cast("float").cast("double"), 9) + F.lit(0.0)  # noqa: E731
    counts = c.select(
        F.lit("active_users").alias("release"),
        "event_type",
        F.col("true_count").cast("double").alias("true_value"),
        F.col("noisy_count").alias("noisy_value"),
        F.abs(err(F.col("true_count").cast("double"), F.col("noisy_count"))).alias(
            "abs_error"
        ),
        "noise_scale",
        "epsilon",
    )
    sums = s.select(
        F.lit("value_sum").alias("release"),
        "event_type",
        F.col("true_sum").alias("true_value"),
        F.col("noisy_sum").alias("noisy_value"),
        F.abs(err(F.col("true_sum"), F.col("noisy_sum"))).alias("abs_error"),
        "noise_scale",
        "epsilon",
    )
    total = spark.range(1).select(
        F.lit("_composition_total").alias("release"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("double").alias("true_value"),
        F.lit(None).cast("double").alias("noisy_value"),
        F.lit(None).cast("double").alias("abs_error"),
        F.lit(None).cast("double").alias("noise_scale"),
        F.lit(_EPS_COUNT + _EPS_SUM).alias("epsilon"),
    )
    return counts.unionByName(sums).unionByName(total)


_ERR = "round(CAST(CAST(({n}) - ({t}) AS FLOAT) AS DOUBLE), 9) + 0.0"

AUDIT_SQL = f"""
WITH {_COUNT_CORE},
{_SUM_CORE.lstrip()}
SELECT 'active_users' AS release, event_type,
       CAST(true_count AS DOUBLE) AS true_value,
       noisy_count AS noisy_value,
       abs({_ERR.format(n='noisy_count', t='CAST(true_count AS DOUBLE)')}) AS abs_error,
       noise_scale, epsilon
FROM count_rel
UNION ALL
SELECT 'value_sum' AS release, event_type, true_sum AS true_value,
       noisy_sum AS noisy_value,
       abs({_ERR.format(n='noisy_sum', t='true_sum')}) AS abs_error,
       noise_scale, epsilon
FROM sum_rel
UNION ALL
SELECT '_composition_total', CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST({(_EPS_COUNT + _EPS_SUM)!r} AS DOUBLE)
"""


register(dp_active_users_by_type, COUNT_RELEASE_SQL)
register(dp_value_sum_by_type, SUM_RELEASE_SQL)
register(dp_release_audit, AUDIT_SQL)
