"""Differentially-private release mechanisms over Spark DataFrames.

A new operator class for the engine: every existing privacy operator
(`quality.k_anonymity`, `quality.l_diversity`, `llm/hygiene` PII scrub)
REDACTS or AUDITS the raw data; these operators RELEASE aggregate
statistics with a formal (epsilon)-differential-privacy guarantee — the
shape a 100-TB training-data platform needs when per-source ingest
statistics leave the trust boundary (dashboards, partner reports,
public datasheets).

Mechanism: the classic Laplace mechanism with USER-LEVEL sensitivity
control done Spark-side before aggregation:

1. **Contribution bounding** — each user contributes to at most
   ``max_groups_per_user`` released cells
   (:func:`bound_group_contributions`) and, for sums, at most
   ``max_rows_per_group`` rows per cell (:func:`cap_rows_per_group`),
   both selected DETERMINISTICALLY by md5 hash order so re-runs and
   engine mirrors pick the identical subset (no RNG, no sampling
   nondeterminism at 1000 executors).
2. **Clamping** — sum contributions are clamped to ``[lo, hi]`` so a
   single row's influence is bounded.
3. **Noise** — Laplace noise with scale = sensitivity / epsilon, drawn
   via the inverse CDF from a DETERMINISTIC hash-uniform per released
   cell (:func:`laplace_noise`). This is a *pseudo*-random release: the
   seed string is the privacy-critical secret exactly like any seeded
   DP deployment, and determinism is what makes the release testable
   bit-for-bit against an independent engine (the DuckDB oracle mirrors
   the md5 → uniform → inverse-CDF chain token for token).

Float discipline: the only engine-variant primitive in the chain is
``ln`` (libm, last-ULP differences) — the noise term and every released
double go through the composed float32 rounding (``fsig``, see
`spark_utils.fsig`), and the uniform itself is EXACT (52-bit md5
prefix → ``(h + 0.5) / 2**52`` is dyadic arithmetic, bit-identical in
any IEEE engine).

Sensitivity accounting (user-level, add/remove one user):
a bounded user touches ≤ ``max_groups_per_user`` cells; each count cell
changes by ≤ 1, each sum cell by ≤ ``max_rows_per_group * max(|lo|,
|hi|)``, so the release vector's L1 sensitivity is the product — the
scale each function reports alongside its noisy values.

Scale posture (100 TB): contribution bounding is one hash-partitioned
window per user (the same shuffle a per-user dedup pays), the release
aggregate is map-side combined onto the tiny group grid, and the noise
is a per-cell projection on that grid — no extra corpus scan, no
driver-side state.

Reference parity: the reference engine (onetl, /root/reference) has no
DP surface; this class extends the pipeline-operator suite the same way
the dedup/decontamination classes do (capability the reference's users
need at scale, expressed Spark-first).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from onetl_spark.spark_utils import fsig

__all__ = [
    "hash_uniform",
    "laplace_noise",
    "bound_group_contributions",
    "cap_rows_per_group",
    "dp_count_release",
    "dp_sum_release",
]

_TWO_52 = float(2**52)


def hash_uniform(key: Column, seed: str) -> Column:
    """Deterministic uniform in (0, 1) from a cell key: the first 13 hex
    chars of ``md5(seed || '|' || key)`` are 52 bits, and
    ``(h + 0.5) / 2**52`` is EXACT dyadic double arithmetic — identical
    in Spark and DuckDB (``('0x' || substr(md5(..),1,13))::BIGINT``).
    The +0.5 offset keeps the value strictly inside (0, 1), so the
    inverse CDF below never sees ln(0)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed + "|"), key)), 1, 13), 16, 10
    ).cast("long")
    return (h.cast("double") + F.lit(0.5)) / F.lit(_TWO_52)


def laplace_noise(key: Column, scale: float, seed: str) -> Column:
    """Laplace(0, scale) noise by inverse CDF on the hash uniform:
    ``-scale * sign(u - 1/2) * ln(1 - 2|u - 1/2|)``. Everything except
    ``ln`` is exact IEEE arithmetic; the result is float32-rounded
    (`fsig`) so libm last-ULP differences cannot surface cross-engine."""
    t = hash_uniform(key, seed) - F.lit(0.5)
    raw = F.lit(-scale) * F.signum(t) * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(t))
    return fsig(raw)


def _sel_key(user: Column, cols: list[Column], seed: str) -> Column:
    return F.md5(
        F.concat_ws("|", F.lit(seed), user.cast("string"), *[c.cast("string") for c in cols])
    )


def bound_group_contributions(
    df: DataFrame,
    user_col: str,
    group_cols: list[str],
    max_groups_per_user: int,
    seed: str = "dp-groups",
) -> DataFrame:
    """The kept ``(user, group…)`` unit set: each user's distinct groups
    ranked by md5 hash (ties by the group values — a total, engine-free
    order) and truncated at ``max_groups_per_user``. One shuffle by
    user; the unit set is what both releases bound sensitivity on."""
    units = (
        df.select(user_col, *group_cols)
        .filter(F.col(user_col).isNotNull())
        .distinct()
    )
    order = [
        _sel_key(F.col(user_col), [F.col(c) for c in group_cols], seed),
        *[F.col(c) for c in group_cols],
    ]
    rn = F.row_number().over(W.partitionBy(user_col).orderBy(*order))
    return units.withColumn("_rn", rn).filter(F.col("_rn") <= max_groups_per_user).drop("_rn")


def cap_rows_per_group(
    df: DataFrame,
    user_col: str,
    group_cols: list[str],
    row_key_col: str,
    max_rows_per_group: int,
    seed: str = "dp-rows",
) -> DataFrame:
    """At most ``max_rows_per_group`` rows per (user, group…) cell,
    selected by md5 hash of the row key (ties by the row key). The row
    key must be unique per row (an event id); the same user shuffle as
    the unit bounding."""
    order = [
        _sel_key(F.col(user_col), [F.col(row_key_col)], seed),
        F.col(row_key_col),
    ]
    rn = F.row_number().over(
        W.partitionBy(user_col, *group_cols).orderBy(*order)
    )
    return df.withColumn("_rn", rn).filter(F.col("_rn") <= max_rows_per_group).drop("_rn")


def dp_count_release(
    df: DataFrame,
    group_cols: list[str],
    user_col: str,
    epsilon: float,
    max_groups_per_user: int,
    seed: str = "dp-count",
) -> DataFrame:
    """User-level epsilon-DP histogram of DISTINCT USERS per group.

    Returns one row per group: ``(group…, true_count, noisy_count,
    epsilon, sensitivity, noise_scale)``. ``true_count`` is for the
    offline utility audit — a public release selects everything BUT it.
    Sensitivity: one user adds/removes ≤ 1 from each of ≤
    ``max_groups_per_user`` cells → L1 = ``max_groups_per_user``."""
    kept = bound_group_contributions(
        df, user_col, group_cols, max_groups_per_user, seed=seed + "-sel"
    )
    sensitivity = float(max_groups_per_user)
    scale = sensitivity / epsilon
    counts = kept.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    cell = F.concat_ws("|", *[F.col(c).cast("string") for c in group_cols])
    noise = laplace_noise(cell, scale, seed + "-noise")
    return counts.select(
        *group_cols,
        "true_count",
        fsig(F.col("true_count").cast("double") + noise).alias("noisy_count"),
        F.lit(float(epsilon)).alias("epsilon"),
        F.lit(sensitivity).alias("sensitivity"),
        F.lit(scale).alias("noise_scale"),
    )


def dp_sum_release(
    df: DataFrame,
    group_cols: list[str],
    user_col: str,
    value_col: str,
    row_key_col: str,
    epsilon: float,
    lo: float,
    hi: float,
    max_groups_per_user: int,
    max_rows_per_group: int,
    seed: str = "dp-sum",
) -> DataFrame:
    """User-level epsilon-DP bounded sum of ``value_col`` per group.

    Pipeline: keep each user's hash-selected ≤ ``max_groups_per_user``
    groups → keep ≤ ``max_rows_per_group`` hash-selected rows per kept
    (user, group) cell → clamp values to [lo, hi] → exact decimal sum →
    Laplace noise at scale ``max_groups_per_user * max_rows_per_group *
    max(|lo|, |hi|) / epsilon``. Returns ``(group…, true_sum, noisy_sum,
    epsilon, sensitivity, noise_scale)``; a public release drops
    ``true_sum``."""
    if hi <= lo:
        raise ValueError(f"clamp range must satisfy lo < hi, got [{lo}, {hi}]")
    base = df.filter(
        F.col(user_col).isNotNull() & F.col(value_col).isNotNull()
    )
    # Both caps ride ONE corpus exchange (hash by user) and zero joins:
    # dense_rank over the corpus ordered by the unit hash ranks DISTINCT
    # units (all rows of a unit share the hash; ties across units break
    # on the group values), so it equals row_number over the distinct
    # unit set — and the row-cap window's (user, group…) clustering is
    # already satisfied by the user partitioning, costing only a sort.
    # The join formulation (distinct units → semi join back) shuffles the
    # corpus twice at scale once the unit set outgrows the broadcast
    # threshold (it is O(users) rows).
    unit_key = _sel_key(
        F.col(user_col), [F.col(c) for c in group_cols], seed + "-sel"
    )
    w_units = W.partitionBy(user_col).orderBy(
        unit_key, *[F.col(c) for c in group_cols]
    )
    row_key = _sel_key(F.col(user_col), [F.col(row_key_col)], seed + "-rows")
    w_rows = W.partitionBy(user_col, *group_cols).orderBy(
        row_key, F.col(row_key_col)
    )
    capped = (
        base.withColumn("_gr", F.dense_rank().over(w_units))
        .withColumn("_rn", F.row_number().over(w_rows))
        .filter(
            (F.col("_gr") <= max_groups_per_user)
            & (F.col("_rn") <= max_rows_per_group)
        )
    )
    clamped = F.least(F.greatest(F.col(value_col), F.lit(lo)), F.lit(hi))
    sensitivity = float(max_groups_per_user) * float(max_rows_per_group) * max(
        abs(lo), abs(hi)
    )
    scale = sensitivity / epsilon
    sums = capped.groupBy(*group_cols).agg(
        F.sum(clamped.cast("decimal(38,6)")).cast("double").alias("true_sum")
    )
    cell = F.concat_ws("|", *[F.col(c).cast("string") for c in group_cols])
    noise = laplace_noise(cell, scale, seed + "-noise")
    return sums.select(
        *group_cols,
        "true_sum",
        fsig(F.col("true_sum") + noise).alias("noisy_sum"),
        F.lit(float(epsilon)).alias("epsilon"),
        F.lit(sensitivity).alias("sensitivity"),
        F.lit(scale).alias("noise_scale"),
    )
