"""Changepoint / sequential-drift monitoring operators.

The monitoring side the drift family (`operators/stats.py`) lacks:
`wasserstein_1`/`energy_distance` compare two FIXED samples, while these
operators watch an ORDERED series and localize WHERE it moved — the
"did this source shift mid-stream?" question a 100-TB ingest pipeline
asks per source per day.

- :func:`cusum_excursions` — two-sided CUSUM (Page 1954). The textbook
  recursion ``S⁺_i = max(0, S⁺_{i-1} + x_i − μ − k)`` is sequential, but
  the classical identity ``S⁺_i = P_i − min_{0≤j≤i} P_j`` (P = drift-
  corrected prefix sum, P_0 = 0) turns it into two window functions: a
  running sum and a running min — fully parallel per key, one shuffle.
- :func:`single_changepoint` — exact least-squares single changepoint
  (the k=1 case of PELT / binary segmentation): for every split point
  the left+right SSE comes from prefix (n, Σx, Σx²) in closed form, so
  the scan over all n−1 candidate splits is ONE window pass, not n
  segment scans.

Scale posture (100 TB): inputs are per-key ordered series — in practice
the OUTPUT of a daily/hourly aggregation, so rows ≈ keys × grid points,
tiny next to the raw data. Both operators are one hash shuffle on the
key columns followed by per-partition window arithmetic; no joins, no
collects, no iteration. Skewed keys are bounded by the grid length, not
the raw row count.

Float determinism: prefix sums run over fixed-scale decimals (exact,
associative; ``scale`` sets the decimal precision); means/variances
divide exact decimal totals in double. EVERY emitted double (means, σ,
excursions, SSE) takes a float32 round-trip rather than round-9: these
quantities scale with the data, and the decimal→double cast that feeds
them differs across engines in its last ULP — a RELATIVE ~1e-13 drift
that crosses any fixed absolute rounding grid once magnitudes grow
(r10 `events_value_changepoint` at 1.4e7; r11 sf1 strict parity caught
σ/excursions at 1e4). IEEE double→float32 rounding keeps ~7 significant
digits at any magnitude and is bit-identical across engines
(`spark_utils.fsig`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from onetl_spark.spark_utils import fsig

__all__ = ["cusum_excursions", "single_changepoint"]


def _prefix_cols(key_cols: list[str], order_col: str, value_col: str, scale: int):
    """Shared windows + exact prefix/total aggregates.

    Also returns ``bad`` — a per-key flag (max over the partition) set
    when any value or order entry is NULL. NULLs would silently skew the
    baseline (COUNT counts the row, SUM skips it) and scramble the
    ordering, so callers wrap an output column in :func:`_guarded`; the
    check rides the existing partition window (the ``gini_coefficient``
    raise-at-execution convention — no dedicated validation scan).
    """
    w_all = W.partitionBy(*key_cols)
    w_run = (
        W.partitionBy(*key_cols)
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    x_dec = F.col(value_col).cast(f"decimal(27,{scale})")
    xx_dec = (F.col(value_col) * F.col(value_col)).cast(f"decimal(30,{scale})")
    bad = F.max(
        (F.col(value_col).isNull() | F.col(order_col).isNull()).cast("int")
    ).over(w_all)
    return w_all, w_run, x_dec, xx_dec, bad


def _guarded(col, bad_col, op_name: str):
    """Raise at execution time when the series carried a NULL.

    Wrapped around EVERY emitted numeric column — a caller that selects
    any subset still trips the guard even after Catalyst prunes the rest
    (r10 advice: a guard riding a single column vanishes when that column
    is pruned). Caveat: a key whose ONLY point has a NULL value/order is
    filtered out before any guard evaluates (``single_changepoint``
    drops i == n rows), so such keys vanish rather than raise.
    """
    return F.when(
        bad_col == 1,
        F.raise_error(
            F.lit(f"{op_name}: value and order columns must be non-null")
        ).cast("double"),
    ).otherwise(col)


def cusum_excursions(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    k_sigma: float = 0.5,
    scale: int = 9,
) -> DataFrame:
    """Two-sided CUSUM statistics per ordered series.

    Input: one row per (key, order point) — an already-aggregated series
    (daily means, hourly counts, …). Adds, per row:

    - ``cusum_pos`` — upward excursion ``S⁺_i`` with slack
      ``k = k_sigma·σ`` around the series' own mean μ
    - ``cusum_neg`` — downward excursion ``S⁻_i``
    - ``mu``, ``sigma`` — the per-key baseline (population σ)

    Alarm thresholds (classically ``h ≈ 4σ–5σ``) are the caller's
    policy; this operator emits the trajectories.
    """
    if k_sigma < 0:
        raise ValueError("k_sigma must be non-negative")
    w_all, w_run, x_dec, xx_dec, bad = _prefix_cols(
        key_cols, order_col, value_col, scale
    )

    # stage 1: one level of window functions (Spark forbids nesting a
    # window expression inside another window's argument)
    stage1 = df.select(
        *key_cols,
        order_col,
        value_col,
        bad.alias("_bad"),
        F.count(F.lit(1)).over(w_all).alias("_n"),
        F.sum(x_dec).over(w_all).cast("double").alias("_sx"),
        F.sum(xx_dec).over(w_all).cast("double").alias("_sxx"),
        F.row_number().over(w_run).alias("_i"),
        F.sum(x_dec).over(w_run).cast("double").alias("_run"),
    )
    mu = F.col("_sx") / F.col("_n")
    sigma = F.sqrt(
        F.greatest(F.lit(0.0), F.col("_sxx") / F.col("_n") - mu * mu)
    )
    k = F.lit(float(k_sigma)) * sigma
    # drift-corrected prefix sums (plain arithmetic now — windowable)
    stage2 = stage1.select(
        *key_cols,
        order_col,
        value_col,
        F.col("_bad"),
        mu.alias("_mu"),
        sigma.alias("_sigma"),
        (F.col("_run") - F.col("_i") * (mu + k)).alias("_p"),
        (F.col("_i") * (mu - k) - F.col("_run")).alias("_q"),
    )
    # stage 2: running mins; P_0 = Q_0 = 0 enters via least(0, min)
    w_run2 = (
        W.partitionBy(*key_cols)
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    p_min = F.least(F.lit(0.0), F.min("_p").over(w_run2))
    q_min = F.least(F.lit(0.0), F.min("_q").over(w_run2))

    def g(col):  # guard every output, so any column subset still raises
        return _guarded(col, F.col("_bad"), "cusum_excursions")

    # float32 round-trip, not round(x, scale): these outputs scale with
    # the data (mu, σ, excursions ~ n·σ), and their inputs carry a
    # decimal→double cast whose last ULP differs across engines — a
    # RELATIVE ~1e-13 drift that crosses the 0.5e-9 absolute rounding
    # boundary once magnitudes reach ~1e4 (sf1 strict-parity finding).
    # fsig's tolerance is relative (~3e-8), so it is magnitude-immune.
    return stage2.select(
        *key_cols,
        order_col,
        value_col,
        g(fsig(F.col("_mu"))).alias("mu"),
        g(fsig(F.col("_sigma"))).alias("sigma"),
        g(fsig(F.col("_p") - p_min)).alias("cusum_pos"),
        g(fsig(F.col("_q") - q_min)).alias("cusum_neg"),
    )


def single_changepoint(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    scale: int = 9,
) -> DataFrame:
    """Exact least-squares single changepoint per key.

    For every split after position i (1 ≤ i < n) the two-segment cost is

        SSE(i) = (Sxx_i − S_i²/i) + ((Sxx_n − Sxx_i) − (S_n − S_i)²/(n−i))

    — all from exact decimal prefix sums, so the full candidate scan is
    one window pass. Returns one row per key: the best split (last order
    value of the left segment, earliest split on cost ties), segment
    means, and ``var_explained = 1 − SSE_best/SSE_total`` (0 when the
    series is constant). Keys with a single point have no valid split
    and emit no row.

    All emitted doubles (SSE ~ n·σ², segment means ~ data scale) carry
    float32 significant precision (~7 digits) rather than 9-dp rounding —
    see the module docstring for why fixed-absolute rounding is not
    engine-stable at scale. The argmin tie-break orders by the SAME
    float32-rounded cost, so the chosen split is engine-stable too.
    """
    w_all, w_run, x_dec, xx_dec, bad = _prefix_cols(
        key_cols, order_col, value_col, scale
    )

    n = F.count(F.lit(1)).over(w_all)
    sx_n = F.sum(x_dec).over(w_all).cast("double")
    sxx_n = F.sum(xx_dec).over(w_all).cast("double")
    i = F.row_number().over(w_run)
    sx_i = F.sum(x_dec).over(w_run).cast("double")
    sxx_i = F.sum(xx_dec).over(w_run).cast("double")

    sse_total = sxx_n - sx_n * sx_n / n
    sse_left = sxx_i - sx_i * sx_i / i
    sse_right = (sxx_n - sxx_i) - (sx_n - sx_i) * (sx_n - sx_i) / (n - i)
    def g(col):  # guard every output, so any column subset still raises
        return _guarded(col, bad, "single_changepoint")

    # ALL magnitude-unbounded outputs (SSE ~ n·σ², means ~ data scale)
    # take the float32 round-trip — see cusum_excursions for why round-9
    # is not engine-stable once the decimal→double cast ULP exceeds the
    # absolute rounding grid
    cand = df.select(
        *key_cols,
        F.col(order_col).alias("split_at"),
        i.alias("_i"),
        n.alias("n_points"),
        g(fsig(sse_left + sse_right)).alias("sse_split"),
        g(fsig(sse_total)).alias("sse_total"),
        g(fsig(sx_i / i)).alias("pre_mean"),
        g(fsig((sx_n - sx_i) / (n - i))).alias("post_mean"),
    ).filter(F.col("_i") < F.col("n_points"))

    w_best = W.partitionBy(*key_cols).orderBy(F.asc("sse_split"), F.asc("_i"))
    best = (
        cand.withColumn("_rn", F.row_number().over(w_best))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_i")
    )
    var_explained = F.when(
        F.col("sse_total") > 0,
        F.round(1.0 - F.col("sse_split") / F.col("sse_total"), scale),
    ).otherwise(F.lit(0.0))
    return best.select(
        *key_cols,
        "split_at",
        "n_points",
        "pre_mean",
        "post_mean",
        "sse_split",
        "sse_total",
        var_explained.alias("var_explained"),
    )
