"""Data-quality operators: column profiling, k-anonymity risk reports,
declarative expectation checks.

Reference parity: onETL itself delegates validation to the surrounding
pipeline; these are the checks its users run around every transfer
(row-count / null-rate probes before a DBWriter, FK spot checks after).
Implemented here as first-class one-pass aggregates.

Scale design:

- ``profile`` issues ONE single-column aggregate per profiled column and
  unions the results. Deliberately NOT one multi-distinct aggregate:
  Spark expands multiple exact ``count(distinct x_i)`` aggregates into an
  ``Expand`` node that replicates every input row once per distinct
  column — k× the scan on 100 TB. Per-column plans each read exactly one
  column (parquet column pruning), so total I/O ≈ one full-width scan,
  and the k jobs parallelize across the cluster.
- ``k_anonymity`` is a single groupBy over the quasi-identifier columns.
- ``expect`` folds all checks into ONE conditional aggregate pass —
  never one job per rule.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType


def profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column profile: rows, nulls, exact distinct count, min/max.

    Returns one row per column: ``(col_name, n_rows, n_nulls, n_distinct,
    min_num, max_num, min_str, max_str)`` — numeric extrema as doubles,
    everything else cast to string (ISO formatting for dates/timestamps),
    so heterogeneous columns union into one stable schema without
    engine-dependent float→string formatting.
    """
    fields = {f.name: f.dataType for f in df.schema.fields}
    columns = list(columns or fields)
    parts = []
    for c in columns:
        numeric = isinstance(fields[c], NumericType)
        col = F.col(c)
        parts.append(
            df.select(col).agg(
                F.lit(c).alias("col_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.when(col.isNull(), 1)).alias("n_nulls"),
                F.countDistinct(col).alias("n_distinct"),
                (F.min(col).cast("double") if numeric else F.lit(None).cast("double")).alias("min_num"),
                (F.max(col).cast("double") if numeric else F.lit(None).cast("double")).alias("max_num"),
                (F.lit(None).cast("string") if numeric else F.min(col).cast("string")).alias("min_str"),
                (F.lit(None).cast("string") if numeric else F.max(col).cast("string")).alias("max_str"),
            ),
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def k_anonymity(df: DataFrame, quasi_identifiers: list[str], k: int = 5) -> DataFrame:
    """k-anonymity report over quasi-identifier columns: every equivalence
    class with its size and an ``at_risk`` flag (class size below ``k`` —
    those rows are re-identifiable by the QI combination).

    One shuffle on the QI key; the report is class-count-sized, not
    row-sized.
    """
    return (
        df.groupBy(*quasi_identifiers)
        .agg(F.count(F.lit(1)).alias("class_size"))
        .withColumn("at_risk", (F.col("class_size") < k).cast("boolean"))
    )


@dataclass(frozen=True)
class Expectation:
    """A named row-level predicate (SQL expression string) that should
    hold for every row, e.g. ``Expectation("positive_price",
    "o_totalprice > 0")``."""

    name: str
    predicate: str


def expect(df: DataFrame, expectations: list[Expectation]) -> DataFrame:
    """Evaluate all expectations in ONE aggregate pass. Returns one row
    per expectation: ``(expectation, n_rows, n_failed, pass_rate)``.

    Nulls count as failures (the predicate did not evaluate to true) —
    the conservative convention for data contracts.
    """
    aggs = []
    for e in expectations:
        failed = F.coalesce(  # SUM over zero rows is null, not 0
            F.sum(F.when(F.coalesce(F.expr(e.predicate), F.lit(False)), 0).otherwise(1)),
            F.lit(0),
        )
        aggs.append(failed.alias(f"__f_{e.name}"))
    totals = df.agg(F.count(F.lit(1)).alias("__n"), *aggs)
    rows = F.explode(
        F.array(*[
            F.struct(
                F.lit(e.name).alias("expectation"),
                F.col("__n").alias("n_rows"),
                F.col(f"__f_{e.name}").cast("long").alias("n_failed"),
            )
            for e in expectations
        ]),
    ).alias("r")
    return totals.select(rows).select(
        "r.expectation",
        "r.n_rows",
        "r.n_failed",
        F.round(
            F.when(F.col("r.n_rows") > 0, 1.0 - F.col("r.n_failed") / F.col("r.n_rows")).otherwise(1.0),
            9,
        ).alias("pass_rate"),
    )


def key_skew_profile(
    df: DataFrame,
    key_col: str,
    top_n: int = 5,
) -> DataFrame:
    """Shuffle-skew diagnostics for a prospective join/groupBy key: key
    cardinality, the share of rows carried by the hottest key and the
    hottest ``top_n`` keys, exact median and p99 of the per-key row
    count, and the max/median ratio — the number that predicts whether a
    shuffle on this key stragglers out at scale (a ratio in the hundreds
    means the hot task runs hundreds of times longer than the typical
    one; salt or AQE-skew-join before shipping).

    One shuffle on the key for the counts; everything after is
    key-cardinality-sized, with NO global window anywhere: the hot-key
    share comes from a TakeOrdered top-``top_n`` (per-partition heaps +
    driver merge of ``top_n`` rows), and the hottest single key is just
    ``max``. Percentiles are exact (``percentile``) over the per-key
    counts — for extreme key cardinalities swap in ``approx_percentile``
    (the one knob here that trades oracle-exactness for memory).
    """
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("_n"))
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("_n").alias("n_rows"),
        F.max("_n").alias("max_key_rows"),
        F.round(F.expr("percentile(_n, 0.5)"), 9).alias("median_key_rows"),
        F.round(F.expr("percentile(_n, 0.99)"), 9).alias("p99_key_rows"),
    )
    topn = (
        counts.orderBy(F.desc("_n"), F.asc(key_col))
        .limit(top_n)
        .agg(F.sum("_n").alias("_topn"))
    )
    return stats.join(F.broadcast(topn)).select(
        "n_keys",
        "n_rows",
        "max_key_rows",
        "median_key_rows",
        "p99_key_rows",
        F.round(F.col("max_key_rows") / F.col("n_rows"), 9).alias("top1_share"),
        F.round(F.col("_topn") / F.col("n_rows"), 9).alias(f"top{top_n}_share"),
        F.round(F.col("max_key_rows") / F.col("median_key_rows"), 9).alias("skew_ratio"),
    )


def l_diversity(
    df: DataFrame,
    quasi_identifiers: list[str],
    sensitive_col: str,
    l: int = 2,
) -> DataFrame:
    """l-diversity report, the companion to :func:`k_anonymity`: per
    quasi-identifier equivalence class, the DISTINCT count of the
    sensitive attribute — a class where everyone shares one sensitive
    value leaks it even when the class is k-large (the homogeneity
    attack k-anonymity misses). ``at_risk`` flags classes below ``l``.

    One shuffle on (QI, sensitive) for the distinct, one class-sized
    re-aggregation — the sensitive values themselves never concentrate
    on one node.
    """
    per_class = (
        df.select(*quasi_identifiers, sensitive_col)
        .distinct()
        .groupBy(*quasi_identifiers)
        .agg(F.count(F.lit(1)).alias("distinct_sensitive"))
    )
    sizes = df.groupBy(*quasi_identifiers).agg(F.count(F.lit(1)).alias("class_size"))
    return (
        sizes.join(per_class, quasi_identifiers)
        .withColumn("at_risk", (F.col("distinct_sensitive") < l).cast("boolean"))
    )


def population_stability(
    df_ref: DataFrame,
    df_cur: DataFrame,
    column: str,
    buckets: int = 10,
    epsilon: float = 1e-6,
    bounds: "list[float] | None" = None,
) -> DataFrame:
    """Population Stability Index between a reference period and the
    current period of a numeric column — the standard drift monitor a
    production pipeline alerts on (rule of thumb: PSI < 0.1 stable,
    0.1–0.25 shifting, > 0.25 drifted).

    Buckets are the REFERENCE period's approx-quantile ranges (the
    convention: the monitor asks how today's data falls into
    yesterday's bins; a NULL-heavy or constant column degrades to fewer
    bins, never errors). Each side then pays one scan + one
    ``buckets``-row aggregate; per-bucket shares and the PSI terms are
    computed driver-side on the two tiny count maps. NULLs get their own
    bucket (-1, emitted only when either side actually has NULLs) so
    missing-rate drift is part of the report. ``epsilon`` floors only
    the log term; reported shares are true shares.

    Returns one row per bucket (``bucket, lo, hi, ref_share, cur_share,
    psi_term``) plus the total under bucket ``-2`` — small enough to
    collect, typed as a DataFrame to compose with reporting sinks.
    """
    if bounds is not None:
        # explicit pinned bin edges (the production monitor convention:
        # freeze yesterday's bins and reuse them across runs/engines —
        # also what makes the result exactly reproducible, since
        # approxQuantile edges are sketch-dependent)
        bounds = sorted(set(float(b) for b in bounds))
        if not bounds:
            raise ValueError("population_stability: bounds must be non-empty")
    else:
        if buckets < 2:
            raise ValueError(
                f"population_stability: buckets must be >= 2, got {buckets}"
            )
        qs = [i / buckets for i in range(1, buckets)]
        bounds = sorted(set(df_ref.stat.approxQuantile(column, qs, 0.001)))

    from onetl_spark.operators.ranking import ascending_bucket

    def bucketed_counts(df: DataFrame) -> dict[int, int]:
        b = ascending_bucket(bounds, F.col(column).cast("double"))
        expr = F.when(F.col(column).isNull(), F.lit(-1)).otherwise(b).cast("int")
        return {
            r["_b"]: r["n"]
            for r in df.select(expr.alias("_b"))
            .groupBy("_b")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    ref_counts = bucketed_counts(df_ref)
    cur_counts = bucketed_counts(df_cur)
    ref_total = sum(ref_counts.values()) or 1
    cur_total = sum(cur_counts.values()) or 1

    import math

    spark = df_ref.sparkSession
    rows = []
    total_psi = 0.0
    # unbounded outer edges are NULL, not +-inf: NULL survives every
    # serialization path (Arrow, JSON reporting sinks) that chokes on
    # IEEE infinities, and reads naturally as "open-ended bin"
    edges = [None] + [float(b) for b in bounds] + [None]
    has_nulls = ref_counts.get(-1, 0) or cur_counts.get(-1, 0)
    bucket_ids = ([-1] if has_nulls else []) + list(range(len(bounds) + 1))
    for b in bucket_ids:
        pr = ref_counts.get(b, 0) / ref_total
        pc = cur_counts.get(b, 0) / cur_total
        # epsilon floors only the LOG term — the reported shares are the
        # true shares (0.0 for an empty bucket, and they sum to 1)
        term = (pc - pr) * math.log(max(pc, epsilon) / max(pr, epsilon))
        total_psi += term
        lo = None if b == -1 else edges[b]
        hi = None if b == -1 else edges[b + 1]
        rows.append((b, lo, hi, round(pr, 9), round(pc, 9), round(term, 9)))
    rows.append((-2, None, None, 1.0, 1.0, round(total_psi, 9)))
    return spark.createDataFrame(
        rows, "bucket int, lo double, hi double, ref_share double, cur_share double, psi_term double"
    )


def referential_integrity_audit(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
) -> DataFrame:
    """Foreign-key integrity audit between a child and a parent relation
    — the classic warehouse data-quality gate (does every lineitem have
    its order? how many dimension rows are dead?).

    Returns ONE row: child/parent row counts, NULL child keys, orphan
    child rows (non-NULL key with no parent), distinct orphan keys, and
    unreferenced parent rows. Four Spark jobs total, each on the KEY
    columns only — child stats share one aggregate, the orphan anti-join
    (the expensive step) runs ONCE with count and distinct-count in the
    same pass, and projections reach the scans so the shuffles carry
    just the key column. The anti-joins are broadcast-able whenever the
    parent key set fits (let AQE decide; no forced hint because a
    fact-fact audit can have two huge sides).
    """
    ckeys = child.select(F.col(child_key).alias("_ck"))
    pkeys = parent.select(F.col(parent_key).alias("_pk")).distinct()
    child_stats = ckeys.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_ck").isNull().cast("long")).alias("nn"),
    ).collect()[0]
    n_child, n_null = child_stats["n"], int(child_stats["nn"] or 0)
    orphan_stats = (
        ckeys.filter(F.col("_ck").isNotNull())
        .join(pkeys, F.col("_ck") == F.col("_pk"), "left_anti")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("_ck").alias("nd"),
        )
        .collect()[0]
    )
    n_orphans, n_orphan_keys = orphan_stats["n"], orphan_stats["nd"]
    n_parent = parent.count()
    n_unreferenced = pkeys.join(
        ckeys.distinct(), F.col("_pk") == F.col("_ck"), "left_anti"
    ).count()
    spark = child.sparkSession
    return spark.createDataFrame(
        [(n_child, n_null, n_orphans, n_orphan_keys, n_parent, n_unreferenced)],
        "n_child bigint, n_null_keys bigint, n_orphans bigint, "
        "n_orphan_keys bigint, n_parent bigint, n_unreferenced_parents bigint",
    )


def column_stats_drift(
    df_ref: DataFrame,
    df_cur: DataFrame,
    columns: "list[str]",
    scale: int = 6,
) -> DataFrame:
    """Per-column numeric profile drift between two periods — the
    schema-level companion to :func:`population_stability` (that one
    watches the distribution shape; this one watches count, null rate,
    mean, and range). One row per column with both periods' profiles and
    the mean shift. Means use decimal-exact sums at ``scale`` digits so
    the report is engine-reproducible; each side costs one scan with all
    columns aggregated together (NOT one pass per column)."""
    if not columns:
        raise ValueError("column_stats_drift: columns must be non-empty")

    def profile(df: DataFrame, tag: str) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias(f"_n_{tag}")]
        for c in columns:
            col = F.col(c)
            aggs += [
                F.sum(col.isNull().cast("long")).alias(f"_nulls_{c}_{tag}"),
                F.sum(col.cast(f"decimal(30,{scale})")).alias(f"_sum_{c}_{tag}"),
                F.min(col.cast("double")).alias(f"_min_{c}_{tag}"),
                F.max(col.cast("double")).alias(f"_max_{c}_{tag}"),
            ]
        return df.agg(*aggs)

    ref = profile(df_ref, "r")
    cur = profile(df_cur, "c")
    both = ref.crossJoin(cur)  # two 1-row relations
    rows = []
    for c in columns:
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("_n_r").alias("ref_count"),
                F.col("_n_c").alias("cur_count"),
                F.round(F.col(f"_nulls_{c}_r") / F.greatest(F.col("_n_r"), F.lit(1)), 9).alias("ref_null_rate"),
                F.round(F.col(f"_nulls_{c}_c") / F.greatest(F.col("_n_c"), F.lit(1)), 9).alias("cur_null_rate"),
                # exact decimal sum → double FIRST, then IEEE division:
                # decimal/long division rescaling rules differ per engine,
                # double division of an exact sum does not
                F.round(
                    F.col(f"_sum_{c}_r").cast("double")
                    / (F.col("_n_r") - F.col(f"_nulls_{c}_r")),
                    9,
                ).alias("ref_mean"),
                F.round(
                    F.col(f"_sum_{c}_c").cast("double")
                    / (F.col("_n_c") - F.col(f"_nulls_{c}_c")),
                    9,
                ).alias("cur_mean"),
                F.col(f"_min_{c}_r").alias("ref_min"),
                F.col(f"_min_{c}_c").alias("cur_min"),
                F.col(f"_max_{c}_r").alias("ref_max"),
                F.col(f"_max_{c}_c").alias("cur_max"),
            )
        )
    return (
        both.select(F.explode(F.array(*rows)).alias("_s"))
        .select("_s.*")
        .withColumn(
            "mean_shift",
            F.round(F.col("cur_mean") - F.col("ref_mean"), 9),
        )
    )


def winsorized_stats(
    df: DataFrame,
    column: str,
    lo: float,
    hi: float,
    scale: int = 6,
) -> DataFrame:
    """Winsorization report over PINNED clamp bounds (the
    population_stability convention: freeze yesterday's quantiles, reuse
    them everywhere): rows clamped at each side, and exact decimal means
    before/after — the robust-scaling preprocessing step that stops a
    handful of outliers from dominating a mean-normalized feature.
    One scan, one 1-row aggregate; clamping is a pure projection."""
    if not lo < hi:
        raise ValueError(f"winsorized_stats: need lo < hi, got {lo} >= {hi}")
    v = F.col(column).cast("double")
    w = F.least(F.greatest(v, F.lit(float(lo))), F.lit(float(hi)))
    dec = f"decimal(30,{scale})"
    return df.filter(v.isNotNull()).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((v < lo).cast("long")).alias("n_clamped_lo"),
        F.sum((v > hi).cast("long")).alias("n_clamped_hi"),
        F.round(F.sum(v.cast(dec)).cast("double") / F.count(F.lit(1)), 9).alias("mean_raw"),
        F.round(F.sum(w.cast(dec)).cast("double") / F.count(F.lit(1)), 9).alias("mean_winsorized"),
    )


import math

#: Benford expected first-digit shares log10(1 + 1/d), emitted as fixed
#: 12-decimal literals so external SQL oracles can embed the SAME numbers
BENFORD_P = {d: float(f"{math.log10(1 + 1 / d):.12f}") for d in range(1, 10)}


def benford_first_digit(df: DataFrame, column: str) -> DataFrame:
    """Benford's-law first-digit audit of a positive numeric column — the
    classic fabricated-data / unit-mixing detector for financial and
    metric columns. Values below 1 are excluded (leading digit of the
    integer part is what Benford's law governs; document the filter
    rather than guessing a scale).

    Returns one row per digit 1-9: observed count/share, the expected
    Benford share, the per-digit chi-square contribution, and the total
    chi-square repeated on every row (compare to the chi2(8) critical
    value). The digit comes from the integer part's decimal string —
    engine-stable, no float log10 boundary risk. One scan + a 9-row
    aggregate; terms round to 9 and accumulate as exact decimals.
    """
    v = F.col(column).cast("double")
    digit = F.substring(F.floor(v).cast("long").cast("string"), 1, 1).cast("int")
    counts = (
        df.filter(v >= 1)
        .select(digit.alias("_d"))
        .groupBy("_d")
        .agg(F.count(F.lit(1)).alias("_o"))
    )
    spark = df.sparkSession
    expected = spark.createDataFrame(
        [(d, p) for d, p in BENFORD_P.items()], "digit int, exp_share double"
    )
    full = (
        expected.join(counts, expected.digit == F.col("_d"), "left")
        .select(
            "digit",
            F.coalesce("_o", F.lit(0)).alias("n_obs"),
            "exp_share",
        )
    )
    tot = full.agg(F.sum("n_obs").alias("_n"))
    # empty/all-sub-1 input: _n == 0 must yield NULL shares, not an ANSI
    # DIVIDE_BY_ZERO abort (the repo's pinned degenerate-case convention)
    safe_n = F.nullif(F.col("_n"), F.lit(0))
    scored = full.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_obs",
        F.round(F.col("n_obs") / safe_n, 9).alias("obs_share"),
        "exp_share",
        F.round(
            (F.col("n_obs") - F.col("_n") * F.col("exp_share"))
            * (F.col("n_obs") - F.col("_n") * F.col("exp_share"))
            / (safe_n * F.col("exp_share")),
            9,
        )
        .cast("decimal(25,9)")
        .alias("_t"),
    )
    chi = scored.agg(F.sum("_t").cast("double").alias("_chi2"))
    return scored.crossJoin(F.broadcast(chi)).select(
        "digit",
        "n_obs",
        "obs_share",
        "exp_share",
        F.col("_t").cast("double").alias("chi2_term"),
        F.round(F.col("_chi2"), 9).alias("chi2_total"),
    )


def weighted_median(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_cols: "tuple[str, ...]" = (),
    scale: int = 6,
) -> DataFrame:
    """Lower weighted median per group: the smallest value ``v`` whose
    cumulative weight reaches half the group's total — the
    robust-center statistic when observations carry sizes (revenue-
    weighted price, token-weighted score). Explicit RANK SELECTION, no
    engine quantile interpolation (the Theil–Sen median convention), so
    any engine reproduces it exactly; the half-total comparison is
    ``2·cum ≥ total`` in exact decimals — no division, no float
    boundary risk.

    Scale shape: rows collapse to one per (group, value) first
    (map-side combined), then a per-group cumulative window over the
    DISTINCT-value relation — partitioned by group, never a global
    sort. Weights must be non-negative; zero-weight rows and NULLs are
    excluded; groups whose total weight is 0 disappear (no median
    exists).
    """
    dec = f"decimal(30,{scale})"
    gx = [F.col(c) for c in group_cols]
    t = df.select(
        *gx,
        F.col(value_col).cast("double").alias("_v"),
        F.col(weight_col).cast(dec).alias("_w"),
    ).filter(
        F.col("_v").isNotNull() & F.col("_w").isNotNull() & (F.col("_w") != 0)
    )
    # Eager guard on the RAW weight column, not the cast projection: the
    # bare `weight < 0` predicate pushes to the source scan (parquet
    # row-group min stats skip everything on non-negative data), so the
    # validation job is metadata-bound instead of a second full read —
    # the difference between a footer pass and a table scan at 100 TB.
    neg = (
        df.select(F.col(weight_col))
        .filter(F.col(weight_col) < 0)
        .limit(1)
        .count()
    )
    if neg:
        raise ValueError("weighted_median: weights must be non-negative")
    counts = t.groupBy(*[F.col(c) for c in group_cols], F.col("_v")).agg(
        F.sum("_w").alias("_w")
    )
    from pyspark.sql.window import Window as _W

    wcum = (
        _W.partitionBy(*group_cols).orderBy("_v")
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )
    wtot = _W.partitionBy(*group_cols)
    staged = counts.select(
        *[F.col(c) for c in group_cols],
        "_v",
        F.sum("_w").over(wcum).alias("_cum"),
        F.sum("_w").over(wtot).alias("_tot"),
    )
    hit = staged.filter(
        F.lit(2).cast("decimal(2,0)") * F.col("_cum") >= F.col("_tot")
    )
    return (
        hit.groupBy(*[F.col(c) for c in group_cols])
        .agg(
            F.min("_v").alias("weighted_median"),
            F.first("_tot").alias("_t"),
        )
        .select(
            *[F.col(c) for c in group_cols],
            F.col("_t").cast("double").alias("total_weight"),
            "weighted_median",
        )
    )


def mad_outlier_stats(
    df: DataFrame,
    value_col: str,
    group_cols: "tuple[str, ...]" = (),
    threshold: float = 3.5,
) -> DataFrame:
    """Robust outlier report per group via the modified z-score
    ``0.6745·(v − median) / MAD`` (Iglewicz–Hoaglin): the anomaly
    detector that a few extreme values cannot recalibrate, unlike a
    mean/stddev z-score where the outliers inflate their own yardstick.
    Returns ``(group…, n, median, mad, n_outliers, max_abs_z)``.

    Exactness: both medians are explicit LOWER-median rank selections
    (``row_number == (n+1)//2`` — the Theil–Sen convention, no engine
    interpolation); the z evaluates in one pinned double
    parenthesization rounded to 9. ``MAD == 0`` (at least half the
    group equals its median) pins z to NULL and counts no outliers —
    the degenerate-case convention, not a division error.

    Scale shape: two per-group rank windows over the (group, value)
    relation + one aggregate. Window partitions are GROUP-sized: with
    low-cardinality groups feed a pre-aggregate (daily totals, not raw
    events) or the hot partition stalls — the same caveat as every
    partition-by-group window here.
    """
    from pyspark.sql.window import Window as _W

    gx = [F.col(c) for c in group_cols]
    t = df.select(*gx, F.col(value_col).cast("double").alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    wn = _W.partitionBy(*group_cols)
    ws = _W.partitionBy(*group_cols).orderBy("_v")
    med = (
        t.withColumn("_n", F.count(F.lit(1)).over(wn))
        .withColumn("_rn", F.row_number().over(ws))
        .filter(F.col("_rn") == F.floor((F.col("_n") + 1) / 2))
        .select(*[F.col(c) for c in group_cols], F.col("_v").alias("_med"))
    )
    dev = t.join(med, list(group_cols)) if group_cols else t.crossJoin(
        F.broadcast(med.select("_med"))
    )
    dev = dev.withColumn("_d", F.abs(F.col("_v") - F.col("_med")))
    wsd = _W.partitionBy(*group_cols).orderBy("_d")
    mad = (
        dev.withColumn("_n", F.count(F.lit(1)).over(wn))
        .withColumn("_rn", F.row_number().over(wsd))
        .filter(F.col("_rn") == F.floor((F.col("_n") + 1) / 2))
        .select(*[F.col(c) for c in group_cols], F.col("_d").alias("_mad"))
    )
    scored = dev.join(mad, list(group_cols)) if group_cols else dev.crossJoin(
        F.broadcast(mad.select("_mad"))
    )
    z = F.round(
        F.lit(0.6745) * (F.col("_v") - F.col("_med"))
        / F.nullif(F.col("_mad"), F.lit(0.0)),
        9,
    )
    scored = scored.withColumn("_z", z)
    return (
        scored.groupBy(*[F.col(c) for c in group_cols])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("_med").alias("median"),
            F.first("_mad").alias("mad"),
            F.sum(
                # NULL z (MAD==0) is "no verdict", not an outlier — and a
                # group of all-NULL z must count 0, not NULL
                F.coalesce(F.abs(F.col("_z")) > threshold, F.lit(False)).cast("long")
            ).alias("n_outliers"),
            F.max(F.abs(F.col("_z"))).alias("max_abs_z"),
        )
    )


def woe_iv(
    df: DataFrame,
    category_col: str,
    label_col: str,
) -> DataFrame:
    """Weight-of-evidence / information-value report for a categorical
    feature against a binary label — the classic scorecard-era feature-
    strength screen (IV < 0.02 useless, > 0.5 suspicious) that needs
    only two aggregates and scales to any cardinality. Numeric features
    should be pre-binned (pinned quantile bins, the PSI convention) and
    fed here as categories.

    Per category: ``WoE = ln(pos_share / neg_share)`` and
    ``iv_term = (pos_share − neg_share)·WoE``; ``iv_total`` (the sum
    over categories with both classes present) repeats on every row,
    the Benford-report shape. A category missing one class has infinite
    WoE — pinned to NULL and excluded from the total (the degenerate-
    case convention; add smoothing upstream if you want finite values).
    Label must be 0/1 (NULL labels and NULL categories are dropped).

    Exactness: counts are integers; shares and logs evaluate in one
    pinned double parenthesization, terms round to 9 and accumulate as
    exact decimals. One (category) aggregate + a 1-row broadcast total.
    """
    t = df.select(
        F.col(category_col).cast("string").alias("_c"),
        F.col(label_col).cast("long").alias("_y"),
    ).filter(F.col("_c").isNotNull() & F.col("_y").isNotNull())
    bad = t.filter(~F.col("_y").isin(0, 1)).limit(1).count()
    if bad:
        raise ValueError("woe_iv: label must be binary 0/1")
    per = t.groupBy("_c").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_y").alias("_pos"),
        F.sum(F.lit(1) - F.col("_y")).alias("_neg"),
    )
    tot = per.agg(
        F.sum("_pos").alias("_tp"), F.sum("_neg").alias("_tn")
    )
    j = per.crossJoin(F.broadcast(tot))
    pos_share = F.col("_pos").cast("double") / F.col("_tp").cast("double")
    neg_share = F.col("_neg").cast("double") / F.col("_tn").cast("double")
    woe = F.when(
        (F.col("_pos") > 0) & (F.col("_neg") > 0),
        F.round(F.log(pos_share / neg_share), 9),
    )
    scored = j.select(
        F.col("_c").alias("category"),
        F.col("_n").cast("long").alias("n"),
        F.col("_pos").cast("long").alias("n_pos"),
        F.col("_neg").cast("long").alias("n_neg"),
        woe.alias("woe"),
        F.round((pos_share - neg_share) * woe, 9).alias("iv_term"),
    )
    iv = scored.agg(
        F.sum(F.col("iv_term").cast("decimal(30,9)")).cast("double").alias("_iv")
    )
    return scored.crossJoin(F.broadcast(iv)).select(
        "category", "n", "n_pos", "n_neg", "woe", "iv_term",
        F.round(F.col("_iv"), 9).alias("iv_total"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Reliability diagram + expected calibration error for a
    probabilistic score against a binary outcome — the "does 0.8 mean
    80%?" check every learned quality/routing score needs before its
    threshold means anything. Scores must lie in [0, 1] (raise, don't
    clamp: an out-of-range score is an upstream bug, and silent
    clamping would fold its mass into the edge bins).

    Per fixed-width bin: count, exact-decimal mean score, observed
    positive rate, and the |gap|; ``ece_total``
    (``Σ (n_b/n)·|rate_b − mean_score_b|``) repeats on every row — the
    Benford-report shape. Empty bins are omitted (no evidence, no row).
    One scan + one bin-sized aggregate; NULL scores/labels dropped.
    """
    if bins < 2:
        raise ValueError("calibration_bins: bins must be >= 2")
    t = df.select(
        F.col(score_col).cast("double").alias("_s"),
        F.col(label_col).cast("long").alias("_y"),
    ).filter(F.col("_s").isNotNull() & F.col("_y").isNotNull())
    # the bin cast and the `_ssum` decimal cast are guarded by the SAME
    # validity predicate the range guard uses: an out-of-range/NaN score
    # must surface as the documented ValueError below, not as an ANSI
    # CAST/overflow error raised while the aggregate computes
    # floor(huge*bins)::int or huge::decimal(30,9) — bad rows are parked
    # in bin `bins-1` with no score mass, and any bad row raises before
    # the grid is returned, so the kept grid is identical
    s_valid = (F.col("_s") >= 0) & (F.col("_s") <= 1) & ~F.isnan(F.col("_s"))
    b = F.when(
        s_valid,
        F.least(F.floor(F.col("_s") * bins).cast("int"), F.lit(bins - 1)),
    ).otherwise(F.lit(bins - 1))
    # The range guard rides the bin aggregate (no dedicated corpus scan),
    # and the bin-sized grid is checkpointed eagerly: the tot/ece fan-out
    # below re-references `per` three times, and without materialization
    # each branch re-runs the whole upstream corpus pipeline (measured 16
    # parquet scans in markov_calibration's plan). Post-checkpoint every
    # consumer reads <= `bins` rows.
    per = t.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(
            F.when(s_valid, F.round(F.col("_s"), 9).cast("decimal(30,9)"))
        ).alias("_ssum"),
        F.sum("_y").alias("_pos"),
        F.max((~F.col("_y").isin(0, 1) | ~s_valid).cast("int")).alias("_bad"),
    ).localCheckpoint(eager=False)
    # aggregate probe on the bin grid (materializes the lazy checkpoint in
    # the same job; a limit(1) filter probe would execute in escalating
    # partition waves over the unmaterialized checkpoint)
    if int(
        per.agg(
            F.coalesce(F.max("_bad"), F.lit(0)).alias("_b")
        ).first()["_b"]
    ):
        raise ValueError(
            "calibration_bins: label must be 0/1 and score within [0, 1]"
        )
    per = per.drop("_bad")
    tot = per.agg(F.sum("_n").alias("_tot"))
    j = per.crossJoin(F.broadcast(tot))
    mean_score = F.col("_ssum").cast("double") / F.col("_n").cast("double")
    pos_rate = F.col("_pos").cast("double") / F.col("_n").cast("double")
    scored = j.select(
        "bin",
        F.col("_n").cast("long").alias("n"),
        F.round(mean_score, 9).alias("mean_score"),
        F.round(pos_rate, 9).alias("pos_rate"),
        F.round(
            (F.col("_n").cast("double") / F.col("_tot").cast("double"))
            * F.abs(pos_rate - mean_score),
            9,
        )
        .cast("decimal(30,9)")
        .alias("_e"),
    )
    ece = scored.agg(F.sum("_e").cast("double").alias("_ece"))
    return scored.crossJoin(F.broadcast(ece)).select(
        "bin",
        "n",
        "mean_score",
        "pos_rate",
        F.col("_e").cast("double").alias("ece_term"),
        F.round(F.col("_ece"), 9).alias("ece_total"),
    )


def grouped_quantiles(
    df: DataFrame,
    value_col: str,
    quantiles: "tuple[float, ...]" = (0.5, 0.9),
    group_cols: "tuple[str, ...]" = (),
    weight_col: "str | None" = None,
    scale: int = 6,
) -> DataFrame:
    """Exact lower quantiles per group by RANK SELECTION — for each
    requested ``q``, the smallest value whose cumulative (weighted)
    count reaches ``q`` of the group total — the per-group p50/p90/p99
    reporter. No engine interpolation anywhere (the
    :func:`weighted_median` convention generalized to any quantile
    list): ``q`` is handled as an exact rational, the threshold test is
    ``cum·den >= num·total`` in exact decimals, so every engine and
    every partitioning reproduces the same value. Returns one row per
    (group, quantile): ``(*group_cols, quantile, total_weight, value)``.

    Scale shape: rows collapse to one per (group, value) first
    (map-side combined); the cumulative window runs over that
    DISTINCT-value relation partitioned by group (never a global sort);
    the quantile list is a broadcast crossJoin of a len(quantiles)-row
    relation. NULL values/weights and zero weights are excluded; all
    quantiles must lie in (0, 1].
    """
    from fractions import Fraction

    if not quantiles:
        raise ValueError("grouped_quantiles: need at least one quantile")
    fracs = []
    for q in quantiles:
        f = Fraction(str(q))
        if not 0 < f <= 1:
            raise ValueError(f"grouped_quantiles: quantile {q} not in (0, 1]")
        fracs.append((float(q), f.numerator, f.denominator))

    dec = f"decimal(30,{scale})"
    w_expr = (
        F.col(weight_col).cast(dec)
        if weight_col
        else F.lit(1).cast(dec)
    )
    t = df.select(
        *[F.col(c) for c in group_cols],
        F.col(value_col).cast("double").alias("_v"),
        w_expr.alias("_w"),
    ).filter(F.col("_v").isNotNull() & F.col("_w").isNotNull() & (F.col("_w") != 0))
    if weight_col:
        neg = t.filter(F.col("_w") < 0).limit(1).count()
        if neg:
            raise ValueError("grouped_quantiles: weights must be non-negative")
    counts = t.groupBy(*[F.col(c) for c in group_cols], F.col("_v")).agg(
        F.sum("_w").alias("_w")
    )
    from pyspark.sql.window import Window as _W

    wcum = (
        _W.partitionBy(*group_cols)
        .orderBy("_v")
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )
    wtot = _W.partitionBy(*group_cols)
    staged = counts.select(
        *[F.col(c) for c in group_cols],
        "_v",
        F.sum("_w").over(wcum).alias("_cum"),
        F.sum("_w").over(wtot).alias("_tot"),
    )
    spark = df.sparkSession
    qdf = spark.createDataFrame(fracs, "quantile double, _num long, _den long")
    hit = staged.crossJoin(F.broadcast(qdf)).filter(
        F.col("_cum") * F.col("_den") >= F.col("_num") * F.col("_tot")
    )
    return (
        hit.groupBy(*[F.col(c) for c in group_cols], F.col("quantile"))
        .agg(F.min("_v").alias("value"), F.first("_tot").alias("_t"))
        .select(
            *[F.col(c) for c in group_cols],
            "quantile",
            F.col("_t").cast("double").alias("total_weight"),
            "value",
        )
    )


def distribution_distance(
    df_ref: DataFrame,
    df_cur: DataFrame,
    column: str,
    bounds: "list[float]",
) -> DataFrame:
    """Bhattacharyya coefficient, Hellinger distance, and total-variation
    distance between two periods of a numeric column over PINNED bin
    edges — the bounded-metric companions to PSI (whose log terms
    explode on near-empty bins; Hellinger/TVD stay in [0,1] and rank
    drift severity stably). Returns one row ``(n_ref, n_cur,
    bhattacharyya, hellinger, tvd)``.

    Same monitor convention as :func:`population_stability`: freeze the
    bins, one scan + one ``len(bounds)+1``-row aggregate per side, NULLs
    excluded (PSI's NULL bucket owns missing-rate drift). Per-bin terms
    round to 9 and re-accumulate as decimals (order-independent); the
    ``1 − BC`` radicand is clamped at 0 so round-9 noise can never push
    the sqrt negative under ANSI. Both sides must be non-empty.
    """
    from onetl_spark.operators.ranking import ascending_bucket

    bounds = sorted(set(float(b) for b in bounds))
    if not bounds:
        raise ValueError("distribution_distance: bounds must be non-empty")

    def side_counts(df: DataFrame, alias: str) -> DataFrame:
        v = F.col(column).cast("double")
        return (
            df.filter(v.isNotNull())
            .select(ascending_bucket(bounds, v).cast("int").alias("_b"))
            .groupBy("_b")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    cells = (
        side_counts(df_ref, "_nr")
        .join(side_counts(df_cur, "_nc"), "_b", "full_outer")
        .select(
            F.coalesce("_nr", F.lit(0)).alias("_nr"),
            F.coalesce("_nc", F.lit(0)).alias("_nc"),
        )
        .localCheckpoint(eager=False)
    )
    tot = cells.agg(F.sum("_nr").alias("_tr"), F.sum("_nc").alias("_tc")).collect()[0]
    tr, tc = tot["_tr"], tot["_tc"]
    if not tr or not tc:
        raise ValueError("distribution_distance: both samples must be non-empty")
    pr = F.col("_nr").cast("double") / F.lit(float(tr))
    pc = F.col("_nc").cast("double") / F.lit(float(tc))
    m = cells.agg(
        F.sum(F.round(F.sqrt(pr * pc), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("_bc"),
        F.sum(F.round(F.abs(pr - pc), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("_tv"),
    )
    rad = F.lit(1.0) - F.col("_bc")
    rad = F.when(rad < 0, F.lit(0.0)).otherwise(rad)
    return m.select(
        F.lit(tr).cast("long").alias("n_ref"),
        F.lit(tc).cast("long").alias("n_cur"),
        F.round(F.col("_bc"), 9).alias("bhattacharyya"),
        F.round(F.sqrt(rad), 9).alias("hellinger"),
        F.round(F.col("_tv") / F.lit(2.0), 9).alias("tvd"),
    )


def calibration_report(
    df_ref: DataFrame,
    df_cur: DataFrame,
    score_col: str,
    label_col: str,
    bounds: "list[float]",
) -> DataFrame:
    """Calibration audit of a bucket-rate model: train per-bucket
    positive rates on the REFERENCE period over PINNED score-bucket
    edges, evaluate them as predicted probabilities on the CURRENT
    period — the reliability-diagram + Brier decomposition a
    quality-filter or propensity score ships with. One row per bucket
    seen in the current period: ``(bucket, n_cur, predicted, observed,
    gap, ece_contrib, brier_contrib)`` (summing the two contrib columns
    gives ECE and the Brier score; buckets unseen in training keep NULL
    predictions rather than silently imputing).

    Same frozen-bins convention as :func:`population_stability`; each
    side pays one scan + one bucket-sized aggregate, and with constant
    per-bucket predictions the Brier sum collapses to exact integer
    counts: ``Σ(p̂−y)² = n·p̂² − 2·p̂·pos + pos`` per bucket — no
    per-row epilogue. NULL scores/labels excluded.
    """
    from onetl_spark.operators.ranking import ascending_bucket

    bounds = sorted(set(float(b) for b in bounds))
    if not bounds:
        raise ValueError("calibration_report: bounds must be non-empty")

    def side(df: DataFrame, n_alias: str, p_alias: str) -> DataFrame:
        v = F.col(score_col).cast("double")
        y = F.col(label_col).cast("int")
        return (
            df.filter(v.isNotNull() & y.isNotNull())
            .select(ascending_bucket(bounds, v).cast("int").alias("bucket"), y.alias("_y"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(n_alias), F.sum("_y").alias(p_alias))
        )
    ref = side(df_ref, "_nr", "_pr")
    cur = side(df_cur, "_nc", "_pc").localCheckpoint(eager=False)
    n_cur_total = cur.agg(F.sum("_nc")).collect()[0][0]
    if not n_cur_total:
        raise ValueError("calibration_report: current period is empty")
    j = cur.join(ref, "bucket", "left")
    pred = F.col("_pr").cast("double") / F.col("_nr").cast("double")
    obs = F.col("_pc").cast("double") / F.col("_nc").cast("double")
    nc_d = F.col("_nc").cast("double")
    brier = (
        nc_d * pred * pred
        - F.lit(2.0) * pred * F.col("_pc").cast("double")
        + F.col("_pc").cast("double")
    ) / F.lit(float(n_cur_total))
    ece = nc_d / F.lit(float(n_cur_total)) * F.abs(obs - pred)
    return j.select(
        "bucket",
        F.col("_nc").cast("long").alias("n_cur"),
        F.round(pred, 9).alias("predicted"),
        F.round(obs, 9).alias("observed"),
        F.round(obs - pred, 9).alias("gap"),
        F.round(ece, 9).alias("ece_contrib"),
        F.round(brier, 9).alias("brier_contrib"),
    ).orderBy("bucket")
