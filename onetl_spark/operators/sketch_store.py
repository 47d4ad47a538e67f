"""Mergeable-sketch ingest monitoring: cross-batch distinct/dup-rate
series from persisted HyperLogLog registers.

The day-2 side of the sketch family (`operators/sketches.py`): every
existing sketch query summarizes ONE fixed corpus; a production ingest
pipeline instead asks, per source per batch, "how many of today's keys
have we EVER seen?" — distinct users per event type per day, fresh
URLs per crawl snapshot, dedup-rate drift per feed. Because HLL
registers merge exactly (register-wise max == the sketch of the union),
the whole cumulative series is a RELATION, not a driver loop:

- :func:`hll_ingest_series` — per (group, batch) time series of the
  cumulative distinct estimate, the per-batch new-distinct delta, and
  the returning-key rate, computed declaratively: one aggregation to the
  per-batch registers, a dense (batch × group × bucket) grid (constant
  size: batches × groups × m — independent of corpus rows), and ONE
  running-max window for the cumulative registers.

Reference parity: onetl has no sketch layer; this extends the
incremental/HWM direction (`strategy/incremental.py`,
`llm/dedup.py minhash_signature_store`) to corpus observability. The
streaming twin with an external persisted register store lives in
`streaming/ingest.py`.

Scale posture (100 TB): the corpus is scanned EXACTLY ONCE — the
register aggregation carries per-bucket row counts, so batch keys,
group keys, row totals, the dense grid, the cumulative window, the
estimates, and the lag all derive from the grid-sized register relation
(batches × groups × 2^b rows: 30 days × 100 sources × 256 = 768k rows
for a petabyte corpus). The one corpus-sized operation is map-side
combined to ≤ batches×groups×m partials per partition before its single
shuffle. No joins against the corpus, no collects, no iteration.

Float determinism: registers and their harmonic sums are EXACT integers
(each term 2^(W+1-rho), summed as decimal); the only doubles are the
final estimate expression and the derived deltas/rates, all emitted
through the composed fsig discipline (round(float32(x), 9) + 0.0) and —
critically — every downstream statistic (delta, rate) is computed FROM
the already-quantized values, so both engines walk the same grid.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from onetl_spark.operators.sketches import _hll_alpha, _HLL_HASH_BITS
from onetl_spark.spark_utils import fsig

__all__ = ["hll_ingest_series", "hll_cumulative_registers", "hll_grid_estimate"]


def _batch_registers(
    df: DataFrame,
    batch_col: str,
    group_cols: Sequence[str],
    value_col: str,
    b: int,
) -> DataFrame:
    """Observed per-(batch, group, bucket) registers WITH row counts —
    the single corpus aggregation everything else derives from.

    Rows with a NULL batch key, group key, or value are excluded (a NULL
    key is not a batch; a NULL value is not a key observation — the same
    rule `hll_registers_by` applies to values).
    """
    from onetl_spark.llm.text import md5_long

    m = 1 << b
    w_bits = _HLL_HASH_BITS - b
    keep = F.col(value_col).isNotNull() & F.col(batch_col).isNotNull()
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    staged = df.filter(keep).select(
        batch_col,
        *group_cols,
        md5_long(F.col(value_col).cast("string")).alias("_h"),
    )
    bucket = F.pmod(F.col("_h"), F.lit(m)).cast("int")
    w = F.expr(f"_h div {m}")
    rho = (
        F.when(w == F.lit(0), F.lit(w_bits + 1))
        .otherwise(F.lit(w_bits) - F.length(F.bin(w)) + 1)
        .cast("int")
    )
    return (
        staged.select(batch_col, *group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(batch_col, *group_cols, "bucket")
        .agg(F.max("rho").alias("rho"), F.count(F.lit(1)).alias("_n_rows"))
    )


def _dense_cumulative(
    regs: DataFrame,
    batch_col: str,
    group_cols: Sequence[str],
    b: int,
) -> DataFrame:
    """Dense cumulative register grid from the observed registers: for
    every (batch, group, bucket) the max rho over ALL batches ≤ this one
    — the register table of the union of every batch so far, per group,
    at every point of the series, in one window pass. The batch and
    group key lists come from the (grid-sized) register relation itself;
    per-bucket row counts of the CURRENT batch ride along un-accumulated
    so the caller's estimate aggregation can emit batch totals without a
    second corpus pass."""
    m = 1 << b
    spark = regs.sparkSession
    # the register relation feeds THREE consumers (the grid join and the
    # batch/group key lists); column pruning makes the subtrees
    # non-identical so Catalyst cannot reuse the exchange — without this
    # the corpus would be scanned once per consumer (measured: 3 scans).
    # The relation is grid-sized (≤ batches×groups×m rows), so pinning it
    # is cheap and bounds the corpus work to exactly one pass (the
    # incremental_minhash_dedup localCheckpoint convention).
    regs = regs.localCheckpoint(eager=False)
    # constant-size grid: batches × groups × m, independent of corpus rows
    batches = regs.select(batch_col).distinct()
    groups = regs.select(*group_cols).distinct()
    buckets = spark.range(m).select(F.col("id").cast("int").alias("bucket"))
    grid = batches.crossJoin(groups).crossJoin(F.broadcast(buckets))
    dense = grid.join(regs, [batch_col, *group_cols, "bucket"], "left").select(
        batch_col,
        *group_cols,
        "bucket",
        F.coalesce("rho", F.lit(0)).alias("rho"),
        F.coalesce("_n_rows", F.lit(0)).alias("_n_rows"),
    )
    w_cum = (
        W.partitionBy(*group_cols, "bucket")
        .orderBy(batch_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return dense.select(
        batch_col,
        *group_cols,
        "bucket",
        F.max("rho").over(w_cum).alias("rho"),
        "_n_rows",
    )


def hll_cumulative_registers(
    df: DataFrame,
    batch_col: str,
    group_cols: Sequence[str],
    value_col: str,
    b: int = 8,
) -> DataFrame:
    """Dense cumulative register grid over raw rows — see
    `_dense_cumulative` for the grid/window semantics and
    `_batch_registers` for the NULL rules."""
    regs = _batch_registers(df, batch_col, group_cols, value_col, b)
    return _dense_cumulative(regs, batch_col, group_cols, b).select(
        batch_col, *group_cols, "bucket", "rho"
    )


def hll_grid_estimate(
    cum_registers: DataFrame,
    batch_col: str,
    group_cols: Sequence[str],
    b: int = 8,
) -> DataFrame:
    """Per-(batch, group) distinct estimate over a dense register grid —
    the `hll_estimate` expression (exact decimal harmonic sum, standard
    linear-counting correction) applied grid-wise in one aggregation.
    The estimate is emitted through the composed fsig rounding. When the
    grid carries an ``_n_rows`` column (`_dense_cumulative`), the batch
    row totals are aggregated in the same pass as ``batch_rows``."""
    m = 1 << b
    w_bits = _HLL_HASH_BITS - b
    alpha = _hll_alpha(m)
    term = F.pow(F.lit(2.0), F.lit(w_bits + 1) - F.col("rho")).cast("decimal(38,0)")
    aggs = [
        F.sum(term).alias("_s"),
        F.sum((F.col("rho") == 0).cast("long")).alias("_z"),
    ]
    with_rows = "_n_rows" in cum_registers.columns
    if with_rows:
        aggs.append(F.sum("_n_rows").alias("batch_rows"))
    agg = cum_registers.groupBy(batch_col, *group_cols).agg(*aggs)
    raw = (
        F.lit(alpha)
        * F.lit(float(m))
        * F.lit(float(m))
        * F.lit(float(2 ** (w_bits + 1)))
        / F.col("_s").cast("double")
    )
    est = F.when(
        (raw < 2.5 * m) & (F.col("_z") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("_z")),
    ).otherwise(raw)
    return agg.select(
        batch_col,
        *group_cols,
        *(["batch_rows"] if with_rows else []),
        fsig(est).alias("cum_distinct"),
    )


def hll_ingest_series(
    df: DataFrame,
    batch_col: str,
    group_cols: Sequence[str],
    value_col: str,
    b: int = 8,
) -> DataFrame:
    """Cross-batch ingest-monitoring series, fully declarative.

    Returns one row per (group, batch):

    - ``batch_rows`` — rows observed in the batch (non-null values)
    - ``cum_distinct`` — HLL estimate of distinct values over ALL
      batches up to and including this one
    - ``new_distinct`` — the delta vs the previous batch's cumulative
      estimate (the estimated number of never-seen-before keys)
    - ``returning_rate`` — ``1 − new_distinct / batch_rows`` clamped to
      [0, 1] (estimator jitter can push the raw ratio slightly out);
      NULL for a (group, batch) with zero observed rows

    The series is the natural input of the drift monitors
    (`operators/changepoint.py cusum_excursions` over
    ``returning_rate``): a returning-rate collapse means the source
    started emitting fresh keys (a crawler breakout), a spike means it
    is re-sending history (a replay incident).

    ``new_distinct`` and ``returning_rate`` are computed FROM the
    fsig-quantized ``cum_distinct`` values (not the raw doubles), so
    any engine reproducing ``cum_distinct`` reproduces the whole series.

    The corpus is scanned EXACTLY ONCE: the register aggregation carries
    per-bucket row counts, and batch keys, group keys, and row totals
    all derive from the grid-sized register relation.
    """
    regs = _batch_registers(df, batch_col, group_cols, value_col, b)
    cum = _dense_cumulative(regs, batch_col, group_cols, b)
    est = hll_grid_estimate(cum, batch_col, group_cols, b=b)
    w_lag = W.partitionBy(*group_cols).orderBy(batch_col)
    series = est.select(
        batch_col,
        *group_cols,
        "batch_rows",
        "cum_distinct",
        fsig(
            F.col("cum_distinct") - F.lag("cum_distinct", 1, 0.0).over(w_lag)
        ).alias("new_distinct"),
    )
    rate = F.greatest(
        F.lit(0.0),
        F.least(
            F.lit(1.0),
            F.lit(1.0) - F.col("new_distinct") / F.col("batch_rows"),
        ),
    )
    return series.select(
        batch_col,
        *group_cols,
        "batch_rows",
        "cum_distinct",
        "new_distinct",
        F.when(F.col("batch_rows") > 0, fsig(rate)).alias("returning_rate"),
    )
