"""Streaming ingest monitoring: the `operators/sketch_store.py
hll_ingest_series` loop as a continuous ``foreachBatch`` pipeline with
an EXTERNAL persisted HLL register store.

The production shape of corpus observability: each micro-batch of rows
is sketched per group, merged register-wise into the store accumulated
from every previous batch (an EXACT operation — merge == sketch of the
union), and one series row per group lands in the sink: cumulative
distinct estimate, new-distinct delta vs the store BEFORE this batch,
and the returning-key rate. The raw rows are never re-read and the
store is tiny (groups × 2^b register rows, ~groups × 256 forever).

Batch 0 seeds the store AND emits its series rows (day-1 monitoring is
still monitoring — unlike `streaming/incremental.py`, whose seed corpus
has no verdicts by definition). All estimates go through the composed
fsig rounding and every derived statistic is computed from the
quantized values, so the streaming series reproduces the batch
operator's series hash-exactly when replaying the same batch split.

Store consistency: the series append and the register overwrite are two
separate writes; production deployments should point both at a
transactional table (the parquet layout keeps the showcase
dependency-free). The store probe uses the Hadoop FS API via
`streaming/incremental.py _store_exists`, so any Hadoop URI works.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from onetl_spark.operators.sketch_store import hll_grid_estimate
from onetl_spark.operators.sketches import hll_registers_by
from onetl_spark.spark_utils import fsig
from onetl_spark.streaming.incremental import _store_exists

__all__ = ["ingest_monitor_batch_fn"]


def _group_estimates(
    regs: DataFrame, group_cols: Sequence[str], b: int
) -> DataFrame:
    """Per-group distinct estimate from an observed-only register
    relation: densify to the full 2^b buckets per group present, then
    the shared grid-estimate expression."""
    m = 1 << b
    spark = regs.sparkSession
    groups = regs.select(*group_cols).distinct()
    buckets = spark.range(m).select(F.col("id").cast("int").alias("bucket"))
    dense = (
        groups.crossJoin(F.broadcast(buckets))
        .join(regs, [*group_cols, "bucket"], "left")
        .select(
            F.lit(0).alias("_b"),
            *group_cols,
            "bucket",
            F.coalesce("rho", F.lit(0)).alias("rho"),
        )
    )
    return hll_grid_estimate(dense, "_b", group_cols, b=b).drop("_b")


def ingest_monitor_batch_fn(
    store_dir: str,
    series_dir: str,
    group_cols: Sequence[str],
    value_col: str,
    b: int = 8,
    batch_out_col: str = "batch_id",
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` callback for an ingest-monitoring
    stream. Emits one series row per group per micro-batch
    ``(batch_out_col, group_cols..., batch_rows, cum_distinct,
    new_distinct, returning_rate)`` and folds the batch's registers into
    the persisted store.

    Groups present in the store but absent from the current batch still
    emit a row (``batch_rows = 0``, rate NULL) — a silent source is a
    monitoring signal, and it keeps the series identical to the batch
    operator's dense grid.
    """
    reg_path = store_dir.rstrip("/") + "/registers"

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        keep = F.col(value_col).isNotNull()
        for g in group_cols:
            keep = keep & F.col(g).isNotNull()
        staged = batch_df.filter(keep)
        batch_regs = hll_registers_by(staged, value_col, list(group_cols), b=b)
        if _store_exists(spark, reg_path):
            old = spark.read.parquet(reg_path)
            prior = _group_estimates(old, group_cols, b).withColumnRenamed(
                "cum_distinct", "_prior"
            )
            merged = (
                old.unionByName(batch_regs)
                .groupBy(*group_cols, "bucket")
                .agg(F.max("rho").alias("rho"))
            )
        else:
            prior = None
            merged = batch_regs
        merged = merged.localCheckpoint(eager=True)  # cut lineage: reg_path
        # is about to be overwritten, and the estimate consumes it too
        est = _group_estimates(merged, group_cols, b)
        rows = staged.groupBy(*group_cols).agg(
            F.count(F.lit(1)).alias("batch_rows")
        )
        series = est.join(rows, list(group_cols), "left").select(
            *group_cols,
            F.coalesce("batch_rows", F.lit(0)).alias("batch_rows"),
            "cum_distinct",
        )
        if prior is not None:
            series = series.join(F.broadcast(prior), list(group_cols), "left")
        else:
            series = series.withColumn("_prior", F.lit(None).cast("double"))
        series = series.select(
            F.lit(int(batch_id)).cast("int").alias(batch_out_col),
            *group_cols,
            "batch_rows",
            "cum_distinct",
            fsig(
                F.col("cum_distinct") - F.coalesce(F.col("_prior"), F.lit(0.0))
            ).alias("new_distinct"),
        )
        rate = F.greatest(
            F.lit(0.0),
            F.least(
                F.lit(1.0),
                F.lit(1.0) - F.col("new_distinct") / F.col("batch_rows"),
            ),
        )
        series = series.select(
            batch_out_col,
            *group_cols,
            "batch_rows",
            "cum_distinct",
            "new_distinct",
            F.when(F.col("batch_rows") > 0, fsig(rate)).alias("returning_rate"),
        )
        series.write.mode("append").parquet(series_dir)
        merged.write.mode("overwrite").parquet(reg_path)

    return fn
