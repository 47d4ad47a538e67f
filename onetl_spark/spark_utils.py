"""Spark-session utilities.

``estimate_dataframe_size`` mirrors the reference helper
(onetl/_util/spark.py:132-147): in-memory size estimate of a DRIVER-side
DataFrame via the JVM ``org.apache.spark.util.SizeEstimator``, returning
0 when reflection is unavailable. Used for log guidance on driver-built
frames (``fetch()`` results, Greenplum write sizing) — not for
distributed data, whose size comes from the scan metrics.

``fsig`` / ``sql_fsig`` are the engine-stable rounding every operator
applies to a double it emits, in Spark and in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def estimate_dataframe_size(df: DataFrame) -> int:
    """Estimated in-memory size in bytes of the DataFrame's JVM object
    graph; 0 when SizeEstimator reflection fails (Java version/module
    restrictions)."""
    try:
        jvm = df.sparkSession._jvm
        return int(jvm.org.apache.spark.util.SizeEstimator.estimate(df._jdf))
    except Exception:
        return 0


def widen_small_scan(df: DataFrame, min_rows_per_task: int = 0) -> DataFrame:
    """Repartition ``df`` up to the session's default parallelism when the
    source offers fewer partitions than cores.

    CPU-heavy per-row pipelines (shingle hashing, signature aggregation)
    inherit the SCAN's partitioning: a small table stored as a single
    parquet row group is one task, so the expensive compute serializes on
    one core no matter how wide the cluster is. AQE never splits
    partitions (it only coalesces), so this is the one knob Catalyst
    doesn't turn. At production scale the input has more splits than the
    cluster has cores and this is a no-op — the extra exchange only ever
    fires on scan-starved inputs, where shuffling the (by definition
    small) data costs microseconds against the serialized compute it
    unlocks.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def fsig(col: Column | str) -> Column:
    """Magnitude-robust engine-stable rounding:
    ``round(float32(x), 9) + 0.0``.

    The float32 round-trip handles LARGE magnitudes: ``round(x, 9)`` is a
    NO-OP above ~1e6 (a 1.4e7 double has no 9th decimal place inside
    double precision), so cross-engine last-ULP arithmetic differences
    survive it — the `events_value_changepoint` r10 driver red. IEEE
    double→float32 conversion (round-to-nearest-even) is bit-identical in
    every engine and keeps ~7 significant digits at ANY magnitude. But it
    is RELATIVE, so alone it cannot canonicalize NEAR-ZERO cancellation
    (0.0 in one engine vs ~2e-12 in another survive float32 distinctly);
    the composed absolute 9-dp rounding maps that band onto one grid, and
    the + 0.0 kills a -0.0/0.0 split. Mirror in DuckDB with
    :func:`sql_fsig`."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c.cast("float").cast("double"), 9) + F.lit(0.0)


def sql_fsig(expr: str) -> str:
    return f"(round(CAST(CAST({expr} AS FLOAT) AS DOUBLE), 9) + 0.0)"
