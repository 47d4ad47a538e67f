"""Shared helpers for showcase queries.

Float determinism: double sums are order-dependent, so any aggregate the
driver hashes is computed over per-row DECIMAL casts (exact, associative)
and converted back to DOUBLE at the end — the Spark query and the DuckDB
oracle produce bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from onetl_spark.connections.catalog import register_parquet_views
from onetl_spark.spark_utils import fsig, sql_fsig  # noqa: F401  (re-exported)

# current sf_dir per live session — NOT a seen-set: a (spark, dir) pair
# being "seen before" says nothing about what the views point at NOW.
# With a seen-set, registering dir A, then dir B, then asking for A again
# silently no-ops and every query reads B's tables (bit us as 74 poisoned
# parity tests when a fixture registered a tmp dir mid-suite).
_CURRENT: dict[int, str] = {}


def ensure_views(spark: SparkSession, sf_dir: str) -> None:
    sid = id(spark)
    if _CURRENT.get(sid) != sf_dir:
        register_parquet_views(spark, sf_dir)
        _CURRENT[sid] = sf_dir


def dsum(col: Column | str, scale: int = 6) -> Column:
    """Deterministic double sum: per-row decimal cast → exact decimal sum →
    double result. Mirror in DuckDB with :func:`sql_dsum` (VARCHAR
    round-trip — the direct DECIMAL→DOUBLE cast there is not correctly
    rounded past 2^53 scaled units)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(38,{scale})")).cast("double")


def davg(col: Column | str, scale: int = 6) -> Column:
    """Deterministic average = decimal sum / count, evaluated in double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(38,{scale})")).cast("double") / F.count(F.lit(1))


def sql_dsum(expr: str, scale: int = 6) -> str:
    """DuckDB mirror of :func:`dsum` — via a VARCHAR round-trip: DuckDB's
    direct DECIMAL→DOUBLE cast divides the scaled int128 in floating
    point (two roundings) and lands 1 ULP off the correctly-rounded
    result once ``|value| * 10^scale`` exceeds 2^53; Spark's
    BigDecimal→double IS correctly rounded, so big sf1 aggregates
    diverged in the last ULP (q1 ``sum_charge``, r12 sf1 sweep).
    decimal→VARCHAR prints the exact digits and VARCHAR→DOUBLE is a
    correctly-rounded strtod — provably monotone: cells where the
    engines already agreed were already correctly rounded and keep
    their value."""
    return (
        f"CAST(CAST(SUM(CAST(CAST({expr} AS VARCHAR) AS DECIMAL(38,{scale})))"
        " AS VARCHAR) AS DOUBLE)"
    )


def sql_davg(expr: str, scale: int = 6) -> str:
    return f"{sql_dsum(expr, scale)} / COUNT(*)"


def sql_dec(expr: str, scale: int = 6) -> str:
    """DuckDB mirror of Spark's per-row double→DECIMAL cast: Spark parses
    the SHORTEST DECIMAL REPR (BigDecimal.valueOf) and rounds ties
    HALF_UP; DuckDB's direct cast rounds the EXACT BINARY expansion.
    VARCHAR→DECIMAL parses the shortest repr with away-from-zero ties
    (probe-verified) — identical to Spark at every input."""
    return f"CAST(CAST({expr} AS VARCHAR) AS DECIMAL(38,{scale}))"


def sql_round_hu(expr: str, n: int = 9) -> str:
    """DuckDB mirror of Spark ``round(x, n)`` — Spark rounds the SHORTEST
    DECIMAL REPR of the double (BigDecimal.valueOf) HALF_UP, DuckDB's
    ``round(DOUBLE, n)`` rounds the EXACT BINARY expansion, so a double a
    hair below a half-boundary whose shortest repr READS "…5" rounds up
    in Spark and down in DuckDB (~0.1% of rows at sf1 magnitudes — the
    r10 'round() boundary' residual). Mimic Spark exactly: double →
    VARCHAR (DuckDB prints shortest round-trip repr) → DECIMAL(38,20)
    (exact for any |x| ≥ 1e-3 shortest repr; above that, vanishing
    double-rounding band) → round() on DECIMAL (ties away from zero =
    HALF_UP, probe-verified) → VARCHAR → correctly-rounded DOUBLE."""
    return (
        f"CAST(CAST(round(CAST(CAST({expr} AS VARCHAR) AS DECIMAL(38,20)), {n})"
        " AS VARCHAR) AS DOUBLE)"
    )
