"""Spark-SQL catalog connection (Hive-equivalent).

Read path follows the reference's Hive connection: build the SELECT string
with the dialect and run ``spark.sql(query)``
(onetl/connection/db_connection/hive/connection.py:322-341) — Catalyst
then does predicate pushdown / pruning / partition pruning on the scan.

Write path implements the full Hive mode matrix
(hive/connection.py:292-320, options.py:62-212):

- table absent → ``saveAsTable`` with format/partitionBy/bucketBy/sortBy;
- table present → mode dispatch:
  ``append`` → positional ``insertInto(overwrite=False)``,
  ``replace_overlapping_partitions`` → ``insertInto(overwrite=True)`` under
  ``spark.sql.sources.partitionOverwriteMode=dynamic``
  (hive/connection.py:487-518),
  ``replace_entire_table`` → ``saveAsTable(mode="overwrite")``,
  ``ignore`` → no-op, ``error`` → raise.
- ``insertInto`` is positional, so the DataFrame columns are reordered to
  the table schema first (hive/connection.py:418-462) — the subtlest
  correctness trap flagged in SURVEY §7.
"""

from __future__ import annotations

import logging
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from onetl_spark.base import BaseDBConnection
from onetl_spark.dialects.sparksql import SparkSQLDialect
from onetl_spark.exceptions import TargetAlreadyExistsError
from onetl_spark.hooks import slot, support_hooks
from onetl_spark.hwm.window import Window

log = logging.getLogger(__name__)


@dataclass
class SparkSQLWriteOptions:
    """Write options (subset of hive/options.py:62-212)."""

    if_exists: str = "append"  # append|ignore|error|replace_entire_table|replace_overlapping_partitions
    format: str = "parquet"
    partition_by: list[str] | None = None
    bucket_by: tuple[int, list[str]] | None = None
    sort_by: list[str] | None = None
    compression: str | None = None
    options: dict[str, Any] = field(default_factory=dict)


@contextmanager
def inject_spark_param(conf, name: str, value: str):
    """Temporarily set a Spark SQL conf (onetl/_util/spark.py:84)."""
    original = conf.get(name, None)
    try:
        conf.set(name, value)
        yield
    finally:
        if original is None:
            conf.unset(name)
        else:
            conf.set(name, original)


@support_hooks
@dataclass
class SparkSQLConnection(BaseDBConnection):
    """Query tables/views registered in the Spark catalog."""

    spark: SparkSession

    def __post_init__(self):
        self.dialect = SparkSQLDialect()

    # --- reference surface -------------------------------------------------

    @slot
    def check(self) -> "SparkSQLConnection":
        self.spark.sql("SELECT 1").collect()
        return self

    @slot
    def sql(self, query: str) -> DataFrame:
        """Arbitrary SELECT via spark.sql (hive/connection.py:192)."""
        log.debug("spark-sql query:\n%s", query)
        return self.spark.sql(query)

    @slot
    def execute(self, statement: str) -> DataFrame | None:
        """DDL/DML statement (hive executes via spark.sql too)."""
        df = self.spark.sql(statement)
        return df if df.columns else None

    @slot
    def read_source_as_df(
        self,
        source: str,
        columns: list[str] | None = None,
        hint: str | None = None,
        where: Any = None,
        df_schema: StructType | None = None,
        window: Window | None = None,
        limit: int | None = None,
        options: Any = None,
    ) -> DataFrame:
        conditions = self.dialect.apply_window(where, window)
        query = self.dialect.get_sql_query(
            table=source,
            columns=columns,
            where=conditions,
            hint=hint,
            limit=limit,
        )
        return self.sql(query)

    def get_df_schema(self, source: str, columns: list[str] | None = None) -> StructType:
        # LIMIT-0 probe, same trick as the JDBC driver-side probe
        # (jdbc_connection/connection.py:258-276)
        query = self.dialect.get_sql_query(source, columns=columns, limit=0, compact=True)
        return self.sql(query).schema

    def get_min_max_values(
        self,
        source: str,
        window: Window,
        hint: str | None = None,
        where: Any = None,
        options: Any = None,
    ) -> tuple[Any, Any]:
        conditions = self.dialect.apply_window(where, window)
        query = self.dialect.get_min_max_query(source, window.expression, where=conditions)
        row = self.sql(query).collect()[0]
        return row["min"], row["max"]

    @slot
    def write_df_to_target(self, df: DataFrame, target: str, options: Any = None) -> None:
        opts = options or SparkSQLWriteOptions()
        if isinstance(opts, dict):
            opts = SparkSQLWriteOptions(**opts)
        table_columns = self._table_columns(target)
        mode = opts.if_exists

        if table_columns is None:
            self._save_as_table(df, target, opts, overwrite=False)
            return

        if mode == "error":
            raise TargetAlreadyExistsError(f"Table {target} already exists")
        if mode == "ignore":
            log.info("Table %s exists, skipping write (if_exists=ignore)", target)
            return
        if mode == "replace_entire_table":
            self._save_as_table(df, target, opts, overwrite=True)
            return
        if mode == "append":
            self._insert_into(df, target, table_columns, overwrite=False)
            return
        if mode == "replace_overlapping_partitions":
            self._insert_into(df, target, table_columns, overwrite=True)
            return
        raise ValueError(f"Unknown if_exists mode: {mode!r}")

    # --- internals -----------------------------------------------------------

    def _table_columns(self, target: str) -> list[str] | None:
        """The target table's column names from one catalog lookup, or None
        when it does not exist. Any other analysis error is raised."""
        try:
            return self.spark.table(target).columns
        except AnalysisException as e:
            if e.getCondition() == "TABLE_OR_VIEW_NOT_FOUND":
                return None
            raise

    def _insert_into(self, df: DataFrame, target: str, table_columns: list[str], overwrite: bool) -> None:
        """insertInto is positional: reorder df columns to the table layout
        first (hive/connection.py:418-462)."""
        df_columns = {c.lower(): c for c in df.columns}
        missing = [c for c in table_columns if c.lower() not in df_columns]
        extra = [c for c in df.columns if c.lower() not in {t.lower() for t in table_columns}]
        if missing or extra:
            raise ValueError(
                f"DataFrame columns do not match table {target}: missing={missing}, extra={extra}",
            )
        df = df.select([df_columns[c.lower()] for c in table_columns])
        with inject_spark_param(self.spark.conf, "spark.sql.sources.partitionOverwriteMode", "dynamic"):
            df.write.insertInto(target, overwrite=overwrite)

    def _save_as_table(self, df: DataFrame, target: str, opts: SparkSQLWriteOptions, overwrite: bool) -> None:
        writer = df.write.format(opts.format)
        if opts.partition_by:
            writer = writer.partitionBy(*opts.partition_by)
        if opts.bucket_by:
            n, cols = opts.bucket_by
            writer = writer.bucketBy(n, *cols)
            if opts.sort_by:
                writer = writer.sortBy(*opts.sort_by)
        if opts.compression:
            writer = writer.option("compression", opts.compression)
        for k, v in opts.options.items():
            writer = writer.option(k, v)
        writer.mode("overwrite" if overwrite else "errorifexists").saveAsTable(target)


# Hive is an alias: on a metastore-backed session the same code path works
# against real Hive tables (hive/connection.py:322-341 reads via spark.sql).
Hive = SparkSQLConnection
