"""DBWriter — write one DataFrame to a target with ``if_exists`` semantics.

Follows the reference lifecycle (SURVEY §3.2,
onetl/db/db_writer/db_writer.py:36,132): job-description override →
metrics recorder attached → ``connection.write_df_to_target`` → metrics
logged (best-effort: "may be missing", db_writer.py:208-211).

``last_metrics`` holds the write's run record (``SparkCommandMetrics``):
rows its scans read (``input_rows``) and its tasks wrote (``output_rows``),
jobs, stages, tasks, executor time, shuffle, spill and driver gap.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame

from onetl_spark.base import BaseDBConnection
from onetl_spark.hooks import slot, support_hooks
from onetl_spark.metrics import SparkCommandMetrics, SparkMetricsRecorder, override_job_description

log = logging.getLogger(__name__)


@support_hooks
@dataclass
class DBWriter:
    connection: BaseDBConnection
    target: str
    options: Any = None

    def __post_init__(self):
        self.last_metrics: SparkCommandMetrics | None = None

    # hookable slot, mirroring onetl/db/db_writer/db_writer.py:132
    @slot
    def run(self, df: DataFrame) -> None:
        if df.isStreaming:
            raise ValueError("DBWriter is batch-only; use onetl_spark.streaming for streams")
        spark = df.sparkSession
        with override_job_description(spark, f"DBWriter.run({self.target})"):
            with SparkMetricsRecorder(spark) as recorder:
                self.connection.write_df_to_target(df, self.target, self.options)
        self.last_metrics = recorder.metrics()
        if not self.last_metrics.is_empty:
            log.info("write metrics: %s", self.last_metrics.details())
