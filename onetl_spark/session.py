"""The one Spark session profile the engine is benchmarked, tested and
parity-checked under.

Every transform is handed to Spark, so these confs are the engine's real
configuration surface: apply ``PROFILE`` to the session builder of any
deployment. ``build_session`` is the local-mode builder the test suite,
``bench.py`` and ``tools/`` share.

- AQE and partition coalescing on.
- ``preferSortMergeJoin=false``: the planner may pick a shuffled-hash
  join when a build partition fits, skipping both sort passes; the
  sort-merge fallback and AQE skew handling are unaffected.
- ANSI mode on. It is the Spark 4 default and is pinned so a Spark 3.5
  deployment runs the same regime: overflows and bad casts abort
  instead of wrapping silently.
- UTC session time zone, UI off.

``spark.sql.shuffle.partitions`` follows the core count
(``max(cores, 8)``). Cores, driver memory, warehouse dir and app name
are deployment settings and stay arguments.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

PROFILE = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.ansi.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
}


def build_session(
    cores: int,
    driver_memory: str,
    app_name: str,
    warehouse: str | None = None,
) -> SparkSession:
    """A ``local[cores]`` session with ``PROFILE`` applied.

    ``SPARK_GRAFT_EXTRA_CONF`` (``"k=v;k=v"``) adds or overrides confs
    last, for a session-config A/B or an ANSI-off run
    (``spark.sql.ansi.enabled=false``)."""
    conf = {
        **PROFILE,
        "spark.sql.shuffle.partitions": str(max(cores, 8)),
        "spark.driver.memory": driver_memory,
    }
    if warehouse is not None:
        conf["spark.sql.warehouse.dir"] = warehouse
    for pair in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in pair:
            k, _, v = pair.partition("=")
            conf[k.strip()] = v.strip()
    builder = SparkSession.builder.master(f"local[{cores}]").appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
