"""``el_incremental``: a fixed number of HWM-driven incremental cycles.

Before each cycle an untimed producer appends ``DELTA`` orders to the
source table and lands ``FILES`` small CSV files. The timed cycle is
what a scheduled incremental job does:

    YamlHWMStore + IncrementalStrategy:
        DBReader(hwm=ColumnIntHWM) -> DBWriter(append)
        FileDownloader(hwm=FileListHWM) -> FileDFReader -> DBWriter(append)

Its fixed costs grow with history: the min/max probe scans a source
that gains files every cycle, the FileListHWM (and its 10-deep YAML
history) gains ``FILES`` paths per cycle, the landing directory walk
lengthens, and ``SparkMetricsRecorder`` scans a growing SQL execution
list. The cycle count is fixed, not timed, so both sides of a
comparison build the same history.
"""

from __future__ import annotations

import os

import pyarrow.csv as pacsv
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from onetl_spark.connections import SparkSQLConnection, register_parquet_views
from onetl_spark.connections.sparksql import SparkSQLWriteOptions
from onetl_spark.db import DBReader, DBWriter
from onetl_spark.file import FileDFReader
from onetl_spark.file.connections import SparkLocalFS
from onetl_spark.file.format import CSV
from onetl_spark.file.transfer import FileDownloader, LocalFileConnection
from onetl_spark.hwm import ColumnIntHWM, FileListHWM
from onetl_spark.hwm.store import YamlHWMStore
from onetl_spark.strategy import IncrementalStrategy
from perfbench.common import Env, Workload, compare, dir_stats
from perfbench.harness import Checked, Op

INITIAL = 50_000  # source rows before the first cycle
DELTA = 1_000  # source rows appended per cycle
FILES = 4  # files landed per cycle
FILE_ROWS = 100  # event rows per landed file
WARMUP_CYCLES = 2
# timed cycles: with ten samples beyond it, the tail is p66.7, which the
# late cycles, where history costs are highest, set
CYCLES = 30

SOURCE_HWM = "inc_src.okey"
FILES_HWM = "landing.files"
APPEND = SparkSQLWriteOptions(if_exists="append")
ORDERS_COLUMNS = {"o_orderkey": "okey", "o_custkey": "custkey", "o_orderstatus": "status", "o_totalprice": "price"}
EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
])


def build(env: Env) -> Workload:
    spark = env.spark
    register_parquet_views(spark, env.data, tables=("orders",))
    catalog = SparkSQLConnection(spark)
    files = SparkLocalFS(spark)
    csv = CSV(header=True)
    store = YamlHWMStore(env.path("hwm"))
    landing, staging = env.path("landing"), env.path("staging")
    os.makedirs(landing)
    events = pq.read_table(f"{env.data}/events.parquet", columns=[f.name for f in EVENTS_SCHEMA.fields])
    orders = pq.read_table(f"{env.data}/orders.parquet", columns=list(ORDERS_COLUMNS)).rename_columns(
        list(ORDERS_COLUMNS.values()),
    ).sort_by("okey")
    keys = orders["okey"].to_pylist()
    spark.table("orders").select(*(F.col(a).alias(b) for a, b in ORDERS_COLUMNS.items())).where(
        F.col("okey") < keys[INITIAL],
    ).write.format("parquet").saveAsTable("inc_src")

    state = {"cycles": 0, "landed": []}
    sizes: dict[str, tuple[int, int]] = {}

    def produce():
        # an upstream job lands one parquet file in the table's location
        k = state["cycles"]
        pq.write_table(orders.slice(INITIAL + k * DELTA, DELTA),
                       os.path.join(env.table_dir("inc_src"), f"produced-{k:04d}.parquet"))
        spark.catalog.refreshTable("inc_src")
        state["landed"] = []
        for j in range(FILES):
            first = (k * FILES + j) * FILE_ROWS
            name = f"batch_{k:04d}_{j}.csv"
            pacsv.write_csv(events.slice(first, FILE_ROWS), os.path.join(landing, name))
            state["landed"].append(name)

    def cycle():
        with store, IncrementalStrategy():
            df = DBReader(catalog, "inc_src", hwm=ColumnIntHWM(name=SOURCE_HWM, expression="okey")).run()
            DBWriter(catalog, "inc_tgt", APPEND).run(df)
            result = FileDownloader(
                LocalFileConnection(), source_path=landing, local_path=staging, hwm=FileListHWM(name=FILES_HWM),
            ).run()
            local = [os.path.join(staging, f.name) for f in result.successful]
            events_df = FileDFReader(files, csv, source_path=staging, df_schema=EVENTS_SCHEMA).run(local)
            DBWriter(catalog, "inc_events", APPEND).run(events_df)
        return result

    def growth(table: str, want_rows: int, written: int) -> tuple[list[str], tuple[int, int, int]]:
        path = env.table_dir(table)
        n_files, n_bytes = dir_stats(path)
        old_files, old_bytes = sizes.get(table, (0, 0))
        sizes[table] = (n_files, n_bytes)
        problems = compare(f"{table} rows", ds.dataset(path).count_rows(), want_rows)
        return problems, (n_files - old_files, n_bytes - old_bytes, written)

    def check(result) -> Checked:
        state["cycles"] += 1
        k = state["cycles"]
        problems = compare("downloaded files", sorted(f.name for f in result.successful), sorted(state["landed"]))
        problems += compare("failed downloads", len(result.failed), 0)
        tgt_problems, tgt_write = growth("inc_tgt", INITIAL + k * DELTA, DELTA)
        ev_problems, ev_write = growth("inc_events", k * FILES * FILE_ROWS, FILES * FILE_ROWS)
        return Checked(DELTA + FILES * FILE_ROWS, problems + tgt_problems + ev_problems, [tgt_write, ev_write])

    def final_state() -> list[str]:
        k = state["cycles"]
        problems = compare("stored HWM", store.get_hwm(SOURCE_HWM).value, keys[INITIAL + k * DELTA - 1])
        for table, column in (("inc_tgt", "okey"), ("inc_events", "event_id")):
            stored = ds.dataset(env.table_dir(table)).to_table(columns=[column])[column].to_pylist()
            problems += compare(f"{table} duplicate keys", len(stored) - len(set(stored)), 0)
        problems += compare("FileListHWM size", len(store.get_hwm(FILES_HWM).value), k * FILES)
        return problems

    def instrument(tracer):
        tracer.patch(store, "get_hwm", "hwm.store.get_hwm")
        tracer.patch(store, "set_hwm", "hwm.store.set_hwm")
        tracer.patch(IncrementalStrategy, "__exit__", "strategy.exit")

    return Workload(
        ops=[Op("cycle", cycle, check, before=produce)],
        warmup_rounds=WARMUP_CYCLES,
        fixed_rounds=CYCLES,
        instrument=instrument,
        final_checks=[("final state", final_state)],
        layer_metrics=lambda traced: {
            "hwm.file_list_len": float(len(store.get_hwm(FILES_HWM).value)),
            "hwm.store_bytes": float(dir_stats(store.path)[1]),
        },
    )
