"""``el_bulk``: round-robin over throughput-bound Extract/Load op types.

Every op reads a few hundred thousand rows through a public reader and
lands them through a public writer, replacing its target each time, so
the op cost is dominated by the volume moved, not by per-call overheads.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType, TimestampType

from onetl_spark.connections import (
    Derby,
    JDBCReadOptions,
    JDBCWriteOptions,
    SparkSQLConnection,
    register_parquet_views,
)
from onetl_spark.connections.sparksql import SparkSQLWriteOptions
from onetl_spark.db import DBReader, DBWriter
from onetl_spark.file import FileDFReader, FileDFWriter, FileDFWriterOptions
from onetl_spark.file.connections import SparkLocalFS
from onetl_spark.file.format import CSV
from perfbench.common import Env, Workload, compare, dir_stats, int_sums
from perfbench.harness import Checked, Op

REPLACE = SparkSQLWriteOptions(if_exists="replace_entire_table")
LINEITEM_COLUMNS = ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"]
LINEITEM_WHERE = "l_discount >= 0.05"
ORDERS_SCHEMA = StructType([
    StructField("o_orderkey", LongType()),
    StructField("o_custkey", LongType()),
    StructField("o_orderstatus", StringType()),
    StructField("o_totalprice", DoubleType()),
    StructField("o_orderdate", TimestampType()),
    StructField("o_orderpriority", StringType()),
])
ORDERS_COLUMNS = [f.name for f in ORDERS_SCHEMA.fields]
# Derby holds an orders slice: its embedded engine scans and inserts
# far slower than Spark's parquet path, and a whole-table JDBC op would
# swamp the mix.
DERBY_WHERE = "o_orderkey % 2 = 0"


def _expected(env: Env) -> dict[str, tuple[int, list[int]]]:
    """Row counts and checksums computed by pyarrow from the inputs."""
    li = pq.read_table(f"{env.data}/lineitem.parquet", columns=["l_orderkey", "l_partkey", "l_discount"])
    li = li.filter(pc.greater_equal(li["l_discount"], 0.05))
    orders = pq.read_table(f"{env.data}/orders.parquet", columns=["o_orderkey", "o_custkey"])
    even = orders.filter(pc.equal(pc.bit_wise_and(orders["o_orderkey"], 1), 0))

    def sums(t, cols):
        return t.num_rows, [int(pc.sum(t[c]).as_py()) for c in cols]

    return {
        "lineitem": sums(li, ["l_orderkey", "l_partkey"]),
        "orders": sums(orders, ["o_orderkey", "o_custkey"]),
        "orders_even": sums(even, ["o_orderkey", "o_custkey"]),
    }


def build(env: Env) -> Workload:
    spark = env.spark
    register_parquet_views(spark, env.data, tables=("lineitem", "orders"))
    catalog = SparkSQLConnection(spark)
    derby = Derby(spark=spark, path=env.path("derby", "bulk"))
    files = SparkLocalFS(spark)
    csv = CSV(header=True)
    want = _expected(env)

    csv_src = env.path("csv_src")

    def seed_derby():
        orders = spark.table("orders").where(DERBY_WHERE).select(
            F.col("o_orderkey").alias("OKEY"), F.col("o_custkey").alias("CUSTKEY"),
            F.col("o_orderstatus").alias("STATUS"), F.col("o_totalprice").alias("PRICE"),
        )
        derby.write_df_to_target(orders, "ORDERS_SRC", JDBCWriteOptions(if_exists="replace_entire_table"))

    # untimed seeding of a catalog parquet source, a Derby source and a
    # CSV source, side by side to keep the set-up short
    with ThreadPoolExecutor(3) as pool:
        seeded = [
            pool.submit(lambda: spark.table("lineitem").write.format("parquet").saveAsTable("bulk_src")),
            pool.submit(seed_derby),
            pool.submit(lambda: FileDFWriter(files, csv, target_path=csv_src).run(
                spark.table("orders").select(*ORDERS_COLUMNS))),
        ]
        for future in seeded:
            future.result()
    csv_out = env.path("csv_out")

    def catalog_table_check(table: str, columns: list[str], key: str):
        def check(_) -> Checked:
            rows, sums = int_sums(env.table_dir(table), columns)
            n_files, n_bytes = dir_stats(env.table_dir(table))
            return Checked(rows, compare(table, (rows, sums), want[key]), [(n_files, n_bytes, rows)])

        return check

    def catalog_copy():
        df = DBReader(catalog, "bulk_src", columns=LINEITEM_COLUMNS, where=LINEITEM_WHERE).run()
        DBWriter(catalog, "bulk_copy", REPLACE).run(df)

    def jdbc_scan(mode: str):
        def work():
            opts = JDBCReadOptions(partitioning_mode=mode, partition_column="OKEY", num_partitions=env.cores)
            df = DBReader(derby, "ORDERS_SRC", options=opts).run()
            DBWriter(catalog, f"jdbc_{mode}", REPLACE).run(df)

        return work

    def jdbc_write():
        df = DBReader(catalog, "orders", columns=["o_orderkey AS OKEY", "o_custkey AS CUSTKEY", "o_totalprice AS PRICE"],
                      where=DERBY_WHERE).run()
        DBWriter(derby, "ORDERS_SINK", JDBCWriteOptions(if_exists="replace_entire_table")).run(df)

    def jdbc_write_check(_) -> Checked:
        row = derby.fetch("SELECT COUNT(*) AS N, SUM(OKEY) AS SO, SUM(CUSTKEY) AS SC FROM ORDERS_SINK").collect()[0]
        got = (int(row["N"]), [int(row["SO"]), int(row["SC"])])
        return Checked(got[0], compare("ORDERS_SINK", got, want["orders_even"]))

    def file_write():
        df = DBReader(catalog, "orders", columns=ORDERS_COLUMNS).run()
        FileDFWriter(files, csv, target_path=csv_out,
                     options=FileDFWriterOptions(if_exists="replace_entire_directory")).run(df)

    def file_write_check(_) -> Checked:
        rows, sums = int_sums(csv_out, ["o_orderkey", "o_custkey"], fmt="csv")
        n_files, n_bytes = dir_stats(csv_out)
        return Checked(rows, compare("csv_out", (rows, sums), want["orders"]), [(n_files, n_bytes, rows)])

    def file_read():
        df = FileDFReader(files, csv, source_path=csv_src, df_schema=ORDERS_SCHEMA).run()
        DBWriter(catalog, "csv_loaded", REPLACE).run(df)

    ops = [
        Op("catalog_copy", catalog_copy, catalog_table_check("bulk_copy", ["l_orderkey", "l_partkey"], "lineitem")),
        Op("jdbc_scan_mod", jdbc_scan("mod"), catalog_table_check("jdbc_mod", ["OKEY", "CUSTKEY"], "orders_even")),
        Op("jdbc_scan_range", jdbc_scan("range"),
           catalog_table_check("jdbc_range", ["OKEY", "CUSTKEY"], "orders_even")),
        Op("jdbc_write", jdbc_write, jdbc_write_check),
        Op("file_write", file_write, file_write_check),
        Op("file_read", file_read, catalog_table_check("csv_loaded", ["o_orderkey", "o_custkey"], "orders")),
    ]

    def instrument(tracer):
        tracer.patch(derby, "read_source_as_df", "connections.jdbc.read_source_as_df")
        tracer.patch(derby, "write_df_to_target", "connections.jdbc.write_df_to_target")

    return Workload(ops=ops, warmup_rounds=1, instrument=instrument)

