"""Engine-operator showcase — each entry exercises a SURVEY §2 operator
end-to-end through the public API and has an equivalent DuckDB oracle.

These run the *engine* (DBReader/DBWriter/strategies/dialect rendering),
not hand-written DataFrame code, so the correctness gate covers the
operator implementations themselves.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onetl_spark.connections import SparkSQLConnection
from onetl_spark.db import DBReader
from onetl_spark.hwm.types import ColumnIntHWM
from onetl_spark.hwm.window import Edge, Window
from onetl_spark.showcase.registry import register
from onetl_spark.showcase.replay import scratch_path
from onetl_spark.showcase.util import dsum, ensure_views, sql_dsum
from onetl_spark.strategy import IncrementalBatchStrategy, SnapshotBatchStrategy


def dbreader_projection_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBReader with columns (incl. SQL expression) + where pushdown
    (SURVEY §2.1 DBReader.run, §2.2 projection/filter builders)."""
    ensure_views(spark, sf_dir)
    conn = SparkSQLConnection(spark)
    reader = DBReader(
        conn,
        source="orders",
        columns=[
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "o_totalprice * 0.9 AS discounted",
        ],
        where="o_totalprice > 150000 AND o_orderstatus = 'F'",
    )
    return reader.run()


DBREADER_PROJ_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice, o_totalprice * 0.9 AS discounted
FROM orders
WHERE o_totalprice > 150000 AND o_orderstatus = 'F'
"""


def dbreader_window_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HWM window → predicate rendering: half-open interval (start, stop]
    (SURVEY §2.2 window→predicate, dialect.py:103-121 semantics)."""
    ensure_views(spark, sf_dir)
    conn = SparkSQLConnection(spark)
    window = Window(
        "o_orderkey",
        start_from=Edge(500, including=False),
        stop_at=Edge(1200, including=True),
    )
    return conn.read_source_as_df(
        source="orders",
        columns=["o_orderkey", "o_totalprice"],
        where="o_orderstatus <> 'X'",
        window=window,
    )


DBREADER_WINDOW_SQL = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_orderstatus <> 'X' AND o_orderkey > 500 AND o_orderkey <= 1200
"""


def dbreader_minmax_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX aggregate probe used for HWM planning (SURVEY §2.2)."""
    ensure_views(spark, sf_dir)
    conn = SparkSQLConnection(spark)
    lo, hi = conn.get_min_max_values(
        source="lineitem",
        window=Window("l_orderkey"),
        where="l_quantity > 10",
    )
    return spark.createDataFrame([(lo, hi)], "min_key BIGINT, max_key BIGINT")


DBREADER_MINMAX_SQL = """
SELECT MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
FROM lineitem
WHERE l_quantity > 10
"""


def snapshot_batch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SnapshotBatchStrategy: chunked (current, next] reads over the key
    range unioned back == full table (SURVEY §2.3)."""
    ensure_views(spark, sf_dir)
    conn = SparkSQLConnection(spark)
    reader = DBReader(
        conn,
        source="orders",
        columns=["o_orderkey", "o_custkey", "o_totalprice"],
        hwm=ColumnIntHWM(name="showcase_snapshot_batch", expression="o_orderkey"),
    )
    # step scales with the key range so chunk count stays bounded at any SF
    lo, hi = conn.get_min_max_values("orders", Window("o_orderkey"))
    step = max(1, (hi - lo) // 6)
    parts: list[DataFrame] = []
    with SnapshotBatchStrategy(step=step) as batches:
        for _ in batches:
            parts.append(reader.run())
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


SNAPSHOT_BATCH_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
"""


def incremental_batch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IncrementalBatchStrategy first run == full range in chunks; HWM
    bookkeeping isolated to a throwaway memory store (SURVEY §2.3)."""
    ensure_views(spark, sf_dir)
    from onetl_spark.hwm.store import MemoryHWMStore

    conn = SparkSQLConnection(spark)
    reader = DBReader(
        conn,
        source="lineitem",
        columns=["l_orderkey", "l_linenumber", "l_quantity"],
        where="l_quantity >= 25",
        hwm=ColumnIntHWM(name="showcase_inc_batch", expression="l_orderkey"),
    )
    lo, hi = conn.get_min_max_values("lineitem", Window("l_orderkey"))
    step = max(1, (hi - lo) // 5)
    parts: list[DataFrame] = []
    with MemoryHWMStore():
        with IncrementalBatchStrategy(step=step) as batches:
            for _ in batches:
                parts.append(reader.run())
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


INCREMENTAL_BATCH_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE l_quantity >= 25
"""


def incremental_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IncrementalStrategy resume semantics (SURVEY §2.3): a saved HWM at
    mid-range makes the next run read only rows PAST it (exclusive start),
    and the strategy pins the new HWM at the observed max."""
    ensure_views(spark, sf_dir)
    from onetl_spark.hwm.store import MemoryHWMStore
    from onetl_spark.strategy import IncrementalStrategy

    conn = SparkSQLConnection(spark)
    _, hi = conn.get_min_max_values("orders", Window("o_orderkey"))
    mid = hi // 2
    reader = DBReader(
        conn,
        source="orders",
        columns=["o_orderkey", "o_totalprice"],
        hwm=ColumnIntHWM(name="showcase_inc_resume", expression="o_orderkey"),
    )
    with MemoryHWMStore() as store:
        saved = ColumnIntHWM(name="showcase_inc_resume", expression="o_orderkey")
        saved.update(mid)
        store.set_hwm(saved)
        with IncrementalStrategy():
            df = reader.run()
        assert store.get_hwm("showcase_inc_resume").value == hi
    return df


INCREMENTAL_RESUME_SQL = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_orderkey > (SELECT MAX(o_orderkey) // 2 FROM orders)
"""


def partitioned_scan_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-partitioned parallel scan (SURVEY §2.1 'JDBC partitioned scan
    (hash)'): the dialect synthesizes a hash partition expression, the scan
    repartitions on it (executor-side co-location), partition column is
    dropped after load (jdbc_connection/connection.py:228-229 semantics).
    Result set must be identical to a plain scan."""
    ensure_views(spark, sf_dir)
    conn = SparkSQLConnection(spark)
    num_partitions = 8
    part_expr = conn.dialect.get_partition_column_hash("l_orderkey", num_partitions)
    alias = "part_col_hash"
    df = conn.read_source_as_df(
        source="lineitem",
        columns=["l_orderkey", "l_linenumber", "l_extendedprice", f"{part_expr} AS {alias}"],
        where="l_extendedprice > 50000",
    )
    return df.repartition(num_partitions, alias).drop(alias)


PARTITIONED_HASH_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
WHERE l_extendedprice > 50000
"""


def partitioned_scan_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mod-partitioned parallel scan (SURVEY §2.1): same contract as hash."""
    ensure_views(spark, sf_dir)
    conn = SparkSQLConnection(spark)
    num_partitions = 8
    part_expr = conn.dialect.get_partition_column_mod("o_orderkey", num_partitions)
    alias = "part_col_mod"
    df = conn.read_source_as_df(
        source="orders",
        columns=["o_orderkey", "o_totalprice", f"{part_expr} AS {alias}"],
    )
    return df.repartition(num_partitions, alias).drop(alias)


PARTITIONED_MOD_SQL = """
SELECT o_orderkey, o_totalprice FROM orders
"""


def write_roundtrip_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBWriter mode matrix round-trip (SURVEY §2.9): create → append →
    replace_entire_table, then read back. Oracle = the final state."""
    ensure_views(spark, sf_dir)
    from onetl_spark.connections.sparksql import SparkSQLWriteOptions
    from onetl_spark.db import DBWriter

    from onetl_spark.connections.catalog import drop_table_completely

    conn = SparkSQLConnection(spark)
    target = "showcase_write_roundtrip"
    drop_table_completely(spark, target)

    nation = spark.table("nation")
    writer = DBWriter(conn, target)
    writer.run(nation.filter("n_regionkey = 0"))          # create
    writer.run(nation.filter("n_regionkey = 1"))          # append
    DBWriter(
        conn,
        target,
        options=SparkSQLWriteOptions(if_exists="ignore"),
    ).run(nation)                                          # no-op
    DBWriter(
        conn,
        target,
        options=SparkSQLWriteOptions(if_exists="replace_entire_table"),
    ).run(nation.filter("n_regionkey <= 2"))               # replace
    writer.run(nation.filter("n_regionkey > 2"))           # append again
    return spark.table(target)


WRITE_ROUNDTRIP_SQL = """
SELECT * FROM nation
"""


def filedf_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FileDFWriter → FileDFReader round-trip through CSV on SparkLocalFS
    (SURVEY §2.5/§2.6). Doubles survive via shortest-repr round-trip."""
    import shutil

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from onetl_spark.file import FileDFReader, FileDFWriter, FileDFWriterOptions
    from onetl_spark.file.connections import SparkLocalFS
    from onetl_spark.file.format import CSV

    ensure_views(spark, sf_dir)
    target = scratch_path("csv_roundtrip")
    shutil.rmtree(target, ignore_errors=True)

    local_fs = SparkLocalFS(spark)
    df = spark.table("orders").select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    FileDFWriter(
        local_fs,
        CSV(header=True),
        target,
        FileDFWriterOptions(if_exists="replace_entire_directory"),
    ).run(df)
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
        ],
    )
    return FileDFReader(local_fs, CSV(header=True), target, df_schema=schema).run()


FILEDF_CSV_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
"""


register(dbreader_projection_filter, DBREADER_PROJ_SQL)
register(dbreader_window_predicate, DBREADER_WINDOW_SQL)
register(dbreader_minmax_probe, DBREADER_MINMAX_SQL)
register(snapshot_batch_union, SNAPSHOT_BATCH_SQL)
register(incremental_batch_union, INCREMENTAL_BATCH_SQL)
register(incremental_resume, INCREMENTAL_RESUME_SQL)
register(partitioned_scan_hash, PARTITIONED_HASH_SQL)
register(partitioned_scan_mod, PARTITIONED_MOD_SQL)
register(write_roundtrip_modes, WRITE_ROUNDTRIP_SQL)
register(filedf_csv_roundtrip, FILEDF_CSV_SQL)


def dbreader_has_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """has_data probe (SURVEY §2.1): limit-1 existence checks on a
    populated and a provably-empty filter."""
    ensure_views(spark, sf_dir)
    conn = SparkSQLConnection(spark)
    populated = DBReader(conn, "orders", where="o_totalprice > 0").has_data()
    empty = DBReader(conn, "orders", where="o_totalprice < 0").has_data()
    return spark.createDataFrame(
        [(populated, empty)], "has_rows boolean, has_rows_empty boolean",
    )


DBREADER_HAS_DATA_SQL = """
SELECT (SELECT COUNT(*) FROM orders WHERE o_totalprice > 0) > 0 AS has_rows,
       (SELECT COUNT(*) FROM orders WHERE o_totalprice < 0) > 0 AS has_rows_empty
"""

register(dbreader_has_data, DBREADER_HAS_DATA_SQL)


def salted_join_order_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders ⋈ customer through the explicit skew-salted join, aggregated
    per nation — the oracle's plain join proves salt-invariance."""
    from onetl_spark.operators.joins import salted_join

    ensure_views(spark, sf_dir)
    orders = spark.table("orders")
    customer = spark.table("customer").select("c_custkey", "c_nationkey")
    joined = salted_join(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        customer,
        on=["c_custkey"],
        salt_buckets=8,
    )
    return joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", 2).alias("total_price"),
    )


SALTED_JOIN_SQL = f"""
SELECT c.c_nationkey, COUNT(*) AS n_orders,
       {sql_dsum('o.o_totalprice', 2)} AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_nationkey
"""


register(salted_join_order_volume, SALTED_JOIN_SQL)


def _derby_scratch(sf_dir: str, name: str) -> str:
    return scratch_path(
        "derby_showcase", os.path.basename(os.path.normpath(sf_dir)), name
    )


def jdbc_live_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE JDBC loop, oracle-checked: an orders slice is written into
    embedded Derby (replace mode), read back through DBReader with
    column/where pushdown over a 4-way MOD-partitioned JDBC scan, and
    aggregated per status. The oracle computes the same aggregate
    straight from the parquet — proving the rendered-SQL write → scan →
    pushdown loop is value-preserving, not just runnable (SURVEY §2.1
    scan/write, §2.2 fragment builders, on a real database)."""
    from onetl_spark.connections import Derby, JDBCReadOptions, JDBCWriteOptions

    ensure_views(spark, sf_dir)
    conn = Derby(spark=spark, path=_derby_scratch(sf_dir, "roundtrip"))
    src = (
        spark.table("orders")
        .filter("o_orderkey % 10 = 0")
        .select(
            F.col("o_orderkey").alias("OKEY"),
            F.col("o_orderstatus").alias("STATUS"),
            F.col("o_totalprice").alias("PRICE"),
        )
    )
    conn.write_df_to_target(src, "ORDERS_RT", JDBCWriteOptions(if_exists="replace_entire_table"))
    reader = DBReader(
        conn,
        source="ORDERS_RT",
        columns=["STATUS", "PRICE"],
        where="PRICE > 50000",
        options=JDBCReadOptions(
            num_partitions=4, partition_column="OKEY", partitioning_mode="mod",
        ),
    )
    return (
        reader.run()
        .groupBy(F.col("STATUS").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("PRICE", 2).alias("total_price"),
        )
    )


JDBC_LIVE_ROUNDTRIP_SQL = f"""
SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice', 2)} AS total_price
FROM orders
WHERE o_orderkey % 10 = 0 AND o_totalprice > 50000
GROUP BY 1
"""

register(jdbc_live_roundtrip, JDBC_LIVE_ROUNDTRIP_SQL)


def jdbc_live_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE incremental-strategy loop over JDBC, oracle-checked: batch 1
    (even orderkeys) is written and incrementally read (HWM saved at its
    max), batch 2 (odd orderkeys above the watermark) is appended, and
    the second incremental run must return EXACTLY the above-watermark
    delta. A fresh in-memory HWM store scopes the run, so the query is
    deterministic under re-execution."""
    from onetl_spark.connections import Derby, JDBCReadOptions, JDBCWriteOptions
    from onetl_spark.hwm.store import MemoryHWMStore

    ensure_views(spark, sf_dir)
    conn = Derby(spark=spark, path=_derby_scratch(sf_dir, "incremental"))
    orders = spark.table("orders").select(
        F.col("o_orderkey").alias("OKEY"),
        F.col("o_totalprice").alias("PRICE"),
    )
    batch1 = orders.filter("OKEY % 2 = 0")
    conn.write_df_to_target(batch1, "ORDERS_INC", JDBCWriteOptions(if_exists="replace_entire_table"))

    from onetl_spark.strategy import IncrementalStrategy

    reader = DBReader(
        conn,
        source="ORDERS_INC",
        hwm=ColumnIntHWM(name="jdbc_live_inc_hwm", expression="OKEY"),
    )
    def _materialize(df):
        # the table is mutated between runs, and a lazy plan would scan
        # Derby at collect time — pin each run's result eagerly
        row = df.agg(
            F.count(F.lit(1)).alias("n"), dsum("PRICE", 2).alias("total"),
        ).collect()[0]
        return int(row["n"]), float(row["total"])

    with MemoryHWMStore():
        with IncrementalStrategy():
            n1, t1 = _materialize(reader.run())
        batch2 = orders.filter("OKEY % 2 = 1")
        conn.write_df_to_target(batch2, "ORDERS_INC", JDBCWriteOptions(if_exists="append"))
        with IncrementalStrategy():
            n2, t2 = _materialize(reader.run())
    return spark.createDataFrame(
        [(1, n1, t1), (2, n2, t2)], "run int, n long, total double",
    )


JDBC_LIVE_INCREMENTAL_SQL = f"""
SELECT 1 AS run, COUNT(*) AS n, {sql_dsum('o_totalprice', 2)} AS total
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT 2 AS run, COUNT(*) AS n, {sql_dsum('o_totalprice', 2)} AS total
FROM orders
WHERE o_orderkey % 2 = 1
  AND o_orderkey > (SELECT MAX(o_orderkey) FROM orders WHERE o_orderkey % 2 = 0)
"""

register(jdbc_live_incremental, JDBC_LIVE_INCREMENTAL_SQL)


def supplier_fuzzy_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage (`operators/linkage.py blocked_fuzzy_join`): a dirty
    copy of the supplier register — one deterministic character typo per
    name — is linked back to the canonical register, blocked by nation +
    name length so candidate generation is per-block, never O(n²).
    Output: (canonical id, dirty id, edit distance) for distance <= 1."""
    from onetl_spark.operators.linkage import blocked_fuzzy_join

    ensure_views(spark, sf_dir)
    s = spark.table("supplier")
    blk = F.concat_ws("|", F.col("s_nationkey").cast("string"), F.length("s_name").cast("string"))
    clean = s.select(F.col("s_suppkey").alias("id"), F.col("s_name").alias("name"), blk.alias("block"))
    pos = (F.pmod(F.col("s_suppkey"), F.length("s_name")) + 1).cast("int")
    dirty_name = F.concat(
        F.substring(F.col("s_name"), F.lit(1), pos - 1),
        F.lit("~"),
        F.col("s_name").substr(pos + 1, F.length("s_name")),
    )
    dirty = s.select(F.col("s_suppkey").alias("id"), dirty_name.alias("name"), blk.alias("block"))
    return blocked_fuzzy_join(clean, dirty, max_distance=1)


SUPPLIER_FUZZY_SQL = """
WITH clean AS (
  SELECT s_suppkey AS id, s_name AS nm,
         CAST(s_nationkey AS VARCHAR) || '|' || CAST(length(s_name) AS VARCHAR) AS blk
  FROM supplier
), dirty AS (
  SELECT s_suppkey AS id,
         substr(s_name, 1, CAST(s_suppkey % length(s_name) AS INTEGER))
           || '~' || substr(s_name, CAST(s_suppkey % length(s_name) AS INTEGER) + 2) AS nm,
         CAST(s_nationkey AS VARCHAR) || '|' || CAST(length(s_name) AS VARCHAR) AS blk
  FROM supplier
)
SELECT c.id AS a_id, d.id AS b_id, CAST(levenshtein(c.nm, d.nm) AS BIGINT) AS distance
FROM clean c JOIN dirty d ON c.blk = d.blk
WHERE levenshtein(c.nm, d.nm) <= 1
"""

register(supplier_fuzzy_linkage, SUPPLIER_FUZZY_SQL)


def orders_global_row_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global row numbering of ``orders`` by (o_orderdate,
    o_orderkey) via `operators/ranking.py global_row_index` — the
    bucket-window + prefix-offset decomposition of
    ``ROW_NUMBER() OVER (ORDER BY ...)`` that plans NO
    ``Exchange SinglePartition`` (plan-guarded). Every 1000th row is
    returned so the whole index is spot-checked end to end."""
    from onetl_spark.operators.ranking import global_row_index

    ensure_views(spark, sf_dir)
    idx = global_row_index(
        spark.table("orders"), "o_orderdate", ("o_orderkey",), index_col="row_idx"
    )
    return (
        idx.filter(F.col("row_idx") % 1000 == 0)
        .select("row_idx", "o_orderkey", F.col("o_orderdate").cast("string").alias("o_orderdate"))
    )


ORDERS_GLOBAL_ROW_INDEX_SQL = """
SELECT row_idx, o_orderkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate
FROM (
  SELECT o_orderkey, o_orderdate,
         ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS row_idx
  FROM orders
)
WHERE row_idx % 1000 = 0
"""

register(orders_global_row_index, ORDERS_GLOBAL_ROW_INDEX_SQL)


def events_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equal-frequency deciles of event value (`operators/ranking.py
    exact_ntile`): the closed-form NTILE(10) reconstruction from the
    distributed global index — one bucket-window shuffle, no
    single-partition sort. Per-decile row count, value range, and
    decimal-exact sum."""
    from onetl_spark.operators.ranking import exact_ntile

    ensure_views(spark, sf_dir)
    t = exact_ntile(
        spark.table("events").filter(F.col("value").isNotNull()),
        10,
        "value",
        ("event_id",),
        tile_col="decile",
    )
    return (
        t.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
            F.round(dsum("value"), 6).alias("value_sum"),
        )
        .orderBy("decile")
    )


EVENTS_VALUE_DECILES_SQL = f"""
SELECT decile, COUNT(*) AS n,
       ROUND(MIN(value), 6) AS lo, ROUND(MAX(value), 6) AS hi,
       ROUND({sql_dsum('value')}, 6) AS value_sum
FROM (
  SELECT value, NTILE(10) OVER (ORDER BY value, event_id) AS decile
  FROM events WHERE value IS NOT NULL
)
GROUP BY decile
ORDER BY decile
"""

register(events_value_deciles, EVENTS_VALUE_DECILES_SQL)


def orders_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed PERCENT_RANK over all orders by (o_totalprice,
    o_orderkey) via `operators/ranking.py exact_percent_rank` — the
    (row_number-1)/(total-1) reconstruction from the bucket-window global
    index, no single-partition sort. Every 100th order key is returned so
    the whole ranking is spot-checked."""
    from onetl_spark.operators.ranking import exact_percent_rank

    ensure_views(spark, sf_dir)
    r = exact_percent_rank(
        spark.table("orders"), "o_totalprice", ("o_orderkey",), rank_col="pct_rank"
    )
    return (
        r.filter(F.col("o_orderkey") % 100 == 1)
        .select("o_orderkey", "pct_rank")
    )


ORDERS_PERCENT_RANK_SQL = """
SELECT o_orderkey, pct_rank FROM (
  SELECT o_orderkey,
         PERCENT_RANK() OVER (ORDER BY o_totalprice, o_orderkey) AS pct_rank
  FROM orders
)
WHERE o_orderkey % 100 = 1
"""

register(orders_percent_rank, ORDERS_PERCENT_RANK_SQL)


def events_value_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed CUME_DIST over event values via
    `operators/ranking.py exact_cume_dist` (row_number/total on the
    unique (value, event_id) key — identical to the peers-inclusive SQL
    definition because no two rows tie on the full key)."""
    from onetl_spark.operators.ranking import exact_cume_dist

    ensure_views(spark, sf_dir)
    r = exact_cume_dist(
        spark.table("events").filter(F.col("value").isNotNull()),
        "value",
        ("event_id",),
        dist_col="cd",
    )
    return r.filter(F.col("event_id") % 137 == 0).select("event_id", "cd")


EVENTS_CUME_DIST_SQL = """
SELECT event_id, cd FROM (
  SELECT event_id,
         CUME_DIST() OVER (ORDER BY value, event_id) AS cd
  FROM events WHERE value IS NOT NULL
)
WHERE event_id % 137 = 0
"""

register(events_value_cume_dist, EVENTS_CUME_DIST_SQL)


_PSI_BOUNDS = [5.0, 10.0, 20.0, 35.0, 60.0, 100.0, 160.0, 250.0]
_PSI_SPLIT = "2024-01-16"


def events_value_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of event value, first half of the
    month (reference) vs second half (current), over PINNED bin edges
    (`operators/quality.py population_stability` with explicit bounds —
    the production monitor convention of freezing yesterday's bins).
    Per-bucket shares + PSI terms, total under bucket -2; each side costs
    one scan + one 9-row aggregate."""
    from onetl_spark.operators.quality import population_stability

    ensure_views(spark, sf_dir)
    ev = spark.table("events").filter(F.col("value").isNotNull())
    ref = ev.filter(F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp"))
    cur = ev.filter(F.col("ts") >= F.lit(_PSI_SPLIT).cast("timestamp"))
    return population_stability(ref, cur, "value", bounds=_PSI_BOUNDS)


def _psi_sql() -> str:
    b = _PSI_BOUNDS
    blist = "[" + ", ".join(f"{x!r}" for x in b) + "]"
    edges = (
        "[NULL::DOUBLE, " + ", ".join(f"{x!r}" for x in b) + ", NULL::DOUBLE]"
    )
    n_buckets = len(b) + 1
    return f"""
WITH ev AS (
  SELECT CAST(value AS DOUBLE) AS v,
         CAST(ts AS TIMESTAMP) < TIMESTAMP '{_PSI_SPLIT}' AS is_ref
  FROM events WHERE value IS NOT NULL
), bk AS (
  SELECT len(list_filter({blist}, x -> v > x)) AS bucket, is_ref FROM ev
), cnt AS (
  SELECT bucket,
         SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS nr,
         SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS nc
  FROM bk GROUP BY bucket
), tot AS (
  SELECT CAST(SUM(nr) AS BIGINT) AS tr, CAST(SUM(nc) AS BIGINT) AS tc FROM cnt
), ids AS (
  SELECT unnest(range(0, {n_buckets})) AS bucket
), terms AS (
  SELECT ids.bucket,
         ({edges})[ids.bucket + 1] AS lo,
         ({edges})[ids.bucket + 2] AS hi,
         CAST(COALESCE(cnt.nr, 0) AS DOUBLE) / tot.tr AS pr,
         CAST(COALESCE(cnt.nc, 0) AS DOUBLE) / tot.tc AS pc
  FROM ids LEFT JOIN cnt ON cnt.bucket = ids.bucket CROSS JOIN tot
), scored AS (
  SELECT bucket, lo, hi, pr, pc,
         (pc - pr) * ln(greatest(pc, 1e-6) / greatest(pr, 1e-6)) AS term
  FROM terms
)
SELECT CAST(bucket AS INTEGER) AS bucket, lo, hi,
       round(pr, 9) AS ref_share, round(pc, 9) AS cur_share,
       round(term, 9) AS psi_term
FROM scored
UNION ALL
SELECT -2, NULL, NULL, 1.0, 1.0, round(SUM(term), 9) FROM scored
"""


register(events_value_psi, _psi_sql())


def lineitem_orders_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK integrity audit (`operators/quality.py
    referential_integrity_audit`): lineitem → finished orders only, so
    both failure branches are non-trivial — lineitems of non-'F' orders
    are orphans and childless 'F' orders are unreferenced parents. Key-
    column-only anti-joins; the scans are pruned to the key columns."""
    from onetl_spark.operators.quality import referential_integrity_audit

    ensure_views(spark, sf_dir)
    return referential_integrity_audit(
        spark.table("lineitem"),
        spark.table("orders").filter(F.col("o_orderstatus") == "F"),
        "l_orderkey",
        "o_orderkey",
    )


LINEITEM_INTEGRITY_SQL = """
WITH p AS (SELECT DISTINCT o_orderkey AS pk FROM orders WHERE o_orderstatus = 'F'),
c AS (SELECT l_orderkey AS ck FROM lineitem),
o AS (SELECT ck FROM c WHERE ck IS NOT NULL AND ck NOT IN (SELECT pk FROM p))
SELECT (SELECT COUNT(*) FROM c) AS n_child,
       (SELECT COUNT(*) FROM c WHERE ck IS NULL) AS n_null_keys,
       (SELECT COUNT(*) FROM o) AS n_orphans,
       (SELECT COUNT(DISTINCT ck) FROM o) AS n_orphan_keys,
       (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'F') AS n_parent,
       (SELECT COUNT(*) FROM p WHERE pk NOT IN (SELECT DISTINCT ck FROM c)) AS n_unreferenced_parents
"""

register(lineitem_orders_integrity, LINEITEM_INTEGRITY_SQL)


def events_stats_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric profile drift (`operators/quality.py column_stats_drift`):
    value and user_id profiles, first half of the month vs second —
    count/null-rate/mean/range per column plus the mean shift, one
    all-columns-together aggregate per side."""
    from onetl_spark.operators.quality import column_stats_drift

    ensure_views(spark, sf_dir)
    ev = spark.table("events")
    split = F.lit("2024-01-16").cast("timestamp")
    return column_stats_drift(
        ev.filter(F.col("ts") < split),
        ev.filter(F.col("ts") >= split),
        ["value", "user_id"],
    )


EVENTS_STATS_DRIFT_SQL = """
WITH r AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS nv,
         CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sv,
         MIN(CAST(value AS DOUBLE)) AS minv, MAX(CAST(value AS DOUBLE)) AS maxv,
         SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS nu,
         CAST(SUM(CAST(user_id AS DECIMAL(30,6))) AS DOUBLE) AS su,
         MIN(CAST(user_id AS DOUBLE)) AS minu, MAX(CAST(user_id AS DOUBLE)) AS maxu
  FROM events WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
), c AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS nv,
         CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sv,
         MIN(CAST(value AS DOUBLE)) AS minv, MAX(CAST(value AS DOUBLE)) AS maxv,
         SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS nu,
         CAST(SUM(CAST(user_id AS DECIMAL(30,6))) AS DOUBLE) AS su,
         MIN(CAST(user_id AS DOUBLE)) AS minu, MAX(CAST(user_id AS DOUBLE)) AS maxu
  FROM events WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
)
SELECT 'value' AS "column", r.n AS ref_count, c.n AS cur_count,
       round(CAST(r.nv AS DOUBLE) / greatest(r.n, 1), 9) AS ref_null_rate,
       round(CAST(c.nv AS DOUBLE) / greatest(c.n, 1), 9) AS cur_null_rate,
       round(r.sv / (r.n - r.nv), 9) AS ref_mean,
       round(c.sv / (c.n - c.nv), 9) AS cur_mean,
       r.minv AS ref_min, c.minv AS cur_min, r.maxv AS ref_max, c.maxv AS cur_max,
       round(round(c.sv / (c.n - c.nv), 9) - round(r.sv / (r.n - r.nv), 9), 9) AS mean_shift
FROM r CROSS JOIN c
UNION ALL
SELECT 'user_id', r.n, c.n,
       round(CAST(r.nu AS DOUBLE) / greatest(r.n, 1), 9),
       round(CAST(c.nu AS DOUBLE) / greatest(c.n, 1), 9),
       round(r.su / (r.n - r.nu), 9),
       round(c.su / (c.n - c.nu), 9),
       r.minu, c.minu, r.maxu, c.maxu,
       round(round(c.su / (c.n - c.nu), 9) - round(r.su / (r.n - r.nu), 9), 9)
FROM r CROSS JOIN c
"""

register(events_stats_drift, EVENTS_STATS_DRIFT_SQL)


_Z_BITS, _Z_CELL_BITS = 16, 4


def orders_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order locality report (`operators/layout.py`): Morton-interleave
    (o_custkey, o_orderkey) low 16 bits, group by the 256 coarse cells
    (top 4 bits of each dimension), report per-cell counts + per-dim
    ranges — the statistics that show why z-clustered files prune on
    EITHER column. Pure JVM bit arithmetic, one small aggregate."""
    from onetl_spark.operators.maintenance import zorder_cell_stats

    ensure_views(spark, sf_dir)
    d = spark.table("orders").select(
        (F.col("o_custkey") % 65536).alias("x"),
        (F.col("o_orderkey") % 65536).alias("y"),
    )
    return zorder_cell_stats(d, ["x", "y"], bits=_Z_BITS, cell_bits=_Z_CELL_BITS)


def _zorder_sql(bits: int = _Z_BITS, cell_bits: int = _Z_CELL_BITS) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"(((x >> {i}) & 1) << {2 * i})")
        terms.append(f"(((y >> {i}) & 1) << {2 * i + 1})")
    z = " + ".join(terms)
    return f"""
WITH d AS (
  SELECT o_custkey % 65536 AS x, o_orderkey % 65536 AS y FROM orders
), keyed AS (
  SELECT x, y, ({z}) >> {2 * (bits - cell_bits)} AS cell FROM d
)
SELECT cell, COUNT(*) AS n_rows,
       MIN(x) AS min_x, MAX(x) AS max_x,
       MIN(y) AS min_y, MAX(y) AS max_y
FROM keyed GROUP BY cell
"""


register(orders_zorder_cells, _zorder_sql())


def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance
    (`operators/maintenance.py aggregate_state/merge_aggregate_state`):
    the month's rollup maintained as state(first half) MERGED WITH
    state(second half) — the oracle computes the full month from scratch,
    so the hash match PROVES the merge algebra is exact (decimal sums,
    semigroup min/max), i.e. a maintained view never drifts from a
    recompute."""
    from onetl_spark.operators.maintenance import (
        aggregate_state,
        merge_aggregate_state,
    )

    ensure_views(spark, sf_dir)
    ev = spark.table("events")
    split = F.lit("2024-01-16").cast("timestamp")
    prev = aggregate_state(ev.filter(F.col("ts") < split), ["event_type"], "value")
    delta = aggregate_state(ev.filter(F.col("ts") >= split), ["event_type"], "value")
    merged = merge_aggregate_state(prev, delta, ["event_type"])
    return merged.select(
        "event_type",
        "n",
        "n_nulls",
        F.col("sum").cast("double").alias("value_sum"),
        "min",
        "max",
    ).orderBy("event_type")


INCREMENTAL_ROLLUP_MERGE_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS value_sum,
       MIN(CAST(value AS DOUBLE)) AS min, MAX(CAST(value AS DOUBLE)) AS max
FROM events
GROUP BY event_type
ORDER BY event_type
"""

register(incremental_rollup_merge, INCREMENTAL_ROLLUP_MERGE_SQL)


def user_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user total event value
    (`operators/ranking.py gini_coefficient`): the revenue-concentration
    number, computed from the distributed global rank — no
    single-partition sort. Integer micro-unit moments, fixed double
    parenthesization."""
    from onetl_spark.operators.ranking import gini_coefficient

    ensure_views(spark, sf_dir)
    per_user = (
        spark.table("events")
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(dsum("value").alias("total_value"))
    )
    return gini_coefficient(per_user, "total_value", ("user_id",))


USER_VALUE_GINI_SQL = f"""
WITH per_user AS (
  SELECT user_id, {sql_dsum('value')} AS total_value
  FROM events WHERE value IS NOT NULL GROUP BY user_id
), r AS (
  SELECT total_value,
         ROW_NUMBER() OVER (ORDER BY total_value, user_id) AS i
  FROM per_user
), u AS (
  SELECT CAST(CAST(total_value AS DECIMAL(30,6)) * 1000000 AS HUGEINT) AS x, i
  FROM r
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(x * i) AS six FROM u
)
SELECT n,
       round((2.0 * CAST(six AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 9) AS gini
FROM m
"""

register(user_value_gini, USER_VALUE_GINI_SQL)


def events_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization report over pinned clamp bounds [5, 250]
    (`operators/quality.py winsorized_stats`): clamp counts and exact
    decimal means before/after — the robust-scaling preprocessing
    number."""
    from onetl_spark.operators.quality import winsorized_stats

    ensure_views(spark, sf_dir)
    return winsorized_stats(spark.table("events"), "value", lo=5.0, hi=250.0)


EVENTS_WINSORIZED_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN v < 5.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_lo,
       CAST(SUM(CASE WHEN v > 250.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_hi,
       round(CAST(SUM(CAST(v AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 9) AS mean_raw,
       round(CAST(SUM(CAST(least(greatest(v, 5.0), 250.0) AS DECIMAL(30,6))) AS DOUBLE)
             / COUNT(*), 9) AS mean_winsorized
FROM (SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL)
"""

register(events_value_winsorized, EVENTS_WINSORIZED_SQL)


def events_value_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift test on event value,
    first vs second half of the month (`operators/stats.py
    ks_two_sample`): the binning-free companion to events_value_psi,
    computed with bucketed distributed ECDFs (no single-partition
    window)."""
    from onetl_spark.operators.stats import ks_two_sample

    ensure_views(spark, sf_dir)
    ev = spark.table("events")
    split = F.lit("2024-01-16").cast("timestamp")
    return ks_two_sample(
        ev.filter(F.col("ts") < split), ev.filter(F.col("ts") >= split), "value"
    )


EVENTS_KS_SQL = """
WITH a AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
), b AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
), c AS (
  SELECT COALESCE(ac.v, bc.v) AS v,
         COALESCE(ac.na, 0) AS na, COALESCE(bc.nb, 0) AS nb
  FROM (SELECT v, COUNT(*) AS na FROM a GROUP BY v) ac
  FULL OUTER JOIN (SELECT v, COUNT(*) AS nb FROM b GROUP BY v) bc
    ON ac.v = bc.v
), tot AS (
  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb FROM c
), ecdf AS (
  SELECT v,
         SUM(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         SUM(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
  FROM c
), d AS (
  SELECT v, round(abs(CAST(ca AS DOUBLE) / tot.ta - CAST(cb AS DOUBLE) / tot.tb), 9) AS d
  FROM ecdf CROSS JOIN tot
)
SELECT tot.ta AS n_ref, tot.tb AS n_cur,
       (SELECT MAX(d) FROM d) AS ks_stat,
       (SELECT MIN(v) FROM d WHERE d = (SELECT MAX(d) FROM d)) AS at_value
FROM tot
"""

register(events_value_ks_drift, EVENTS_KS_SQL)


def events_value_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected Mann-Whitney U on event value, first vs second
    half of the month (`operators/stats.py mann_whitney_u`) — the
    location-shift companion to the KS shape test, on the same bucketed
    distributed rank machinery."""
    from onetl_spark.operators.stats import mann_whitney_u

    ensure_views(spark, sf_dir)
    ev = spark.table("events")
    split = F.lit("2024-01-16").cast("timestamp")
    return mann_whitney_u(
        ev.filter(F.col("ts") < split), ev.filter(F.col("ts") >= split), "value"
    )


EVENTS_MWU_SQL = """
WITH a AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
), b AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
), c AS (
  SELECT COALESCE(ac.v, bc.v) AS v,
         COALESCE(ac.na, 0) AS na, COALESCE(bc.nb, 0) AS nb
  FROM (SELECT v, COUNT(*) AS na FROM a GROUP BY v) ac
  FULL OUTER JOIN (SELECT v, COUNT(*) AS nb FROM b GROUP BY v) bc
    ON ac.v = bc.v
), tot AS (
  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb,
         CAST(SUM(na + nb) AS BIGINT) AS tn
  FROM c
), staged AS (
  SELECT na, na + nb AS nv,
         SUM(na + nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - (na + nb) AS before
  FROM c
), m AS (
  SELECT CAST(SUM(na * (2 * before + nv + 1)) AS BIGINT) AS rs2,
         CAST(SUM(nv * nv * nv - nv) AS BIGINT) AS ties
  FROM staged
)
SELECT tot.ta AS n_ref, tot.tb AS n_cur,
       round(CAST(rs2 AS DOUBLE) / 2.0
             - CAST(tot.ta AS DOUBLE) * (CAST(tot.ta AS DOUBLE) + 1) / 2.0, 9) AS u_stat,
       round((CAST(rs2 AS DOUBLE) / 2.0
              - CAST(tot.ta AS DOUBLE) * (CAST(tot.ta AS DOUBLE) + 1) / 2.0
              - CAST(tot.ta AS DOUBLE) * CAST(tot.tb AS DOUBLE) / 2.0)
             / sqrt(CAST(tot.ta AS DOUBLE) * CAST(tot.tb AS DOUBLE) / 12.0
                    * (CAST(tot.tn AS DOUBLE) + 1.0
                       - CAST(ties AS DOUBLE)
                         / (CAST(tot.tn AS DOUBLE) * (CAST(tot.tn AS DOUBLE) - 1.0)))), 9) AS z_score
FROM m CROSS JOIN tot
"""

register(events_value_mannwhitney, EVENTS_MWU_SQL)


def events_type_segment_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between event type and the user's market segment
    (`operators/stats.py cramers_v`): does behavior depend on segment at
    all, and how strongly — the normalized companion to the chi-square
    query."""
    from onetl_spark.operators.stats import cramers_v

    ensure_views(spark, sf_dir)
    joined = (
        spark.table("events")
        .join(
            spark.table("customer").select(
                F.col("c_custkey").alias("user_id"), "c_mktsegment"
            ),
            "user_id",
        )
    )
    return cramers_v(joined, "event_type", "c_mktsegment")


EVENTS_CRAMERS_V_SQL = """
WITH j AS (
  SELECT COALESCE(CAST(e.event_type AS VARCHAR), '<null>') AS a,
         COALESCE(CAST(c.c_mktsegment AS VARCHAR), '<null>') AS b
  FROM events e JOIN customer c ON c.c_custkey = e.user_id
), cells AS (
  SELECT a, b, COUNT(*) AS o FROM j GROUP BY a, b
), ra AS (SELECT a, SUM(o) AS rt FROM cells GROUP BY a),
cb AS (SELECT b, SUM(o) AS ct FROM cells GROUP BY b),
tot AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT a) AS BIGINT) AS ka,
         CAST(COUNT(DISTINCT b) AS BIGINT) AS kb
  FROM cells
), grid AS (
  SELECT ra.a, cb.b, ra.rt, cb.ct, COALESCE(cells.o, 0) AS o
  FROM ra CROSS JOIN cb LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b
), terms AS (
  SELECT CAST(round(
           (o - CAST(rt AS DOUBLE) * ct / n) * (o - CAST(rt AS DOUBLE) * ct / n)
           / (CAST(rt AS DOUBLE) * ct / n), 9) AS DECIMAL(25,9)) AS t,
         n, ka, kb
  FROM grid CROSS JOIN tot
), m AS (
  SELECT n, ka, kb, CAST(SUM(t) AS DOUBLE) AS chi2 FROM terms GROUP BY n, ka, kb
)
SELECT n, ka AS n_a, kb AS n_b, round(chi2, 9) AS chi2,
       round(sqrt(chi2 / (CAST(n AS DOUBLE) * (CAST(least(ka, kb) AS DOUBLE) - 1.0))), 9) AS cramers_v
FROM m
"""

register(events_type_segment_cramers_v, EVENTS_CRAMERS_V_SQL)


def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals (`operators/quality.py
    benford_first_digit`) — the fabricated-data detector; per-digit
    observed vs expected shares and the chi-square."""
    from onetl_spark.operators.quality import benford_first_digit

    ensure_views(spark, sf_dir)
    return benford_first_digit(spark.table("orders"), "o_totalprice")


ORDERS_BENFORD_SQL = """
WITH exp AS (
  SELECT * FROM (VALUES
  (1, 0.301029995664),
  (2, 0.176091259056),
  (3, 0.124938736608),
  (4, 0.096910013008),
  (5, 0.079181246048),
  (6, 0.066946789631),
  (7, 0.057991946978),
  (8, 0.051152522447),
  (9, 0.045757490561)
  ) AS t(digit, exp_share_d)
), expd AS (
  SELECT digit, CAST(exp_share_d AS DOUBLE) AS exp_share FROM exp
), obs AS (
  SELECT CAST(substr(CAST(CAST(floor(CAST(o_totalprice AS DOUBLE)) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS d,
         COUNT(*) AS o
  FROM orders WHERE CAST(o_totalprice AS DOUBLE) >= 1
  GROUP BY 1
), full_t AS (
  SELECT expd.digit, CAST(COALESCE(obs.o, 0) AS BIGINT) AS n_obs, expd.exp_share
  FROM expd LEFT JOIN obs ON obs.d = expd.digit
), tot AS (
  SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM full_t
), scored AS (
  SELECT digit, n_obs,
         round(CAST(n_obs AS DOUBLE) / n, 9) AS obs_share,
         exp_share,
         CAST(round((n_obs - n * exp_share) * (n_obs - n * exp_share)
                    / (n * exp_share), 9) AS DECIMAL(25,9)) AS t
  FROM full_t CROSS JOIN tot
), chi AS (SELECT CAST(SUM(t) AS DOUBLE) AS chi2 FROM scored)
SELECT digit, n_obs, obs_share, exp_share,
       CAST(t AS DOUBLE) AS chi2_term, round(chi.chi2, 9) AS chi2_total
FROM scored CROSS JOIN chi
"""

register(orders_benford_audit, ORDERS_BENFORD_SQL)


def events_purchase_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of event value as a purchase predictor
    (`operators/stats.py roc_auc`): the Mann–Whitney rank identity on
    the shared bucketed prefix-sum scaffold — integer-exact doubled
    rank sums, one final division — with the DuckDB oracle replaying
    the identical formula over a window cumsum."""
    from onetl_spark.operators.stats import roc_auc

    ensure_views(spark, sf_dir)
    ev = spark.table("events").select(
        "value",
        (F.col("event_type") == "purchase").cast("int").alias("is_purchase"),
    )
    return roc_auc(ev, "value", "is_purchase")


EVENTS_AUC_SQL = """
WITH s AS (
  SELECT CAST(value AS DOUBLE) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
), c AS (
  SELECT v, COUNT(*) AS nv, SUM(y) AS na FROM s GROUP BY v
), tot AS (
  SELECT CAST(SUM(na) AS BIGINT) AS np,
         CAST(SUM(nv - na) AS BIGINT) AS nn
  FROM c
), staged AS (
  SELECT na, nv,
         SUM(nv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) - nv AS before
  FROM c
), m AS (
  SELECT CAST(SUM(na * (2 * before + nv + 1)) AS BIGINT) AS rs2 FROM staged
)
SELECT np AS n_pos, nn AS n_neg,
       round(CAST(rs2 - np * (np + 1) AS DOUBLE) / (2.0 * np * nn), 9) AS auc,
       round(2.0 * (CAST(rs2 - np * (np + 1) AS DOUBLE) / (2.0 * np * nn))
             - 1.0, 9) AS gini_ml
FROM m CROSS JOIN tot
"""

register(events_purchase_auc, EVENTS_AUC_SQL)


def events_purchase_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gains / lift deciles of event value against the
    purchase label (`operators/stats.py cumulative_gains`): descending
    exact NTILE(10) via the negated-score global index (no
    single-partition sort over data; the cumulative window runs on the
    10-row summary only). "Top value-decile captures X% of purchases at
    Y× random" — the screening-efficiency read of the same score the
    AUC query grades."""
    from onetl_spark.operators.stats import cumulative_gains

    ensure_views(spark, sf_dir)
    ev = spark.table("events").select(
        "value",
        "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("is_purchase"),
    )
    return cumulative_gains(
        ev, "value", "is_purchase", tiebreak_cols=("event_id",), n_buckets=10
    )


EVENTS_GAINS_SQL = """
WITH s AS (
  SELECT CAST(value AS DOUBLE) AS v, event_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
), t AS (
  SELECT y, NTILE(10) OVER (ORDER BY -v, event_id) AS bucket FROM s
), b AS (
  SELECT bucket, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos
  FROM t GROUP BY bucket
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(n_pos) AS BIGINT) AS pt FROM b
)
SELECT bucket, n, n_pos,
       round(CAST(SUM(n_pos) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS DOUBLE)
             / NULLIF(CAST(pt AS DOUBLE), 0), 9) AS cum_pos_share,
       round((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
             / NULLIF(CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE), 0), 9) AS lift
FROM b CROSS JOIN tot
ORDER BY bucket
"""

register(events_purchase_gains, EVENTS_GAINS_SQL)


def user_spend_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of per-user total spend at decile resolution: users
    ranked ascending by spend (ties by user id) via the DISTRIBUTED
    global row index — no single-partition sort — then each decile's
    population and cumulative-spend share. The curve behind the Gini
    number (`user_value_gini`): "the bottom 50% of users carry X% of
    revenue". Spend in integer micro-units so the shares are exact
    rationals until the final division."""
    from onetl_spark.operators.ranking import global_row_index

    ensure_views(spark, sf_dir)
    per_user = (
        spark.table("events")
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            (F.sum(F.col("value").cast("decimal(38,6)")) * 1000000)
            .cast("long")
            .alias("micro")
        )
    )
    ranked = global_row_index(
        per_user, "micro", tiebreak_cols=("user_id",), index_col="rk"
    )
    tot = ranked.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("micro").alias("_s")
    )
    bucketed = ranked.crossJoin(F.broadcast(tot)).select(
        F.least(
            F.lit(9), (((F.col("rk") - 1) * 10) / F.col("_n")).cast("int")
        ).alias("decile"),
        "micro",
        "_s",
    )
    out = (
        bucketed.groupBy("decile", "_s")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("micro").alias("_dm"),
        )
    )
    from pyspark.sql import Window as W

    cum = F.sum("_dm").over(
        W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    )
    return out.select(
        "decile",
        "n_users",
        F.round(F.col("_dm").cast("double") / F.col("_s"), 9).alias("spend_share"),
        F.round(cum.cast("double") / F.col("_s"), 9).alias("cum_share"),
    ).orderBy("decile")


LORENZ_SQL = """
WITH pu AS (
  SELECT user_id,
         CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS micro
  FROM events WHERE value IS NOT NULL GROUP BY user_id
), ranked AS (
  SELECT micro, ROW_NUMBER() OVER (ORDER BY micro, user_id) AS rk FROM pu
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(micro) AS BIGINT) AS s FROM ranked),
b AS (
  SELECT LEAST(9, CAST(floor(CAST((rk - 1) * 10 AS DOUBLE) / tot.n) AS INTEGER)) AS decile,
         micro, tot.s
  FROM ranked CROSS JOIN tot
), g AS (
  SELECT decile, s, CAST(COUNT(*) AS BIGINT) AS n_users, CAST(SUM(micro) AS BIGINT) AS dm
  FROM b GROUP BY decile, s
)
SELECT CAST(decile AS INTEGER) AS decile, n_users,
       round(CAST(dm AS DOUBLE) / s, 9) AS spend_share,
       round(CAST(SUM(dm) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS DOUBLE) / s, 9) AS cum_share
FROM g ORDER BY decile
"""

register(user_spend_lorenz, LORENZ_SQL)


def events_type_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Kruskal–Wallis H of event value across event types
    (`operators/stats.py kruskal_wallis`): the k-group rank test that
    generalizes the Mann–Whitney drift pair — same bucketed distributed
    rank scaffold, exact integer rank moments."""
    from onetl_spark.operators.stats import kruskal_wallis

    ensure_views(spark, sf_dir)
    return kruskal_wallis(spark.table("events"), "value", "event_type")


EVENTS_KW_SQL = """
WITH base AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
), gc AS (
  SELECT v, g, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY v, g
), c AS (
  SELECT v, CAST(SUM(c) AS BIGINT) AS nv FROM gc GROUP BY v
), tot AS (SELECT CAST(SUM(nv) AS BIGINT) AS tn FROM c),
ranked AS (
  SELECT v, nv,
         2 * (SUM(nv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - nv) + nv + 1 AS r2
  FROM c
), s2 AS (
  SELECT CAST(SUM(nv * r2 * r2) AS BIGINT) AS s2 FROM ranked
), pg AS (
  SELECT gc.g, CAST(SUM(gc.c) AS BIGINT) AS ng,
         CAST(SUM(gc.c * ranked.r2) AS BIGINT) AS s1g
  FROM gc JOIN ranked ON gc.v = ranked.v
  GROUP BY gc.g
), terms AS (
  SELECT CAST(round(CAST(ng AS DOUBLE)
              * ((CAST(s1g AS DOUBLE) / (2.0 * CAST(ng AS DOUBLE))
                  - (CAST(tot.tn AS DOUBLE) + 1.0) / 2.0)
                 * (CAST(s1g AS DOUBLE) / (2.0 * CAST(ng AS DOUBLE))
                    - (CAST(tot.tn AS DOUBLE) + 1.0) / 2.0)), 9)
         AS DECIMAL(38,9)) AS t
  FROM pg CROSS JOIN tot
), agg AS (
  SELECT CAST(SUM(t) AS DECIMAL(38,9)) AS num, CAST(COUNT(*) AS BIGINT) AS k FROM terms
)
SELECT tot.tn AS n_total, agg.k AS k_groups,
       CASE WHEN CAST(s2.s2 AS DOUBLE) / 4.0
                 - CAST(tot.tn AS DOUBLE)
                   * ((CAST(tot.tn AS DOUBLE) + 1.0) / 2.0)
                   * ((CAST(tot.tn AS DOUBLE) + 1.0) / 2.0) <= 0 THEN NULL
            ELSE round(((CAST(tot.tn AS DOUBLE) - 1.0) * CAST(agg.num AS DOUBLE))
                       / (CAST(s2.s2 AS DOUBLE) / 4.0
                          - CAST(tot.tn AS DOUBLE)
                            * ((CAST(tot.tn AS DOUBLE) + 1.0) / 2.0)
                            * ((CAST(tot.tn AS DOUBLE) + 1.0) / 2.0)), 9)
       END AS h_stat
FROM agg CROSS JOIN s2 CROSS JOIN tot
"""

register(events_type_kruskal_wallis, EVENTS_KW_SQL)


def events_value_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta effect size of the month-half value shift
    (`operators/stats.py cliffs_delta`): the magnitude companion to
    events_value_mannwhitney — derived exactly from the same tie-aware
    U, with the standard negligible/small/medium/large bands."""
    from onetl_spark.operators.stats import cliffs_delta

    ensure_views(spark, sf_dir)
    ev = spark.table("events")
    split = F.lit("2024-01-16").cast("timestamp")
    return cliffs_delta(
        ev.filter(F.col("ts") < split), ev.filter(F.col("ts") >= split), "value"
    )


EVENTS_CLIFFS_SQL = """
WITH a AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
), b AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
), c AS (
  SELECT COALESCE(ac.v, bc.v) AS v,
         COALESCE(ac.na, 0) AS na, COALESCE(bc.nb, 0) AS nb
  FROM (SELECT v, COUNT(*) AS na FROM a GROUP BY v) ac
  FULL OUTER JOIN (SELECT v, COUNT(*) AS nb FROM b GROUP BY v) bc
    ON ac.v = bc.v
), tot AS (
  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb FROM c
), staged AS (
  SELECT na, na + nb AS nv,
         SUM(na + nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - (na + nb) AS before
  FROM c
), m AS (
  SELECT CAST(SUM(na * (2 * before + nv + 1)) AS BIGINT) AS rs2 FROM staged
), d AS (
  SELECT tot.ta AS n_ref, tot.tb AS n_cur,
         round((2.0 * round(CAST(rs2 AS DOUBLE) / 2.0
                      - CAST(tot.ta AS DOUBLE) * (CAST(tot.ta AS DOUBLE) + 1) / 2.0, 9)
                - CAST(tot.ta AS DOUBLE) * CAST(tot.tb AS DOUBLE))
               / (CAST(tot.ta AS DOUBLE) * CAST(tot.tb AS DOUBLE)), 9) AS cliffs_delta
  FROM m CROSS JOIN tot
)
SELECT n_ref, n_cur, cliffs_delta,
       CASE WHEN abs(cliffs_delta) < 0.147 THEN 'negligible'
            WHEN abs(cliffs_delta) < 0.33 THEN 'small'
            WHEN abs(cliffs_delta) < 0.474 THEN 'medium'
            ELSE 'large' END AS magnitude
FROM d
"""

register(events_value_cliffs_delta, EVENTS_CLIFFS_SQL)


def events_value_hellinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bhattacharyya / Hellinger / total-variation distances between the
    two month-halves of event value over the SAME pinned bins as
    events_value_psi (`operators/quality.py distribution_distance`):
    the bounded-metric drift trio that stays in [0,1] where PSI's log
    terms explode on near-empty bins."""
    from onetl_spark.operators.quality import distribution_distance

    ensure_views(spark, sf_dir)
    ev = spark.table("events").filter(F.col("value").isNotNull())
    ref = ev.filter(F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp"))
    cur = ev.filter(F.col("ts") >= F.lit(_PSI_SPLIT).cast("timestamp"))
    return distribution_distance(ref, cur, "value", bounds=_PSI_BOUNDS)


def _hellinger_sql() -> str:
    blist = "[" + ", ".join(f"{x!r}" for x in _PSI_BOUNDS) + "]"
    return f"""
WITH ev AS (
  SELECT CAST(value AS DOUBLE) AS v,
         CAST(ts AS TIMESTAMP) < TIMESTAMP '{_PSI_SPLIT}' AS is_ref
  FROM events WHERE value IS NOT NULL
), bk AS (
  SELECT len(list_filter({blist}, x -> v > x)) AS bucket, is_ref FROM ev
), cnt AS (
  SELECT bucket,
         SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS nr,
         SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS nc
  FROM bk GROUP BY bucket
), tot AS (
  SELECT CAST(SUM(nr) AS BIGINT) AS tr, CAST(SUM(nc) AS BIGINT) AS tc FROM cnt
), m AS (
  SELECT CAST(SUM(CAST(round(sqrt((CAST(nr AS DOUBLE) / CAST(tot.tr AS DOUBLE))
                                   * (CAST(nc AS DOUBLE) / CAST(tot.tc AS DOUBLE))), 9)
                        AS DECIMAL(38,9))) AS DOUBLE) AS bc,
         CAST(SUM(CAST(round(abs(CAST(nr AS DOUBLE) / CAST(tot.tr AS DOUBLE)
                                 - CAST(nc AS DOUBLE) / CAST(tot.tc AS DOUBLE)), 9)
                        AS DECIMAL(38,9))) AS DOUBLE) AS tv
  FROM cnt CROSS JOIN tot
)
SELECT tot.tr AS n_ref, tot.tc AS n_cur,
       round(bc, 9) AS bhattacharyya,
       round(sqrt(CASE WHEN 1.0 - bc < 0 THEN 0.0 ELSE 1.0 - bc END), 9) AS hellinger,
       round(tv / 2.0, 9) AS tvd
FROM m CROSS JOIN tot
"""


register(events_value_hellinger, _hellinger_sql())


def events_purchase_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact average precision of event value as a purchase predictor
    (`operators/stats.py pr_auc`): the rare-positive companion to
    events_purchase_auc — same bucketed rank scaffold, descending
    threshold sweep with ties grouped."""
    from onetl_spark.operators.stats import pr_auc

    ensure_views(spark, sf_dir)
    ev = spark.table("events").select(
        "value",
        (F.col("event_type") == "purchase").cast("int").alias("is_purchase"),
    )
    return pr_auc(ev, "value", "is_purchase")


EVENTS_PR_AUC_SQL = """
WITH s AS (
  SELECT CAST(value AS DOUBLE) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
), c AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS nv, CAST(SUM(y) AS BIGINT) AS na
  FROM s GROUP BY v
), tot AS (
  SELECT CAST(SUM(na) AS BIGINT) AS np, CAST(SUM(nv) AS BIGINT) AS n FROM c
), staged AS (
  SELECT na, nv,
         SUM(nv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cv,
         SUM(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS ca
  FROM c
), m AS (
  SELECT CAST(SUM(CAST(round((CAST(na AS DOUBLE) / CAST(tot.np AS DOUBLE))
                              * (CAST(tot.np - ca + na AS DOUBLE)
                                 / CAST(tot.n - cv + nv AS DOUBLE)), 9)
                        AS DECIMAL(38,9))) AS DOUBLE) AS ap
  FROM staged CROSS JOIN tot
)
SELECT tot.np AS n_pos, tot.n - tot.np AS n_neg,
       round(ap, 9) AS pr_auc,
       round(CAST(tot.np AS DOUBLE) / CAST(tot.n AS DOUBLE), 9) AS prevalence
FROM m CROSS JOIN tot
"""

register(events_purchase_pr_auc, EVENTS_PR_AUC_SQL)


def events_purchase_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + Brier/ECE decomposition of a bucket-rate
    purchase model trained on the first month-half and scored on the
    second (`operators/quality.py calibration_report`), over the same
    pinned value bins as events_value_psi — the calibration audit next
    to the discrimination metrics (ROC/PR AUC)."""
    from onetl_spark.operators.quality import calibration_report

    ensure_views(spark, sf_dir)
    ev = spark.table("events").select(
        "ts",
        "value",
        (F.col("event_type") == "purchase").cast("int").alias("is_purchase"),
    )
    split = F.lit(_PSI_SPLIT).cast("timestamp")
    return calibration_report(
        ev.filter(F.col("ts") < split),
        ev.filter(F.col("ts") >= split),
        "value",
        "is_purchase",
        bounds=_PSI_BOUNDS,
    )


def _calibration_sql() -> str:
    blist = "[" + ", ".join(f"{x!r}" for x in _PSI_BOUNDS) + "]"
    return f"""
WITH ev AS (
  SELECT CAST(value AS DOUBLE) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         CAST(ts AS TIMESTAMP) < TIMESTAMP '{_PSI_SPLIT}' AS is_ref
  FROM events WHERE value IS NOT NULL
), bk AS (
  SELECT CAST(len(list_filter({blist}, x -> v > x)) AS INTEGER) AS bucket,
         y, is_ref
  FROM ev
), ref AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS nr, CAST(SUM(y) AS BIGINT) AS pr
  FROM bk WHERE is_ref GROUP BY bucket
), cur AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS nc, CAST(SUM(y) AS BIGINT) AS pc
  FROM bk WHERE NOT is_ref GROUP BY bucket
), tot AS (SELECT CAST(SUM(nc) AS DOUBLE) AS tn FROM cur)
SELECT cur.bucket, cur.nc AS n_cur,
       round(CAST(ref.pr AS DOUBLE) / CAST(ref.nr AS DOUBLE), 9) AS predicted,
       round(CAST(cur.pc AS DOUBLE) / CAST(cur.nc AS DOUBLE), 9) AS observed,
       round(CAST(cur.pc AS DOUBLE) / CAST(cur.nc AS DOUBLE)
             - CAST(ref.pr AS DOUBLE) / CAST(ref.nr AS DOUBLE), 9) AS gap,
       round(CAST(cur.nc AS DOUBLE) / tot.tn
             * abs(CAST(cur.pc AS DOUBLE) / CAST(cur.nc AS DOUBLE)
                   - CAST(ref.pr AS DOUBLE) / CAST(ref.nr AS DOUBLE)), 9) AS ece_contrib,
       round((CAST(cur.nc AS DOUBLE)
                * (CAST(ref.pr AS DOUBLE) / CAST(ref.nr AS DOUBLE))
                * (CAST(ref.pr AS DOUBLE) / CAST(ref.nr AS DOUBLE))
              - 2.0 * (CAST(ref.pr AS DOUBLE) / CAST(ref.nr AS DOUBLE))
                    * CAST(cur.pc AS DOUBLE)
              + CAST(cur.pc AS DOUBLE)) / tot.tn, 9) AS brier_contrib
FROM cur LEFT JOIN ref USING (bucket) CROSS JOIN tot
ORDER BY bucket
"""


register(events_purchase_calibration, _calibration_sql())


def events_purchase_info_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4.5-style information-gain ranking of bounded features (market
    segment, hour bucket, pinned value bucket, day-of-week) against the
    purchase label (`operators/stats.py info_gain`): WHICH attribute
    predicts purchases — the feature-selection step before any model,
    with gain ratio guarding against cardinality bias."""
    from onetl_spark.operators.stats import info_gain

    ensure_views(spark, sf_dir)
    from onetl_spark.operators.ranking import ascending_bucket

    ev = spark.table("events").join(
        spark.table("customer").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        ),
        "user_id",
    )
    feat = ev.select(
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.hour("ts") / F.lit(6)).cast("string").alias("hour_bucket"),
        F.when(
            F.col("value").isNotNull(),
            ascending_bucket(_PSI_BOUNDS, F.col("value").cast("double")),
        )
        .cast("string")
        .alias("value_bucket"),
        (F.dayofweek("ts") - F.lit(1)).cast("string").alias("dow"),
        (F.col("event_type") == "purchase").cast("int").alias("is_purchase"),
    )
    return info_gain(
        feat, "is_purchase", ("segment", "hour_bucket", "value_bucket", "dow")
    )


def _info_gain_sql() -> str:
    blist = "[" + ", ".join(f"{x!r}" for x in _PSI_BOUNDS) + "]"
    feats = {
        "segment": "CAST(c.c_mktsegment AS VARCHAR)",
        "hour_bucket": "CAST(CAST(floor(hour(CAST(e.ts AS TIMESTAMP)) / 6) AS BIGINT) AS VARCHAR)",
        "value_bucket": (
            "CASE WHEN e.value IS NULL THEN NULL ELSE "
            f"CAST(len(list_filter({blist}, x -> CAST(e.value AS DOUBLE) > x)) AS VARCHAR) END"
        ),
        "dow": "CAST(dayofweek(CAST(e.ts AS TIMESTAMP)) AS VARCHAR)",
    }
    be = (
        "(CASE WHEN {r} > 0 THEN -((CAST({r} AS DOUBLE) / CAST({n} AS DOUBLE))"
        " * ln(CAST({r} AS DOUBLE) / CAST({n} AS DOUBLE))) ELSE 0.0 END"
        " + CASE WHEN {n} - {r} > 0 THEN -((CAST({n} - {r} AS DOUBLE) / CAST({n} AS DOUBLE))"
        " * ln(CAST({n} - {r} AS DOUBLE) / CAST({n} AS DOUBLE))) ELSE 0.0 END)"
    )
    blocks = []
    for name, expr in feats.items():
        cond = (
            f"round((CAST(nv AS DOUBLE) / CAST(tot.n AS DOUBLE)) * "
            + be.format(r="rv", n="nv")
            + ", 9)"
        )
        hx = (
            "round(-((CAST(nv AS DOUBLE) / CAST(tot.n AS DOUBLE))"
            " * ln(CAST(nv AS DOUBLE) / CAST(tot.n AS DOUBLE))), 9)"
        )
        blocks.append(f"""
SELECT '{name}' AS feature,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       round({be.format(r='tot.r', n='tot.n')}, 9) AS entropy_y,
       round(CAST(SUM(CAST({cond} AS DECIMAL(38,9))) AS DOUBLE), 9) AS cond_entropy,
       round(round({be.format(r='tot.r', n='tot.n')}, 9)
             - round(CAST(SUM(CAST({cond} AS DECIMAL(38,9))) AS DOUBLE), 9), 9)
         AS info_gain,
       CASE WHEN round(CAST(SUM(CAST({hx} AS DECIMAL(38,9))) AS DOUBLE), 9) > 0 THEN
         round(round(round({be.format(r='tot.r', n='tot.n')}, 9)
                     - round(CAST(SUM(CAST({cond} AS DECIMAL(38,9))) AS DOUBLE), 9), 9)
               / round(CAST(SUM(CAST({hx} AS DECIMAL(38,9))) AS DOUBLE), 9), 9)
       END AS gain_ratio
FROM (
  SELECT COALESCE({expr}, '<null>') AS v,
         CAST(COUNT(*) AS BIGINT) AS nv,
         CAST(SUM(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS rv
  FROM events e JOIN customer c ON c.c_custkey = e.user_id
  GROUP BY 1
) cells CROSS JOIN tot
GROUP BY tot.n, tot.r
""")
    body = "\nUNION ALL\n".join(blocks)
    return f"""
WITH tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS r
  FROM events e JOIN customer c ON c.c_custkey = e.user_id
)
SELECT * FROM ({body}) u ORDER BY feature
"""


register(events_purchase_info_gain, _info_gain_sql())


def orders_priority_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test of the high-value-order rate across
    the ordered priority tiers 1-URGENT..5-LOW (`operators/stats.py
    cochran_armitage`): does value trend monotonically with declared
    priority — the dose-response question the omnibus chi-square can't
    ask."""
    from onetl_spark.operators.stats import cochran_armitage

    ensure_views(spark, sf_dir)
    o = spark.table("orders").select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("priority"),
        (F.col("o_totalprice") > 150000).cast("int").alias("is_high"),
    )
    return cochran_armitage(o, "priority", "is_high")


CA_TREND_SQL = """
WITH s AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS w,
         CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS y
  FROM orders
), cells AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS r
  FROM s GROUP BY w
), m AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(r) AS BIGINT) AS n_pos,
         CAST(SUM(w * n) AS DOUBLE) AS swn,
         CAST(SUM(w * r) AS DOUBLE) AS swr,
         CAST(SUM(w * w * n) AS DOUBLE) AS sw2n
  FROM cells
)
SELECT n, n_pos,
       round(swr - CAST(n_pos AS DOUBLE) * swn / CAST(n AS DOUBLE), 9) AS t_stat,
       CASE WHEN CAST(n_pos AS DOUBLE) * (CAST(n AS DOUBLE) - n_pos)
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
                 * (sw2n - swn * swn / CAST(n AS DOUBLE)) > 0 THEN
         round((swr - CAST(n_pos AS DOUBLE) * swn / CAST(n AS DOUBLE))
               / sqrt(CAST(n_pos AS DOUBLE) * (CAST(n AS DOUBLE) - n_pos)
                      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
                      * (sw2n - swn * swn / CAST(n AS DOUBLE))), 9)
       END AS z_score
FROM m
"""

register(orders_priority_trend, CA_TREND_SQL)


def order_to_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equal-frequency deciles of order→ship latency in days
    (`operators/ranking.py exact_ntile` over datediff(l_shipdate,
    o_orderdate)): the fulfillment-SLA distribution — one fact join +
    the distributed NTILE reconstruction, no single-partition sort."""
    from onetl_spark.operators.ranking import exact_ntile

    ensure_views(spark, sf_dir)
    j = (
        spark.table("lineitem")
        .join(
            spark.table("orders").select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("lat_days"),
            "l_orderkey",
            "l_linenumber",
        )
        .filter(F.col("lat_days").isNotNull())
    )
    # exact_ntile's global-index core makes 3 passes over its input
    # (quantile probe, bucket counts, bucket window); materialize the
    # narrow (3-column) join output once so the fact⋈orders join does not
    # run 3× (guide §2.4 / the "decide with small rows" rule of §8)
    j = j.localCheckpoint(eager=False)
    t = exact_ntile(j, 10, "lat_days", ("l_orderkey", "l_linenumber"), tile_col="decile")
    return (
        t.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("lat_days").alias("lo_days"),
            F.max("lat_days").alias("hi_days"),
            F.round(
                F.sum(F.col("lat_days").cast("decimal(38,0)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                9,
            ).alias("mean_days"),
        )
        .orderBy("decile")
    )


SHIP_LATENCY_SQL = """
SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
       MIN(lat_days) AS lo_days, MAX(lat_days) AS hi_days,
       round(CAST(SUM(CAST(lat_days AS BIGINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 9) AS mean_days
FROM (
  SELECT lat_days, NTILE(10) OVER (ORDER BY lat_days, l_orderkey, l_linenumber)
           AS decile
  FROM (
    SELECT CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE) AS lat_days,
           l.l_orderkey, l.l_linenumber
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  ) WHERE lat_days IS NOT NULL
)
GROUP BY decile ORDER BY decile
"""

register(order_to_ship_latency, SHIP_LATENCY_SQL)


def priority_region_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted (Haberman) standardized residuals of the order-priority ×
    customer-region contingency: WHICH cells drive a significant
    chi-square — the cell-level diagnostic the omnibus statistic hides.
    ``(o − e)/sqrt(e(1−r/N)(1−c/N))`` per cell from exact integer
    marginals; |residual| > 2 flags the deviating cells. One bounded
    5×5 aggregate after the dimension joins (region via nation,
    broadcast-sized)."""
    ensure_views(spark, sf_dir)
    j = (
        spark.table("orders")
        .join(
            spark.table("customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                spark.table("nation").select("n_nationkey", "n_regionkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(spark.table("region").select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("o_orderpriority").alias("priority"), F.col("r_name").alias("region"))
    )
    cells = j.groupBy("priority", "region").agg(F.count(F.lit(1)).alias("o"))
    cells = cells.localCheckpoint(eager=False)
    rm = cells.groupBy("priority").agg(F.sum("o").alias("_r"))
    cm = cells.groupBy("region").agg(F.sum("o").alias("_c"))
    nn = cells.agg(F.sum("o").alias("_n"))
    t = (
        cells.join(F.broadcast(rm), "priority")
        .join(F.broadcast(cm), "region")
        .crossJoin(F.broadcast(nn))
    )
    nd = F.col("_n").cast("double")
    e = F.col("_r").cast("double") * F.col("_c").cast("double") / nd
    adj_den = F.sqrt(
        e
        * (F.lit(1.0) - F.col("_r").cast("double") / nd)
        * (F.lit(1.0) - F.col("_c").cast("double") / nd)
    )
    adj = F.when(adj_den > 0, F.round((F.col("o").cast("double") - e) / adj_den, 6))
    return t.select(
        "priority",
        "region",
        F.col("o").cast("long").alias("observed"),
        F.round(e, 6).alias("expected"),
        adj.alias("adj_residual"),
    ).orderBy("priority", "region")


PRIORITY_REGION_RESID_SQL = """
WITH j AS (
  SELECT o.o_orderpriority AS priority, r.r_name AS region
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
), cells AS (
  SELECT priority, region, CAST(COUNT(*) AS BIGINT) AS o
  FROM j GROUP BY priority, region
), rm AS (SELECT priority, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY priority),
cm AS (SELECT region, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY region),
nn AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells)
SELECT cells.priority, cells.region, cells.o AS observed,
       round(CAST(rm.r AS DOUBLE) * CAST(cm.c AS DOUBLE) / CAST(nn.n AS DOUBLE), 6)
         AS expected,
       CASE WHEN sqrt(CAST(rm.r AS DOUBLE) * CAST(cm.c AS DOUBLE) / CAST(nn.n AS DOUBLE)
                      * (1.0 - CAST(rm.r AS DOUBLE) / CAST(nn.n AS DOUBLE))
                      * (1.0 - CAST(cm.c AS DOUBLE) / CAST(nn.n AS DOUBLE))) > 0 THEN
         round((CAST(cells.o AS DOUBLE)
                - CAST(rm.r AS DOUBLE) * CAST(cm.c AS DOUBLE) / CAST(nn.n AS DOUBLE))
               / sqrt(CAST(rm.r AS DOUBLE) * CAST(cm.c AS DOUBLE) / CAST(nn.n AS DOUBLE)
                      * (1.0 - CAST(rm.r AS DOUBLE) / CAST(nn.n AS DOUBLE))
                      * (1.0 - CAST(cm.c AS DOUBLE) / CAST(nn.n AS DOUBLE))), 6)
       END AS adj_residual
FROM cells JOIN rm USING (priority) JOIN cm USING (region) CROSS JOIN nn
ORDER BY priority, region
"""

register(priority_region_residuals, PRIORITY_REGION_RESID_SQL)


_WILSON_Z = 1.959963984540054


def purchase_rate_by_value_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned response curve: purchase rate per PINNED value bucket with
    95% Wilson score intervals — the partial-dependence view ("does
    purchase propensity rise with event value?") that turns the
    info-gain ranking into an inspectable curve, with small-bin-honest
    CIs. One scan + one 9-row aggregate; exact integer numerators, one
    pinned double expression per bin."""
    from onetl_spark.operators.ranking import ascending_bucket

    ensure_views(spark, sf_dir)
    z = _WILSON_Z
    g = (
        spark.table("events")
        .filter(F.col("value").isNotNull())
        .select(
            ascending_bucket(_PSI_BOUNDS, F.col("value").cast("double"))
            .cast("int")
            .alias("bucket"),
            (F.col("event_type") == "purchase").cast("long").alias("_y"),
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_y").alias("successes"))
    )
    p = F.col("successes").cast("double") / F.col("n")
    nn = F.col("n").cast("double")
    denom = F.lit(1.0) + F.lit(z * z) / nn
    center = (p + F.lit(z * z) / (F.lit(2.0) * nn)) / denom
    half = (
        F.lit(z)
        * F.sqrt(p * (F.lit(1.0) - p) / nn + F.lit(z * z) / (F.lit(4.0) * nn * nn))
        / denom
    )
    return g.select(
        "bucket",
        "n",
        "successes",
        F.round(p, 9).alias("rate"),
        F.round(center - half, 9).alias("wilson_low"),
        F.round(center + half, 9).alias("wilson_high"),
    ).orderBy("bucket")


def _rate_curve_sql() -> str:
    blist = "[" + ", ".join(f"{x!r}" for x in _PSI_BOUNDS) + "]"
    z = repr(_WILSON_Z)
    p = "(CAST(successes AS DOUBLE) / n)"
    denom = f"(1.0 + {z} * {z} / n)"
    half = (
        f"{z} * sqrt({p} * (1.0 - {p}) / n + {z} * {z} / (4.0 * n * n)) / {denom}"
    )
    center = f"({p} + {z} * {z} / (2.0 * n)) / {denom}"
    return f"""
WITH b AS (
  SELECT CAST(len(list_filter({blist}, x -> CAST(value AS DOUBLE) > x)) AS INTEGER)
           AS bucket,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
), g AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS successes
  FROM b GROUP BY bucket
)
SELECT bucket, n, successes,
       round({p}, 9) AS rate,
       round({center} - {half}, 9) AS wilson_low,
       round({center} + {half}, 9) AS wilson_high
FROM g ORDER BY bucket
"""


register(purchase_rate_by_value_bin, _rate_curve_sql())


def events_weekly_psi_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week PSI trajectory of event value against week 0's
    distribution, over the pinned bins — the drift MONITOR TIME SERIES
    (one PSI total per week) that turns the single-split
    events_value_psi into an alerting curve. ONE scan builds all
    (week, bucket) counts; the epsilon-floored log terms are
    O(1)-scale, round-9 decimal-accumulated per week."""
    from onetl_spark.operators.ranking import ascending_bucket

    ensure_views(spark, sf_dir)
    eps = 1e-6
    b = (
        spark.table("events")
        .filter(F.col("value").isNotNull())
        .select(
            F.floor(
                F.datediff(
                    F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
                )
                / F.lit(7)
            )
            .cast("int")
            .alias("week"),
            ascending_bucket(_PSI_BOUNDS, F.col("value").cast("double"))
            .cast("int")
            .alias("bucket"),
        )
        .groupBy("week", "bucket")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=False)
    )
    wk_tot = b.groupBy("week").agg(F.sum("_c").alias("_wt"))
    ref = (
        b.filter(F.col("week") == 0)
        .select("bucket", F.col("_c").alias("_rc"))
    )
    ref_tot = ref.agg(F.sum("_rc").alias("_rt"))
    # every (week, bucket-of-ref ∪ bucket-of-week) pair needs a row:
    # outer join week buckets against ref buckets on the bucket key
    weeks = b.select("week").distinct()
    grid = weeks.crossJoin(
        F.broadcast(
            b.select("bucket").distinct().unionByName(ref.select("bucket")).distinct()
        )
    )
    j = (
        grid.join(b, ["week", "bucket"], "left")
        .join(F.broadcast(ref), "bucket", "left")
        .join(F.broadcast(wk_tot), "week")
        .crossJoin(F.broadcast(ref_tot))
        .select(
            "week",
            F.coalesce("_c", F.lit(0)).alias("_c"),
            F.coalesce("_rc", F.lit(0)).alias("_rc"),
            "_wt",
            "_rt",
        )
    )
    pc = F.col("_c").cast("double") / F.col("_wt").cast("double")
    pr = F.col("_rc").cast("double") / F.col("_rt").cast("double")
    term = (pc - pr) * F.log(
        F.greatest(pc, F.lit(eps)) / F.greatest(pr, F.lit(eps))
    )
    out = j.groupBy("week").agg(
        F.max("_wt").cast("long").alias("n_week"),
        F.sum(F.round(term, 9).cast("decimal(38,9)")).cast("double").alias("_psi"),
    )
    return out.select(
        "week", "n_week", F.round(F.col("_psi"), 9).alias("psi")
    ).orderBy("week")


def _weekly_psi_sql() -> str:
    blist = "[" + ", ".join(f"{x!r}" for x in _PSI_BOUNDS) + "]"
    return f"""
WITH b AS (
  SELECT CAST(floor((CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '2024-01-01') / 7)
              AS INTEGER) AS week,
         CAST(len(list_filter({blist}, x -> CAST(value AS DOUBLE) > x)) AS INTEGER)
           AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), wk_tot AS (SELECT week, CAST(SUM(c) AS BIGINT) AS wt FROM b GROUP BY week),
ref AS (SELECT bucket, c AS rc FROM b WHERE week = 0),
ref_tot AS (SELECT CAST(SUM(rc) AS BIGINT) AS rt FROM ref),
buckets AS (SELECT DISTINCT bucket FROM b),
grid AS (SELECT w.week, k.bucket FROM (SELECT DISTINCT week FROM b) w CROSS JOIN buckets k),
j AS (
  SELECT grid.week,
         COALESCE(b.c, 0) AS c, COALESCE(ref.rc, 0) AS rc,
         wk_tot.wt, ref_tot.rt
  FROM grid
  LEFT JOIN b USING (week, bucket)
  LEFT JOIN ref USING (bucket)
  JOIN wk_tot USING (week)
  CROSS JOIN ref_tot
)
SELECT week, MAX(wt) AS n_week,
       round(CAST(SUM(CAST(round((CAST(c AS DOUBLE) / CAST(wt AS DOUBLE)
                                  - CAST(rc AS DOUBLE) / CAST(rt AS DOUBLE))
                                 * ln(greatest(CAST(c AS DOUBLE) / CAST(wt AS DOUBLE),
                                               1e-06)
                                      / greatest(CAST(rc AS DOUBLE) / CAST(rt AS DOUBLE),
                                                 1e-06)), 9)
                           AS DECIMAL(38,9))) AS DOUBLE), 9) AS psi
FROM j GROUP BY week ORDER BY week
"""


register(events_weekly_psi_trajectory, _weekly_psi_sql())


_FK_CANDIDATES = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("lineitem", "l_orderkey", "part", "p_partkey"),
)


def fk_candidate_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key discovery profiling (the metadata-inference step a
    catalog runs before anyone writes a join): for each candidate
    (child.column → parent.key) pair, the DISTINCT-value containment
    ratio |child ∩ parent| / |child distinct|, null rate, and exact
    distinct counts — containment ≈ 1.0 flags a real FK, the
    deliberately-false candidate (lineitem.l_orderkey → part) shows a
    partial ratio. Each pair costs two distinct-aggregates and one
    distinct-key join (never a row-level join); pairs union into one
    result. Scale: distinct relations are key-sized, not row-sized."""
    ensure_views(spark, sf_dir)
    out = None
    for child_t, child_c, parent_t, parent_c in _FK_CANDIDATES:
        child = spark.table(child_t).select(F.col(child_c).alias("_k"))
        parent = (
            spark.table(parent_t).select(F.col(parent_c).alias("_k")).distinct()
        )
        stats = child.agg(
            F.count(F.lit(1)).alias("_n_rows"),
            F.sum(F.when(F.col("_k").isNull(), 1).otherwise(0)).alias("_n_null"),
        )
        cd = child.filter(F.col("_k").isNotNull()).distinct()
        inter = cd.join(parent, "_k").agg(F.count(F.lit(1)).alias("_n_inter"))
        dcounts = cd.agg(F.count(F.lit(1)).alias("_n_child_distinct"))
        row = (
            stats.crossJoin(F.broadcast(inter))
            .crossJoin(F.broadcast(dcounts))
            .select(
                F.lit(f"{child_t}.{child_c}").alias("child"),
                F.lit(f"{parent_t}.{parent_c}").alias("parent"),
                F.col("_n_rows").cast("long").alias("n_rows"),
                F.col("_n_null").cast("long").alias("n_null"),
                F.col("_n_child_distinct").cast("long").alias("n_child_distinct"),
                F.col("_n_inter").cast("long").alias("n_contained"),
                F.round(
                    F.col("_n_inter").cast("double")
                    / F.col("_n_child_distinct").cast("double"),
                    9,
                ).alias("containment"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("child", "parent")


def _fk_profile_sql() -> str:
    parts = []
    for child_t, child_c, parent_t, parent_c in _FK_CANDIDATES:
        parts.append(f"""
SELECT '{child_t}.{child_c}' AS child, '{parent_t}.{parent_c}' AS parent,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {child_t}) AS n_rows,
       (SELECT CAST(SUM(CASE WHEN {child_c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM {child_t}) AS n_null,
       (SELECT CAST(COUNT(DISTINCT {child_c}) AS BIGINT) FROM {child_t}
        WHERE {child_c} IS NOT NULL) AS n_child_distinct,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM
          (SELECT DISTINCT {child_c} AS k FROM {child_t}
           WHERE {child_c} IS NOT NULL) c
          JOIN (SELECT DISTINCT {parent_c} AS k FROM {parent_t}) p USING (k))
         AS n_contained,
       round(
         (SELECT CAST(COUNT(*) AS DOUBLE) FROM
            (SELECT DISTINCT {child_c} AS k FROM {child_t}
             WHERE {child_c} IS NOT NULL) c
            JOIN (SELECT DISTINCT {parent_c} AS k FROM {parent_t}) p USING (k))
         / (SELECT CAST(COUNT(DISTINCT {child_c}) AS DOUBLE) FROM {child_t}
            WHERE {child_c} IS NOT NULL), 9) AS containment""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY child, parent"


register(fk_candidate_profile, _fk_profile_sql())


def surrogate_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash surrogate-key generation audit (the data-vault/Kimball hash
    key discipline): business key (l_orderkey, l_linenumber) → md5-based
    64-bit surrogate; the audit proves injectivity ON THIS CORPUS by
    comparing distinct business keys against distinct surrogates, and
    surfaces GRAIN violations as a bonus (n_rows > n_business_keys means
    the declared business key is not unique — true of this synthetic
    lineitem) — the check every warehouse load runs before trusting
    hash keys at 100 TB (two distinct-aggregates, no join)."""
    ensure_views(spark, sf_dir)
    from onetl_spark.llm.text import md5_long

    li = spark.table("lineitem").select(
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("|"),
            F.col("l_linenumber").cast("string"),
        ).alias("_bk")
    )
    keyed = li.select("_bk", md5_long(F.col("_bk")).alias("_sk"))
    return keyed.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("_bk").cast("long").alias("n_business_keys"),
        F.countDistinct("_sk").cast("long").alias("n_surrogates"),
        (F.countDistinct("_bk") - F.countDistinct("_sk"))
        .cast("long")
        .alias("n_collisions"),
    )


SURROGATE_SQL = """
WITH keyed AS (
  SELECT CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)
           AS bk,
         ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|' ||
                             CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT
           AS sk
  FROM lineitem
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT bk) AS BIGINT) AS n_business_keys,
       CAST(COUNT(DISTINCT sk) AS BIGINT) AS n_surrogates,
       CAST(COUNT(DISTINCT bk) - COUNT(DISTINCT sk) AS BIGINT) AS n_collisions
FROM keyed
"""

register(surrogate_key_audit, SURROGATE_SQL)


def events_value_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-Wasserstein drift on event value, first vs second half
    of the month (`operators/stats.py wasserstein_1`): the earth-mover
    companion to KS (sup gap) and PSI (pinned bins) — it integrates the
    full ECDF gap over the value axis, so a wide moderate shift scores
    higher than a narrow spike. Same stitched-bucket scaffold, no
    single-partition window."""
    from onetl_spark.operators.stats import wasserstein_1

    ensure_views(spark, sf_dir)
    ev = spark.table("events")
    split = F.lit("2024-01-16").cast("timestamp")
    return wasserstein_1(
        ev.filter(F.col("ts") < split), ev.filter(F.col("ts") >= split), "value"
    )


EVENTS_W1_SQL = """
WITH a AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
), b AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
), c AS (
  SELECT COALESCE(ac.v, bc.v) AS v,
         COALESCE(ac.na, 0) AS na, COALESCE(bc.nb, 0) AS nb
  FROM (SELECT v, COUNT(*) AS na FROM a GROUP BY v) ac
  FULL OUTER JOIN (SELECT v, COUNT(*) AS nb FROM b GROUP BY v) bc
    ON ac.v = bc.v
), tot AS (
  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb FROM c
), ecdf AS (
  SELECT v, na, nb,
         SUM(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         SUM(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
         LAG(v) OVER (ORDER BY v) AS lagv
  FROM c
), terms AS (
  SELECT CAST(round(
           abs(CAST(ca - na AS DOUBLE) / tot.ta - CAST(cb - nb AS DOUBLE) / tot.tb)
           * COALESCE(v - lagv, 0.0), 8) AS DECIMAL(38,8)) AS term
  FROM ecdf CROSS JOIN tot
)
SELECT (SELECT ta FROM tot) AS n_ref,
       (SELECT tb FROM tot) AS n_cur,
       round(CAST(SUM(term) AS DOUBLE), 8) AS w1_distance
FROM terms
"""

register(events_value_wasserstein, EVENTS_W1_SQL)


def order_linenumber_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap detection over a per-key line-number column — the
    CDC/ingest QA check that catches dropped records BEFORE they become
    silent undercounts: a complete order carries line numbers 1..max
    with no repeats, so per order ``missing = max − #distinct`` (when
    min = 1) and any duplicate or offset start is flagged separately.
    One grouped aggregate; the summary is a 1-row epilogue. At 100 TB
    this is the cheapest possible completeness audit (no joins, no
    windows)."""
    ensure_views(spark, sf_dir)
    per_order = spark.table("lineitem").groupBy("l_orderkey").agg(
        F.min("l_linenumber").alias("_mn"),
        F.max("l_linenumber").alias("_mx"),
        F.countDistinct("l_linenumber").alias("_nd"),
        F.count(F.lit(1)).alias("_n"),
    )
    flagged = per_order.select(
        (F.col("_mn") != 1).cast("int").alias("bad_start"),
        (F.col("_n") != F.col("_nd")).cast("int").alias("has_dupes"),
        F.when(F.col("_mn") == 1, F.col("_mx") - F.col("_nd"))
        .otherwise(0)
        .alias("n_missing"),
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("bad_start").cast("long").alias("n_bad_start"),
        F.sum("has_dupes").cast("long").alias("n_with_dupes"),
        F.sum((F.col("n_missing") > 0).cast("int")).cast("long").alias("n_with_gaps"),
        F.sum("n_missing").cast("long").alias("total_missing"),
    )


LINENUMBER_GAPS_SQL = """
WITH per_order AS (
  SELECT l_orderkey, MIN(l_linenumber) AS mn, MAX(l_linenumber) AS mx,
         COUNT(DISTINCT l_linenumber) AS nd, COUNT(*) AS n
  FROM lineitem GROUP BY l_orderkey
), flagged AS (
  SELECT CASE WHEN mn <> 1 THEN 1 ELSE 0 END AS bad_start,
         CASE WHEN n <> nd THEN 1 ELSE 0 END AS has_dupes,
         CASE WHEN mn = 1 THEN mx - nd ELSE 0 END AS n_missing
  FROM per_order
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(bad_start) AS BIGINT) AS n_bad_start,
       CAST(SUM(has_dupes) AS BIGINT) AS n_with_dupes,
       CAST(SUM(CASE WHEN n_missing > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_gaps,
       CAST(SUM(n_missing) AS BIGINT) AS total_missing
FROM flagged
"""

register(order_linenumber_gaps, LINENUMBER_GAPS_SQL)


def events_purchase_auc_delong(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of value-predicts-purchase with the DeLong standard
    error and 95% CI (`operators/stats.py auc_delong`) — the
    placement-variance inference the bare AUC lacks; mid-rank tie
    handling, stitched scaffold, 1-row epilogue."""
    from onetl_spark.operators.stats import auc_delong

    ensure_views(spark, sf_dir)
    ev = spark.table("events").select(
        "value",
        (F.col("event_type") == "purchase").cast("int").alias("is_purchase"),
    )
    return auc_delong(ev, "value", "is_purchase")


AUC_DELONG_SQL = """
WITH s AS (
  SELECT CAST(value AS DOUBLE) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
), c AS (
  SELECT v, SUM(y) AS np, SUM(1 - y) AS nn FROM s GROUP BY v
), tot AS (
  SELECT CAST(SUM(np) AS BIGINT) AS m, CAST(SUM(nn) AS BIGINT) AS n FROM c
), cum AS (
  SELECT v, np, nn,
         SUM(np) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cp,
         SUM(nn) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cn
  FROM c
), plc AS (
  SELECT np, nn,
         (CAST(cn AS DOUBLE) - 0.5 * CAST(nn AS DOUBLE)) / tot.n AS pp,
         (CAST(cp AS DOUBLE) - 0.5 * CAST(np AS DOUBLE)) / tot.m AS pn
  FROM cum CROSS JOIN tot
), agg AS (
  SELECT CAST(SUM(CAST(round(pp * np, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sp,
         CAST(SUM(CAST(round(pp * pp * np, 9) AS DECIMAL(38,9))) AS DOUBLE) AS spp,
         CAST(SUM(CAST(round(pn * nn, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sn,
         CAST(SUM(CAST(round((1 - pn) * (1 - pn) * nn, 9) AS DECIMAL(38,9)))
              AS DOUBLE) AS snn
  FROM plc
)
SELECT tot.m AS n_pos, tot.n AS n_neg,
       round(sp / tot.m, 9) AS auc,
       round(sqrt(greatest(
         (spp - sp * sp / tot.m) / (tot.m - 1) / tot.m
         + (snn - (tot.n - sn) * (tot.n - sn) / tot.n) / (tot.n - 1) / tot.n,
         0.0)), 9) AS se,
       round(sp / tot.m - 1.959963984540054 * sqrt(greatest(
         (spp - sp * sp / tot.m) / (tot.m - 1) / tot.m
         + (snn - (tot.n - sn) * (tot.n - sn) / tot.n) / (tot.n - 1) / tot.n,
         0.0)), 9) AS ci_lo,
       round(sp / tot.m + 1.959963984540054 * sqrt(greatest(
         (spp - sp * sp / tot.m) / (tot.m - 1) / tot.m
         + (snn - (tot.n - sn) * (tot.n - sn) / tot.n) / (tot.n - 1) / tot.n,
         0.0)), 9) AS ci_hi
FROM agg CROSS JOIN tot
"""

register(events_purchase_auc_delong, AUC_DELONG_SQL)


def events_value_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Squared energy distance (Székely-Rizzo) on event value, first vs
    second half of the month (`operators/stats.py energy_distance`):
    all three pairwise-expectation terms as ECDF integrals on the same
    segment grid as W1 — sensitivity to ANY distributional difference,
    zero pairwise joins."""
    from onetl_spark.operators.stats import energy_distance

    ensure_views(spark, sf_dir)
    ev = spark.table("events")
    split = F.lit("2024-01-16").cast("timestamp")
    return energy_distance(
        ev.filter(F.col("ts") < split), ev.filter(F.col("ts") >= split), "value"
    )


ENERGY_SQL = """
WITH a AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
), b AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
), c AS (
  SELECT COALESCE(ac.v, bc.v) AS v,
         COALESCE(ac.na, 0) AS na, COALESCE(bc.nb, 0) AS nb
  FROM (SELECT v, COUNT(*) AS na FROM a GROUP BY v) ac
  FULL OUTER JOIN (SELECT v, COUNT(*) AS nb FROM b GROUP BY v) bc
    ON ac.v = bc.v
), tot AS (
  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb FROM c
), grid AS (
  SELECT v, na, nb,
         CAST(SUM(na) OVER w - na AS DOUBLE) / tot.ta AS fa,
         CAST(SUM(nb) OVER w - nb AS DOUBLE) / tot.tb AS fb,
         COALESCE(v - LAG(v) OVER (ORDER BY v), 0.0) AS dv
  FROM c CROSS JOIN tot
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), agg AS (
  SELECT CAST(SUM(CAST(round((fa * (1 - fb) + fb * (1 - fa)) * dv, 8)
                       AS DECIMAL(38,8))) AS DOUBLE) AS e_xy,
         CAST(SUM(CAST(round(2 * fa * (1 - fa) * dv, 8)
                       AS DECIMAL(38,8))) AS DOUBLE) AS e_xx,
         CAST(SUM(CAST(round(2 * fb * (1 - fb) * dv, 8)
                       AS DECIMAL(38,8))) AS DOUBLE) AS e_yy
  FROM grid
)
SELECT tot.ta AS n_ref, tot.tb AS n_cur,
       round(e_xy, 8) AS e_between,
       round(e_xx, 8) AS e_within_ref,
       round(e_yy, 8) AS e_within_cur,
       round(2 * e_xy - e_xx - e_yy, 8) AS energy_d2,
       round(CASE WHEN e_xy > 0
                  THEN (2 * e_xy - e_xx - e_yy) / (2 * e_xy) END, 8)
         AS e_coefficient
FROM agg CROSS JOIN tot
"""

register(events_value_energy_distance, ENERGY_SQL)


def events_value_cvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises drift statistic on event value,
    first vs second half of the month (`operators/stats.py
    cramer_von_mises`): the whole squared ECDF-gap profile summed over
    pooled observations — the integral companion where KS takes the
    sup. Inclusive stitched cumsums only; no segment widths."""
    from onetl_spark.operators.stats import cramer_von_mises

    ensure_views(spark, sf_dir)
    ev = spark.table("events")
    split = F.lit("2024-01-16").cast("timestamp")
    return cramer_von_mises(
        ev.filter(F.col("ts") < split), ev.filter(F.col("ts") >= split), "value"
    )


CVM_SQL = """
WITH a AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
), b AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
), c AS (
  SELECT COALESCE(ac.v, bc.v) AS v,
         COALESCE(ac.na, 0) AS na, COALESCE(bc.nb, 0) AS nb
  FROM (SELECT v, COUNT(*) AS na FROM a GROUP BY v) ac
  FULL OUTER JOIN (SELECT v, COUNT(*) AS nb FROM b GROUP BY v) bc
    ON ac.v = bc.v
), tot AS (
  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb FROM c
), grid AS (
  SELECT na, nb,
         CAST(SUM(na) OVER w AS DOUBLE) / tot.ta
           - CAST(SUM(nb) OVER w AS DOUBLE) / tot.tb AS d
  FROM c CROSS JOIN tot
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), agg AS (
  SELECT CAST(SUM(CAST(round(d * d * (na + nb), 9) AS DECIMAL(38,9)))
              AS DOUBLE) AS s
  FROM grid
)
SELECT tot.ta AS n_ref, tot.tb AS n_cur,
       round(CAST(tot.ta AS DOUBLE) * tot.tb
             / ((tot.ta + tot.tb) * (tot.ta + tot.tb)) * s, 9) AS cvm_stat
FROM agg CROSS JOIN tot
"""

register(events_value_cvm, CVM_SQL)


def events_value_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson–Darling drift on event value, first vs second
    half of the month (`operators/stats.py anderson_darling_2s`): the
    tail-weighted ECDF statistic completing the drift family (KS sup,
    CvM integral, W1/energy transport) — 1/(H(1−H)) weighting catches
    tail divergence first. Inclusive stitched cumsums, no widths."""
    from onetl_spark.operators.stats import anderson_darling_2s

    ensure_views(spark, sf_dir)
    ev = spark.table("events")
    split = F.lit("2024-01-16").cast("timestamp")
    return anderson_darling_2s(
        ev.filter(F.col("ts") < split), ev.filter(F.col("ts") >= split), "value"
    )


AD_SQL = """
WITH a AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
), b AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
), c AS (
  SELECT COALESCE(ac.v, bc.v) AS v,
         COALESCE(ac.na, 0) AS na, COALESCE(bc.nb, 0) AS nb
  FROM (SELECT v, COUNT(*) AS na FROM a GROUP BY v) ac
  FULL OUTER JOIN (SELECT v, COUNT(*) AS nb FROM b GROUP BY v) bc
    ON ac.v = bc.v
), tot AS (
  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb FROM c
), grid AS (
  SELECT na, nb,
         CAST(SUM(na) OVER w AS DOUBLE) / tot.ta
           - CAST(SUM(nb) OVER w AS DOUBLE) / tot.tb AS d,
         CAST(SUM(na) OVER w + SUM(nb) OVER w AS DOUBLE)
           / (tot.ta + tot.tb) AS h
  FROM c CROSS JOIN tot
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), agg AS (
  SELECT CAST(SUM(CASE WHEN h > 0 AND h < 1 THEN
                   CAST(round(d * d / (h * (1 - h)) * (na + nb), 9)
                        AS DECIMAL(38,9)) END) AS DOUBLE) AS s
  FROM grid
)
SELECT tot.ta AS n_ref, tot.tb AS n_cur,
       round(CAST(tot.ta AS DOUBLE) * tot.tb / (tot.ta + tot.tb)
             / (tot.ta + tot.tb) * s, 9) AS ad_stat
FROM agg CROSS JOIN tot
"""

register(events_value_anderson_darling, AD_SQL)


def orders_price_date_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of orders on (cheapest ↓, most recent ↑) —
    `operators/ranking.py skyline_2d`: the multi-objective shortlist no
    single ORDER BY can produce (every returned order is undominated:
    nothing both cheaper AND newer exists). Bucketed prefix-max sweep;
    output is the frontier itself (O(log n) expected rows)."""
    from onetl_spark.operators.ranking import skyline_2d

    ensure_views(spark, sf_dir)
    o = spark.table("orders").select(
        F.col("o_totalprice").cast("decimal(38,2)").alias("price"),
        F.col("o_orderdate").cast("date").alias("orderdate"),
    )
    # exact decimal inside the sweep; DOUBLE at the output boundary
    return skyline_2d(o, "price", "orderdate").select(
        F.col("price").cast("double").alias("price"), "orderdate"
    )


SKYLINE_SQL = """
WITH pd AS (
  SELECT CAST(o_totalprice AS DECIMAL(38,2)) AS price,
         MAX(CAST(o_orderdate AS DATE)) AS orderdate
  FROM orders GROUP BY 1
), s AS (
  SELECT price, orderdate,
         MAX(orderdate) OVER (ORDER BY price
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS prevmax
  FROM pd
)
SELECT CAST(price AS DOUBLE) AS price, orderdate FROM s
WHERE prevmax IS NULL OR orderdate > prevmax
ORDER BY price
"""

register(orders_price_date_skyline, SKYLINE_SQL)
