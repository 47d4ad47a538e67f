"""Generic JDBC connection + per-RDBMS subclasses.

Read path (reference: onetl/connection/db_connection/jdbc_connection/
connection.py:161-231): render the full SELECT with the dialect, wrap it
as a subquery ``(q) T`` (connection.py:320-326) and hand it to Spark's
JDBC source. Parallelism:

- ``range``: Spark-native partitionColumn/lowerBound/upperBound; missing
  bounds are auto-filled with a MIN/MAX probe (connection.py:340-391).
- ``hash`` / ``mod``: the dialect synthesizes a server-side partition
  expression which is SELECTed under a generated alias, used as the
  partition column over [0, num_partitions), and dropped after load
  (connection.py:188-210, 228-229).

Write path: mode mapping append/ignore/error/replace_entire_table →
Spark JDBC writer modes (connection.py:233-255, options.py:83-101).

Driver-side ``fetch``/``execute`` use raw ``java.sql`` over Py4J
(jdbc_mixin/connection.py:143-282), converting ResultSet → DataFrame with
a plain JDBC-type mapping (instead of Spark-internal JdbcUtils, which
moved across versions — SURVEY §7 'hard parts').
"""

from __future__ import annotations

import logging
import secrets
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal
from typing import Any, ClassVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from onetl_spark.base import BaseDBConnection
from onetl_spark.dialects.base import Dialect
from onetl_spark.dialects.jdbc import (
    ClickhouseDialect,
    DerbyDialect,
    MSSQLDialect,
    MySQLDialect,
    OracleDialect,
    PostgresDialect,
)
from onetl_spark.hooks import slot, support_hooks
from onetl_spark.hwm.window import Window

log = logging.getLogger(__name__)


@dataclass
class JDBCReadOptions:
    """Subset of jdbc_connection/options.py with reference defaults."""

    partitioning_mode: str = "range"  # range|hash|mod
    partition_column: str | None = None
    num_partitions: int | None = None
    lower_bound: Any = None
    upper_bound: Any = None
    fetchsize: int = 100_000  # explicit override of driver defaults (options.py:200-217)
    query_timeout: int | None = None
    session_init_statement: str | None = None
    options: dict[str, Any] = field(default_factory=dict)


@dataclass
class JDBCWriteOptions:
    if_exists: str = "append"  # append|ignore|error|replace_entire_table
    batchsize: int = 20_000
    isolation_level: str | None = None
    options: dict[str, Any] = field(default_factory=dict)

    MODE_MAP = {
        "append": "append",
        "ignore": "ignore",
        "error": "error",
        "replace_entire_table": "overwrite",
    }


@support_hooks
@dataclass
class JDBCConnection(BaseDBConnection):
    spark: SparkSession
    host: str = ""
    port: int | None = None
    user: str | None = None
    password: str | None = None
    database: str | None = None
    extra: dict[str, Any] = field(default_factory=dict)

    DRIVER: ClassVar[str] = ""
    DEFAULT_PORT: ClassVar[int | None] = None
    dialect_class: ClassVar[type] = Dialect

    def __post_init__(self):
        self.dialect = self.dialect_class()
        if self.port is None:
            self.port = self.DEFAULT_PORT

    # --- url/options ------------------------------------------------------

    @property
    def jdbc_url(self) -> str:
        raise NotImplementedError

    def jdbc_params(self, fetchsize: int | None = None) -> dict[str, str]:
        params = {
            "url": self.jdbc_url,
            "driver": self.DRIVER,
        }
        if self.user is not None:
            params["user"] = str(self.user)
        if self.password is not None:
            params["password"] = str(self.password)
        if fetchsize is not None:
            params["fetchsize"] = str(fetchsize)
        return params

    @classmethod
    def get_packages(cls) -> list[str]:
        """Maven coordinates for spark.jars.packages."""
        raise NotImplementedError

    # --- read -------------------------------------------------------------

    def get_read_plan(
        self,
        source: str,
        columns: list[str] | None = None,
        hint: str | None = None,
        where: Any = None,
        window: Window | None = None,
        limit: int | None = None,
        options: JDBCReadOptions | None = None,
    ) -> tuple[str, dict[str, str], str | None]:
        """Build (query, spark_jdbc_options, alias_to_drop) without touching
        any server — unit-testable query/option synthesis."""
        opts = options or JDBCReadOptions()
        conditions = self.dialect.apply_window(where, window)
        columns = list(columns) if columns else ["*"]
        alias: str | None = None

        jdbc_options: dict[str, str] = dict(self.jdbc_params(fetchsize=opts.fetchsize))
        if opts.session_init_statement:
            jdbc_options["sessionInitStatement"] = opts.session_init_statement
        if opts.query_timeout is not None:
            jdbc_options["queryTimeout"] = str(opts.query_timeout)
        for k, v in opts.options.items():
            jdbc_options[k] = str(v)

        if opts.num_partitions and opts.num_partitions > 1:
            mode = opts.partitioning_mode
            if not opts.partition_column:
                raise ValueError("partition_column is required when num_partitions > 1")
            if mode == "range":
                jdbc_options.update(
                    partitionColumn=opts.partition_column,
                    numPartitions=str(opts.num_partitions),
                )
                if opts.lower_bound is not None:
                    jdbc_options["lowerBound"] = str(opts.lower_bound)
                if opts.upper_bound is not None:
                    jdbc_options["upperBound"] = str(opts.upper_bound)
            elif mode in ("hash", "mod"):
                fn = (
                    self.dialect.get_partition_column_hash
                    if mode == "hash"
                    else self.dialect.get_partition_column_mod
                )
                expr = fn(opts.partition_column, opts.num_partitions)
                alias = f"part_col_{secrets.token_hex(4)}"
                columns = columns + [self.dialect.aliased(expr, alias)]
                jdbc_options.update(
                    partitionColumn=alias,
                    numPartitions=str(opts.num_partitions),
                    lowerBound="0",
                    upperBound=str(opts.num_partitions),
                )
            else:
                raise ValueError(f"Unknown partitioning_mode {mode!r}")

        query = self.dialect.get_sql_query(
            table=source,
            columns=columns,
            where=conditions,
            hint=hint,
            limit=limit,
        )
        return query, jdbc_options, alias

    def read_source_as_df(
        self,
        source: str,
        columns: list[str] | None = None,
        hint: str | None = None,
        where: Any = None,
        df_schema: StructType | None = None,
        window: Window | None = None,
        limit: int | None = None,
        options: JDBCReadOptions | None = None,
    ) -> DataFrame:
        opts = options or JDBCReadOptions()
        if (
            opts.num_partitions
            and opts.num_partitions > 1
            and opts.partitioning_mode == "range"
            and (opts.lower_bound is None or opts.upper_bound is None)
        ):
            lo, hi = self.get_min_max_values(
                source, Window(opts.partition_column), hint=hint, where=where,
            )
            opts = JDBCReadOptions(**{**opts.__dict__, "lower_bound": lo, "upper_bound": hi})

        query, jdbc_options, alias = self.get_read_plan(
            source, columns, hint, where, window, limit, opts,
        )
        df = self._load_subquery(query, jdbc_options)
        if alias:
            df = df.drop(alias)
        return df

    def _load_subquery(self, query: str, jdbc_options: dict[str, str]) -> DataFrame:
        reader = self.spark.read.format("jdbc")
        for k, v in jdbc_options.items():
            reader = reader.option(k, v)
        # subquery wrap, jdbc_connection/connection.py:320-326
        return reader.option("dbtable", f"({query}) T").load()

    @slot
    def sql(self, query: str, options: JDBCReadOptions | None = None) -> DataFrame:
        """Arbitrary SELECT executed on executors via Spark JDBC."""
        opts = options or JDBCReadOptions()
        return self._load_subquery(query.rstrip("; \n"), self.jdbc_params(fetchsize=opts.fetchsize))

    def get_df_schema(self, source: str, columns: list[str] | None = None) -> StructType:
        query = self.dialect.get_sql_query(source, columns=columns, limit=0, compact=True)
        return self._load_subquery(query, self.jdbc_params()).schema

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
        row = self._load_subquery(query, self.jdbc_params()).collect()[0]
        return row["min"], row["max"]

    CHECK_QUERY = "SELECT 1"

    @slot
    def check(self) -> "JDBCConnection":
        """Probe BOTH paths a job will use (ref
        jdbc_connection/connection.py:90-107): the driver's raw java.sql
        connection AND an executor-side Spark JDBC scan — a cluster whose
        executors can't reach the database must fail here, not at the
        first action."""
        self.fetch(self.CHECK_QUERY).collect()
        self.sql(self.CHECK_QUERY).collect()
        return self

    # --- write ------------------------------------------------------------

    def write_df_to_target(self, df: DataFrame, target: str, options: Any = None) -> None:
        opts = options or JDBCWriteOptions()
        if isinstance(opts, dict):
            opts = JDBCWriteOptions(**opts)
        mode = JDBCWriteOptions.MODE_MAP.get(opts.if_exists)
        if mode is None:
            raise ValueError(f"Unknown if_exists mode: {opts.if_exists!r}")
        writer = df.write.format("jdbc")
        for k, v in self.jdbc_params().items():
            writer = writer.option(k, v)
        writer = writer.option("dbtable", target).option("batchsize", str(opts.batchsize))
        if opts.isolation_level:
            writer = writer.option("isolationLevel", opts.isolation_level)
        for k, v in opts.options.items():
            writer = writer.option(k, str(v))
        writer.mode(mode).save()

    # --- driver-side fetch/execute (Py4J java.sql) --------------------------

    def _driver_connection(self):
        jvm = self.spark._jvm
        props = jvm.java.util.Properties()
        if self.user is not None:
            props.setProperty("user", str(self.user))
        if self.password is not None:
            props.setProperty("password", str(self.password))
        jvm.java.lang.Class.forName(self.DRIVER)
        return jvm.java.sql.DriverManager.getConnection(self.jdbc_url, props)

    @slot
    def fetch(self, query: str, options: Any = None) -> DataFrame:
        """SELECT executed on the DRIVER through raw java.sql; ResultSet is
        converted to a DataFrame via a plain JDBC type mapping."""
        conn = self._driver_connection()
        try:
            stmt = conn.createStatement()
            rs = stmt.executeQuery(query.rstrip("; \n"))
            df = self._resultset_to_df(rs)
            self._log_driver_df_size(df)
            return df
        finally:
            conn.close()

    @staticmethod
    def _log_driver_df_size(df: DataFrame) -> None:
        """Driver-side resultsets live in driver memory — log the estimate
        so oversized fetch()es are visible (ref jdbc_mixin metrics use,
        onetl/_util/spark.py:132-147)."""
        from onetl_spark.spark_utils import estimate_dataframe_size

        size = estimate_dataframe_size(df)
        if size:
            log.debug("driver-side resultset estimated in-memory size: %d bytes", size)

    @slot
    def execute(self, statement: str, options: Any = None) -> DataFrame | None:
        """DDL/DML/procedure call on the driver; returns a DataFrame iff a
        resultset came back (jdbc_mixin/connection.py:212-282).

        ``{call ...}`` statements additionally support OUT parameters:
        pass ``options={"out_params": [(position, "INTEGER"), ...]}``
        (or ``(position, type, name)`` triples; type is a
        ``java.sql.Types`` field name). Each is registered through
        ``CallableStatement.registerOutParameter`` before execution and
        the OUT values come back as a 1-row DataFrame — which takes
        precedence over any resultset the call might also produce."""
        conn = self._driver_connection()
        try:
            statement = statement.rstrip("; \n")
            out_params = self._normalize_out_params(options)
            is_call = statement.lstrip().lower().startswith("{call") or statement.lstrip().startswith("{?")
            if out_params and not is_call:
                raise ValueError("out_params are only valid for {call ...} statements")
            if is_call:
                stmt = conn.prepareCall(statement)
                jvm_types = self.spark._jvm.java.sql.Types
                for pos, type_name, _name, stype in out_params:
                    jtype = getattr(jvm_types, type_name)
                    if stype and type_name in ("DECIMAL", "NUMERIC"):
                        # JDBC requires the (pos, type, scale) overload for
                        # DECIMAL/NUMERIC — without it drivers like Oracle
                        # truncate the OUT value to scale 0.
                        scale = int(stype.rsplit(",", 1)[1].rstrip(")"))
                        stmt.registerOutParameter(pos, jtype, scale)
                    else:
                        stmt.registerOutParameter(pos, jtype)
                has_rs = stmt.execute()
            else:
                stmt = conn.createStatement()
                has_rs = stmt.execute(statement)
            if out_params:
                return self._out_params_to_df(stmt, out_params)
            if has_rs:
                return self._resultset_to_df(stmt.getResultSet())
            return None
        finally:
            conn.close()

    @staticmethod
    def _normalize_out_params(options: Any) -> list[tuple[int, str, str, str | None]]:
        """Each entry normalizes to a 4-tuple (position, java.sql.Types
        field name, column name, Spark type string or None).
        DECIMAL/NUMERIC accept an explicit ``(p,s)`` suffix
        — ``(1, "DECIMAL(31,6)")`` — which types the OUT column exactly;
        without it the column falls back to decimal(38,18), which lacks
        integral room past 20 digits (same failure mode the r9 Derby
        type matrix exposed in ``fetch``; OUT params have no ResultSet
        metadata to read the true precision from, so callers must say)."""
        import re as _re

        raw = None
        if isinstance(options, dict):
            raw = options.get("out_params")
        elif options is not None:
            raw = getattr(options, "out_params", None)
        out = []
        for p in raw or []:
            pos, type_name = int(p[0]), str(p[1]).upper().replace(" ", "")
            name = str(p[2]) if len(p) > 2 and p[2] else f"OUT_{pos}"
            m = _re.fullmatch(r"(NUMERIC|DECIMAL)\((\d+),(\d+)\)", type_name)
            if m:
                prec, scale = int(m.group(2)), int(m.group(3))
                if not (0 < prec <= 38 and 0 <= scale <= prec):
                    raise ValueError(
                        f"out_params: invalid decimal precision/scale {type_name!r}"
                        " (need 0 < p <= 38, 0 <= s <= p)"
                    )
                type_name = m.group(1)  # registerOutParameter takes the base type
                out.append((pos, type_name, name, f"decimal({prec},{scale})"))
            else:
                out.append((pos, type_name, name, None))
        return out

    # java.sql.Types names → Spark types for OUT parameter columns
    _TYPE_NAME_TO_SPARK = {
        "BOOLEAN": "boolean", "BIT": "boolean",
        "TINYINT": "short", "SMALLINT": "short",
        "INTEGER": "int",
        "BIGINT": "long",
        "FLOAT": "double", "DOUBLE": "double",
        "REAL": "float",
        "NUMERIC": "decimal(38,18)", "DECIMAL": "decimal(38,18)",
        "DATE": "date",
        "TIMESTAMP": "timestamp",
        "BINARY": "binary", "VARBINARY": "binary", "LONGVARBINARY": "binary",
    }

    def _out_params_to_df(self, stmt, out_params) -> DataFrame:
        types = [
            stype or self._TYPE_NAME_TO_SPARK.get(t, "string")
            for _, t, _, stype in out_params
        ]
        schema = ", ".join(
            f"`{name}` {t}" for (_, _, name, _), t in zip(out_params, types)
        )
        row = tuple(
            self._jdbc_value_to_py(stmt.getObject(pos), t)
            for (pos, _, _, _), t in zip(out_params, types)
        )
        return self.spark.createDataFrame([row], schema)

    _JDBC_TO_SPARK = {
        -7: "boolean", 16: "boolean",
        -6: "short", 5: "short",
        4: "int",
        -5: "long",
        6: "double", 8: "double",
        7: "float",
        2: "decimal(38,18)", 3: "decimal(38,18)",
        91: "date",
        93: "timestamp",
        -2: "binary", -3: "binary", -4: "binary",
    }

    def _resultset_to_df(self, rs) -> DataFrame:
        meta = rs.getMetaData()
        n = meta.getColumnCount()
        names = [meta.getColumnLabel(i + 1) for i in range(n)]
        types = [self._JDBC_TO_SPARK.get(meta.getColumnType(i + 1), "string") for i in range(n)]
        # DECIMAL/NUMERIC: take precision/scale from the resultset metadata —
        # a fixed decimal(38,18) silently lacks integral room for anything
        # wider than 20 digits (DECIMAL(31,6) with a 25-digit integral part
        # aborts on conversion; found by the r9 Derby type matrix). Unknown
        # metadata (precision<=0, some drivers) falls back to (38,18).
        for i, t in enumerate(types):
            if t.startswith("decimal"):
                p, s = meta.getPrecision(i + 1), meta.getScale(i + 1)
                if 0 < p <= 38 and 0 <= s <= p:
                    types[i] = f"decimal({p},{s})"
        schema = ", ".join(f"`{name}` {t}" for name, t in zip(names, types))

        rows = []
        while rs.next():
            rows.append(
                tuple(
                    self._jdbc_value_to_py(rs.getObject(i + 1), t)
                    for i, t in enumerate(types)
                )
            )
        return self.spark.createDataFrame(rows, schema)

    @staticmethod
    def _jdbc_value_to_py(value, t: str):
        if value is None:
            return None
        if t in ("int", "long", "short"):
            return int(value if not hasattr(value, "longValue") else value.longValue())
        if t in ("double", "float"):
            return float(value if not hasattr(value, "doubleValue") else value.doubleValue())
        if t.startswith("decimal"):
            return Decimal(str(value))
        if t == "boolean":
            return bool(value)
        if t == "date":
            return date.fromisoformat(str(value))
        if t == "timestamp":
            return datetime.fromisoformat(str(value).replace(" ", "T")[:26])
        if t == "binary":
            return bytes(value)
        return str(value)


# --- concrete connections ----------------------------------------------------


@dataclass
class Postgres(JDBCConnection):
    DRIVER = "org.postgresql.Driver"
    DEFAULT_PORT = 5432
    dialect_class = PostgresDialect

    @property
    def jdbc_url(self) -> str:
        return f"jdbc:postgresql://{self.host}:{self.port}/{self.database}"

    def jdbc_params(self, fetchsize: int | None = None) -> dict[str, str]:
        params = super().jdbc_params(fetchsize)
        # reference forces stringtype=unspecified (postgres/connection.py Extra)
        params.setdefault("stringtype", "unspecified")
        for k, v in self.extra.items():
            params.setdefault(k, str(v))
        return params

    @classmethod
    def get_packages(cls) -> list[str]:
        return ["org.postgresql:postgresql:42.7.4"]


@dataclass
class MySQL(JDBCConnection):
    DRIVER = "com.mysql.cj.jdbc.Driver"
    DEFAULT_PORT = 3306
    dialect_class = MySQLDialect

    @property
    def jdbc_url(self) -> str:
        db = f"/{self.database}" if self.database else ""
        return f"jdbc:mysql://{self.host}:{self.port}{db}"

    @classmethod
    def get_packages(cls) -> list[str]:
        return ["com.mysql:mysql-connector-j:9.1.0"]


@dataclass
class MSSQL(JDBCConnection):
    DRIVER = "com.microsoft.sqlserver.jdbc.SQLServerDriver"
    DEFAULT_PORT = 1433
    dialect_class = MSSQLDialect

    @property
    def jdbc_url(self) -> str:
        props = {"databaseName": self.database, **self.extra}
        tail = ";".join(f"{k}={v}" for k, v in props.items() if v is not None)
        return f"jdbc:sqlserver://{self.host}:{self.port};{tail}"

    @classmethod
    def get_packages(cls) -> list[str]:
        return ["com.microsoft.sqlserver:mssql-jdbc:12.8.1.jre11"]


@dataclass
class Oracle(JDBCConnection):
    DRIVER = "oracle.jdbc.driver.OracleDriver"
    DEFAULT_PORT = 1521
    dialect_class = OracleDialect
    CHECK_QUERY = "SELECT 1 FROM DUAL"
    sid: str | None = None
    service_name: str | None = None

    @property
    def jdbc_url(self) -> str:
        if self.sid:
            return f"jdbc:oracle:thin:@{self.host}:{self.port}:{self.sid}"
        return f"jdbc:oracle:thin:@//{self.host}:{self.port}/{self.service_name}"

    @classmethod
    def get_packages(cls) -> list[str]:
        return ["com.oracle.database.jdbc:ojdbc8:23.5.0.24.07"]

    @slot
    def execute(self, statement: str, options: Any = None) -> DataFrame | None:
        """Oracle swallows PL/SQL compile failures — after CREATE/ALTER of
        a compilable object, surface ALL_ERRORS diagnostics (raising on
        ERROR severity). Semantics of ref oracle/connection.py:312-449."""
        from onetl_spark.connections.oracle_errors import check_compile_errors

        result = super().execute(statement, options)
        check_compile_errors(
            statement.strip(),
            default_schema=str(self.user or ""),
            fetch=lambda sql: [row.asDict() for row in self.fetch(sql).collect()],
        )
        return result


@dataclass
class Clickhouse(JDBCConnection):
    DRIVER = "com.clickhouse.jdbc.ClickHouseDriver"
    DEFAULT_PORT = 8123
    dialect_class = ClickhouseDialect

    @property
    def jdbc_url(self) -> str:
        db = f"/{self.database}" if self.database else ""
        return f"jdbc:clickhouse://{self.host}:{self.port}{db}"

    @classmethod
    def get_packages(cls) -> list[str]:
        return ["com.clickhouse:clickhouse-jdbc:0.6.5", "org.apache.httpcomponents.client5:httpclient5:5.3.1"]


@dataclass
class Derby(JDBCConnection):
    """Embedded Apache Derby — the zero-dependency live JDBC target.

    Spark bundles the Derby jars for its Hive metastore, so this
    connection needs no extra packages and no server: the database is a
    directory, the driver runs inside the Spark JVM. It exists to
    integration-test the REAL generic-JDBC code paths (executor-side
    scans with pushdown, partitioned reads, the 4 write modes,
    driver-side fetch/execute) that the networked stores can only
    exercise against a live service — and it's a usable lightweight
    store in its own right.

    ``path`` is the database directory (created on first connect).
    """

    DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
    dialect_class = DerbyDialect
    # aliased: Derby names a bare `SELECT 1` column in a way Spark's
    # re-projection of the subquery can't reference
    CHECK_QUERY = "SELECT 1 AS ONE FROM SYSIBM.SYSDUMMY1"
    path: str = ""

    @property
    def jdbc_url(self) -> str:
        return f"jdbc:derby:{self.path};create=true"

    @classmethod
    def get_packages(cls) -> list[str]:
        return []  # bundled with Spark (metastore jars)
