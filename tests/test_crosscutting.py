"""Hooks, plugins, metrics, logging."""

import logging
from pathlib import Path
from types import SimpleNamespace

import pytest

from onetl_spark.hooks import resume_all_hooks, slot, stop_all_hooks, support_hooks
from onetl_spark.metrics import SparkMetricsRecorder, override_job_description


@support_hooks
class Service:
    def __init__(self):
        self.calls = []

    @slot
    def action(self, x):
        self.calls.append(x)
        return x * 2


@pytest.fixture(autouse=True)
def fresh_slots():
    Service.action.hooks.clear()
    resume_all_hooks()
    yield
    Service.action.hooks.clear()
    resume_all_hooks()


def test_before_hook_runs_in_priority_order():
    order = []

    @Service.action.bind
    def first(service, x):
        order.append(("first", x))

    @Service.action.bind(priority=-5)
    def earlier(service, x):
        order.append(("earlier", x))

    svc = Service()
    assert svc.action(3) == 6
    assert order == [("earlier", 3), ("first", 3)]


def test_generator_hook_wraps_and_replaces_result():
    events = []

    @Service.action.bind
    def wrapper(service, x):
        events.append("before")
        result = yield
        events.append(f"after:{result}")
        yield result + 1  # replace

    svc = Service()
    assert svc.action(5) == 11
    assert events == ["before", "after:10"]


def test_hook_disable_and_global_stop():
    calls = []

    @Service.action.bind
    def h(service, x):
        calls.append(x)

    svc = Service()
    svc.action(1)
    h.disable()
    svc.action(2)
    h.enable()
    stop_all_hooks()
    svc.action(3)
    resume_all_hooks()
    svc.action(4)
    assert calls == [1, 4]


def test_skip_hooks_context():
    calls = []

    @Service.action.bind
    def h(service, x):
        calls.append(x)

    svc = Service()
    with Service.action.skip_hooks():
        svc.action(1)
    svc.action(2)
    assert calls == [2]


def test_plugins_no_entry_points():
    from onetl_spark.plugins import import_plugins

    assert import_plugins() == []


def test_metrics_recorder_captures_rows(spark, sf_dir, testdata):
    """Rows are counted where tasks read and write them: the scan reads
    every order, and a collect writes nothing."""
    orders = spark.table("orders").count()
    with SparkMetricsRecorder(spark) as recorder:
        spark.table("orders").selectExpr("sum(o_totalprice)").collect()
        recorder.drain()
    metrics = recorder.metrics()
    assert metrics.executions >= 1 and metrics.jobs >= 1 and metrics.tasks >= 1
    assert (metrics.input_rows, metrics.output_rows) == (orders, 0)


def test_dbwriter_metrics_count_rows_read_and_written(spark, testdata):
    """A filtered append reports the rows it read and the rows it wrote,
    not the sum of every plan node's output rows."""
    from onetl_spark.connections import SparkSQLConnection
    from onetl_spark.db import DBWriter

    orders = spark.table("orders")
    part = orders.where("o_orderkey % 7 = 0")
    total, written = orders.count(), part.count()

    @SparkSQLConnection.write_df_to_target.bind
    def drain(connection, *args):
        yield  # after the write, still inside DBWriter's recorder block
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    spark.sql("CREATE TABLE metrics_rows_sink USING parquet AS SELECT * FROM orders WHERE false")
    try:
        writer = DBWriter(SparkSQLConnection(spark), "metrics_rows_sink")
        writer.run(part)
        assert (writer.last_metrics.input_rows, writer.last_metrics.output_rows) == (total, written)
        assert spark.table("metrics_rows_sink").count() == written
    finally:
        SparkSQLConnection.write_df_to_target.unbind(drain)
        spark.sql("DROP TABLE IF EXISTS metrics_rows_sink")


def test_sparksql_write_mode_matrix(spark):
    """The SparkSQL write path reads the target's columns once: absent
    tables are created, present ones dispatch on if_exists, and an
    analysis error other than table-not-found is not read as absent."""
    from pyspark.errors import AnalysisException

    from onetl_spark.connections import SparkSQLConnection
    from onetl_spark.connections.catalog import drop_table_completely
    from onetl_spark.connections.sparksql import SparkSQLWriteOptions
    from onetl_spark.exceptions import TargetAlreadyExistsError

    conn = SparkSQLConnection(spark)
    target = "write_mode_matrix"
    drop_table_completely(spark, target)

    def write(df, mode, **kw):
        conn.write_df_to_target(df, target, SparkSQLWriteOptions(if_exists=mode, **kw))

    def rows():
        return sorted(tuple(r) for r in spark.table(target).collect())

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id INT, p STRING")
    try:
        write(df, "error", partition_by=["p"])  # absent: created in every mode
        with pytest.raises(TargetAlreadyExistsError):
            write(df, "error")
        write(df.limit(0), "ignore")
        write(df.select("p", "id").where("id = 1"), "append")  # reordered by name
        assert rows() == [(1, "a"), (1, "a"), (2, "b")]
        write(spark.createDataFrame([(3, "a")], "id INT, p STRING"), "replace_overlapping_partitions")
        assert rows() == [(2, "b"), (3, "a")]
        write(df.where("id = 2"), "replace_entire_table")
        assert rows() == [(2, "b")]
        assert conn._table_columns("no_such_table") is None
        with pytest.raises(AnalysisException):
            conn._table_columns("not a table name!")
    finally:
        drop_table_completely(spark, target)


def test_metrics_recorder_reads_only_new_executions(spark, monkeypatch):
    """The exit cost follows the block's work, not the session's history:
    with 5,000 retained executions only the ids after the start are read."""
    class Store:  # the SQL status store calls the recorder makes
        count, read = 5000, []

        def executionsCount(self):
            return self.count

        def executionsList(self, offset, length):
            return SimpleNamespace(head=lambda: SimpleNamespace(executionId=lambda: offset + length - 1))

        def execution(self, eid):
            self.read.append(eid)
            return SimpleNamespace(isEmpty=lambda: True)  # as if evicted

    store = Store()
    monkeypatch.setattr(SparkMetricsRecorder, "_status_store", lambda self: store)
    with SparkMetricsRecorder(spark):
        store.count += 3  # three executions ran in the block
    assert store.read == [5000, 5001, 5002]
    # a start id that cannot be read leaves the record empty: no history walk
    monkeypatch.setattr(Store, "executionsList", None)
    with SparkMetricsRecorder(spark) as recorder:
        store.count += 3
    assert recorder.metrics().is_empty and len(store.read) == 3


def test_bench_time_query_returns_run_record(spark, sf_dir, testdata, monkeypatch):
    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parent.parent))
    import bench
    from onetl_spark.showcase import all_queries

    seconds, record = bench.time_query(spark, all_queries()["q1_pricing_summary"], sf_dir, reps=1)
    assert seconds > 0 and record.jobs >= 1 and record.stages >= 1
    # wall time and driver gap cover the timed run, not the listener-bus drain
    assert abs(record.wall_s - seconds) < 0.05 and 0 <= record.driver_gap_s <= record.wall_s


def test_override_job_description(spark):
    sc = spark.sparkContext
    with override_job_description(spark, "my-etl-job"):
        assert sc.getLocalProperty("spark.job.description") == "my-etl-job"
    assert sc.getLocalProperty("spark.job.description") != "my-etl-job"


def test_logging_helpers(caplog):
    from onetl_spark.log import entity_boundary_log, log_collection, log_json, log_with_indent

    logger = logging.getLogger("test-onetl-log")
    with caplog.at_level(logging.INFO, logger="test-onetl-log"):
        entity_boundary_log(logger, "start")
        log_with_indent(logger, "key = %r", "value")
        log_json(logger, {"a": 1}, name="opts")
        log_collection(logger, "files", ["x", "y", "z"], max_items=2)
    text = caplog.text
    assert "start" in text and "key = 'value'" in text and '"a": 1' in text
    assert "... 1 more" in text


def test_observe_dataframe_collects_in_flight_metrics(spark):
    from pyspark.sql import functions as F

    from onetl_spark.metrics import observe_dataframe

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None)], "k int, v string"
    )
    observed, obs = observe_dataframe(
        df,
        "quality",
        rows=F.count(F.lit(1)),
        null_v=F.count_if(F.col("v").isNull()),
        k_sum=F.sum("k"),
    )
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got == {"rows": 4, "null_v": 2, "k_sum": 10}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        observe_dataframe(df, "empty")


def test_debt_ordered_registry_rotation(tmp_path, monkeypatch):
    """The driver oracle-checks only the first 50 queries() entries, so the
    registry orders by verification debt: never-green first, then oldest
    green round, ties by registry order. Computed from committed
    CORRECTNESS_r*.json — this test pins the contract with synthetic
    history files."""
    import json
    import os

    import onetl_spark.showcase as sc

    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "a": {"hash_match": True},
        "b": {"hash_match": False},   # checked but red -> still max debt
        "c": {"hash_match": True},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "c": {"hash_match": True},    # c green again in r2 -> freshest
    }))
    (tmp_path / "CORRECTNESS_r03.json").write_text("not json")  # ignored

    queries = {"a": 1, "b": 2, "c": 3, "d": 4}

    import glob as glob_mod

    def fake_glob(pattern):
        return sorted(str(p) for p in tmp_path.glob("CORRECTNESS_r*.json"))

    monkeypatch.setattr(glob_mod, "glob", fake_glob)
    ordered = list(sc._debt_ordered(queries))
    # b (red, never green) and d (never checked) lead in registry order;
    # then a (green r1, stale), then c (green r2, freshest)
    assert ordered == ["b", "d", "a", "c"]


def test_read_table_ntz_requires_utc_session(spark, tmp_path):
    """events.ts as TIMESTAMP_NTZ: the NTZ→TIMESTAMP cast reads the
    session zone at action time, so read_table fails fast under a
    non-UTC session instead of silently shifting instants."""
    import pytest

    from onetl_spark.connections.catalog import read_table

    spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    try:
        df = spark.sql("SELECT 1 AS event_id, TIMESTAMP'2024-01-02 03:04:05' AS ts")
        df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    finally:
        spark.conf.set("spark.sql.timestampType", "TIMESTAMP_LTZ")

    out = read_table(spark, str(tmp_path), "events")
    assert out.schema["ts"].dataType.typeName() == "timestamp"
    assert str(out.collect()[0]["ts"]) == "2024-01-02 03:04:05"

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="UTC"):
            read_table(spark, str(tmp_path), "events")
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_events_stream_schema_cache_keyed_by_mtime(spark, tmp_path):
    """The probed stream schema must re-probe after an in-place testdata
    regeneration (same path, new mtime) — a path-only cache would hand a
    long-lived process a stale schema."""
    import os

    from onetl_spark.showcase import streaming as S

    p = tmp_path / "events.parquet"
    spark.range(1).selectExpr("id AS event_id", "CAST(id AS STRING) AS etype").write.mode(
        "overwrite"
    ).parquet(str(p))
    s1 = S._events_stream_schema(spark, str(tmp_path))
    assert "etype" in s1.fieldNames()

    # regenerate in place with a different schema and a bumped mtime
    spark.range(1).selectExpr("id AS event_id", "id AS amount").write.mode(
        "overwrite"
    ).parquet(str(p))
    os.utime(str(p), (os.path.getmtime(str(p)) + 10, os.path.getmtime(str(p)) + 10))
    s2 = S._events_stream_schema(spark, str(tmp_path))
    assert "amount" in s2.fieldNames() and "etype" not in s2.fieldNames()


def test_debt_rotation_is_healthy():
    """Every never-green or stale (>=3 rounds since green) query must sit
    inside the driver's next 50-query oracle window, and the due backlog
    must fit in one window — otherwise some query would never be
    re-verified (tools/debt_check.py)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "debt_check",
        os.path.join(os.path.dirname(__file__), "..", "tools", "debt_check.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.check() == []


def test_dialect_sql_matches_golden_file():
    """Every named dialect's rendered SQL must byte-match the committed
    golden file (tools/dialect_golden.py) — an accidental dialect change
    can't ship without regenerating the golden and showing the diff."""
    import importlib.util
    import json
    import os

    spec = importlib.util.spec_from_file_location(
        "dialect_golden",
        os.path.join(os.path.dirname(__file__), "..", "tools", "dialect_golden.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    with open(mod.GOLDEN_PATH) as f:
        want = json.load(f)
    assert mod.render_matrix() == want


def test_registry_rejects_duplicate_keys():
    """dict.update once silently shadowed q10_returned_items (358 declared,
    357 reachable): a second registration under a taken name raises and
    keeps the first, a query cannot join without its oracle, and every
    registering module is one the registry is read from."""
    import onetl_spark.showcase as sc
    from onetl_spark.showcase import registry

    first = sc.registered()["q10_returned_items"]

    def q10_returned_items(spark, sf_dir):
        raise AssertionError("never registered")

    with pytest.raises(ValueError, match="duplicate"):
        registry.register(q10_returned_items, "SELECT 1")
    assert sc.registered()["q10_returned_items"] == first

    def query_without_oracle(spark, sf_dir):
        raise AssertionError("never registered")

    with pytest.raises(ValueError, match="oracle"):
        registry.register(query_without_oracle, "")
    assert "query_without_oracle" not in registry._QUERIES

    modules = {m.__name__ for m in sc._modules()}
    assert {q.module for q in registry._QUERIES.values()} <= modules
    assert len(sc.all_queries()) == len(registry._QUERIES)


def _bench(monkeypatch):
    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parent.parent))
    import bench

    return bench


def test_bench_headline_and_excluded_partition_the_registry(monkeypatch):
    """Every registered query is benched or excluded by name with one of
    the three reasons, and an exclusion names a registered query, so a
    rename cannot leave a stale one behind."""
    import onetl_spark.showcase as sc

    bench = _bench(monkeypatch)
    assert sorted(bench.HEADLINE + list(bench.EXCLUDED)) == sorted(sc.registered())
    assert set(bench.EXCLUDED.values()) <= {bench._PLUMBING, bench._VARIANT, bench._UTILITY}


def test_every_bench_family_keeps_a_headline_entry(monkeypatch):
    """A showcase module (a bench family) with no HEADLINE entry holds
    nothing but plumbing probes, whose wall-clock is not data work."""
    import onetl_spark.showcase as sc

    bench = _bench(monkeypatch)
    headline = set(bench.HEADLINE)
    families: dict[str, list[str]] = {}
    for name, q in sc.registered().items():
        families.setdefault(bench._family(name), []).append(name)
    assert set(families) == {m.__name__.rsplit(".", 1)[-1] for m in sc._modules()}
    for family, names in families.items():
        if not headline & set(names):
            assert {bench.EXCLUDED[n] for n in names} == {bench._PLUMBING}, family


def test_registry_output_types_safe(spark, sf_dir, testdata):
    """Full-registry lazy-build sweep: no array/struct/map output column
    (driver canonicalizer crash, r4 sequence_packing class) and no
    DecimalType output column (driver hash mismatch, r7 q18 class —
    exact decimals stay internal, the output boundary is DOUBLE per the
    dsum convention in showcase/util.py)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "driver_parity",
        os.path.join(os.path.dirname(__file__), "..", "tools", "driver_parity.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    import onetl_spark.showcase as sc

    bad = []
    for name, fn in sc.all_queries().items():
        try:
            df = fn(spark, sf_dir)
        except Exception as e:  # noqa: BLE001
            bad.append((name, f"build error: {type(e).__name__}: {e}"))
            continue
        fields = mod.complex_type_fields(df)
        if fields:
            bad.append((name, f"complex output columns: {fields}"))
        dfields = mod.decimal_type_fields(df)
        if dfields:
            bad.append((name, f"decimal output columns: {dfields}"))
    assert bad == []


def test_one_session_profile(spark):
    """Tests, parity and tools run the benchmarked plan regime: the test
    session carries ``session.PROFILE`` key by key, and no other module
    builds its own session."""
    import re

    from onetl_spark.session import PROFILE

    assert {k: spark.conf.get(k) for k in PROFILE} == PROFILE

    repo = Path(__file__).resolve().parent.parent
    paths = [repo / "bench.py"] + [
        p for top in ("tests", "tools", "onetl_spark") for p in (repo / top).rglob("*.py")
    ]
    builder = re.compile(r"SparkSession\s*\.\s*builder")
    hits = [
        p.relative_to(repo).as_posix()
        for p in paths
        if builder.search(p.read_text(encoding="utf-8"))
    ]
    assert hits == ["onetl_spark/session.py"]


def test_one_timing_loop():
    """``bench.time_query`` is the one timing loop of ``bench.py`` and
    ``tools/``: no other line there reads a timer or opens a run recorder,
    so every reading is taken the same way and carries one record."""
    import ast
    import re

    repo = Path(__file__).resolve().parent.parent
    bench_src = (repo / "bench.py").read_text(encoding="utf-8")
    loop = next(
        node for node in ast.parse(bench_src).body
        if isinstance(node, ast.FunctionDef) and node.name == "time_query"
    )
    timer = re.compile(r"perf_counter|monotonic|SparkMetricsRecorder\(")
    hits = [
        f"{path.relative_to(repo).as_posix()}:{no}"
        for path in [repo / "bench.py", *sorted((repo / "tools").rglob("*.py"))]
        for no, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1)
        if timer.search(line) and not (path.name == "bench.py" and loop.lineno <= no <= loop.end_lineno)
    ]
    assert hits == []
