"""``transform``: round-robin over registry queries, executed to ``noop``.

Two queries of each shape:

- single-plan: one physical plan, a handful of jobs;
- multi-job: iterative or checkpointed, tens of jobs and driver
  barriers (``events_type_friedman`` is the lazy-checkpoint fan-out);
- llm: the text-pipeline operators over ``documents``.

The heavier registry members of each shape (``q1_pricing_summary``,
``supplier_pagerank``, ``dedup_components_star``, ...) are left out to
fit the run budget. The workload does no writes and no HWM work.
"""

from __future__ import annotations

import math
import multiprocessing
from concurrent.futures import ProcessPoolExecutor, ThreadPoolExecutor
from datetime import date, datetime
from decimal import Decimal

import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from onetl_spark.showcase.util import ensure_views
from perfbench import stats
from perfbench.common import Env, Workload, compare
from perfbench.harness import Checked, Op

# query -> (shape, input tables it reads)
QUERIES = {
    "q3_shipping_priority": ("single_plan", ("lineitem", "orders", "customer")),
    "asof_join_events": ("single_plan", ("events",)),
    "events_type_friedman": ("multi_job", ("events",)),
    "event_markov_stationary": ("multi_job", ("events",)),
    "dedup_minhash_lsh": ("llm", ("documents",)),
    "text_tfidf_top_terms": ("llm", ("documents",)),
}
WARMUP_THREADS = 3
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")


def canonical(value):
    """Engine-neutral form of one result value: floats to 9 significant
    digits (the registry rounds outputs to 9 places), temporals to ISO."""
    if isinstance(value, bool) or value is None or isinstance(value, (int, str)):
        return value
    if isinstance(value, Decimal):
        value = float(value)
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return float(f"{value:.9g}") + 0.0
    if isinstance(value, (datetime, date)):
        return value.isoformat()
    if isinstance(value, (list, tuple)):
        return tuple(canonical(v) for v in value)
    return str(value)


def result_multiset(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(canonical(row[i]) for i in order) for row in rows), key=repr)


def run_oracles(data: str, cores: int, sql: dict[str, str]) -> dict[str, tuple[list[str], list]]:
    """Each oracle's (column names, rows), computed by DuckDB from the inputs."""
    import duckdb

    out = {}
    con = duckdb.connect(config={"threads": cores, "memory_limit": "1GB"})
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        for name, query in sql.items():
            cur = con.execute(query)
            out[name] = ([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()
    return out


def build(env: Env) -> Workload:
    import __spark_entry__ as registry

    spark, tracer = env.spark, env.tracer
    queries, oracles = registry.queries(), registry.oracle_sql()
    input_rows = {t: pq.read_metadata(f"{env.data}/{t}.parquet").num_rows for t in TABLES}
    expected_rows: dict[str, int] = {}

    def oracle_check(name: str) -> list[str]:
        df = queries[name](spark, env.data)
        got = result_multiset(df.columns, df.collect())
        columns, rows = oracle_results.result()[name]
        want = result_multiset(columns, rows)
        expected_rows[name] = len(want)
        problems = compare("columns", sorted(df.columns), sorted(columns))
        problems += compare("row count", len(got), len(want))
        if not problems and got != want:
            diff = next(i for i, (a, b) in enumerate(zip(got, want)) if a != b)
            problems.append(f"values differ, first at sorted row {diff}: {got[diff]} vs {want[diff]}")
        return problems

    # The untimed warm-up rep of each query is its oracle comparison.
    # WARMUP_THREADS queries run at a time, overlapping one's cold-JVM
    # class loading and code generation with another's execution, while
    # DuckDB runs the oracles in a child process, so its memory never
    # sits in the driver's RSS.
    ensure_views(spark, env.data)
    spawn = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(1, mp_context=spawn) as duck, ThreadPoolExecutor(WARMUP_THREADS) as pool:
        oracle_results = duck.submit(run_oracles, env.data, env.cores, {name: oracles[name] for name in QUERIES})
        list(pool.map(lambda name: env.runner.record_check(f"oracle {name}", lambda: oracle_check(name)), QUERIES))

    def op(name: str) -> Op:
        rows_read = sum(input_rows[t] for t in QUERIES[name][1])

        def work() -> Observation:
            with tracer.span("showcase.build"):
                df = queries[name](spark, env.data)
            obs = Observation()
            with tracer.span("showcase.execute"):
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
            return obs

        def check(obs: Observation) -> Checked:
            return Checked(rows_read, compare(f"{name} rows", obs.get["n"], expected_rows.get(name)))

        return Op(name, work, check)

    def shape_geomeans(traced) -> dict[str, float]:
        per_query: dict[str, list[float]] = {}
        for s in traced:
            per_query.setdefault(s.op, []).append(s.seconds)
        out = {}
        for shape in ("single_plan", "multi_job", "llm"):
            medians = [stats.median(v) for q, v in per_query.items() if QUERIES[q][0] == shape]
            out[f"transform.{shape}.geomean_s"] = stats.geomean(medians)
        return out

    ops = [op(name) for name in QUERIES]
    return Workload(ops=ops, warmup_rounds=0, min_rounds=2, layer_metrics=shape_geomeans)
