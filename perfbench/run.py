"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload el_bulk --seed 1 --seconds 8 --trace 0

Run from the repository root. Each call is one fresh process with its
own JVM and a fresh scratch root under ``.perfbench_work/``, removed at
exit. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints
the per-layer metrics and writes the spans to ``.perfbench_work/traces/``.
See perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import multiprocessing  # noqa: E402
from concurrent.futures import ProcessPoolExecutor  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("el_bulk", "el_incremental", "transform")
SF = 0.1

# spans whose median duration over calls is the per-layer metric "<span>_s"
SPANS = (
    "db.reader.run",
    "db.writer.run",
    "connections.sparksql.read_source_as_df",
    "connections.sparksql.write_df_to_target",
    "connections.jdbc.read_source_as_df",
    "connections.jdbc.write_df_to_target",
    "file.df_reader.run",
    "file.df_writer.run",
    "metrics.recorder_exit",
    "hwm.store.get_hwm",
    "hwm.store.set_hwm",
    "strategy.exit",
    "file.transfer.view_files",
    "file.transfer.download",
    "showcase.build",
    "showcase.execute",
)

# per-layer metrics only some workloads produce; the others report 0
WORKLOAD_METRICS = (
    "hwm.file_list_len",
    "hwm.store_bytes",
    "transform.single_plan.geomean_s",
    "transform.multi_job.geomean_s",
    "transform.llm.geomean_s",
)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def check_checkout() -> None:
    """Refuse to run outside a full checkout: the benchmark builds the
    library from the sources next to it, never from an installed copy."""
    needed = [os.path.join(ROOT, "onetl_spark", "__init__.py"), os.path.join(ROOT, "tools", "gen_testdata.py")]
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        sys.exit(f"perfbench: not a full checkout, missing {missing}")


def bind_common_slots(tracer) -> None:
    from onetl_spark.connections import JDBCConnection, SparkSQLConnection
    from onetl_spark.db import DBReader, DBWriter
    from onetl_spark.file import FileDFReader, FileDFWriter
    from onetl_spark.file.transfer import FileDownloader
    from onetl_spark.metrics import SparkMetricsRecorder

    tracer.bind_slot(DBReader.run, "db.reader.run")
    tracer.bind_slot(DBWriter.run, "db.writer.run")
    for cls, prefix in ((SparkSQLConnection, "connections.sparksql"), (JDBCConnection, "connections.jdbc")):
        tracer.bind_slot(cls.sql, f"{prefix}.sql")
    tracer.bind_slot(SparkSQLConnection.read_source_as_df, "connections.sparksql.read_source_as_df")
    tracer.bind_slot(SparkSQLConnection.write_df_to_target, "connections.sparksql.write_df_to_target")
    tracer.bind_slot(FileDFReader.run, "file.df_reader.run")
    tracer.bind_slot(FileDFWriter.run, "file.df_writer.run")
    tracer.bind_slot(FileDownloader.run, "file.transfer.download")
    tracer.bind_slot(FileDownloader.view_files, "file.transfer.view_files")
    tracer.patch(SparkMetricsRecorder, "__exit__", "metrics.recorder_exit")


def per_layer(runner, tracer, workload) -> dict[str, float]:
    from perfbench import stats

    traced = [s for s in runner.samples if s.traced]
    untraced = [s for s in runner.samples if not s.traced]
    out = {}
    for span in SPANS:
        d = tracer.durations(span)
        out[f"{span}_s"] = stats.median(d) if d else 0.0
    out["connections.sparksql.sql_calls"] = tracer.calls_per_op("connections.sparksql.sql", len(traced))
    writes = runner.writes
    rows = sum(w[2] for w in writes)
    out["storage.bytes_per_row"] = sum(w[1] for w in writes) / rows if rows else 0.0
    out["storage.files_per_write"] = sum(w[0] for w in writes) / len(writes) if writes else 0.0
    jobs = [runner.jobs[s.group] for s in traced]
    for key in ("jobs", "stages", "tasks"):
        out[f"spark.{key}_per_op"] = sum(j[key] for j in jobs) / len(jobs)
    out["spark.driver_gap_s"] = stats.median([j["driver_gap_s"] for j in jobs])
    for metric in WORKLOAD_METRICS:
        out[metric] = 0.0
    if workload.layer_metrics:
        out.update(workload.layer_metrics(traced))
    p50_traced = runner.end_to_end(traced)["op_s.p50"]
    p50_untraced = runner.end_to_end(untraced)["op_s.p50"]
    out["trace.op_s.p50_traced"] = p50_traced
    out["trace.op_s.p50_untraced"] = p50_untraced
    out["trace.overhead_ratio"] = p50_traced / p50_untraced
    return out


def load_units() -> dict[str, str]:
    """Every metric's unit, as BENCHMARK.json declares it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units["failed_share"] = "1"  # printed, not declared: a bound relative to a median of 0 means nothing
    return units


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a SIGTERM unwinds like an exception, so the JVM is stopped and the scratch root removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    check_checkout()
    sys.path.insert(0, ROOT)
    from perfbench.harness import adopt_orphans, end_children

    adopt_orphans()
    work = os.path.join(ROOT, ".perfbench_work")
    root = os.path.join(work, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    try:
        return run(args, root, work)
    finally:
        end_children()
        shutil.rmtree(root, ignore_errors=True)


def generate_quietly(data: str, seed: int) -> None:
    from tools.gen_testdata import generate

    with contextlib.redirect_stdout(io.StringIO()):
        generate(SF, data, seed)


def run(args: argparse.Namespace, root: str, work: str) -> int:
    import importlib

    from perfbench.common import Env
    from perfbench.harness import JVM_ENV, Runner, build_spark, spark_profile, stop_spark
    from perfbench.tracing import Tracer

    cores = min(os.cpu_count() or 1, 4)
    profile = spark_profile(cores, root)
    print(f"perfbench: profile {json.dumps(profile, sort_keys=True)} env {json.dumps(JVM_ENV)}", file=sys.stderr)
    data = os.path.join(root, "data")
    # Generate the inputs while the JVM starts, in a child process: what
    # the generator leaves allocated would otherwise sit in the driver's
    # RSS, and it varied by 20 MB between runs.
    with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("spawn")) as pool:
        inputs = pool.submit(generate_quietly, data, args.seed)
        spark = build_spark(profile)
    tracer = Tracer()
    try:
        inputs.result()
        runner = Runner(spark, tracer, T0)
        runner.phase("session up, inputs generated")
        env = Env(spark, root, data, cores, runner, tracer)
        workload = importlib.import_module(f"perfbench.{args.workload}").build(env)
        if args.trace:
            bind_common_slots(tracer)
            if workload.instrument:
                workload.instrument(tracer)
        runner.phase("workload seeded")
        runner.warm_up(workload.ops, workload.warmup_rounds)
        runner.measure(workload.ops, args.seconds, workload.min_rounds, workload.fixed_rounds, bool(args.trace))
        for name, check in workload.final_checks:
            runner.record_check(name, check)
        runner.report()
        attempted, failed = runner.counts()
        if args.trace:
            metrics = per_layer(runner, tracer, workload)
            traces = os.path.join(work, "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(
                os.path.join(traces, f"{args.workload}-seed{args.seed}-{os.getpid()}.json"),
                {"workload": args.workload, "seed": args.seed, "profile": profile, "jobs": runner.jobs,
                 "writes": runner.writes},
            )
        else:
            metrics = {"setup_s": runner.setup_s, **runner.end_to_end(runner.samples),
                       "peak_rss_mb": runner.peak_rss_mb(), "heap_live_mb": runner.heap_live_mb()}
    finally:
        tracer.uninstall()
        stop_spark(spark)
    units = load_units()
    for name, value in sorted({**metrics, "failed_share": failed / attempted}.items()):
        print(f"perfbench: {args.workload} {name} = {value:.6g} {units[name]}", file=sys.stderr)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
