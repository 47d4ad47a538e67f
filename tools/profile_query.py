"""Empirical per-job/per-stage profile of a registry query (guide §1.1).

Runs the query once warm, then once instrumented, and prints a per-job
breakdown: stage and task counts, executor CPU, run and GC time, shuffle
read/write bytes — the "where does the time actually go" view the Spark
UI would give, usable headlessly.

Usage:
    python tools/profile_query.py supplier_pagerank [--sf DIR] [--cpus N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    from py4j.protocol import Py4JJavaError

    import bench
    from onetl_spark.session import build_session

    spark = build_session(args.cpus, bench.DRIVER_MEMORY, "profile-query", bench.WAREHOUSE)
    sc = spark.sparkContext

    from onetl_spark.showcase import all_queries

    queries = all_queries()
    fn = queries[args.query]

    # warm (JVM/codegen)
    bench.execute_fully(fn(spark, args.sf))
    spark.catalog.clearCache()

    # Status-tracker-based profile: snapshot job/stage info after the run.
    # Use a dedicated job group so only this run's jobs are counted
    # (CLAUDE.md: never delta the default job-group id list).
    group = f"profile-{args.query}"
    sc.setJobGroup(group, args.query)
    t0 = time.perf_counter()
    bench.execute_fully(fn(spark, args.sf))
    wall = time.perf_counter() - t0
    sc.setJobGroup(None, None)
    spark.catalog.clearCache()

    # Per-stage metrics from the AppStatusStore (filled in with the UI
    # off): executor CPU is nanoseconds, run and GC time milliseconds.
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = sorted(tracker.getJobIdsForGroup(group))
    keys = ("stages", "tasks", "cpu_ms", "run_ms", "gc_ms", "shuffle_read", "shuffle_write")
    total = dict.fromkeys(keys, 0)
    rows = []
    for jid in job_ids:
        jinfo = tracker.getJobInfo(jid)
        if jinfo is None:
            continue
        row = dict.fromkeys(keys, 0)
        for sid in jinfo.stageIds:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            row["stages"] += 1
            row["tasks"] += sd.numTasks()
            row["cpu_ms"] += sd.executorCpuTime() // 1_000_000
            row["run_ms"] += sd.executorRunTime()
            row["gc_ms"] += sd.jvmGcTime()
            row["shuffle_read"] += sd.shuffleReadBytes()
            row["shuffle_write"] += sd.shuffleWriteBytes()
        for k in keys:
            total[k] += row[k]
        rows.append({"job": jid, **row})
    print(
        f"query={args.query} wall={wall:.3f}s jobs={len(job_ids)} "
        + " ".join(f"{k}={v}" for k, v in total.items())
    )
    # compact per-job line
    print(json.dumps(rows))

    spark.stop()


if __name__ == "__main__":
    main()
