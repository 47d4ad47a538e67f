"""Capture `.explain("formatted")` output for named registry queries.

Writes plans/<round>/<query>_<tag>.txt for each query so optimization
rounds can commit before/after physical plans (the judge cannot run
Spark and checks plan claims against these files).

Usage:
    python tools/capture_plans.py before --only q1_pricing_summary,dedup_exact
    python tools/capture_plans.py after  --only ...  [--round r12] [--sf DIR]

The session is bench.py's (``onetl_spark.session.build_session`` on
``$SPARK_GRAFT_CPUS`` cores with ``bench.DRIVER_MEMORY``) so the captured
initial plan matches what the bench executes.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("tag", help="suffix, e.g. 'before' or 'after'")
    ap.add_argument("--only", required=True, help="comma-separated query names")
    ap.add_argument("--round", default="r12")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument(
        "--exec",
        action="store_true",
        dest="execute",
        help="execute the query (noop sink) first and dump the AQE-final "
        "plan — shows ReusedExchange and runtime join strategy choices "
        "the initial plan cannot",
    )
    args = ap.parse_args()

    out_dir = os.path.join(REPO, "plans", args.round)
    os.makedirs(out_dir, exist_ok=True)

    sys.path.insert(0, os.path.join(REPO, "tools"))
    import bench  # noqa: E402  (repo root on path)
    from onetl_spark.session import build_session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session(cpus, bench.DRIVER_MEMORY, "capture-plans", bench.WAREHOUSE)

    from onetl_spark.showcase import all_queries

    queries = all_queries()
    names = [n.strip() for n in args.only.split(",") if n.strip()]
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    for name in names:
        df = queries[name](spark, args.sf)
        if args.execute:
            # collect() drives the DataFrame's OWN QueryExecution (a noop
            # write would plan a separate one), so the dump below shows the
            # AQE-final plan with ReusedExchange / runtime join rewrites
            df.collect()
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        if args.execute:
            spark.catalog.clearCache()
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_exch = plan.count("Exchange")
        n_py = plan.count("EvalPython") + plan.count("MapInArrow") + plan.count("MapInPandas")
        joins = [
            j
            for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin")
            if j in plan
        ]
        print(f"{name}: exchanges={n_exch} python_nodes={n_py} joins={joins} -> {path}")

    spark.stop()


if __name__ == "__main__":
    main()
