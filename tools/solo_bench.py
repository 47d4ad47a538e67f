"""Solo per-query timing with bench.py methodology on a fresh JVM.

For adjudicating individual query timings outside the full bench window:
same session config, same timing (``bench.time_query``: one untimed
JVM-warm run, then the median of --reps timed noop-sink runs), with the
canary timed first and last so readings can be drift-normalized. Each
query's run record (jobs, stages, tasks, executor CPU/run/GC, shuffle,
spill, driver gap) goes to stderr beside its time.

Usage:
    python tools/solo_bench.py --only dedup_simhash,supplier_pagerank [--reps 3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", required=True)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--no-canary", action="store_true")
    args = ap.parse_args()

    import bench
    from onetl_spark.session import build_session

    spark = build_session(args.cpus, bench.DRIVER_MEMORY, "solo-bench", bench.WAREHOUSE)
    from onetl_spark.showcase import all_queries

    queries = all_queries()
    names = [n.strip() for n in args.only.split(",") if n.strip()]
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    def timed(name: str) -> float:
        seconds, record = bench.time_query(spark, queries[name], args.sf, args.reps)
        print(f"  {name}: {seconds:.3f}s {record.details()}", file=sys.stderr)
        return round(seconds, 3)

    out: dict[str, float] = {}
    if not args.no_canary:
        out["canary_first"] = timed("q1_pricing_summary")
    for name in names:
        out[name] = timed(name)
    if not args.no_canary:
        out["canary_last"] = timed("q1_pricing_summary")
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
