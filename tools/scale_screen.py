"""Full-registry empirical scale screening.

`tools/scale_curve.py` measures chosen families precisely (3 SFs,
medians, exponents). This tool is the WIDE net: run every HEADLINE
query ONCE at sf0.1 and ONCE at sf1 on same-generator data and flag
anything whose wall-clock grows faster than the data. It exists to
catch the shapes nobody nominated — the r10 deep sweep found two real
quadratic designs (fractional eval panel, fraction-of-corpus centroid
set) in the 25 nominated families; this screens the other ~280.

Flag rule: ratio = t(sf1) / max(t(sf0.1), floor). The biggest table
grows 10× between these SFs (most grow exactly 10×, embeddings 10×,
documents 10×), so a sub-linear-or-linear query should sit well under
10× even with log factors; single-shot noise on sub-second queries is
large, so the screen flags ratio > FLAG_RATIO only when t(sf1) also
exceeds ABS_FLOOR seconds (a slow-but-tiny query is not a scale risk).
Flagged queries graduate to scale_curve.py for a median-of-N,
3-point exponent before any conclusion is drawn.

Usage: python tools/scale_screen.py [--flag-ratio 12] [--abs-floor 3]
       [--only name1,name2]   # screen a subset (e.g. queries added after
                              # a full screen); merges into SCALE_SCREEN.json
NOTE the baseline: a LINEAR query over a 10x-growing table shows ~10x —
the default flag of 12x means "beyond linear plus margin", not "slow".
Writes SCALE_SCREEN.json; prints flagged queries.

Each timed run sits in a ``SparkMetricsRecorder`` block whose record
(jobs, stages, executor CPU, GC, spill, driver gap) lands under the
file's ``records`` key per query and SF, so a flag can be read as more
work, a new barrier or a host stall. DataFrame caches are cleared after
every query, so one query's persisted intermediates cannot speed up or
thrash the next; readings taken before that are not directly comparable.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DATA = os.path.join(REPO, ".scratch", "testdata")
SFS = ["sf0.1", "sf1"]


def main() -> None:
    flag_ratio = 12.0
    abs_floor = 3.0
    only = None
    args = sys.argv[1:]
    while args:
        a = args.pop(0)
        if a == "--flag-ratio":
            flag_ratio = float(args.pop(0))
        elif a == "--abs-floor":
            abs_floor = float(args.pop(0))
        elif a == "--only":
            only = set(args.pop(0).split(","))

    from onetl_spark.metrics import SparkMetricsRecorder
    from onetl_spark.session import build_session

    spark = build_session(int(os.environ.get("SPARK_GRAFT_CPUS", "32")), "24g", "scale-screen")

    import bench
    import __spark_entry__ as entry

    queries = entry.queries()
    names = [n for n in bench.HEADLINE if not only or n in only]
    timings: dict[str, dict] = {}
    records: dict[str, dict] = {}
    errors: dict[str, dict] = {}

    for sf in SFS:
        sf_dir = os.path.join(DATA, sf)
        # one warm-up to absorb first-scan/codegen costs per dataset
        bench.execute_fully(queries["q1_pricing_summary"](spark, sf_dir))
        for i, name in enumerate(names):
            try:
                with SparkMetricsRecorder(spark) as recorder:
                    t0 = time.monotonic()
                    bench.execute_fully(queries[name](spark, sf_dir))
                    dt = round(time.monotonic() - t0, 3)
                    recorder.drain()
                timings.setdefault(name, {})[sf] = dt
                records.setdefault(name, {})[sf] = recorder.metrics().as_dict()
            except Exception as e:  # noqa: BLE001
                errors.setdefault(name, {})[sf] = f"{type(e).__name__}: {e}"[:200]
            spark.catalog.clearCache()
            if (i + 1) % 40 == 0:
                print(f"[{sf}] {i + 1}/{len(names)}", flush=True)

    flagged = []
    for name, t in timings.items():
        if SFS[0] in t and SFS[1] in t:
            ratio = t[SFS[1]] / max(t[SFS[0]], 0.05)
            if ratio > flag_ratio and t[SFS[1]] > abs_floor:
                flagged.append((name, t[SFS[0]], t[SFS[1]], round(ratio, 2)))
    flagged.sort(key=lambda x: -x[3])

    out_path = os.path.join(REPO, "SCALE_SCREEN.json")
    # every flag entry records the thresholds it was computed under, so a
    # merged file can't silently mix regimes (r10 advice)
    new_flags = [
        {
            "query": n,
            "sf0.1": a,
            "sf1": b,
            "ratio": r,
            "flag_ratio": flag_ratio,
            "abs_floor": abs_floor,
        }
        for n, a, b, r in flagged
    ]
    if only and os.path.exists(out_path):
        # subset run: merge the new readings into the existing full screen
        with open(out_path) as f:
            out = json.load(f)
        out["timings"].update(timings)
        out.setdefault("records", {}).update(records)
        out.setdefault("errors", {}).update(errors)
        # drop prior flags for anything re-screened this run — including
        # queries that ERRORED (they land in `errors`, not `timings`; a
        # stale flag surviving an error reads as a still-open scale risk)
        rescreened = set(timings) | set(errors)
        prior = [f for f in out.get("flagged", []) if f["query"] not in rescreened]
        out["flagged"] = prior + new_flags
    else:
        out = {
            "flag_ratio": flag_ratio,
            "abs_floor": abs_floor,
            "timings": timings,
            "records": records,
            "errors": errors,
            "flagged": new_flags,
        }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)

    print(f"\nscreened {len(timings)} queries; {len(errors)} errored; "
          f"{len(flagged)} flagged (> {flag_ratio}x and > {abs_floor}s at sf1)")
    for n, a, b, r in flagged:
        print(f"  {n}: {a}s -> {b}s ({r}x)")
    for n, e in errors.items():
        print(f"  ERROR {n}: {e}")


if __name__ == "__main__":
    main()
