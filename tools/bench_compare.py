"""Compare two full-bench JSON files per query (canary-normalized).

Usage:
    python tools/bench_compare.py BENCH_close_r12_full.json BENCH_close_r12_fullb.json
"""

from __future__ import annotations

import json
import sys


def main() -> None:
    a, b = sys.argv[1], sys.argv[2]
    da, db = json.load(open(a)), json.load(open(b))
    qa, qb = da["queries"], db["queries"]
    common = sorted(set(qa) & set(qb))
    def canary_timings(d):
        c = d.get("canary", [])
        if isinstance(c, dict):
            c = c.get("timings", [])
        return [x for x in c if isinstance(x, (int, float))]

    ca = canary_timings(da)
    cb = canary_timings(db)

    def med(xs):
        xs = sorted(xs)
        return xs[len(xs) // 2] if xs else None

    print(f"{a}: {da['value']}s / {len(qa)} queries, canary median {med(ca)}")
    print(f"{b}: {db['value']}s / {len(qb)} queries, canary median {med(cb)}")
    sa = sum(qa[n] for n in common)
    sb = sum(qb[n] for n in common)
    print(f"common set ({len(common)}): {sa:.1f}s -> {sb:.1f}s = {sb / sa:.3f}x nominal")
    if med(ca) and med(cb):
        cn = (sb / sa) / (med(cb) / med(ca))
        print(f"canary-normalized: {cn:.3f}x")
    deltas = sorted(common, key=lambda n: qb[n] - qa[n])
    print("\ntop improvements (s):")
    for n in deltas[:20]:
        print(f"  {qa[n]:7.2f} -> {qb[n]:7.2f}  ({qb[n] - qa[n]:+.2f})  {n}")
    ra, rb = da.get("records", {}), db.get("records", {})
    print("\ntop risers (s):")
    for n in deltas[-12:]:
        rec = ""
        if n in ra and n in rb:  # more jobs: a new barrier; more driver gap: driver work or a stall
            rec = f"  jobs {rb[n]['jobs'] - ra[n]['jobs']:+d}  driver_gap_s {rb[n]['driver_gap_s'] - ra[n]['driver_gap_s']:+.2f}"
        print(f"  {qa[n]:7.2f} -> {qb[n]:7.2f}  ({qb[n] - qa[n]:+.2f})  {n}{rec}")
    extra = sorted(set(qb) - set(qa))
    if extra:
        print(f"\nnew queries ({len(extra)}): {sum(qb[n] for n in extra):.1f}s total")


if __name__ == "__main__":
    main()
