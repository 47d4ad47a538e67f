"""Compare two full-bench JSON files per query (canary-normalized), and
class each top riser from its two run records: a new barrier (more jobs),
carry-over (more GC, state an earlier query left behind), a host stall
(executor CPU flat, wall up) or more work.

Usage:
    python tools/bench_compare.py BENCH_close_r12_full.json BENCH_close_r12_fullb.json
"""

from __future__ import annotations

import json
import sys

# A change counts only past both its relative and its absolute step, so
# timer jitter on a short query stays "work".
GC_UP = (0.25, 0.10)  # GC seconds up by more than 25% and 0.1 s
CPU_FLAT = (0.10, 0.05)  # executor CPU seconds within 10% or 0.05 s
WALL_UP = (0.10, 0.05)  # wall seconds up by more than 10% and 0.05 s


def classify(a: dict, b: dict) -> str:
    """The class of a riser whose run record went from ``a`` to ``b``."""
    def change(key, step):  # in steps: above 1 is up, within ±1 is flat
        return (b[key] - a[key]) / max(step[0] * a[key], step[1])

    if b["jobs"] > a["jobs"]:
        return "barrier"
    if change("gc_s", GC_UP) > 1:
        return "carry-over"
    if abs(change("executor_cpu_s", CPU_FLAT)) <= 1 and change("wall_s", WALL_UP) > 1:
        return "stall"
    return "work"


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
        cls = classify(ra[n], rb[n]) if n in ra and n in rb else "no record"
        print(f"  {qa[n]:7.2f} -> {qb[n]:7.2f}  ({qb[n] - qa[n]:+.2f})  {cls:10s} {n}")
    extra = sorted(set(qb) - set(qa))
    if extra:
        print(f"\nnew queries ({len(extra)}): {sum(qb[n] for n in extra):.1f}s total")


if __name__ == "__main__":
    main()
