"""Registry-wide output-STABILITY probe: every query run twice in one
session under DIFFERENT ``spark.sql.shuffle.partitions`` (default 16 vs
64), value-multisets diffed at full float precision.

Why: the float discipline (dsum / fsig / round-then-decimal) claims the
emitted values are ORDER-INDEPENDENT — a plain double SUM is not (its
result depends on partitioning), and the DuckDB oracle can never see
Spark's partitioning, so oracle parity alone cannot prove the claim.
Changing the shuffle width changes partition boundaries and therefore
accumulation order everywhere; a query whose hash moves between the two
runs has an order-dependent float path the driver's hash would
eventually catch at some other SF or cluster layout — a real defect,
found directly.

Usage:
    python tools/stability_probe.py [--sf DIR] [--parts 16,64]
                                    [--only a,b,c] [--skip-seconds N]

Writes one line per query (OK / UNSTABLE / ERROR) and exits non-zero if
anything is UNSTABLE. Queries with side-channel state (external stores,
managed tables) are re-executed from scratch per run — their showcase
wrappers already reset state on entry, which this probe exercises too.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from driver_parity import load_entry, multiset  # noqa: E402


def main() -> None:
    sf_dir = "/root/testdata/sf0.01"
    parts = (16, 64)
    only = None
    args = sys.argv[1:]
    while args:
        a = args.pop(0)
        if a == "--sf":
            sf_dir = args.pop(0)
        elif a == "--parts":
            parts = tuple(int(x) for x in args.pop(0).split(","))
        elif a == "--only":
            only = set(args.pop(0).split(","))
        else:
            raise SystemExit(f"unknown arg {a}")
    if len(parts) < 2:
        raise SystemExit("--parts needs at least two widths")

    from onetl_spark.session import build_session

    spark = build_session(8, "8g", "stability-probe")

    mod = load_entry()
    queries = mod.queries()
    names = [n for n in queries if only is None or n in only]
    unstable, errors = [], []
    t_all = time.time()
    for idx, name in enumerate(names):
        t0 = time.time()
        try:
            runs = []
            for p in parts:
                spark.conf.set("spark.sql.shuffle.partitions", str(p))
                df = queries[name](spark, sf_dir)
                runs.append(multiset(df.columns, df.collect()))
            ok = all(r == runs[0] for r in runs[1:])
        except Exception as e:  # noqa: BLE001
            errors.append(name)
            print(
                f"!! [{idx:3d}] {name:42s} ERROR {time.time()-t0:7.1f}s "
                f"{type(e).__name__}: {str(e)[:160]}",
                flush=True,
            )
            continue
        if not ok:
            unstable.append(name)
            # show the first differing row pair for diagnosis
            a, b = runs[0], runs[1]
            diff = next(
                (pair for pair in zip(a, b) if pair[0] != pair[1]),
                (a[-1] if len(a) > len(b) else None, b[-1] if len(b) > len(a) else None),
            )
            print(
                f"!! [{idx:3d}] {name:42s} UNSTABLE {time.time()-t0:6.1f}s\n"
                f"      parts={parts[0]}: {str(diff[0])[:200]}\n"
                f"      parts={parts[1]}: {str(diff[1])[:200]}",
                flush=True,
            )
        else:
            print(
                f"   [{idx:3d}] {name:42s} OK {time.time()-t0:10.1f}s",
                flush=True,
            )
    print(
        f"\n{len(names) - len(unstable) - len(errors)}/{len(names)} stable "
        f"across shuffle widths {parts} at {sf_dir} "
        f"({time.time()-t_all:.0f}s total)"
    )
    if unstable:
        print("UNSTABLE:", ",".join(unstable))
    if errors:
        print("ERROR:", ",".join(errors))
    sys.exit(1 if (unstable or errors) else 0)


if __name__ == "__main__":
    main()
