"""Magnitude lint: find registry queries where 9-dp rounding is a no-op.

The repo's float discipline rounds emitted doubles to 9 dp so both
engines land on the same double. That silently stops working above ~1e6
magnitude: a 1.4e7 double has no 9th decimal place inside double
precision, so cross-engine last-ULP arithmetic drift survives to the
output (r10: `events_value_changepoint`, the registry's only driver-red
row). This lint runs every query's DuckDB oracle at sf0.01 and flags any
REAL-valued output column whose max |value| ≥ THRESHOLD — exactly the
rows where the 9-dp rule is inert and a significant-digit discipline
(`spark_utils.fsig`, the float32 round-trip) or a magnitude-bounded
reformulation (per-point MSE, ratios) is required.

Adjudication notes recorded per flag:
- ``int_valued`` — every flagged value is integral. Typically an exact
  decimal-sum (dsum) cast to double: both engines cast the SAME decimal,
  so the value is engine-stable despite its magnitude. Safe, but verify
  the provenance is a decimal cast, not double arithmetic.
- otherwise the column carries fractional parts above 1e6 — double
  arithmetic at a magnitude where round(x, 9) cannot canonicalize it.
  Fix the query (fsig / rescale) unless the value provably comes from a
  single exact decimal→double cast.

Queries with no oracle entry are executed on the Spark side instead
(rows-only queries still emit doubles the driver hashes).

Usage: python tools/magnitude_lint.py [--threshold 1e6]
       [--only name1,name2] [--oracle-timeout 120] [--sf DIR]
Writes MAGNITUDE_LINT.json (merging per-query results on --only runs).
"""

from __future__ import annotations

import json
import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from driver_parity import load_entry, oracle_side  # noqa: E402

OUT = os.path.join(REPO, "MAGNITUDE_LINT.json")


def _dp6_exact(v: float) -> bool:
    """True when v is exactly the double nearest a 6-dp decimal — the
    signature of a dsum/decimal(…,≤6)→double cast, which is engine-stable
    at any magnitude (both engines cast the SAME decimal). Heuristic:
    loses discrimination above ~1e10 where double eps exceeds the grid."""
    from decimal import ROUND_HALF_EVEN, Decimal

    d = Decimal(v)
    return float(d.quantize(Decimal("1e-6"), rounding=ROUND_HALF_EVEN)) == v


def _column_stats(names, columns):
    """Per column holding finite floats: max |value| and exactness hints."""
    stats = {}
    for name, vals in zip(names, columns):
        finite = [
            v
            for v in vals
            if isinstance(v, float) and not (math.isnan(v) or math.isinf(v))
        ]
        if not finite:
            continue
        stats[name] = {
            "max_abs": max(abs(v) for v in finite),
            "int_valued": all(v == int(v) for v in finite if abs(v) < 2**53),
            "dp6_exact": all(_dp6_exact(v) for v in finite),
        }
    return stats


def main() -> None:
    threshold = 1e6
    only = None
    oracle_timeout = 120.0
    sf_dir = os.environ.get("SPARK_GRAFT_LINT_SF", "/root/testdata/sf0.01")
    args = sys.argv[1:]
    while args:
        a = args.pop(0)
        if a == "--threshold":
            threshold = float(args.pop(0))
        elif a == "--only":
            only = set(args.pop(0).split(","))
        elif a == "--oracle-timeout":
            oracle_timeout = float(args.pop(0))
        elif a == "--sf":
            sf_dir = args.pop(0)

    mod = load_entry()
    queries = mod.queries()
    oracles = mod.oracle_sql()
    names = [n for n in queries if only is None or n in only]

    results: dict[str, dict] = {}
    spark = None
    for i, name in enumerate(names):
        sql = oracles.get(name)
        entry: dict = {"source": "oracle" if sql else "spark", "flags": {}}
        try:
            if sql:
                got = oracle_side(sql, sf_dir, oracle_timeout)
            else:
                if spark is None:
                    from onetl_spark.session import build_session

                    spark = build_session(8, "8g", "magnitude-lint")
                df = queries[name](spark, sf_dir)
                got = df.columns, df.collect()
            if got is None:
                entry["status"] = "ORACLE-SLOW"
            else:
                # only float values count: decimals and integers are exact
                stats = _column_stats(got[0], zip(*got[1]))
                entry["flags"] = {c: s for c, s in stats.items() if s["max_abs"] >= threshold}
                entry["status"] = "OK"
        except Exception as e:  # noqa: BLE001 — lint must finish the sweep
            entry["status"] = "ERROR"
            entry["error"] = f"{type(e).__name__}: {e}"[:300]
        results[name] = entry
        mark = " FLAG" if entry["flags"] else ""
        print(f"  [{i:3d}] {name:45s} {entry['status']}{mark}", flush=True)

    merged = results
    if only is not None and os.path.exists(OUT):
        with open(OUT) as f:
            prior = json.load(f)
        prior_q = prior.get("queries", {})
        prior_q.update(results)
        merged = prior_q
    payload = {
        "threshold": threshold,
        "sf_dir": sf_dir,
        "queries": merged,
    }
    with open(OUT, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)

    flagged = {n: e for n, e in merged.items() if e.get("flags")}
    frac = {
        n: {
            c: s
            for c, s in e["flags"].items()
            if not (s["int_valued"] or s["dp6_exact"])
        }
        for n, e in flagged.items()
    }
    frac = {n: c for n, c in frac.items() if c}
    print(f"\n{len(flagged)} queries emit REAL columns ≥ {threshold:g} at {sf_dir}")
    print(
        f"{len(frac)} carry values that are neither integral nor on the "
        "6-dp decimal grid there (the risky class — double arithmetic "
        "above the 9-dp rounding horizon):"
    )
    for n, cols in sorted(frac.items()):
        for c, s in cols.items():
            print(f"  {n}.{c}  max|v|={s['max_abs']:.6g}")


if __name__ == "__main__":
    main()
