"""One timing tool: solo timings, the registry-wide scale screen and the
family scale curves.

Every reading is a (query, SF) pair timed by ``bench.time_query`` (one
untimed compile run, then the median of ``--reps`` noop-sink runs) and
carries that run's record (jobs, stages, tasks, executor CPU/GC, shuffle,
spill, driver gap): on stderr, and in ``screen`` and ``curve`` also in
the output file. The modes differ only in which pairs they time and what
they compute:

solo    the ``--only`` queries at one SF, ``bench.CANARY`` first and last
        for drift normalization; prints one JSON line of seconds.
screen  every HEADLINE query (or ``--only``) once at sf0.1 and sf1; flags
        ``t(sf1) / max(t(sf0.1), 0.05)`` > ``--flag-ratio`` when t(sf1) >
        ``--abs-floor`` s (tables grow 10x, so linear sits near 10x).
        Readings include the query's own compile run, where screens before
        this tool warmed only q1_pricing_summary once per SF: a screen takes
        about twice as long, and its ratio no longer carries SF-independent
        Janino time. Writes SCALE_SCREEN.json.
curve   FAMILIES (or ``--only`` families or queries) at sf0.01, sf0.1, sf1;
        per-leg exponents ``log(t_hi / t_lo) / log(rows_hi / rows_lo)``
        against the family's driving table, none where it does not grow.
        ~1 is linear, >>1.15 on sf0.1 -> sf1 needs a look. Writes
        SCALE_CURVE.json and prints a markdown table.

A run with ``--only`` merges into the file: its readings replace the old
ones, and a re-screened or errored query loses its old flag. ``--sf`` takes
SF directories; a bare name like ``sf1`` is read under .scratch/testdata
(``tools/gen_testdata.py``). Solo's default is ``$SPARK_GRAFT_SF_DIR`` or
/root/testdata/sf0.1. Cores: ``$SPARK_GRAFT_CPUS``; memory:
``bench.DRIVER_MEMORY``.

Usage:
    python tools/timing.py solo --only dedup_simhash,supplier_pagerank [--reps 3]
    python tools/timing.py screen [--only a,b] [--flag-ratio 12] [--abs-floor 3]
    python tools/timing.py curve [--only kmeans,bm25] [--sf sf0.1,sf1,sf3]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from onetl_spark.showcase import registered  # noqa: E402

DATA = os.path.join(REPO, ".scratch", "testdata")
QUERIES = registered()
SCREEN_PATH = os.path.join(REPO, "SCALE_SCREEN.json")
CURVE_PATH = os.path.join(REPO, "SCALE_CURVE.json")
# mode -> (default SFs, default reps)
DEFAULTS = {
    "solo": ([os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")], 3),
    "screen": (["sf0.1", "sf1"], 1),
    "curve": (["sf0.01", "sf0.1", "sf1"], 2),
}
# below this, a single-shot sf0.1 reading is noise, not a denominator
SCREEN_FLOOR_S = 0.05

# family -> (query name, driving table)
FAMILIES = {
    "minhash_lsh_components": ("dedup_savings_report", "documents"),
    "pagerank_weighted": ("supplier_pagerank_weighted", "lineitem"),
    "personalized_pagerank": ("supplier_personalized_pagerank", "lineitem"),
    "weighted_sssp": ("part_weighted_sssp", "lineitem"),
    "diameter_sweep": ("supplier_diameter_sweep", "lineitem"),
    "hits": ("customer_supplier_hits", "lineitem"),
    "bradley_terry": ("brand_bradley_terry", "lineitem"),
    "block_pca": ("embedding_second_component", "embeddings"),
    "budget_trim": ("corpus_budget_trim", "documents"),
    "ecdf_drift": ("events_value_anderson_darling", "events"),
    "streaming_join": ("streaming_left_outer_join", "events"),
    "kmeans": ("embedding_kmeans_clusters", "embeddings"),
    # r10 additions
    "retrieval_eval": ("ann_recall_by_label", "embeddings"),
    "unicode_hygiene": ("doc_script_mix_profile", "documents"),
    # r10 second batch: next cost tier + known quadratic-in-block shapes
    "minhash_lsh": ("dedup_minhash_lsh", "documents"),
    "semantic_near_dup": ("semantic_near_dup", "embeddings"),
    "corpus_pipeline": ("training_corpus_pipeline", "documents"),
    "sessionization": ("events_sessionization", "events"),
    "bm25": ("corpus_bm25_topk", "documents"),
    "winnowing": ("doc_winnow_overlap", "documents"),
    "scd2": ("user_state_scd2", "events"),
    "tpch_join_heavy": ("q9_profit_by_nation_year", "lineitem"),
    "streaming_stateful": ("streaming_value_histogram", "events"),
    "lm_transfer": ("source_lm_transfer_matrix", "documents"),
    "semantic_near_dup_banded": ("semantic_near_dup_banded", "embeddings"),
    # r10 screen graduates (flagged >12x by the screen)
    "exact_label_near_dup": ("embedding_near_dup_pairs", "embeddings"),
    "dim_health": ("embedding_dim_health", "embeddings"),
    "seq_mining": ("frequent_event_sequences", "events"),
    "pq_topk": ("ann_pq_topk", "embeddings"),
    "ann_mrr": ("ann_mrr", "embeddings"),
    # r10 third batch: the session's new classes
    "dsir": ("dsir_importance_scores", "documents"),
    "changepoint": ("events_cusum_drift", "events"),
    # r11 new classes
    "calibration": ("events_score_calibration_report", "events"),
    "incremental_dedup": ("incremental_dedup_verdicts", "documents"),
}


def sf_name(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/"))


def read(spark, pairs: list[tuple[str, str]], reps: int) -> list[tuple]:
    """The one timing loop: each (query, sf_dir) pair through
    ``bench.time_query``. Returns ``(query, sf, seconds, record, error)``
    per pair in order; a failed reading has only its error."""
    readings = []
    for name, sf_dir in pairs:
        sf = sf_name(sf_dir)
        try:
            seconds, record = bench.time_query(spark, QUERIES[name].fn, sf_dir, reps)
        except Exception as e:  # noqa: BLE001 — one failed reading must not end the run
            spark.catalog.clearCache()
            error = f"{type(e).__name__}: {e}"[:200]
            readings.append((name, sf, None, None, error))
            print(f"  {name} {sf}: ERROR {error}", file=sys.stderr, flush=True)
            continue
        readings.append((name, sf, round(seconds, 3), record.as_dict(), None))
        print(f"  {name} {sf}: {seconds:.3f}s {record.details()}", file=sys.stderr, flush=True)
    return readings


def nest(readings: list[tuple]) -> dict:
    """Readings as ``{"timings" | "records" | "errors": {query: {sf: value}}}``."""
    out = {"timings": {}, "records": {}, "errors": {}}
    for name, sf, *values in readings:
        for key, value in zip(out, values):
            if value is not None:
                out[key].setdefault(name, {})[sf] = value
    return out


def flag(t_lo: float, t_hi: float, flag_ratio: float, abs_floor: float) -> float | None:
    """The screen's growth ratio, rounded, when it flags the query; else None."""
    ratio = t_hi / max(t_lo, SCREEN_FLOOR_S)
    return round(ratio, 2) if ratio > flag_ratio and t_hi > abs_floor else None


def exponents(times: dict, rows: dict, table: str, sfs: list[str]) -> dict:
    """Per-leg scaling exponent against the driving table's growth; None
    where the table does not grow or a reading is missing."""
    exps = {}
    for lo, hi in zip(sfs, sfs[1:]):
        r = rows[hi][table] / rows[lo][table]
        ok = r > 1 and times.get(lo, 0) > 0 and times.get(hi, 0) > 0
        exps[f"{lo}->{hi}"] = round(math.log(times[hi] / times[lo]) / math.log(r), 3) if ok else None
    return exps


def merge_screen(prev: dict | None, run: dict) -> dict:
    """A full screen replaces the file; a partial one (``prev`` given)
    merges its readings in and drops the old flag of every query it
    re-screened, errored ones included (a stale flag surviving an error
    reads as a still-open scale risk)."""
    if prev is None:
        return run
    out = dict(prev)
    for key in ("timings", "records", "errors"):
        out[key] = {**prev.get(key, {}), **run[key]}
    rescreened = set(run["timings"]) | set(run["errors"])
    out["flagged"] = [f for f in prev.get("flagged", []) if f["query"] not in rescreened] + run["flagged"]
    return out


def merge_curve(prev: dict | None, run: dict) -> dict:
    """A full curve replaces the file; a partial one keeps the families it
    did not re-measure (rows and reps are the new run's)."""
    if prev is None:
        return run
    return {**run, "families": {**prev.get("families", {}), **run["families"]}}


def write(path: str, merge, run: dict, partial: bool) -> None:
    prev = None
    if partial and os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
    with open(path, "w") as f:
        json.dump(merge(prev, run), f, indent=1)
    print(f"wrote {path}")


def solo(spark, args) -> None:
    canary = [bench.CANARY] if bench.CANARY else []
    readings = read(spark, [(n, args.sf_dirs[0]) for n in canary + args.names + canary], args.reps)
    keys = ["canary_first"] * len(canary) + args.names + ["canary_last"] * len(canary)
    print(json.dumps({k: r[2] for k, r in zip(keys, readings)}))
    if any(r[4] for r in readings):
        raise SystemExit(1)


def screen(spark, args) -> None:
    lo, hi = sf_name(args.sf_dirs[0]), sf_name(args.sf_dirs[-1])
    run = {"flag_ratio": args.flag_ratio, "abs_floor": args.abs_floor,
           **nest(read(spark, [(n, d) for d in args.sf_dirs for n in args.names], args.reps))}
    ratios = {n: flag(t[lo], t[hi], args.flag_ratio, args.abs_floor)
              for n, t in run["timings"].items() if lo in t and hi in t}
    # each flag records the thresholds it was computed under, so a merged
    # file cannot silently mix regimes (r10 advice)
    run["flagged"] = sorted(
        ({"query": n, lo: run["timings"][n][lo], hi: run["timings"][n][hi], "ratio": r,
          "flag_ratio": args.flag_ratio, "abs_floor": args.abs_floor}
         for n, r in ratios.items() if r is not None),
        key=lambda f: -f["ratio"])
    write(SCREEN_PATH, merge_screen, run, partial=bool(args.only))

    print(f"\nscreened {len(run['timings'])} queries; {len(run['errors'])} errored; "
          f"{len(run['flagged'])} flagged (> {args.flag_ratio}x and > {args.abs_floor}s at {hi})")
    for f in run["flagged"]:
        print(f"  {f['query']}: {f[lo]}s -> {f[hi]}s ({f['ratio']}x)")


def driving_rows(spark, sf_dirs: list[str], tables: set[str]) -> dict:
    from onetl_spark.connections.catalog import read_table

    return {sf_name(d): {t: read_table(spark, d, t).count() for t in tables} for d in sf_dirs}


def curve(spark, args) -> None:
    fams = {f: q for f, q in FAMILIES.items() if not args.only or f in args.only or q[0] in args.only}
    sfs = [sf_name(d) for d in args.sf_dirs]
    rows = driving_rows(spark, args.sf_dirs, {t for _, t in fams.values()})
    print("driving-table rows:", json.dumps(rows))
    got = nest(read(spark, [(q, d) for q, _ in fams.values() for d in args.sf_dirs], args.reps))
    results = {}
    for fam, (query, table) in fams.items():
        times = got["timings"].get(query, {})
        results[fam] = {"query": query, "driving_table": table, "times_sec": times,
                        "exponents": exponents(times, rows, table, sfs),
                        "records": got["records"].get(query, {})}
        if query in got["errors"]:
            results[fam]["errors"] = got["errors"][query]
    write(CURVE_PATH, merge_curve, {"rows": rows, "families": results, "reps": args.reps},
          partial=bool(args.only))

    legs = [f"a({lo[2:]}->{hi[2:]})" for lo, hi in zip(sfs, sfs[1:])]
    print("| family | query | table | " + " | ".join(sfs + legs) + " |")
    print("|---" * (3 + len(sfs) + len(legs)) + "|")
    for fam, r in results.items():
        cells = [str(r["times_sec"].get(sf)) for sf in sfs] + [str(e) for e in r["exponents"].values()]
        print(f"| {fam} | {r['query']} | {r['driving_table']} | " + " | ".join(cells) + " |")
    if got["errors"]:
        raise SystemExit(1)


MODES = {"solo": solo, "screen": screen, "curve": curve}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("mode", choices=MODES)
    ap.add_argument("--only", help="comma-separated query names (curve: also family names)")
    ap.add_argument("--reps", type=int, help="timed runs per reading (default: solo 3, screen 1, curve 2)")
    ap.add_argument("--sf", help="comma-separated SF directories or names under .scratch/testdata")
    ap.add_argument("--flag-ratio", type=float, default=12.0)
    ap.add_argument("--abs-floor", type=float, default=3.0)
    args = ap.parse_args()

    default_sfs, default_reps = DEFAULTS[args.mode]
    args.reps = args.reps or default_reps
    args.sf_dirs = [sf if os.sep in sf else os.path.join(DATA, sf)
                    for sf in (args.sf.split(",") if args.sf else default_sfs)]
    args.only = args.only.split(",") if args.only else None
    args.names = [n for n in args.only if n in QUERIES] if args.only else bench.HEADLINE
    unknown = set(args.only or ()) - set(QUERIES) - (set(FAMILIES) if args.mode == "curve" else set())
    if unknown:
        raise SystemExit(f"unknown queries: {sorted(unknown)}")
    if args.mode == "solo" and (not args.only or len(args.sf_dirs) != 1):
        raise SystemExit("solo needs --only and one --sf")

    from onetl_spark.session import build_session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session(cpus, bench.DRIVER_MEMORY, f"timing-{args.mode}", bench.WAREHOUSE)
    try:
        MODES[args.mode](spark, args)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
