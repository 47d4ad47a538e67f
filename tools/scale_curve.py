"""Empirical scale-curve measurement of the expensive operator families.

Every 100-TB scale claim in this repo rests on plan-shape reading
(bounded collects, one-shuffle-per-round iteration, banded LSH instead
of all-pairs). This tool is the empirical check: time each family at
sf0.01 / sf0.1 / sf1 on SAME-GENERATOR data (tools/gen_testdata.py) with
bench.py's timing (``bench.time_query``: noop sink, one untimed warm-up,
median of --reps) and report the per-decade scaling exponent

    alpha = log(t_hi / t_lo) / log(rows_hi / rows_lo)

computed against the family's DRIVING table (the one whose cardinality
the operator's work is proportional to), because the synthetic tables
scale at different rates (embeddings floor at 500 rows, documents at
500, etc.). alpha ~ 1 is linear; alpha <~ 0.35 at the small end usually
means fixed per-job overhead still dominates; anything super-linear
beyond shuffle-log growth (alpha >> 1.15 on the sf0.1 -> sf1 leg, where
compute dominates overhead) is flagged for investigation.

Usage:
    python tools/gen_testdata.py 1.0 && python tools/gen_testdata.py 0.1 \
        && python tools/gen_testdata.py 0.01
    python tools/scale_curve.py [--reps 2] [--families a,b,c]

Writes SCALE_CURVE.json and prints a markdown table for BENCH_NOTES.
"""

from __future__ import annotations

import json
import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DATA = os.path.join(REPO, ".scratch", "testdata")
SFS = ["sf0.01", "sf0.1", "sf1"]

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
    # r10 screen graduates (flagged >12x by tools/scale_screen.py)
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


def table_rows(spark, sf_dir: str, table: str) -> int:
    from onetl_spark.connections.catalog import read_table

    return read_table(spark, sf_dir, table).count()


def main() -> None:
    global SFS
    reps = 2
    only = None
    args = sys.argv[1:]
    while args:
        a = args.pop(0)
        if a == "--reps":
            reps = int(args.pop(0))
        elif a == "--families":
            only = set(args.pop(0).split(","))
        elif a == "--sfs":
            # e.g. --sfs sf0.1,sf1,sf3 for a higher third scale point
            # (r10 verdict task 5: adjudicate near-linear shapes with a
            # larger leg instead of extrapolating from sf1)
            SFS = args.pop(0).split(",")

    from onetl_spark.session import build_session

    spark = build_session(int(os.environ.get("SPARK_GRAFT_CPUS", "32")), "24g", "scale-curve")

    import __spark_entry__ as entry
    import bench

    queries = entry.queries()
    fams = {k: v for k, v in FAMILIES.items() if only is None or k in only}

    rows = {
        sf: {t: table_rows(spark, os.path.join(DATA, sf), t)
             for t in {t for _, t in fams.values()}}
        for sf in SFS
    }
    print("driving-table rows:", json.dumps(rows))

    results: dict[str, dict] = {}
    for fam, (qname, table) in fams.items():
        fn = queries[qname]
        times = {}
        for sf in SFS:
            seconds, record = bench.time_query(spark, fn, os.path.join(DATA, sf), reps)
            times[sf] = round(seconds, 3)
            print(f"{fam} [{qname}] {sf}: {times[sf]}s {record.details()}")
        exps = {}
        for lo, hi in zip(SFS, SFS[1:]):
            r = rows[hi][table] / rows[lo][table]
            if r > 1 and times[lo] > 0:
                exps[f"{lo}->{hi}"] = round(
                    math.log(times[hi] / times[lo]) / math.log(r), 3)
            else:
                exps[f"{lo}->{hi}"] = None  # table doesn't scale on this leg
        results[fam] = {
            "query": qname, "driving_table": table,
            "times_sec": times, "exponents": exps,
        }

    path = os.path.join(REPO, "SCALE_CURVE.json")
    out = {"rows": rows, "families": results, "reps": reps}
    if only is not None and os.path.exists(path):
        # partial run: merge into the existing curve instead of clobbering
        # the families not re-measured
        with open(path) as f:
            prev = json.load(f)
        merged = dict(prev.get("families", {}))
        merged.update(results)
        out = {"rows": rows, "families": merged, "reps": reps}
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"\nwrote {path}\n")

    legs = [f"a({lo.replace('sf','')}->{hi.replace('sf','')})" for lo, hi in zip(SFS, SFS[1:])]
    print("| family | query | table | " + " | ".join(SFS + legs) + " |")
    print("|---" * (3 + len(SFS) + len(legs)) + "|")
    for fam, r in results.items():
        t = r["times_sec"]
        e = r["exponents"]
        cells = [str(t[sf]) for sf in SFS] + [str(e[f"{lo}->{hi}"]) for lo, hi in zip(SFS, SFS[1:])]
        print(f"| {fam} | {r['query']} | {r['driving_table']} | " + " | ".join(cells) + " |")


if __name__ == "__main__":
    main()
