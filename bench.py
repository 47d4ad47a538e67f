#!/usr/bin/env python
"""Benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query plan is executed fully via the `noop` sink (no driver collect
bottleneck, no output I/O), which is what a 1000-executor run would look
like minus the cluster: timings measure scan + shuffle + compute. The
side file also keeps each query's run record (``records``), so a riser
can be read as a host stall, a new barrier or GC carry-over.
"""

from __future__ import annotations

import json
import os
import sys
import time

from onetl_spark.connections.catalog import TESTDATA_TABLES
from onetl_spark.metrics import SparkCommandMetrics, SparkMetricsRecorder
from onetl_spark.session import build_session
from onetl_spark.showcase import registered

_PLUMBING = "plumbing probe: its wall-clock is API dispatch, not data"
_VARIANT = "early or duplicate variant of a headline entry of the same shape"
_UTILITY = "sub-second utility op that its headline family times at a heavier setting"

# The registry queries the bench leaves out, each with its reason
# (BENCH_NOTES.md "HEADLINE inclusion rule"). Every other registered
# query is benched, so a new query is headlined unless it is named here.
EXCLUDED = {
    **dict.fromkeys([
        "dbreader_window_predicate", "dbreader_minmax_probe", "snapshot_batch_union",
        "incremental_batch_union", "incremental_resume", "partitioned_scan_mod",
        "write_roundtrip_modes", "filedf_csv_roundtrip", "dbreader_has_data",
        "jdbc_live_roundtrip", "jdbc_live_incremental", "bucketed_write_roundtrip",
        "corpus_split_counts", "file_transfer_plan", "file_upload_move_result",
    ], _PLUMBING),
    **dict.fromkeys([
        # classic TPC-H forms whose analytics-extended versions are headlined
        "q6_forecast_revenue", "q14_promo_revenue", "q18_large_volume_customers",
        "q4_order_priority", "q12_priority_shipping", "q13_customer_order_distribution",
        "q15_top_supplier", "q17_small_quantity_revenue", "q19_disjunctive_revenue",
        "q22_inactive_customers", "q8_market_share", "q9_profit_by_nation_year",
        "q16_supplier_part_counts", "q20_bulk_suppliers", "q11_important_parts",
        "q10_returned_item_reporting",
        # the headlined drift/stats family times the same scan
        "events_value_percentiles", "events_value_histogram", "event_value_mad",
        "events_unpivot_counts",
    ], _VARIANT),
    **dict.fromkeys([
        "events_distinct_users_kmv", "events_multires_rollup", "orders_dq_profile",
        "customer_k_anonymity", "orders_expectations", "event_transition_matrix",
        "chi2_type_by_segment", "topk_orders_with_ties", "events_seasonal_decomposition",
        "events_cusum_changepoint", "streaming_enriched_counts",
        "streaming_click_purchase_join", "streaming_dedup_keys",
        "streaming_stateful_totals", "streaming_cdc_apply", "stratified_sample_counts",
        "weighted_doc_sample", "scd2_purchase_history", "text_fingerprints",
        "dedup_ngram_jaccard", "ann_lsh_topk", "multimodal_resize",
        "multimodal_frame_sample", "ngram_containment", "embedding_outliers",
        "coreset_kcenter", "label_noise_screen",
    ], _UTILITY),
}

# Registry order (showcase module order, then registration order): fixed
# from run to run, unlike the verification-debt order of all_queries().
_REGISTRY = registered()
HEADLINE = [name for name in _REGISTRY if name not in EXCLUDED]
# The drift canary of bench.main and tools/timing.py solo. A registry
# rename degrades to the first headline query, not a KeyError (ADVICE r8).
CANARY = "q1_pricing_summary" if "q1_pricing_summary" in _REGISTRY else next(iter(HEADLINE), None)


# Deployment settings of the bench session; its confs are
# onetl_spark.session.PROFILE, shared with the tests and tools.
DRIVER_MEMORY = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
WAREHOUSE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scratch", "bench-wh")


def execute_fully(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def time_query(spark, fn, sf_dir: str, reps: int = 3) -> tuple[float, SparkCommandMetrics]:
    """One untimed run compiles the query's generated code (seconds of
    Janino that amortize to zero in a long-running job), then ``reps`` timed
    noop-sink runs with DataFrame caches cleared after each, so only JVM
    warmth carries over. Returns the median run's seconds and run record."""
    execute_fully(fn(spark, sf_dir))
    spark.catalog.clearCache()
    runs = []
    for _ in range(reps):
        with SparkMetricsRecorder(spark) as recorder:
            start = time.perf_counter()
            execute_fully(fn(spark, sf_dir))
            seconds = time.perf_counter() - start
            recorder.drain()
        runs.append((seconds, recorder.metrics()))
        # queries are independent runs: drop any operator-internal caches
        # so one query's persisted intermediates can't thrash the next one
        spark.catalog.clearCache()
    runs.sort(key=lambda run: run[0])
    return runs[len(runs) // 2]


def _current_round() -> int:
    """Round number = newest committed CORRECTNESS file + 1 (bench runs
    before the driver writes this round's file)."""
    from onetl_spark.showcase import correctness_history

    return correctness_history()[1] + 1


def _family(name: str) -> str:
    """A query's bench family: the showcase module that registers it."""
    return _REGISTRY[name].module.rsplit(".", 1)[-1]


def _testdata_fingerprint(sf_dir: str) -> dict:
    """Distribution fingerprint of the input generation, recorded in the
    full bench JSON so cross-round deltas are interpretable: every round
    runs on a freshly regenerated /root/testdata, and r3's 2-3x spikes
    turned out to be a generation effect (BENCH_NOTES.md) — without a
    committed fingerprint that diagnosis took a round to establish."""
    import duckdb

    fp: dict = {}
    con = duckdb.connect()
    try:
        for name in TESTDATA_TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if not os.path.exists(path):
                continue
            fp[f"{name}_rows"] = con.execute(
                f"SELECT count(*) FROM read_parquet('{path}')"
            ).fetchone()[0]
            fp[f"{name}_mtime"] = int(os.path.getmtime(path))
        doc = os.path.join(sf_dir, "documents.parquet")
        if os.path.exists(doc):
            r = con.execute(
                f"""SELECT count(DISTINCT md5(text)),
                           round(avg(length(text)), 1),
                           round(avg(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))), 1),
                           count(DISTINCT substr(text, 1, 64))
                    FROM read_parquet('{doc}')"""
            ).fetchone()
            fp["documents_distinct_text_md5"] = r[0]
            fp["documents_avg_chars"] = r[1]
            fp["documents_avg_tokens"] = r[2]
            fp["documents_distinct_prefix64"] = r[3]
        emb = os.path.join(sf_dir, "embeddings.parquet")
        if os.path.exists(emb):
            r = con.execute(
                f"""SELECT round(avg(n), 4), round(min(n), 4), round(max(n), 4)
                    FROM (SELECT sqrt(list_sum(list_transform(embedding, x -> x*x))) AS n
                          FROM read_parquet('{emb}'))"""
            ).fetchone()
            fp["embeddings_norm_avg"], fp["embeddings_norm_min"], fp["embeddings_norm_max"] = r
    except Exception as e:  # noqa: BLE001 — fingerprint is diagnostics, never fail the bench
        fp["error"] = f"{type(e).__name__}: {e}"
    finally:
        con.close()
    return fp


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    spark = build_session(cpus, DRIVER_MEMORY, "onetl_spark-bench", WAREHOUSE)

    timings: dict[str, float] = {}
    records: dict[str, dict] = {}

    # Per-query JVM-warm median of three timed runs (time_query). A fixed
    # CANARY query is re-timed (reps=1, after its own compile run) every 25
    # queries; its trajectory and records go to the side file so
    # cross-round deltas can be normalized by session drift instead of
    # argued about.
    canary = {"query": CANARY, "timings": [], "records": []}

    def _run_canary():
        if CANARY is not None:
            seconds, record = time_query(spark, _REGISTRY[CANARY].fn, sf_dir, reps=1)
            canary["timings"].append(round(seconds, 3))
            canary["records"].append(record.as_dict())

    _run_canary()
    for qi, name in enumerate(HEADLINE):
        seconds, record = time_query(spark, _REGISTRY[name].fn, sf_dir)
        timings[name] = round(seconds, 3)
        records[name] = record.as_dict()
        print(f"  {name}: {timings[name]:.3f}s", file=sys.stderr)
        if (qi + 1) % 25 == 0:
            _run_canary()
        # release Py4J refs to per-query DataFrames so the ContextCleaner
        # can drop their localCheckpoint blocks — otherwise checkpointed
        # RDDs from iterative queries accumulate in executor memory and
        # later queries pay their GC pressure
        import gc

        gc.collect()
    _run_canary()
    total = round(sum(timings.values()), 3)

    # Full per-query timings go to a committed side file: the driver keeps
    # only a 2000-char stdout tail, which a 68-query dict overflows (r1-r3
    # all recorded parsed:null). The printed line stays ~500 chars —
    # totals + per-family subtotals + the side-file pointer — so the
    # driver's last-line JSON parse always succeeds.
    # named for the round this run CLOSES, in a namespace the driver's
    # stdout-captured BENCH_r{N}.json never touches — and NEVER clobber:
    # an existing file (e.g. the driver's own run of this script at round
    # close) gets a letter-suffixed sibling instead of being overwritten
    # (r10 verdict: the r9-close baseline survived only in git history)
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    stem = f"BENCH_close_r{_current_round():02d}_full"
    full_name = f"{stem}.json"
    full_path = os.path.join(repo_dir, full_name)
    suffix = ord("b")
    while os.path.exists(full_path):
        full_name = f"{stem}{chr(suffix)}.json"
        full_path = os.path.join(repo_dir, full_name)
        suffix += 1
    with open(full_path, "w") as f:
        json.dump(
            {
                "metric": "headline_queries_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": cpus,
                "methodology": "registry order (showcase module order, then registration order), minus bench.EXCLUDED; per-query JVM-warm median-of-3 (one untimed compile run); cache cleared between runs; canary re-timed every 25 queries (one untimed compile run before each reading) for session-drift normalization",
                "closes_round": _current_round(),
                "naming_note": "BENCH_close_r{N}_full.json is named for the round it CLOSES (newest committed CORRECTNESS round + 1) and is never overwritten (an existing file gets a letter-suffixed sibling); the driver's stdout-captured BENCH_r{N}.json for the same run may carry a different round number",
                "canary": canary,
                "testdata_fingerprint": _testdata_fingerprint(sf_dir),
                "records": records,
            },
            f,
            indent=1,
        )

    families: dict[str, float] = {}
    for name, sec in timings.items():
        fam = _family(name)
        families[fam] = round(families.get(fam, 0.0) + sec, 3)
    # canary stats in the one-line JSON (additions-only, r12 verdict item
    # 10): lets the driver's round-over-round comparison normalize for
    # host/session drift without opening the side file
    canary_sorted = sorted(canary["timings"])
    canary_median = (
        round(canary_sorted[len(canary_sorted) // 2], 3) if canary_sorted else None
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": families,
                "n_queries": len(timings),
                "sf": sf,
                "cpus": cpus,
                "full": full_name,
                "closes_round": _current_round(),
                "canary_query": CANARY,
                "canary_median": canary_median,
                "canary_min": canary_sorted[0] if canary_sorted else None,
                "canary_max": canary_sorted[-1] if canary_sorted else None,
            },
            separators=(",", ":"),
        ),
    )
    spark.stop()


if __name__ == "__main__":
    main()
