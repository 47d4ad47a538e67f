"""Write-side scale probe at sf1 (VERDICT r9 #8 stretch).

Reads prove their 100-TB posture through pushdown/pruning plan checks;
this probe proves the WRITE side the same way, with counts rather than
wall-clock (deterministic, contention-immune):

1. ``zorder_write`` file skipping — write sf1 lineitem (~6M rows)
   clustered by (l_partkey, l_suppkey), then for a rectangle predicate
   on BOTH columns count how many files' min/max envelopes intersect it
   (= files a stats-pruning scan must read) vs a plain unclustered
   write with the same file count. The ratio IS the scan cost ratio on
   a cluster whose parquet footers carry the same stats.

2. ``FileDFWriter replace_overlapping_partitions`` — write sf1 events
   partitioned by event_type (5 dirs), overwrite ONE event_type, and
   verify by mtime+size that only that partition's files were touched:
   dynamic partition overwrite must never rewrite the other 4/5 of the
   table.

Usage: python tools/write_scale_probe.py [sf_dir]   (default .scratch/testdata/sf1)
Prints a markdown fragment for BENCH_NOTES and a JSON summary line.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SCRATCH = os.path.join(REPO, ".scratch", "write_probe")


def file_envelopes(spark, path, cols):
    from pyspark.sql import functions as F

    df = spark.read.parquet(path).withColumn("_f", F.input_file_name())
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}")]
    return df.groupBy("_f").agg(*aggs).collect()


def touched(envelopes, preds):
    """Files whose [lo, hi] envelope intersects every predicate interval
    — exactly the files parquet min/max stats cannot skip."""
    n = 0
    for r in envelopes:
        if all(r[f"lo_{c}"] <= hi and r[f"hi_{c}"] >= lo for c, (lo, hi) in preds.items()):
            n += 1
    return n


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, ".scratch", "testdata", "sf1")
    import shutil

    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH, exist_ok=True)

    from pyspark.sql import functions as F

    from onetl_spark.session import build_session

    spark = build_session(int(os.environ.get("SPARK_GRAFT_CPUS", "32")), "16g", "write-scale-probe")

    from onetl_spark.operators.maintenance import zorder_write

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    n_rows = li.count()
    n_files = 64

    z_dest = os.path.join(SCRATCH, "li_zorder")
    zorder_write(li, z_dest, ["l_partkey", "l_suppkey"], num_files=n_files, bits=12)
    p_dest = os.path.join(SCRATCH, "li_plain")
    li.repartition(n_files).write.mode("errorifexists").parquet(p_dest)

    # selective rectangle: ~1/8 of each key domain -> ~1/64 of the data
    bounds = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey")).first()
    p_lo, p_hi, s_lo, s_hi = bounds
    p_span, s_span = (p_hi - p_lo) // 8, (s_hi - s_lo) // 8
    preds = {
        "l_partkey": (p_lo, p_lo + p_span),
        "l_suppkey": (s_lo, s_lo + s_span),
    }
    z_env = file_envelopes(spark, z_dest, ["l_partkey", "l_suppkey"])
    p_env = file_envelopes(spark, p_dest, ["l_partkey", "l_suppkey"])
    z_touch, p_touch = touched(z_env, preds), touched(p_env, preds)

    # row-parity sanity: clustering must lose nothing
    assert spark.read.parquet(z_dest).count() == n_rows

    # --- dynamic partition overwrite -----------------------------------
    from onetl_spark.file.connections import SparkLocalFS
    from onetl_spark.file.file_df_writer import FileDFWriter, FileDFWriterOptions
    from onetl_spark.file.format.parquet import Parquet

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    part_dest = os.path.join(SCRATCH, "events_by_type")
    writer = FileDFWriter(
        connection=SparkLocalFS(spark),
        format=Parquet(),
        target_path=part_dest,
        options=FileDFWriterOptions(
            if_exists="replace_entire_directory", partition_by=["event_type"]
        ),
    )
    writer.run(ev)

    def snapshot(root):
        out = {}
        for dirpath, _, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    st = os.stat(p)
                    out[p] = (st.st_mtime_ns, st.st_size)
        return out

    before = snapshot(part_dest)
    one_type = ev.filter(F.col("event_type") == "purchase")
    n_overwrite_rows = one_type.count()
    FileDFWriter(
        connection=SparkLocalFS(spark),
        format=Parquet(),
        target_path=part_dest,
        options=FileDFWriterOptions(
            if_exists="replace_overlapping_partitions", partition_by=["event_type"]
        ),
    ).run(one_type)
    after = snapshot(part_dest)

    untouched = [p for p in before if p in after and after[p] == before[p]]
    touched_parts = {os.path.basename(os.path.dirname(p))
                     for p in set(before) ^ set(after)
                     | {p for p in before if p in after and after[p] != before[p]}}
    n_before, n_after = len(before), len(after)
    n_untouched = len(untouched)
    untouched_types = {os.path.basename(os.path.dirname(p)) for p in untouched}

    summary = {
        "sf_dir": sf_dir,
        "lineitem_rows": n_rows,
        "zorder": {
            "files": len(z_env), "touched": z_touch,
            "plain_files": len(p_env), "plain_touched": p_touch,
            "predicate": {k: list(v) for k, v in preds.items()},
        },
        "partition_overwrite": {
            "files_before": n_before, "files_after": n_after,
            "files_untouched": n_untouched,
            "touched_partitions": sorted(touched_parts),
            "untouched_partitions": sorted(untouched_types),
            "overwritten_rows": n_overwrite_rows,
        },
    }
    print(json.dumps(summary, indent=1))
    print()
    print(f"zorder_write: rectangle predicate touches {z_touch}/{len(z_env)} "
          f"files vs plain write {p_touch}/{len(p_env)}")
    print(f"replace_overlapping_partitions: {n_untouched}/{n_before} files "
          f"byte-identical after overwriting one of 5 partitions; "
          f"touched dirs: {sorted(touched_parts)}")


if __name__ == "__main__":
    main()
