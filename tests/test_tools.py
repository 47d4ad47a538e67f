"""The timing tool's arithmetic and file merges, the bench riser classes,
and the parity tool's per-query check: output columns, the magnitude rule
and the shuffle-width stability mode."""

from __future__ import annotations

import json
import shutil
import sys
from argparse import Namespace
from decimal import Decimal
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

import bench_compare  # noqa: E402
import driver_parity  # noqa: E402
import timing  # noqa: E402


def _record(jobs=3, gc_s=0.1, executor_cpu_s=4.0, wall_s=1.0):
    return {"jobs": jobs, "gc_s": gc_s, "executor_cpu_s": executor_cpu_s, "wall_s": wall_s}


def test_curve_exponent_against_the_driving_table():
    sfs = ["sf0.01", "sf0.1", "sf1"]
    rows = {"sf0.01": {"events": 1000, "embeddings": 500},
            "sf0.1": {"events": 10000, "embeddings": 500},
            "sf1": {"events": 100000, "embeddings": 5000}}
    # linear over a 10x leg, then 100x time over a 10x leg
    assert timing.exponents({"sf0.01": 1.0, "sf0.1": 10.0, "sf1": 1000.0}, rows, "events", sfs) == {
        "sf0.01->sf0.1": 1.0, "sf0.1->sf1": 2.0}
    # the table does not grow on the first leg: no exponent, not a division by log(1)
    assert timing.exponents({"sf0.01": 1.0, "sf0.1": 2.0, "sf1": 2.0}, rows, "embeddings", sfs) == {
        "sf0.01->sf0.1": None, "sf0.1->sf1": 0.0}
    # a missing (errored) reading has no exponent either
    assert timing.exponents({"sf0.01": 1.0, "sf1": 3.0}, rows, "events", sfs) == {
        "sf0.01->sf0.1": None, "sf0.1->sf1": None}


def test_screen_flag_rule():
    assert timing.flag(0.5, 8.0, 12.0, 3.0) == 16.0
    assert timing.flag(1.0, 11.0, 12.0, 3.0) is None  # linear plus margin
    assert timing.flag(0.1, 2.9, 12.0, 3.0) is None  # fast at sf1 whatever the ratio
    # an sf0.1 reading under 0.05 s counts as 0.05 s: 3.5 / 0.05, not 3.5 / 0.001
    assert timing.flag(0.001, 3.5, 12.0, 3.0) == 70.0


def _fake_read(readings):
    def read(spark, pairs, reps):
        assert [(n, timing.sf_name(d)) for n, d in pairs] == [r[:2] for r in readings]
        return readings

    return read


def test_partial_screen_merges_into_the_committed_screen(tmp_path, monkeypatch):
    path = tmp_path / "SCALE_SCREEN.json"
    shutil.copy(REPO / "SCALE_SCREEN.json", path)
    before = json.loads(path.read_text())
    monkeypatch.setattr(timing, "SCREEN_PATH", str(path))
    rec = _record()
    # q1 newly flagged, near_dup_pairs re-screened flat, dim_health errors at sf1
    names = ["q1_pricing_summary", "embedding_near_dup_pairs", "embedding_dim_health"]
    monkeypatch.setattr(timing, "read", _fake_read([
        ("q1_pricing_summary", "sf0.1", 0.2, rec, None),
        ("embedding_near_dup_pairs", "sf0.1", 1.5, rec, None),
        ("embedding_dim_health", "sf0.1", 0.5, rec, None),
        ("q1_pricing_summary", "sf1", 4.0, rec, None),
        ("embedding_near_dup_pairs", "sf1", 9.0, rec, None),
        ("embedding_dim_health", "sf1", None, None, "Py4JJavaError: boom"),
    ]))
    args = Namespace(sf_dirs=["/d/sf0.1", "/d/sf1"], names=names, only=names, reps=1,
                     flag_ratio=8.0, abs_floor=3.0)
    timing.screen(None, args)
    after = json.loads(path.read_text())

    assert set(after) == set(before) | {"records"}
    assert after["flag_ratio"] == before["flag_ratio"] == 8.0
    assert after["timings"]["q1_pricing_summary"] == {"sf0.1": 0.2, "sf1": 4.0}
    assert after["timings"]["embedding_near_dup_pairs"] == {"sf0.1": 1.5, "sf1": 9.0}
    assert after["records"]["q1_pricing_summary"] == {"sf0.1": rec, "sf1": rec}
    assert after["errors"] == {"embedding_dim_health": {"sf1": "Py4JJavaError: boom"}}
    untouched = set(before["timings"]) - set(names)
    assert {n: after["timings"][n] for n in untouched} == {n: before["timings"][n] for n in untouched}
    # the re-screened and the errored query lose their old flags; the rest keep theirs
    kept = [f for f in before["flagged"] if f["query"] not in names[1:]]
    assert len(kept) == len(before["flagged"]) - 2
    assert after["flagged"] == kept + [{
        "query": "q1_pricing_summary", "sf0.1": 0.2, "sf1": 4.0, "ratio": 20.0,
        "flag_ratio": 8.0, "abs_floor": 3.0}]
    # a full screen replaces the file
    run = {"timings": {}, "records": {}, "errors": {}, "flagged": []}
    assert timing.merge_screen(None, run) is run


def test_partial_curve_merges_into_the_committed_curve(tmp_path, monkeypatch):
    path = tmp_path / "SCALE_CURVE.json"
    shutil.copy(REPO / "SCALE_CURVE.json", path)
    before = json.loads(path.read_text())
    monkeypatch.setattr(timing, "CURVE_PATH", str(path))
    # sf0.01 is new to the file; sf0.1 is committed with other tables
    rows = {"sf0.01": {"embeddings": 500}, "sf0.1": {"embeddings": 5000}}
    monkeypatch.setattr(timing, "driving_rows", lambda spark, sf_dirs, tables: rows)
    rec = _record()
    monkeypatch.setattr(timing, "read", _fake_read([
        ("embedding_kmeans_clusters", "sf0.01", 1.0, rec, None),
        ("embedding_kmeans_clusters", "sf0.1", 2.0, rec, None),
    ]))
    args = Namespace(sf_dirs=["/d/sf0.01", "/d/sf0.1"], only=["kmeans"], reps=2)
    timing.curve(None, args)
    after = json.loads(path.read_text())

    assert set(after) == set(before) and after["reps"] == 2
    # the committed rows survive, merged per SF with the new counts
    assert after["rows"] == {**before["rows"], "sf0.01": {"embeddings": 500},
                             "sf0.1": {**before["rows"]["sf0.1"], "embeddings": 5000}}
    assert after["families"]["kmeans"] == {
        "query": "embedding_kmeans_clusters", "driving_table": "embeddings",
        "times_sec": {"sf0.01": 1.0, "sf0.1": 2.0},
        "exponents": {"sf0.01->sf0.1": 0.301},
        "records": {"sf0.01": rec, "sf0.1": rec}}
    others = {f: v for f, v in before["families"].items() if f != "kmeans"}
    assert {f: after["families"][f] for f in others} == others


@pytest.mark.parametrize("change, cls", [
    ({"jobs": 5, "gc_s": 2.0, "wall_s": 3.0}, "barrier"),
    ({"gc_s": 0.6, "wall_s": 2.0}, "carry-over"),
    ({"executor_cpu_s": 4.2, "wall_s": 2.5}, "stall"),
    ({"executor_cpu_s": 9.0, "wall_s": 2.5}, "work"),
    ({"gc_s": 0.15, "executor_cpu_s": 4.01, "wall_s": 1.04}, "work"),  # jitter, not a stall
])
def test_bench_compare_classifies_a_riser_from_its_records(change, cls):
    assert bench_compare.classify(_record(), _record(**change)) == cls


def test_parity_parts_mode_compares_two_shuffle_widths(spark, sf_dir, testdata):
    """A query whose sum follows the shuffle's partitioning is UNSTABLE
    across widths, an order-independent one is OK, and the session's
    width is back at its value either way."""
    from pyspark.sql import functions as F

    from onetl_spark.showcase import all_queries

    def order_dependent_sum(spark, _sf_dir):
        x = spark.range(0, 20000).select((1.0 / (F.col("id") + 3)).alias("x"), "id")
        return x.repartition("id").agg(F.sum("x").alias("total"))

    width = spark.conf.get("spark.sql.shuffle.partitions")
    q1 = all_queries()["q1_pricing_summary"]
    assert driver_parity.check(spark, q1, None, sf_dir, parts=(16, 64)) == ("OK", "")
    status, detail = driver_parity.check(spark, order_dependent_sum, None, sf_dir, parts=(16, 64))
    assert status == "UNSTABLE" and "1/1 rows differ" in detail
    assert spark.conf.get("spark.sql.shuffle.partitions") == width
    with pytest.raises(ZeroDivisionError):
        driver_parity.check(spark, lambda s, d: 1 / 0, None, sf_dir, parts=(16, 64))
    assert spark.conf.get("spark.sql.shuffle.partitions") == width


@pytest.mark.parametrize("kind", ["decimal", "complex", "duplicate"])
def test_parity_check_fails_unsafe_output_columns(spark, sf_dir, kind):
    """An output column the driver cannot canonicalize or hash fails as
    OUTPUT, even where its values match the oracle's."""
    from pyspark.sql import functions as F

    cols = {
        "decimal": [F.lit(1.5).cast("decimal(10,2)").alias("x")],
        "complex": [F.array(F.lit(1.5)).alias("x")],
        "duplicate": [F.lit(1.5).alias("x"), F.lit(2.5).alias("x")],
    }[kind]
    status, detail = driver_parity.check(
        spark, lambda s, _d: s.range(1).select(*cols), "SELECT CAST(1.5 AS DECIMAL(10, 2)) AS x", sf_dir)
    assert (status, detail) == ("OUTPUT", f"output columns: {kind} ['x']")


def test_parity_check_fails_fractional_doubles_above_the_magnitude_bound(spark, sf_dir):
    """Matching values still fail when the oracle holds a double above 1e6
    that neither is integral nor sits on the 6-dp grid: round(x, 9) cannot
    canonicalize it across engines."""
    from pyspark.sql import functions as F

    v = 14000000.123456789
    status, detail = driver_parity.check(
        spark, lambda s, _d: s.range(1).select(F.lit(v).alias("v")), f"SELECT {v}::DOUBLE AS v", sf_dir)
    assert status == "MAGNITUDE" and repr(v) in detail


def test_magnitude_rule():
    risks = driver_parity.magnitude_risks
    assert risks(["a", "b"], [(1.0, 14000000.123456789), (2.0, -14000000.123456789)]) == {
        "b": 14000000.123456789}
    # integral, on the 6-dp grid, below the bound, or not a finite float: safe
    assert risks(["v"], [(14000000.0,), (14000000.123457,), (-2.5e9,), (999999.123456789,),
                         (None,), (float("nan"),), (float("inf"),), (14000001,),
                         (Decimal("14000000.123456789"),)]) == {}
