"""Data-quality operators: profile / k-anonymity / expectations."""

import pytest

from onetl_spark.operators.quality import Expectation, expect, k_anonymity, profile


def test_profile_nulls_distinct_extrema(spark):
    df = spark.createDataFrame(
        [(1, "a", 2.0), (2, "a", None), (3, None, 8.5), (3, "b", -1.0)],
        "k long, s string, v double",
    )
    rows = {r["col_name"]: r for r in profile(df).collect()}
    assert rows["k"]["n_rows"] == 4
    assert rows["k"]["n_nulls"] == 0
    assert rows["k"]["n_distinct"] == 3
    assert rows["k"]["min_num"] == 1.0 and rows["k"]["max_num"] == 3.0
    assert rows["k"]["min_str"] is None
    assert rows["s"]["n_nulls"] == 1
    assert rows["s"]["n_distinct"] == 2  # distinct ignores nulls
    assert rows["s"]["min_str"] == "a" and rows["s"]["max_str"] == "b"
    assert rows["s"]["min_num"] is None
    assert rows["v"]["n_nulls"] == 1
    assert rows["v"]["min_num"] == -1.0 and rows["v"]["max_num"] == 8.5


def test_profile_column_subset(spark):
    df = spark.createDataFrame([(1, "x")], "a long, b string")
    assert [r["col_name"] for r in profile(df, ["b"]).collect()] == ["b"]


def test_k_anonymity_flags_small_classes(spark):
    df = spark.createDataFrame(
        [("us", "m")] * 6 + [("us", "f")] * 2 + [("de", "m")],
        "country string, gender string",
    )
    rows = {(r["country"], r["gender"]): r for r in k_anonymity(df, ["country", "gender"], k=5).collect()}
    assert rows[("us", "m")]["class_size"] == 6 and not rows[("us", "m")]["at_risk"]
    assert rows[("us", "f")]["at_risk"]
    assert rows[("de", "m")]["at_risk"]


def test_expect_single_pass_null_is_failure(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, None)], "id long, v double",
    )
    rows = {r["expectation"]: r for r in expect(df, [
        Expectation("v_positive", "v > 0"),
        Expectation("id_small", "id <= 3"),
    ]).collect()}
    # null v fails v_positive (predicate not true)
    assert rows["v_positive"]["n_failed"] == 2
    assert abs(rows["v_positive"]["pass_rate"] - (1 / 3)) < 1e-9
    assert rows["id_small"]["n_failed"] == 0
    assert rows["id_small"]["pass_rate"] == 1.0


def test_expect_empty_input(spark):
    df = spark.createDataFrame([], "v double")
    rows = expect(df, [Expectation("p", "v > 0")]).collect()
    assert rows[0]["n_rows"] == 0
    assert rows[0]["n_failed"] == 0
    assert rows[0]["pass_rate"] == 1.0


def test_key_skew_profile_detects_hot_key(spark):
    from onetl_spark.operators.quality import key_skew_profile

    # one hot key with 90 rows, nine cold keys with 1 each
    rows = [(0,)] * 90 + [(k,) for k in range(1, 10)]
    df = spark.createDataFrame(rows, "k long")
    r = key_skew_profile(df, "k", top_n=3).collect()[0]
    assert r["n_keys"] == 10 and r["n_rows"] == 99
    assert r["max_key_rows"] == 90 and r["median_key_rows"] == 1.0
    assert abs(r["top1_share"] - 90 / 99) < 1e-9
    assert abs(r["top3_share"] - 92 / 99) < 1e-9
    assert r["skew_ratio"] == 90.0


def test_key_skew_profile_uniform(spark):
    from onetl_spark.operators.quality import key_skew_profile

    rows = [(k % 8,) for k in range(80)]
    df = spark.createDataFrame(rows, "k long")
    r = key_skew_profile(df, "k").collect()[0]
    assert r["skew_ratio"] == 1.0 and r["max_key_rows"] == 10
    assert abs(r["top5_share"] - 50 / 80) < 1e-9


def test_l_diversity_flags_homogeneous_class(spark):
    from onetl_spark.operators.quality import l_diversity

    rows = [
        # class A: large but homogeneous (all share sensitive 's1') → at risk
        ("A", "s1"), ("A", "s1"), ("A", "s1"), ("A", "s1"),
        # class B: small but diverse → safe
        ("B", "s1"), ("B", "s2"),
    ]
    df = spark.createDataFrame(rows, "qi string, sens string")
    out = {r["qi"]: r for r in l_diversity(df, ["qi"], "sens", l=2).collect()}
    assert out["A"]["class_size"] == 4 and out["A"]["distinct_sensitive"] == 1
    assert out["A"]["at_risk"] is True
    assert out["B"]["class_size"] == 2 and out["B"]["distinct_sensitive"] == 2
    assert out["B"]["at_risk"] is False


def test_population_stability_detects_shift(spark):
    from pyspark.sql import functions as F

    from onetl_spark.operators.quality import population_stability

    ref = spark.range(10000).select((F.col("id") % 100).cast("double").alias("v"))
    same = spark.range(10000).select((F.col("id") % 100).cast("double").alias("v"))
    shifted = spark.range(10000).select(
        ((F.col("id") % 100) * 0.2 + 80).cast("double").alias("v")
    )
    psi_same = {r["bucket"]: r for r in population_stability(ref, same, "v").collect()}
    psi_shift = {r["bucket"]: r for r in population_stability(ref, shifted, "v").collect()}
    assert psi_same[-2]["psi_term"] < 0.01          # identical distribution
    assert psi_shift[-2]["psi_term"] > 0.25          # gross drift flagged
    # shares sum to ~1 on both sides (excluding the total row)
    s = sum(r["cur_share"] for b, r in psi_same.items() if b != -2 and b != -1)
    assert abs(s - 1.0) < 1e-6


def test_population_stability_null_bucket(spark):
    from onetl_spark.operators.quality import population_stability

    ref = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    cur = spark.createDataFrame(
        [(float(i),) for i in range(50)] + [(None,)] * 50, "v double"
    )
    out = {r["bucket"]: r for r in population_stability(ref, cur, "v").collect()}
    assert out[-1]["cur_share"] == 0.5  # missing-rate drift visible
    assert out[-2]["psi_term"] > 0.25


def test_population_stability_true_shares_no_phantom_null_row(spark):
    from onetl_spark.operators.quality import population_stability

    ref = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    cur = spark.createDataFrame([(float(i),) for i in range(80, 100)], "v double")
    out = {r["bucket"]: r for r in population_stability(ref, cur, "v").collect()}
    assert -1 not in out                       # no NULLs anywhere -> no -1 row
    assert out[0]["cur_share"] == 0.0          # true share, not epsilon
    shares = [r["cur_share"] for b, r in out.items() if b >= 0]
    assert abs(sum(shares) - 1.0) < 1e-9


def test_population_stability_rejects_degenerate_buckets(spark):
    import pytest

    from onetl_spark.operators.quality import population_stability

    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError, match=">= 2"):
        population_stability(df, df, "v", buckets=1)


def test_referential_integrity_audit_branches(spark):
    from onetl_spark.operators.quality import referential_integrity_audit

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (9,), (9,), (None,)], "fk long"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    row = referential_integrity_audit(child, parent, "fk", "pk").collect()[0]
    assert row["n_child"] == 6
    assert row["n_null_keys"] == 1
    assert row["n_orphans"] == 2          # the two fk=9 rows
    assert row["n_orphan_keys"] == 1      # one distinct orphan key
    assert row["n_parent"] == 3
    assert row["n_unreferenced_parents"] == 1  # pk=3


def test_column_stats_drift_values_and_validation(spark):
    from onetl_spark.operators.quality import column_stats_drift

    ref = spark.createDataFrame([(1.0,), (3.0,), (None,)], "v double")
    cur = spark.createDataFrame([(2.0,), (6.0,)], "v double")
    out = {r["column"]: r for r in column_stats_drift(ref, cur, ["v"]).collect()}
    r = out["v"]
    assert (r["ref_count"], r["cur_count"]) == (3, 2)
    assert r["ref_null_rate"] == round(1 / 3, 9) and r["cur_null_rate"] == 0.0
    assert r["ref_mean"] == 2.0 and r["cur_mean"] == 4.0
    assert r["mean_shift"] == 2.0
    assert (r["ref_min"], r["ref_max"], r["cur_min"], r["cur_max"]) == (1.0, 3.0, 2.0, 6.0)
    import pytest as _pt

    with _pt.raises(ValueError, match="non-empty"):
        column_stats_drift(ref, cur, [])


def test_mmr_rerank_validation_and_diversity(spark):
    from onetl_spark.llm.similarity import mmr_rerank_topk

    # 3-D: ids 1 and 3 tie on relevance (mirror images around the query
    # axis) but 2 is a near-duplicate of 1 — plain top-2 returns the
    # duplicate pair (1, 2); MMR must take the equally-relevant but less
    # redundant 3 second.
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.9, 0.1, 0.001]),
        (3, [0.9, -0.1, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = mmr_rerank_topk(df, query_id=0, k=2, candidates=3).collect()
    assert [r["vec_id"] for r in got] == [1, 3]
    assert got[0]["rank"] == 1 and got[1]["rank"] == 2
    import pytest as _pt

    with _pt.raises(ValueError, match="lam"):
        mmr_rerank_topk(df, query_id=0, k=2, lam=1.5)


def test_ks_two_sample_known_and_plan(spark):
    from onetl_spark.operators.stats import ks_two_sample

    # identical samples -> D = 0
    a = spark.createDataFrame([(float(i),) for i in range(1, 21)], "v double")
    row = ks_two_sample(a, a, "v").collect()[0]
    assert row["ks_stat"] == 0.0 and row["n_ref"] == row["n_cur"] == 20

    # disjoint supports -> D = 1 at the boundary (smallest achieving value)
    b = spark.createDataFrame([(float(i),) for i in range(100, 120)], "v double")
    row = ks_two_sample(a, b, "v").collect()[0]
    assert row["ks_stat"] == 1.0 and row["at_value"] == 20.0

    # hand case: ref {1,2,3,4}, cur {3,4,5,6}: D at v=2 -> |2/4 - 0| = 0.5
    r = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], "v double")
    c = spark.createDataFrame([(3.0,), (4.0,), (5.0,), (6.0,)], "v double")
    row = ks_two_sample(r, c, "v").collect()[0]
    assert row["ks_stat"] == 0.5 and row["at_value"] == 2.0

    import pytest as _pt

    empty = spark.createDataFrame([], "v double")
    with _pt.raises(ValueError, match="non-empty"):
        ks_two_sample(a, empty, "v")

    # scale guard: the ECDF windows partition by bucket — the plan must
    # not contain a single-partition window sort (the final 1-row agg's
    # SinglePartition exchange is fine; the Window must come from
    # hashpartitioning)
    plan = ks_two_sample(a, b, "v")._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    import re as _re

    # no Window may sit directly on a single-partition exchange
    assert not _re.search(r"Window .{0,400}?Exchange SinglePartition", plan, _re.S)


def test_mann_whitney_hand_cases(spark):
    from math import sqrt

    from onetl_spark.operators.stats import mann_whitney_u

    # no ties: ref {1,2}, cur {3,4} -> ranksum_ref=3, U=0
    a = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    b = spark.createDataFrame([(3.0,), (4.0,)], "v double")
    row = mann_whitney_u(a, b, "v").collect()[0]
    assert row["u_stat"] == 0.0
    want_z = round((0.0 - 2.0) / sqrt(4 * 5 / 12.0), 9)
    assert abs(row["z_score"] - want_z) < 1e-9

    # with ties: ref {1,2,2}, cur {2,3} — value 2 ties across sides
    a = spark.createDataFrame([(1.0,), (2.0,), (2.0,)], "v double")
    b = spark.createDataFrame([(2.0,), (3.0,)], "v double")
    row = mann_whitney_u(a, b, "v").collect()[0]
    # ranks: 1 -> 1; three 2s share (2+3+4)/3 = 3; 3 -> 5
    # ranksum_ref = 1 + 3 + 3 = 7; U = 7 - 3*4/2 = 1
    assert row["u_stat"] == 1.0
    n, ties = 5.0, (3**3 - 3)  # one tied group of 3
    var_u = (3 * 2 / 12.0) * (n + 1.0 - ties / (n * (n - 1.0)))
    want_z = round((1.0 - 3.0) / sqrt(var_u), 9)
    assert abs(row["z_score"] - want_z) < 1e-9

    # identical constant samples: zero variance -> NULL z
    c = spark.createDataFrame([(5.0,), (5.0,)], "v double")
    row = mann_whitney_u(c, c, "v").collect()[0]
    assert row["z_score"] is None

    import pytest as _pt

    empty = spark.createDataFrame([], "v double")
    with _pt.raises(ValueError, match="non-empty"):
        mann_whitney_u(a, empty, "v")


def test_cramers_v_extremes(spark):
    from onetl_spark.operators.stats import cramers_v

    # perfect association: b determined by a -> V = 1
    det = spark.createDataFrame(
        [("x", "1")] * 5 + [("y", "2")] * 5, "a string, b string"
    )
    r = cramers_v(det, "a", "b").collect()[0]
    assert r["cramers_v"] == 1.0 and r["n"] == 10

    # independence -> chi2 = 0, V = 0
    ind = spark.createDataFrame(
        [(a, b) for a in "xy" for b in "12" for _ in range(3)],
        "a string, b string",
    )
    r = cramers_v(ind, "a", "b").collect()[0]
    assert r["chi2"] == 0.0 and r["cramers_v"] == 0.0

    # single-level column -> denominator 0 -> NULL V
    one = spark.createDataFrame([("x", "1"), ("x", "2")], "a string, b string")
    assert cramers_v(one, "a", "b").collect()[0]["cramers_v"] is None


def test_benford_uniform_vs_benford_like(spark):
    from onetl_spark.operators.quality import BENFORD_P, benford_first_digit

    # exact Benford-proportioned sample (counts ∝ expected) -> small chi2
    rows = []
    for d, p in BENFORD_P.items():
        rows += [(float(d) * 10,)] * round(p * 1000)
    good = spark.createDataFrame(rows, "v double")
    out = {r["digit"]: r for r in benford_first_digit(good, "v").collect()}
    assert out[1]["chi2_total"] < 1.0
    assert out[1]["n_obs"] == round(BENFORD_P[1] * 1000)

    # all-same-leading-digit data -> gross violation
    bad = spark.createDataFrame([(5000.0 + i,) for i in range(200)], "v double")
    out = {r["digit"]: r for r in benford_first_digit(bad, "v").collect()}
    assert out[5]["obs_share"] == 1.0 and out[1]["n_obs"] == 0
    assert out[5]["chi2_total"] > 100
    # sub-1 values excluded
    tiny = spark.createDataFrame([(0.5,), (2.0,)], "v double")
    out = {r["digit"]: r["n_obs"] for r in benford_first_digit(tiny, "v").collect()}
    assert out[2] == 1 and sum(out.values()) == 1

    # degenerate: NO values >= 1 — shares/chi2 NULL, not an ANSI
    # DIVIDE_BY_ZERO abort (ADVICE r6)
    sub1 = spark.createDataFrame([(0.5,), (0.1,)], "v double")
    out = {r["digit"]: r for r in benford_first_digit(sub1, "v").collect()}
    assert len(out) == 9
    assert all(r["n_obs"] == 0 for r in out.values())
    assert all(r["obs_share"] is None for r in out.values())
    assert all(r["chi2_total"] is None for r in out.values())


def test_association_lift_hand_case(spark):
    from onetl_spark.operators.stats import association_lift

    # 4 baskets; A,B co-occur in 2; A alone in 1; B alone in 1
    rows = [
        (1, "A"), (1, "B"),
        (2, "A"), (2, "B"),
        (3, "A"),
        (4, "B"),
    ]
    df = spark.createDataFrame(rows, "basket long, item string")
    r = association_lift(df, ["basket"], "item", min_count=1).collect()
    assert len(r) == 1
    row = r[0]
    assert (row["item_a"], row["item_b"], row["n_both"]) == ("A", "B", 2)
    assert row["support"] == 0.5
    assert row["conf_a_to_b"] == round(2 / 3, 9)
    # lift = (2*4)/(3*3)
    assert row["lift"] == round(8 / 9, 9)

    import pytest as _pt

    empty = spark.createDataFrame([], "basket long, item string")
    with _pt.raises(ValueError, match="no baskets"):
        association_lift(empty, ["basket"], "item")


def test_cms_one_sided_error_and_mergeability(spark):
    from pyspark.sql import functions as F

    from onetl_spark.operators.sketches import cms_estimate, cms_merge, cms_sketch

    df = spark.createDataFrame(
        [(i % 7,) for i in range(200)] + [(99,)] * 50, "k long"
    )
    sketch = cms_sketch(df, "k", width=16, depth=3)
    keys = df.select("k").distinct()
    est = {r["k"]: r["cms_count"] for r in cms_estimate(sketch, keys, "k", 16, 3).collect()}
    exact = {r["k"]: r["cnt"] for r in df.groupBy("k").agg(F.count("*").alias("cnt")).collect()}
    for k, e in exact.items():
        assert est[k] >= e  # never undercounts
    assert est[99] >= 50

    # mergeability: sketch(a ∪ b) == cellwise sum of sketch(a) + sketch(b)
    a = df.filter(F.col("k") < 5)
    b = df.filter(F.col("k") >= 5)
    merged = cms_merge(cms_sketch(a, "k", 16, 3), cms_sketch(b, "k", 16, 3))
    whole = {(r["row"], r["bucket"]): r["cnt"] for r in cms_sketch(df, "k", 16, 3).collect()}
    got = {(r["row"], r["bucket"]): r["cnt"] for r in merged.collect()}
    assert got == whole
    # a merged sketch keeps its geometry and stays probe-able
    mest = {r["k"]: r["cms_count"] for r in cms_estimate(merged, keys, "k", 16, 3).collect()}
    assert mest == est

    import pytest as _pt

    with _pt.raises(ValueError, match="positive"):
        cms_sketch(df, "k", width=0)
    with _pt.raises(ValueError, match="geometry mismatch"):
        cms_merge(cms_sketch(a, "k", 16, 3), cms_sketch(b, "k", 32, 3))


def test_hll_accuracy_and_merge_exactness(spark):
    from pyspark.sql import functions as F

    from onetl_spark.operators.sketches import hll_estimate, hll_merge, hll_registers

    df = spark.range(5000).select(F.col("id").alias("k"))
    reg = hll_registers(df, "k", b=8)
    est = hll_estimate(reg, b=8).collect()[0]
    # standard error ~ 1.04/sqrt(256) ≈ 6.5%; allow 3 sigma
    assert abs(est["estimate"] - 5000) / 5000 < 0.2
    assert est["m"] == 256

    # merge exactness: sketch(evens) ⊔ sketch(odds) == sketch(all)
    a = hll_registers(df.filter("k % 2 = 0"), "k", b=8)
    b_ = hll_registers(df.filter("k % 2 = 1"), "k", b=8)
    merged = {r["bucket"]: r["rho"] for r in hll_merge(a, b_).collect()}
    whole = {r["bucket"]: r["rho"] for r in reg.collect()}
    assert merged == whole

    # small-range linear counting: tiny set estimated near-exactly
    tiny = spark.range(10).select(F.col("id").alias("k"))
    e = hll_estimate(hll_registers(tiny, "k", b=8), b=8).collect()[0]
    assert abs(e["estimate"] - 10) < 2
    assert e["n_zero"] >= 246

    import pytest as _pt

    with _pt.raises(ValueError, match="b must be"):
        hll_registers(df, "k", b=2)


def test_spearman_hand_cases(spark):
    from onetl_spark.operators.stats import spearman_correlation

    # perfectly monotone nonlinear -> rho = 1 (Pearson would be < 1)
    mono = spark.createDataFrame(
        [(float(i), float(i**3)) for i in range(1, 11)], "a double, b double"
    )
    r = spearman_correlation(mono, "a", "b").collect()[0]
    assert r["spearman_rho"] == 1.0 and r["n"] == 10

    # reversed -> -1
    rev = spark.createDataFrame(
        [(float(i), float(-i)) for i in range(1, 11)], "a double, b double"
    )
    assert spearman_correlation(rev, "a", "b").collect()[0]["spearman_rho"] == -1.0

    # ties: a=[1,2,2,3], b=[10,20,20,30] — ranks tie identically -> 1.0
    ties = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 20.0), (2.0, 20.0), (3.0, 30.0)], "a double, b double"
    )
    assert spearman_correlation(ties, "a", "b").collect()[0]["spearman_rho"] == 1.0

    # constant column -> zero variance -> NULL (pinned degenerate case)
    const = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 5.0)], "a double, b double"
    )
    assert spearman_correlation(const, "a", "b").collect()[0]["spearman_rho"] is None

    # NULL rows pairwise-deleted
    withnull = spark.createDataFrame(
        [(1.0, 1.0), (2.0, None), (3.0, 9.0)], "a double, b double"
    )
    r = spearman_correlation(withnull, "a", "b").collect()[0]
    assert r["n"] == 2 and r["spearman_rho"] == 1.0


def test_sketch_geometry_mismatches_raise(spark):
    from pyspark.sql import functions as F

    from onetl_spark.operators.sketches import (
        cms_estimate,
        cms_sketch,
        hll_estimate,
        hll_registers,
    )

    df = spark.range(100).select(F.col("id").alias("k"))
    sketch = cms_sketch(df, "k", width=16, depth=4)
    keys = df.select("k").distinct()
    import pytest as _pt

    with _pt.raises(ValueError, match="geometry"):
        cms_estimate(sketch, keys, "k", width=16, depth=2)  # narrower probe
    with _pt.raises(ValueError, match="geometry"):
        cms_estimate(sketch, keys, "k", width=8, depth=4)   # narrower width

    reg = hll_registers(df, "k", b=8)
    with _pt.raises(ValueError, match="different b"):
        hll_estimate(reg, b=10)


def test_bloom_no_false_negatives_and_bounded_fp(spark):
    from pyspark.sql import functions as F

    from onetl_spark.operators.sketches import bloom_build, bloom_merge, bloom_probe

    present = spark.range(500).select(F.col("id").alias("k"))
    absent = spark.range(500, 1500).select(F.col("id").alias("k"))
    sk = bloom_build(present, "k", m_bits=8192, k_hashes=5)

    got = {r["k"]: r["might_contain"] for r in bloom_probe(sk, present, "k", 8192, 5).collect()}
    assert all(got.values())  # NO false negatives, ever

    fp = sum(
        1 for r in bloom_probe(sk, absent, "k", 8192, 5).collect() if r["might_contain"]
    )
    # theoretical fp ~ (1-e^(-5*500/8192))^5 ~ 0.1%; allow 10x headroom
    assert fp <= 10

    # mergeability: merge(bloom(evens), bloom(odds)) == bloom(all) bit-exact
    a = bloom_build(present.filter("k % 2 = 0"), "k", 8192, 5)
    b = bloom_build(present.filter("k % 2 = 1"), "k", 8192, 5)
    merged = bloom_merge(a, b)
    whole = {r["bit"] for r in sk.collect()}
    assert {r["bit"] for r in merged.collect()} == whole
    # merged filter stays probe-able with identical answers
    got_m = {r["k"]: r["might_contain"] for r in bloom_probe(merged, present, "k", 8192, 5).collect()}
    assert got_m == got

    import pytest as _pt

    with _pt.raises(ValueError, match="geometry"):
        bloom_probe(sk, present, "k", m_bits=4096, k_hashes=5)
    with _pt.raises(ValueError, match="geometry mismatch"):
        bloom_merge(a, bloom_build(present, "k", 4096, 5))
    with _pt.raises(ValueError, match="m_bits"):
        bloom_build(present, "k", m_bits=4)


def test_ols_fit_hand_cases(spark):
    import pytest as _pt

    from onetl_spark.operators.stats import ols_fit

    # exact line y = 2x + 1 -> slope 2, intercept 1, r2 = 1, stderr 0
    exact = spark.createDataFrame(
        [(float(i), 2.0 * i + 1.0) for i in range(10)], "x double, y double"
    )
    r = ols_fit(exact, "x", "y").collect()[0]
    assert (r["n"], r["slope"], r["intercept"], r["r2"], r["stderr_slope"]) == (
        10, 2.0, 1.0, 1.0, 0.0,
    )

    # known noisy case: x=[0..3], y=[1,3,2,5] -> slope 1.1, intercept 1.1
    noisy = spark.createDataFrame(
        [(0.0, 1.0), (1.0, 3.0), (2.0, 2.0), (3.0, 5.0)], "x double, y double"
    )
    r = ols_fit(noisy, "x", "y").collect()[0]
    assert abs(r["slope"] - 1.1) < 1e-9 and abs(r["intercept"] - 1.1) < 1e-9
    # numpy cross-check of r2 and stderr
    import numpy as np

    x = np.array([0.0, 1.0, 2.0, 3.0]); y = np.array([1.0, 3.0, 2.0, 5.0])
    ssxx = ((x - x.mean()) ** 2).sum(); ssxy = ((x - x.mean()) * (y - y.mean())).sum()
    sse = ((y - (1.1 * x + 1.1)) ** 2).sum()
    assert abs(r["r2"] - (1 - sse / ((y - y.mean()) ** 2).sum())) < 1e-8
    assert abs(r["stderr_slope"] - np.sqrt((sse / 2) / ssxx)) < 1e-8

    # constant x -> NULL everything; constant y -> slope 0, r2 NULL
    cx = spark.createDataFrame([(1.0, 1.0), (1.0, 5.0)], "x double, y double")
    r = ols_fit(cx, "x", "y").collect()[0]
    assert r["slope"] is None and r["r2"] is None and r["stderr_slope"] is None
    cy = spark.createDataFrame([(1.0, 5.0), (2.0, 5.0), (3.0, 5.0)], "x double, y double")
    r = ols_fit(cy, "x", "y").collect()[0]
    assert r["slope"] == 0.0 and r["r2"] is None and r["stderr_slope"] == 0.0

    # n == 2: perfect fit, stderr NULL (no degrees of freedom)
    two = spark.createDataFrame([(0.0, 0.0), (1.0, 3.0)], "x double, y double")
    r = ols_fit(two, "x", "y").collect()[0]
    assert r["slope"] == 3.0 and r["stderr_slope"] is None

    # NULL pairs dropped; grouping works
    g = spark.createDataFrame(
        [("a", 0.0, 0.0), ("a", 1.0, 2.0), ("a", None, 9.0), ("b", 0.0, 1.0), ("b", 2.0, 1.0)],
        "g string, x double, y double",
    )
    rows = {r["g"]: r for r in ols_fit(g, "x", "y", ("g",)).collect()}
    assert rows["a"]["n"] == 2 and rows["a"]["slope"] == 2.0
    assert rows["b"]["slope"] == 0.0


def test_mutual_information_hand_cases(spark):
    import math

    from onetl_spark.operators.stats import mutual_information

    # perfectly dependent: y == x over 2 equal categories -> MI = H = ln 2
    dep = spark.createDataFrame(
        [("a", "a")] * 5 + [("b", "b")] * 5, "x string, y string"
    )
    r = mutual_information(dep, "x", "y").collect()[0]
    assert abs(r["mi_nats"] - math.log(2)) < 1e-8
    assert abs(r["h_x_nats"] - math.log(2)) < 1e-8
    assert abs(r["nmi"] - 1.0) < 1e-8

    # independent uniform 2x2 -> MI = 0, NMI = 0
    ind = spark.createDataFrame(
        [(x, y) for x in "ab" for y in "cd" for _ in range(5)], "x string, y string"
    )
    r = mutual_information(ind, "x", "y").collect()[0]
    assert abs(r["mi_nats"]) < 1e-8 and abs(r["nmi"]) < 1e-8

    # single-category margin: H(X)=0 -> NMI NULL, MI 0
    const = spark.createDataFrame([("a", "c"), ("a", "d")], "x string, y string")
    r = mutual_information(const, "x", "y").collect()[0]
    assert r["mi_nats"] == 0.0 and r["h_x_nats"] == 0.0 and r["nmi"] is None

    # NULL pairs dropped; MI <= min(H(X), H(Y)) on a skewed joint
    sk = spark.createDataFrame(
        [("a", "c")] * 6 + [("a", "d")] * 2 + [("b", "d")] * 2 + [(None, "c")],
        "x string, y string",
    )
    r = mutual_information(sk, "x", "y").collect()[0]
    assert r["n"] == 10
    assert 0 < r["mi_nats"] <= min(r["h_x_nats"], r["h_y_nats"]) + 1e-9
    # numpy cross-check
    import numpy as np

    joint = np.array([[6, 2], [0, 2]]) / 10
    px, py = joint.sum(1), joint.sum(0)
    mi = sum(
        joint[i, j] * math.log(joint[i, j] / (px[i] * py[j]))
        for i in range(2) for j in range(2) if joint[i, j] > 0
    )
    assert abs(r["mi_nats"] - mi) < 1e-8


def test_weighted_median_hand_cases(spark):
    import pytest as _pt

    from onetl_spark.operators.quality import weighted_median

    # unit weights -> lower median
    df = spark.createDataFrame(
        [(float(v), 1.0) for v in [1, 2, 3, 4]], "v double, w double"
    )
    r = weighted_median(df, "v", "w").collect()[0]
    assert r["weighted_median"] == 2.0 and r["total_weight"] == 4.0

    # one heavy value dominates
    heavy = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 1.0), (10.0, 10.0)], "v double, w double"
    )
    assert weighted_median(heavy, "v", "w").collect()[0]["weighted_median"] == 10.0

    # exact half boundary: cum(1.0) = 1, total = 2 -> 2*1 >= 2 -> v=1
    half = spark.createDataFrame([(1.0, 1.0), (5.0, 1.0)], "v double, w double")
    assert weighted_median(half, "v", "w").collect()[0]["weighted_median"] == 1.0

    # groups + zero-weight/NULL rows excluded; all-zero group vanishes
    g = spark.createDataFrame(
        [("a", 1.0, 0.0), ("a", 3.0, 2.0), ("b", 7.0, 0.0), ("c", 2.0, None)],
        "g string, v double, w double",
    )
    rows = {r["g"]: r["weighted_median"] for r in weighted_median(g, "v", "w", ("g",)).collect()}
    assert rows == {"a": 3.0}

    with _pt.raises(ValueError, match="non-negative"):
        weighted_median(
            spark.createDataFrame([(1.0, -1.0)], "v double, w double"), "v", "w"
        )


def test_mad_outlier_stats_hand_cases(spark):
    from onetl_spark.operators.quality import mad_outlier_stats

    # [1..9] + one gross outlier: median 5 (of 10 values: lower median),
    # MAD from |v-5|, the 1000 flags
    vals = [float(v) for v in range(1, 10)] + [1000.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    r = mad_outlier_stats(df, "v").collect()[0]
    assert r["n"] == 10 and r["median"] == 5.0 and r["mad"] == 2.0
    assert r["n_outliers"] == 1
    assert abs(r["max_abs_z"] - 0.6745 * 995 / 2.0) < 1e-6

    # mean/std z-score would MISS this outlier cluster; MAD doesn't:
    # 3 outliers inflate a stddev yardstick but not the MAD
    many = [10.0] * 20 + [11.0] * 20 + [500.0, 600.0, 700.0]
    df = spark.createDataFrame([(v,) for v in many], "v double")
    r = mad_outlier_stats(df, "v").collect()[0]
    assert r["n_outliers"] == 3

    # MAD == 0 (constant-heavy group): no verdict, zero outliers, NULL max
    const = spark.createDataFrame([(5.0,)] * 9 + [(9.0,)], "v double")
    r = mad_outlier_stats(const, "v").collect()[0]
    assert r["mad"] == 0.0 and r["n_outliers"] == 0 and r["max_abs_z"] is None

    # groups
    g = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 10)] + [("a", 99.0), ("b", 1.0), ("b", 2.0)],
        "g string, v double",
    )
    rows = {r["g"]: r for r in mad_outlier_stats(g, "v", ("g",)).collect()}
    assert rows["a"]["n_outliers"] == 1 and rows["b"]["n_outliers"] == 0


def test_woe_iv_hand_cases(spark):
    import math

    import pytest as _pt

    from onetl_spark.operators.quality import woe_iv

    # category A: 3 pos / 1 neg; B: 1 pos / 3 neg -> symmetric WoE
    rows = [("A", 1)] * 3 + [("A", 0)] + [("B", 1)] + [("B", 0)] * 3
    df = spark.createDataFrame(rows, "c string, y long")
    out = {r["category"]: r for r in woe_iv(df, "c", "y").collect()}
    wa = math.log((3 / 4) / (1 / 4))
    assert abs(out["A"]["woe"] - wa) < 1e-8
    assert abs(out["B"]["woe"] + wa) < 1e-8
    iv = (3 / 4 - 1 / 4) * wa + (1 / 4 - 3 / 4) * -wa
    assert abs(out["A"]["iv_total"] - iv) < 1e-7
    assert out["A"]["iv_total"] == out["B"]["iv_total"]

    # one-class category: NULL WoE, excluded from the total
    rows2 = rows + [("C", 1)] * 2
    out2 = {r["category"]: r for r in woe_iv(
        spark.createDataFrame(rows2, "c string, y long"), "c", "y").collect()}
    assert out2["C"]["woe"] is None and out2["C"]["iv_term"] is None
    # shares changed (tp 4->6), so only check C's exclusion via non-NULL total
    assert out2["A"]["iv_total"] is not None

    with _pt.raises(ValueError, match="binary"):
        woe_iv(spark.createDataFrame([("A", 2)], "c string, y long"), "c", "y")


def test_calibration_bins_hand_cases(spark):
    import pytest as _pt

    from onetl_spark.operators.quality import calibration_bins

    # perfectly calibrated halves: score 0.25 with 25% positives,
    # score 0.75 with 75% positives -> ECE 0
    rows = [(0.25, 1)] * 1 + [(0.25, 0)] * 3 + [(0.75, 1)] * 3 + [(0.75, 0)] * 1
    df = spark.createDataFrame(rows, "s double, y long")
    out = {r["bin"]: r for r in calibration_bins(df, "s", "y", bins=4).collect()}
    assert set(out) == {1, 3}
    assert out[1]["mean_score"] == 0.25 and out[1]["pos_rate"] == 0.25
    assert out[1]["ece_total"] == 0.0

    # gross miscalibration: score 0.9, no positives -> ECE = 0.9
    over = spark.createDataFrame([(0.9, 0)] * 10, "s double, y long")
    r = calibration_bins(over, "s", "y").collect()[0]
    assert r["bin"] == 9 and r["pos_rate"] == 0.0 and abs(r["ece_total"] - 0.9) < 1e-9

    # score 1.0 lands in the top bin, not bins
    top = spark.createDataFrame([(1.0, 1)], "s double, y long")
    assert calibration_bins(top, "s", "y").collect()[0]["bin"] == 9

    # 1e22 overflows the decimal(30,9) score sum: still the ValueError,
    # not an ANSI NUMERIC_VALUE_OUT_OF_RANGE
    for bad in [(1.5, 1), (1e22, 0)]:
        with _pt.raises(ValueError, match="within"):
            calibration_bins(
                spark.createDataFrame([bad], "s double, y long"), "s", "y"
            ).collect()
    with _pt.raises(ValueError, match="binary|0/1"):
        calibration_bins(
            spark.createDataFrame([(0.5, 7)], "s double, y long"), "s", "y"
        ).collect()


def test_histogram_sketch_quantiles_and_merge(spark):
    import pytest as _pt
    from pyspark.sql import functions as F

    from onetl_spark.operators.sketches import (
        histogram_merge,
        histogram_quantiles,
        histogram_sketch,
    )

    # uniform 0..999 over [0, 1000) with 10 bins: every bin holds 100
    df = spark.range(1000).select(F.col("id").cast("double").alias("v"))
    sk = histogram_sketch(df, "v", 0.0, 1000.0, bins=10)
    cells = {r["bin"]: r["cnt"] for r in sk.collect()}
    assert cells == {i: 100 for i in range(10)}

    qs = histogram_quantiles(sk, [0.0, 0.5, 0.9, 1.0])
    got = {r["q"]: r for r in qs.collect()}
    # q=0.5: target 500 -> bin 5 boundary; before=500 at bin 5? cum(4)=500
    # -> bin 4 hits exactly: est = 0 + (4 + (500-400)/100)*100 = 500
    assert got[0.5]["estimate"] == 500.0
    assert got[0.9]["estimate"] == 900.0
    assert got[0.0]["estimate"] == 0.0
    assert got[1.0]["estimate"] == 1000.0
    assert got[0.5]["error_bound"] == 100.0 and got[0.5]["n"] == 1000

    # under/overflow bins catch drift instead of clamping silently
    drift = spark.createDataFrame([(-5.0,), (1500.0,), (2000.0,)], "v double")
    dcells = {r["bin"]: r["cnt"] for r in histogram_sketch(drift, "v", 0.0, 1000.0, 10).collect()}
    assert dcells == {-1: 1, 10: 2}

    # mergeability: halves == whole, cell for cell
    a = histogram_sketch(df.filter("v < 300"), "v", 0.0, 1000.0, 10)
    b = histogram_sketch(df.filter("v >= 300"), "v", 0.0, 1000.0, 10)
    merged = {r["bin"]: r["cnt"] for r in histogram_merge(a, b).collect()}
    assert merged == cells
    # merged keeps geometry: quantiles still answer
    assert {r["q"]: r["estimate"] for r in
            histogram_quantiles(histogram_merge(a, b), [0.5]).collect()} == {0.5: 500.0}

    with _pt.raises(ValueError, match="geometry mismatch"):
        histogram_merge(a, histogram_sketch(df, "v", 0.0, 500.0, 10))
    with _pt.raises(ValueError, match="lo < hi"):
        histogram_sketch(df, "v", 5.0, 5.0)
    with _pt.raises(ValueError, match="quantiles"):
        histogram_quantiles(sk, [1.5])


def test_roc_auc_hand_cases_and_brute(spark):
    import random as _r

    import pytest as _pt

    from onetl_spark.operators.stats import roc_auc

    # perfect separation: all positives score above all negatives
    df = spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (3.0, 1), (4.0, 1)], "s double, y int"
    )
    row = roc_auc(df, "s", "y").collect()[0]
    assert (row["n_pos"], row["n_neg"], row["auc"], row["gini_ml"]) == (2, 2, 1.0, 1.0)

    # random scores vs pairwise brute force (ties count 1/2)
    rng = _r.Random(11)
    data = [(float(rng.randint(0, 9)), rng.randint(0, 1)) for _ in range(120)]
    pos = [s for s, y in data if y == 1]
    neg = [s for s, y in data if y == 0]
    brute = sum(
        1.0 if p > q else 0.5 if p == q else 0.0 for p in pos for q in neg
    ) / (len(pos) * len(neg))
    got = roc_auc(
        spark.createDataFrame(data, "s double, y int"), "s", "y"
    ).collect()[0]
    assert abs(got["auc"] - brute) < 1e-9
    assert abs(got["gini_ml"] - (2 * brute - 1)) < 1e-9

    # single-class input is undefined
    ones = spark.createDataFrame([(1.0, 1), (2.0, 1)], "s double, y int")
    with _pt.raises(ValueError, match="both classes"):
        roc_auc(ones, "s", "y")


def test_cumulative_gains_hand_case(spark):
    import pytest as _pt

    from onetl_spark.operators.stats import cumulative_gains

    # 6 rows, 2 buckets: top half by score holds 2 of 3 positives
    df = spark.createDataFrame(
        [(60.0, 1, 1), (50.0, 1, 2), (40.0, 0, 3),
         (30.0, 1, 4), (20.0, 0, 5), (10.0, 0, 6)],
        "s double, y int, id long",
    )
    rows = cumulative_gains(
        df, "s", "y", tiebreak_cols=("id",), n_buckets=2
    ).collect()
    assert [(r["bucket"], r["n"], r["n_pos"]) for r in rows] == [(1, 3, 2), (2, 3, 1)]
    assert abs(rows[0]["cum_pos_share"] - 2 / 3) < 1e-9
    assert rows[1]["cum_pos_share"] == 1.0
    # bucket-1 lift: (2/3) / (3/6) = 4/3
    assert abs(rows[0]["lift"] - 4 / 3) < 1e-9

    with _pt.raises(ValueError, match="n_buckets"):
        cumulative_gains(df, "s", "y", n_buckets=0)


def test_acf_ljung_box_matches_python_reference(spark):
    import pytest as _pt

    from onetl_spark.operators.stats import acf_ljung_box

    xs = [1, 5, 2, 8, 3, 9, 4, 7, 2, 6, 1, 8]
    n = len(xs)
    mean = sum(xs) / n
    den = sum((x - mean) ** 2 for x in xs)

    def ref_acf(k):
        return sum((xs[t] - mean) * (xs[t + k] - mean) for t in range(n - k)) / den

    df = spark.createDataFrame(list(enumerate(xs)), "t long, x long")
    rows = acf_ljung_box(df, "t", "x", max_lag=3).collect()
    q = 0.0
    for k, r in zip((1, 2, 3), rows):
        assert r["lag"] == k and r["n_pairs"] == n - k
        assert abs(r["acf"] - ref_acf(k)) < 1e-8, k
        q += ref_acf(k) ** 2 / (n - k)
        assert abs(r["ljung_box_q"] - n * (n + 2) * q) < 1e-7, k

    # a gap in the index drops pairs that straddle it, nothing else
    gappy = spark.createDataFrame(
        [(t if t < 5 else t + 1, x) for t, x in enumerate(xs)], "t long, x long"
    )
    g = {r["lag"]: r["n_pairs"] for r in acf_ljung_box(gappy, "t", "x", max_lag=2).collect()}
    # surviving indices 0..4,6..12: lag 1 keeps 4+6 pairs (the two that
    # straddled old index 5 are gone); lag 2 keeps 3+1+5 = 9
    assert g == {1: n - 2, 2: n - 3}

    with _pt.raises(ValueError, match="max_lag"):
        acf_ljung_box(df, "t", "x", max_lag=0)


def test_kaplan_meier_textbook_and_zero_pin(spark):
    from onetl_spark.operators.stats import kaplan_meier

    # classic worked example: durations 1,2,2,3,4 / events 1,1,0,1,0
    df = spark.createDataFrame(
        [(1, 1), (2, 1), (2, 0), (3, 1), (4, 0)], "dur long, ev int"
    )
    rows = {r["duration"]: r for r in kaplan_meier(df, "dur", "ev").collect()}
    assert set(rows) == {1, 2, 3}  # censored-only duration 4 emits no row
    assert rows[1]["n_risk"] == 5 and abs(rows[1]["survival"] - 0.8) < 1e-9
    assert rows[2]["n_risk"] == 4 and rows[2]["n_censored"] == 1
    assert abs(rows[2]["survival"] - 0.6) < 1e-9
    assert rows[3]["n_risk"] == 2 and abs(rows[3]["survival"] - 0.3) < 1e-9

    # risk set exhausted mid-curve: S = 1/3 at t=1, then the last
    # subject dies at t=2 (d == n_risk) and survival pins to exactly
    # 0.0 — the ln(0) engine-divergence guard
    df2 = spark.createDataFrame([(1, 1), (1, 1), (2, 1)], "dur long, ev int")
    rows2 = {r["duration"]: r["survival"] for r in kaplan_meier(df2, "dur", "ev").collect()}
    assert abs(rows2[1] - 1 / 3) < 1e-8 and rows2[2] == 0.0

    # full exhaustion at the first event time pins immediately
    df3 = spark.createDataFrame([(1, 1), (1, 1)], "dur long, ev int")
    assert [r["survival"] for r in kaplan_meier(df3, "dur", "ev").collect()] == [0.0]


def test_grouped_quantiles_rank_selection(spark):
    import pytest as _pt

    from onetl_spark.operators.quality import grouped_quantiles

    # group a: 1..10 -> lower p50 = 5 (cum 5/10 >= 1/2), p90 = 9
    # group b: 1,1,1,100 -> p50 = 1, p90 = 100, p25 = 1
    rows = [("a", float(i)) for i in range(1, 11)] + [
        ("b", 1.0), ("b", 1.0), ("b", 1.0), ("b", 100.0)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        (r["g"], r["quantile"]): (r["value"], r["total_weight"])
        for r in grouped_quantiles(
            df, "v", quantiles=(0.25, 0.5, 0.9, 1.0), group_cols=("g",)
        ).collect()
    }
    assert got[("a", 0.5)] == (5.0, 10.0)
    assert got[("a", 0.9)] == (9.0, 10.0)
    assert got[("a", 1.0)] == (10.0, 10.0)
    assert got[("b", 0.25)] == (1.0, 4.0)
    assert got[("b", 0.5)] == (1.0, 4.0)
    assert got[("b", 0.9)] == (100.0, 4.0)

    # weighted: weight 3 on value 1 vs weight 1 on value 9 -> p50 = 1
    wdf = spark.createDataFrame([(1.0, 3.0), (9.0, 1.0)], "v double, w double")
    wrow = grouped_quantiles(wdf, "v", quantiles=(0.5,), weight_col="w").collect()[0]
    assert wrow["value"] == 1.0 and wrow["total_weight"] == 4.0

    with _pt.raises(ValueError, match="not in"):
        grouped_quantiles(df, "v", quantiles=(0.0,))
    with _pt.raises(ValueError, match="at least one"):
        grouped_quantiles(df, "v", quantiles=())
    with _pt.raises(ValueError, match="non-negative"):
        grouped_quantiles(
            spark.createDataFrame([(1.0, -1.0)], "v double, w double"),
            "v", weight_col="w",
        )


def _brute_tau_b(xy):
    n = len(xy)
    p = q = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = (xy[j][0] > xy[i][0]) - (xy[j][0] < xy[i][0])
            dy = (xy[j][1] > xy[i][1]) - (xy[j][1] < xy[i][1])
            if dx * dy > 0:
                p += 1
            elif dx * dy < 0:
                q += 1
    from collections import Counter

    n1 = sum(t * (t - 1) // 2 for t in Counter(x for x, _ in xy).values())
    n2 = sum(t * (t - 1) // 2 for t in Counter(y for _, y in xy).values())
    n0 = n * (n - 1) // 2
    den = ((n0 - n1) * (n0 - n2)) ** 0.5
    return p, q, n1, n2, (p - q) / den if den else None


def test_kendall_tau_b_matches_brute_force(spark):
    import random

    from onetl_spark.operators.stats import kendall_tau_b

    rng = random.Random(3)
    xy = [(rng.randrange(5), rng.randrange(4)) for _ in range(200)]
    df = spark.createDataFrame(xy, "x int, y int")
    row = kendall_tau_b(df, "x", "y").collect()[0]
    p, q, n1, n2, tau = _brute_tau_b(xy)
    assert (row["n"], row["concordant"], row["discordant"]) == (200, p, q)
    assert (row["ties_x"], row["ties_y"]) == (n1, n2)
    assert abs(row["tau_b"] - tau) < 1e-8


def test_kendall_tau_b_edge_cases(spark):
    from onetl_spark.operators.stats import kendall_tau_b

    # perfect monotone agreement -> tau_b = 1
    df = spark.createDataFrame([(i, i * 2) for i in range(10)], "x int, y int")
    assert kendall_tau_b(df, "x", "y").collect()[0]["tau_b"] == 1.0
    # constant column -> undefined (NULL), not a division error
    const = spark.createDataFrame([(1, i) for i in range(5)], "x int, y int")
    assert kendall_tau_b(const, "x", "y").collect()[0]["tau_b"] is None
    # NULLs dropped
    withnull = spark.createDataFrame(
        [(1, 1), (2, 2), (None, 3)], "x int, y int"
    )
    assert kendall_tau_b(withnull, "x", "y").collect()[0]["n"] == 2


def test_wasserstein_1_known_shift(spark):
    from onetl_spark.operators.stats import wasserstein_1

    # pure translation by delta: W1 == delta exactly
    a = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    b = spark.createDataFrame([(float(i) + 7.5,) for i in range(100)], "v double")
    row = wasserstein_1(a, b, "v").collect()[0]
    assert (row["n_ref"], row["n_cur"]) == (100, 100)
    assert abs(row["w1_distance"] - 7.5) < 1e-6


def test_nelson_aalen_hand_computed(spark):
    from onetl_spark.operators.stats import nelson_aalen

    # subjects: events at t=1 (2 of 5 at risk), censor at t=2,
    # event at t=3 (1 of 2 at risk)
    rows = [(1, 1), (1, 1), (2, 0), (3, 1), (3, 0)]
    df = spark.createDataFrame(rows, "dur int, obs int")
    got = {r["duration"]: r for r in nelson_aalen(df, "dur", "obs").collect()}
    assert set(got) == {1, 3}
    assert got[1]["n_risk"] == 5 and got[1]["n_events"] == 2
    assert abs(got[1]["cum_hazard"] - 0.4) < 1e-9
    assert got[3]["n_risk"] == 2 and got[3]["n_events"] == 1
    assert abs(got[3]["cum_hazard"] - 0.9) < 1e-9
    import math

    assert abs(got[3]["na_survival"] - math.exp(-0.9)) < 1e-6


def test_logrank_brute_force(spark):
    import random
    from collections import defaultdict

    from onetl_spark.operators.stats import logrank_test

    rng = random.Random(9)
    rows = [
        (rng.randrange(1, 12), rng.randrange(2), "a" if rng.random() < 0.5 else "b")
        for _ in range(120)
    ]
    df = spark.createDataFrame(rows, "dur int, obs int, grp string")
    got = logrank_test(df, "dur", "obs", "grp").collect()[0]

    per_t = defaultdict(lambda: [0, 0, 0, 0])  # n, d, n1, d1
    for t, e, g in rows:
        r = per_t[t]
        r[0] += 1
        r[1] += e
        if g == "a":
            r[2] += 1
            r[3] += e
    total = len(rows)
    total1 = sum(1 for *_, g in rows if g == "a")
    seen = seen1 = 0
    o1 = e1 = v = 0.0
    for t in sorted(per_t):
        n, d, n1c, d1 = per_t[t]
        nt, nt1 = total - seen, total1 - seen1
        if d > 0:
            f = nt1 / nt
            o1 += d1
            e1 += d * f
            if nt > 1:
                v += d * f * (1 - f) * (nt - d) / (nt - 1)
        seen += n
        seen1 += n1c
    assert got["n1"] == total1 and got["n2"] == total - total1
    assert got["observed_1"] == o1
    assert abs(got["expected_1"] - e1) < 1e-6
    assert abs(got["variance"] - v) < 1e-6
    assert abs(got["chi2"] - (o1 - e1) ** 2 / v) < 1e-5

    import pytest

    one_group = spark.createDataFrame([(1, 1, "a")], "dur int, obs int, grp string")
    with pytest.raises(ValueError):
        logrank_test(one_group, "dur", "obs", "grp")


def test_kruskal_wallis_hand_cases(spark):
    from onetl_spark.operators.stats import kruskal_wallis

    # no ties: {1,2} vs {3,4} -> classic H = 2.4
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0)], "g string, v double"
    )
    row = kruskal_wallis(df, "v", "g").collect()[0]
    assert row["n_total"] == 4 and row["k_groups"] == 2
    assert abs(row["h_stat"] - 2.4) < 1e-9

    # ties across groups: {1,2,2} vs {2,3} -> tie-corrected H = 5/3
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 2.0), ("b", 2.0), ("b", 3.0)],
        "g string, v double",
    )
    row = kruskal_wallis(df, "v", "g").collect()[0]
    assert abs(row["h_stat"] - 5.0 / 3.0) < 1e-8

    # all values identical: zero rank variance -> NULL
    df = spark.createDataFrame([("a", 7.0), ("b", 7.0)], "g string, v double")
    assert kruskal_wallis(df, "v", "g").collect()[0]["h_stat"] is None

    import pytest as _pt

    empty = spark.createDataFrame([], "g string, v double")
    with _pt.raises(ValueError, match="non-empty"):
        kruskal_wallis(empty, "v", "g")


def test_cliffs_delta_hand_cases(spark):
    from onetl_spark.operators.stats import cliffs_delta

    a = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    b = spark.createDataFrame([(3.0,), (4.0,)], "v double")
    row = cliffs_delta(a, b, "v").collect()[0]
    assert row["cliffs_delta"] == -1.0 and row["magnitude"] == "large"

    # ties: U=1, n1*n2=6 -> delta = -2/3
    a = spark.createDataFrame([(1.0,), (2.0,), (2.0,)], "v double")
    b = spark.createDataFrame([(2.0,), (3.0,)], "v double")
    row = cliffs_delta(a, b, "v").collect()[0]
    assert abs(row["cliffs_delta"] - (-2.0 / 3.0)) < 1e-8

    # identical samples: delta 0 -> negligible
    c = spark.createDataFrame([(5.0,), (6.0,)], "v double")
    row = cliffs_delta(c, c, "v").collect()[0]
    assert row["cliffs_delta"] == 0.0 and row["magnitude"] == "negligible"


def test_jarque_bera_hand_case(spark):
    from onetl_spark.operators.stats import jarque_bera

    # {1..5}: m2=2, skew=0, m4=6.8 -> kurt=-1.3, JB = 5/6 * 1.69/4
    df = spark.createDataFrame([(float(i),) for i in range(1, 6)], "v double")
    row = jarque_bera(df, "v").collect()[0]
    assert row["n"] == 5
    assert row["skewness"] == 0.0
    assert abs(row["excess_kurtosis"] - (-1.3)) < 1e-6
    assert abs(row["jb_stat"] - round(5 / 6.0 * (1.69 / 4.0), 6)) < 1e-6

    const = spark.createDataFrame([(2.0,), (2.0,)], "v double")
    row = jarque_bera(const, "v").collect()[0]
    assert row["jb_stat"] is None and row["skewness"] is None


def test_levene_hand_case(spark):
    from onetl_spark.operators.stats import levene_test

    # a={1,2,9} (mean 4, z={3,2,5}), b={3,7} (mean 5, z={2,2})
    # ssb=32/15, ssw=14/3 -> W = (32/15)/(14/9) = 48/35
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 9.0), ("b", 3.0), ("b", 7.0)],
        "g string, v double",
    )
    row = levene_test(df, "v", "g").collect()[0]
    assert row["k"] == 2 and row["n_total"] == 5
    assert abs(row["w_stat"] - round(48 / 35.0, 6)) < 1e-6

    # zero within-variance of deviations -> NULL, not ANSI divide error
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 5.0), ("b", 2.0), ("b", 4.0)], "g string, v double"
    )
    assert levene_test(df, "v", "g").collect()[0]["w_stat"] is None


def test_tukey_hsd_hand_case(spark):
    from onetl_spark.operators.stats import tukey_hsd

    # a={1,2}, b={3,5}: msw=1.25, se=sqrt(0.625), q=2.5/se
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 5.0)], "g string, v double"
    )
    rows = tukey_hsd(df, "v", "g").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["group_a"], r["group_b"], r["n_a"], r["n_b"]) == ("a", "b", 2, 2)
    assert abs(r["mean_diff"] - (-2.5)) < 1e-6
    assert abs(r["q_stat"] - round(2.5 / (0.625 ** 0.5), 6)) < 1e-6


def test_mcnemar_hand_case(spark):
    from onetl_spark.operators.stats import mcnemar_test

    # b=3 a-only, c=1 b-only -> chi2 = 4/4 = 1
    rows = [(1, 0)] * 3 + [(0, 1)] + [(1, 1)] * 2 + [(0, 0)]
    df = spark.createDataFrame(rows, "a int, b int")
    r = mcnemar_test(df, "a", "b").collect()[0]
    assert (r["n"], r["n_a_only"], r["n_b_only"]) == (7, 3, 1)
    assert r["chi2"] == 1.0

    # perfect agreement -> NULL chi2
    df = spark.createDataFrame([(1, 1), (0, 0)], "a int, b int")
    assert mcnemar_test(df, "a", "b").collect()[0]["chi2"] is None


def test_cohens_kappa_hand_case(spark):
    from onetl_spark.operators.stats import cohens_kappa

    # classic 2x2: agree 20+15, a-marg {25,25}, b-marg {30,20}, n=50
    # po=0.7, pe=(25*30+25*20)/2500=0.5 -> kappa=0.4
    rows = (
        [("x", "x")] * 20 + [("x", "y")] * 5 + [("y", "x")] * 10 + [("y", "y")] * 15
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohens_kappa(df, "a", "b").collect()[0]
    assert (r["n"], r["n_agree"]) == (50, 35)
    assert abs(r["po"] - 0.7) < 1e-9 and abs(r["pe"] - 0.5) < 1e-9
    assert abs(r["kappa"] - 0.4) < 1e-9

    # single shared category: pe=1 -> NULL kappa
    df = spark.createDataFrame([("x", "x")] * 3, "a string, b string")
    assert cohens_kappa(df, "a", "b").collect()[0]["kappa"] is None

    # disjoint label sets: zero agreement, pe=0 -> kappa=0? no: po=0, pe=0 -> kappa 0
    df = spark.createDataFrame([("x", "y"), ("x", "z")], "a string, b string")
    r = cohens_kappa(df, "a", "b").collect()[0]
    assert r["n_agree"] == 0 and r["kappa"] == 0.0


def test_durbin_watson_hand_case(spark):
    from onetl_spark.operators.stats import durbin_watson

    # perfectly linear series -> zero residuals -> NULL DW
    df = spark.createDataFrame([(i, 10 * i) for i in range(1, 6)], "t long, y long")
    r = durbin_watson(df, "t", "y").collect()[0]
    assert r["slope"] == 10.0 and r["dw_stat"] is None

    # alternating residuals around a flat trend: y = {0,2,0,2} on t={1..4}
    # slope ~ 0.4, residuals e={-0.6, 1.0, -1.4, 0.2}... verify vs numpy-style calc
    df = spark.createDataFrame([(1, 0), (2, 2), (3, 0), (4, 2)], "t long, y long")
    r = durbin_watson(df, "t", "y").collect()[0]
    # moments: n=4 sx=10 sy=4 sxy=12 sxx=30 -> slope=(12-10)/ (30-25)=0.4
    # intercept=(4-0.4*10)/4=0.0; e={-0.4,1.2,-1.2,0.4}
    # num=(1.6^2+2.4^2+1.6^2)=2.56+5.76+2.56=10.88 den=0.16+1.44+1.44+0.16=3.2
    assert abs(r["slope"] - 0.4) < 1e-9 and r["intercept"] == 0.0
    assert abs(r["dw_stat"] - 3.4) < 1e-9
    assert abs(r["rho_approx"] - (1.0 - 1.7)) < 1e-9


def test_runs_test_hand_case(spark):
    from onetl_spark.operators.stats import runs_test

    # series 1,9,1,9,1,9 around lower median 1 -> equals-median dropped (three 1s)
    # kept: 9,9,9 -> one run, all above
    df = spark.createDataFrame(
        [(1, 1.0), (2, 9.0), (3, 1.0), (4, 9.0), (5, 1.0), (6, 9.0)],
        "t long, y double",
    )
    r = runs_test(df, "t", "y").collect()[0]
    assert (r["n_above"], r["n_below"], r["n_runs"]) == (3, 0, 1)
    assert r["z_score"] is None

    # alternating around median of {1..6}: med=3 (lower), drop the 3
    # signs by t: 1:below 2:below 6:above 4:above 5:above -> order t: b,b,a,a,a -> 2 runs
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 6.0), (4, 4.0), (5, 5.0), (6, 3.0)],
        "t long, y double",
    )
    r = runs_test(df, "t", "y").collect()[0]
    assert (r["n_above"], r["n_below"], r["n_runs"]) == (3, 2, 2)
    # mu = 2*3*2/5+1 = 3.4; var = 12*(12-5)/(25*4) = 0.84
    want = round((2 - 3.4) / (0.84 ** 0.5), 9)
    assert abs(r["z_score"] - want) < 1e-8


def test_distribution_distance_hand_case(spark):
    from onetl_spark.operators.quality import distribution_distance

    # identical distributions (dyadic shares, exact under round-9):
    # BC=1, H=0, TVD=0
    a = spark.createDataFrame([(1.0,), (5.0,), (9.0,), (9.5,)], "v double")
    r = distribution_distance(a, a, "v", bounds=[4.0, 8.0]).collect()[0]
    assert r["bhattacharyya"] == 1.0 and r["hellinger"] == 0.0 and r["tvd"] == 0.0

    # disjoint bins -> BC=0, H=1, TVD=1
    lo = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    hi = spark.createDataFrame([(9.0,), (9.5,)], "v double")
    r = distribution_distance(lo, hi, "v", bounds=[4.0, 8.0]).collect()[0]
    assert r["bhattacharyya"] == 0.0 and r["hellinger"] == 1.0 and r["tvd"] == 1.0

    # half overlap: p=(1,0), q=(0.5,0.5) over bounds [4]:
    # BC = sqrt(0.5), TVD = 0.5
    q = spark.createDataFrame([(1.0,), (9.0,)], "v double")
    r = distribution_distance(lo, q, "v", bounds=[4.0]).collect()[0]
    assert abs(r["bhattacharyya"] - round(0.5 ** 0.5, 9)) < 1e-9
    assert abs(r["tvd"] - 0.5) < 1e-9

    import pytest as _pt

    empty = spark.createDataFrame([], "v double")
    with _pt.raises(ValueError, match="non-empty"):
        distribution_distance(lo, empty, "v", bounds=[4.0])


def test_dispersion_index_hand_case(spark):
    from onetl_spark.operators.stats import dispersion_index

    # counts {1,2,3}: mean 2, var 1 -> D=0.5, chi2=1
    df = spark.createDataFrame([(1,), (2,), (3,)], "c long")
    r = dispersion_index(df, "c").collect()[0]
    assert (r["n"], r["mean"], r["variance"]) == (3, 2.0, 1.0)
    assert r["dispersion"] == 0.5 and r["chi2"] == 1.0

    # single row -> NULL variance/dispersion
    df = spark.createDataFrame([(4,)], "c long")
    r = dispersion_index(df, "c").collect()[0]
    assert r["variance"] is None and r["dispersion"] is None


def test_bh_adjust_hand_case(spark):
    from pyspark.sql import functions as F

    from onetl_spark.operators.stats import bh_adjust, erfc_approx

    # erfc(0) ~ 1, erfc(large) ~ 0 (A&S 7.1.26, |err| < 1.5e-7)
    probe = spark.range(1).select(
        erfc_approx(F.lit(0.0)).alias("e0"), erfc_approx(F.lit(5.0)).alias("e5")
    ).collect()[0]
    assert abs(probe["e0"] - 1.0) < 2e-7 and probe["e5"] < 1e-9

    df = spark.createDataFrame(
        [("a", 0.005), ("b", 0.04), ("c", 0.2), ("d", 0.9)], "t string, p double"
    )
    rows = {
        r["t"]: r
        for r in bh_adjust(df, "p", alpha=0.05, tie_cols=("t",)).collect()
    }
    assert rows["a"]["p_adj"] == 0.02 and rows["a"]["rejected"]
    assert rows["b"]["p_adj"] == 0.08 and not rows["b"]["rejected"]
    assert abs(rows["c"]["p_adj"] - round(0.8 / 3, 9)) < 1e-9
    assert rows["d"]["p_adj"] == 0.9

    # NULL p dropped, m shrinks to the survivors
    df = spark.createDataFrame([("a", 0.03), ("b", None)], "t string, p double")
    rows = bh_adjust(df, "p", tie_cols=("t",)).collect()
    assert len(rows) == 1 and rows[0]["p_adj"] == 0.03 and rows[0]["rejected"]


def test_pr_auc_hand_case(spark):
    from onetl_spark.operators.stats import pr_auc

    # scores {3,2,1}, labels {1,0,1}: AP = 1/2*1 + 1/2*(2/3) = 5/6
    df = spark.createDataFrame([(3.0, 1), (2.0, 0), (1.0, 1)], "v double, y int")
    r = pr_auc(df, "v", "y").collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (2, 1)
    assert abs(r["pr_auc"] - (0.5 + round(1 / 3, 9))) < 1e-8
    assert abs(r["prevalence"] - round(2 / 3, 9)) < 1e-9

    # perfect ranking -> AP = 1
    df = spark.createDataFrame([(3.0, 1), (2.0, 1), (1.0, 0)], "v double, y int")
    assert pr_auc(df, "v", "y").collect()[0]["pr_auc"] == 1.0

    import pytest as _pt

    allpos = spark.createDataFrame([(1.0, 1)], "v double, y int")
    with _pt.raises(ValueError, match="both classes"):
        pr_auc(allpos, "v", "y")


def test_calibration_report_hand_case(spark):
    from onetl_spark.operators.quality import calibration_report

    ref = spark.createDataFrame(
        [(1.0, 1), (1.0, 0), (9.0, 1)], "v double, y int"
    )
    cur = spark.createDataFrame([(1.0, 1), (9.0, 0)], "v double, y int")
    rows = {
        r["bucket"]: r
        for r in calibration_report(ref, cur, "v", "y", bounds=[5.0]).collect()
    }
    b0, b1 = rows[0], rows[1]
    assert b0["predicted"] == 0.5 and b0["observed"] == 1.0 and b0["gap"] == 0.5
    assert b0["ece_contrib"] == 0.25 and b0["brier_contrib"] == 0.125
    assert b1["predicted"] == 1.0 and b1["observed"] == 0.0
    assert b1["ece_contrib"] == 0.5 and b1["brier_contrib"] == 0.5

    # bucket unseen in training -> NULL prediction, never imputed
    cur2 = spark.createDataFrame([(1.0, 0)], "v double, y int")
    ref2 = spark.createDataFrame([(9.0, 1)], "v double, y int")
    r = calibration_report(ref2, cur2, "v", "y", bounds=[5.0]).collect()[0]
    assert r["predicted"] is None and r["gap"] is None


def test_info_gain_hand_case(spark):
    import math

    from onetl_spark.operators.stats import info_gain

    # perfect predictor f1 (IG = H(y) = ln 2); useless predictor f2 (IG = 0)
    rows = [("a", "x", 1), ("a", "y", 1), ("b", "x", 0), ("b", "y", 0)]
    df = spark.createDataFrame(rows, "f1 string, f2 string, y int")
    out = {r["feature"]: r for r in info_gain(df, "y", ("f1", "f2")).collect()}
    ln2 = round(math.log(2.0), 9)
    assert abs(out["f1"]["entropy_y"] - ln2) < 1e-9
    assert out["f1"]["cond_entropy"] == 0.0
    assert abs(out["f1"]["info_gain"] - ln2) < 1e-9
    assert abs(out["f1"]["gain_ratio"] - 1.0) < 1e-6
    assert abs(out["f2"]["info_gain"]) < 1e-8
    assert out["f2"]["n_values"] == 2


def test_cochran_armitage_hand_case(spark):
    from onetl_spark.operators.stats import cochran_armitage

    # rates rise with score: w=1 0/2 pos, w=2 1/2, w=3 2/2
    rows = [(1, 0), (1, 0), (2, 1), (2, 0), (3, 1), (3, 1)]
    df = spark.createDataFrame(rows, "w long, y int")
    r = cochran_armitage(df, "w", "y").collect()[0]
    assert (r["n"], r["n_pos"]) == (6, 3)
    # T = sum(w*r) - R*sum(w*n)/N = (2+6) - 3*12/6 = 2
    assert r["t_stat"] == 2.0
    # Var = R(N-R)/(N(N-1)) * (sum(w^2 n) - (sum(wn))^2/N)
    #     = 9/30 * (2+8+18 - 144/6) = 0.3 * 4 = 1.2
    want = round(2.0 / (1.2 ** 0.5), 9)
    assert abs(r["z_score"] - want) < 1e-9

    # single level -> zero variance -> NULL z
    df = spark.createDataFrame([(2, 1), (2, 0)], "w long, y int")
    assert cochran_armitage(df, "w", "y").collect()[0]["z_score"] is None


def test_friedman_hand_case(spark):
    from onetl_spark.operators.stats import friedman_test

    # two identical blocks, consistent ordering A<B<C -> chi2 = n(k-1) = 4
    rows = []
    for b in ("d1", "d2"):
        rows += [(b, "A", 1.0), (b, "B", 2.0), (b, "C", 3.0)]
    df = spark.createDataFrame(rows, "b string, t string, v double")
    r = friedman_test(df, "b", "t", "v").collect()[0]
    assert (r["n_blocks"], r["k_treatments"]) == (2, 3)
    assert abs(r["chi2"] - 4.0) < 1e-9

    # incomplete block dropped: d3 lacks treatment C
    rows2 = rows + [("d3", "A", 9.0), ("d3", "B", 1.0)]
    df = spark.createDataFrame(rows2, "b string, t string, v double")
    r = friedman_test(df, "b", "t", "v").collect()[0]
    assert r["n_blocks"] == 2 and abs(r["chi2"] - 4.0) < 1e-9

    # all-tied values inside every block -> zero rank variance -> NULL
    tied = [(b, t, 5.0) for b in ("d1", "d2") for t in ("A", "B")]
    df = spark.createDataFrame(tied, "b string, t string, v double")
    assert friedman_test(df, "b", "t", "v").collect()[0]["chi2"] is None

    import pytest as _pt

    one = spark.createDataFrame([("d1", "A", 1.0)], "b string, t string, v double")
    with _pt.raises(ValueError, match="2 treatments"):
        friedman_test(one, "b", "t", "v")


def test_mantel_haenszel_hand_case(spark):
    from onetl_spark.operators.stats import mantel_haenszel

    # one stratum: a=2 d=3 b=1 c=1, n=7 -> OR = (2*3/7)/(1*1/7) = 6
    rows = (
        [("s1", 1, 1)] * 2 + [("s1", 1, 0)] + [("s1", 0, 1)] + [("s1", 0, 0)] * 3
    )
    df = spark.createDataFrame(rows, "s string, e int, y int")
    r = mantel_haenszel(df, "s", "e", "y").collect()[0]
    assert (r["n"], r["n_strata"]) == (7, 1)
    assert abs(r["or_mh"] - 6.0) < 1e-7

    # no discordant cells -> NULL
    rows = [("s1", 1, 1), ("s1", 0, 1)]
    df = spark.createDataFrame(rows, "s string, e int, y int")
    assert mantel_haenszel(df, "s", "e", "y").collect()[0]["or_mh"] is None


def test_cronbach_alpha_hand_case(spark):
    from onetl_spark.operators.stats import cronbach_alpha

    # two perfectly correlated items: var_i = v each, var_tot = 4v
    # alpha = 2 * (1 - 2v/4v) = 1
    df = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "a long, b long")
    r = cronbach_alpha(df, ("a", "b")).collect()[0]
    assert (r["n"], r["k_items"]) == (3, 2)
    assert abs(r["alpha"] - 1.0) < 1e-9

    # independent-ish: b reversed -> total constant -> zero total var -> NULL
    df = spark.createDataFrame([(1, 3), (2, 2), (3, 1)], "a long, b long")
    assert cronbach_alpha(df, ("a", "b")).collect()[0]["alpha"] is None

    import pytest as _pt

    with _pt.raises(ValueError, match="2 items"):
        cronbach_alpha(df, ("a",))


def test_wasserstein_1_hand_case(spark):
    from onetl_spark.operators.stats import wasserstein_1

    # ref = {0, 1}, cur = {1, 2}: F_ref - F_cur = 0.5 on [0,1) and on
    # [1,2) => W1 = 0.5*1 + 0.5*1 = 1.0  (classic shifted-by-1 example)
    a = spark.createDataFrame([(0.0,), (1.0,)], "x double")
    b = spark.createDataFrame([(1.0,), (2.0,)], "x double")
    r = wasserstein_1(a, b, "x").collect()[0]
    assert r["n_ref"] == 2 and r["n_cur"] == 2
    assert r["w1_distance"] == pytest.approx(1.0, abs=1e-8)


def test_wasserstein_1_identical_is_zero(spark):
    from onetl_spark.operators.stats import wasserstein_1

    a = spark.createDataFrame([(float(i % 7),) for i in range(50)], "x double")
    r = wasserstein_1(a, a, "x").collect()[0]
    assert r["w1_distance"] == 0.0


def test_wasserstein_1_bucket_boundaries_exact(spark):
    import random

    from onetl_spark.operators.stats import wasserstein_1

    # many distinct values + few buckets => boundary terms must stitch:
    # compare against the O(n) single-machine reference
    rng = random.Random(7)
    xs = sorted(rng.uniform(0, 100) for _ in range(200))
    ys = sorted(rng.uniform(10, 110) for _ in range(150))
    a = spark.createDataFrame([(x,) for x in xs], "x double")
    b = spark.createDataFrame([(y,) for y in ys], "x double")
    r = wasserstein_1(a, b, "x", buckets=5).collect()[0]

    vs = sorted(set(xs) | set(ys))
    import bisect

    def ecdf(sorted_vals, v):
        return bisect.bisect_right(sorted_vals, v) / len(sorted_vals)

    ref = sum(
        abs(ecdf(xs, vs[i - 1]) - ecdf(ys, vs[i - 1])) * (vs[i] - vs[i - 1])
        for i in range(1, len(vs))
    )
    assert r["w1_distance"] == pytest.approx(ref, abs=1e-6)


def test_auc_delong_matches_bruteforce(spark):
    import random

    from onetl_spark.operators.stats import auc_delong

    rng = random.Random(11)
    rows = [(rng.gauss(1.0 if rng.random() < 0.4 else 0.0, 1.0),) for _ in range(300)]
    labeled = [(v, 1 if i % 3 == 0 else 0) for i, (v,) in enumerate(rows)]
    df = spark.createDataFrame(labeled, "v double, y int")
    r = auc_delong(df, "v", "y", buckets=5).collect()[0]

    pos = sorted(v for v, y in labeled if y == 1)
    neg = sorted(v for v, y in labeled if y == 0)
    import bisect

    def plc_against(other, v):
        lo = bisect.bisect_left(other, v)
        hi = bisect.bisect_right(other, v)
        return (lo + 0.5 * (hi - lo)) / len(other)

    pp = [plc_against(neg, v) for v in pos]
    pn = [1 - plc_against(pos, v) for v in neg]
    m, n = len(pos), len(neg)
    auc = sum(pp) / m
    import statistics

    var = statistics.variance(pp) / m + statistics.variance(pn) / n
    assert r["n_pos"] == m and r["n_neg"] == n
    assert r["auc"] == pytest.approx(auc, abs=1e-6)
    assert r["se"] == pytest.approx(var ** 0.5, abs=1e-6)
    assert r["ci_lo"] < r["auc"] < r["ci_hi"]


def test_energy_distance_point_masses(spark):
    from onetl_spark.operators.stats import energy_distance

    # X ≡ {0}, Y ≡ {1}: E|X−Y| = 1, within terms 0 → D² = 2, e-coef = 1
    a = spark.createDataFrame([(0.0,)] * 4, "v double")
    b = spark.createDataFrame([(1.0,)] * 6, "v double")
    r = energy_distance(a, b, "v").collect()[0]
    assert r["energy_d2"] == pytest.approx(2.0, abs=1e-7)
    assert r["e_coefficient"] == pytest.approx(1.0, abs=1e-7)
    # identical distributions: D² = 0
    same = energy_distance(a, a, "v").collect()[0]
    assert same["energy_d2"] == pytest.approx(0.0, abs=1e-7)


def test_energy_distance_brute_force(spark):
    import random

    from onetl_spark.operators.stats import energy_distance

    rng = random.Random(3)
    xs = [round(rng.uniform(0, 10), 3) for _ in range(60)]
    ys = [round(rng.gauss(6, 2), 3) for _ in range(90)]
    a = spark.createDataFrame([(x,) for x in xs], "v double")
    b = spark.createDataFrame([(y,) for y in ys], "v double")
    r = energy_distance(a, b, "v", buckets=5).collect()[0]

    def mean_abs(u, w):
        return sum(abs(x - y) for x in u for y in w) / (len(u) * len(w))

    exy = mean_abs(xs, ys)
    exx = mean_abs(xs, xs)
    eyy = mean_abs(ys, ys)
    assert r["e_between"] == pytest.approx(exy, abs=1e-5)
    assert r["e_within_ref"] == pytest.approx(exx, abs=1e-5)
    assert r["e_within_cur"] == pytest.approx(eyy, abs=1e-5)
    assert r["energy_d2"] == pytest.approx(2 * exy - exx - eyy, abs=1e-5)


def test_cramer_von_mises_brute_force(spark):
    import random
    from bisect import bisect_right

    from onetl_spark.operators.stats import cramer_von_mises

    rng = random.Random(9)
    xs = [round(rng.uniform(0, 10), 2) for _ in range(70)]
    ys = [round(rng.uniform(2, 12), 2) for _ in range(50)]
    a = spark.createDataFrame([(x,) for x in xs], "v double")
    b = spark.createDataFrame([(y,) for y in ys], "v double")
    r = cramer_von_mises(a, b, "v", buckets=4).collect()[0]

    sx, sy = sorted(xs), sorted(ys)
    n, m = len(xs), len(ys)
    t = sum(
        (bisect_right(sx, z) / n - bisect_right(sy, z) / m) ** 2
        for z in xs + ys
    ) * n * m / (n + m) ** 2
    assert r["cvm_stat"] == pytest.approx(t, abs=1e-6)


def test_anderson_darling_2s_brute_force(spark):
    import random
    from bisect import bisect_right

    from onetl_spark.operators.stats import anderson_darling_2s

    rng = random.Random(17)
    xs = [round(rng.uniform(0, 10), 2) for _ in range(60)]
    ys = [round(rng.uniform(1, 14), 2) for _ in range(80)]
    a = spark.createDataFrame([(x,) for x in xs], "v double")
    b = spark.createDataFrame([(y,) for y in ys], "v double")
    r = anderson_darling_2s(a, b, "v", buckets=4).collect()[0]

    sx, sy = sorted(xs), sorted(ys)
    n, m = len(xs), len(ys)
    big = n + m
    # Pettitt rank form over pooled observations with multiplicity,
    # H in (0,1): (nm/N^2) * sum w * (Fa - Fb)^2 / (H (1-H))
    t = 0.0
    for z, w in sorted(
        __import__("collections").Counter(xs + ys).items()
    ):
        fa = bisect_right(sx, z) / n
        fb = bisect_right(sy, z) / m
        h = (bisect_right(sx, z) + bisect_right(sy, z)) / big
        if 0 < h < 1:
            t += w * (fa - fb) ** 2 / (h * (1 - h))
    t *= n * m / big**2
    assert r["ad_stat"] == pytest.approx(t, abs=1e-6)
