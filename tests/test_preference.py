"""Pairwise-preference operators: Bradley-Terry MM fit + outcome builder."""

from __future__ import annotations

import pytest

from onetl_spark.operators.preference import bradley_terry, pairwise_outcomes


def test_pairwise_outcomes_hand_case(spark):
    df = spark.createDataFrame(
        [
            (1, "A", 3.0), (1, "B", 1.0),          # A beats B
            (2, "A", 5.0), (2, "B", 2.0),          # A beats B
            (3, "A", 2.0), (3, "B", 9.0),          # B beats A
            (4, "A", 1.0), (4, "B", 1.0),          # tie -> dropped
            (5, "A", 4.0), (5, None, 9.0),         # NULL item dropped
            (6, "A", 2.0), (6, "A", 7.0),          # same item -> no duel
        ],
        "g int, item string, s double",
    )
    out = {(r["winner"], r["loser"]): r["wins"] for r in pairwise_outcomes(df, "g", "item", "s").collect()}
    assert out == {("A", "B"): 2, ("B", "A"): 1}


def test_bradley_terry_two_item_mle(spark):
    """For two items the BT MLE is exact: p_A/p_B = w_AB/w_BA. MM from
    uniform start converges in one step for k=2 — strengths must land on
    the closed form (mean-1 normalized)."""
    duels = spark.createDataFrame([("A", "B", 3), ("B", "A", 1)], "winner string, loser string, wins int")
    rows = {r["item"]: r for r in bradley_terry(duels, iterations=6).collect()}
    assert rows["A"]["strength"] == pytest.approx(1.5, abs=1e-9)
    assert rows["B"]["strength"] == pytest.approx(0.5, abs=1e-9)
    assert rows["A"]["wins"] == 3 and rows["B"]["wins"] == 1
    assert rows["A"]["comparisons"] == 4 and rows["B"]["comparisons"] == 4


def test_bradley_terry_transitive_tournament_order(spark):
    """A strictly dominant tournament (A beats B beats C, A beats C) must
    rank strengths in dominance order; all-loss items converge toward 0
    without aborting (the 1e-9 denominator floor)."""
    duels = spark.createDataFrame(
        [("A", "B", 4), ("A", "C", 4), ("B", "C", 3), ("C", "B", 1)],
        "winner string, loser string, wins int",
    )
    rows = {r["item"]: r["strength"] for r in bradley_terry(duels, iterations=8).collect()}
    assert rows["A"] > rows["B"] > rows["C"] >= 0.0
    # mean-1 normalization: strengths sum to k (up to round-9)
    assert sum(rows.values()) == pytest.approx(3.0, abs=1e-6)


def test_bradley_terry_input_validation(spark):
    duels = spark.createDataFrame([("A", "B", -1)], "winner string, loser string, wins int")
    with pytest.raises(ValueError, match="non-negative"):
        bradley_terry(duels)
    ok = spark.createDataFrame([("A", "B", 1)], "winner string, loser string, wins int")
    with pytest.raises(ValueError, match="iterations"):
        bradley_terry(ok, iterations=0)
