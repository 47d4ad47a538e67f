"""Driver-style correctness harness: run every queries() entry and its
DuckDB oracle side by side; compare row count + order-insensitive values.

Mirrors the driver's CORRECTNESS gate so mismatches surface before a round
ends. Uses the session sf_dir (sf0.001 by default; override with
SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
# the parity tool's own loader, DuckDB views and typed full-precision
# multiset, so this file and tools/driver_parity.py can never disagree
from driver_parity import complex_type_fields, duck_con, load_entry, multiset  # noqa: E402

_ENTRY = load_entry()
_QUERIES = _ENTRY.queries()
_ORACLES = _ENTRY.oracle_sql()
_NAMES = sorted(_QUERIES)


@pytest.mark.parametrize("name", _NAMES, ids=_NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    df = _QUERIES[name](spark, sf_dir)
    # The driver's canonicalizer sorts result rows via pandas sort_values,
    # which raises "unhashable type: 'list'" on array/struct/map output
    # columns (the r4 sequence_packing crash) — ban them structurally.
    complex_cols = complex_type_fields(df)
    assert not complex_cols, f"canonicalizer-unsafe output columns: {complex_cols}"
    spark_rows = df.collect()
    spark_cols = df.columns
    assert len(set(spark_cols)) == len(spark_cols), f"duplicate column names: {spark_cols}"

    con = duck_con(sf_dir)
    # Arrow fetch, NOT fetchall(): fetchall() returns DuckDB HUGEINT (SUM
    # over integers) as a Python int, silently matching Spark's bigint —
    # the driver's fetch degrades HUGEINT to float/string and flags it.
    # Arrow reproduces the driver-visible typing (r3's three "red" rows
    # passed this file under fetchall while failing the driver).
    tbl = con.execute(_ORACLES[name]).arrow()
    oracle_cols = tbl.column_names
    oracle_rows = list(zip(*(tbl.column(c).to_pylist() for c in oracle_cols)))
    if not oracle_cols:
        oracle_rows = []

    assert sorted(spark_cols) == sorted(oracle_cols), (
        f"{name}: column mismatch spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}"
    )
    assert len(spark_rows) == len(oracle_rows), (
        f"{name}: row count spark={len(spark_rows)} oracle={len(oracle_rows)}"
    )
    left = multiset(spark_cols, [tuple(r) for r in spark_rows])
    right = multiset(oracle_cols, oracle_rows)
    mismatches = [(l, r) for l, r in zip(left, right) if l != r]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:3]}"


def test_entry_smoke(spark):
    df = _ENTRY.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.schema is not None
