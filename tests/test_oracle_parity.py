"""Driver-style correctness harness: every queries() entry through the
parity tool's one per-query check (``tools/driver_parity.py`` ``check``):
safe output columns, then row count, column names, order-insensitive
values and the magnitude rule against the DuckDB oracle.

Uses the session sf_dir (sf0.001 by default; override with
SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
import driver_parity  # noqa: E402

_ENTRY = driver_parity.load_entry()
_QUERIES = _ENTRY.queries()
_ORACLES = _ENTRY.oracle_sql()
_NAMES = sorted(_QUERIES)


@pytest.mark.parametrize("name", _NAMES, ids=_NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    assert driver_parity.check(spark, _QUERIES[name], _ORACLES[name], sf_dir) == ("OK", "")


def test_entry_smoke(spark):
    df = _ENTRY.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.schema is not None
