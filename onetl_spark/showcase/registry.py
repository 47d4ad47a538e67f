"""The registry of showcase queries.

Each query joins it once, at its definition site, with
``register(fn, oracle_sql)``: the query's name is its function's name and
its oracle is the DuckDB-runnable SQL over the same parquet views that
the parity check compares it against. ``onetl_spark.showcase`` reads the
registrations back in module order; ``__spark_entry__.py`` and
``bench.py`` derive their lists from there.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


class Query(NamedTuple):
    name: str
    fn: QueryFn
    oracle_sql: str
    module: str


_QUERIES: dict[str, Query] = {}


def register(fn: QueryFn, oracle_sql: str) -> None:
    """Register ``fn`` under its ``__name__`` with its oracle SQL.

    A name is global across modules: a second registration raises instead
    of shadowing the first (dict.update once hid q10_returned_items that
    way, 358 declared and 357 reachable)."""
    name = fn.__name__
    if not isinstance(oracle_sql, str) or not oracle_sql.strip():
        raise ValueError(f"registry query {name!r} needs its oracle SQL")
    if name in _QUERIES:
        raise ValueError(
            f"duplicate registry name {name!r} from {fn.__module__} "
            f"(already registered by {_QUERIES[name].module}); "
            "registry names must be globally unique"
        )
    _QUERIES[name] = Query(name, fn, oracle_sql, fn.__module__)


def registered(module_names: list[str]) -> dict[str, Query]:
    """The registrations of ``module_names``: in that module order, then in
    registration order within each module."""
    return {q.name: q for m in module_names for q in _QUERIES.values() if q.module == m}
