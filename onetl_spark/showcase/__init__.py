"""Showcase queries — the driver-facing correctness surface.

Each module registers its queries with ``registry.register(fn, oracle_sql)``
(the oracle is DuckDB-runnable ANSI SQL on the same parquet views).
``__spark_entry__.py`` and ``bench.py`` read them back from here.
"""

from onetl_spark.showcase import (
    analytics,
    cdc,
    file_transfer,
    graphs,
    operators,
    registry,
    sampling,
    sessions,
    streaming,
    temporal,
    tpch,
    tpch_ext,
)


def registered() -> dict[str, registry.Query]:
    """Every registered query, in ``_modules()`` order and then in
    registration order within each module."""
    return registry.registered([mod.__name__ for mod in _modules()])


def all_queries():
    return _debt_ordered({name: q.fn for name, q in registered().items()})


def _debt_ordered(queries):
    """Order the registry by verification debt.

    The driver oracle-checks only the first 50 entries of ``queries()``
    (dict order), so a static order starves the tail: 42 declared queries
    had never been hash-checked by round 3.  Instead, order by the
    committed ``CORRECTNESS_r*.json`` history: queries that have NEVER
    had a green (hash_match) row come first, then ascending
    last-green-round, ties broken by registry order.  Each round the
    driver commits a new CORRECTNESS file, so the window rotates itself:
    freshly-verified queries sink, stale ones resurface.
    """
    last_green, _ = correctness_history()
    names = list(queries)
    order = sorted(
        range(len(names)), key=lambda i: (last_green.get(names[i], -1), i)
    )
    return {names[i]: queries[names[i]] for i in order}


def correctness_history() -> tuple[dict[str, int], int]:
    """Read the committed ``CORRECTNESS_r*.json`` files: query name -> the
    newest round with a green (``hash_match``) row, and the newest round
    on file. A file that does not parse still counts as a round."""
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    last_green: dict[str, int] = {}
    newest = 0
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        newest = max(newest, rnd)
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and row.get("hash_match"):
                last_green[name] = max(last_green.get(name, -1), rnd)
    return last_green, newest


def all_oracles():
    return {name: q.oracle_sql for name, q in registered().items()}


def _modules():
    mods = [tpch, tpch_ext, analytics, operators, temporal, sessions, streaming, sampling, cdc, graphs, file_transfer]
    try:
        from onetl_spark.showcase import llm

        mods.append(llm)
    except ImportError:  # pragma: no cover
        pass
    # r9+ additions register LAST: their never-green entries must sort
    # BEHIND the existing verification debt (ties in _debt_ordered break
    # by registry index), so a new module never displaces older
    # never-checked queries out of the driver window
    from onetl_spark.showcase import (
        ann_index,
        calibration,
        changepoint,
        hygiene,
        incremental,
        ingest,
        preference,
        privacy,
        retrieval,
        ri_monitor,
        scd2_store,
        selection,
    )

    mods.append(preference)
    mods.append(retrieval)
    mods.append(hygiene)
    mods.append(selection)
    mods.append(changepoint)
    mods.append(calibration)
    mods.append(incremental)
    mods.append(ingest)
    mods.append(privacy)
    mods.append(ann_index)
    mods.append(scd2_store)
    mods.append(ri_monitor)
    return mods
