"""Incremental SCD2 dimension-store maintenance (`operators/cdc.py
scd2_apply_batch` / `scd2_batch_audit`, `streaming/cdc_store.py`) and
incremental referential-integrity monitoring (`operators/ri_store.py`,
`streaming/ri_store.py`)."""

from __future__ import annotations

import os

from onetl_spark.operators.cdc import scd2_apply_batch, scd2_batch_audit
from onetl_spark.operators.ri_store import ri_apply_batch, ri_final_status
from onetl_spark.operators.temporal import scd2_intervals

_SCHEMA = "u long, ts long, v string, eid long"

# three time-ordered load windows exercising: continuation across
# batches (A), an untouched key (B), a mid-stream new key (C), a
# NULL-valued new key (D), and NULL-interrupted runs (E)
_B1 = [
    (1, 1, "x", 1), (1, 2, "x", 2), (1, 3, "y", 3),
    (2, 1, "p", 4),
    (5, 1, "m", 5),
]
_B2 = [
    (1, 4, "y", 6), (1, 5, "z", 7),
    (3, 4, "q", 8),
    (5, 4, None, 9),
]
_B3 = [
    (1, 6, "z", 10), (1, 7, "x", 11),
    (3, 6, "q", 12),
    (4, 6, None, 13),
    (5, 6, "m", 14),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def _rows(df):
    cols = ["u", "value", "effective_from", "effective_to", "is_current", "n_events"]
    return sorted(
        (tuple(r[c] for c in cols) for r in df.collect()),
        key=lambda t: (t[0], t[2]),
    )


def _apply_all(spark, batches):
    store = None
    for b in batches:
        store = scd2_apply_batch(store, _df(spark, b), ["u"], "ts", "v", ["eid"])
    return store


def test_scd2_apply_batch_equals_full_history(spark):
    """THE invariant: sequential application reproduces scd2_intervals
    over the concatenated history exactly — runs that continue across
    batches keep effective_from and accumulate n_events, closed rows
    never change, NULL values open and close runs like any state."""
    inc = _apply_all(spark, [_B1, _B2, _B3])
    full = scd2_intervals(
        _df(spark, _B1 + _B2 + _B3), ["u"], "ts", "v", ["eid"]
    )
    assert _rows(inc) == _rows(full)


def test_scd2_apply_batch_pass_through_and_continuation(spark):
    store = _apply_all(spark, [_B1, _B2])
    rows = {(r["u"], r["value"], r["effective_from"]): r for r in store.collect()}
    # key 1's y-run opened in batch 1 (ts 3) continued through batch 2's
    # ts-4 event, then closed at the z change (ts 5)
    y = rows[(1, "y", 3)]
    assert y["n_events"] == 2 and y["effective_to"] == 5 and not y["is_current"]
    # untouched key 2 passes through current
    p = rows[(2, "p", 1)]
    assert p["is_current"] and p["n_events"] == 1
    # the NULL value opened a run for key 5
    assert rows[(5, None, 4)]["is_current"]


def test_scd2_batch_audit_verdicts(spark):
    store = _apply_all(spark, [_B1])
    audit = {
        r["u"]: r
        for r in scd2_batch_audit(
            store, _df(spark, _B2), ["u"], "ts", "v", ["eid"]
        ).collect()
    }
    # key 1: first event continues the current y-run, then z opens one
    assert audit[1]["verdict"] == "changed"
    assert audit[1]["n_runs_opened"] == 1 and audit[1]["n_events"] == 2
    # key 3 appears for the first time
    assert audit[3]["verdict"] == "new_key" and audit[3]["n_runs_opened"] == 1
    # key 5: m -> NULL is a change
    assert audit[5]["verdict"] == "changed"
    # untouched key 2 emits no audit row
    assert 2 not in audit
    # an all-continuation batch is 'unchanged' and opens nothing
    cont = scd2_batch_audit(
        store, _df(spark, [(2, 9, "p", 99)]), ["u"], "ts", "v", ["eid"]
    ).collect()
    assert cont[0]["verdict"] == "unchanged" and cont[0]["n_runs_opened"] == 0


def test_scd2_store_batch_fn_streaming_loop(spark, scratch_dir):
    from onetl_spark.streaming.cdc_store import scd2_store_batch_fn

    store_dir = os.path.join(scratch_dir, "scd2_store")
    fn = scd2_store_batch_fn(store_dir, ["u"], "ts", "v", ["eid"])
    for k, b in enumerate([_B1, _B2, _B3]):
        fn(_df(spark, b), k)
    got = spark.read.parquet(store_dir)
    full = scd2_intervals(
        _df(spark, _B1 + _B2 + _B3), ["u"], "ts", "v", ["eid"]
    )
    assert _rows(got) == _rows(full)


_DIM_SCHEMA = "k long"
_FACT_SCHEMA = "fid long, ref long"

# dims arrive one key per window (key 4 never); facts exercise ok,
# same-window arrival, healing across one and two windows, a permanent
# orphan, and a NULL reference
_DIMS = [[(1,)], [(2,)], [(3,)]]
_FACTS = [
    [(100, 1), (101, 2), (102, 4), (103, None)],
    [(104, 1), (105, 3)],
    [(106, 3)],
]


def _ri_run(spark):
    key_store, pending, log = None, None, None
    for k in range(3):
        key_store, pending, events = ri_apply_batch(
            key_store,
            pending,
            spark.createDataFrame(_DIMS[k], _DIM_SCHEMA),
            spark.createDataFrame(_FACTS[k], _FACT_SCHEMA),
            "k",
            "fid",
            "ref",
            k,
        )
        log = events if log is None else log.unionByName(events)
    return key_store, pending, log


def test_ri_final_statuses(spark):
    _, _, log = _ri_run(spark)
    out = {r["fact_id"]: r for r in ri_final_status(log).collect()}
    assert out[100]["status"] == "ok" and out[100]["matched_batch"] == 0
    # fact 101 referenced key 2 one window early: healed by window 1
    assert out[101]["status"] == "healed"
    assert out[101]["fact_batch"] == 0 and out[101]["matched_batch"] == 1
    # key 4 never arrives; NULL never matches
    assert out[102]["status"] == "orphan" and out[102]["matched_batch"] is None
    assert out[103]["status"] == "orphan"
    # ok against a key from an EARLIER window records its arrival window
    assert out[104]["status"] == "ok" and out[104]["matched_batch"] == 0
    # healed across one window; ok on same-window arrival
    assert out[105]["status"] == "healed" and out[105]["matched_batch"] == 2
    assert out[106]["status"] == "ok" and out[106]["matched_batch"] == 2


def test_ri_event_log_and_pending(spark):
    key_store, pending, log = _ri_run(spark)
    events = [(r["fact_id"], r["status"]) for r in log.collect()]
    # the orphan event of window 0 and its healed event both exist
    assert (101, "orphan") in events and (101, "healed") in events
    # healed facts left the pending store; permanent orphans remain
    left = sorted(r["fact_id"] for r in pending.collect())
    assert left == [102, 103]
    # the key store holds exactly the arrived keys with their windows
    ks = {r["ref_key"]: r["first_seen_batch"] for r in key_store.collect()}
    assert ks == {1: 0, 2: 1, 3: 2}


def test_ri_monitor_batch_fn_streaming_loop(spark, scratch_dir):
    from onetl_spark.streaming.ri_store import ri_monitor_batch_fn

    dirs = {n: os.path.join(scratch_dir, n) for n in ("keys", "pending", "events")}
    fn = ri_monitor_batch_fn(dirs["keys"], dirs["pending"], dirs["events"])
    for k in range(3):
        feed = [("dim", key, None) for (key,) in _DIMS[k]] + [
            ("fact", ref, fid) for (fid, ref) in _FACTS[k]
        ]
        fn(
            spark.createDataFrame(feed, "kind string, key long, fact_id long"),
            k,
        )
    got = ri_final_status(spark.read.parquet(dirs["events"]))
    _, _, log = _ri_run(spark)
    want = ri_final_status(log)
    key = lambda r: r["fact_id"]  # noqa: E731
    assert sorted(map(tuple, got.collect()), key=lambda t: t[0]) == sorted(
        map(tuple, want.collect()), key=lambda t: t[0]
    )
