"""Smoke tests of the metric arithmetic and the span recorder.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math

import pytest

from perfbench import stats
from perfbench.tracing import Tracer


def test_tail_rule_leaves_ten_samples_beyond():
    values = list(range(1, 41))  # 40 samples: p75, the 30th value
    assert stats.tail(values) == (30, 75.0)
    assert stats.tail(list(range(20, 0, -1))) == (10, 50.0)  # 20 samples: the median by nearest rank
    value, p = stats.tail(list(range(1, 31)))  # 30 samples: the 20th value
    assert value == 20 and p == pytest.approx(100 * 20 / 30)
    assert stats.tail([4.0, 1.0, 3.0, 2.0]) == (2.5, 50.0)  # too few: the median


def test_geomean_and_median():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([2.0]) == pytest.approx(2.0)
    assert stats.median([5.0, 1.0, 3.0]) == 3.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_union_and_self_time():
    # overlapping children [1,3] and [2,4] cover 3 of the span [0,10];
    # the child [9,12] is clipped to [9,10]
    children = [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]
    assert stats.union_length(children, 0.0, 10.0) == pytest.approx(4.0)
    assert stats.self_time(0.0, 10.0, children) == pytest.approx(6.0)
    assert stats.self_time(0.0, 1.0, []) == pytest.approx(1.0)
    assert stats.union_length([(5.0, 6.0)], 0.0, 1.0) == 0.0


def test_spans_left_open_by_a_raising_slot_are_closed_failed():
    from onetl_spark.hooks import slot, support_hooks

    @support_hooks
    class Thing:
        @slot
        def go(self, fail: bool):
            if fail:
                raise RuntimeError("boom")
            return 1

    tracer = Tracer(active=True)
    tracer.bind_slot(Thing.go, "thing.go")
    try:
        tracer.begin_op(1)
        with pytest.raises(RuntimeError), tracer.span("op"):
            Thing().go(True)
        tracer.end_op()
        tracer.begin_op(2)
        with tracer.span("op"):
            assert Thing().go(False) == 1
        tracer.end_op()
    finally:
        tracer.uninstall()
    assert Thing.go.hooks == []
    by_op = {(s.op, s.name): s for s in tracer.spans}
    assert by_op[(1, "thing.go")].failed and by_op[(1, "op")].failed
    assert not by_op[(2, "thing.go")].failed
    assert by_op[(2, "thing.go")].parent == by_op[(2, "op")].id
    assert all(s.end is not None and s.end >= s.start for s in tracer.spans)
    assert not math.isnan(sum(tracer.durations("thing.go")))


def test_inactive_tracer_records_nothing():
    tracer = Tracer()
    with tracer.span("x"):
        pass
    assert tracer.spans == []
