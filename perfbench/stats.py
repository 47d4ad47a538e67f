"""Pure arithmetic behind the benchmark's metrics.

Kept free of Spark so the rules can be unit-tested in isolation
(``test_stats.py``).
"""

from __future__ import annotations

import math
from typing import Iterable, Sequence

TAIL_MIN_BEYOND = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def geomean(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("geomean of no values")
    if any(v <= 0 for v in values):
        raise ValueError(f"geomean needs positive values, got {list(values)}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values: Sequence[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that leaves at least
    ``TAIL_MIN_BEYOND`` samples above it: the (n - 10)-th smallest of n
    samples, at percentile 100 * (n - 10) / n. Below 20 samples no
    percentile from the median up qualifies, and the median is returned."""
    if not values:
        raise ValueError("tail of no values")
    if len(values) < 2 * TAIL_MIN_BEYOND:
        return median(values), 50.0
    s = sorted(values)
    rank = len(s) - TAIL_MIN_BEYOND
    return s[rank - 1], 100.0 * rank / len(s)


def union_length(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it that its children cover."""
    return (end - start) - union_length(children, start, end)
