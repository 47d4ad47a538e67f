"""Pre-flight guard for the verification-debt rotation.

The driver oracle-checks only the first WINDOW (50) entries of
``queries()`` per round; the registry orders itself by verification debt
(never-green first, then stalest-green — ``showcase/__init__.py``). A
debt-ordered rotation guarantees every query a green row at least every
``ceil(n/WINDOW)`` rounds (plus slack for freshly-added never-green
entries, which rightly preempt the window). This tool fails when the
ROTATION ITSELF is broken, not when the registry simply outgrew a fixed
constant:

1. ordering violation — a fresher-green query sits BEFORE a staler one
   (the self-rotation property the registry promises);
2. a query's green-age exceeds the achievable bound
   ``ceil(n/WINDOW) + SLACK`` — it slipped through rotations it should
   have been inside;
3. more queries are beyond the bound than one window can absorb — the
   backlog can only grow.

Run: python tools/debt_check.py   (exit 1 on violation)
"""

from __future__ import annotations

import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WINDOW = 50
SLACK = 1  # rounds of grace for freshly-added never-green entries


def check() -> list[str]:
    from onetl_spark.showcase import all_queries, correctness_history

    names = list(all_queries())
    last, newest = correctness_history()
    current = newest + 1  # the round about to run
    max_age = math.ceil(len(names) / WINDOW) + SLACK

    problems: list[str] = []

    # 1. the registry must be debt-monotone: never-green (treated as -inf)
    #    first, then non-decreasing last-green round
    keys = [last.get(n, 0) for n in names]
    for i in range(1, len(keys)):
        if keys[i] < keys[i - 1]:
            problems.append(
                f"ordering violation: {names[i]} (last green r{keys[i] or '—'}) "
                f"sorted after fresher {names[i - 1]} (r{keys[i - 1]})"
            )
            break

    # 2./3. nothing may exceed the achievable revisit bound
    overdue = []
    for pos, name in enumerate(names):
        green = last.get(name)
        age = current - green if green else None
        if green is not None and age > max_age:
            overdue.append(name)
            problems.append(
                f"{name}: green-age {age} exceeds the achievable bound "
                f"{max_age} (= ceil({len(names)}/{WINDOW}) + {SLACK})"
            )
    if len(overdue) > WINDOW:
        problems.append(
            f"{len(overdue)} queries beyond the age bound but the window only "
            f"holds {WINDOW} — the backlog cannot drain"
        )

    ages = sorted(
        (current - g for g in (last.get(n) for n in names) if g), reverse=True
    )
    never = len([n for n in names if n not in last])
    print(
        f"registry: {len(names)} queries; ever-green: {len(names) - never}; "
        f"never-green (new): {never}; age bound: {max_age}; "
        f"max green-age: {ages[0] if ages else 'n/a'}"
    )
    return problems


def main() -> None:
    problems = check()
    for p in problems:
        print(f"!! {p}")
    if problems:
        sys.exit(1)
    print("debt rotation healthy")


if __name__ == "__main__":
    main()
