"""What the workloads share: the run environment and output-check helpers."""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Callable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from perfbench.harness import Op, Runner
from perfbench.tracing import Tracer

# The output checks read with pyarrow. Return what they free at once, so
# it does not sit in the driver's RSS while the next op runs.
pa.jemalloc_set_decay_ms(0)


@dataclass
class Env:
    spark: Any
    root: str  # fresh scratch root of this run
    data: str  # generated inputs
    cores: int
    runner: Runner
    tracer: Tracer

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def table_dir(self, table: str) -> str:
        return self.path("warehouse", table.lower())


@dataclass
class Workload:
    ops: list[Op]
    warmup_rounds: int
    min_rounds: int = 3
    fixed_rounds: int | None = None
    instrument: Callable[[Tracer], None] | None = None
    final_checks: list[tuple[str, Callable[[], list[str]]]] = field(default_factory=list)
    layer_metrics: Callable[[list], dict[str, float]] | None = None


def data_files(path: str) -> list[str]:
    """Data files Spark wrote under ``path`` (no markers, no checksums)."""
    out = []
    for dirpath, _, names in os.walk(path):
        out += [os.path.join(dirpath, n) for n in names if not n.startswith((".", "_"))]
    return out


def dir_stats(path: str) -> tuple[int, int]:
    files = data_files(path)
    return len(files), sum(os.path.getsize(f) for f in files)


def int_sums(path: str, columns: list[str], fmt: str = "parquet") -> tuple[int, list[int]]:
    """Row count and exact integer column sums of a written dataset."""
    table = ds.dataset(path, format=fmt).to_table(columns=columns)
    return table.num_rows, [int(pc.sum(table[c]).as_py() or 0) for c in columns]


def compare(name: str, got: Any, want: Any) -> list[str]:
    return [] if got == want else [f"{name}: got {got}, want {want}"]
