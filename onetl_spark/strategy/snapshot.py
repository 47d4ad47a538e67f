"""Snapshot strategies.

- ``SnapshotStrategy``: full read, no HWM (snapshot_strategy.py:13).
- ``SnapshotBatchStrategy``: same chunked iteration as incremental-batch
  but ignores the HWM store entirely — fetch/save are no-ops
  (snapshot_strategy.py:96,383-387), so every run is a full reload in
  ``(current, next]`` chunks.
"""

from __future__ import annotations

from onetl_spark.strategy.base import BaseStrategy
from onetl_spark.strategy.batch import BatchHWMStrategy


class SnapshotStrategy(BaseStrategy):
    pass


class SnapshotBatchStrategy(BatchHWMStrategy):
    def fetch_hwm(self) -> None:  # stateless: never read the store
        self._fetched = False

    def save_hwm(self) -> None:  # stateless: never write the store
        pass

    def exit_hook(self, failed: bool = False) -> None:
        pass
