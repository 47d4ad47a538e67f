"""Strategy context stack + HWM strategy base.

Semantics follow the reference:

- ``StrategyManager`` is a thread-global stack; ``with Strategy():`` pushes
  on enter and pops on exit (onetl/strategy/strategy_manager.py:14-33).
- ``HWMStrategy`` fetches the HWM from the current store on first use,
  advances it in memory during the run (``update_hwm``), and persists it
  to the store ONLY on clean context exit
  (onetl/strategy/hwm_strategy.py:21-142, save-on-success :115-138).
"""

from __future__ import annotations

import logging
import threading
from typing import Any

from onetl_spark.exceptions import StrategyError
from onetl_spark.hwm.store import HWMStoreStackManager
from onetl_spark.hwm.types import HWM

log = logging.getLogger(__name__)


def validate_hwm_consistency(saved: HWM, expected: HWM) -> None:
    """Refuse a stored HWM that the reader did not write: a different HWM
    class, entity or expression under the same name."""
    if type(saved) is not type(expected):
        raise StrategyError(
            f"Saved HWM {saved.name!r} has type {type(saved).__name__}, "
            f"but reader expects {type(expected).__name__}",
        )
    for attr in ("entity", "expression"):
        old, new = getattr(saved, attr), getattr(expected, attr)
        if old is not None and new is not None and old != new:
            raise StrategyError(
                f"Saved HWM {saved.name!r} has {attr}={old!r}, but reader uses {new!r}",
            )


class StrategyManager:
    _local = threading.local()

    @classmethod
    def _stack(cls) -> list["BaseStrategy"]:
        if not hasattr(cls._local, "stack"):
            cls._local.stack = []
        return cls._local.stack

    @classmethod
    def push(cls, strategy: "BaseStrategy") -> None:
        cls._stack().append(strategy)

    @classmethod
    def pop(cls) -> "BaseStrategy | None":
        stack = cls._stack()
        return stack.pop() if stack else None

    @classmethod
    def get_current(cls) -> "BaseStrategy":
        stack = cls._stack()
        if stack:
            return stack[-1]
        from onetl_spark.strategy.snapshot import SnapshotStrategy

        return SnapshotStrategy()


class BaseStrategy:
    def __enter__(self):
        StrategyManager.push(self)
        self.enter_hook()
        return self

    def __exit__(self, exc_type, exc_val, exc_tb) -> bool:
        StrategyManager.pop()
        self.exit_hook(failed=exc_type is not None)
        return False

    def enter_hook(self) -> None:
        pass

    def exit_hook(self, failed: bool = False) -> None:
        pass


class HWMStrategy(BaseStrategy):
    """Strategy holding an in-flight HWM."""

    def __init__(self) -> None:
        self.hwm: HWM | None = None
        self._fetched = False

    @property
    def current_value(self) -> Any:
        return self.hwm.value if self.hwm else None

    def fetch_hwm(self) -> None:
        """Load saved HWM state from the current store (once per run)."""
        if self.hwm is None:
            raise StrategyError("HWM is not set on the strategy; DBReader must assign it")
        store = HWMStoreStackManager.get_current()
        saved = store.get_hwm(self.hwm.name)
        if saved is not None:
            validate_hwm_consistency(saved, self.hwm)
            self.hwm = saved
        self._fetched = True

    def update_hwm(self, value: Any) -> None:
        """Advance the in-memory watermark (pre-read pin, db_reader.py:592-595)."""
        if self.hwm is not None and value is not None:
            self.hwm.update(value)

    def save_hwm(self) -> None:
        if self.hwm is not None:
            HWMStoreStackManager.get_current().set_hwm(self.hwm)

    def exit_hook(self, failed: bool = False) -> None:
        # persist only on success (hwm_strategy.py:115-138)
        if not failed and self.hwm is not None and self._fetched:
            self.save_hwm()
