"""HWM persistence stores.

Equivalent of the reference's ``etl_entities.hwm_store`` +
``onetl/hwm/store/yaml_hwm_store.py:59,176-214``: a store maps HWM name →
HWM object; the YAML store keeps a per-HWM history list (most recent
first) in one file per HWM under a base directory.

A thread-global stack selects the "current" store so stores can be used
as context managers (mirroring HWMStoreStackManager).
"""

from __future__ import annotations

import os
import re
import threading

try:
    import yaml  # type: ignore
except Exception:  # pragma: no cover - pyyaml is bundled with pyspark
    yaml = None

import json

from onetl_spark.hwm.types import HWM


class BaseHWMStore:
    def get_hwm(self, name: str) -> HWM | None:
        raise NotImplementedError

    def set_hwm(self, hwm: HWM) -> None:
        raise NotImplementedError

    def __enter__(self) -> "BaseHWMStore":
        HWMStoreStackManager.push(self)
        return self

    def __exit__(self, exc_type, exc_val, exc_tb) -> bool:
        HWMStoreStackManager.pop()
        return False


class MemoryHWMStore(BaseHWMStore):
    def __init__(self) -> None:
        self._data: dict[str, HWM] = {}

    def get_hwm(self, name: str) -> HWM | None:
        hwm = self._data.get(name)
        return hwm.copy() if hwm else None

    def set_hwm(self, hwm: HWM) -> None:
        self._data[hwm.name] = hwm.copy()

    def clear(self) -> None:
        self._data.clear()


class YamlHWMStore(BaseHWMStore):
    """One YAML (or JSON fallback) file per HWM, newest entry first,
    history capped like the reference store."""

    MAX_HISTORY = 10

    def __init__(self, path: str | None = None) -> None:
        self.path = path or os.path.join(os.getcwd(), ".hwm_store")
        os.makedirs(self.path, exist_ok=True)

    def _file_for(self, name: str) -> str:
        safe = re.sub(r"[^\w.-]+", "__", name)
        ext = "yml" if yaml else "json"
        return os.path.join(self.path, f"{safe}.{ext}")

    def _load(self, path: str) -> list[dict]:
        if not os.path.exists(path):
            return []
        with open(path) as f:
            if yaml:
                return yaml.safe_load(f) or []
            return json.load(f)

    def _dump(self, path: str, history: list[dict]) -> None:
        with open(path, "w") as f:
            if yaml:
                yaml.safe_dump(history, f, sort_keys=False)
            else:
                json.dump(history, f, indent=2)

    def get_hwm(self, name: str) -> HWM | None:
        history = self._load(self._file_for(name))
        if not history:
            return None
        return HWM.deserialize(history[0])

    def set_hwm(self, hwm: HWM) -> None:
        path = self._file_for(hwm.name)
        history = self._load(path)
        history.insert(0, hwm.serialize())
        self._dump(path, history[: self.MAX_HISTORY])


class HWMStoreStackManager:
    """Thread-global store stack; bottom of the stack is a MemoryHWMStore."""

    _local = threading.local()

    @classmethod
    def _stack(cls) -> list[BaseHWMStore]:
        if not hasattr(cls._local, "stack"):
            cls._local.stack = [MemoryHWMStore()]
        return cls._local.stack

    @classmethod
    def push(cls, store: BaseHWMStore) -> None:
        cls._stack().append(store)

    @classmethod
    def pop(cls) -> BaseHWMStore:
        stack = cls._stack()
        if len(stack) == 1:
            return stack[0]
        return stack.pop()

    @classmethod
    def get_current(cls) -> BaseHWMStore:
        return cls._stack()[-1]
