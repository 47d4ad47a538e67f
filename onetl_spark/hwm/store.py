"""HWM persistence stores.

Equivalent of the reference's ``etl_entities.hwm_store`` +
``onetl/hwm/store/yaml_hwm_store.py:59,176-214``: a store maps HWM name →
HWM object; the YAML store keeps a per-HWM history list (most recent
first) in one file per HWM under a base directory.

The YAML store parses and emits through libyaml (``CSafeLoader`` /
``CSafeDumper``) when PyYAML was built with it, and through PyYAML's
pure-Python ``SafeLoader`` / ``SafeDumper`` otherwise. Both write the
same text, so files move freely between the two; the C classes keep a
``FileListHWM`` of thousands of paths from costing hundreds of
milliseconds per read and write. Reads parse only the newest entry, and
writes emit only the new one and keep the older entries as text, so the
depth of the history adds no parsing or emitting, only a text copy.
Without PyYAML the store falls back to JSON files.

A thread-global stack selects the "current" store so stores can be used
as context managers (mirroring HWMStoreStackManager).
"""

from __future__ import annotations

import itertools
import json
import os
import re
import threading

try:
    import yaml  # type: ignore
except Exception:  # pragma: no cover - pyyaml is bundled with pyspark
    yaml = None

from onetl_spark.hwm.types import HWM

if yaml is not None and yaml.__with_libyaml__:
    _YAML_LOADER, _YAML_DUMPER = yaml.CSafeLoader, yaml.CSafeDumper
elif yaml is not None:  # pragma: no cover - libyaml ships with PyYAML wheels
    _YAML_LOADER, _YAML_DUMPER = yaml.SafeLoader, yaml.SafeDumper

# Each top-level entry of a history PyYAML or libyaml wrote starts a line
# with "- "; the lists nested in an entry are indented.
_YAML_ENTRY = re.compile(r"^- ", re.MULTILINE)


def _yaml_head(text: str, n: int) -> str:
    """The newest ``n`` (>= 1) entries of a stored YAML history, as YAML
    text: the emitted text is cut where entry ``n + 1`` starts, without
    parsing it. Text in another layout is parsed and emitted again."""
    if text and not text.startswith("- "):
        head = (yaml.load(text, Loader=_YAML_LOADER) or [])[:n]
        return yaml.dump(head, Dumper=_YAML_DUMPER, sort_keys=False) if head else ""
    cut = next(itertools.islice(_YAML_ENTRY.finditer(text, 1), n - 1, None), None)
    return text if cut is None else text[: cut.start()]


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

    @staticmethod
    def _read(path: str) -> str:
        if not os.path.exists(path):
            return ""
        with open(path) as f:
            return f.read()

    def get_hwm(self, name: str) -> HWM | None:
        text = self._read(self._file_for(name))
        if yaml:
            history = yaml.load(_yaml_head(text, 1), Loader=_YAML_LOADER)
        else:
            history = json.loads(text) if text else []
        return HWM.deserialize(history[0]) if history else None

    def set_hwm(self, hwm: HWM) -> None:
        path = self._file_for(hwm.name)
        text = self._read(path)
        if yaml:
            new = yaml.dump([hwm.serialize()], Dumper=_YAML_DUMPER, sort_keys=False)
            text = new + _yaml_head(text, self.MAX_HISTORY - 1)
        else:
            history = json.loads(text) if text else []
            text = json.dumps(([hwm.serialize()] + history)[: self.MAX_HISTORY], indent=2)
        with open(path, "w") as f:
            f.write(text)


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
