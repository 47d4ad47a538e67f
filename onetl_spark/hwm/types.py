"""High-water-mark value types.

The reference delegates these to the external ``etl_entities.hwm`` package
(see onetl/hwm/store/hwm_class_registry.py:13-74 for the mapping). We
implement the same *semantics* as small dataclasses:

- ``ColumnIntHWM`` / ``ColumnDateHWM`` / ``ColumnDateTimeHWM``: scalar
  max-value watermark over a column expression; ``update(v)`` keeps the max.
- ``KeyValueIntHWM``: per-key (Kafka partition) integer offsets; update
  takes element-wise max.
- ``FileListHWM``: set of already-processed paths; update unions.
- ``FileModifiedTimeHWM``: scalar max mtime over processed files.

Each HWM is identified by ``name`` (its key in the HWM store) and carries
``entity`` (table/topic/path), ``expression`` (column or 'offset'), and
``modified_time`` for bookkeeping.
"""

from __future__ import annotations

import copy
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal
from typing import Any, ClassVar


@dataclass
class HWM:
    name: str
    value: Any = None
    entity: str | None = None
    expression: str | None = None
    modified_time: datetime | None = None

    def update(self, new_value: Any) -> "HWM":
        """Advance the watermark; never moves backwards."""
        if new_value is None:
            return self
        coerced = self._coerce(new_value)
        if self.value is None or coerced > self.value:
            self.value = coerced
            self.modified_time = datetime.now()
        return self

    def set_value(self, new_value: Any) -> "HWM":
        self.value = self._coerce(new_value) if new_value is not None else None
        self.modified_time = datetime.now()
        return self

    def _coerce(self, value: Any) -> Any:
        return value

    def _restore(self, value: Any) -> Any:
        """Invert any JSON-safe representation produced by serialize()."""
        return value

    def copy(self) -> "HWM":
        return copy.deepcopy(self)

    def serialize(self) -> dict:
        value = self.value
        if isinstance(value, datetime):
            value = {"__type__": "datetime", "v": value.isoformat()}
        elif isinstance(value, date):
            value = {"__type__": "date", "v": value.isoformat()}
        elif isinstance(value, Decimal):
            value = {"__type__": "decimal", "v": str(value)}
        elif isinstance(value, frozenset):
            value = {"__type__": "frozenset", "v": sorted(value)}
        return {
            "type": type(self).__name__,
            "name": self.name,
            "value": value,
            "entity": self.entity,
            "expression": self.expression,
            "modified_time": self.modified_time.isoformat() if self.modified_time else None,
        }

    @staticmethod
    def deserialize(data: dict) -> "HWM":
        klass = _HWM_CLASSES[data["type"]]
        value = data.get("value")
        if isinstance(value, dict) and "__type__" in value:
            tag, v = value["__type__"], value["v"]
            if tag == "datetime":
                value = datetime.fromisoformat(v)
            elif tag == "date":
                value = date.fromisoformat(v)
            elif tag == "decimal":
                value = Decimal(v)
            elif tag == "frozenset":
                value = frozenset(v)
        hwm = klass(
            name=data["name"],
            entity=data.get("entity"),
            expression=data.get("expression"),
        )
        hwm.value = hwm._restore(value)
        mt = data.get("modified_time")
        hwm.modified_time = datetime.fromisoformat(mt) if mt else None
        return hwm


@dataclass
class ColumnHWM(HWM):
    """Scalar watermark over a column expression."""


@dataclass
class ColumnIntHWM(ColumnHWM):
    def _coerce(self, value: Any) -> int:
        # reference maps Float/Double/Decimal columns onto Int HWM too
        # (onetl/hwm/store/hwm_class_registry.py:57-61)
        if isinstance(value, bool):
            return int(value)
        if isinstance(value, (int,)):
            return value
        if isinstance(value, (float, Decimal)):
            return int(value)
        return int(str(value))


@dataclass
class ColumnDateHWM(ColumnHWM):
    def _coerce(self, value: Any) -> date:
        if isinstance(value, datetime):
            return value.date()
        if isinstance(value, date):
            return value
        return date.fromisoformat(str(value))


@dataclass
class ColumnDateTimeHWM(ColumnHWM):
    def _coerce(self, value: Any) -> datetime:
        if isinstance(value, datetime):
            return value
        if isinstance(value, date):
            return datetime(value.year, value.month, value.day)
        return datetime.fromisoformat(str(value))


@dataclass
class KeyValueIntHWM(HWM):
    """Per-key integer offsets (Kafka partition → next offset to read)."""

    def __post_init__(self):
        if self.value is None:
            self.value = {}

    def update(self, new_value: Any) -> "KeyValueIntHWM":
        if not new_value:
            return self
        merged = dict(self.value or {})
        for k, v in dict(new_value).items():
            k = int(k)
            v = int(v)
            if k not in merged or v > merged[k]:
                merged[k] = v
        self.value = merged
        self.modified_time = datetime.now()
        return self

    def serialize(self) -> dict:
        data = super().serialize()
        data["value"] = {str(k): v for k, v in (self.value or {}).items()}
        return data

    def _restore(self, value: Any) -> dict[int, int]:
        # serialize() stringifies partition keys for JSON/YAML safety;
        # offsets must come back as int keys or incremental planning
        # misses every partition and re-reads whole topics.
        return {int(k): int(v) for k, v in (value or {}).items()}


@dataclass
class FileListHWM(HWM):
    """Set of already-processed file paths."""

    def __post_init__(self):
        if self.value is None:
            self.value = frozenset()

    def update(self, new_value: Any) -> "FileListHWM":
        if not new_value:
            return self
        if isinstance(new_value, (str,)):
            new_value = [new_value]
        # copies the set: add a run's files in one call, not one by one
        self.value = frozenset(self.value) | {str(p) for p in new_value}
        self.modified_time = datetime.now()
        return self

    def covers(self, path: str) -> bool:
        return str(path) in self.value

    def serialize(self) -> dict:
        data = super().serialize()
        data["value"] = sorted(self.value or ())
        return data

    def _restore(self, value: Any) -> frozenset:
        return frozenset(value or ())


@dataclass
class FileModifiedTimeHWM(ColumnDateTimeHWM):
    """Max st_mtime over processed files."""

    def covers(self, mtime: float | datetime) -> bool:
        if self.value is None:
            return False
        if isinstance(mtime, (int, float)):
            mtime = datetime.fromtimestamp(mtime)
        return mtime <= self.value


_HWM_CLASSES: dict[str, type] = {
    k.__name__: k
    for k in (
        HWM,
        ColumnHWM,
        ColumnIntHWM,
        ColumnDateHWM,
        ColumnDateTimeHWM,
        KeyValueIntHWM,
        FileListHWM,
        FileModifiedTimeHWM,
    )
}
