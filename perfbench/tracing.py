"""In-memory span recorder for the traced run (``--trace 1``).

Spans are taken at layer boundaries from benchmark code only:

- generator hooks bound on the library's public ``@slot`` methods;
- wrappers the benchmark installs around calls that are not slots
  (``JDBCConnection.read_source_as_df``/``write_df_to_target``, the HWM
  store, ``SparkMetricsRecorder.__exit__``, ``IncrementalStrategy.__exit__``);
- ``span()`` blocks inside the workloads' own op code.

``hooks._BoundSlot.__call__`` never resumes a generator hook when the
slot raises, so a span opened by a hook can stay open. ``end_op`` closes
every span still open at the end of an op and marks it failed.

Spans are written to one JSON file when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from onetl_spark.hooks import resume_all_hooks, stop_all_hooks
from perfbench.stats import self_time


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float | None = None
    parent: int | None = None
    failed: bool = False
    id: int = 0


@dataclass
class Tracer:
    """Records spans while ``active``; an inactive tracer records nothing
    and, while it has hooks bound, switches the library's hooks off."""

    active: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _op: int = -1
    _undo: list = field(default_factory=list)
    _hooked: bool = False

    def set_active(self, active: bool) -> None:
        self.active = active
        if self._hooked:
            resume_all_hooks() if active else stop_all_hooks()

    # --- op boundaries --------------------------------------------------

    def begin_op(self, op_id: int) -> None:
        self._op = op_id

    def end_op(self) -> None:
        now = time.perf_counter()
        while self._stack:
            span = self._stack.pop()
            span.end, span.failed = now, True

    # --- spans ----------------------------------------------------------

    def open(self, name: str) -> Span | None:
        if not self.active:
            return None
        span = Span(
            name=name,
            op=self._op,
            start=time.perf_counter(),
            parent=self._stack[-1].id if self._stack else None,
            id=len(self.spans),
        )
        self.spans.append(span)
        self._stack.append(span)
        return span

    def close(self, span: Span | None, failed: bool = False) -> None:
        if span is None or span.end is not None:
            return
        span.end, span.failed = time.perf_counter(), failed
        # spans above this one were left open by a slot that raised
        while self._stack:
            top = self._stack.pop()
            if top is span:
                break
            top.end, top.failed = span.end, True

    @contextmanager
    def span(self, name: str):
        span = self.open(name)
        try:
            yield
        except BaseException:
            self.close(span, failed=True)
            raise
        self.close(span)

    # --- instrumentation --------------------------------------------------

    def bind_slot(self, slot, name: str) -> None:
        """Bind a generator hook timing every call of ``slot``."""
        tracer = self

        def hook(instance, *args, **kwargs):
            span = tracer.open(name)
            yield
            tracer.close(span)

        bound = slot.bind(hook, priority=-1000)
        self._undo.append(lambda: slot.unbind(bound))
        if not self._hooked:
            self._hooked = True
            self._undo.insert(0, resume_all_hooks)

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a timed wrapper until ``uninstall``."""
        had_own = attr in vars(owner)
        original = getattr(owner, attr)
        setattr(owner, attr, self.wrap(name, original))
        if had_own:
            self._undo.append(lambda: setattr(owner, attr, original))
        else:
            self._undo.append(lambda: delattr(owner, attr))

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    # --- queries ----------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name and s.end is not None]

    def calls_per_op(self, name: str, ops: int) -> float:
        return sum(1 for s in self.spans if s.name == name) / ops if ops else 0.0

    def dump(self, path: str, extra: dict) -> None:
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None and s.end is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        rows = []
        for s in self.spans:
            row = asdict(s)
            if s.end is not None:
                row["self_s"] = self_time(s.start, s.end, children.get(s.id, []))
            rows.append(row)
        with open(path, "w") as f:
            json.dump({**extra, "spans": rows}, f)
