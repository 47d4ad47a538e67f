"""Session profile, closed-loop op runner and end-to-end metrics.

One client thread runs ops back to back. Every op is timed from outside
around the public library call; its output is checked afterwards,
untimed. Between ops the runner calls ``spark.catalog.clearCache()`` and
``gc.collect()`` so one op's leftovers do not bill the next.
"""

from __future__ import annotations

import ctypes
import gc
import os
import signal
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

from perfbench import stats
from perfbench.tracing import Tracer

HEAP_MB = 2048  # the driver's heap, all of it resident from JVM start
DRIVER_MEMORY = f"{HEAP_MB}m"
# The JVM inherits this environment. Two glibc arenas instead of eight
# per core keep its native RSS following the program's allocations, not
# the scheduling of its threads.
JVM_ENV = {"MALLOC_ARENA_MAX": "2"}


def spark_profile(cores: int, root: str) -> dict[str, str]:
    """The fixed session profile: the bench regime of ``bench.py`` (AQE
    on, shuffled-hash joins preferred, UI off, UTC), a fixed pre-touched
    heap, and every scratch location inside ``root``."""
    jtmp = os.path.join(root, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={jtmp} "
            f"-Dderby.system.home={root} "
            f"-Dderby.stream.error.file={os.path.join(root, 'derby.log')}"
        ),
        "spark.local.dir": os.path.join(root, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.sql.shuffle.partitions": str(max(cores, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def build_spark(profile: dict[str, str]):
    from pyspark.sql import SparkSession

    os.environ.update(JVM_ENV)
    builder = SparkSession.builder
    for key, value in profile.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# --- process accounting -------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_libc = ctypes.CDLL("libc.so.6")


def proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # utime, stime are fields 14 and 15; fields[0] here is field 3
    return (int(fields[11]) + int(fields[12])) / _CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_hwm(pid: int) -> None:
    """Restart ``pid``'s VmHWM from its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


# --- process lifetime -----------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36
CHILD_GRACE_S = 10.0  # between SIGTERM and SIGKILL


def adopt_orphans() -> None:
    """Make this process the parent of its orphaned descendants. Spark's
    Python worker daemon outlives the JVM that started it for a moment;
    adopted, it is stopped and waited for by :func:`end_children`."""
    if _libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError("prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list[int]:
    me = str(os.getpid())
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[1] == me:
                    out.append(int(name))
        except OSError:
            pass  # ended while we looked
    return out


def end_children() -> None:
    """Stop every child and adopted orphan and wait until each has ended.

    The multiprocessing resource tracker, which ignores SIGTERM, is
    stopped by closing its pipe; the rest get SIGTERM, and SIGKILL once
    ``CHILD_GRACE_S`` has passed."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + CHILD_GRACE_S
    sig = signal.SIGTERM
    signalled: set[tuple[int, int]] = set()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no children left
        if sig == signal.SIGTERM and time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in _children():
            if (pid, sig) not in signalled:
                signalled.add((pid, sig))
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


# --- ops ------------------------------------------------------------------------


@dataclass
class Checked:
    """What an op's check found: rows the op moved, problems, and the
    file-backed writes it made as ``(files, bytes, rows)``."""

    rows: int
    problems: list[str] = field(default_factory=list)
    writes: list[tuple[int, int, int]] = field(default_factory=list)


@dataclass
class Op:
    name: str
    work: Callable[[], Any]
    check: Callable[[Any], Checked]
    before: Callable[[], None] | None = None  # untimed producer step


@dataclass
class Sample:
    op: str
    seconds: float
    cpu_s: float
    rows: int
    ok: bool
    traced: bool
    group: str  # the op's Spark job group
    rss_mb: float  # resident MB of the JVM beyond its heap + the Python driver, at the op's peak


@dataclass
class Runner:
    spark: Any
    tracer: Tracer
    t0: float
    samples: list[Sample] = field(default_factory=list)
    extra_checks: list[bool] = field(default_factory=list)
    jobs: dict[str, dict] = field(default_factory=dict)
    writes: list[tuple[int, int, int]] = field(default_factory=list)  # traced ops' (files, bytes, rows)
    setup_s: float | None = None
    _n: int = 0

    def __post_init__(self):
        self.sc = self.spark.sparkContext
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.pids = (self.jvm_pid, os.getpid())

    def cpu_s(self) -> float:
        return proc_cpu_s(self.jvm_pid) + time.process_time()

    def phase(self, name: str) -> None:
        print(f"perfbench: {name} at {time.perf_counter() - self.t0:.2f}s", file=sys.stderr)

    def untimed(self, fn: Callable[[], Any]) -> Any:
        self.sc.setJobGroup("perfbench-untimed", "untimed")
        return fn()

    def record_check(self, name: str, fn: Callable[[], list[str]]) -> None:
        """A standalone output check, counted as one attempted op."""
        try:
            problems = self.untimed(fn)
        except Exception:
            traceback.print_exc()
            problems = ["raised"]
        for p in problems:
            print(f"check {name} FAILED: {p}", file=sys.stderr)
        self.extra_checks.append(not problems)

    def run(self, op: Op, timed: bool = True, traced: bool = False) -> None:
        if op.before is not None:
            self.untimed(op.before)
        self.spark.catalog.clearCache()
        gc.collect()
        _libc.malloc_trim(0)  # hand back what the last check freed before the RSS mark restarts
        self._n += 1
        group = f"perfbench-{self._n}"
        self.tracer.set_active(traced)
        self.tracer.begin_op(self._n)
        self.sc.setJobGroup(group, op.name)
        ok = True
        out = None
        start_epoch = time.time()
        for pid in self.pids:
            reset_hwm(pid)
        c0 = self.cpu_s()
        t = time.perf_counter()
        try:
            with self.tracer.span("op"):
                out = op.work()
        except Exception:
            traceback.print_exc()
            ok = False
        seconds = time.perf_counter() - t
        cpu = self.cpu_s() - c0
        rss_mb = sum(vm_hwm_mb(pid) for pid in self.pids) - HEAP_MB
        self.tracer.end_op()
        self.tracer.set_active(False)
        if traced:
            self.jobs[group] = self._job_stats(group, start_epoch, seconds)
        checked = Checked(rows=0, problems=["op raised"])
        if ok:
            try:
                checked = self.untimed(lambda: op.check(out))
            except Exception:
                traceback.print_exc()
                checked = Checked(rows=0, problems=["check raised"])
        for p in checked.problems:
            print(f"op {op.name} FAILED: {p}", file=sys.stderr)
        if traced:
            self.writes += checked.writes
        if timed:
            if self.setup_s is None:
                self.setup_s = t - self.t0
            self.samples.append(Sample(op.name, seconds, cpu, checked.rows, ok and not checked.problems, traced, group,
                                       rss_mb))

    def _job_stats(self, group: str, start_epoch: float, seconds: float) -> dict:
        store = self.sc._jsc.sc().statusStore()
        jobs = stages = tasks = 0
        spans = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            data = store.job(jid)
            jobs += 1
            stages += data.numCompletedStages()
            tasks += data.numCompletedTasks()
            sub, done = data.submissionTime(), data.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
        busy = stats.union_length(spans, start_epoch, start_epoch + seconds)
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "driver_gap_s": seconds - busy}

    # --- loops ------------------------------------------------------------

    def warm_up(self, ops: list[Op], rounds: int) -> None:
        for _ in range(rounds):
            for op in ops:
                self.run(op, timed=False)

    def measure(self, ops: list[Op], seconds: float, min_rounds: int,
                fixed_rounds: int | None, trace: bool) -> None:
        """Whole rounds over ``ops``: ``fixed_rounds`` of them when given,
        otherwise until ``seconds`` have passed and at least ``min_rounds``
        ran. With ``trace`` every second round is traced, so one run gives
        both the per-layer spans and the traced-vs-untraced overhead; a
        time-bound traced run takes at least ``min_rounds`` of each."""
        if trace:
            min_rounds *= 2
        start = time.perf_counter()

        def done(r: int) -> bool:
            if fixed_rounds is not None:
                return r >= fixed_rounds
            return r >= min_rounds and time.perf_counter() - start >= seconds

        r = 0
        while not done(r):
            for op in ops:
                self.run(op, traced=trace and r % 2 == 1)
            r += 1

    # --- end-to-end metrics -------------------------------------------------

    def end_to_end(self, samples: list[Sample]) -> dict[str, float]:
        by_type: dict[str, list[Sample]] = {}
        for s in samples:
            by_type.setdefault(s.op, []).append(s)
        med = {k: stats.median([s.seconds for s in v]) for k, v in by_type.items()}
        cpu_med = {k: stats.median([s.cpu_s for s in v]) for k, v in by_type.items()}
        p50 = stats.geomean(list(med.values()))
        rel, pct = stats.tail([s.seconds / med[s.op] for s in samples])
        print(f"perfbench: op_s.tail taken at p{pct:.1f} of {len(samples)} samples", file=sys.stderr)
        rows_per_round = sum(stats.median([s.rows for s in v]) for v in by_type.values())
        return {
            "op_s.p50": p50,
            "op_s.tail": p50 * rel,
            "rows_per_s": rows_per_round / sum(med.values()),
            "cpu_s.p50": stats.geomean(list(cpu_med.values())),
        }

    def report(self) -> None:
        """Print every op type's samples, in run order, to stderr."""
        by_type: dict[str, list[str]] = {}
        for s in self.samples:
            by_type.setdefault(s.op, []).append(f"{s.seconds:.3f}{'t' if s.traced else ''}")
        for op, values in by_type.items():
            print(f"perfbench: {op} n={len(values)} seconds={' '.join(values)}", file=sys.stderr)

    def peak_rss_mb(self) -> float:
        """The highest JVM + Python driver RSS seen while a timed op ran,
        less the fixed pre-touched heap, which is resident whatever the
        program does. The high-water marks restart before each op, so
        what the output checks allocate between ops is not billed."""
        return max(s.rss_mb for s in self.samples)

    def heap_live_mb(self) -> float:
        """JVM heap still in use after full collections: what the program
        retains (execution history, listener state, HWMs). A collection
        queues weakly held RDDs, shuffles and broadcasts for Spark's
        ContextCleaner, and what the cleaner releases can hold more of
        them: with two collections the reading still carried 27 MB of
        such garbage on ``transform``, with three it did not."""
        jvm = self.spark._jvm
        for pause in (0.0, 0.5, 0.5):
            time.sleep(pause)
            gc.collect()  # drop Python references to JVM objects first
            jvm.java.lang.System.gc()
        return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20

    def counts(self) -> tuple[int, int]:
        attempted = len(self.samples) + len(self.extra_checks)
        failed = sum(not s.ok for s in self.samples) + sum(not c for c in self.extra_checks)
        return attempted, failed
