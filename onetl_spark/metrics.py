"""Spark command metrics: one run record per block of Spark work.

The reference attaches a Py4J ``SparkListener`` and aggregates
execution/job/stage/task I/O metrics (onetl/_metrics/recorder.py:15,
listener/listener.py:19-133, command.py:22). A Python-side listener needs
the Py4J callback server; instead ``SparkMetricsRecorder`` reads the same
numbers after the fact from the status stores Spark keeps with the UI
off: the SQL store lists each execution's jobs and stages, and
``lastStageAttempt`` sums each stage's task metrics. Rows are counted
where tasks read and write them, so filters and joins do not inflate
them. The driver gap is the block's wall time minus the union of its job
spans. Jobs outside any SQL execution (plain RDD actions) are missed.

On exit the recorder reads only the executions after the newest one at
enter, so its cost follows the block's work, not the session's history.
It never waits for the listener bus: work the bus has not delivered yet
is missing ("metrics may be missing", db_writer.py:208-211). A caller
that needs the complete record calls ``drain()`` at the end of the block.
"""

from __future__ import annotations

import logging
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)


@dataclass
class SparkCommandMetrics:
    executions: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    input_rows: int = 0
    input_bytes: int = 0
    output_rows: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    executor_cpu_s: float = 0.0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    wall_s: float = 0.0
    driver_gap_s: float = 0.0

    @property
    def is_empty(self) -> bool:
        return self.executions == 0

    def as_dict(self) -> dict[str, float]:
        return {k: round(v, 3) if isinstance(v, float) else v for k, v in asdict(self).items()}

    def details(self) -> str:
        return " ".join(f"{k}={v}" for k, v in self.as_dict().items())


# StageData getter -> (record field, scale to the field's unit)
_STAGE_SUMS = (
    ("numTasks", "tasks", 1),
    ("inputRecords", "input_rows", 1),
    ("inputBytes", "input_bytes", 1),
    ("outputRecords", "output_rows", 1),
    ("outputBytes", "output_bytes", 1),
    ("shuffleReadBytes", "shuffle_read_bytes", 1),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
    ("diskBytesSpilled", "spill_bytes", 1),
    ("executorCpuTime", "executor_cpu_s", 1e-9),
    ("executorRunTime", "executor_run_s", 1e-3),
    ("jvmGcTime", "gc_s", 1e-3),
)


def _ids(scala_collection) -> list[int]:
    # one Py4J call for the whole id set instead of one per element
    text = scala_collection.mkString(",")
    return [int(x) for x in text.split(",")] if text else []


def _epoch_s(option_date, default: float) -> float:
    return option_date.get().getTime() / 1000.0 if option_date.isDefined() else default


def _busy_s(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to ``[lo, hi]``."""
    busy, covered = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, covered), min(b, hi)
        if b > a:
            busy += b - a
            covered = b
    return busy


class SparkMetricsRecorder:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._metrics = SparkCommandMetrics()

    def _status_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _latest_execution_id(self, store) -> int:
        count = store.executionsCount()
        return store.executionsList(count - 1, 1).head().executionId() if count else -1

    def __enter__(self) -> "SparkMetricsRecorder":
        self._t1 = None
        try:
            self._start_id = self._latest_execution_id(self._status_store())
        except Exception:  # metrics are best-effort: never fail the block
            log.debug("SparkMetricsRecorder: no start id", exc_info=True)
            self._start_id = None  # unknown: leave the record empty, never walk the whole history
        self._t0 = time.time()  # the store reads above are not the block's work
        return self

    def drain(self) -> None:
        """Stop the block's clock, then wait until Spark's listener bus has
        delivered every event posted so far, so the record is complete; the
        wait counts in neither wall time nor driver gap. Best-effort: past
        the bus's own timeout (10 s) the record is just incomplete."""
        self._t1 = time.time()
        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JJavaError:
            log.warning("listener bus did not drain: the run record may be incomplete", exc_info=True)

    def __exit__(self, *exc) -> bool:
        out = SparkCommandMetrics(wall_s=(self._t1 or time.time()) - self._t0)
        try:
            if self._start_id is not None:
                self._collect(out)
        except Exception:  # metrics are best-effort (db_writer.py:208-211)
            log.debug("SparkMetricsRecorder: record incomplete", exc_info=True)
        self._metrics = out
        return False

    def metrics(self) -> SparkCommandMetrics:
        return self._metrics

    def _collect(self, out: SparkCommandMetrics) -> None:
        t1 = self._t0 + out.wall_s
        store = self._status_store()
        job_ids: set[int] = set()
        stage_ids: set[int] = set()
        for eid in range(self._start_id + 1, self._latest_execution_id(store) + 1):
            execution = store.execution(eid)
            if execution.isEmpty():  # evicted, or not on the bus yet
                continue
            execution = execution.get()
            out.executions += 1
            job_ids.update(_ids(execution.jobs().keys()))
            stage_ids.update(_ids(execution.stages()))
        app_store = self.spark.sparkContext._jsc.sc().statusStore()
        spans = []
        for jid in job_ids:
            try:
                job = app_store.job(jid)
            except Py4JJavaError:  # evicted from the store
                continue
            spans.append((_epoch_s(job.submissionTime(), t1), _epoch_s(job.completionTime(), t1)))
        out.jobs = len(job_ids)
        out.driver_gap_s = out.wall_s - _busy_s(spans, self._t0, t1)
        for sid in stage_ids:
            try:
                stage = app_store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if stage.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            for getter, name, scale in _STAGE_SUMS:
                setattr(out, name, getattr(out, name) + getattr(stage, getter)() * scale)


@contextmanager
def override_job_description(spark: SparkSession, description: str):
    """Set the Spark job description for the duration of a block
    (onetl/_util/spark.py:204-221)."""
    sc = spark.sparkContext
    original = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try:
        yield
    finally:
        sc.setJobDescription(original)


def observe_dataframe(df, name: str, **metric_exprs):
    """Attach free in-flight metrics to a DataFrame via ``Observation``:
    the expressions (counts, null tallies, sums) are computed DURING the
    next action's existing pass over the data — zero extra jobs, zero
    extra scans, works identically on a 100 TB input.

    Returns ``(observed_df, observation)``; read ``observation.get``
    after an action runs. The data-quality counterpart of
    ``SparkMetricsRecorder`` (which captures I/O volume from the SQL
    status store).

    >>> df2, obs = observe_dataframe(df, "load", rows=F.count(F.lit(1)),
    ...                              null_keys=F.count_if(F.col("k").isNull()))
    >>> df2.write.parquet(...); obs.get["null_keys"]
    """
    from pyspark.sql import Observation

    if not metric_exprs:
        raise ValueError("observe_dataframe requires at least one metric expression")
    obs = Observation(name)
    exprs = [expr.alias(alias) for alias, expr in metric_exprs.items()]
    return df.observe(obs, *exprs), obs
