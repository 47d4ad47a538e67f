"""Stream replay for the registry's streaming queries.

A streaming registry query replays a staged source as a file stream, runs
it to completion with ``Trigger.AvailableNow`` and reads its output back,
so its DuckDB oracle can check it like a batch query's. This
module owns what such a replay puts on disk, all of it under the
repository's ``.scratch`` directory (``scratch_path``):

- ``stage_batches`` writes a source's deterministic micro-batch split,
  one parquet file per batch; ``batch_stream`` replays it one file per
  micro-batch, oldest first.
- ``run_foreach_batch`` runs a stream through ``foreachBatch`` in a work
  dir of its own: one per query and process, cleared on entry, holding
  the stream checkpoint and whatever the batch function writes. A re-run
  replaces the previous run's output instead of adding to it, and the
  work dirs of processes that have exited are removed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from onetl_spark.file.format.parquet import Parquet
from onetl_spark.streaming.reader import StreamDFReader
from onetl_spark.streaming.writer import StreamDFWriter, StreamWriteOptions

SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch",
)


def scratch_path(*parts: str) -> str:
    """A path under the repository's ``.scratch`` directory."""
    return os.path.join(SCRATCH, *parts)


def staging_dir(kind: str, sf_dir: str, sources: Sequence[str]) -> str:
    """The cache dir for one staged copy of the ``sources`` tables of ``sf_dir``.

    Keyed by the ABSOLUTE source paths, not just the sf basename: two
    roots sharing a basename (data/sf1 and .scratch/testdata/sf1)
    must not alias to one staged copy, or the freshness check can
    silently serve the other root's data."""
    paths = "\n".join(os.path.abspath(os.path.join(sf_dir, f"{t}.parquet")) for t in sources)
    key = hashlib.md5(paths.encode()).hexdigest()[:10]
    return scratch_path(
        "stream_src", kind, f"{os.path.basename(os.path.normpath(sf_dir))}_{key}"
    )


def stage_batches(
    kind: str, sf_dir: str, sources: Sequence[str], selects: Sequence[str]
) -> str:
    """Stage one parquet file per SELECT into a stream-source dir; return it.

    Each SELECT runs in DuckDB over views named after the ``sources``
    tables of ``sf_dir``. File k gets the mtime ``stamp + 1000 k``, so a
    file stream that takes the oldest file first replays SELECT k as
    micro-batch k. The staged copy is reused while its dir is at least as
    new as the newest source file (testdata is regenerated in place) and
    is re-staged whole otherwise."""
    import duckdb

    paths = {t: os.path.join(sf_dir, f"{t}.parquet") for t in sources}
    base = staging_dir(kind, sf_dir, sources)
    files = [os.path.join(base, f"{k}.parquet") for k in range(len(selects))]
    stamp = max(os.path.getmtime(p) for p in paths.values())
    if all(os.path.exists(f) for f in files) and os.path.getmtime(base) >= stamp:
        return base
    if os.path.exists(base):
        shutil.rmtree(base)
    os.makedirs(base)
    con = duckdb.connect()
    try:
        for table, path in paths.items():
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        for k, (file, select) in enumerate(zip(files, selects)):
            con.execute(f"COPY ({select}) TO '{file}' (FORMAT PARQUET)")
            os.utime(file, (stamp + 1000 * k, stamp + 1000 * k))
    finally:
        con.close()
    os.utime(base, (stamp, stamp))
    return base


def batch_stream(spark: SparkSession, source: str, schema: T.StructType) -> DataFrame:
    """A file stream over a ``stage_batches`` dir: one staged file per
    micro-batch, oldest first."""
    return StreamDFReader(
        spark=spark,
        format=Parquet(),
        source_path=source,
        df_schema=schema,
        options={"maxFilesPerTrigger": "1"},
    ).run()


def run_foreach_batch(
    name: str,
    stream: DataFrame,
    make_batch_fn: Callable[[str], Callable[[DataFrame, int], None]],
) -> str:
    """Run ``stream`` to completion (AvailableNow) through the batch
    function ``make_batch_fn(work_dir)`` and return the work dir.

    The work dir belongs to query ``name`` in this process. It is cleared
    on entry, so each run starts from an empty checkpoint and replaces the
    previous run's output: a DataFrame still reading that output is stale
    once the query runs again."""
    root = scratch_path("stream_work")
    _remove_exited(root)
    work = os.path.join(root, str(os.getpid()), name)
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)
    query = StreamDFWriter(
        foreach_batch=make_batch_fn(work),
        options=StreamWriteOptions(
            trigger={"availableNow": True},
            checkpoint_location=os.path.join(work, "ckpt"),
        ),
    ).run(stream)
    query.awaitTermination()
    return work


def _remove_exited(root: str) -> None:
    """Remove the per-process work dirs of processes that have exited."""
    if not os.path.isdir(root):
        return
    for entry in os.listdir(root):
        if entry.isdigit() and not _running(int(entry)):
            shutil.rmtree(os.path.join(root, entry), ignore_errors=True)


def _running(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, owned by another user
        return True
    return True
