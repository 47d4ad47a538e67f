"""Stream replay (`showcase/replay.py`): the staging contract, the one
``foreachBatch`` runner, and what a streaming registry query leaves behind."""

from __future__ import annotations

import os
import re
import subprocess
from pathlib import Path

import duckdb
import pytest


@pytest.fixture()
def replay(tmp_path, monkeypatch):
    from onetl_spark.showcase import replay

    monkeypatch.setattr(replay, "SCRATCH", str(tmp_path / "scratch"))
    return replay


def _write_table(sf_dir: Path, table: str, select: str, mtime: float | None = None) -> None:
    sf_dir.mkdir(parents=True, exist_ok=True)
    path = sf_dir / f"{table}.parquet"
    duckdb.execute(f"COPY ({select}) TO '{path}' (FORMAT PARQUET)")
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def _ids(path: str) -> list[int]:
    return [r[0] for r in duckdb.execute(f"SELECT id FROM read_parquet('{path}') ORDER BY id").fetchall()]


def test_stage_batches_roots_sharing_a_basename_do_not_alias(replay, tmp_path):
    _write_table(tmp_path / "a" / "sf1", "t", "SELECT range AS id FROM range(3)")
    _write_table(tmp_path / "b" / "sf1", "t", "SELECT range + 10 AS id FROM range(3)")

    staged = [
        replay.stage_batches("tiny", str(tmp_path / root / "sf1"), ["t"], ["SELECT id FROM t"])
        for root in ("a", "b")
    ]

    assert staged[0] != staged[1]
    assert _ids(os.path.join(staged[0], "0.parquet")) == [0, 1, 2]
    assert _ids(os.path.join(staged[1], "0.parquet")) == [10, 11, 12]


def test_stage_batches_restages_when_a_source_is_newer(replay, tmp_path, monkeypatch):
    sf = tmp_path / "sf"
    _write_table(sf, "t", "SELECT range AS id FROM range(3)", mtime=1e9)
    selects = ["SELECT id FROM t WHERE id % 2 = 0", "SELECT id FROM t WHERE id % 2 = 1"]
    base = replay.stage_batches("tiny", str(sf), ["t"], selects)

    with monkeypatch.context() as m:
        m.setattr(duckdb, "connect", None)  # a fresh copy is reused, not re-staged
        assert replay.stage_batches("tiny", str(sf), ["t"], selects) == base

    _write_table(sf, "t", "SELECT range + 5 AS id FROM range(4)", mtime=1e9 + 10)
    assert replay.stage_batches("tiny", str(sf), ["t"], selects) == base
    assert _ids(os.path.join(base, "0.parquet")) == [6, 8]
    assert _ids(os.path.join(base, "1.parquet")) == [5, 7]


def test_run_foreach_batch_replays_oldest_first_in_one_cleared_work_dir(spark, replay, tmp_path):
    """Staged file k is micro-batch k; a re-run clears the work dir, so it
    starts from an empty checkpoint and replaces the previous output; the
    work dir of an exited process is removed."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    sf = tmp_path / "sf"
    _write_table(sf, "t", "SELECT range AS id FROM range(9)")
    order = (2, 0, 1)
    source = replay.stage_batches(
        "tiny", str(sf), ["t"], [f"SELECT id FROM t WHERE id % 3 = {k}" for k in order]
    )
    schema = T.StructType([T.StructField("id", T.LongType())])

    def make_batch_fn(work_dir):
        def write(batch_df, batch_id):
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
                os.path.join(work_dir, "out")
            )

        return write

    exited = subprocess.Popen(["true"])
    exited.wait()
    stale = replay.scratch_path("stream_work", str(exited.pid), "tiny")
    os.makedirs(stale)

    want = sorted((b, i) for b, k in enumerate(order) for i in range(9) if i % 3 == k)
    for run in range(2):
        work = replay.run_foreach_batch(
            "tiny", replay.batch_stream(spark, source, schema), make_batch_fn
        )
        assert work == replay.scratch_path("stream_work", str(os.getpid()), "tiny")
        rows = spark.read.parquet(os.path.join(work, "out")).collect()
        assert sorted((r.batch_id, r.id) for r in rows) == want
        assert os.path.isdir(os.path.join(work, "ckpt"))
        if run == 0:
            marker = os.path.join(work, "marker")
            open(marker, "w").close()
    assert not os.path.exists(marker)
    assert not os.path.exists(stale)


def test_stage_source_dir_links_absolutely_and_heals_a_dangling_link(
    replay, tmp_path, monkeypatch
):
    from onetl_spark.showcase.streaming import _stage_source_dir

    _write_table(tmp_path / "sf", "events", "SELECT range AS id FROM range(3)")
    monkeypatch.chdir(tmp_path)
    base = _stage_source_dir("sf")  # a relative sf_dir still links absolutely
    link = os.path.join(base, "events.parquet")
    assert os.path.isabs(os.readlink(link))

    os.remove(link)
    os.symlink(str(tmp_path / "gone.parquet"), link)
    assert _stage_source_dir(str(tmp_path / "sf")) == base
    assert _ids(link) == [0, 1, 2]


def test_streaming_reruns_leave_nothing_behind(spark, sf_dir, testdata):
    """Running streaming queries again in one session must not add work
    dirs, temp views or active streams, and must give the same rows."""
    import onetl_spark.showcase as sc
    from onetl_spark.showcase.replay import SCRATCH, scratch_path

    queries = sc.all_queries()
    foreach_batch = ["streaming_cdc_apply", "streaming_ri_monitor"]
    memory_sink = ["streaming_windowed_agg", "streaming_left_outer_join"]

    def run_all():
        return {
            name: sorted(map(repr, queries[name](spark, sf_dir).collect()))
            for name in foreach_batch + memory_sink
        }

    def scratch_dirs():
        top = [e for e in os.scandir(SCRATCH) if e.is_dir()]
        return {e.name for e in top} | {
            f"{e.name}/{s.name}" for e in top for s in os.scandir(e.path) if s.is_dir()
        }

    def temp_views():
        return sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)

    first = run_all()
    views = temp_views()  # lists the catalog first: that creates the warehouse dir
    dirs = scratch_dirs()
    assert run_all() == first
    assert scratch_dirs() == dirs
    assert temp_views() == views
    assert set(memory_sink) <= set(views)
    assert set(foreach_batch) <= set(os.listdir(scratch_path("stream_work", str(os.getpid()))))
    assert spark.streams.active == []


def test_stream_replay_lives_in_one_module():
    """Scratch paths, work dirs and DuckDB staging of the streaming
    registry queries go through `showcase/replay.py` only."""
    showcase = Path(__file__).resolve().parent.parent / "onetl_spark" / "showcase"
    patterns = [
        re.compile(r"\bmkdtemp\b"),
        re.compile(r"\buuid\b"),
        re.compile(r"[\"']\.scratch[\"']"),
        re.compile(r"\bCOPY\b[\s\S]{0,400}?\bTO\b"),
    ]
    hits = sorted(
        p.name
        for p in showcase.glob("*.py")
        if any(pat.search(p.read_text(encoding="utf-8")) for pat in patterns)
    )
    assert hits == ["replay.py"]
