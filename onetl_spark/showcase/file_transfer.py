"""File-transfer planning showcase — puts the FileDownloader walk/filter/
limit pipeline under the driver's hash gate.

The reference's file-transfer surface (onetl/file/file_downloader/
file_downloader.py:441-505 ``view_files``) is planning + copying over a
remote tree; the planning half is pure logic (walk + filters + limits)
and therefore oracle-checkable: stage a deterministic local tree DERIVED
FROM the ``documents`` table, plan a download over it with
Glob/ExcludeDir/FileSizeRange filters and a MaxFilesCount limit, and
return the planned file list as a DataFrame. The DuckDB oracle recomputes
the same plan relationally from ``documents`` — byte sizes via
``strlen`` (bytes, matching the staged utf-8 files), the walk's sorted
depth-first order via ``ORDER BY source, doc_id`` (file names are
zero-padded so lexicographic = numeric).

Staging collects only the filtered subset (``doc_id % 7 = 0``; bounded,
showcase scaffolding for the local tree) — the operator under test is the
planning pipeline itself, which at production scale walks a remote
FTP/SFTP/S3 tree without any driver-side materialization of contents.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from onetl_spark.file.transfer.connection import LocalFileConnection
from onetl_spark.file.transfer.downloader import FileDownloader
from onetl_spark.file.transfer.filters import ExcludeDir, FileSizeRange, Glob
from onetl_spark.file.transfer.limits import MaxFilesCount
from onetl_spark.showcase.registry import register
from onetl_spark.showcase.replay import scratch_path
from onetl_spark.showcase.util import ensure_views

_SUBSET_MOD = 7
_MIN_BYTES = 150
_MAX_FILES = 40
_EXCLUDED_SOURCE = "src3"


def _stage_tree(spark: SparkSession, sf_dir: str) -> str:
    """Materialize documents (doc_id % 7 = 0) as root/<source>/doc_<id>.txt;
    idempotent per (sf basename, documents mtime)."""
    doc_path = os.path.join(sf_dir, "documents.parquet")
    root = scratch_path(
        "file_transfer_stage",
        f"{os.path.basename(os.path.normpath(sf_dir))}_{int(os.path.getmtime(doc_path))}",
    )
    marker = os.path.join(root, "_STAGED")
    if os.path.exists(marker):
        return root
    ensure_views(spark, sf_dir)
    rows = (
        spark.table("documents")
        .filter(f"doc_id % {_SUBSET_MOD} = 0")
        .select("doc_id", "source", "text")
        .collect()
    )
    for r in rows:
        d = os.path.join(root, r["source"])
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"doc_{r['doc_id']:06d}.txt"), "w", encoding="utf-8") as f:
            f.write(r["text"])
    with open(marker, "w") as f:
        f.write("ok")
    return root


def file_transfer_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planned download list over the staged tree: *.txt files outside the
    excluded source dir, at least _MIN_BYTES bytes, first _MAX_FILES in
    the walk's sorted depth-first order."""
    root = _stage_tree(spark, sf_dir)
    downloader = FileDownloader(
        connection=LocalFileConnection(),
        source_path=root,
        local_path=os.path.join(root, "_unused_local"),
        filters=[
            Glob("*.txt"),
            ExcludeDir(os.path.join(root, _EXCLUDED_SOURCE)),
            FileSizeRange(min=_MIN_BYTES),
        ],
        limits=[MaxFilesCount(_MAX_FILES)],
    )
    planned = downloader.view_files()
    data = [
        (os.path.relpath(str(f.path), root), int(f.stat.st_size)) for f in planned
    ]
    return spark.createDataFrame(data, "rel_path string, size_bytes long")


FILE_TRANSFER_PLAN_SQL = f"""
SELECT source || '/doc_' || lpad(CAST(doc_id AS VARCHAR), 6, '0') || '.txt' AS rel_path,
       CAST(strlen(text) AS BIGINT) AS size_bytes
FROM documents
WHERE doc_id % {_SUBSET_MOD} = 0
  AND source <> '{_EXCLUDED_SOURCE}'
  AND strlen(text) >= {_MIN_BYTES}
ORDER BY source, doc_id
LIMIT {_MAX_FILES}
"""


register(file_transfer_plan, FILE_TRANSFER_PLAN_SQL)


_MV_MIN_BYTES = 300
_MV_MAX_FILES = 25


def file_upload_move_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FileUploader + FileMover EXECUTION (not just planning) under the
    hash gate: upload the staged tree into an inbox, move *.txt files ≥
    _MV_MIN_BYTES (first _MV_MAX_FILES in walk order) to an outbox with
    ``if_exists='ignore'`` — the first planned target is pre-created so
    exactly one move exercises the skip branch. Returns one row per
    planned file with its tree-relative path, byte size, and final status
    (reference surface: onetl/file/file_uploader/file_uploader.py:158,
    file_mover/file_mover.py:163)."""
    import shutil

    from onetl_spark.file.transfer.mover import FileMover, FileMoverOptions
    from onetl_spark.file.transfer.uploader import FileUploader, FileUploaderOptions

    root = _stage_tree(spark, sf_dir)
    base = os.path.join(os.path.dirname(root), "upload_move_" + os.path.basename(root))
    shutil.rmtree(base, ignore_errors=True)
    inbox, outbox = os.path.join(base, "in"), os.path.join(base, "out")
    conn = LocalFileConnection()
    up = FileUploader(
        connection=conn,
        local_path=root,
        target_path=inbox,
        options=FileUploaderOptions(if_exists="overwrite"),
    )
    up.run([p for p in up.view_files() if p.endswith(".txt")])
    mover = FileMover(
        connection=conn,
        source_path=inbox,
        target_path=outbox,
        filters=[Glob("*.txt"), FileSizeRange(min=_MV_MIN_BYTES)],
        limits=[MaxFilesCount(_MV_MAX_FILES)],
        options=FileMoverOptions(if_exists="ignore"),
    )
    planned = mover.view_files()
    data = []
    if planned:
        first_rel = os.path.relpath(str(planned[0].path), inbox)
        pre = os.path.join(outbox, first_rel)
        os.makedirs(os.path.dirname(pre), exist_ok=True)
        with open(pre, "w") as f:
            f.write("occupied")
        result = mover.run(planned)
        for p in result.successful:
            rel = os.path.relpath(str(p), outbox)
            data.append((rel, os.path.getsize(str(p)), "moved"))
        for p in result.skipped:
            rel = os.path.relpath(str(p), inbox)
            data.append((rel, os.path.getsize(str(p)), "skipped"))
        assert not result.failed and not result.missing
    return spark.createDataFrame(data, "rel_path string, size_bytes long, status string")


FILE_UPLOAD_MOVE_SQL = f"""
WITH f AS (
  SELECT source || '/doc_' || lpad(CAST(doc_id AS VARCHAR), 6, '0') || '.txt' AS rel_path,
         CAST(strlen(text) AS BIGINT) AS size_bytes
  FROM documents
  WHERE doc_id % {_SUBSET_MOD} = 0 AND strlen(text) >= {_MV_MIN_BYTES}
  ORDER BY source, doc_id
  LIMIT {_MV_MAX_FILES}
)
SELECT rel_path, size_bytes,
       CASE WHEN ROW_NUMBER() OVER (ORDER BY rel_path) = 1
            THEN 'skipped' ELSE 'moved' END AS status
FROM f
"""

register(file_upload_move_result, FILE_UPLOAD_MOVE_SQL)
