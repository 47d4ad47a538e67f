"""FileDownloader — remote→local copy with filters/limits/HWM.

Reference lifecycle (onetl/file/file_downloader/file_downloader.py:68,
274-438; SURVEY §3.3): strategy/HWM checks → ``view_files`` (walk with
filters+limits, FileHWMFilter appended) → plan (remote, local, tmp)
triples → mkdir tree → ThreadPoolExecutor copy (options.workers) with
temp-file staging → per-file statuses → DownloadResult. The FileListHWM
is updated with successfully-downloaded files and saved EVEN ON
INTERRUPT (:762-776 finally block) — unlike column HWMs.

``run`` reads the HWM from the store once and lists against that copy;
the downloaded paths join it in one update when the copy phase ends, so
a run costs one store read and one store write however many files the
HWM already holds.
"""

from __future__ import annotations

import logging
import os
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass, field
from pathlib import PurePosixPath

from onetl_spark.exceptions import StrategyError
from onetl_spark.hooks import slot, support_hooks
from onetl_spark.file.transfer.connection import FileConnection
from onetl_spark.file.transfer.filters import FileHWMFilter
from onetl_spark.file.transfer.paths import RemoteFile
from onetl_spark.file.transfer.results import FileResult
from onetl_spark.hwm.store import HWMStoreStackManager
from onetl_spark.hwm.types import FileListHWM
from onetl_spark.strategy.base import HWMStrategy, StrategyManager, validate_hwm_consistency
from onetl_spark.strategy.batch import BatchHWMStrategy

log = logging.getLogger(__name__)


@dataclass
class FileDownloaderOptions:
    if_exists: str = "error"  # error|ignore|overwrite|replace_entire_directory
    delete_source: bool = False
    workers: int = 1


@support_hooks
@dataclass
class FileDownloader:
    connection: FileConnection
    source_path: str
    local_path: str
    filters: list = field(default_factory=list)
    limits: list = field(default_factory=list)
    hwm: FileListHWM | None = None
    options: FileDownloaderOptions = field(default_factory=FileDownloaderOptions)
    # the HWM ``run`` read, for the listing it makes through ``view_files``
    _run_hwm: FileListHWM | None = field(default=None, init=False, repr=False, compare=False)

    @slot
    def view_files(self) -> list[RemoteFile]:
        """Dry-run listing after filters/limits/HWM (file_downloader.py:441-505)."""
        filters = list(self.filters)
        hwm = self._run_hwm if self._run_hwm is not None else self._current_hwm()
        if hwm is not None:
            filters.append(FileHWMFilter(hwm))
        from onetl_spark.file.transfer.limits import reset_limits

        reset_limits(self.limits)
        return list(self.connection.walk(self.source_path, filters, self.limits))

    @slot
    def run(self, files: list | None = None) -> FileResult:
        strategy = StrategyManager.get_current()
        if isinstance(strategy, BatchHWMStrategy):
            raise StrategyError("FileDownloader supports only non-batch strategies")
        hwm = self._current_hwm()

        if self.options.if_exists == "replace_entire_directory" and os.path.isdir(self.local_path):
            import shutil

            shutil.rmtree(self.local_path)
        os.makedirs(self.local_path, exist_ok=True)

        if files is None:
            self._run_hwm = hwm
            try:
                remote_files = self.view_files()
            finally:
                self._run_hwm = None
        else:
            remote_files = [
                f if isinstance(f, RemoteFile) else RemoteFile(PurePosixPath(str(f)), self.connection.get_stat(str(f)))
                for f in files
            ]

        plan = []
        for file in remote_files:
            rel = PurePosixPath(str(file.path)).relative_to(self.source_path)
            local = os.path.join(self.local_path, str(rel))
            plan.append((file, local))

        for _, local in plan:
            os.makedirs(os.path.dirname(local), exist_ok=True)

        result = FileResult()
        pool = ThreadPoolExecutor(max_workers=max(1, self.options.workers))
        futures: dict = {}
        try:
            futures = {pool.submit(self._copy_one, f, local): f for f, local in plan}
            for future in as_completed(futures):
                file = futures[future]
                try:
                    status = future.result()
                except Exception:
                    log.exception("download failed for %s", file)
                    result.failed.append(file)
                    continue
                getattr(result, status).append(file)
        finally:
            # on interrupt: drop the copies not started, wait for the running ones
            pool.shutdown(cancel_futures=True)
            # HWM saved even on interrupt (file_downloader.py:762-776), with
            # every file copied so far
            if hwm is not None:
                hwm.update([str(file.path) for future, file in futures.items() if _copied(future)])
                HWMStoreStackManager.get_current().set_hwm(hwm)
        return result

    def _copy_one(self, file: RemoteFile, local: str) -> str:
        if os.path.exists(local):
            mode = self.options.if_exists
            if mode == "error":
                raise FileExistsError(f"Local file {local} already exists")
            if mode == "ignore":
                return "skipped"
        tmp = f"{local}.tmp"
        self.connection.download_file(str(file.path), tmp)
        os.replace(tmp, local)
        if self.options.delete_source:
            self.connection.remove_file(str(file.path))
        return "successful"

    def _current_hwm(self) -> FileListHWM | None:
        if self.hwm is None:
            return None
        strategy = StrategyManager.get_current()
        if not isinstance(strategy, HWMStrategy):
            return None
        saved = HWMStoreStackManager.get_current().get_hwm(self.hwm.name)
        if saved is None:
            return self.hwm.copy()
        validate_hwm_consistency(saved, self.hwm)
        return saved


def _copied(future) -> bool:
    return not future.cancelled() and future.exception() is None and future.result() == "successful"
