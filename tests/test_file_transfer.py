"""File-transfer tests: walk/filters/limits + Downloader/Uploader/Mover
over LocalFileConnection, incl. FileListHWM incremental downloads."""

import os

import pytest

from onetl_spark.exceptions import DirectoryNotFoundError
from onetl_spark.file.transfer import (
    ExcludeDir,
    FileDownloader,
    FileMover,
    FileUploader,
    FileSizeRange,
    Glob,
    LocalFileConnection,
    MaxFilesCount,
    Regexp,
    TotalFilesSize,
)
from onetl_spark.file.transfer.downloader import FileDownloaderOptions
from onetl_spark.file.transfer.mover import FileMoverOptions
from onetl_spark.file.transfer.uploader import FileUploaderOptions
from onetl_spark.hwm.store import MemoryHWMStore
from onetl_spark.hwm.types import FileListHWM
from onetl_spark.strategy import IncrementalStrategy


@pytest.fixture()
def remote_tree(tmp_path):
    root = tmp_path / "remote"
    (root / "sub" / "deep").mkdir(parents=True)
    (root / "skipme").mkdir()
    (root / "a.csv").write_text("1,2,3")
    (root / "b.txt").write_text("hello world")
    (root / "sub" / "c.csv").write_text("4,5,6,7,8,9," * 10)
    (root / "sub" / "deep" / "d.csv").write_text("x")
    (root / "skipme" / "e.csv").write_text("nope")
    return str(root)


@pytest.fixture()
def conn():
    return LocalFileConnection()


def names(files):
    return sorted(f.name for f in files)


def test_walk_all(conn, remote_tree):
    assert names(conn.walk(remote_tree)) == ["a.csv", "b.txt", "c.csv", "d.csv", "e.csv"]


def test_walk_missing_dir(conn):
    with pytest.raises(DirectoryNotFoundError):
        list(conn.walk("/nonexistent-dir-xyz"))


def test_filters(conn, remote_tree):
    assert names(conn.walk(remote_tree, [Glob("*.csv")])) == ["a.csv", "c.csv", "d.csv", "e.csv"]
    assert names(conn.walk(remote_tree, [Regexp(r"sub/.*\.csv$")])) == ["c.csv", "d.csv"]
    assert names(conn.walk(remote_tree, [ExcludeDir(f"{remote_tree}/skipme")])) == [
        "a.csv", "b.txt", "c.csv", "d.csv",
    ]
    assert names(conn.walk(remote_tree, [FileSizeRange(min=2, max=20)])) == ["a.csv", "b.txt", "e.csv"]


def test_limits_short_circuit(conn, remote_tree):
    assert len(list(conn.walk(remote_tree, limits=[MaxFilesCount(2)]))) == 2
    small = list(conn.walk(remote_tree, limits=[TotalFilesSize(10)]))
    assert len(small) >= 1


def test_downloader_roundtrip(conn, remote_tree, tmp_path):
    local = str(tmp_path / "local")
    dl = FileDownloader(conn, remote_tree, local, filters=[Glob("*.csv")])
    result = dl.run()
    assert result.successful_count == 4
    assert os.path.isfile(os.path.join(local, "a.csv"))
    assert os.path.isfile(os.path.join(local, "sub", "deep", "d.csv"))

    # error mode on rerun
    result2 = dl.run()
    assert len(result2.failed) == 4

    # ignore mode skips
    dl_ignore = FileDownloader(
        conn, remote_tree, local, filters=[Glob("*.csv")],
        options=FileDownloaderOptions(if_exists="ignore"),
    )
    result3 = dl_ignore.run()
    assert len(result3.skipped) == 4


def test_downloader_with_hwm_incremental(conn, remote_tree, tmp_path):
    local = str(tmp_path / "local2")
    hwm = FileListHWM(name="dl_hwm")
    dl = FileDownloader(
        conn, remote_tree, local, filters=[Glob("*.csv")], hwm=hwm,
        options=FileDownloaderOptions(if_exists="overwrite", workers=4),
    )
    with MemoryHWMStore() as store:
        with IncrementalStrategy():
            r1 = dl.run()
        assert r1.successful_count == 4
        # new file appears
        with open(os.path.join(remote_tree, "new.csv"), "w") as f:
            f.write("fresh")
        with IncrementalStrategy():
            r2 = dl.run()
        assert names(r2.successful) == ["new.csv"]
        saved = store.get_hwm("dl_hwm")
        assert len(saved.value) == 5


def test_uploader(conn, remote_tree, tmp_path):
    target = str(tmp_path / "up-target")
    os.makedirs(target)
    up = FileUploader(conn, remote_tree, target, options=FileUploaderOptions(workers=2))
    result = up.run()
    assert result.successful_count == 5
    assert os.path.isfile(os.path.join(target, "sub", "c.csv"))

    result2 = FileUploader(
        conn, remote_tree, target, options=FileUploaderOptions(if_exists="ignore"),
    ).run()
    assert len(result2.skipped) == 5


def test_mover(conn, remote_tree, tmp_path):
    target = str(tmp_path / "moved")
    mover = FileMover(conn, remote_tree, target, filters=[Glob("*.txt")])
    result = mover.run()
    assert result.successful_count == 1
    assert os.path.isfile(os.path.join(target, "b.txt"))
    assert not os.path.exists(os.path.join(remote_tree, "b.txt"))


def test_mover_overwrite(conn, remote_tree, tmp_path):
    target = str(tmp_path / "moved2")
    os.makedirs(target)
    with open(os.path.join(target, "a.csv"), "w") as f:
        f.write("old")
    mover = FileMover(
        conn, remote_tree, target, filters=[Glob("a.csv")],
        options=FileMoverOptions(if_exists="overwrite"),
    )
    result = mover.run()
    assert result.successful_count == 1
    with open(os.path.join(target, "a.csv")) as f:
        assert f.read() == "1,2,3"


def test_walk_filters_match_reference_model_random(conn, tmp_path):
    """Randomized directory trees: walk + Glob/Regexp/ExcludeDir/size
    filter combinations must match a plain os.walk reference model."""
    import fnmatch
    import random
    import re

    rng = random.Random(57)
    for trial in range(3):
        root = tmp_path / f"tree{trial}"
        dirs = [root]
        for d in range(rng.randrange(2, 6)):
            parent = rng.choice(dirs)
            nd = parent / f"d{d}"
            nd.mkdir(parents=True, exist_ok=True)
            dirs.append(nd)
        exts = [".csv", ".txt", ".json"]
        for i in range(rng.randrange(5, 25)):
            f = rng.choice(dirs) / f"f{i}{rng.choice(exts)}"
            f.write_text("x" * rng.randrange(0, 50))

        # reference model over os.walk
        all_files = []
        for dirpath, _dirnames, filenames in os.walk(root):
            for fn in filenames:
                all_files.append(os.path.join(dirpath, fn))

        # Glob
        pat = rng.choice(["*.csv", "*.txt", "f1*"])
        got = sorted(str(f) for f in conn.walk(str(root), [Glob(pat)]))
        want = sorted(p for p in all_files if fnmatch.fnmatch(os.path.basename(p), pat))
        assert got == want, f"glob {pat}"

        # Regexp over the path relative to root
        rx = rng.choice([r"\.csv$", r"d1/.*", r"f[02468].*"])
        got = sorted(str(f) for f in conn.walk(str(root), [Regexp(rx)]))
        cre = re.compile(rx)
        want = sorted(p for p in all_files if cre.search(os.path.relpath(p, root)))
        assert got == want, f"regexp {rx}"

        # ExcludeDir on a random subdir
        excl = rng.choice(dirs)
        got = sorted(str(f) for f in conn.walk(str(root), [ExcludeDir(str(excl))]))
        want = sorted(
            p for p in all_files
            if not os.path.commonpath([p, str(excl)]) == str(excl)
        )
        assert got == want, f"exclude {excl}"

        # size range + combination with glob (AND semantics)
        got = sorted(
            str(f) for f in conn.walk(str(root), [Glob("*.csv"), FileSizeRange(min=10)])
        )
        want = sorted(
            p for p in all_files
            if fnmatch.fnmatch(os.path.basename(p), "*.csv") and os.path.getsize(p) >= 10
        )
        assert got == want, "glob+size"


class CountingStore(MemoryHWMStore):
    def __init__(self):
        super().__init__()
        self.gets = 0
        self.sets = 0

    def get_hwm(self, name):
        self.gets += 1
        return super().get_hwm(name)

    def set_hwm(self, hwm):
        self.sets += 1
        super().set_hwm(hwm)


def test_downloader_reads_the_hwm_once_per_run(conn, remote_tree, tmp_path):
    dl = FileDownloader(
        conn, remote_tree, str(tmp_path / "local"), filters=[Glob("*.csv")], hwm=FileListHWM(name="once"),
        options=FileDownloaderOptions(if_exists="overwrite"),
    )
    with CountingStore() as store:
        for expected in (4, 0):
            store.gets = store.sets = 0
            with IncrementalStrategy():
                assert dl.run().successful_count == expected
            assert (store.gets, store.sets) == (1, 1)
        # alone, the dry run still reads the saved HWM
        store.gets = 0
        with IncrementalStrategy():
            assert dl.view_files() == []
        assert store.gets == 1


class Interrupted(BaseException):
    """Not an Exception, like KeyboardInterrupt."""


class InterruptedConnection(LocalFileConnection):
    def __init__(self, copies_before_interrupt):
        self.budget = copies_before_interrupt
        self.copied = []

    def _download_file(self, remote, local):
        if len(self.copied) >= self.budget:
            raise Interrupted()
        super()._download_file(remote, local)
        self.copied.append(remote)


def test_downloader_interrupt_saves_exactly_the_copied_files(remote_tree, tmp_path):
    conn = InterruptedConnection(copies_before_interrupt=2)
    dl = FileDownloader(conn, remote_tree, str(tmp_path / "local"), hwm=FileListHWM(name="interrupted"))
    with MemoryHWMStore() as store:
        with pytest.raises(Interrupted):
            with IncrementalStrategy():
                dl.run()
        assert len(conn.copied) == 2
        assert store.get_hwm("interrupted").value == frozenset(conn.copied)

        # the next run copies only what the interrupted one did not
        conn.budget = 10
        with IncrementalStrategy():
            rest = dl.run()
        assert rest.successful_count == 3
        assert len(store.get_hwm("interrupted").value) == 5


def test_downloader_refuses_a_stored_hwm_of_another_type(conn, remote_tree, tmp_path):
    from onetl_spark.exceptions import StrategyError
    from onetl_spark.hwm.types import ColumnIntHWM

    dl = FileDownloader(conn, remote_tree, str(tmp_path / "local"), hwm=FileListHWM(name="shared_name"))
    with MemoryHWMStore() as store:
        store.set_hwm(ColumnIntHWM(name="shared_name", value=7, expression="id"))
        with IncrementalStrategy():
            with pytest.raises(StrategyError, match="ColumnIntHWM"):
                dl.run()
            with pytest.raises(StrategyError, match="ColumnIntHWM"):
                dl.view_files()
        assert store.get_hwm("shared_name").value == 7
