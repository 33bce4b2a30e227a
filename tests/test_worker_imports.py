"""``session.guard_zip_rereads``: Python workers stop re-parsing
unchanged zip archives on every task.

A reused PySpark worker calls ``importlib.invalidate_caches()`` at the
start of each task; on CPython < 3.13 every cached zipimporter then
re-reads its archive's whole central directory.  The guard keeps the
directory of an archive whose file is unchanged, and re-reads a changed,
replaced or vanished one as before.
"""

import importlib
import sys
import zipfile
import zipimport

import pytest

from glue_parquet_splitter_spark.session import guard_zip_rereads

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 re-reads zip directories lazily; no guard")


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@pytest.fixture
def guarded(monkeypatch):
    """The guard installed for one test; the stdlib method comes back
    at teardown."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    guard_zip_rereads()


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in call
    order."""
    seen = []
    read = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_archive_is_read_once(tmp_path, guarded, reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"pkg/__init__.py": "", "pkg/a.py": "X = 1\n"})
    # the archive root and a subpackage: one importer each, one archive
    importers = [zipimport.zipimporter(archive),
                 zipimport.zipimporter(f"{archive}/pkg/")]
    reads.clear()
    for _ in range(3):
        for imp in importers:
            imp.invalidate_caches()
    assert reads == [archive]
    assert all("pkg/a.py" in imp._files for imp in importers)


def test_rewritten_archive_is_read_again(tmp_path, monkeypatch, guarded,
                                         reads):
    archive = str(tmp_path / "rw.zip")
    _write_zip(archive, {"rw_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    importlib.invalidate_caches()
    assert importlib.import_module("rw_a").X == 1
    importlib.invalidate_caches()
    reads.clear()

    _write_zip(archive, {"rw_a.py": "X = 1\n", "rw_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("rw_b").Y == 2
    for name in ("rw_a", "rw_b"):
        sys.modules.pop(name)


def test_deleted_archive_falls_back_to_the_original(tmp_path, guarded,
                                                    reads):
    archive = tmp_path / "gone.zip"
    _write_zip(str(archive), {"gone.py": ""})
    imp = zipimport.zipimporter(str(archive))
    imp.invalidate_caches()
    archive.unlink()
    reads.clear()
    imp.invalidate_caches()
    # the original method tried the read, failed and emptied the caches
    assert reads == [str(archive)]
    assert imp._files == {}
    assert str(archive) not in zipimport._zip_directory_cache


def test_install_is_idempotent(guarded):
    installed = zipimport.zipimporter.invalidate_caches
    assert installed.skips_unchanged_archives
    guard_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_guard_runs_in_workers_only(spark):
    """A task that imports the package (as every engine UDF's closure
    does when a worker unpickles it) runs with the guard installed; the
    driver keeps the stdlib method."""
    def report(batches):
        import zipimport

        import pyarrow as pa

        import glue_parquet_splitter_spark  # noqa: F401
        method = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pa.RecordBatch.from_pydict({
                "guarded": [getattr(method, "skips_unchanged_archives",
                                    False)]})

    for _ in range(2):
        rows = spark.range(1, numPartitions=1).mapInArrow(
            report, "guarded boolean").collect()
    assert [r.guarded for r in rows] == [True]
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    assert not hasattr(zipimport.zipimporter.invalidate_caches,
                       "skips_unchanged_archives")
