"""``pysparkenc.zipcache``: ``importlib.invalidate_caches()`` skips the
directory re-read of an unchanged zip archive, still re-reads a changed
one, wraps the stdlib method only once, and is in place at the start of
a reused Spark Python worker's next task."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import pysparkenc.zipcache as zc


def _write_zip(path, files):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture
def zip_path(tmp_path, monkeypatch):
    """A zip archive on ``sys.path``; the modules imported from it and
    its importers are dropped afterwards."""
    path = str(tmp_path / "lib.zip")
    monkeypatch.syspath_prepend(path)
    before = set(sys.modules)
    yield path
    for name in set(sys.modules) - before:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]


@pytest.fixture
def reads(monkeypatch):
    """The archives ``zipimport._read_directory`` is called on."""
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_archive_is_not_reread(zip_path, reads):
    _write_zip(zip_path, {"zc_pkg/__init__.py": "",
                          "zc_pkg/sub.py": "X = 1\n"})
    importlib.invalidate_caches()
    import zc_pkg.sub

    assert zc_pkg.sub.X == 1
    # one importer for the archive root, one for the package directory
    assert sum(k.startswith(zip_path) for k in sys.path_importer_cache) == 2
    reads.clear()
    importlib.invalidate_caches()
    # the first invalidation reads the archive once for both importers
    assert reads.count(zip_path) == 1
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(zip_path) == 0
    importlib.reload(zc_pkg.sub)
    assert zc_pkg.sub.X == 1


@pytest.mark.parametrize("replace", [True, False],
                         ids=["new-inode", "in-place"])
def test_rewritten_archive_is_reread(zip_path, reads, replace):
    _write_zip(zip_path, {"zc_old.py": "V = 'old'\n"})
    importlib.invalidate_caches()
    import zc_old

    assert zc_old.V == "old"
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        import zc_new  # noqa: F401
    files = {"zc_old.py": "V = 'old'\n", "zc_new.py": "V = 'new'\n"}
    if replace:
        _write_zip(zip_path, files)
    else:
        with zipfile.ZipFile(zip_path, "w") as z:
            for name, src in files.items():
                z.writestr(name, src)
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(zip_path) == 1
    import zc_new

    assert zc_new.V == "new"


def test_missing_archive_behaves_as_before(zip_path):
    _write_zip(zip_path, {"zc_gone.py": "G = 1\n"})
    importlib.invalidate_caches()
    import zc_gone  # noqa: F401

    importer = sys.path_importer_cache[zip_path]
    importlib.invalidate_caches()
    os.remove(zip_path)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert zip_path not in zipimport._zip_directory_cache


def test_wraps_invalidate_caches_once():
    wrapper = zipimport.zipimporter.invalidate_caches
    assert wrapper.__module__ == zc.__name__
    zc.install()
    assert zipimport.zipimporter.invalidate_caches is wrapper
    importlib.reload(zc)
    importlib.reload(importlib.import_module("pysparkenc"))
    assert zipimport.zipimporter.invalidate_caches is wrapper
    # the one wrapper calls the stdlib method itself, not another wrapper
    (original,) = (c.cell_contents for c in wrapper.__closure__
                   if callable(c.cell_contents))
    assert original.__module__ == "zipimport"


def test_reused_spark_worker_starts_its_task_wrapped(spark):
    """A Python worker that has imported ``pysparkenc`` once runs its
    next task's ``setup_spark_files`` through the wrapper. The probe
    reads the method before it imports the library itself, so a worker
    seen again must report the wrapper."""
    import pyarrow as pa

    def probe(batches):
        import os
        import zipimport

        before = zipimport.zipimporter.invalidate_caches.__module__
        import pysparkenc  # noqa: F401

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "before": [before]})

    seen = {}
    repeats = []
    for _ in range(32):
        (row,) = (spark.range(1, numPartitions=1)
                  .mapInArrow(probe, "pid long, before string").collect())
        if row["pid"] in seen:
            repeats.append(row["before"])
        seen[row["pid"]] = row["before"]
        if len(repeats) >= 2:
            break
    assert repeats, f"no Python worker was reused: {seen}"
    assert set(repeats) == {zc.__name__}, seen
