"""The worker daemon's zipimporter patch: archives are re-read only when
they change, and every importer of one archive shares that read."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from htg_spark import pyworker

EAGER = not hasattr(zipimport.zipimporter, "_get_files")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pkg/__init__.py", "")
        for name, src in modules.items():
            z.writestr(f"pkg/{name}.py", src)


@pytest.fixture
def reads(monkeypatch):
    """Install the patch with empty stamps and count _read_directory calls;
    zipimport is restored afterwards."""
    if not EAGER:
        pytest.skip("zipimport already re-reads lazily")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(pyworker, "_stamps", {})
    assert pyworker.install()
    calls = []
    orig = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return orig(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield calls


@pytest.fixture
def archive(tmp_path):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"a": "X = 1\n"})
    yield path
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_read_once_for_all_importers(reads, archive):
    importers = [zipimport.zipimporter(archive) for _ in range(8)]
    importers += [zipimport.zipimporter(os.path.join(archive, "pkg")) for _ in range(8)]
    reads.clear()
    for imp in importers:
        imp.invalidate_caches()
    assert len(reads) == 1
    reads.clear()
    for imp in importers:
        imp.invalidate_caches()
    assert reads == []
    assert all(imp._files is zipimport._zip_directory_cache[archive] for imp in importers)


def test_rewritten_archive_is_reread_and_imports(reads, archive, monkeypatch):
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("pkg.a").X == 1
        importlib.invalidate_caches()
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"a": "X = 1\n", "b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("pkg.b").Y == 2
    finally:
        for name in ("pkg", "pkg.a", "pkg.b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_deleted_archive_yields_no_files(reads, archive):
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()
    os.remove(archive)
    imp.invalidate_caches()
    assert imp._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_lazy_zipimport_is_left_alone(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "_get_files", lambda self: {}, raising=False)
    orig = zipimport.zipimporter.invalidate_caches
    assert not pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is orig


@pytest.mark.skipif(not EAGER, reason="zipimport already re-reads lazily")
def test_worker_tasks_do_not_reread_pyspark_zip(spark):
    """Inside a worker of a get_spark session, the per-task
    importlib.invalidate_caches() reads no archive directory (16 reads of
    pyspark.zip per task with the stock pyspark.daemon)."""
    assert spark.conf.get("spark.python.daemon.module") == "htg_spark.pyworker"

    def probe(batches):
        import importlib
        import zipimport

        calls = []
        orig = zipimport._read_directory
        zipimport._read_directory = lambda path: calls.append(path) or orig(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(calls)]})

    rows = spark.range(0, 100, numPartitions=4).mapInPandas(probe, "reads long").collect()
    assert [r.reads for r in rows] == [0, 0, 0, 0]
