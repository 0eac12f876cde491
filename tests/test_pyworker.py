"""The worker zip-directory shim (``pyworker.py``): unchanged archives are not
re-read, a rewritten archive is re-read and seen by every importer of it, the
executor daemon installs it, and Python 3.13+ is left alone."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from tsdb_parquet_spark import pyworker

_ZIP_MODULES = ("zroot", "zpkg", "zpkg.a", "b", "zpkg.b")


def _write_zip(path, with_b: bool) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zroot.py", "X = 1\n")
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/a.py", "A = 1\n")
        if with_b:
            z.writestr("b.py", "B = 'root'\n")
            z.writestr("zpkg/b.py", "B = 'pkg'\n")


@pytest.fixture()
def unpatched(monkeypatch):
    """The stock ``zipimporter.invalidate_caches`` for the test's duration."""
    current = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        getattr(current, "__wrapped__", current))
    monkeypatch.setattr(pyworker, "_read_at", {})


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13+ re-reads zips lazily")
def test_unchanged_zip_not_reread_and_rewrite_seen_by_every_importer(
        tmp_path, monkeypatch, unpatched):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, with_b=False)
    monkeypatch.setattr(sys, "path", [archive, *sys.path])
    try:
        importlib.import_module("zroot")
        importlib.import_module("zpkg.a")
        importers = [f for k, f in sys.path_importer_cache.items()
                     if isinstance(f, zipimport.zipimporter) and k.startswith(archive)]
        assert len(importers) == 2  # the root and the zpkg/ prefix

        pyworker.install()
        pyworker.install()  # idempotent
        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda a: reads.append(a) or read_directory(a))
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, with_b=True)
        importlib.invalidate_caches()
        assert reads == [archive]  # one importer re-reads, its sibling shares it
        assert importlib.import_module("b").B == "root"
        assert importlib.import_module("zpkg.b").B == "pkg"
    finally:
        for name in _ZIP_MODULES:
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


def test_install_is_a_no_op_from_python_3_13(monkeypatch, unpatched):
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is before
    assert pyworker._read_at == {}


def test_executor_workers_run_the_shim(spark):
    def report(batches):  # a local closure: pickled by value, never imports the engine
        import zipimport as zi

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist(
            [{"module": zi.zipimporter.invalidate_caches.__module__}])

    rows = spark.range(1, numPartitions=1).mapInArrow(report, "module string").collect()
    expected = "zipimport" if sys.version_info >= (3, 13) else pyworker.__name__
    assert [r.module for r in rows] == [expected]
