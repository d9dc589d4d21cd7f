"""The per-task Python floor: a PySpark worker calls
``importlib.invalidate_caches()`` at the start of every task, and before
CPython 3.13 each ``zipimporter`` re-reads its whole archive directory
there. Importing the package inside a worker makes that re-read happen only
for an archive that changed (``session.tune_python_worker``)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from multithreaded_map_reduce_library_spark import session

needs_eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ zipimporters re-read lazily"
)


@needs_eager_zipimport
def test_worker_tasks_reread_no_zip(spark):
    def count_rereads(_part):
        import importlib
        import sys
        import zipimport

        import multithreaded_map_reduce_library_spark  # noqa: F401

        reads = []
        stock = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return stock(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        importers = [
            i for i in sys.path_importer_cache.values() if isinstance(i, zipimport.zipimporter)
        ]
        yield len(reads), len(importers)

    got = spark.sparkContext.parallelize(range(16), 16).mapPartitions(count_rereads).collect()
    assert len(got) == 16
    # the workers import from zips (pyspark.zip, py4j, the package), and
    # none of them is re-read
    assert all(n_importers > 0 for _, n_importers in got)
    assert [n_reads for n_reads, _ in got] == [0] * 16


def _write_module_zip(path, value: str) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr("stampmod/__init__.py", f"VALUE = {value!r}\n")
    # a new inode, as when a fetched file replaces an old one
    os.replace(tmp, path)


@needs_eager_zipimport
def test_zip_is_reread_only_when_it_changes(tmp_path, monkeypatch):
    # the driver keeps the stock import machinery
    session.tune_python_worker()
    assert zipimport.zipimporter.invalidate_caches is session._STOCK_ZIP_INVALIDATE

    archive = str(tmp_path / "mods.zip")
    _write_module_zip(archive, "one")
    monkeypatch.setattr(session, "_ZIP_STAMPS", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", session._invalidate_zip_if_changed)
    reads = []
    stock = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("stampmod").VALUE == "one"
        importlib.invalidate_caches()  # first call records the stamp
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        _write_module_zip(archive, "two, rewritten")
        importlib.invalidate_caches()
        assert reads == [archive]
        del sys.modules["stampmod"]
        assert importlib.import_module("stampmod").VALUE == "two, rewritten"
    finally:
        sys.path.remove(archive)
        sys.modules.pop("stampmod", None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
