"""Lazy zip-import invalidation (``verified_sources_spark/_worker_imports``).

Before CPython 3.13, ``importlib.invalidate_caches()`` makes every zip
importer re-parse its archive's central directory; PySpark's worker calls
it at the start of every task.  ``install()`` makes an importer re-read
only an archive that changed.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import verified_sources_spark
from verified_sources_spark import _worker_imports

LAZY_IN_STDLIB = sys.version_info >= (3, 13)


@pytest.fixture
def counted_reads(monkeypatch):
    """Count ``zipimport._read_directory`` calls; restore the importer
    method that ``install()`` replaces."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["vss_zip_mod_a"])
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("vss_zip_mod_a", "vss_zip_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.skipif(LAZY_IN_STDLIB, reason="zipimport is lazy from CPython 3.13")
def test_unchanged_archive_is_not_reread(zip_on_path, counted_reads):
    archive = zip_on_path
    assert importlib.import_module("vss_zip_mod_a").NAME == "vss_zip_mod_a"

    _worker_imports.install()
    assert _worker_imports.installed()
    counted_reads.clear()  # the importer's own first read
    importlib.invalidate_caches()
    assert counted_reads == []

    # a changed archive is re-read exactly as before, once
    _write_zip(archive, ["vss_zip_mod_a", "vss_zip_mod_b"])
    importlib.invalidate_caches()
    assert counted_reads == [archive]
    assert importlib.import_module("vss_zip_mod_b").NAME == "vss_zip_mod_b"

    counted_reads.clear()
    importlib.invalidate_caches()
    assert counted_reads == []


@pytest.mark.skipif(LAZY_IN_STDLIB, reason="zipimport is lazy from CPython 3.13")
def test_unreadable_archive_is_reread_and_dropped(zip_on_path, counted_reads, tmp_path):
    archive = zip_on_path
    importlib.import_module("vss_zip_mod_a")
    _worker_imports.install()
    _worker_imports.install()  # idempotent: one wrapper, not two
    wrapped = zipimport.zipimporter.invalidate_caches.__wrapped__
    assert not hasattr(wrapped, "__wrapped__")

    counted_reads.clear()
    (tmp_path / "mods.zip").unlink()
    importlib.invalidate_caches()
    assert counted_reads == [archive]
    assert archive not in zipimport._zip_directory_cache


def test_driver_is_not_patched():
    from pyspark import TaskContext

    assert TaskContext.get() is None
    importlib.reload(verified_sources_spark)
    assert not _worker_imports.installed()
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_worker_task_skips_reread(spark):
    def reads_per_invalidation(batches):
        # defined in the test so it pickles by value: the worker cannot
        # import this test module, but it imports the package, which
        # installs inside a task
        import importlib
        import sys
        import zipimport

        import verified_sources_spark  # noqa: F401

        read = zipimport._read_directory
        calls = []

        def counting(archive):
            calls.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(calls)], "zip_importers": [zips]})

    schema = "reads long, zip_importers long"
    df = spark.range(1, numPartitions=1).mapInPandas(reads_per_invalidation, schema)
    df.collect()  # warm-up task
    row = df.collect()[0]
    assert row["zip_importers"] > 0  # the worker imports pyspark from its zip
    if not LAZY_IN_STDLIB:
        assert row["reads"] == 0
