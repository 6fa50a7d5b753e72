"""Lazy zip-archive import cache invalidation (``lazy_zip``): a Spark Python
task's ``importlib.invalidate_caches()`` re-reads no archive, and a changed
archive is still seen on its next use."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport


def test_worker_invalidation_reads_no_archive(spark):
    """pyspark runs ``importlib.invalidate_caches()`` before every Python
    task; once a worker has imported the package, that call must read no
    zip directory (before 3.13 each cached importer re-read its whole
    archive, ``pyspark.zip`` among them)."""

    def probe(_):
        import importlib
        import sys
        import zipimport

        import real_time_stock_market_data_pipeline_spark  # noqa: F401

        importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda path: (
            reads.append(path), read_directory(path))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield importers, len(reads)

    importers, reads = spark.sparkContext.parallelize([0], 1).mapPartitions(
        probe).collect()[0]
    assert importers > 0, "the worker caches no zip importer: nothing to check"
    assert reads == 0


def test_changed_archive_is_seen_after_invalidation(tmp_path, monkeypatch):
    """The invalidation stays real: a module added to a zip already on
    ``sys.path`` imports after ``invalidate_caches()``."""
    import real_time_stock_market_data_pipeline_spark  # noqa: F401

    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("lazy_zip_probe_a.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("lazy_zip_probe_a").VALUE == 1
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("lazy_zip_probe_a.py", "VALUE = 1\n")
            z.writestr("lazy_zip_probe_b.py", "VALUE = 2\n")
        importlib.invalidate_caches()
        assert importlib.import_module("lazy_zip_probe_b").VALUE == 2
    finally:
        for name in ("lazy_zip_probe_a", "lazy_zip_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_iter_modules_lists_a_zip_after_invalidation(tmp_path, monkeypatch):
    """A caller that reads the zip directory cache directly —
    ``pkgutil.iter_modules`` over an archive on ``sys.path`` — finds the
    archive re-read after ``invalidate_caches()``, including a module added
    after the last import from it, instead of a ``KeyError``."""
    import pkgutil

    import real_time_stock_market_data_pipeline_spark  # noqa: F401

    archive = str(tmp_path / "listed.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("lazy_zip_listed_a.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("lazy_zip_listed_a").VALUE == 1
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("lazy_zip_listed_a.py", "VALUE = 1\n")
            z.writestr("lazy_zip_listed_b.py", "VALUE = 2\n")
        importlib.invalidate_caches()
        names = {m.name for m in pkgutil.iter_modules([archive])}
        assert names == {"lazy_zip_listed_a", "lazy_zip_listed_b"}
    finally:
        sys.modules.pop("lazy_zip_listed_a", None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
