"""Lazy ``zipimport`` cache invalidation, backported from CPython 3.13.

Every Python task a Spark worker runs starts in pyspark's
``worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``.  Before 3.13 that makes every cached
``zipimporter`` re-read its archive's whole directory on the spot: in a
worker, ``pyspark.zip`` (1 328 entries) once per importer on it, plus the
spark-core jar and py4j — 210–240 ms per task before the first row, on
Python 3.11 and 3.12 alike.  3.13 made the invalidation lazy, and
``install`` gives older interpreters the same two pieces:

- ``zipimporter.invalidate_caches`` only drops the archive's entry from
  ``zipimport._zip_directory_cache``;
- ``zipimporter._files`` reads through that cache (3.13's ``_get_files``),
  so the directory is read again on its next use and a changed archive is
  still seen.

As on 3.13, a caller that reads ``_zip_directory_cache`` directly (such as
``pkgutil.iter_modules`` over a zip) misses between an invalidation and the
next import from that archive.

The package installs it once per process on import, so a worker has it
from the first task that unpickles one of the package's functions.
"""

from __future__ import annotations

import sys
import zipimport


def _get_files(self: zipimport.zipimporter) -> dict:
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _set_files(self: zipimport.zipimporter, files: dict) -> None:
    # Only ``__init__`` assigns ``_files``, before ``archive`` and right
    # after putting the same directory in the cache, which ``_get_files``
    # reads: nothing to keep.
    pass


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """Drop the archive's cached directory; its next use reads it again."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def install() -> None:
    """Make ``zipimporter`` invalidation lazy (a no-op from 3.13 on)."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter._files = property(_get_files, _set_files)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
