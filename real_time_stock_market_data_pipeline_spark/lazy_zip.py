"""Lazy ``zipimport`` cache invalidation, backported from CPython 3.13.

Every Python task a Spark worker runs starts in pyspark's
``worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``.  Before 3.13 that makes every cached
``zipimporter`` re-read its archive's whole directory on the spot: in a
worker, ``pyspark.zip`` (1 328 entries) once per importer on it, plus the
spark-core jar and py4j — 210–240 ms per task before the first row, on
Python 3.11 and 3.12 alike.  3.13 made the invalidation lazy, and
``install`` gives older interpreters the same, in three pieces:

- ``zipimport._zip_directory_cache`` becomes a dict whose missing entries
  read the archive's directory on first lookup;
- ``zipimporter.invalidate_caches`` only drops the archive's entry from it;
- ``zipimporter._files`` is a lookup in it (3.13's ``_get_files``),

so the directory is read again on its next use and a changed archive is
still seen — also by a caller that reads the cache directly, such as
``pkgutil.iter_modules`` over a zip, which finds the entry gone after an
invalidation and, on stock 3.13, raises ``KeyError``.

The package installs it once per process on import, so a worker has it
from the first task that unpickles one of the package's functions.
"""

from __future__ import annotations

import sys
import zipimport


class _DirectoryCache(dict):
    """``archive path -> directory``; a missing archive is read on lookup."""

    def __missing__(self, archive: str) -> dict:
        try:
            files = zipimport._read_directory(archive)
        except zipimport.ZipImportError:
            raise KeyError(archive) from None
        self[archive] = files
        return files


def _get_files(self: zipimport.zipimporter) -> dict:
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        return {}


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
    if not isinstance(zipimport._zip_directory_cache, _DirectoryCache):
        zipimport._zip_directory_cache = _DirectoryCache(zipimport._zip_directory_cache)
    zipimport.zipimporter._files = property(_get_files, _set_files)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
