"""Session memo: the package's one cache for values it would otherwise
recompute or re-read with a Spark job.

Every entry is keyed by the Spark application id first, so a new session
never sees an old session's values.  Only driver-side values are cached
(codebooks, counts, schemas), never a DataFrame: ``bench.py`` unpersists
every cached RDD between samples, which would leave a cached frame
unreadable.  Threads share the dict; two threads that miss the same key
both compute the same deterministic value and the last write wins.

There are three kinds of entry.

- **Plain** (``memo``): the value is a pure function of its key, such as a
  quantizer fit over a table of an immutable ``sf_dir``.  The caller names
  everything the value depends on in the key.  A hit returns the stored
  value; a miss computes it exactly as without the memo.
- **Value** (``store_value``, ``prime``, ``forget``): the value is read from
  a store on disk, such as a persisted codebook.  The entry holds the
  store's file ``witness`` and hits only while the witness is unchanged, so
  any rewrite (an overwrite, a rebuild's staged swap) makes the next call
  read again.  ``prime`` installs the value a writer just wrote, so the
  first read after the write needs no collect; the writer must hold exactly
  what a read would return.
- **Schema** (``read_parquet_cached_schema``): the inferred schema of a
  parquet store, which saves the footer-reading Spark job that every
  ``spark.read.parquet`` construction runs.  The entry hits while its
  witness is a subset of the current one, so appends keep hitting and any
  rewrite re-infers.  Each appended file's footer is read on the driver
  (no Spark job) and its field names and types must equal the store's;
  nullability and metadata may differ, since Spark writes ``id: int64 not
  null`` and ``id: int64`` into one store.  A mismatch raises
  ``ValueError``: with the cached schema passed explicitly, Spark would
  read an evolved column as nulls instead of failing.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

_MEMO: dict[tuple, Any] = {}


def memo(spark: SparkSession, key: tuple, compute: Callable[[], Any]) -> Any:
    """The value stored under ``key`` in this application, computing and
    storing it on a miss."""
    k = (spark.sparkContext.applicationId, *key)
    if k in _MEMO:
        return _MEMO[k]
    val = _MEMO[k] = compute()
    return val


def witness(path: str) -> frozenset | None:
    """The ``(relpath, size, mtime_ns)`` set of the data files of a store:
    ``path`` itself when it is a file, else every file under the directory
    tree.  Names starting with ``_`` or ``.`` (``_SUCCESS``, ``.crc``,
    ``_temporary``) are skipped.  ``None`` when there is no data file or
    a file vanished while listing."""
    try:
        if os.path.isfile(path):
            files = [path]
        else:
            files = []
            for root, dirs, names in os.walk(path):
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                files += [
                    os.path.join(root, n)
                    for n in names
                    if not n.startswith(("_", "."))
                ]
        entries = []
        for f in files:
            st = os.stat(f)
            entries.append((os.path.relpath(f, path), st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    return frozenset(entries) or None


def _store_key(spark: SparkSession, kind: str, path: str) -> tuple:
    return (spark.sparkContext.applicationId, kind, os.path.abspath(path))


def store_value(spark: SparkSession, path: str, read: Callable[[], Any]) -> Any:
    """``read()``, memoized while the store at ``path`` keeps its witness.
    An absent store is read without the memo."""
    w = witness(path)
    if w is None:
        return read()
    k = _store_key(spark, "value", path)
    hit = _MEMO.get(k)
    if hit is not None and hit[0] == w:
        return hit[1]
    val = read()
    _MEMO[k] = (w, val)
    return val


def prime(spark: SparkSession, path: str, value: Any) -> None:
    """Install ``value`` as what the store just written at ``path`` reads
    back.  Call after the write, so the witness is the written one."""
    w = witness(path)
    if w is not None:
        _MEMO[_store_key(spark, "value", path)] = (w, value)


def forget(spark: SparkSession, path: str) -> None:
    """Drop the value entry of a path that no longer exists (a rebuild's
    renamed-away staging directory), keeping the memo bounded."""
    _MEMO.pop(_store_key(spark, "value", path), None)


def _shape(t) -> Any:
    """An arrow type with nullability and nested field metadata dropped."""
    import pyarrow as pa

    if pa.types.is_struct(t):
        return ("struct", tuple((f.name, _shape(f.type)) for f in t))
    if pa.types.is_map(t):
        return ("map", _shape(t.key_type), _shape(t.item_type))
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return ("list", _shape(t.value_type))
    return str(t)


def _footer_fields(path: str, rel: str) -> dict[str, Any]:
    import pyarrow.parquet as pq

    schema = pq.read_schema(os.path.normpath(os.path.join(path, rel)))
    return {f.name: _shape(f.type) for f in schema}


def _check_appended(path: str, old: frozenset, new: frozenset) -> None:
    """Raise unless every file in ``new`` has the field names and types of
    a file in ``old``."""
    ref = _footer_fields(path, min(old)[0])
    for rel, _size, _mtime in sorted(new):
        got = _footer_fields(path, rel)
        for name in dict.fromkeys([*ref, *got]):
            if ref.get(name) != got.get(name):
                raise ValueError(
                    f"parquet store {path}: appended file {rel} has field "
                    f"{name!r} as {got.get(name)}, the store has it as "
                    f"{ref.get(name)}; an evolved schema needs a rewrite"
                )


def read_parquet_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema-inference job skipped
    while a schema entry for ``path`` hits (see the module docstring).
    Paths without a local witness, such as URIs, always infer."""
    w = witness(path)
    if w is None:
        return spark.read.parquet(path)
    k = _store_key(spark, "schema", path)
    hit = _MEMO.get(k)
    if hit is not None and hit[0] <= w:
        old, schema = hit
        if w != old:
            _check_appended(path, old, w - old)
            _MEMO[k] = (w, schema)
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _MEMO[k] = (w, df.schema)
    return df
