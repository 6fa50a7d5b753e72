"""Maintenance jobs (reference R5 + T7).

R5 — ``daily_analytics_summary`` is a Postgres materialized view with a
manual refresh function (db/enhanced_schema.sql:297-325).  OSS Spark has no
auto matview; the idiomatic equivalent is a recompute-and-overwrite batch
job producing a partitioned parquet table (or an incrementally-maintained
streaming aggregation — the tumbling-window variant in T5).  Overwrite is
dynamic-partition so a refresh only rewrites touched days.

T7 — realtime→historical migration (db/current_schema.sql:165-200): the
latest tick per (company, day) upserted into the SCD-flagged historical
table.  Without a transactional table format, MERGE is emulated with the
standard anti-join + union overwrite; on Delta/Iceberg this becomes a real
MERGE INTO (noted in README).
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from contextlib import contextmanager

from .functions.scalars import dsum, r6
from .operators.relational import latest_per_group
from .sources.readers import _is_uri
from .sources.readers import read_parquet_cached_schema as _read_pq


@contextmanager
def _scoped_conf(spark: SparkSession, key: str, value: str):
    """Set a session conf for one write and restore the previous value
    after — mutating the shared session would silently change the
    semantics of every later partitioned overwrite in the same session."""
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def daily_summary(ticks: DataFrame) -> DataFrame:
    """A4 aggregation shaped like the reference matview: one shuffle with
    map-side partial aggregation."""
    return (
        ticks.groupBy(
            "company_id", F.to_date("trade_datetime").alias("trade_date")
        )
        .agg(
            r6(dsum(F.col("current_price")) / F.count("current_price")).alias("avg_price"),
            F.max("current_price").alias("max_price"),
            F.min("current_price").alias("min_price"),
            F.sum("volume").alias("total_volume"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )


def refresh_daily_summary(spark: SparkSession, ticks: DataFrame, path: str) -> None:
    """R5 refresh: recompute + dynamic-partition overwrite by trade_date."""
    with _scoped_conf(spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"):
        daily_summary(ticks).write.mode("overwrite").partitionBy("trade_date").parquet(path)


def refresh_daily_summary_incremental(
    spark: SparkSession, batch_ticks: DataFrame, tick_store_path: str, path: str
) -> None:
    """INCREMENTAL matview refresh: re-aggregate and rewrite ONLY the days
    a batch touched.  Call AFTER appending the batch to the
    date-partitioned tick store (sources/sinks.write_ticks_partitioned).

    The full refresh above re-reads the whole tick history per cycle —
    fine at test SF, a full-store scan per micro-batch at 100 TB.  Late
    data makes day aggregates non-mergeable from the matview row alone
    (avg/min/max need the day's full tick set unless partials are
    stored), so the increment re-reads the AFFECTED DAY PARTITIONS from
    the store — a partition-pruned scan bounded by the batch's day span
    (typically one or two directories), never the history — and the
    dynamic-partition overwrite rewrites only those matview directories.
    The touched-day collect is bounded by the batch.  Equality with the
    full refresh is pinned by test for in-order AND late arrivals."""
    days = [
        r[0]
        for r in batch_ticks.select(
            F.to_date("trade_datetime").alias("d")
        ).distinct().collect()
    ]
    store = _read_pq(spark, tick_store_path)
    affected = store.filter(F.col("trade_date").isin(days))
    with _scoped_conf(spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"):
        (
            daily_summary(affected)
            .write.mode("overwrite")
            .partitionBy("trade_date")
            .parquet(path)
        )


def migrate_realtime_to_historical(
    ticks: DataFrame, historical: DataFrame | None
) -> DataFrame:
    """T7: latest tick per (company_id, day) → historical rows; existing
    (company, day) keys win (the reference inserts only when absent,
    producer.py:368-380).  Returns the merged historical table."""
    latest = latest_per_group(
        ticks.withColumn("trade_date", F.to_date("trade_datetime")),
        ["company_id", "trade_date"],
        "trade_datetime",
        "tick_id",
    ).select(
        "company_id",
        "trade_date",
        F.col("current_price").alias("close_price"),
        "volume",
        F.lit(True).alias("is_current"),
    )
    if historical is None:
        return latest
    new_rows = latest.join(
        historical.select("company_id", "trade_date"), ["company_id", "trade_date"], "left_anti"
    )
    return historical.unionByName(new_rows)


def merge_upsert(
    existing: DataFrame | None,
    updates: DataFrame,
    keys: Sequence[str],
    order_col: str | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """S9/S10 — the generic key-based merge: the relational core of the
    reference's ``ON CONFLICT (keys) DO UPDATE SET col = EXCLUDED.col``
    (shared/database.py:316-345 for analytics,
    ml/batch_predict_linear_regression.py:65-74 for predictions).

    Semantics: one row per key; a key present in ``updates`` takes the
    update's full payload (DO UPDATE), a key only in ``existing`` keeps its
    row, a new key inserts.  When ``order_col`` is given, duplicate keys
    WITHIN the update batch resolve to the latest row first (the reference
    applies them serially, so last-write-wins); otherwise ``updates`` must
    already be unique per key.

    Plan shape: ``latest_per_group`` (WindowGroupLimit, one shuffle of the
    batch) + a left-anti join of existing against the update keys + union —
    the standard MERGE emulation on an immutable store.  At 100 TB the
    anti-join shuffles only the touched partitions when the caller prunes
    ``existing`` first (``upsert_parquet`` does); on Delta/Iceberg this
    helper is replaced by a real MERGE INTO with file-level skipping.
    """
    updates = updates.select(*existing.columns) if existing is not None else updates
    if order_col is not None:
        updates = latest_per_group(updates, list(keys), order_col, tiebreak)
    if existing is None:
        return updates
    kept = existing.join(updates.select(*keys).distinct(), list(keys), "left_anti")
    return kept.unionByName(updates)


def _require_local_path(path: str, op: str) -> None:
    """The swap protocol uses ``os.rename``/``os.listdir``, which only see
    the DRIVER-LOCAL filesystem.  A scheme-prefixed URI (hdfs://, s3a://,
    even file://) that ``spark.read.parquet`` would happily accept must be
    rejected up front — otherwise the renames would silently operate on a
    similarly-named local directory while Spark wrote elsewhere.  A
    Windows drive path (``C:\\tables\\t``) is local, as for the readers."""
    if _is_uri(path):
        raise ValueError(
            f"{op} swaps directories with os.rename and supports only plain "
            f"driver-local filesystem paths; got scheme-prefixed {path!r}. "
            "For HDFS/object stores use a transactional table format "
            "(Delta/Iceberg MERGE INTO) instead of the rename protocol."
        )


def _sibling_dirs(path: str, tag: str) -> list[str]:
    """Existing ``<path>__<tag>_<uuid>`` directories next to the store."""
    parent = os.path.dirname(os.path.abspath(path)) or "."
    prefix = f"{os.path.basename(path)}__{tag}_"
    if not os.path.isdir(parent):
        return []
    return sorted(
        os.path.join(parent, e)
        for e in os.listdir(parent)
        if e.startswith(prefix) and os.path.isdir(os.path.join(parent, e))
    )


def _require_no_orphans(path: str) -> None:
    """Refuse to start a swap while orphaned staging/old siblings exist —
    the single-writer precondition every swap operation shares."""
    leftovers = _sibling_dirs(path, "staging") + _sibling_dirs(path, "old")
    if leftovers:
        raise RuntimeError(
            f"orphaned staging/old directories from an interrupted "
            f"upsert/compaction: {leftovers}; run recover_upsert({path!r}) first"
        )


def _partition_entries(d: str) -> list[str]:
    return sorted(
        e for e in os.listdir(d)
        if "=" in e and os.path.isdir(os.path.join(d, e))
    )


_COMMIT_MARKER = "_UPSERT_COMMIT"


def _mark_staging_complete(staging: str) -> None:
    """Our OWN durability marker, written strictly after the staging write
    returns.  Spark's ``_SUCCESS`` cannot serve here: whether the committer
    emits it depends on session conf (e.g. dynamic partitionOverwriteMode
    suppresses it), and recovery must never mistake a durable staging for
    an incomplete one — or vice versa."""
    open(os.path.join(staging, _COMMIT_MARKER), "w").close()


def staging_dir(path: str) -> str:
    """A fresh ``<path>__staging_<uuid>`` sibling to write a swap into."""
    return f"{path}__staging_{uuid.uuid4().hex}"


def swap_in(
    path: str, staging: str, entries: Sequence[str] | None = None
) -> None:
    """Install a fully written ``staging`` at ``path``: the ONE crash-safe
    store swap.  The commit marker lands first (looked up at call time,
    so tests can kill the swap right after it), then ``_move_in`` does
    the renames.  Every crash window is repaired by ``recover_upsert``."""
    _mark_staging_complete(staging)
    _move_in(path, staging, entries)


def _move_in(
    path: str, staging: str, entries: Sequence[str] | None = None
) -> None:
    """The renames of a marked swap, shared with ``recover_upsert``'s
    roll-forward.  ``entries=None`` swaps the whole store: displace it
    (if present) to an ``__old_`` sibling, install the staging, delete
    the old tree.  Otherwise swaps only the named ``col=value`` entries:
    each displaced entry goes to one ``__old_`` trash, the staged entry
    (if the staging has it) is installed, and the trash and staging are
    deleted only after the whole loop succeeds.  The drained staging is
    unmarked first: a crash during cleanup then leaves an unmarked
    staging that recovery deletes, never a marked one with nothing left
    to install (which ``recover_upsert`` refuses to roll forward)."""
    old = f"{path}__old_{uuid.uuid4().hex}"
    if entries is None:
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(staging, path)
        if os.path.exists(old):
            shutil.rmtree(old)
        return
    os.makedirs(old)
    for entry in entries:
        dst = os.path.join(path, entry)
        staged = os.path.join(staging, entry)
        if os.path.exists(dst):
            os.rename(dst, os.path.join(old, entry))
        if os.path.exists(staged):
            os.rename(staged, dst)
    os.remove(os.path.join(staging, _COMMIT_MARKER))
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)


def upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: Sequence[str],
    order_col: str | None = None,
    tiebreak: str | None = None,
    partition_col: str | None = None,
) -> None:
    """Apply ``merge_upsert`` against a parquet store in place (S9/S10 sink).

    Parquet is immutable, so the merge rewrites to a staging directory and
    swaps it in — read-then-overwrite of the same path would delete the
    files the lazy plan still needs.  The swap is two directory renames
    (displace old, install new) under a SINGLE-WRITER assumption: a crash
    between them leaves the previous data recoverable at
    ``<path>__old_<uuid>`` but the store momentarily absent — the best
    plain parquet offers.  Every crash window is mechanically repairable:
    ``recover_upsert(path)`` rolls an interrupted swap forward (staging
    complete) or back (staging incomplete), and this function refuses to
    start while orphaned staging/old directories exist so ambiguity never
    compounds.  The store path must be DRIVER-LOCAL (the rename protocol
    cannot reach HDFS/S3 — scheme-prefixed paths are rejected); a
    transactional table format (Delta/Iceberg) upgrades all of this to a
    real commit protocol and is the production answer for concurrent
    writers or remote filesystems.

    ``partition_col`` is the 100 TB lever: with a partitioned store
    (``partition_col`` must be one of ``keys`` — e.g. the trade date), the
    merge (a) collects the batch's DISTINCT partition values (bounded by
    the batch, a codebook-sized driver action), (b) reads ONLY those
    partitions of the store — partition pruning on the scan — and
    (c) swaps only the touched ``partition_col=value`` directories.  A
    micro-batch touching one day of a 10-year store reads and rewrites one
    day.  Without it the whole store is merged and swapped.
    """
    if partition_col is not None and partition_col not in keys:
        # a key row must stay in one partition, or the anti-join can miss it
        raise ValueError(f"partition_col {partition_col!r} must be one of keys={list(keys)}")
    _require_local_path(path, "upsert_parquet")
    _require_no_orphans(path)
    from .sources.readers import read_parquet_if_exists

    store: DataFrame | None = read_parquet_if_exists(spark, path)

    if partition_col is None or store is None:
        merged = merge_upsert(store, updates, keys, order_col, tiebreak)
        staging = staging_dir(path)
        writer = merged.write.mode("overwrite")
        if partition_col is not None:
            writer = writer.partitionBy(partition_col)
        writer.parquet(staging)
        swap_in(path, staging)
        return

    # The store's partition dtype is RE-INFERRED from directory names at
    # read time, so it can drift from the updates batch.  Integral widths
    # always narrow on inference (a bigint-partitioned store reads back as
    # int): realign by casting the store column to the updates' DECLARED
    # type — lossless, and it keeps isin() pruning and the merge union
    # consistent.  Any cross-family drift (date vs string vs numeric) is
    # genuinely ambiguous and must fail loud instead of mis-pruning.
    from pyspark.sql import types as T

    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    store_t = store.schema[partition_col].dataType
    updates_t = updates.schema[partition_col].dataType
    if store_t != updates_t:
        if isinstance(store_t, integral) and isinstance(updates_t, integral):
            store = store.withColumn(
                partition_col, F.col(partition_col).cast(updates_t)
            )
        else:
            raise TypeError(
                f"partition column {partition_col!r} dtype drift: store "
                f"inferred {store_t.simpleString()} from its directory names "
                f"but updates carry {updates_t.simpleString()}; cast the "
                "updates so pruning and the merge union agree"
            )
    touched = [r[0] for r in updates.select(partition_col).distinct().collect()]
    if any(t is None for t in touched):
        # NULL never equality-matches, so a NULL partition value cannot be
        # pruned-merged correctly (and a NULL merge key is senseless anyway)
        raise ValueError(f"updates contain NULL {partition_col!r} values")
    if not any(e.startswith(f"{partition_col}=") for e in os.listdir(path)):
        # store was written flat — renaming partition dirs in next to flat
        # part files would corrupt it; full swap converts the layout instead
        merged = merge_upsert(store, updates, keys, order_col, tiebreak)
        staging = staging_dir(path)
        merged.write.mode("overwrite").partitionBy(partition_col).parquet(staging)
        swap_in(path, staging)
        return
    existing = store.filter(F.col(partition_col).isin(touched))
    merged = merge_upsert(existing, updates, keys, order_col, tiebreak)
    staging = staging_dir(path)
    merged.write.mode("overwrite").partitionBy(partition_col).parquet(staging)
    # swap in each staged partition_col=value directory, replacing only
    # the touched ones (naming comes from the writer itself, so value
    # formatting/escaping always agrees with the store layout)
    swap_in(path, staging, [
        e for e in os.listdir(staging) if e.startswith(f"{partition_col}=")
    ])


def _data_files(d: str) -> list[str]:
    return [
        f
        for f in os.listdir(d)
        if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(d, f))
    ]


def _flat_swap(path: str, merged: DataFrame) -> None:
    """Rewrite a flat store from ``merged``: write it to a
    ``staging_dir`` sibling and install it with ``swap_in``.  The swap
    itself has ONE implementation, ``swap_in``/``_move_in`` above, which
    every store swap in the package goes through — each must stay
    byte-compatible with ``recover_upsert``'s repair rule, and a protocol
    fix applied to one copy but not another would silently re-open a
    crash window."""
    staging = staging_dir(path)
    merged.write.mode("overwrite").parquet(staging)
    swap_in(path, staging)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 << 20,
) -> dict[str, tuple[int, int]]:
    """Bin-pack a store's small parquet files (the OPTIMIZE analogue).

    Streaming/micro-batch appends accrete files: a store written by a
    one-minute ``foreachBatch`` sink grows ~1440 files per partition per
    day, and at 100 TB the scan's task count — and the namenode/listing
    pressure — is driven by file COUNT, not bytes.  Compaction rewrites
    each offending partition into ``ceil(bytes / target_file_bytes)``
    files (128 MB default: one row-group-sized scan task per file).

    Protocol: per-partition rewrites go to one ``__staging_`` sibling,
    the ``_UPSERT_COMMIT`` marker is written after ALL rewrites are
    durable, then touched ``col=value`` dirs are swapped in — byte-for-
    byte the ``upsert_parquet`` pruned-swap layout, so EVERY crash window
    is repaired by the same ``recover_upsert(path)`` rule (complete
    staging rolls forward, incomplete rolls back); like the upsert it is
    single-writer and driver-local-path only.  Untouched partitions are
    never read, never rewritten.  Flat (unpartitioned) stores compact as
    one full swap.  Returns ``{partition_entry: (files_before,
    files_after)}`` for the rewritten partitions (empty dict = store
    already compact).  Idempotent: a second run returns {}.

    Scaling note: rewrites run one Spark job per offending partition
    (coalesce targets differ per partition), so a backlog of thousands of
    fragmented partitions pays job-scheduling overhead per partition —
    run compaction on a cadence that keeps the touched set small (e.g.
    yesterday's partitions), which is also what bounds the staging
    footprint.  A single-job variant (one pruned read + dynamic
    overwrite + ``spark.sql.files.maxRecordsPerFile``) trades exact
    file-count control for that overhead when backlogs are the norm.
    """
    _require_local_path(path, "compact_parquet")
    _require_no_orphans(path)

    def _need(d: str, files: list[str]) -> int:
        total = sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return max(1, -(-total // target_file_bytes))

    entries = _partition_entries(path)
    if not entries:
        files = _data_files(path)
        need = _need(path, files)
        if len(files) <= need:
            return {}
        _flat_swap(path, _read_pq(spark, path).coalesce(need))
        return {".": (len(files), len(_data_files(path)))}

    plan: list[tuple[str, int, int]] = []
    for e in entries:
        d = os.path.join(path, e)
        files = _data_files(d)
        need = _need(d, files)
        if len(files) > need:
            plan.append((e, need, len(files)))
    if not plan:
        return {}
    staging = staging_dir(path)
    summary: dict[str, tuple[int, int]] = {}
    for e, need, n_before in plan:
        # partition-dir files carry no partition column, and are written
        # back the same way — the dir name IS the column value
        part = _read_pq(spark, os.path.join(path, e)).coalesce(need)
        part.write.mode("overwrite").parquet(os.path.join(staging, e))
        summary[e] = (n_before, len(_data_files(os.path.join(staging, e))))
    swap_in(path, staging, [e for e, _, _ in plan])
    return summary


def compact_doc_keyed_table(
    spark: SparkSession,
    path: str,
    id_col: str = "doc_id",
    target_file_bytes: int = 128 << 20,
) -> dict[str, tuple[int, int]]:
    """Compact an insert-only doc-keyed derivation table (the
    ``_update_doc_keyed_table`` family: MinHash bands dd9, test shingles
    dd11, decontamination bands dd12, BPE segmentations txt9, PQ codes
    emb12) — the anti-join+append contract appends one file set per
    batch FOREVER, the classic small-files killer: after N batches every
    table read (including each batch's own anti-join) lists and opens N
    file sets, so steady-state ingest cost silently becomes O(batches)
    even though the anti-join's row work stays O(new docs).

    Rewrite = one RANGE-CLUSTERED pass: ``repartitionByRange`` on the id
    key + sort within, so each output file covers a disjoint key range
    and the per-batch anti-join's id probes prune by parquet zone maps
    (the ``write_range_sorted`` layout applied to maintenance).  Swap =
    the same staging/``_UPSERT_COMMIT``/rename protocol as
    ``compact_parquet``'s flat path, so every crash window is repaired
    by ``recover_upsert(path)``; single-writer, driver-local paths —
    run it BETWEEN batches, never concurrently with an update.

    Row content is untouched, so the family invariants survive
    compaction verbatim: replay still appends zero rows (the anti-join
    reads the same ids) and gates driven from the table are unchanged —
    pinned by tests/test_maintenance.py.  Returns ``{".": (files_before,
    files_after)}`` or ``{}`` when already compact.  Idempotent.
    """
    _require_local_path(path, "compact_doc_keyed_table")
    _require_no_orphans(path)
    files = _data_files(path)
    total = sum(os.path.getsize(os.path.join(path, f)) for f in files)
    need = max(1, -(-total // target_file_bytes))
    if len(files) <= need:
        return {}
    _flat_swap(
        path,
        _read_pq(spark, path)
        .repartitionByRange(need, F.col(id_col))
        .sortWithinPartitions(id_col),
    )
    return {".": (len(files), len(_data_files(path)))}


AUTO_COMPACT_FILES = 64


def maybe_compact_table(
    spark: SparkSession,
    path: str,
    id_col: str | None = None,
    max_files: int | None = None,
    target_file_bytes: int = 128 << 20,
) -> dict[str, tuple[int, int]]:
    """File-count compaction trigger — the piece that makes compaction
    part of the INGEST story instead of an operator a maintainer must
    remember: the anti-join+append sinks call this BETWEEN batches
    (foreachBatch serializes batches per query, so the single-writer rule
    is preserved), and the table's file count stays bounded by
    max(max_files, byte-need) however many micro-batches have run —
    without a trigger the O(batches) listing/open term the compactor
    exists to kill silently returns as soon as nobody remembers to run
    it.

    Cheap until triggered: one listdir per batch while under the bound.
    Flat doc-keyed tables rewrite RANGE-CLUSTERED on ``id_col``
    (``compact_doc_keyed_table`` — zone-map-prunable anti-join probes);
    partitioned or id-less stores bin-pack per partition
    (``compact_parquet``).  Missing and non-local paths are no-ops (the
    swap protocol is driver-local by design — remote object stores get
    their own OPTIMIZE cadence).  An interrupted previous rewrite is
    repaired first via ``recover_upsert`` — the same one rule every swap
    consumer uses — so a crash inside auto-compaction never wedges the
    sink.  ``max_files=None`` reads ``AUTO_COMPACT_FILES`` at call time."""
    heal_if_interrupted(path)
    if not os.path.isdir(path):
        return {}
    entries = _partition_entries(path)
    if entries:
        n = sum(len(_data_files(os.path.join(path, e))) for e in entries)
    else:
        n = len(_data_files(path))
    if n <= (AUTO_COMPACT_FILES if max_files is None else max_files):
        return {}
    if id_col is not None and not entries:
        return compact_doc_keyed_table(spark, path, id_col, target_file_bytes)
    return compact_parquet(spark, path, target_file_bytes)


def expire_partitions(path: str, partition_col: str, before: str) -> list[str]:
    """Retention: drop every ``partition_col=value`` directory with
    ``value < before`` — a METADATA-ONLY operation on a partitioned store
    (no scan, no rewrite), which is the point of date-partitioning a
    100 TB tick store in the first place (sources/sinks module note).

    ``before`` compares as a STRING against the directory-encoded value —
    exact for ISO dates (the store's layout) and zero-padded ints; reject
    anything else upstream.  Each expired partition is renamed into one
    ``<path>__old_<uuid>`` sibling before deletion, so a crash mid-expiry
    leaves either live data or displaced-but-recoverable data — and
    ``recover_upsert`` already deletes leftover ``__old_`` siblings when
    the store is present (superseded-data rule), finishing an interrupted
    expiry on the next maintenance pass.  Single-writer, driver-local
    path, like the rest of the swap protocol.  Returns the expired
    entries (empty list = nothing past retention).
    """
    _require_local_path(path, "expire_partitions")
    entries = [
        e
        for e in _partition_entries(path)
        if e.startswith(f"{partition_col}=")
        and e.split("=", 1)[1] < before
    ]
    if not entries:
        return []
    trash = f"{path}__old_{uuid.uuid4().hex}"
    os.makedirs(trash)
    for e in entries:
        os.rename(os.path.join(path, e), os.path.join(trash, e))
    shutil.rmtree(trash, ignore_errors=True)
    return entries


def recover_upsert(
    path: str, preserve_unmarked_staging: bool = False
) -> list[str]:
    """Repair an ``upsert_parquet`` interrupted in any crash window; returns
    the actions taken (empty list = nothing to repair).  Deterministic
    decision rule, keyed on the ``_UPSERT_COMMIT`` marker that
    ``upsert_parquet`` writes strictly after the staging write returns:

    * staging WITHOUT the marker — the merge write died; the store
      was never touched.  Roll BACK: delete the staging directory.
    * staging WITH the marker — the merged result is durable, so the
      interrupted swap is completed (roll FORWARD; single-writer means the
      staging was computed from exactly the current store state):
      store absent → install staging as the store (the full-swap
      mid-rename window); store present with matching partition layout →
      finish moving the staged ``col=value`` directories in (the
      partition-pruned per-entry loop window — already-moved entries are
      simply no longer in staging); otherwise → full swap (displace store,
      install staging).
    * leftover ``__old_`` directories — with the store present they are
      displaced pre-merge data already superseded by the completed swap:
      delete them.  With NO store and NO staging (crash after displacing,
      before any durable merge — not reachable from upsert_parquet's
      ordering, but repairable): restore the single old directory as the
      store.

    Both crash windows of the full swap and a mid-loop kill of the
    partition swap are exercised in tests/test_maintenance.py; after
    recovery the store equals either the pre-upsert state (rollback) or
    the fully-merged state (roll-forward) — never a mix.

    Ambiguity (multiple complete stagings, or multiple old dirs with no
    store) cannot arise from single-writer operation because
    ``upsert_parquet`` refuses to start while orphans exist; if found
    anyway, raise rather than guess.

    ``preserve_unmarked_staging=True`` is the READ-path mode: an
    unmarked staging is left untouched instead of rolled back.  A
    staging without the commit marker means the store itself was never
    touched — a pure reader can serve the store as-is — and the staging
    may belong to a LIVE ``rebuild_*``/``upsert_parquet`` writer that
    simply hasn't marked it yet; deleting it from a read path would
    destroy the writer's in-progress work (the r13 ADVICE finding).
    Only a WRITER (which holds the single-writer slot, so a leftover
    unmarked staging is provably a crash orphan) may roll it back.
    """
    _require_local_path(path, "recover_upsert")
    actions: list[str] = []
    complete: list[str] = []
    for s in _sibling_dirs(path, "staging"):
        if os.path.exists(os.path.join(s, _COMMIT_MARKER)):
            complete.append(s)
        elif preserve_unmarked_staging:
            actions.append(f"left in-progress (unmarked) staging {s} alone")
        else:
            shutil.rmtree(s)
            actions.append(f"rolled back incomplete staging {s}")
    if len(complete) > 1:
        raise RuntimeError(
            f"multiple complete staging directories {complete}: cannot "
            "order them; resolve manually"
        )
    if complete:
        staging = complete[0]
        if not os.path.exists(path):
            os.rename(staging, path)
            actions.append(f"rolled forward: installed {staging} as the store")
        else:
            staged_parts = _partition_entries(staging)
            if staged_parts and _partition_entries(path):
                _move_in(path, staging, staged_parts)
                actions.append(
                    f"rolled forward: moved {len(staged_parts)} staged "
                    f"partition dir(s) from {staging} into the store"
                )
            else:
                if _partition_entries(path) and not any(
                    e.endswith(".parquet") for e in os.listdir(staging)
                ):
                    # A durability-marked staging with NO partition entries
                    # and NO data files cannot be a legitimate merge result
                    # for a partitioned store — no writer produces an empty
                    # committed staging — so a full swap here would replace
                    # the whole store with nothing.  Refuse loudly instead
                    # of destroying data (the r15 ADVICE high finding:
                    # purge_ivfpq_tombstones used to mark such a staging).
                    raise RuntimeError(
                        f"refusing full-swap roll-forward: marked staging "
                        f"{staging} is empty but store {path} holds "
                        f"partitioned data; resolve manually"
                    )
                _move_in(path, staging)
                actions.append(f"rolled forward: full swap of {staging}")
    olds = _sibling_dirs(path, "old")
    if os.path.exists(path):
        for o in olds:
            shutil.rmtree(o)
            actions.append(f"removed superseded pre-merge data {o}")
    elif olds:
        if len(olds) > 1:
            raise RuntimeError(
                f"store {path} is missing and multiple old directories "
                f"{olds} exist: cannot order them; resolve manually"
            )
        os.rename(olds[0], path)
        actions.append(f"rolled back: restored pre-upsert store from {olds[0]}")
    return actions


def heal_if_interrupted(path: str, for_read: bool = False) -> list[str]:
    """Crash-heal gate for every consumer that READS a swap-protocol store:
    detect orphaned ``__staging_``/``__old_`` siblings (one parent listdir —
    free on the clean path) and run ``recover_upsert`` before anyone reads
    the store.  This must run BEFORE the read, not only before the next
    rewrite: a compaction killed between ``_flat_swap``'s two renames
    leaves the store ABSENT with a complete staging pending, and an
    ``update_*`` that reads first would see "no table", rebuild the store
    from one batch (silently breaking anti-join idempotence), after which
    a later roll-forward would swap the stale staging OVER the rebuilt
    rows — losing everything ingested since the crash.  Healing at read
    time closes that window: the store a reader sees is always either the
    pre-swap or the post-swap state, never a fresh rebuild.  Remote
    (scheme-prefixed) paths are no-ops — they never use the rename
    protocol.  Returns ``recover_upsert``'s action list (empty = clean).

    ``for_read=True`` is for PURE readers (``search_*``, recall gates):
    an unmarked staging is preserved rather than rolled back, because it
    may belong to a LIVE writer that hasn't durability-marked it yet —
    the store itself is untouched until the marker lands, so the reader
    can serve it unchanged.  A COMPLETE (marked) staging is still rolled
    forward even under ``for_read`` — that is required for correctness
    when the store directory is mid-swap-absent — so the narrow window
    between a live writer's marker write and its final rename remains
    single-party: a rebuild concurrent with readers can lose the
    roll-forward race there, failing LOUDLY on its own rename (never
    corrupting data — both parties perform the identical swap).  Hold
    rebuilds to the documented exclusive-writer contract to avoid that
    benign-but-noisy race."""
    if _is_uri(path):
        return []
    if not (_sibling_dirs(path, "staging") or _sibling_dirs(path, "old")):
        return []
    return recover_upsert(path, preserve_unmarked_staging=for_read)


def upsert_sink(
    path: str,
    keys: Sequence[str],
    order_col: str | None = None,
    tiebreak: str | None = None,
    partition_col: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` upsert sink: each micro-batch merges into the
    parquet store by key — the streaming delivery path of the reference's
    analytics/predictions upserts (S9/S10).  Used as
    ``writeStream.foreachBatch(upsert_sink(path, keys, ts))``; pass
    ``partition_col`` so each micro-batch rewrites only its touched
    partitions.

    SELF-HEALING: each batch first runs ``recover_upsert`` (a no-op on a
    clean store).  A query killed mid-swap restarts from the checkpoint and
    re-delivers the same batch — exactly when the orphan guard would
    otherwise refuse — so the sink repairs the interrupted swap and then
    applies the redelivered batch; both recovery outcomes (rolled forward
    or rolled back) are safe because the keyed merge is idempotent under
    redelivery."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        recover_upsert(path)
        upsert_parquet(
            batch_df.sparkSession, batch_df, path, keys,
            order_col, tiebreak, partition_col,
        )

    return apply
