"""Corpus takedown: propagate document deletions to EVERY persisted
derivation-table family (dd18).

The engine's incremental tables are insert-only or merge-grow by design
(``dedup._update_doc_keyed_table``; ``text.update_bm25_postings``) — the
right contract for ingest, but a production removal request (GDPR
erasure, robots revocation, a retired benchmark) must reach all of them,
not just the IVF-PQ serving index that ``similarity.
delete_from_ivfpq_index`` covers.  This module applies that operator's
tombstone + purge contract uniformly:

* ``tombstone_*`` — append the doc ids to a deletion-sized TOMBSTONE
  table next to the store.  Immediate effect: every tombstone-aware
  reader (the ``*_from_table`` gates, the pair/posting read helpers
  here) anti-joins the tombstones — broadcast, deletion-sized — so a
  deleted doc can never be served from the moment the append lands.
  Only ids PRESENT in the table tombstone (semi-join), and replay is
  idempotent via the anti-join against standing tombstones.
* ``purge_*`` — make the deletion physically durable: rewrite the table
  minus the tombstoned rows through the shared crash-safe staging swap
  (``maintenance._flat_swap`` — every crash window repaired by
  ``recover_upsert``) and clear the tombstones LAST, so a crash
  anywhere mid-purge leaves the tombstones standing as the recovery
  signal and the next purge resumes idempotently.

Why purge ≡ rebuild-from-scratch on corpus-minus-deleted (the commute
argument, dd18's in-plan gate): every row of every covered table is a
PURE PER-DOC FUNCTION under fixed parameters — MinHash band rows,
13-gram shingles, media fingerprints, BM25 term counts, and (under a
FIXED codebook) semantic assignments — so removing a doc's rows commutes
with deriving the table.  Pair rows (semantic) are pure functions of TWO
docs: a pair exists iff both ends are present, so retracting every pair
touching a deleted id is exactly the rebuilt pair set.  BM25's df table
is the one non-doc-keyed state: document frequencies must DECREMENT,
handled in ``operators.text.takedown_bm25_postings`` through the same
epoch-high-water-marked staging swap txt23's ingest merge uses.

Scale shape: tombstoning is deletion-sized (one semi-join against the
column-pruned table ids + a tiny append); read-time exclusion is one
broadcast anti-join (zero plan change while no tombstones exist).  The
flat-table purge rewrites the table it touches — like compaction, it is
an AMORTIZED maintenance op run at compaction cadence over batched
takedowns, never per-request; on a bucketed-by-id layout the rewrite
prunes to the buckets holding deleted ids (the emb21 partition-pruning
argument; these derivation tables are orders smaller than the corpus).

Reference analogue: none — the reference never deletes
(producer/producer.py only inserts); this is the extension family's own
completeness bar (r15 verdict, "What's missing" #3).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..concurrency import overlap


def tombstone_path(table_path: str) -> str:
    """Sibling tombstone dir for a FLAT table (the table path itself is
    a parquet dir, so tombstones cannot live inside it).  The ``__``
    sibling is invisible to the orphan checks in ``maintenance`` (those
    match only the swap's own staging and old sibling names)."""
    return f"{table_path}__tombstones"


def _append_new_tombstones(
    spark: SparkSession, present: DataFrame, t_path: str, id_col: str
) -> int:
    """Append ids not already tombstoned; returns the number appended
    (the replay-zero counter)."""
    from ..sources.readers import read_parquet_if_exists

    standing = read_parquet_if_exists(spark, t_path)
    new = (
        present
        if standing is None
        else present.join(standing.select(id_col).distinct(), id_col, "left_anti")
    )
    new = new.persist()
    try:
        n_new = new.count()
        if n_new:
            new.write.mode("append").parquet(t_path)
    finally:
        new.unpersist()
    return n_new


def _rename_request_ids(ids: DataFrame, id_col: str, col: str) -> DataFrame:
    """Re-key a removal-request frame for a family keyed differently,
    failing LOUDLY at the rename site: ``withColumnRenamed`` silently
    no-ops when ``id_col`` is absent and silently duplicates the name
    when ``col`` already exists — both surface later as a wrong-key
    semi-join or an ambiguous-column error far from the cause
    (r17 ADVICE)."""
    if col == id_col:
        return ids
    if id_col not in ids.columns:
        raise ValueError(
            f"takedown request frame has no column {id_col!r} to rename to "
            f"{col!r}; columns: {list(ids.columns)}"
        )
    if col in ids.columns:
        raise ValueError(
            f"takedown request frame already has a column {col!r}; renaming "
            f"{id_col!r} onto it would create a duplicate name"
        )
    return ids.withColumnRenamed(id_col, col)


def tombstone_doc_keyed_table(
    spark: SparkSession,
    ids: DataFrame,
    table_path: str,
    id_col: str = "doc_id",
) -> dict[str, int]:
    """Logically delete docs from a flat doc-keyed derivation table
    (signature / shingle / fingerprint / segmentation stores): ids
    present in the table enter the sibling tombstone table; readers
    exclude them immediately via ``minus_tombstones``."""
    from ..maintenance import heal_if_interrupted
    from ..sources.readers import read_parquet_if_exists

    heal_if_interrupted(table_path)
    batch = ids.select(id_col).distinct()
    # metric count overlaps the semi-join/append chain (§2.6)
    with overlap() as o:
        n_batch = o.submit("tombstone_doc_keyed_table/n_batch", batch.count)
        table = read_parquet_if_exists(spark, table_path)
        if table is None:
            return {"n_batch_ids": n_batch.result(), "n_new_tombstones": 0}
        present = batch.join(table.select(id_col), id_col, "left_semi")
        n_new = _append_new_tombstones(
            spark, present, tombstone_path(table_path), id_col
        )
        return {"n_batch_ids": n_batch.result(), "n_new_tombstones": n_new}


def minus_tombstones(
    df: DataFrame,
    spark: SparkSession,
    table_path: str,
    id_col: str = "doc_id",
    key: str | None = None,
) -> DataFrame:
    """Exclude tombstoned ids from a frame derived from ``table_path`` —
    the uniform read-side contract.  ``key`` names the frame's column
    when it differs from the tombstone table's ``id_col``.  Zero plan
    change while no tombstone dir exists (one driver-side stat)."""
    from ..sources.readers import read_parquet_if_exists

    tombs = read_parquet_if_exists(spark, tombstone_path(table_path))
    if tombs is None:
        return df
    t = F.broadcast(tombs.select(id_col).distinct())
    if key is not None and key != id_col:
        t = t.withColumnRenamed(id_col, key)
    return df.join(t, key or id_col, "left_anti").select(*df.columns)


def purge_doc_keyed_table(
    spark: SparkSession,
    table_path: str,
    id_col: str = "doc_id",
) -> dict[str, int]:
    """Physically remove tombstoned rows from a flat doc-keyed table via
    the shared staging swap; clears the tombstones LAST (a crash leaves
    them standing and the next purge resumes).  A table whose every row
    is tombstoned is removed outright — NEVER through the swap protocol,
    whose roll-forward would otherwise install an empty staging (the
    zero-survivor lesson from ``purge_ivfpq_tombstones``); readers treat
    the absent dir as an empty table."""
    from ..maintenance import _flat_swap, _require_local_path, heal_if_interrupted
    from ..sources.readers import read_parquet_if_exists

    _require_local_path(table_path, "purge_doc_keyed_table")
    heal_if_interrupted(table_path)
    t_path = tombstone_path(table_path)
    tombs = read_parquet_if_exists(spark, t_path)
    if tombs is None:
        return {"n_purged": 0}
    table = read_parquet_if_exists(spark, table_path)
    if table is None:
        shutil.rmtree(t_path, ignore_errors=True)
        return {"n_purged": 0}
    t_ids = tombs.select(id_col).distinct()
    # both counts in ONE table scan (guide §1.2, r19): t_ids is distinct,
    # so the broadcast left join is row-preserving — count(*) is the
    # table total and count(__t) counts exactly the semi-join's rows
    row = table.join(
        F.broadcast(t_ids.withColumn("__t", F.lit(1))), id_col, "left"
    ).agg(
        F.count(F.lit(1)).alias("__n_total"),
        F.count("__t").alias("__n_purged"),
    ).first()
    n_total, n_purged = row["__n_total"], row["__n_purged"]
    if n_purged:
        if n_purged == n_total:
            shutil.rmtree(table_path, ignore_errors=True)
        else:
            # the anti-join moves the key column to the front: re-select
            # the table's own order so the rewrite is column-identical
            keep = table.join(F.broadcast(t_ids), id_col, "left_anti").select(
                *table.columns
            )
            _flat_swap(table_path, keep)
    shutil.rmtree(t_path, ignore_errors=True)
    return {"n_purged": int(n_purged)}


# --- Semantic-dedup index (assigned + pairs under one root) -----------------


def tombstone_semantic_index(
    spark: SparkSession,
    ids: DataFrame,
    root: str,
    vec_id: str = "vec_id",
) -> dict[str, int]:
    """Logically delete vectors from a semantic-dedup index
    (``similarity.init_semantic_index`` layout: ``{root}/assigned`` +
    ``{root}/pairs``): tombstoned ids leave serving immediately —
    ``semantic_pairs_minus_tombstones`` retracts every pair touching a
    deleted id on EITHER end (a pair is a function of both docs)."""
    from ..maintenance import heal_if_interrupted
    from ..sources.readers import read_parquet_if_exists

    heal_if_interrupted(root)
    heal_if_interrupted(f"{root}/assigned")
    batch = ids.select(vec_id).distinct()
    # metric count overlaps the semi-join/append chain (§2.6)
    with overlap() as o:
        n_batch = o.submit("tombstone_semantic_index/n_batch", batch.count)
        assigned = read_parquet_if_exists(spark, f"{root}/assigned")
        if assigned is None:
            return {"n_batch_ids": n_batch.result(), "n_new_tombstones": 0}
        present = batch.join(assigned.select(vec_id), vec_id, "left_semi")
        n_new = _append_new_tombstones(spark, present, f"{root}/tombstones", vec_id)
        return {"n_batch_ids": n_batch.result(), "n_new_tombstones": n_new}


def semantic_assigned_minus_tombstones(
    spark: SparkSession, root: str, vec_id: str = "vec_id"
) -> DataFrame | None:
    """The assigned table with tombstoned vectors excluded; None when no
    assigned table exists — ``purge_semantic_index`` removes the dir
    outright when every row is tombstoned, and the module contract says
    readers treat the absent dir as an empty table (r16 ADVICE)."""
    from ..sources.readers import read_parquet_if_exists

    assigned = read_parquet_if_exists(spark, f"{root}/assigned")
    if assigned is None:
        return None
    tombs = read_parquet_if_exists(spark, f"{root}/tombstones")
    if tombs is None:
        return assigned
    return assigned.join(
        F.broadcast(tombs.select(vec_id).distinct()), vec_id, "left_anti"
    ).select(*assigned.columns)


def semantic_pairs_minus_tombstones(
    spark: SparkSession, root: str, vec_id: str = "vec_id"
) -> DataFrame | None:
    """The pair table with every pair touching a tombstoned id (either
    end) retracted; None when no pairs table exists."""
    from ..sources.readers import read_parquet_if_exists

    pairs = read_parquet_if_exists(spark, f"{root}/pairs")
    if pairs is None:
        return None
    tombs = read_parquet_if_exists(spark, f"{root}/tombstones")
    if tombs is None:
        return pairs
    t = tombs.select(vec_id).distinct()
    kept = pairs.join(
        F.broadcast(t.withColumnRenamed(vec_id, "vec_a")), "vec_a", "left_anti"
    ).join(
        F.broadcast(t.withColumnRenamed(vec_id, "vec_b")), "vec_b", "left_anti"
    )
    return kept.select(*pairs.columns)


def purge_semantic_index(
    spark: SparkSession,
    root: str,
    vec_id: str = "vec_id",
) -> dict[str, int]:
    """Physically remove tombstoned vectors from the assigned table and
    every pair touching them (either end) from the pair table — two flat
    swaps, tombstones cleared last.  Under the index's fixed codebook
    the result equals ``update_semantic_index`` ingest of corpus-minus-
    deleted (assignments are per-vector pure; a pair exists iff both
    ends survive) — dd18's commute gate.  Run purge before further
    ingest, or the ingest's NEW×standing pair stage re-pairs against
    physically-present deleted vectors (their pairs retract again at the
    next purge; serving stays clean throughout via the read helpers)."""
    from ..maintenance import _flat_swap, _require_local_path, heal_if_interrupted
    from ..sources.readers import read_parquet_if_exists

    _require_local_path(root, "purge_semantic_index")
    heal_if_interrupted(root)
    heal_if_interrupted(f"{root}/assigned")
    heal_if_interrupted(f"{root}/pairs")
    t_path = f"{root}/tombstones"
    tombs = read_parquet_if_exists(spark, t_path)
    if tombs is None:
        return {"n_purged_assigned": 0, "n_purged_pairs": 0}
    t = tombs.select(vec_id).distinct()
    n_assigned = 0
    assigned = read_parquet_if_exists(spark, f"{root}/assigned")
    if assigned is not None:
        # doomed + total counts in ONE assigned scan (guide §1.2, r19):
        # t is distinct, so the broadcast left join is row-preserving
        row = assigned.join(
            F.broadcast(t.withColumn("__t", F.lit(1))), vec_id, "left"
        ).agg(
            F.count(F.lit(1)).alias("__n_total"),
            F.count("__t").alias("__n_doomed"),
        ).first()
        n_assigned = row["__n_doomed"]
        if n_assigned:
            if n_assigned == row["__n_total"]:
                shutil.rmtree(f"{root}/assigned", ignore_errors=True)
            else:
                _flat_swap(
                    f"{root}/assigned",
                    assigned.join(F.broadcast(t), vec_id, "left_anti").select(
                        *assigned.columns
                    ),
                )
    n_pairs = 0
    pairs = read_parquet_if_exists(spark, f"{root}/pairs")
    if pairs is not None:
        # keep/purged counts in ONE pairs scan (was keep.count() +
        # pairs.count()): a pair survives iff NEITHER end is tombstoned
        row = (
            pairs.join(
                F.broadcast(
                    t.withColumnRenamed(vec_id, "vec_a").withColumn(
                        "__ta", F.lit(1)
                    )
                ),
                "vec_a",
                "left",
            )
            .join(
                F.broadcast(
                    t.withColumnRenamed(vec_id, "vec_b").withColumn(
                        "__tb", F.lit(1)
                    )
                ),
                "vec_b",
                "left",
            )
            .agg(
                F.count(F.lit(1)).alias("__n_total"),
                F.count(
                    F.when(
                        F.col("__ta").isNull() & F.col("__tb").isNull(),
                        F.lit(1),
                    )
                ).alias("__n_keep"),
            )
            .first()
        )
        n_keep = row["__n_keep"]
        n_pairs = row["__n_total"] - n_keep
        if n_pairs:
            if n_keep == 0:
                shutil.rmtree(f"{root}/pairs", ignore_errors=True)
            else:
                keep = (
                    pairs.join(
                        F.broadcast(t.withColumnRenamed(vec_id, "vec_a")),
                        "vec_a",
                        "left_anti",
                    )
                    .join(
                        F.broadcast(t.withColumnRenamed(vec_id, "vec_b")),
                        "vec_b",
                        "left_anti",
                    )
                    .select(*pairs.columns)
                )
                _flat_swap(f"{root}/pairs", keep)
    shutil.rmtree(t_path, ignore_errors=True)
    return {"n_purged_assigned": int(n_assigned), "n_purged_pairs": int(n_pairs)}


# --- Umbrella: one removal request reaches every family ----------------------

# flat doc-keyed tables under the generic contract; ``latest_revisions``
# is dd14's current-state table — physically the same flat shape, named
# separately because its SEMANTICS differ: the store holds only the
# per-key WINNING revision, so purging a winner leaves its key ABSENT
# (the runner-up snapshots were never persisted and cannot be
# resurrected from the store) until the next crawl re-ingests the key —
# at which point ``upsert_latest_revisions``' order-robust merge
# converges the store to keep-latest over snapshots-minus-deleted
# (dd18's rev-family gate).  Erasure-now, convergence-at-next-crawl is
# the honest GDPR contract for a current-state table.
_FLAT_FAMILIES = (
    "signatures", "shingles", "fingerprints", "segmentations",
    "latest_revisions",
)


def _per_family(fn, roots: dict[str, str]) -> dict[str, dict]:
    """Run ``fn(family, path)`` for every requested family, returning
    results keyed in ``roots`` iteration order.  Families are DISJOINT
    stores — every helper touches only its own root and no session-global
    state (the dd18/dq5 thread invariant, pinned by
    tests/test_takedown.py::test_umbrella_threaded_equals_sequential) —
    so multi-family requests overlap (r18 optimization: each family is a
    chain of tiny fixed-overhead jobs; serializing them made the
    umbrella ≈ Σ families).  Errors re-raise in deterministic family
    order.  Each family's jobs are described ``{caller}/{family}``."""
    items = list(roots.items())
    if len(items) <= 1:
        return {family: fn(family, path) for family, path in items}
    caller = fn.__qualname__.split(".")[0]
    with overlap() as o:
        handles = [
            (family, o.submit(f"{caller}/{family}", fn, family, path))
            for family, path in items
        ]
    return {family: h.result() for family, h in handles}


def takedown(
    spark: SparkSession,
    ids: DataFrame,
    roots: dict[str, str],
    id_col: str = "doc_id",
    id_cols: dict[str, str] | None = None,
) -> dict[str, dict]:
    """Apply one removal request to every persisted table family at once.
    ``roots`` maps family → store path; recognized families:

    * ``signatures`` / ``shingles`` / ``fingerprints`` /
      ``segmentations`` / ``latest_revisions`` — flat doc-keyed tables
      (``tombstone_doc_keyed_table``; see the ``latest_revisions``
      semantics note above)
    * ``semantic`` — a semantic-dedup index root
      (``tombstone_semantic_index``; pairs retract on either end)
    * ``bm25`` — a BM25 posting root (``text.takedown_bm25_postings``;
      df decrements at purge through the epoch-hwm'd swap)
    * ``ivfpq`` — an IVF-PQ index root
      (``similarity.delete_from_ivfpq_index``)
    * ``ivf`` — a flat IVF float-list index root
      (``similarity.delete_from_ivf_index``)
    * ``pq`` — a flat PQ code-table root (the generic flat contract
      applied to ``{path}/codes``; serve through
      ``similarity.read_pq_codes``)
    * ``curriculum`` — a curriculum-shard store root
      (``text.takedown_curriculum_store``; the purge is rank-REPAIRING
      — the one family where removal shifts other rows' derived state)

    ``id_cols`` optionally overrides the id column per family (a vector
    index keyed ``vec_id`` and a revision table keyed ``snapshot_id``
    can share one request).  Returns per-family counters; replaying the
    same ids appends zero tombstones everywhere (each family's
    anti-join)."""
    from .similarity import delete_from_ivf_index, delete_from_ivfpq_index
    from .text import takedown_bm25_postings, takedown_curriculum_store

    def one(family: str, path: str) -> dict:
        col = (id_cols or {}).get(family, id_col)
        fam_ids = _rename_request_ids(ids, id_col, col)
        if family in _FLAT_FAMILIES:
            return tombstone_doc_keyed_table(spark, fam_ids, path, col)
        if family == "semantic":
            return tombstone_semantic_index(spark, fam_ids, path, col)
        if family == "bm25":
            return takedown_bm25_postings(spark, fam_ids, path, col)
        if family == "ivfpq":
            return delete_from_ivfpq_index(spark, fam_ids, path, col)
        if family == "ivf":
            return delete_from_ivf_index(spark, fam_ids, path, col)
        if family == "pq":
            return tombstone_doc_keyed_table(spark, fam_ids, f"{path}/codes", col)
        if family == "curriculum":
            return takedown_curriculum_store(spark, fam_ids, path, col)
        raise ValueError(f"unknown takedown family {family!r}")

    return _per_family(one, roots)


def purge_takedown(
    spark: SparkSession,
    roots: dict[str, str],
    id_col: str = "doc_id",
    id_cols: dict[str, str] | None = None,
) -> dict[str, dict]:
    """Make every family's standing tombstones physically durable; same
    family keys as ``takedown``.  Idempotent per family (tombstones are
    each purge's recovery signal and are cleared last)."""
    from .similarity import purge_ivf_tombstones, purge_ivfpq_tombstones
    from .text import purge_bm25_postings, purge_curriculum_tombstones

    def one(family: str, path: str) -> dict:
        col = (id_cols or {}).get(family, id_col)
        if family in _FLAT_FAMILIES:
            return purge_doc_keyed_table(spark, path, col)
        if family == "semantic":
            return purge_semantic_index(spark, path, col)
        if family == "bm25":
            return purge_bm25_postings(spark, path, col)
        if family == "ivfpq":
            return purge_ivfpq_tombstones(spark, path, col)
        if family == "ivf":
            return purge_ivf_tombstones(spark, path, col)
        if family == "pq":
            return purge_doc_keyed_table(spark, f"{path}/codes", col)
        if family == "curriculum":
            return purge_curriculum_tombstones(spark, path)
        raise ValueError(f"unknown takedown family {family!r}")

    return _per_family(one, roots)


def _family_frames(
    spark: SparkSession, family: str, path: str, id_col: str
) -> tuple[DataFrame | None, DataFrame | None, DataFrame | None]:
    """(raw, tombstones, serving) frames for one takedown family — the
    read-side map the compliance audit walks.  ``raw`` is the physical
    table (purge target), ``serving`` the tombstone-aware read a query
    actually sees; any absent table is None (absent-as-empty)."""
    from ..sources.readers import read_parquet_if_exists

    if family in _FLAT_FAMILIES:
        raw = read_parquet_if_exists(spark, path)
        tombs = read_parquet_if_exists(spark, tombstone_path(path))
        serving = None if raw is None else minus_tombstones(raw, spark, path, id_col)
        return raw, tombs, serving
    if family == "semantic":
        raw = read_parquet_if_exists(spark, f"{path}/assigned")
        tombs = read_parquet_if_exists(spark, f"{path}/tombstones")
        return raw, tombs, semantic_assigned_minus_tombstones(spark, path, id_col)
    if family == "bm25":
        import os as _os

        from .text import bm25_tf_minus_tombstones

        raw = read_parquet_if_exists(spark, _os.path.join(path, "tf"))
        tombs = read_parquet_if_exists(spark, _os.path.join(path, "tombstones"))
        return raw, tombs, bm25_tf_minus_tombstones(spark, path, id_col)
    if family in ("ivfpq", "ivf"):
        from ..maintenance import heal_if_interrupted

        sub = "index" if family == "ivfpq" else "lists"
        # heal-before-read, as the real serving readers (search_ivf_index /
        # search_ivfpq_index) do: an audit run against a purge crashed
        # mid-partition-swap must see the healed layout those readers
        # would serve, not the half-swapped physical one (r17 ADVICE)
        heal_if_interrupted(path, for_read=True)
        heal_if_interrupted(f"{path}/{sub}", for_read=True)
        raw = read_parquet_if_exists(spark, f"{path}/{sub}")
        tombs = read_parquet_if_exists(spark, f"{path}/tombstones")
        if raw is None:
            return None, tombs, None
        serving = raw
        if tombs is not None:
            serving = raw.join(
                F.broadcast(tombs.select(id_col).distinct()),
                id_col,
                "left_anti",
            )
        return raw, tombs, serving
    if family == "pq":
        from .similarity import read_pq_codes

        raw = read_parquet_if_exists(spark, f"{path}/codes")
        tombs = read_parquet_if_exists(
            spark, tombstone_path(f"{path}/codes")
        )
        return raw, tombs, read_pq_codes(spark, path, id_col)
    if family == "curriculum":
        from ..maintenance import heal_if_interrupted

        heal_if_interrupted(path, for_read=True)  # rebuild swaps the root
        heal_if_interrupted(f"{path}/docs", for_read=True)
        raw = read_parquet_if_exists(spark, f"{path}/docs")
        tombs = read_parquet_if_exists(spark, f"{path}/tombstones")
        # the store is doc_id-keyed by construction; realign to the
        # audit's id column so the request joins resolve
        if id_col != "doc_id":
            raw = None if raw is None else raw.withColumnRenamed("doc_id", id_col)
            tombs = (
                None if tombs is None
                else tombs.withColumnRenamed("doc_id", id_col)
            )
        if raw is None:
            return None, tombs, None
        serving = raw
        if tombs is not None:
            serving = raw.join(
                F.broadcast(tombs.select(id_col).distinct()),
                id_col,
                "left_anti",
            )
        return raw, tombs, serving
    raise ValueError(f"unknown takedown family {family!r}")


def takedown_compliance(
    spark: SparkSession,
    ids: DataFrame,
    roots: dict[str, str],
    id_col: str = "doc_id",
    id_cols: dict[str, str] | None = None,
) -> DataFrame:
    """The CHECK-time compliance report for a removal request — what a
    GDPR/robots audit actually reads: per family, how far the request
    has progressed and whether anything is still reachable.

      n_requested                  distinct ids in the request
      n_tombstoned_standing        requested ids with a standing
                                   tombstone (purge not yet durable)
      n_physical_docs_remaining    requested ids still physically in
                                   the table (distinct, doc-level)
      serving_clean                no tombstone-aware read returns a
                                   requested id
      status                       'at_risk'        served AND physical
                                                    (a missed takedown —
                                                    the failure mode the
                                                    audit exists for)
                                   'pending_purge'  tombstoned, serving
                                                    clean, rows physical
                                   'clean'          nothing requested is
                                                    physical (purged, or
                                                    never ingested)

    Every per-family check is one or two request-sized broadcast joins
    plus single-row count aggregates (the bounded-collect contract);
    nothing corpus-sized reaches the driver.  Same ``roots``/``id_cols``
    conventions as ``takedown``/``purge_takedown``."""
    req = ids.select(id_col).distinct().localCheckpoint(eager=False)
    n_req = req.count()

    def one(family: str, path: str) -> tuple:
        col = (id_cols or {}).get(family, id_col)
        fam_ids = _rename_request_ids(req, id_col, col)
        raw, tombs, serving = _family_frames(spark, family, path, col)
        n_tomb = (
            0
            if tombs is None
            else tombs.select(col)
            .distinct()
            .join(F.broadcast(fam_ids), col, "left_semi")
            .count()
        )
        n_phys = (
            0
            if raw is None
            else raw.select(col)
            .distinct()
            .join(F.broadcast(fam_ids), col, "left_semi")
            .count()
        )
        clean = serving is None or serving.join(
            F.broadcast(fam_ids), col, "left_semi"
        ).isEmpty()
        if n_phys > 0 and not clean:
            status = "at_risk"
        elif n_tomb > 0:
            status = "pending_purge"
        else:
            status = "clean"
        return (family, n_req, n_tomb, n_phys, clean, status)

    # audited families overlap (read-only per-family checks on disjoint
    # stores — see _per_family); output order stays sorted
    per_fam = _per_family(one, {f: roots[f] for f in sorted(roots)})
    rows = [per_fam[f] for f in sorted(roots)]
    return spark.createDataFrame(
        rows,
        "family string, n_requested bigint, n_tombstoned_standing bigint, "
        "n_physical_docs_remaining bigint, serving_clean boolean, "
        "status string",
    )


def takedown_sink(
    roots: dict[str, str],
    id_col: str = "doc_id",
    purge_every: int | None = None,
):
    """``foreachBatch`` writer applying a REMOVAL-REQUEST STREAM to every
    persisted table family — the streaming twin of ``takedown``, closing
    the same symmetry the ingest sinks have (every incremental table has
    its ``*_sink``; removal requests arrive as a stream too: GDPR
    queues, robots revocations).  At-least-once redelivery is idempotent
    end-to-end: a replayed batch anti-joins standing tombstones and
    appends nothing; after a purge the ids are gone from the tables, so
    a late redelivery semi-joins to nothing and tombstones nothing —
    the doc stays deleted either way, and a legitimate re-ingest of a
    purged id is unaffected PROVIDED the redelivery lands before the
    re-ingest.  Ordering caveat (r16 ADVICE): checkpointed redelivery
    cannot arrive after a purge completes (the purge only runs once the
    batch is checkpoint-committed), but a FRESH-CHECKPOINT replay of an
    old request that lands AFTER a legitimate re-ingest of the purged
    id re-tombstones and re-deletes the re-ingested doc — the id is
    physically present again, so the semi-join admits it.  Replaying a
    removal log from a new checkpoint is therefore only safe on stores
    that have seen no post-purge re-ingest of the replayed ids; a
    deployment that re-admits purged ids should gate replays with a
    processed-request high-water mark (the bm25 ``_td_hwm``
    construction at the request level).

    ``purge_every``: run ``purge_takedown`` after every N-th batch —
    the amortization knob (purge is the compaction-shaped rewrite;
    tombstone-aware reads keep serving correct between purges).  None =
    never purge here; the owner purges out of band at compaction
    cadence."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        takedown(spark, batch_df, roots, id_col)
        if purge_every is not None and (batch_id + 1) % purge_every == 0:
            purge_takedown(spark, roots, id_col)

    return write_batch
