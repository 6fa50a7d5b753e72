"""Crash-window and lifecycle tests for the corpus takedown sweep (dd18):
the tombstone+purge contract applied to every persisted table family.
The dd18 driver query pins the happy-path gates (replay-zero,
serve-clean, equals-rebuild) end-to-end; these tests kill the purge
inside each crash window and prove every interleaving converges to the
rebuilt-from-scratch state — the same discipline
tests/test_maintenance.py applies to upsert_parquet."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline_spark import maintenance as mnt
from real_time_stock_market_data_pipeline_spark.operators import similarity as sim
from real_time_stock_market_data_pipeline_spark.operators import takedown as td
from real_time_stock_market_data_pipeline_spark.operators.dedup import (
    update_signature_table,
)
from real_time_stock_market_data_pipeline_spark.operators.text import (
    BM25_TD_HWM_FILE,
    _read_bm25_hwm,
    bm25_tf_minus_tombstones,
    purge_bm25_postings,
    takedown_bm25_postings,
    update_bm25_postings,
)
from real_time_stock_market_data_pipeline_spark.sources.readers import (
    load_table,
    read_parquet_if_exists,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def docs(spark):
    return (
        load_table(spark, SF, "documents")
        .filter("doc_id < 80 AND text IS NOT NULL")
        .select(
            "doc_id",
            F.concat(
                F.col("text"), F.lit(" uq"), F.col("doc_id").cast("string")
            ).alias("text"),
        )
        .localCheckpoint()
    )


def _dels(docs):
    return docs.filter("doc_id % 7 = 3").select("doc_id")


def _tables_equal(a, b) -> bool:
    b = b.select(*a.columns)
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_flat_table_takedown_full_lifecycle(spark, docs, tmp_path):
    """Tombstone → serve-clean → purge → equals-rebuild → tombstones
    cleared → re-ingest of the purged docs is legal again (the emb21
    re-entry rule, inherited by every family)."""
    from real_time_stock_market_data_pipeline_spark.operators.dedup import (
        minhash_band_rows,
    )

    path = str(tmp_path / "sig")
    update_signature_table(docs, path)
    dels = _dels(docs)
    m1 = td.tombstone_doc_keyed_table(spark, dels, path)
    assert m1["n_new_tombstones"] > 0
    assert td.tombstone_doc_keyed_table(spark, dels, path)[
        "n_new_tombstones"
    ] == 0
    read = td.minus_tombstones(spark.read.parquet(path), spark, path)
    assert read.join(dels, "doc_id", "left_semi").isEmpty()
    # ingest replay of a tombstoned-but-unpurged doc appends nothing
    # (rows physically present — consistent with emb21's pre-purge block)
    assert update_signature_table(docs, path)["n_new_docs"] == 0
    td.purge_doc_keyed_table(spark, path)
    assert not os.path.exists(td.tombstone_path(path))
    rem = docs.filter("doc_id % 7 <> 3")
    assert _tables_equal(
        spark.read.parquet(path), minhash_band_rows(rem, "doc_id", "text")
    )
    # purge replay is a no-op; deleted docs may now legitimately re-enter
    assert td.purge_doc_keyed_table(spark, path) == {"n_purged": 0}
    m = update_signature_table(docs, path)
    assert m["n_new_docs"] == dels.count()


def test_flat_table_all_rows_tombstoned_removes_table(spark, docs, tmp_path):
    """Every row tombstoned → the table dir is removed outright (never a
    staged swap to an empty dir, whose roll-forward would be the
    zero-survivor bug class) and readers see table-absent."""
    path = str(tmp_path / "sig")
    update_signature_table(docs, path)
    td.tombstone_doc_keyed_table(spark, docs.select("doc_id"), path)
    td.purge_doc_keyed_table(spark, path)
    assert not os.path.exists(path)
    assert read_parquet_if_exists(spark, path) is None
    assert [e for e in os.listdir(tmp_path) if e.startswith("sig__")] == []


# each arm of the shared flat purge (takedown.purge_flat) → the swap it
# dies in: the semantic pairs and bm25 tf arms run second, after the
# assigned / df swap has committed
_FLAT_PURGE_ARMS = {
    "doc_keyed": 1,
    "pq_codes": 1,
    "semantic_assigned": 1,
    "semantic_pairs": 2,
    "bm25_tf": 2,
}


def _flat_purge_arm(spark, docs, tmp_path, arm):
    """Build one arm's store with standing tombstones; returns (purge,
    table path, tombstone dir, the rebuilt table the purge must reach)."""
    if arm == "doc_keyed":
        from real_time_stock_market_data_pipeline_spark.operators.dedup import (
            minhash_band_rows,
        )

        path = str(tmp_path / "sig")
        update_signature_table(docs, path)
        td.tombstone_doc_keyed_table(spark, _dels(docs), path)
        rem = docs.filter("doc_id % 7 <> 3")
        return (
            lambda: td.purge_doc_keyed_table(spark, path),
            path, td.tombstone_path(path), minhash_band_rows(rem, "doc_id", "text"),
        )
    if arm == "pq_codes":
        emb = _emb(spark)
        cbs = sim.pq_fit(emb, m=8, k=8, n_iter=1)
        path, twin = str(tmp_path / "pq"), str(tmp_path / "pq2")
        sim.init_pq_index(spark, cbs, path)
        sim.update_pq_codes(spark, emb, path)
        dels = emb.filter("vec_id % 9 = 2").select("vec_id")
        td.takedown(spark, dels, {"pq": path}, id_col="vec_id")
        sim.init_pq_index(spark, cbs, twin)
        sim.update_pq_codes(spark, emb.join(dels, "vec_id", "left_anti"), twin)
        codes = f"{path}/codes"
        return (
            lambda: td.purge_takedown(spark, {"pq": path}, id_col="vec_id"),
            codes, td.tombstone_path(codes), spark.read.parquet(f"{twin}/codes"),
        )
    if arm.startswith("semantic_"):
        root = str(tmp_path / "sem")
        assigned = spark.range(20).select(
            F.col("id").alias("vec_id"), F.lit(0).alias("cid")
        )
        assigned.write.parquet(f"{root}/assigned")
        pairs = [(0, 1), (2, 3), (4, 5), (6, 7), (8, 9)]
        spark.createDataFrame(pairs, "vec_a long, vec_b long").write.parquet(
            f"{root}/pairs"
        )
        dels = spark.createDataFrame([(0,), (3,), (11,)], "vec_id long")
        td.tombstone_semantic_index(spark, dels, root)
        sub = arm.removeprefix("semantic_")
        rebuilt = {
            "assigned": assigned.join(dels, "vec_id", "left_anti"),
            "pairs": spark.createDataFrame(pairs[2:], "vec_a long, vec_b long"),
        }[sub]
        return (
            lambda: td.purge_semantic_index(spark, root),
            f"{root}/{sub}", td.store_tombstone_path(root), rebuilt,
        )
    path = str(tmp_path / "bm")
    update_bm25_postings(docs, path, 0)
    takedown_bm25_postings(spark, _dels(docs), path)
    tf2, _ = _bm25_rebuilt(spark, docs, tmp_path, "bm2")
    return (
        lambda: purge_bm25_postings(spark, path),
        f"{path}/tf", td.store_tombstone_path(path), tf2,
    )


@pytest.mark.parametrize("arm", list(_FLAT_PURGE_ARMS))
def test_flat_purge_crash_mid_swap_converges(
    spark, docs, tmp_path, monkeypatch, arm
):
    """Kill each arm of the shared flat purge inside its staged swap
    (after the durability mark, before the renames): tombstones still
    stand, heal rolls the staging forward, and the re-run purge
    converges to the rebuilt state."""
    purge, table, t_path, rebuilt = _flat_purge_arm(spark, docs, tmp_path, arm)

    real_mark = mnt._mark_staging_complete
    marks = {"n": 0}

    def mark_then_die(staging):
        real_mark(staging)
        marks["n"] += 1
        if marks["n"] == _FLAT_PURGE_ARMS[arm]:
            raise RuntimeError("killed after durability mark")

    monkeypatch.setattr(mnt, "_mark_staging_complete", mark_then_die)
    with pytest.raises(RuntimeError, match="killed"):
        purge()
    monkeypatch.undo()
    assert os.path.exists(t_path)  # recovery signal stands
    purge()  # heals, then no-ops or finishes
    assert not os.path.exists(t_path)
    assert _tables_equal(spark.read.parquet(table), rebuilt)


def _bm25_rebuilt(spark, docs, tmp_path, name):
    p2 = str(tmp_path / name)
    update_bm25_postings(docs.filter("doc_id % 7 <> 3"), p2, 0)
    return spark.read.parquet(f"{p2}/tf"), spark.read.parquet(f"{p2}/df")


def test_bm25_takedown_lifecycle_and_df_decrement(spark, docs, tmp_path):
    """The delete-maintained df merge: tombstone → tf serving excludes the
    docs immediately → purge decrements df (per-doc unique salt tokens
    reach df=0 and DROP — the row-removal path, not just decrements) and
    both tables equal a from-scratch build on the remaining docs."""
    path = str(tmp_path / "bm")
    update_bm25_postings(docs, path, 0)
    dels = _dels(docs)
    n_del = dels.count()
    m1 = takedown_bm25_postings(spark, dels, path)
    assert m1["n_new_tombstones"] == n_del
    assert takedown_bm25_postings(spark, dels, path)["n_new_tombstones"] == 0
    served = bm25_tf_minus_tombstones(spark, path)
    assert served.join(dels, "doc_id", "left_semi").isEmpty()
    df_before = spark.read.parquet(f"{path}/df").count()
    res = purge_bm25_postings(spark, path)
    assert res["n_purged_tf"] > 0
    assert res["n_df_rows_dropped"] >= n_del  # each doc's salt token hits 0
    # every dropped row was decremented; common tokens decrement too
    assert res["n_df_rows_decremented"] > res["n_df_rows_dropped"]
    assert spark.read.parquet(f"{path}/df").count() < df_before
    tf2, df2 = _bm25_rebuilt(spark, docs, tmp_path, "bm2")
    assert _tables_equal(spark.read.parquet(f"{path}/tf"), tf2)
    assert _tables_equal(spark.read.parquet(f"{path}/df"), df2)
    assert not os.path.exists(f"{path}/tombstones")
    # td hwm committed with the swap; purge replay no-ops
    assert _read_bm25_hwm(f"{path}/df", BM25_TD_HWM_FILE) == 0
    assert purge_bm25_postings(spark, path) == {
        "n_purged_tf": 0, "n_df_rows_decremented": 0, "n_df_rows_dropped": 0,
    }


def test_bm25_purge_crash_between_df_swap_and_tf_rewrite(
    spark, docs, tmp_path, monkeypatch
):
    """THE window the epoch hwm exists for: the df decrements are durable
    (hwm committed atomically with the swap) but the tf rows of the
    deleted docs are still physical.  A replayed purge must NOT apply
    the decrements again (double-apply would under-count df) and must
    finish the tf rewrite — converging exactly to the rebuilt state."""
    path = str(tmp_path / "bm")
    update_bm25_postings(docs, path, 0)
    takedown_bm25_postings(spark, _dels(docs), path)

    def die_on_tf_rewrite(p, merged):
        raise RuntimeError("killed before tf rewrite")

    monkeypatch.setattr(mnt, "_flat_swap", die_on_tf_rewrite)
    with pytest.raises(RuntimeError, match="killed"):
        purge_bm25_postings(spark, path)
    monkeypatch.undo()
    # df already decremented, tf rows still physical, tombstones standing
    assert os.path.exists(f"{path}/tombstones")
    assert _read_bm25_hwm(f"{path}/df", BM25_TD_HWM_FILE) == 0
    res = purge_bm25_postings(spark, path)
    assert res["n_df_rows_decremented"] == 0  # hwm gate: never re-applied
    assert res["n_df_rows_dropped"] == 0
    assert res["n_purged_tf"] > 0
    tf2, df2 = _bm25_rebuilt(spark, docs, tmp_path, "bm2")
    assert _tables_equal(spark.read.parquet(f"{path}/tf"), tf2)
    assert _tables_equal(spark.read.parquet(f"{path}/df"), df2)


def test_bm25_ingest_after_purge_preserves_td_hwm(spark, docs, tmp_path):
    """update_bm25_postings' df swap must carry the takedown hwm across —
    losing it would let a crashed purge replay re-decrement df."""
    path = str(tmp_path / "bm")
    batch1 = docs.filter("doc_id < 40")
    update_bm25_postings(batch1, path, 0)
    takedown_bm25_postings(spark, batch1.filter("doc_id % 7 = 3"), path)
    purge_bm25_postings(spark, path)
    assert _read_bm25_hwm(f"{path}/df", BM25_TD_HWM_FILE) == 0
    update_bm25_postings(docs.filter("doc_id >= 40"), path, 1)
    assert _read_bm25_hwm(f"{path}/df", BM25_TD_HWM_FILE) == 0  # survived
    assert _read_bm25_hwm(f"{path}/df") == 1  # ingest hwm advanced
    # a second takedown epoch continues past the preserved hwm
    takedown_bm25_postings(spark, docs.filter("doc_id = 50"), path)
    purge_bm25_postings(spark, path)
    assert _read_bm25_hwm(f"{path}/df", BM25_TD_HWM_FILE) == 1
    p2 = str(tmp_path / "bm2")
    update_bm25_postings(
        docs.filter(
            "NOT (doc_id < 40 AND doc_id % 7 = 3) AND doc_id <> 50"
        ),
        p2,
        0,
    )
    assert _tables_equal(
        spark.read.parquet(f"{path}/tf"), spark.read.parquet(f"{p2}/tf")
    )
    assert _tables_equal(
        spark.read.parquet(f"{path}/df"), spark.read.parquet(f"{p2}/df")
    )


def test_semantic_purge_crash_between_assigned_and_pairs(
    spark, tmp_path, monkeypatch
):
    """Kill the semantic purge after the assigned swap but before the
    pairs swap: tombstones stand, serving stays clean through the read
    helpers, and the re-run converges to the rebuilt state."""
    from real_time_stock_market_data_pipeline_spark.operators.clustering import (
        kmeans_fit,
    )
    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        init_semantic_index,
        update_semantic_index,
    )

    BASE = 1_000_000
    emb = (
        load_table(spark, SF, "embeddings")
        .filter("vec_id < 100")
        .selectExpr(
            "vec_id",
            "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding",
        )
        .localCheckpoint()
    )
    corpus = emb.unionByName(
        emb.filter("vec_id % 5 = 0").selectExpr(
            f"vec_id + {BASE} AS vec_id",
            "transform(embedding, (x, i) -> CAST(x AS DOUBLE) * "
            "(CAST(1.0 AS DOUBLE) + CAST(0.001 AS DOUBLE) * "
            "CAST(pmod(i + 1, 7) - 3 AS DOUBLE))) AS embedding",
        )
    ).localCheckpoint()
    cents = kmeans_fit(emb, k=4, n_iter=1).localCheckpoint()
    root = str(tmp_path / "sem")
    init_semantic_index(cents, root)
    update_semantic_index(spark, corpus, root, 0.95)
    dels = corpus.filter("vec_id % 7 = 3 AND vec_id < 100").select("vec_id")
    td.tombstone_semantic_index(spark, dels, root)

    real_swap = mnt._flat_swap
    calls = {"n": 0}

    def swap_once_then_die(p, merged):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("killed before pairs swap")
        real_swap(p, merged)

    monkeypatch.setattr(mnt, "_flat_swap", swap_once_then_die)
    with pytest.raises(RuntimeError, match="killed"):
        td.purge_semantic_index(spark, root)
    monkeypatch.undo()
    assert os.path.exists(f"{root}/tombstones")
    # serving stays clean in the half-purged state
    pr = td.semantic_pairs_minus_tombstones(spark, root)
    assert pr.join(
        dels.withColumnRenamed("vec_id", "vec_a"), "vec_a", "left_semi"
    ).isEmpty()
    td.purge_semantic_index(spark, root)
    root2 = str(tmp_path / "sem2")
    init_semantic_index(cents, root2)
    update_semantic_index(
        spark, corpus.join(dels, "vec_id", "left_anti"), root2, 0.95
    )
    for sub in ("assigned", "pairs"):
        assert _tables_equal(
            spark.read.parquet(f"{root}/{sub}"),
            spark.read.parquet(f"{root2}/{sub}"),
        ), sub


def test_takedown_umbrella_rejects_unknown_family(spark, docs, tmp_path):
    with pytest.raises(ValueError, match="unknown takedown family"):
        td.takedown(spark, docs.select("doc_id"), {"nope": str(tmp_path)})
    with pytest.raises(ValueError, match="unknown takedown family"):
        td.purge_takedown(spark, {"nope": str(tmp_path)})
    with pytest.raises(ValueError, match="unknown takedown family"):
        td.takedown_compliance(spark, docs.select("doc_id"), {"nope": str(tmp_path)})


def test_gate_readers_are_tombstone_aware(spark, docs, tmp_path):
    """The production check-time gates (contaminated_docs_from_table /
    near_contaminated / candidate pairs / media fingerprints) must stop
    matching a tombstoned doc IMMEDIATELY — before any purge runs."""
    from real_time_stock_market_data_pipeline_spark.operators.dedup import (
        candidate_pairs_from_table,
        contaminated_docs_from_table,
        update_test_shingle_table,
    )

    p_sh = str(tmp_path / "sh")
    # make doc 3 a verbatim leak: its own text re-enters "training"
    update_test_shingle_table(docs, p_sh)
    train = docs.filter("doc_id % 7 = 3").select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    flagged = contaminated_docs_from_table(train, p_sh)
    assert flagged.count() > 0  # leaks visible pre-takedown
    td.tombstone_doc_keyed_table(
        spark, docs.filter("doc_id % 7 = 3").select("doc_id"), p_sh
    )
    # the retired benchmark docs no longer gate anything
    assert contaminated_docs_from_table(train, p_sh).isEmpty()
    # dd9's pair reader likewise drops pairs touching tombstoned docs
    p_sig = str(tmp_path / "sig")
    dup = docs.unionByName(
        docs.filter("doc_id % 7 = 3").select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    update_signature_table(dup, p_sig)
    pairs0 = candidate_pairs_from_table(spark, p_sig)
    assert pairs0.count() > 0
    td.tombstone_doc_keyed_table(
        spark, docs.filter("doc_id % 7 = 3").select("doc_id"), p_sig
    )
    pairs1 = candidate_pairs_from_table(spark, p_sig)
    dels = docs.filter("doc_id % 7 = 3").select("doc_id")
    assert pairs1.join(
        dels.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi"
    ).isEmpty()
    assert pairs1.join(
        dels.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi"
    ).isEmpty()


def test_umbrella_reaches_ivfpq_family(spark, tmp_path):
    """takedown()/purge_takedown() must dispatch the ivfpq family through
    the existing delete_from_ivfpq_index / purge_ivfpq_tombstones ops —
    one removal call reaching the serving index with the same replay and
    purge semantics the direct path has."""
    from pyspark.sql import functions as F

    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        init_ivfpq_index,
        ivfpq_fit,
        search_ivfpq_index,
        update_ivfpq_index,
    )

    emb = (
        load_table(spark, SF, "embeddings")
        .filter("vec_id < 120")
        .selectExpr(
            "vec_id",
            "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding",
        )
        .localCheckpoint()
    )
    path = str(tmp_path / "ivfpq")
    coarse, fine = ivfpq_fit(emb.filter("vec_id < 60"), n_lists=4, n_iter=1)
    init_ivfpq_index(spark, coarse, fine, path)
    update_ivfpq_index(spark, emb, path)
    n_all = spark.read.parquet(f"{path}/index").count()
    dels = emb.filter("vec_id % 9 = 2").select("vec_id")
    n_del = dels.count()
    m1 = td.takedown(spark, dels, {"ivfpq": path}, id_col="vec_id")
    assert m1["ivfpq"]["n_new_tombstones"] == n_del
    m2 = td.takedown(spark, dels, {"ivfpq": path}, id_col="vec_id")
    assert m2["ivfpq"]["n_new_tombstones"] == 0
    q = emb.filter("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    served = search_ivfpq_index(spark, path, q, emb, k=5, n_probe=4)
    assert served.join(dels, "vec_id", "left_semi").isEmpty()
    pg = td.purge_takedown(spark, {"ivfpq": path}, id_col="vec_id")
    assert pg["ivfpq"]["n_purged"] == n_del
    assert not os.path.exists(f"{path}/tombstones")
    assert spark.read.parquet(f"{path}/index").count() == n_all - n_del


def _emb(spark, n=100):
    return (
        load_table(spark, SF, "embeddings")
        .filter(f"vec_id < {n}")
        .selectExpr(
            "vec_id",
            "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding",
        )
        .localCheckpoint()
    )


def test_umbrella_reaches_ivf_family(spark, tmp_path):
    """The r16 verdict's symmetry edge #1: the flat IVF float-list index.
    takedown()/purge_takedown() dispatch family "ivf" through
    delete_from_ivf_index / purge_ivf_tombstones; search_ivf_index is
    tombstone-aware between the two (gate-reader extension), and the
    purged lists equal update_ivf_index ingest of corpus-minus-deleted
    (fixed codebook ⇒ deletion commutes)."""
    from real_time_stock_market_data_pipeline_spark.operators.clustering import (
        kmeans_fit,
    )
    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        init_ivf_index,
        search_ivf_index,
        update_ivf_index,
    )

    emb = _emb(spark)
    cents = kmeans_fit(emb, k=4, n_iter=1).localCheckpoint()
    path = str(tmp_path / "ivf")
    init_ivf_index(cents, path)
    update_ivf_index(spark, emb, path)
    n_all = spark.read.parquet(f"{path}/lists").count()
    dels = emb.filter("vec_id % 9 = 2").select("vec_id")
    n_del = dels.count()
    m1 = td.takedown(spark, dels, {"ivf": path}, id_col="vec_id")
    assert m1["ivf"]["n_new_tombstones"] == n_del
    m2 = td.takedown(spark, dels, {"ivf": path}, id_col="vec_id")
    assert m2["ivf"]["n_new_tombstones"] == 0
    # serve-clean through the REAL reader: each deleted vector queries
    # the index with every list probed — if still served it would be its
    # own distance-0 top hit
    q = emb.join(dels, "vec_id", "left_semi").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    hits = search_ivf_index(spark, path, q, k=1, n_probe=4)
    assert hits.join(dels, "vec_id", "left_semi").isEmpty()
    pg = td.purge_takedown(spark, {"ivf": path}, id_col="vec_id")
    assert pg["ivf"]["n_purged"] == n_del
    assert not os.path.exists(f"{path}/tombstones")
    assert spark.read.parquet(f"{path}/lists").count() == n_all - n_del
    # equals-rebuild under the same codebook
    p2 = str(tmp_path / "ivf2")
    init_ivf_index(cents, p2)
    update_ivf_index(spark, emb.join(dels, "vec_id", "left_anti"), p2)
    assert _tables_equal(
        spark.read.parquet(f"{path}/lists"), spark.read.parquet(f"{p2}/lists")
    )


def test_ivf_search_absent_lists_serves_empty(spark, tmp_path):
    """A zero-survivor purge removes the whole lists table; the reader
    contract says absent = empty, so search returns no rows instead of
    raising (r16 ADVICE low, applied to the new family)."""
    from real_time_stock_market_data_pipeline_spark.operators.clustering import (
        kmeans_fit,
    )
    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        init_ivf_index,
        search_ivf_index,
        update_ivf_index,
    )

    emb = _emb(spark, 30)
    cents = kmeans_fit(emb, k=2, n_iter=1).localCheckpoint()
    path = str(tmp_path / "ivf")
    init_ivf_index(cents, path)
    update_ivf_index(spark, emb, path)
    td.takedown(spark, emb.select("vec_id"), {"ivf": path}, id_col="vec_id")
    td.purge_takedown(spark, {"ivf": path}, id_col="vec_id")
    assert read_parquet_if_exists(spark, f"{path}/lists") is None
    q = emb.limit(2).selectExpr("vec_id AS query_id", "embedding")
    res = search_ivf_index(spark, path, q, k=3, n_probe=2)
    assert res.count() == 0
    assert set(res.columns) == {"query_id", "vec_id", "cosine_sim", "rk"}


def test_ivfpq_delete_and_search_after_zero_survivor_purge(spark, tmp_path):
    """A zero-survivor purge removes the whole ivfpq index table; the
    module contract says absent = empty, so a REPLAYED takedown must
    return n_new_tombstones=0 instead of raising (replay-idempotence
    through the umbrella — r17 ADVICE medium) and search must serve
    empty before ever loading quantizers or paying the probe pass
    (r17 ADVICE low)."""
    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        delete_from_ivfpq_index,
        init_ivfpq_index,
        ivfpq_fit,
        search_ivfpq_index,
        update_ivfpq_index,
    )

    emb = _emb(spark, 30)
    coarse, fine = ivfpq_fit(emb, n_lists=2, n_iter=1)
    path = str(tmp_path / "ivfpq")
    init_ivfpq_index(spark, coarse, fine, path)
    update_ivfpq_index(spark, emb, path)
    td.takedown(spark, emb.select("vec_id"), {"ivfpq": path}, id_col="vec_id")
    td.purge_takedown(spark, {"ivfpq": path}, id_col="vec_id")
    assert read_parquet_if_exists(spark, f"{path}/index") is None
    # replayed takedown on the fully-purged index: absent-as-empty,
    # zero new tombstones, no raise
    m = td.takedown(
        spark, emb.select("vec_id"), {"ivfpq": path}, id_col="vec_id"
    )
    assert m["ivfpq"]["n_new_tombstones"] == 0
    m2 = delete_from_ivfpq_index(spark, emb.select("vec_id"), path)
    assert m2["n_new_tombstones"] == 0
    # search takes the absent-as-empty branch (quantizers still on disk)
    q = emb.limit(2).selectExpr("vec_id AS query_id", "embedding")
    res = search_ivfpq_index(spark, path, q, emb, k=3, n_probe=2)
    assert res.count() == 0
    assert set(res.columns) == {"query_id", "vec_id", "l2_dist", "rk"}
    # and the audit sees the family as clean, not crashed
    rep = td.takedown_compliance(
        spark, emb.select("vec_id"), {"ivfpq": path}, id_col="vec_id"
    ).collect()[0]
    assert rep.status == "clean" and rep.serving_clean


def test_ivfpq_search_never_initialized_root_serves_empty(spark, tmp_path):
    """search_ivfpq_index on a root that was never initialized must take
    the absent-as-empty branch, not raise from the quantizer load
    (the moved-check ordering, r17 ADVICE low)."""
    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        search_ivfpq_index,
    )

    emb = _emb(spark, 10)
    q = emb.limit(2).selectExpr("vec_id AS query_id", "embedding")
    res = search_ivfpq_index(
        spark, str(tmp_path / "never_init"), q, emb, k=3, n_probe=2
    )
    assert res.count() == 0


def test_takedown_rename_validation_fails_loudly(spark, tmp_path):
    """id_cols re-keying validates the request frame up front: a missing
    source column or a pre-existing target column raises at the rename
    site instead of surfacing as a silent no-op semi-join or an
    ambiguous-column error downstream (r17 ADVICE low)."""
    ids = spark.createDataFrame([(1, 2)], "doc_id long, vec_id long")
    with pytest.raises(ValueError, match="already has a column"):
        td.takedown(
            spark, ids, {"signatures": str(tmp_path / "sig")},
            id_col="doc_id", id_cols={"signatures": "vec_id"},
        )
    renamed_away = spark.createDataFrame([(1,)], "other long")
    with pytest.raises(ValueError, match="no column"):
        td.takedown(
            spark, renamed_away, {"signatures": str(tmp_path / "sig")},
            id_col="doc_id", id_cols={"signatures": "vec_id"},
        )


def test_umbrella_reaches_pq_family(spark, tmp_path):
    """Symmetry edge #2: the flat PQ code table — the generic flat
    doc-keyed contract applied to {path}/codes, served through the
    tombstone-aware read_pq_codes."""
    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        init_pq_index,
        pq_fit,
        read_pq_codes,
        update_pq_codes,
    )

    emb = _emb(spark)
    cbs = pq_fit(emb, m=8, k=8, n_iter=1)
    path = str(tmp_path / "pq")
    init_pq_index(spark, cbs, path)
    update_pq_codes(spark, emb, path)
    n_all = spark.read.parquet(f"{path}/codes").count()
    dels = emb.filter("vec_id % 9 = 2").select("vec_id")
    n_del = dels.count()
    m1 = td.takedown(spark, dels, {"pq": path}, id_col="vec_id")
    assert m1["pq"]["n_new_tombstones"] == n_del
    assert (
        td.takedown(spark, dels, {"pq": path}, id_col="vec_id")["pq"][
            "n_new_tombstones"
        ]
        == 0
    )
    assert read_pq_codes(spark, path).join(dels, "vec_id", "left_semi").isEmpty()
    pg = td.purge_takedown(spark, {"pq": path}, id_col="vec_id")
    assert pg["pq"]["n_purged"] == n_del
    assert not os.path.exists(f"{path}/codes__tombstones")
    p2 = str(tmp_path / "pq2")
    init_pq_index(spark, cbs, p2)
    update_pq_codes(spark, emb.join(dels, "vec_id", "left_anti"), p2)
    assert _tables_equal(
        spark.read.parquet(f"{path}/codes"), spark.read.parquet(f"{p2}/codes")
    )
    # zero-survivor path: purge everything → codes table absent, reader None
    td.takedown(spark, emb.select("vec_id"), {"pq": path}, id_col="vec_id")
    td.purge_takedown(spark, {"pq": path}, id_col="vec_id")
    assert read_pq_codes(spark, path) is None


def test_umbrella_reaches_latest_revisions_family(spark, docs, tmp_path):
    """Symmetry edge #3: dd14's current-state table.  Erasure-now
    (tombstone excludes the winner immediately; purge removes it, its
    key goes ABSENT), convergence-at-next-crawl (re-ingesting
    snapshots-minus-deleted converges to keep-latest over exactly that
    corpus — order-robust upsert)."""
    from real_time_stock_market_data_pipeline_spark.operators.dedup import (
        keep_latest_dedup,
        upsert_latest_revisions,
    )

    snaps = docs.select(
        (F.col("doc_id") % 10).alias("url"),
        F.col("doc_id").cast("bigint").alias("ts"),
        "doc_id",
        "text",
    ).localCheckpoint()
    path = str(tmp_path / "rev")
    upsert_latest_revisions(spark, snaps, path, ["url"], "ts", "doc_id")
    store = spark.read.parquet(path)
    winners = [r[0] for r in store.select("doc_id").collect()]
    dels = _dels(docs)
    del_winners = [r[0] for r in dels.collect() if r[0] in winners]
    m1 = td.takedown(spark, dels, {"latest_revisions": path})
    # only ids PRESENT in the store tombstone (winners only)
    assert m1["latest_revisions"]["n_new_tombstones"] == len(del_winners)
    assert (
        td.takedown(spark, dels, {"latest_revisions": path})[
            "latest_revisions"
        ]["n_new_tombstones"]
        == 0
    )
    served = td.minus_tombstones(spark.read.parquet(path), spark, path)
    assert served.join(dels, "doc_id", "left_semi").isEmpty()
    pg = td.purge_takedown(spark, {"latest_revisions": path})
    assert pg["latest_revisions"]["n_purged"] == len(del_winners)
    assert spark.read.parquet(path).count() == len(winners) - len(del_winners)
    # next crawl: replay everything except the erased snapshots, in a
    # scrambled batch order — the order-robust merge converges
    recrawl = snaps.join(dels, "doc_id", "left_anti")
    for part in (recrawl.filter("ts % 2 = 1"), recrawl.filter("ts % 2 = 0")):
        upsert_latest_revisions(spark, part, path, ["url"], "ts", "doc_id")
    assert _tables_equal(
        spark.read.parquet(path),
        keep_latest_dedup(recrawl, ["url"], "ts", "doc_id"),
    )


def test_bm25_total_zero_purge_leaves_readable_df(spark, tmp_path):
    """After a purge that zeroes EVERY df row the df dir legally holds
    only hwm files; read_bm25_df treats it as an empty table and the
    posting-table scorer keeps working (r16 ADVICE low)."""
    from real_time_stock_market_data_pipeline_spark.operators.text import (
        read_bm25_df,
    )

    docs = spark.createDataFrame(
        [(1, "alpha bravo"), (2, "charlie delta")], "doc_id int, text string"
    )
    path = str(tmp_path / "bm")
    update_bm25_postings(docs, path, 0)
    takedown_bm25_postings(spark, docs.select("doc_id"), path)
    res = purge_bm25_postings(spark, path)
    assert res["n_df_rows_dropped"] == res["n_df_rows_decremented"]
    assert read_parquet_if_exists(spark, f"{path}/df") is None
    assert os.path.exists(f"{path}/df")  # hwm files survive for replay gating
    assert _read_bm25_hwm(f"{path}/df", BM25_TD_HWM_FILE) == 0
    empty = read_bm25_df(spark, path)
    assert empty.count() == 0
    assert set(empty.columns) == {"tok", "df"}


def test_ivf_purge_crash_mid_partition_renames_converges(
    spark, tmp_path, monkeypatch
):
    """Kill the flat-IVF purge inside the staged-partition swap (after
    the durability mark, mid-renames): tombstones still stand (cleared
    LAST), serving stays clean through the tombstone-aware reader, and
    the re-run purge heals the displaced partitions and converges to
    the rebuilt state — the shared _purge_partitioned_tombstones
    contract under the centroid_id= layout."""
    from real_time_stock_market_data_pipeline_spark.operators import (
        similarity as sim,
    )
    from real_time_stock_market_data_pipeline_spark.operators.clustering import (
        kmeans_fit,
    )
    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        init_ivf_index,
        search_ivf_index,
        update_ivf_index,
    )

    emb = _emb(spark)
    cents = kmeans_fit(emb, k=4, n_iter=1).localCheckpoint()
    path = str(tmp_path / "ivf")
    init_ivf_index(cents, path)
    update_ivf_index(spark, emb, path)
    n_all = spark.read.parquet(f"{path}/lists").count()
    dels = emb.filter("vec_id % 9 = 2").select("vec_id")
    n_del = dels.count()
    td.takedown(spark, dels, {"ivf": path}, id_col="vec_id")

    real_rename = os.rename
    calls = {"n": 0}

    def die_on_second_rename(src, dst):
        if "centroid_id=" in str(src) or "centroid_id=" in str(dst):
            calls["n"] += 1
            if calls["n"] >= 2:
                raise RuntimeError("killed mid-partition renames")
        real_rename(src, dst)

    monkeypatch.setattr(sim.os, "rename", die_on_second_rename)
    with pytest.raises(RuntimeError, match="killed"):
        td.purge_takedown(spark, {"ivf": path}, id_col="vec_id")
    monkeypatch.undo()
    # tombstones are the standing recovery signal, and serving stays
    # clean in the half-swapped state (heal-before-read + anti-join)
    assert os.path.exists(f"{path}/tombstones")
    q = emb.join(dels, "vec_id", "left_semi").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    hits = search_ivf_index(spark, path, q, k=1, n_probe=4)
    assert hits.join(dels, "vec_id", "left_semi").isEmpty()
    # the re-run purge converges; a second replay is a no-op
    td.purge_takedown(spark, {"ivf": path}, id_col="vec_id")
    assert not os.path.exists(f"{path}/tombstones")
    lists = spark.read.parquet(f"{path}/lists")
    assert lists.count() == n_all - n_del
    assert lists.join(dels, "vec_id", "left_semi").isEmpty()
    assert [
        e for e in os.listdir(path) if "__staging_" in e or "__old_" in e
    ] == []
    assert td.purge_takedown(spark, {"ivf": path}, id_col="vec_id")["ivf"] == {
        "n_purged": 0, "n_lists_rewritten": 0,
    }


def test_umbrella_reaches_curriculum_family(spark, tmp_path):
    """The curriculum store joins the takedown umbrella (r18): tombstones
    hide deleted docs from the manifest immediately (membership-exact —
    counts/bands/checksum drop, standing ranks stay until purge), replay
    appends nothing, the compliance audit walks the family, and the
    purge is RANK-REPAIRING: post-purge the store equals a one-shot
    shard build over corpus-minus-deleted under the frozen model (the
    one family where removal shifts other rows' derived state)."""
    from real_time_stock_market_data_pipeline_spark.operators import text as txt

    docs = load_table(spark, SF, "documents").filter("text IS NOT NULL")
    root = str(tmp_path / "cur")
    txt.init_curriculum_store(spark, docs, root)
    n_all = spark.read.parquet(f"{root}/docs").count()
    dels = docs.filter("doc_id % 7 = 3").select("doc_id")
    # only docs actually IN the store count (sub-2-token docs never enter)
    n_del = (
        spark.read.parquet(f"{root}/docs")
        .join(dels, "doc_id", "left_semi")
        .count()
    )
    assert n_del > 0
    m1 = td.takedown(spark, dels, {"curriculum": root})
    assert m1["curriculum"] == {
        "n_batch_ids": dels.count(), "n_new_tombstones": n_del,
    }
    m2 = td.takedown(spark, dels, {"curriculum": root})
    assert m2["curriculum"]["n_new_tombstones"] == 0
    # serving (manifest) excludes deleted docs while rows are physical
    man = txt.curriculum_manifest(spark, root).toPandas()
    assert int(man["n_docs"].sum()) == n_all - n_del
    rep = td.takedown_compliance(spark, dels, {"curriculum": root}).collect()[0]
    assert rep.status == "pending_purge" and rep.serving_clean
    assert rep.n_physical_docs_remaining == n_del
    # purge: physical removal + rank repair
    pg = td.purge_takedown(spark, {"curriculum": root})
    assert pg["curriculum"]["n_purged"] == n_del
    assert not os.path.exists(f"{root}/tombstones")
    got = spark.read.parquet(f"{root}/docs")
    assert got.count() == n_all - n_del
    bc, uc, v = txt.load_curriculum_model(spark, root)
    remaining = docs.join(dels, "doc_id", "left_anti")
    ref = txt._with_shards(
        txt._with_wrk(txt.score_under_curriculum_model(remaining, bc, uc, v)),
        txt.CURRICULUM_SHARDS,
    ).select("doc_id", "ppl", "n_tokens", "bucket", "wrk", "shard_id")
    assert _tables_equal(got.select(*ref.columns), ref)
    rep2 = td.takedown_compliance(spark, dels, {"curriculum": root}).collect()[0]
    assert rep2.status == "clean" and rep2.n_physical_docs_remaining == 0
    # replayed purge with no standing tombstones: clean no-op
    assert td.purge_takedown(spark, {"curriculum": root})["curriculum"] == {
        "n_purged": 0, "n_shards_rewritten": 0,
    }


def test_umbrella_threaded_equals_sequential(spark, docs, tmp_path):
    """r18 optimization pin: multi-family umbrella requests run their
    per-family helpers on driver threads (takedown._per_family) — safe
    only while every helper touches nothing but its own store root.
    Build two identical three-family store sets and prove the threaded
    umbrella (takedown / compliance / purge over 3 families at once)
    returns exactly the counters, compliance rows, and physical table
    contents of per-family sequential calls (the len==1 short-circuit
    path _per_family keeps)."""
    from real_time_stock_market_data_pipeline_spark.operators.dedup import (
        update_test_shingle_table,
    )

    dels = _dels(docs).localCheckpoint()
    stores: dict[str, dict[str, str]] = {}
    for tag in ("thr", "seq"):
        paths = {
            "signatures": str(tmp_path / f"sig_{tag}"),
            "shingles": str(tmp_path / f"sh_{tag}"),
            "segmentations": str(tmp_path / f"seg_{tag}"),
        }
        update_signature_table(docs, paths["signatures"])
        update_test_shingle_table(docs, paths["shingles"])
        update_test_shingle_table(docs, paths["segmentations"])
        stores[tag] = paths

    m_thr = td.takedown(spark, dels, stores["thr"])
    m_seq = {
        fam: td.takedown(spark, dels, {fam: path})[fam]
        for fam, path in stores["seq"].items()
    }
    assert m_thr == m_seq

    c_thr = td.takedown_compliance(spark, dels, stores["thr"]).collect()
    c_seq = [
        td.takedown_compliance(spark, dels, {fam: path}).collect()[0]
        for fam, path in sorted(stores["seq"].items())
    ]
    assert c_thr == c_seq
    assert all(r.status == "pending_purge" for r in c_thr)

    p_thr = td.purge_takedown(spark, stores["thr"])
    p_seq = {
        fam: td.purge_takedown(spark, {fam: path})[fam]
        for fam, path in stores["seq"].items()
    }
    assert p_thr == p_seq
    for fam in stores["thr"]:
        assert _tables_equal(
            spark.read.parquet(stores["thr"][fam]),
            spark.read.parquet(stores["seq"][fam]),
        )


def _fixture_vectors(spark, n=64, dim=8):
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (F.col("id") * 7 + j * 3).cast("double") % 11.0,
        ).alias("embedding"),
    )


def test_purge_partitioned_single_scan_metrics(spark, tmp_path):
    """touched/n_purged from the one-job groupBy must equal the old
    collect+count pair's values."""
    df = _fixture_vectors(spark)
    coarse, fine = sim.ivfpq_fit(df, n_lists=4, m=2, k=4, n_iter=1)
    path = str(tmp_path / "ivfpq")
    sim.init_ivfpq_index(spark, coarse, fine, path)
    sim.update_ivfpq_index(spark, df, path)
    dels = df.filter("vec_id % 5 = 0").select("vec_id")
    n_dels = dels.count()
    sim.delete_from_ivfpq_index(spark, dels, path)
    res = sim.purge_ivfpq_tombstones(spark, path)
    assert res["n_purged"] == n_dels
    idx = spark.read.parquet(f"{path}/index")
    assert idx.count() == 64 - n_dels
    assert idx.join(dels, "vec_id", "left_semi").count() == 0


def test_purge_doc_keyed_single_scan_metrics(spark, tmp_path):
    from real_time_stock_market_data_pipeline_spark.operators.takedown import (
        purge_doc_keyed_table,
        tombstone_doc_keyed_table,
    )

    path = str(tmp_path / "tab")
    tab = spark.range(40).select(
        F.col("id").alias("doc_id"), (F.col("id") * 2).alias("v")
    )
    tab.write.parquet(path)
    ids = spark.range(40).filter("id % 4 = 0").select(F.col("id").alias("doc_id"))
    tombstone_doc_keyed_table(spark, ids, path)
    res = purge_doc_keyed_table(spark, path)
    assert res["n_purged"] == 10
    left = spark.read.parquet(path)
    assert left.count() == 30
    assert left.filter("doc_id % 4 = 0").count() == 0


def test_purge_semantic_single_scan_metrics(spark, tmp_path):
    """n_purged_assigned / n_purged_pairs from the one-scan aggregates
    must match the old two-scan formulas, including the either-end pair
    retraction."""
    from real_time_stock_market_data_pipeline_spark.operators.takedown import (
        purge_semantic_index,
        tombstone_semantic_index,
    )

    root = str(tmp_path / "sem")
    assigned = spark.range(20).select(
        F.col("id").alias("vec_id"), F.lit(0).alias("cid")
    )
    assigned.write.parquet(f"{root}/assigned")
    pairs = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 5), (6, 7), (8, 9)], "vec_a long, vec_b long"
    )
    pairs.write.parquet(f"{root}/pairs")
    # delete 0 (pair end a), 3 (pair end b), 11 (no pair)
    dels = spark.createDataFrame([(0,), (3,), (11,)], "vec_id long")
    tombstone_semantic_index(spark, dels, root)
    res = purge_semantic_index(spark, root)
    assert res["n_purged_assigned"] == 3
    assert res["n_purged_pairs"] == 2  # (0,1) and (2,3)
    left = spark.read.parquet(f"{root}/pairs")
    assert sorted(tuple(r) for r in left.collect()) == [(4, 5), (6, 7), (8, 9)]


def test_purge_bm25_tf_single_scan_metrics(spark, tmp_path):
    """n_purged_tf from the shared one-scan count equals the tombstoned
    docs' tf rows; a purge that leaves no tf row removes the table."""
    docs = spark.createDataFrame(
        [(1, "alpha bravo"), (2, "bravo charlie"), (3, "delta")],
        "doc_id int, text string",
    )
    path = str(tmp_path / "bm")
    update_bm25_postings(docs, path, 0)
    tf = spark.read.parquet(f"{path}/tf")
    n_all, n_one = tf.count(), tf.filter("doc_id = 1").count()
    takedown_bm25_postings(spark, docs.filter("doc_id = 1").select("doc_id"), path)
    assert purge_bm25_postings(spark, path)["n_purged_tf"] == n_one
    left = spark.read.parquet(f"{path}/tf")
    assert left.count() == n_all - n_one
    assert left.filter("doc_id = 1").isEmpty()
    # zero survivors: every remaining tf row is tombstoned
    takedown_bm25_postings(spark, docs.select("doc_id"), path)
    assert purge_bm25_postings(spark, path)["n_purged_tf"] == n_all - n_one
    assert read_parquet_if_exists(spark, f"{path}/tf") is None
    assert not os.path.exists(td.store_tombstone_path(path))
