"""Focused pins for the r19 optimization-round operator internals:
the single-scan purge metrics (values ≡ the old two-scan formulas), the
rebuild coverage validation now raising BETWEEN the coarse and fine
fits, and the clear dim-mismatch errors on the arrow encode paths.  Each
change alters HOW a value is produced or WHEN an error surfaces, never
the value — these tests pin that.  The written-codebook prime is pinned
in tests/test_store_cache.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline_spark.operators import similarity as sim


def _fixture_vectors(spark, n=64, dim=8):
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (F.col("id") * 7 + j * 3).cast("double") % 11.0,
        ).alias("embedding"),
    )


def test_rebuild_ivfpq_coverage_raises_before_fine_fit(spark, tmp_path, monkeypatch):
    """The r18 verdict's failure-path item: a doomed rebuild must raise
    the coverage mismatch after the COARSE fit, never paying the fine
    retrain — and still mutate nothing on disk."""
    import os

    df = _fixture_vectors(spark)
    coarse, fine = sim.ivfpq_fit(df, n_lists=4, m=2, k=4, n_iter=1)
    path = str(tmp_path / "ivfpq")
    sim.init_ivfpq_index(spark, coarse, fine, path)
    sim.update_ivfpq_index(spark, df, path)
    calls = []
    real_fit = sim.pq_fit

    def counting_fit(*args, **kwargs):
        calls.append(kwargs.get("m", args[1] if len(args) > 1 else None))
        return real_fit(*args, **kwargs)

    monkeypatch.setattr(sim, "pq_fit", counting_fit)
    before = sorted(os.listdir(str(tmp_path)))
    with pytest.raises(ValueError, match="covers"):
        # corpus missing half the accumulated ids — partial coverage
        sim.rebuild_ivfpq_index(
            spark, df.filter("vec_id % 2 = 0"), path, n_lists=4, n_iter=1
        )
    assert len(calls) == 1, "fine fit must not run on the doomed path"
    assert sorted(os.listdir(str(tmp_path))) == before  # no fs mutation


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


def test_pq_encode_dim_mismatch_is_loud(spark):
    """A dim-changing rebuild corpus must die with the CLEAR error, not
    numpy's opaque reshape message (r18 ADVICE)."""
    df = _fixture_vectors(spark, dim=8)
    cbs = sim.pq_fit(df, m=2, k=4, n_iter=1)
    wider = _fixture_vectors(spark, dim=12)
    with pytest.raises(Exception, match="dim-changing rebuild"):
        sim.pq_encode(wider, cbs, arrow=True).select("pq_codes").collect()
