"""Focused pins for the r18 optimization-round operator internals:
``_observed_count`` (counts riding the chain's own action), the shared
curriculum training and semantic dedup's ``centroids`` parameter.  Each
changes HOW a value is produced, never the value — these tests pin
that.  The persisted-codebook memo is pinned in
tests/test_store_cache.py."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_observed_count_rides_the_consuming_action(spark):
    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        _observed_count,
    )

    base = spark.range(500).withColumn("v", F.col("id") * 2)
    obs_df, get = _observed_count(base)
    # downstream filter drops every row — the observation still sees the
    # full pre-filter cardinality because the scan runs under the action
    assert obs_df.filter("id < 0").count() == 0
    assert get() == 500


def test_observed_count_in_update_replay_keeps_n_batch(spark, tmp_path):
    """update_pq_codes' replay appends nothing (n_new=0) but n_batch must
    still count the DELIVERED batch — the dropped-row monitor signal —
    now that it rides the encode action instead of a dedicated count."""
    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        init_pq_index,
        pq_fit,
        update_pq_codes,
    )
    from real_time_stock_market_data_pipeline_spark.sources.readers import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding"
    )
    n = emb.count()
    path = str(tmp_path / "pq")
    init_pq_index(
        spark, pq_fit(emb.filter("vec_id < 100"), m=4, k=8, n_iter=1), path
    )
    first = update_pq_codes(spark, emb, path)
    assert first == {"n_batch": n, "n_new": n}
    replay = update_pq_codes(spark, emb, path)
    assert replay == {"n_batch": n, "n_new": 0}


def test_curriculum_shared_train_scores_identically(spark):
    """_train_curriculum_model_shared's checkpointed bigram frame feeds
    score_under_curriculum_model(bigp=...) with values identical to the
    re-derived path."""
    from real_time_stock_market_data_pipeline_spark.operators.text import (
        _train_curriculum_model_shared,
        score_under_curriculum_model,
    )
    from real_time_stock_market_data_pipeline_spark.sources.readers import (
        load_table,
    )

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .filter(F.col("text").isNotNull())
        .limit(50)
        .localCheckpoint()
    )
    bc, uc, v, bigp = _train_curriculum_model_shared(docs)
    with_bigp = score_under_curriculum_model(docs, bc, uc, v, bigp=bigp)
    without = score_under_curriculum_model(docs, bc, uc, v)
    a = sorted(map(tuple, with_bigp.collect()))
    b = sorted(map(tuple, without.collect()))
    assert a == b


def test_semantic_dedup_centroids_param_identical(spark):
    """semantic_dedup(centroids=...) with the exact kmeans_fit rows must
    equal the in-operator fit path row-for-row (the emb15/emb16 memo's
    value-invisibility), for BOTH keep policies; a k-mismatched codebook
    fails loudly."""
    import pytest as _pytest

    from real_time_stock_market_data_pipeline_spark.operators.clustering import (
        kmeans_fit,
    )
    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        semantic_dedup,
        semdedup_k,
    )
    from real_time_stock_market_data_pipeline_spark.sources.readers import (
        load_table,
    )

    corpus = (
        load_table(spark, "/root/testdata/sf0.001", "embeddings")
        .selectExpr(
            "vec_id",
            "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding",
        )
        .localCheckpoint()
    )
    k = semdedup_k(corpus.count())
    rows = [
        (int(r["centroid_id"]), [float(x) for x in r["embedding"]])
        for r in kmeans_fit(corpus, k=k, n_iter=2).collect()
    ]
    for policy in ("min_id", "farthest"):
        plain = sorted(
            map(tuple, semantic_dedup(corpus, keep_policy=policy).collect())
        )
        with_cents = sorted(
            map(
                tuple,
                semantic_dedup(
                    corpus, k=k, keep_policy=policy, centroids=rows
                ).collect(),
            )
        )
        assert plain == with_cents, policy
    with _pytest.raises(ValueError, match="centroids has"):
        semantic_dedup(corpus, k=k, centroids=rows[:-1])
