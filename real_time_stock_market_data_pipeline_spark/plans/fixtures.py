"""Session-memoized fixture fits shared across verification queries.

Many queries train the same quantizers on the same input inside their
plan: the ANN league (emb13 / emb19 / emb21) fits one default IVF-PQ pair
on the full embeddings table, dq4/dq5 fit their own parameters on a
planted fixture segment, and a bench or driver session re-enters each
query per pass.  Every fit here is a pure deterministic function of
``sf_dir`` and its parameters, so it is memoized per (application,
sf_dir, tag, params) through ``store_cache.memo``: a consumer receives
bit-identical values whether it hits or misses, and a miss trains
exactly as before, so each query stays independently runnable.  A caller
passing a fixture frame names its rendering with ``tag`` and owns the
invariant that the frame derives from ``sf_dir`` alone.

Only driver-side codebook values are cached, never a DataFrame (see
``store_cache``).  Consumers that need the encoded index (emb13)
re-encode per call under the cached quantizers and hold their own
per-execution checkpoint.

``scratch_store`` hands out the one kind of directory the lifecycle
queries write: a fresh store under the temp dir, removed at exit.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import SparkSession

from ..sources.readers import load_table
from ..store_cache import memo


def shared_ivfpq_fit(spark: SparkSession, sf_dir: str, n_iter: int = 2):
    """(coarse, fine) for ``ivfpq_fit(emb, n_iter)`` over the full
    embeddings table — trained at most once per Spark application per
    (sf_dir, n_iter); both are bounded driver-side codebooks.  The
    default n_iter=2 pair is the emb13/emb19/emb21 league fit; n_iter=0
    is emb14's seed-only pair (its gate checks accumulated ≡ one-shot
    under the SAME quantizers, so codebook quality is irrelevant to it)."""
    from ..operators.similarity import ivfpq_fit

    return memo(
        spark, ("shared_ivfpq_fit", sf_dir, n_iter),
        lambda: ivfpq_fit(load_table(spark, sf_dir, "embeddings"), n_iter=n_iter),
    )


def dq5_fixture_ivfpq_fit(
    spark: SparkSession, sf_dir: str, old, n_lists: int, m: int, k: int,
    n_iter: int,
):
    """dq5's pre-drift-era ``ivfpq_fit(old, n_lists, m, k, n_iter)``,
    memoized per (Spark application, sf_dir, params): ``old`` is the
    dq4 planted fixture — a pure deterministic rendering of sf_dir's
    embeddings table — so every consumer receives bit-identical
    codebooks whether it hits or misses (a miss just trains as
    before), and the cache key pins session + corpus + quantizer
    shape.  Only the driver-side (coarse, fine) codebook pair is
    cached, per the module rule."""
    from ..operators.similarity import ivfpq_fit

    return memo(
        spark, ("dq5_fixture_ivfpq_fit", sf_dir, n_lists, m, k, n_iter),
        lambda: ivfpq_fit(old, n_lists=n_lists, m=m, k=k, n_iter=n_iter),
    )


def planted_semdedup_fit(
    spark: SparkSession, sf_dir: str, corpus
) -> tuple[int, list[tuple[int, list[float]]]]:
    """(k, centroid rows) for ``semantic_dedup`` over emb15/emb16's
    planted corpus — the same memo contract as the other fixture fits:
    the corpus is a pure deterministic rendering of sf_dir's embeddings
    table, so its count (→ ``semdedup_k``) and the n_iter=2 k-means fit
    are trained at most once per application and both consumers receive
    bit-identical values whether they hit or miss."""
    from ..operators.similarity import semdedup_k

    k = semdedup_k(memo(spark, ("semplant_n", sf_dir), corpus.count))
    rows = fixture_kmeans_fit_rows(spark, sf_dir, "semplant", corpus, k, 2)
    return k, rows


def fixture_kmeans_fit_rows(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    df,
    k: int,
    n_iter: int,
) -> list[tuple[int, list[float]]]:
    """``fixture_kmeans_fit`` returning the cached driver-side
    (centroid_id, embedding) ROWS — for consumers that need the codebook
    as Python values (emb17's assignment closure): collecting the
    rebuilt DataFrame back would pay a needless round-trip job for the
    exact list this cache already holds."""
    from ..operators.clustering import kmeans_fit

    return memo(
        spark, ("fixture_kmeans_fit", sf_dir, tag, k, n_iter),
        lambda: [
            (int(r.centroid_id), [float(x) for x in r.embedding])
            for r in kmeans_fit(df, k=k, n_iter=n_iter).collect()
        ],
    )


def fixture_kmeans_fit(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    df,
    k: int,
    n_iter: int,
):
    """``kmeans_fit(df, k, n_iter)`` memoized per (application, sf_dir,
    tag, k, n_iter).  ``df`` MUST be a pure deterministic function of
    sf_dir; ``tag`` names which rendering (callers own that invariant —
    it is what makes the memo value-invisible).  Returns the same tiny
    (centroid_id, embedding) DataFrame as ``kmeans_fit``, rebuilt from
    the cached k·d doubles."""
    rows = fixture_kmeans_fit_rows(spark, sf_dir, tag, df, k, n_iter)
    return spark.createDataFrame(rows, "centroid_id int, embedding array<double>")


def shared_kmeans_fit(spark: SparkSession, sf_dir: str, k: int, n_iter: int):
    """``kmeans_fit`` over the FULL embeddings table (the emb5/emb8/
    emb10/emb18 codebook) — trained at most once per application per
    (sf_dir, k, n_iter)."""
    return fixture_kmeans_fit(
        spark, sf_dir, "embeddings", load_table(spark, sf_dir, "embeddings"),
        k=k, n_iter=n_iter,
    )


def fixture_pq_fit(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    df,
    m: int,
    k: int,
    n_iter: int,
) -> list[list[list[float]]]:
    """``pq_fit(df, m, k, n_iter)`` memoized per (application, sf_dir,
    tag, m, k, n_iter) — pq_fit already returns the bounded driver-side
    ``codebooks[m][k][d_sub]`` nested lists, cached as-is.  Same
    deterministic-input contract as ``fixture_kmeans_fit``."""
    from ..operators.similarity import pq_fit

    return memo(
        spark, ("fixture_pq_fit", sf_dir, tag, m, k, n_iter),
        lambda: pq_fit(df, m=m, k=k, n_iter=n_iter),
    )


def shared_pq_fit(spark: SparkSession, sf_dir: str) -> list[list[list[float]]]:
    """Default ``pq_fit(embeddings)`` (the emb11/emb12 codebooks) —
    trained at most once per application per sf_dir."""
    from ..operators.similarity import PQ_K, PQ_M

    return fixture_pq_fit(
        spark, sf_dir, "embeddings", load_table(spark, sf_dir, "embeddings"),
        m=PQ_M, k=PQ_K, n_iter=3,
    )


def scratch_store(tag: str, sf_dir: str) -> str:
    """A fresh directory for a query's scratch store:
    ``<tmp>/real_time_stock_market_data_pipeline_spark_<tag>/<sf>-<uuid>``.
    Unique per call, so concurrent runs (parallel test workers,
    interleaved bench repeats) never write over each other's store.  It is removed at interpreter exit, not on return, because
    the frame a query returns reads the store lazily."""
    path = os.path.join(
        tempfile.gettempdir(),
        f"real_time_stock_market_data_pipeline_spark_{tag}",
        f"{os.path.basename(os.path.normpath(sf_dir))}-{uuid.uuid4().hex}",
    )
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path
