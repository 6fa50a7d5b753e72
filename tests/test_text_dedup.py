"""Operators-tier text/dedup/similarity implementations must agree with the
oracle-checked SQL plans (which DuckDB already validated)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline_spark.operators import dedup, similarity, text
from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
    decode_image_meta,
    with_media_columns,
)
from real_time_stock_market_data_pipeline_spark.plans.queries import QUERIES
from real_time_stock_market_data_pipeline_spark.sources.readers import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_fingerprint_pandas_matches_sql_plan(spark, sf_dir, docs):
    via_pandas = {
        r.doc_id: r.fingerprint
        for r in text.with_fingerprint(docs.select("doc_id", "text")).collect()
    }
    via_sql = {r.doc_id: r.fingerprint for r in QUERIES["txt4_fingerprint"](spark, sf_dir).collect()}
    assert via_pandas == via_sql


def test_minhash_signatures_match_sql_plan(spark, sf_dir, docs):
    ours = dedup.minhash_signatures(docs).orderBy("doc_id").collect()
    plan = QUERIES["dd3_minhash_signatures"](spark, sf_dir).orderBy("doc_id").collect()
    assert [tuple(r) for r in ours] == [tuple(r) for r in plan]


def test_minhash_candidates_match_sql_plan(spark, sf_dir, docs):
    ours = {
        (r.doc_a, r.doc_b, r.n_shared_bands)
        for r in dedup.minhash_candidate_pairs(docs).collect()
    }
    plan = {
        (r.doc_a, r.doc_b, r.n_shared_bands)
        for r in QUERIES["dd4_minhash_candidates"](spark, sf_dir).collect()
    }
    assert ours == plan


def test_simhash_matches_sql_plan(spark, sf_dir, docs):
    ours = {r.doc_id: r.simhash for r in dedup.simhash_signatures(docs).collect()}
    plan = {r.doc_id: r.simhash16 for r in QUERIES["dd5_simhash"](spark, sf_dir).collect()}
    assert ours == plan


def test_jaccard_pairs_match_sql_plan(spark, sf_dir, docs):
    ours = {
        (r.doc_a, r.doc_b, r.n_common)
        for r in dedup.jaccard_near_dup_pairs(docs, threshold=0.05).collect()
    }
    plan = {
        (r.doc_a, r.doc_b, r.n_common)
        for r in QUERIES["dd2_ngram_jaccard"](spark, sf_dir).collect()
    }
    assert ours == plan


def test_cosine_topk_matches_sql_plan(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb
    ours = (
        similarity.cosine_topk(queries, corpus, k=10)
        .filter("query_id <> vec_id")  # plan excludes self-matches up front
        .select("query_id", "vec_id")
        .collect()
    )
    # self-exclusion shifts ranks; compare membership of top sets loosely:
    plan = QUERIES["emb1_knn_cosine"](spark, sf_dir).select("query_id", "vec_id").collect()
    ours_sets = {}
    for r in ours:
        ours_sets.setdefault(r.query_id, set()).add(r.vec_id)
    plan_sets = {}
    for r in plan:
        plan_sets.setdefault(r.query_id, set()).add(r.vec_id)
    for q, plan_set in plan_sets.items():
        # ours includes self-match then filtered → may hold 9-10 of plan's 10
        assert len(plan_set - ours_sets[q]) <= 1


def test_lsh_near_dup_matches_sql_plan(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    ours = {
        (r.vec_a, r.vec_b)
        for r in similarity.lsh_near_dup_pairs(emb, threshold=0.2).collect()
    }
    plan = {
        (r.vec_a, r.vec_b)
        for r in QUERIES["emb3_lsh_near_dup"](spark, sf_dir).collect()
    }
    assert ours == plan


def test_ivf_topk_runs_and_ranks(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = (
        QUERIES["emb2_label_centroids"](spark, sf_dir)
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "centroid"))).alias("pairs"))
        .select(
            F.col("label").alias("centroid_id"),
            F.transform("pairs", lambda p: p.centroid.cast("float")).alias("embedding"),
        )
    )
    queries = emb.filter("vec_id < 3").select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.ivf_topk(queries, emb, centroids, k=5, n_probe=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        assert len(rows) == 5
        sims = [r.cosine_sim for r in sorted(rows, key=lambda r: r.rk)]
        assert sims == sorted(sims, reverse=True)
        # a query probing lists that include its own vector must find itself first
        assert rows[0].cosine_sim >= 0.99 or all(r.vec_id != q for r in rows)


def test_ivf_codebook_closure_guard(spark, monkeypatch):
    """A codebook past the documented per-task closure boundary must fail
    fast with the shard/broadcast advice, not quietly ship 80 MB+ per task."""
    import pytest

    monkeypatch.setattr(similarity, "MAX_CODEBOOK_DOUBLES", 16)
    cents = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(3)],  # 24 doubles > 16
        "centroid_id int, embedding array<float>",
    )
    vecs = spark.createDataFrame(
        [(1, [1.0] * 8)], "vec_id int, embedding array<float>"
    )
    q = vecs.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="closure boundary.*shard"):
        similarity.ivf_topk(q, vecs, cents, k=1, n_probe=1)


def test_exact_dedup_on_synthetic_dups(spark):
    df = spark.createDataFrame(
        [(1, "aa"), (2, "aa"), (3, "bb")], "doc_id long, text string"
    )
    out = dedup.exact_dedup(df, ["text"], "doc_id").collect()
    assert sorted(r.doc_id for r in out) == [1, 3]


def test_multimodal_stub_plumbing(spark, sf_dir, docs):
    media = with_media_columns(docs.limit(20), payload="text", media_type="image")
    assert "media_bytes" in media.columns and "media_meta" in media.columns
    out = decode_image_meta(media, fake=True).collect()
    assert len(out) == 20
    for r in out:
        assert r.width == r.media_meta.byte_length % 1920 + 1
        assert r.channels == 3
    # the REAL header parser runs codec-free; text bytes are not an image
    # container, so it reports NULL format/dims instead of fabricating any
    real = decode_image_meta(media, fake=False).first()
    assert (real.format, real.width, real.height, real.channels) == (None,) * 4


def test_centered_lsh_spreads_hot_bucket(spark):
    """All-positive (ReLU-style) embeddings collapse raw sign-buckets into
    ONE hot bucket; centering spreads candidates so the bucket join cannot
    degenerate to a cross join — and exact cosine still verifies on the raw
    vectors, so no false positives are introduced."""
    import numpy as np

    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        center_embeddings,
        sign_bucket_col,
    )
    from pyspark.sql import functions as F

    rng = np.random.default_rng(2)
    rows = [(i, (rng.random(16) + 0.01).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    raw = df.select(sign_bucket_col(F.col("embedding")).alias("b")).groupBy("b").count()
    assert raw.count() == 1  # every all-positive vector in one bucket

    cen = center_embeddings(df)
    spread = (
        cen.select(sign_bucket_col(F.col("embedding_centered")).alias("b"))
        .groupBy("b")
        .count()
    )
    sizes = [r["count"] for r in spread.collect()]
    assert len(sizes) > 50  # candidates split across many buckets
    assert max(sizes) < 50  # no single hot bucket


def test_dd2_sql_rendering_matches_materialized(spark, sf_dir):
    """The Spark-SQL dialect rendering of DD2 (the oracle's 1:1 twin) stays
    equal to the registered materialized plan — the rendering is displaced
    from queries() for cost, not semantics, and must not rot."""
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        _dd2_sql_rendering,
    )

    sql_rows = sorted(map(tuple, _dd2_sql_rendering(spark, sf_dir).collect()))
    mat_rows = sorted(map(tuple, QUERIES["dd2_ngram_jaccard"](spark, sf_dir).collect()))
    assert sql_rows == mat_rows and len(sql_rows) > 0


def test_jaccard_materialized_matches_pure_plan(spark, docs):
    """materialize=True snapshots the shingle frame (computed once, read by
    both self-join sides) without changing any result."""
    pure = sorted(
        map(tuple, dedup.jaccard_near_dup_pairs(docs, threshold=0.05).collect())
    )
    mat = sorted(
        map(
            tuple,
            dedup.jaccard_near_dup_pairs(docs, threshold=0.05, materialize=True).collect(),
        )
    )
    assert pure == mat and len(pure) > 0


def test_dup_clusters_chain_and_components(spark):
    """Connected components: a 4-node chain (transitive links, never a
    direct pair) collapses to one cluster labeled by its min id; a separate
    pair forms its own; singletons (docs in no pair) are absent by design."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["doc_a", "doc_b"]
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dup_clusters_cycle_and_empty(spark):
    """Cycles converge (min propagates around the ring); an empty pair set
    yields an empty frame instead of diverging."""
    ring = spark.createDataFrame([(5, 6), (6, 7), (7, 5)], ["doc_a", "doc_b"])
    got = {r["doc_id"]: r["cluster_id"] for r in dedup.dup_clusters(ring).collect()}
    assert got == {5: 5, 6: 5, 7: 5}
    empty = spark.createDataFrame([], "doc_a BIGINT, doc_b BIGINT")
    assert dedup.dup_clusters(empty).count() == 0


def test_hash_split_deterministic_and_complete(spark, docs):
    """Every doc gets exactly one split; assignment is a pure function of
    the id (stable under repartitioning); ratios land near 80/10/10; and
    the Spark SQL rendering of SP1 equals the operator output."""
    from real_time_stock_market_data_pipeline_spark.operators.sampling import (
        assign_split,
        deterministic_sample,
    )
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        sql_hash_split,
    )

    out = assign_split(docs).select("doc_id", "lang", "bucket", "split")
    n = docs.count()
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert sum(counts.values()) == n and None not in counts
    assert 0.6 < counts["train"] / n < 0.95  # hash-uniform around 0.8

    repart = assign_split(docs.repartition(7)).select("doc_id", "split")
    assert sorted(map(tuple, repart.collect())) == sorted(
        map(tuple, out.select("doc_id", "split").collect())
    )

    docs.createOrReplaceTempView("documents")
    sql_rows = sorted(map(tuple, spark.sql(sql_hash_split("spark")).collect()))
    assert sql_rows == sorted(map(tuple, out.collect()))

    # nested subsamples: 10% ⊆ 30% ⊆ corpus
    s10 = {r["doc_id"] for r in deterministic_sample(docs, 0.1).select("doc_id").collect()}
    s30 = {r["doc_id"] for r in deterministic_sample(docs, 0.3).select("doc_id").collect()}
    assert s10 <= s30 and 0 < len(s10) < len(s30) < n


def test_dup_clusters_paths_agree(spark):
    """The driver union-find (small path) and the distributed propagation
    (forced with max_driver_edges=0) compute the same fixpoint."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (22, 20)],
        ["doc_a", "doc_b"],
    )
    small = sorted(map(tuple, dedup.dup_clusters(pairs).collect()))
    dist = sorted(
        map(tuple, dedup.dup_clusters(pairs, max_driver_edges=0).collect())
    )
    assert small == dist and len(small) == 9


def test_dup_clusters_distributed_long_chain(spark):
    """A 65-node path graph — diameter 64 — converges within the default
    round guard: the large-star/small-star alternation is O(log d) rounds,
    where the old min-label propagation needed one round per hop and
    tripped max_iter=25 on exactly this shape."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], ["doc_a", "doc_b"]
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dup_clusters(pairs, max_driver_edges=0).collect()
    }
    assert got == {i: 0 for i in range(65)}


def test_dup_clusters_self_pair_both_paths(spark):
    """A degenerate self-pair (x, x) labels x with itself on BOTH paths —
    the canonical-edge filter of the distributed path must not drop it."""
    pairs = spark.createDataFrame([(9, 9), (1, 2)], ["doc_a", "doc_b"])
    for kw in ({}, {"max_driver_edges": 0}):
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.dup_clusters(pairs, **kw).collect()
        }
        assert got == {9: 9, 1: 1, 2: 1}, kw


def test_dup_clusters_distributed_string_ids(spark):
    """String doc ids through the distributed path: the convergence check
    is type-agnostic (edge-set hash fingerprint, not a numeric label sum),
    and the cluster label is the lexicographic min."""
    pairs = spark.createDataFrame(
        [("d-b", "d-c"), ("d-c", "d-a"), ("x-2", "x-1")], ["doc_a", "doc_b"]
    )
    for kw in ({}, {"max_driver_edges": 0}):
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.dup_clusters(pairs, **kw).collect()
        }
        assert got == {
            "d-a": "d-a", "d-b": "d-a", "d-c": "d-a",
            "x-1": "x-1", "x-2": "x-1",
        }, kw


def test_pack_sequences_invariants(spark, docs):
    """Every doc packs into exactly one (shard, bin); bins fill greedily
    (every non-final bin in a shard starts at its exact capacity offset);
    assignment is stable under repartitioning; and the Spark SQL rendering
    equals the operator output."""
    from real_time_stock_market_data_pipeline_spark.operators.sampling import (
        PACK_CAPACITY,
        pack_sequences,
    )
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        sql_sequence_packing,
    )

    packed = pack_sequences(docs)
    rows = packed.collect()
    assert len(rows) == docs.count()
    assert all(r["bin"] >= 0 for r in rows)

    # greedy fill: within a shard, cumulative tokens before bin b ≥ b*cap
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard_rows in by_shard.values():
        bins = sorted({r["bin"] for r in shard_rows})
        tot = sum(r["n_tok"] for r in shard_rows)
        for b in bins[1:]:
            before = sum(r["n_tok"] for r in shard_rows if r["bin"] < b)
            assert before >= b * PACK_CAPACITY - max(
                r["n_tok"] for r in shard_rows
            ) and before <= tot

    repart = sorted(
        map(tuple, pack_sequences(docs.repartition(7)).collect())
    )
    assert repart == sorted(map(tuple, rows))

    docs.createOrReplaceTempView("documents")
    sql_agg = sorted(map(tuple, spark.sql(sql_sequence_packing("spark")).collect()))
    op_agg = sorted(
        map(
            tuple,
            packed.groupBy(
                packed.shard.cast("int").alias("shard"), "bin"
            )
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tok").cast("bigint").alias("n_tokens"),
            )
            .collect(),
        )
    )
    assert sql_agg == op_agg


def test_temperature_sample_invariants(spark, docs):
    """α=0.5 mixture: the smallest language keeps everything; keep rates
    sit between sp4's full balancing and proportional (no change); kept
    counts never invert the size order; assignment is repartition-stable."""
    from real_time_stock_market_data_pipeline_spark.operators.sampling import (
        temperature_sample,
    )

    out = temperature_sample(docs)
    agg = {
        r["lang"]: (r["n"], r["k"])
        for r in out.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("kept").cast("int")).alias("k"))
        .collect()
    }
    n_min = min(n for n, _ in agg.values())
    smallest = [lang for lang, (n, _) in agg.items() if n == n_min]
    for lang in smallest:
        assert agg[lang][1] == agg[lang][0]  # keeps all
    ordered = sorted(agg.values())
    for (n1, k1), (n2, k2) in zip(ordered, ordered[1:]):
        assert k1 <= k2 + 1  # flatter, never reordered (hash jitter ±1)
        if n2 > n1:
            assert k2 / n2 <= k1 / n1 + 0.15  # larger groups cut harder

    repart = sorted(
        map(tuple, temperature_sample(docs.repartition(5)).select("doc_id", "kept").collect())
    )
    assert repart == sorted(map(tuple, out.select("doc_id", "kept").collect()))


def test_repetition_flags_boilerplate(spark):
    """A doc dominated by one repeated bigram is flagged repetitive; a
    diverse doc is not; a one-token doc has zero bigrams and a defined
    (non-NULL) share."""
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        sql_repetition,
    )

    rows = [
        (1, "buy now " * 30 + "limited offer", "en", "s", 1),
        (2, "a quiet morning walk through the old town square", "en", "s", 1),
        (3, "single", "en", "s", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).createOrReplaceTempView("documents")
    got = {r["doc_id"]: r for r in spark.sql(sql_repetition("spark")).collect()}
    assert got[1]["repetitive"] and got[1]["top_bigram_share"] > 0.4
    assert not got[2]["repetitive"]
    assert got[3]["n_bigrams"] == 0 and got[3]["top_bigram_share"] == 0.0


def test_contamination_detects_verbatim_leak(spark):
    """A train doc that contains a test doc verbatim gets containment ≈ 1;
    a train doc sharing no trigram is absent from the report."""
    from real_time_stock_market_data_pipeline_spark.operators.text import _poly_hash
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        sql_contamination,
    )

    test_ids = [i for i in range(1000) if _poly_hash(str(i)) % 100 >= 90]
    train_ids = [i for i in range(1000) if _poly_hash(str(i)) % 100 < 80]
    leak_text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (test_ids[0], leak_text, "en", "s", 1),
        (train_ids[0], "prefix words " + leak_text + " suffix words", "en", "s", 1),
        (train_ids[1], "totally unrelated clean vocabulary here now", "en", "s", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).createOrReplaceTempView("documents")
    got = {r["doc_id"]: r for r in spark.sql(sql_contamination("spark")).collect()}
    assert train_ids[1] not in got
    leak = got[train_ids[0]]
    # every one of the leaked text's 6 trigrams is in the train doc's set
    assert leak["n_shared"] == 6 and leak["containment"] > 0.5


def test_exact_decontamination_needs_13_gram_run(spark):
    """DD10 flags a train doc iff it shares an EXACT 13-token run with the
    test split: a planted 13-token verbatim leak is flagged with exactly
    one shared gram; a doc sharing only a 12-token run (one word changed)
    is NOT flagged — the hard gate ignores near-misses that DD8's trigram
    containment would score high."""
    from real_time_stock_market_data_pipeline_spark.operators.text import _poly_hash
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        sql_exact_decontamination,
    )

    test_ids = [i for i in range(1000) if _poly_hash(str(i)) % 100 >= 90]
    train_ids = [i for i in range(1000) if _poly_hash(str(i)) % 100 < 80]
    leak = " ".join(f"tok{j}" for j in range(13))  # exactly one 13-gram
    near_miss = " ".join(
        ("CHANGED" if j == 6 else f"tok{j}") for j in range(13)
    )  # longest shared run with `leak` is 6 tokens
    rows = [
        (test_ids[0], leak, "en", "s", 1),
        (train_ids[0], "pad words " + leak + " tail words", "en", "s", 1),
        (train_ids[1], "pad words " + near_miss + " tail words", "en", "s", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).createOrReplaceTempView("documents")
    got = {
        r["doc_id"]: r
        for r in spark.sql(sql_exact_decontamination("spark")).collect()
    }
    assert train_ids[1] not in got
    assert got[train_ids[0]]["n_shared"] == 1
    assert got[train_ids[0]]["is_contaminated"] is True


def test_pii_redaction_idempotent_and_matches_sql(spark, sf_dir):
    """redact∘redact = redact (placeholders match no pattern), counts are
    staged (a phone inside a URL is redacted as URL, not phone), and the
    operator's output equals the pure SQL rendering row-for-row."""
    from real_time_stock_market_data_pipeline_spark.operators.text import (
        PII_RULES,
        redact_pii,
    )
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        _txt11_redaction,
        sql_pii_redaction,
    )
    from real_time_stock_market_data_pipeline_spark.sources.readers import load_table

    rows = [
        (1, "mail a.b+c@x-y.example.com and call 555-123-4567 twice 555-123-4567"),
        (2, "see https://ex.com/p?phone=555-123-4567&mail=a@b.co trailing a@b.co"),
        (3, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    once = redact_pii(df).select("doc_id", "n_url", "n_email", "n_phone",
                                 F.col("text_redacted").alias("text"))
    got = {r["doc_id"]: r for r in once.collect()}
    assert (got[1]["n_email"], got[1]["n_phone"], got[1]["n_url"]) == (1, 2, 0)
    # doc 2: the URL swallows the embedded phone AND the first a@b.co;
    # only the trailing email survives to the email stage
    assert (got[2]["n_url"], got[2]["n_email"], got[2]["n_phone"]) == (1, 1, 0)
    assert got[3]["text"] == "no pii here at all"
    twice = redact_pii(once.select("doc_id", "text")).select(
        "doc_id", F.col("text_redacted").alias("text"))
    assert sorted((r["doc_id"], r["text"]) for r in twice.collect()) == sorted(
        (r["doc_id"], r["text"]) for r in once.select("doc_id", "text").collect())
    for kind, _, _ in PII_RULES:
        assert all(r[f"n_{kind}"] == 0 for r in redact_pii(
            once.select("doc_id", "text")).collect())

    # operator-backed driver plan ≡ pure SQL rendering
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    a = sorted(map(tuple, _txt11_redaction(spark, sf_dir).collect()))
    b = sorted(map(tuple, spark.sql(sql_pii_redaction("spark")).collect()))
    assert a == b


def test_ivf_index_search_prunes_list_partitions(spark, sf_dir, tmp_path):
    """The persisted IVF lists are hive partitions on the list id; a search
    with n_probe=2 of k=8 must hit the scan with a PartitionFilters entry
    (directory-level pruning), and its results must match the in-memory
    ivf_topk over the same codebook."""
    from real_time_stock_market_data_pipeline_spark.operators.clustering import kmeans_fit
    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        search_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_fit(emb, k=8, n_iter=2)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, cents, path)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = search_ivf_index(spark, path, queries, k=5, n_probe=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    # several FileScans exist (queries, centroids, lists) — the lists scan
    # is the one whose PartitionFilters mention the list id
    assert any(
        "centroid_id" in seg[:250] for seg in plan.split("PartitionFilters")[1:]
    ), plan[plan.find("FileScan"):][:500]

    got = sorted(map(tuple, res.select("query_id", "rk", "vec_id").collect()))
    exp = sorted(
        map(
            tuple,
            ivf_topk(queries, emb, cents, k=5, n_probe=2)
            .select("query_id", "rk", "vec_id")
            .collect(),
        )
    )
    assert got == exp and len(got) == 15


def test_join_assignment_matches_arrow_path(spark, sf_dir):
    """The broadcast-join centroid assignment (the documented fallback past
    the codebook closure boundary) agrees with the Arrow argmax path on
    every vector — same similarity order, same lowest-cid tie-break."""
    from real_time_stock_market_data_pipeline_spark.operators.clustering import kmeans_fit
    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        _collect_codebook,
        assign_centroids_join,
        centroid_argmax_pandas,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents_df = kmeans_fit(emb, k=8, n_iter=2)
    cents = _collect_codebook(cents_df)
    arrow = emb.select(
        "vec_id", centroid_argmax_pandas(cents)(F.col("embedding")).alias("cid")
    )
    joined = assign_centroids_join(emb, cents_df).select(
        "vec_id", F.col("centroid_id").alias("cid")
    )
    a = {r["vec_id"]: r["cid"] for r in arrow.collect()}
    b = {r["vec_id"]: r["cid"] for r in joined.collect()}
    assert a == b and len(a) == emb.count()


def test_capped_per_group_deterministic_and_unbiased(spark, docs):
    """The per-group cap keeps exactly min(cap, group size) rows, the SAME
    rows under repartitioning, and groups under the cap pass whole."""
    from real_time_stock_market_data_pipeline_spark.operators.sampling import (
        capped_per_group,
    )

    capped = capped_per_group(docs, "lang", 30)
    sizes = {r["lang"]: r["count"] for r in capped.groupBy("lang").count().collect()}
    full = {r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()}
    assert sizes == {k: min(30, v) for k, v in full.items()}
    again = capped_per_group(docs.repartition(7), "lang", 30)
    assert sorted(r["doc_id"] for r in capped.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in again.select("doc_id").collect()
    )


def test_new_sampling_ops_empty_input(spark):
    """Degenerate empty corpus: pack_sequences and temperature_sample
    return empty frames with the expected columns instead of raising."""
    from real_time_stock_market_data_pipeline_spark.operators.sampling import (
        pack_sequences,
        temperature_sample,
    )

    empty = spark.createDataFrame(
        [], "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    )
    p = pack_sequences(empty)
    assert p.count() == 0 and {"shard", "n_tok", "bin"} <= set(p.columns)
    t = temperature_sample(empty)
    assert t.count() == 0 and {"bucket", "kept"} <= set(t.columns)


def test_bigram_lm_hand_arithmetic(spark):
    """Add-one-smoothed bigram LM on a fixture small enough to compute by
    hand: corpus = {"a b a b", "a c", "solo"} → C(a,b)=2, C(b,a)=1,
    C(a,c)=1, contexts C(a,·)=3, C(b,·)=1, and V=4 (vocab counts EVERY
    corpus token type, including "solo" from the bigram-less doc).
    Doc 1: mean ln = (2·ln(3/7) + ln(2/5)) / 3.  Doc 2: ln(2/7).  A
    one-token doc emits no row."""
    import math

    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        sql_bigram_lm,
    )

    rows = [
        (1, "a b a b", "en", "s", 7),
        (2, "a c", "en", "s", 3),
        (3, "solo", "en", "s", 4),
    ]
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).createOrReplaceTempView("documents")
    got = {r["doc_id"]: r for r in spark.sql(sql_bigram_lm("spark")).collect()}
    assert 3 not in got
    m1 = (2 * math.log(3 / 7) + math.log(2 / 5)) / 3
    m2 = math.log(2 / 7)
    assert got[1]["n_bigrams"] == 3
    assert abs(got[1]["mean_logprob"] - m1) < 1e-5
    assert abs(got[1]["perplexity"] - math.exp(-m1)) < 1e-5
    assert got[2]["n_bigrams"] == 1
    assert abs(got[2]["mean_logprob"] - m2) < 1e-5
    assert abs(got[2]["perplexity"] - math.exp(-m2)) < 1e-5


def test_txt12_snapshot_form_matches_rendering(spark, sf_dir):
    """sql_bigram_lm(tok_source=...) — the snapshot form kept for corpora
    with expensive tokenization — must equal the registered pure rendering
    row-for-row."""
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        _txt12_bigram_lm,
        docs_cte,
        sql_bigram_lm,
    )
    from real_time_stock_market_data_pipeline_spark.plans.dialect import (
        explode_with_pos,
    )

    a = sorted(map(tuple, _txt12_bigram_lm(spark, str(sf_dir)).collect()))
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    tok = spark.sql(
        f"""WITH {docs_cte("spark")},
tok_rows AS ({explode_with_pos("spark", "docs", "toks", "pos", "tok", "doc_id")})
SELECT doc_id, pos, tok FROM tok_rows"""
    ).localCheckpoint(eager=False)
    tok.createOrReplaceTempView("__txt12_tok_test")
    b = sorted(map(tuple, spark.sql(
        sql_bigram_lm("spark", tok_source="__txt12_tok_test")).collect()))
    assert a == b and len(a) > 0


def test_feature_hash_embedding_matches_sql_and_feeds_ann(spark, sf_dir, docs):
    """The operator's L2-normalized embedding must equal the txt13 plan's
    integer bucket sums divided by sqrt(norm2) elementwise, and the result
    must compose with the similarity family: an exact duplicate document
    ranks itself/its twin at cosine ~1.0 via cosine_topk."""
    import math

    from real_time_stock_market_data_pipeline_spark.operators.text import (
        FEATURE_HASH_DIM,
        feature_hash_embedding,
    )

    sample = docs.limit(50)
    got = {
        r["doc_id"]: r["embedding"]
        for r in feature_hash_embedding(sample).collect()
    }
    plan = {r["doc_id"]: r for r in QUERIES["txt13_feature_hash"](spark, sf_dir).collect()}
    checked = 0
    for doc_id, emb in got.items():
        if emb is None:
            continue
        row = plan[doc_id]
        norm = math.sqrt(row["norm2"])
        for j in range(FEATURE_HASH_DIM):
            want = row[f"b{j}"] / norm if norm else float(row[f"b{j}"])
            assert abs(emb[j] - want) < 1e-9
        checked += 1
    assert checked > 0

    # compose with ANN: a doc and its verbatim copy are cosine-1 neighbors
    two = spark.createDataFrame(
        [(900001, "alpha beta gamma delta epsilon"),
         (900002, "alpha beta gamma delta epsilon"),
         (900003, "entirely different words here")],
        "doc_id LONG, text STRING",
    )
    emb2 = feature_hash_embedding(two)
    q = emb2.filter("doc_id = 900001").select(
        F.col("doc_id").alias("query_id"), "embedding")
    top = similarity.cosine_topk(q, emb2.select("doc_id", "embedding")
                                 .withColumnRenamed("doc_id", "vec_id"), k=2).collect()
    by_rk = sorted(top, key=lambda r: r.rk)
    assert {by_rk[0].vec_id, by_rk[1].vec_id} == {900001, 900002}
    assert by_rk[0].cosine_sim > 0.999 and by_rk[1].cosine_sim > 0.999


def test_incremental_decontamination_planted_leak(spark, tmp_path):
    """DD11's table-driven gate on a PLANTED corpus: a train doc carrying a
    verbatim 13-token run from an incrementally-ingested test doc is
    flagged with exactly one shared gram (even when the leaking test doc
    arrives in the SECOND batch — the table accumulates); a 12-token
    near-miss is not flagged; and replaying batch 1 appends nothing."""
    from real_time_stock_market_data_pipeline_spark.operators import dedup

    leak = " ".join(f"tok{j}" for j in range(13))
    near_miss = " ".join(("CHANGED" if j == 6 else f"tok{j}") for j in range(13))
    schema = "doc_id BIGINT, text STRING"
    test_b1 = spark.createDataFrame([(1, "benchmark intro " + near_miss)], schema)
    test_b2 = spark.createDataFrame([(2, "eval set " + leak + " answer key")], schema)
    train = spark.createDataFrame(
        [
            (100, "pad words " + leak + " tail words"),
            (101, "pad words " + near_miss.replace("CHANGED", "OTHER") + " end"),
        ],
        schema,
    )
    path = str(tmp_path / "testsh")
    m1 = dedup.update_test_shingle_table(test_b1, path)
    assert (m1["n_batch_docs"], m1["n_new_docs"]) == (1, 1)
    # before the leaking test doc arrives, nothing is flagged
    assert dedup.contaminated_docs_from_table(train, path).count() == 0
    m2 = dedup.update_test_shingle_table(test_b2, path)
    assert (m2["n_batch_docs"], m2["n_new_docs"]) == (1, 1)
    flagged = {
        r.doc_id: r for r in dedup.contaminated_docs_from_table(train, path).collect()
    }
    assert set(flagged) == {100}
    assert flagged[100].n_shared == 1
    m3 = dedup.update_test_shingle_table(test_b1, path)  # replay
    assert m3["n_new_docs"] == 0


def test_dd12_sql_rendering_matches_operator(spark, sf_dir):
    """The Spark-SQL dialect rendering of DD12 (the oracle's 1:1 twin)
    stays equal to the registered table-driven operator path on the core
    flag columns — the rendering exists for the DuckDB oracle, the
    operator path for production; they must not drift."""
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        sql_neardup_decontamination,
    )

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    cols = ["doc_id", "n_test_matches", "max_shared_bands"]
    sql_rows = sorted(
        map(tuple, spark.sql(sql_neardup_decontamination("spark")).select(*cols).collect())
    )
    op_rows = sorted(
        map(
            tuple,
            QUERIES["dd12_neardup_decontamination"](spark, sf_dir)
            .select(*cols)
            .collect(),
        )
    )
    assert sql_rows == op_rows and len(sql_rows) > 0


def test_dd12_banded_gate_catches_what_exact_gate_cannot(spark, sf_dir):
    """The reason dd12 exists: the planted paraphrased leaks (every 12th
    token replaced) keep NO 13 consecutive original tokens, so the
    dd10/dd11 exact gate finds zero of them — while the banded gate must
    flag every one (trigram Jaccard stays far above the 8×2 banding's
    ≈0.35 S-curve threshold)."""
    from real_time_stock_market_data_pipeline_spark.operators.sampling import (
        SPLIT_BOUNDS,
        hash_bucket_col,
    )

    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket_col()
    lo, hi = SPLIT_BOUNDS["test"]
    test = docs.filter((b >= lo) & (b < hi)).select("doc_id", "text")
    toks = text.tokens_col("text")
    planted = test.filter(
        F.col("doc_id") % dedup.DECON_PLANT_STRIDE == 0
    ).select(
        (F.col("doc_id") + dedup.DECON_PLANT_BASE).alias("doc_id"),
        F.array_join(
            F.transform(
                toks,
                lambda t, i: F.when((i + 1) % 12 == 0, F.lit("xq")).otherwise(t),
            ),
            " ",
        ).alias("text"),
    )
    n_planted = planted.count()
    assert n_planted > 0

    # exact 13-gram gate: blind to every planted doc
    test_sh = dedup.shingle_hashes(test, n=13).select("sh").distinct()
    planted_sh = dedup.shingle_hashes(planted, n=13)
    assert planted_sh.join(test_sh, "sh").count() == 0

    # banded gate: flags every planted doc
    flagged = QUERIES["dd12_neardup_decontamination"](spark, sf_dir)
    n_flagged_planted = flagged.filter("is_planted_leak").count()
    assert n_flagged_planted == n_planted


def test_band_size_must_divide_n_hashes(spark):
    """band_size=3 over 16 hashes would band h1..h15 and silently never
    band h16 — recall loss with no error.  Refused loudly instead, on
    both the operator and the SQL-rendering side."""
    import pytest

    from real_time_stock_market_data_pipeline_spark.operators.dedup import (
        minhash_band_rows,
    )
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        _bands_sql,
    )

    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="does not divide"):
        minhash_band_rows(df, band_size=3)
    with pytest.raises(ValueError, match="does not divide"):
        _bands_sql("duck", band_size=3)


def test_decontamination_gate_validates_table_band_size(spark, sf_dir, tmp_path):
    """The producer default (4x4 near-dup banding) and the gate default
    (8x2 decontamination banding) deliberately differ, and a table built
    with one but queried with the other joins cleanly while matching
    (almost) nothing — an under-flagging gate.  The banding is
    recoverable from the data (every doc emits every band), so the gate
    now validates it and refuses a mismatch."""
    import pytest

    from real_time_stock_market_data_pipeline_spark.operators.dedup import (
        near_contaminated_docs_from_table,
        update_signature_table,
    )
    from real_time_stock_market_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(20)
    path = str(tmp_path / "sigtab_4x4")
    update_signature_table(docs, path, band_size=4)  # producer default
    with pytest.raises(ValueError, match="band_size"):
        near_contaminated_docs_from_table(docs, path).count()  # gate default 2
    # matching band_size passes
    near_contaminated_docs_from_table(docs, path, band_size=4).count()


def test_dd16_flags_exactly_the_planted_leaks(spark, sf_dir):
    """The planted re-entries are multiplicatively perturbed (never
    byte-identical, every sign bucket preserved, cosine >= 0.9999) and
    natural pairs top out at cosine 0.479 in this corpus — so the flag
    set must be EXACTLY the planted set, each matched back to its own
    benchmark original."""
    from real_time_stock_market_data_pipeline_spark.plans.embedding_parity import (
        D16_PLANT_BASE,
        D16_PLANT_STRIDE,
        _d16_fixture_ctes,
    )

    out = QUERIES["dd16_semantic_decontamination"](spark, sf_dir).collect()
    n_planted = spark.sql(
        f"WITH {_d16_fixture_ctes('spark')} SELECT count(*) AS n FROM planted"
    ).first()["n"]
    assert n_planted > 0
    assert len(out) == n_planted
    for r in out:
        assert r.is_planted_leak
        assert r.vec_id >= D16_PLANT_BASE
        assert r.best_test_id == r.vec_id - D16_PLANT_BASE
        assert r.best_test_id % D16_PLANT_STRIDE == 0
        assert r.max_cosine >= 0.999


def test_dd16_plan_broadcasts_the_benchmark_side(spark, sf_dir):
    """The 100 TB contract: the benchmark side is broadcast in BOTH the
    band join and the verify join — the corpus is never shuffled for a
    join, only the candidate pairs are."""
    fn = QUERIES["dd16_semantic_decontamination"]
    plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2
    # no sort-merge join anywhere: cand-distinct + rollup are the only
    # shuffles
    assert "SortMergeJoin" not in plan


def test_dd16_duck_truth_matches_independent_bruteforce(sf_dir):
    """Independent oracle-of-the-oracle: a brute-force cosine scan (no
    bands) over the same planted fixture finds the same contaminated
    set — the banded gate lost nothing at this geometry."""
    from real_time_stock_market_data_pipeline_spark.plans.embedding_parity import (
        D16_TAU,
        _d16_fixture_ctes,
        sql_semantic_decontamination,
    )
    from real_time_stock_market_data_pipeline_spark.plans.dialect import (
        cosine_expr,
        r6t,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    banded = {
        r[0] for r in con.execute(
            sql_semantic_decontamination("duck")
        ).fetchall()
    }
    cos = r6t(cosine_expr("duck", "tr.emb", "te.emb"))
    brute = {
        r[0]
        for r in con.execute(f"""
WITH {_d16_fixture_ctes("duck")}
SELECT DISTINCT tr.vec_id
FROM train_vecs tr JOIN test_vecs te ON ({cos}) >= CAST({D16_TAU} AS DOUBLE)
""").fetchall()
    }
    assert banded == brute


def test_dup_aware_split_component_coherent_and_singleton_identical(spark, sf_dir):
    """sp9's operator contract: every near-dup component lands in EXACTLY
    one split; singleton docs (absent from the cluster map) keep the
    assignment plain per-doc hashing gives them — so a pipeline can
    switch to the leak-free rule without reshuffling its unduplicated
    majority."""
    from real_time_stock_market_data_pipeline_spark.operators.dedup import (
        dup_clusters,
        minhash_candidate_pairs,
    )
    from real_time_stock_market_data_pipeline_spark.operators.sampling import (
        assign_split,
        dup_aware_split,
    )
    from real_time_stock_market_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cc = dup_clusters(minhash_candidate_pairs(docs))
    res = dup_aware_split(docs.select("doc_id"), cc).collect()
    naive = {
        r.doc_id: r.split
        for r in assign_split(docs.select("doc_id")).collect()
    }
    by_cluster: dict = {}
    n_single = 0
    for r in res:
        if r.cluster_id is None:
            n_single += 1
            assert r.split == naive[r.doc_id]  # singletons unchanged
        else:
            by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert by_cluster and n_single > 0
    assert all(len(s) == 1 for s in by_cluster.values())  # one split/component
    # and the member docs all inherit the LABEL doc's own-id assignment
    for cid, splits in by_cluster.items():
        assert splits == {naive[cid]}


def test_txt17_spark_rendering_matches_operator(spark, sf_dir):
    """The Spark-SQL dialect rendering of sql_span_dedup (the DuckDB
    oracle's 1:1 twin) stays equal to the registered span_dedup operator
    — two independent formulations of the same semantics."""
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        sql_span_dedup,
    )

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    sql_rows = sorted(map(tuple, spark.sql(sql_span_dedup("spark")).collect()))
    op_rows = sorted(map(tuple, QUERIES["txt17_span_dedup"](spark, sf_dir).collect()))
    assert sql_rows == op_rows and len(sql_rows) > 0


def test_span_dedup_removes_only_the_planted_boilerplate(spark):
    """Planted fixture (the r11 verdict's acceptance bar): three docs
    share a 20-token boilerplate paragraph between unique prefixes and
    suffixes.  The canonical (min-id) doc must keep its text verbatim
    (modulo whitespace normalization); the other two must lose EXACTLY
    the boilerplate tokens — one span each — and keep everything unique.
    A doc that IS one duplicated span collapses to ''."""
    boiler = " ".join(f"boiler{i}" for i in range(20))

    def uniq(tag, k):
        return " ".join(f"{tag}{j}" for j in range(k))

    rows = [
        (1, f"{uniq('alpha', 15)} {boiler} {uniq('omega', 15)}"),
        (2, f"{uniq('beta', 15)} {boiler} {uniq('psi', 15)}"),
        (3, f"{uniq('gamma', 15)} {boiler} {uniq('chi', 15)}"),
        (4, boiler),  # the whole doc is the duplicated span
        (5, uniq("delta", 30)),  # untouched bystander
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in dedup.span_dedup(df).collect()}

    # canonical doc 1 keeps everything
    assert out[1].n_dropped_tokens == 0 and out[1].n_dropped_spans == 0
    assert out[1].text_deduped == rows[0][1]
    # docs 2 and 3 lose exactly the 20 boilerplate tokens, one span each
    for i, (pre, suf) in ((2, ("beta", "psi")), (3, ("gamma", "chi"))):
        r = out[i]
        assert r.n_tokens == 50 and r.n_dropped_tokens == 20
        assert r.n_dropped_spans == 1
        assert r.text_deduped == f"{uniq(pre, 15)} {uniq(suf, 15)}"
    # doc 4 is one duplicated span — it collapses to the empty string
    assert out[4].n_dropped_tokens == 20 and out[4].text_deduped == ""
    # doc 5 shares nothing and is untouched
    assert out[5].n_dropped_tokens == 0 and out[5].text_deduped == rows[4][1]


def test_span_dedup_ignores_within_doc_repeats(spark):
    """Document-frequency semantics (the txt16 signal): a passage repeated
    INSIDE one doc but appearing in no other doc is kept — span dedup
    targets cross-document memorization, not compression."""
    rep = " ".join(f"rep{i}" for i in range(15))
    df = spark.createDataFrame(
        [(1, f"{rep} middle0 middle1 middle2 {rep}"),
         (2, " ".join(f"other{i}" for i in range(20)))],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in dedup.span_dedup(df).collect()}
    assert out[1].n_dropped_tokens == 0 and out[1].n_dropped_spans == 0


def test_normalize_host_strips_scheme_userinfo_www_port_path(spark):
    """The sp10/sp11 normalization key: messy URL variants of one domain
    all collapse to the same host; '' when nothing host-like."""
    from real_time_stock_market_data_pipeline_spark.operators.text import normalize_host

    cases = [
        ("HTTPS://user:pw@www.Example.COM:8443/a/b?q=1#f", "example.com"),
        ("http://example.com/x", "example.com"),
        ("example.com:80", "example.com"),
        ("www.example.com", "example.com"),
        ("ftp://Sub.Example.org", "sub.example.org"),
        ("", ""),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i int, url string"
    )
    got = {r.i: r.h for r in df.select("i", normalize_host("url").alias("h")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i], got[i])


def test_domain_caps_cap_only_the_skewed_domain(spark, sf_dir):
    """SP10's acceptance fixture (r11 verdict item 4): the planted
    mega-domain holding 50% of docs is capped to DOMAIN_CAP; every
    long-tail domain passes through whole; kept docs are a subset chosen
    by the split-stable hash order."""
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import DOMAIN_CAP

    rows = QUERIES["sp10_domain_caps"](spark, sf_dir).collect()
    mega = [r for r in rows if r.domain == "megadomain.example.com"]
    tail = [r for r in rows if r.domain != "megadomain.example.com"]
    assert len(mega) == 1 and mega[0].capped and mega[0].n_kept == DOMAIN_CAP
    assert mega[0].n_docs * 2 == sum(r.n_docs for r in rows)  # the 50% skew
    assert tail and all(
        (not r.capped) and r.n_kept == r.n_docs for r in tail
    )


def test_domain_mixture_flattens_the_skew(spark, sf_dir):
    """SP11: α=0.5 temperature sampling keeps the smallest domain whole
    and shrinks the mega-domain's share toward the tail — shares sum to
    1 on both sides and the order never inverts."""
    rows = QUERIES["sp11_domain_mixture"](spark, sf_dir).collect()
    mega = next(r for r in rows if r.domain == "megadomain.example.com")
    smallest = min(rows, key=lambda r: r.n_docs)
    assert smallest.n_kept == smallest.n_docs  # smallest keeps everything
    assert mega.share_after < mega.share_before  # the skew flattens
    assert abs(sum(r.share_before for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.share_after for r in rows) - 1.0) < 1e-4
    # kept counts never invert the size order (the sp6 invariant)
    bysize = sorted(rows, key=lambda r: r.n_docs)
    kept = [r.n_kept for r in bysize]
    assert kept == sorted(kept)


def test_span_dedup_from_table_matches_oneshot_and_replays_zero(spark, tmp_path):
    """txt19's operator contract on the planted boilerplate fixture:
    fragmented ingest into the shingle table (the boilerplate sharers
    split across batches so the table's accumulated df is what flags
    them), a replayed batch appends zero docs, and table-driven cleaning
    equals the one-shot span_dedup row-for-row — including the rebuilt
    text."""
    from real_time_stock_market_data_pipeline_spark.operators.dedup import (
        span_dedup,
        span_dedup_from_table,
        update_test_shingle_table,
    )

    boiler = " ".join(f"boiler{i}" for i in range(20))

    def uniq(tag, k):
        return " ".join(f"{tag}{j}" for j in range(k))

    rows = [
        (1, f"{uniq('alpha', 15)} {boiler} {uniq('omega', 15)}"),
        (2, f"{uniq('beta', 15)} {boiler} {uniq('psi', 15)}"),
        (3, f"{uniq('gamma', 15)} {boiler} {uniq('chi', 15)}"),
        (4, uniq("delta", 30)),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    path = str(tmp_path / "spantab")
    for r in range(2):  # docs 1,3 land in batch 1; 2,4 in batch 0
        update_test_shingle_table(df.filter(f"doc_id % 2 = {r}"), path)
    replay = update_test_shingle_table(df, path)
    assert replay["n_new_docs"] == 0

    from_table = sorted(
        map(tuple, span_dedup_from_table(spark, df, path).collect())
    )
    oneshot = sorted(map(tuple, span_dedup(df).collect()))
    assert from_table == oneshot and len(from_table) == 4
    by_id = {t[0]: t for t in from_table}
    assert by_id[1][2] == 0  # canonical keeps everything
    assert by_id[2][2] == 20 and by_id[3][2] == 20  # others lose the span
    assert by_id[4][2] == 0


def test_span_dedup_from_table_cleans_not_yet_ingested_docs(spark, tmp_path):
    """ADVICE r12: a batch doc sharing a passage with exactly ONE
    standing doc must lose the span (the batch side contributes to the
    df-aggregate — before the fix ndocs stayed 1 and the duplicate was
    silently kept), and batch-internal duplicates among not-yet-ingested
    docs must see each other.  The whole call equals the one-shot
    span_dedup over (standing ∪ batch) restricted to the batch ids —
    the min-id canonical rule depends only on the accumulated (id, sh)
    set, which table+union now reproduces exactly."""
    from real_time_stock_market_data_pipeline_spark.operators.dedup import (
        span_dedup,
        span_dedup_from_table,
        update_test_shingle_table,
    )

    boiler = " ".join(f"boiler{i}" for i in range(20))
    boiler2 = " ".join(f"novel{i}" for i in range(20))

    def uniq(tag, k):
        return " ".join(f"{tag}{j}" for j in range(k))

    standing = spark.createDataFrame(
        [
            (1, f"{uniq('alpha', 15)} {boiler} {uniq('omega', 15)}"),
            (4, uniq("delta", 30)),
        ],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "spantab")
    update_test_shingle_table(standing, path)

    batch = spark.createDataFrame(
        [
            (9, f"{uniq('rho', 15)} {boiler} {uniq('sigma', 15)}"),
            (10, f"{uniq('mu', 15)} {boiler2}"),
            (11, f"{boiler2} {uniq('nu', 15)}"),
            (12, uniq("tau", 30)),
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in span_dedup_from_table(spark, batch, path).collect()}
    assert set(got) == {9, 10, 11, 12}
    assert got[9].n_dropped_tokens == 20   # shared with standing doc 1
    assert got[10].n_dropped_tokens == 0   # canonical (min id) keeps
    assert got[11].n_dropped_tokens == 20  # batch-internal duplicate
    assert got[12].n_dropped_tokens == 0   # unique doc untouched

    oneshot = {
        r.doc_id: r
        for r in span_dedup(standing.unionByName(batch)).collect()
        if r.doc_id in got
    }
    assert sorted(map(tuple, got.values())) == sorted(
        map(tuple, oneshot.values())
    )


def test_curated_corpus_every_stage_acts(spark, sf_dir):
    """SP12: each pipeline stage must visibly act on the fixture corpus —
    the mega-domain is capped, the quality gate drops docs, span dedup
    removes tokens — and the stage counts are monotone."""
    rows = QUERIES["sp12_curated_corpus"](spark, sf_dir).collect()
    mega = next(r for r in rows if r.domain == "megadomain.example.com")
    assert mega.n_capped < mega.n_docs  # caps acted
    assert sum(r.n_kept for r in rows) < sum(r.n_capped for r in rows)
    assert sum(r.n_spans_removed for r in rows) > 0  # span dedup acted
    for r in rows:
        assert r.n_kept <= r.n_capped <= r.n_docs
        assert r.n_tokens_final <= r.n_tokens_kept
        if r.n_tokens_kept:
            assert 0.0 < r.token_keep_share <= 1.0


def test_keep_latest_dedup_policy_differs_from_min_id(spark):
    """DD14's operator contract on a hand-built multi-snapshot fixture:
    keep_latest_dedup keeps the max-(ts, id) row per normalized URL key,
    exact_dedup keeps the min id — and on a re-crawled URL whose latest
    snapshot is NOT the first crawl the two policies provably differ.
    The messy raw URLs (scheme case, userinfo, www, port, query,
    trailing slash) must normalize to the same key first."""
    from real_time_stock_market_data_pipeline_spark.operators.dedup import (
        exact_dedup,
        keep_latest_dedup,
    )
    from real_time_stock_market_data_pipeline_spark.operators.text import (
        normalize_url_key,
    )

    rows = [
        # one URL, three crawls: latest (day 30) is id 11, min id is 10
        (10, "HTTPS://www.News.example.com:443/a/b/", 20),
        (11, "http://news.example.com/a/b?utm=x", 30),
        (12, "news.example.com/a/b", 10),
        # a second URL crawled once: both policies keep it
        (20, "http://solo.example.org/only", 5),
        # same day twice: max-id tie-break keeps 31
        (30, "http://tie.example.net/p", 7),
        (31, "https://TIE.example.net/p/", 7),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, url string, snapshot_day int"
    ).withColumn("url_key", normalize_url_key("url"))

    keys = {r.doc_id: r.url_key for r in df.collect()}
    assert keys[10] == keys[11] == keys[12] == "news.example.com/a/b"
    assert keys[30] == keys[31] == "tie.example.net/p"

    latest = {
        r.url_key: r.doc_id
        for r in keep_latest_dedup(
            df, ["url_key"], "snapshot_day", "doc_id"
        ).collect()
    }
    first = {
        r.url_key: r.doc_id
        for r in exact_dedup(df, ["url_key"], "doc_id").collect()
    }
    assert latest["news.example.com/a/b"] == 11  # day 30 wins
    assert first["news.example.com/a/b"] == 10   # min id
    assert latest["solo.example.org/only"] == first["solo.example.org/only"] == 20
    assert latest["tie.example.net/p"] == 31     # same-day max-id tie
    assert set(latest) == set(first)             # one survivor per key either way


def test_dd14_snapshot_dedup_rows(spark, sf_dir):
    """DD14's driver rows: every domain shows real re-crawl compression
    (revisions > urls) and a nonzero policy difference — the fixture's
    snapshot index is non-monotone in doc_id, so keep-latest provably
    deviates from the min-id canonical."""
    from real_time_stock_market_data_pipeline_spark.plans import QUERIES

    rows = QUERIES["dd14_snapshot_dedup"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_revisions > r.n_urls
        assert r.n_dropped == r.n_revisions - r.n_urls
        assert 0 < r.n_keep_latest_differs <= r.n_urls


def test_model_curated_corpus_distillation_fidelity(spark, sf_dir):
    """SP13: the trained-model gate must visibly act (kept <= capped,
    span dedup removes tokens) and the rule-vs-model disagreement column
    must be REAL accounting — n_disagree = |model_kept XOR rule_kept|
    per domain holds arithmetically, and the corpus-level disagreement
    is nonzero (a distilled model is not the rule) yet bounded (it is
    trained ON the rule, so it mostly agrees)."""
    from real_time_stock_market_data_pipeline_spark.plans import QUERIES

    rows = QUERIES["sp13_model_curated_corpus"](spark, sf_dir).collect()
    assert rows
    tot_capped = sum(r.n_capped for r in rows)
    tot_disagree = sum(r.n_disagree for r in rows)
    assert 0 < tot_disagree < 0.25 * tot_capped  # distilled, not random
    for r in rows:
        assert r.n_model_kept <= r.n_capped
        assert r.n_rule_kept <= r.n_capped
        # |model - rule| <= disagreements <= sum of one-sided flips
        assert abs(r.n_model_kept - r.n_rule_kept) <= r.n_disagree
        assert r.n_disagree <= (r.n_capped - r.n_model_kept) + r.n_model_kept
        assert r.n_tokens_final <= r.n_tokens_kept
    assert sum(r.n_spans_removed for r in rows) > 0  # span dedup acted
    mega = next(r for r in rows if r.domain == "megadomain.example.com")
    assert mega.n_capped < mega.n_docs  # caps acted


def test_upsert_latest_revisions_order_robust_and_idempotent(spark, tmp_path):
    """dd14's ingest form: batches arriving OUT of snapshot order (the
    late-old-crawl case a plain last-batch-wins upsert gets wrong) must
    converge to exactly keep_latest_dedup over the union of all batches;
    a replay changes nothing; a no-winner batch never rewrites."""
    from real_time_stock_market_data_pipeline_spark.operators.dedup import (
        keep_latest_dedup,
        upsert_latest_revisions,
    )

    schema = "doc_id bigint, url_key string, snapshot_day int, body string"
    b1 = spark.createDataFrame(
        [(10, "u/a", 20, "v20"), (30, "u/b", 7, "b7")], schema
    )
    b2 = spark.createDataFrame(
        [(11, "u/a", 30, "v30"), (31, "u/b", 7, "b7-tie")], schema
    )
    # LATE batch: an older snapshot of u/a plus a within-batch dup pair
    b3 = spark.createDataFrame(
        [(12, "u/a", 10, "v10"), (40, "u/c", 5, "c5a"), (41, "u/c", 5, "c5b")],
        schema,
    )
    path = str(tmp_path / "current")
    r1 = upsert_latest_revisions(spark, b1, path, ["url_key"], "snapshot_day", "doc_id")
    r2 = upsert_latest_revisions(spark, b2, path, ["url_key"], "snapshot_day", "doc_id")
    r3 = upsert_latest_revisions(spark, b3, path, ["url_key"], "snapshot_day", "doc_id")
    assert (r1["n_winners"], r2["n_winners"], r3["n_winners"]) == (2, 2, 1)

    cols = ["doc_id", "url_key", "snapshot_day", "body"]

    def norm(rows):
        return sorted(tuple(r[c] for c in cols) for r in rows)

    oneshot = norm(
        keep_latest_dedup(
            b1.unionByName(b2).unionByName(b3),
            ["url_key"], "snapshot_day", "doc_id",
        ).collect()
    )
    stored = norm(spark.read.parquet(path).collect())
    assert stored == oneshot
    by_key = {t[1]: t for t in stored}
    assert by_key["u/a"][0] == 11   # day 30 wins despite arriving mid-stream
    assert by_key["u/b"][0] == 31   # same-day max-id tie
    assert by_key["u/c"][0] == 41   # within-batch dup resolved

    # replay of the late batch: zero winners, store byte-stable
    import os

    def sig():
        d = path
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d) if f.endswith(".parquet")
        )

    before = sig()
    rep = upsert_latest_revisions(spark, b3, path, ["url_key"], "snapshot_day", "doc_id")
    assert rep["n_winners"] == 0
    assert sig() == before  # no rewrite happened at all


def test_ccnet_buckets_are_equal_thirds_with_monotone_cuts(spark, sf_dir):
    """TXT20: per language the scored docs split head/middle/tail with
    the standard ntile remainder rule (sizes differ by <=1, earlier
    buckets take the extra), the perplexity ranges are disjoint and
    monotone head < middle < tail, and unscored docs land in their own
    bucket with NULL cuts."""
    from real_time_stock_market_data_pipeline_spark.plans import QUERIES

    rows = QUERIES["txt20_ccnet_buckets"](spark, sf_dir).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.bucket] = r
    assert by_lang
    for lang, bk in by_lang.items():
        assert {"head", "middle", "tail"} <= set(bk)
        sizes = [bk["head"].n_docs, bk["middle"].n_docs, bk["tail"].n_docs]
        assert max(sizes) - min(sizes) <= 1
        assert sizes == sorted(sizes, reverse=True)  # remainder to the front
        assert bk["head"].ppl_hi <= bk["middle"].ppl_lo
        assert bk["middle"].ppl_hi <= bk["tail"].ppl_lo
        assert bk["head"].ppl_lo <= bk["head"].ppl_hi
        if "unscored" in bk:
            assert bk["unscored"].ppl_lo is None and bk["unscored"].ppl_hi is None


def test_dsir_upweights_the_target_domain(spark):
    """TXT21's visible signal, pinned on a planted fixture: docs written
    in the target slice's (disjoint) vocabulary must receive strictly
    larger importance weights than off-target docs — every en doc above
    every fr doc — and on the real sf0.001 corpus the target language's
    mean log-weight must be the maximum across languages."""
    from pyspark.sql import functions as F

    from real_time_stock_market_data_pipeline_spark.plans.text_parity import sql_dsir
    from real_time_stock_market_data_pipeline_spark.sources.readers import load_table

    rows = []
    for i in range(20):
        rows.append((i, " ".join(["alpha beta gamma delta"] * 3), "en", "s", 60))
    for i in range(20, 40):
        rows.append((i, " ".join(["rouge vert bleu jaune"] * 3), "fr", "s", 60))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).createOrReplaceTempView("documents")
    out = spark.sql(sql_dsir("spark")).collect()
    en_w = [r.logw for r in out if r.lang == "en"]
    fr_w = [r.logw for r in out if r.lang == "fr"]
    assert len(en_w) == len(fr_w) == 20
    assert min(en_w) > max(fr_w)

    load_table(spark, "/root/testdata/sf0.001", "documents") \
        .createOrReplaceTempView("documents")
    means = {
        r.lang: r.m
        for r in spark.sql(sql_dsir("spark"))
        .groupBy("lang").agg(F.avg("logw").alias("m")).collect()
    }
    assert max(means, key=means.get) == "en"


def test_paragraph_vs_span_dedup_units_provably_differ(spark):
    """DD15's unit sits between txt17's 13-gram spans and dd1's whole
    docs, and the difference is directional:

    * a shared run that CROSSES the 20-token paragraph boundary (and is
      aligned differently in each doc) is invisible to paragraph dedup
      but caught by span dedup;
    * an ALIGNED identical paragraph dedups here (the later doc loses
      it) — while the docs as wholes differ, so dd1 keeps both."""
    from pyspark.sql import functions as F

    from real_time_stock_market_data_pipeline_spark.operators.dedup import span_dedup
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        DD15_PLANT_BASE,
        sql_paragraph_dedup,
    )

    shared = [f"s{i}" for i in range(15)]          # the 15-token shared run
    a = [f"a{i}" for i in range(10)] + shared + [f"a{i}" for i in range(10, 25)]
    b = [f"b{i}" for i in range(18)] + shared + [f"b{i}" for i in range(18, 25)]
    par = [f"p{i}" for i in range(20)]             # the aligned paragraph
    c = par + [f"c{i}" for i in range(20)]
    e = par + [f"e{i}" for i in range(20)]
    docs = spark.createDataFrame(
        [
            (10, " ".join(a), "en", "s", 0),
            (11, " ".join(b), "en", "s", 0),
            (12, " ".join(c), "en", "s", 0),
            (13, " ".join(e), "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.createOrReplaceTempView("documents")
    rows = {
        r.doc_id: r
        for r in spark.sql(sql_paragraph_dedup("spark"))
        .filter(F.col("doc_id") < DD15_PLANT_BASE)
        .collect()
    }
    # boundary-crossing run: NO paragraph dedups in docs 10/11
    assert rows[10].n_dup_pars == 0 and rows[11].n_dup_pars == 0
    # aligned paragraph: doc 12 keeps it, doc 13 loses exactly one
    assert rows[12].n_dup_pars == 0
    assert rows[13].n_dup_pars == 1 and rows[13].n_kept_pars == 1

    # span dedup DOES catch the boundary-crossing run (13-gram unit)
    spans = {r.doc_id: r for r in span_dedup(docs, n=13).collect()}
    assert spans[10].n_dropped_tokens > 0 or spans[11].n_dropped_tokens > 0
    # and the planted-fixture rows are visible on the real corpus: every
    # planted doc's single paragraph loses the min-id race to its seed
    from real_time_stock_market_data_pipeline_spark.sources.readers import load_table

    load_table(spark, "/root/testdata/sf0.001", "documents") \
        .createOrReplaceTempView("documents")
    planted = (
        spark.sql(sql_paragraph_dedup("spark"))
        .filter(F.col("doc_id") >= DD15_PLANT_BASE)
        .collect()
    )
    assert len(planted) == 5
    assert all(r.n_dup_pars == 1 and r.n_kept_pars == 0 for r in planted)


def test_txt21_snapshot_form_matches_pure(spark, sf_dir):
    """The registered txt21 plan materializes the bucketed feature frame
    (dd2's lesson — the char-fold hashing is the dominant cost and Spark
    re-runs inlined CTEs once per consumer); the snapshot form must be
    VALUE-identical to the pure rendering, not just parity-green."""
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        QUERIES,
        sql_dsir,
    )

    snap = QUERIES["txt21_dsir_resample"](spark, sf_dir)
    # the query fn registered the documents view; the pure rendering
    # reads the same corpus through it
    pure = spark.sql(sql_dsir("spark"))
    cols = snap.columns
    assert pure.columns == cols
    a = sorted(map(tuple, snap.collect()))
    b = sorted(map(tuple, pure.collect()))
    assert a == b


def test_dd17_quality_keep_provably_differs_from_minid(spark, sf_dir):
    """The point of dd17: on this corpus the trained-quality survivor is
    NOT always the min-id survivor (otherwise the query would be dd6
    with extra columns).  Pin that at least one cluster differs, that a
    differing survivor strictly beats the min-id copy (score_gain > 0 —
    with the doc_id ASC tie-break, a tie keeps min-id, so differing
    implies strictly better), and that every survivor's score is the
    member max (the argmax contract)."""
    rows = QUERIES["dd17_quality_survivors"](spark, sf_dir).collect()
    assert rows
    differing = [r for r in rows if r.quality_differs]
    assert differing, "quality-keep never differed from min-id"
    for r in differing:
        assert r.survivor_id != r.cluster_id
        assert r.score_gain > 0
    for r in rows:
        if not r.quality_differs:
            assert r.survivor_id == r.cluster_id
            assert r.score_gain == 0.0
        assert r.survivor_score >= r.minid_score
        assert r.cluster_size >= 2  # a component needs at least one pair


def test_sp16_manifest_hits_budget_exactly_and_shards_cover_kept(spark, sf_dir):
    """SP16's contract: Σ tokens_total over the manifest equals
    DOREMI_BUDGET exactly (the integer cycling+truncation rule), each
    domain contributes exactly its sp14 allocation, at most one doc per
    domain is truncated (the remainder-pass boundary), repeats realize
    upweighted domains (n_copies > 1 somewhere on this corpus), and the
    shard ids are a balanced contiguous 0..S-1 cover of the kept docs."""
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        DOREMI_BUDGET,
        SP15_SHARDS,
        QUERIES as TQ,
    )

    rows = TQ["sp16_doremi_manifest"](spark, sf_dir).collect()
    assert rows
    assert sum(r.tokens_total for r in rows) == DOREMI_BUDGET
    alloc = {
        r.domain: r.alloc
        for r in TQ["sp14_doremi_mixture"](spark, sf_dir).collect()
    }
    by_dom: dict[str, list] = {}
    for r in rows:
        by_dom.setdefault(r.domain, []).append(r)
    for dom, rs in by_dom.items():
        assert sum(r.tokens_total for r in rs) == alloc[dom]
        truncated = [r for r in rs if r.head_tokens > 0]
        assert len(truncated) <= 1
        for r in truncated:
            assert r.head_tokens < r.n_tokens  # a full copy is a copy
        for r in rs:
            assert r.n_copies > 0 or r.head_tokens > 0
            assert r.tokens_total == r.n_copies * r.n_tokens + r.head_tokens
    assert any(r.n_copies > 1 for r in rows), "no domain was upweighted into repeats"
    shards = sorted({r.shard_id for r in rows})
    assert shards == list(range(SP15_SHARDS))
    sizes = [sum(1 for r in rows if r.shard_id == s) for s in shards]
    assert max(sizes) - min(sizes) <= 1


def test_dq6_each_planted_leak_caught_only_by_its_own_gate(spark, sf_dir):
    """The dq6 contract, both directions: (1) every planted leak is
    flagged with EXACTLY its own gate (n_gates == 1 and the matching
    flag), (2) every plant of each class is caught (counts reconcile
    against the fixture CTEs), and (3) no plant appears under any other
    class's flag.  Organic rows may fire several text gates at once
    (verbatim natural dups legitimately trip exact AND banded)."""
    from real_time_stock_market_data_pipeline_spark.plans.audit_parity import (
        Q6_BASE,
        _q6_fixture_ctes,
    )

    rows = QUERIES["dq6_contamination_audit"](spark, sf_dir).collect()
    assert rows
    flag_of = {
        "exact": "exact_hit",
        "banded": "banded_hit",
        "semantic": "semantic_hit",
        "perceptual": "perceptual_hit",
    }
    counts = spark.sql(
        f"WITH {_q6_fixture_ctes('spark')} SELECT "
        "(SELECT count(*) FROM exact_plants) AS exact, "
        "(SELECT count(*) FROM banded_plants) AS banded, "
        "(SELECT count(*) FROM sem_plants) AS semantic, "
        "(SELECT count(*) FROM perc_plants) AS perceptual"
    ).first()
    by_class: dict[str, list] = {}
    for r in rows:
        by_class.setdefault(r.leak_class, []).append(r)
    for cls, flag in flag_of.items():
        planted_rows = by_class.get(cls, [])
        # every flagged plant fires exactly its own gate
        for r in planted_rows:
            assert r.n_gates == 1 and getattr(r, flag), (cls, r)
        # and every plant of the class is caught (sf0.001/sf0.01 hold
        # exactly; the banded S-curve can drop ~1% of very short docs
        # at larger SFs — that miss is the family's documented recall
        # property, not an audit bug)
        assert len(planted_rows) == counts[cls], (cls, len(planted_rows))
    # organic rows never carry a planted id
    for r in by_class.get("organic", []):
        assert r.doc_id < Q6_BASE["exact"]
        assert not r.perceptual_hit and not r.semantic_hit


def test_txt23_hwm_survives_the_df_swap_crash_window(spark, tmp_path):
    """The new design bit of the merge-maintained df table: the batch-id
    high-water mark commits atomically WITH the df swap, so the one
    interleaving the plain anti-join cannot handle — df merge durable,
    tf append lost, batch redelivered — must converge: the replay skips
    the df merge (hwm) and completes the tf append (anti-join).  A blind
    replay after full success must change nothing at all."""
    import os

    from pyspark.sql import functions as SF

    from real_time_stock_market_data_pipeline_spark.operators.text import (
        _read_bm25_hwm,
        update_bm25_postings,
    )

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "c d e"), (4, "a e")],
        "doc_id long, text string",
    )
    b1 = docs.filter("doc_id <= 2")
    b2 = docs.filter("doc_id > 2")

    def df_counts(path):
        return {
            r.tok: r.df
            for r in spark.read.parquet(os.path.join(path, "df")).collect()
        }

    # clean run for the expected end state
    clean = str(tmp_path / "clean")
    update_bm25_postings(b1, clean, batch_id=1)
    update_bm25_postings(b2, clean, batch_id=2)
    want = df_counts(clean)
    assert want == {"a": 2, "b": 2, "c": 2, "d": 1, "e": 2}

    # crash window: batch 1 lands fully, batch 2's df swap lands but its
    # tf append is lost (simulated by deleting the rows it appended)
    crash = str(tmp_path / "crash")
    update_bm25_postings(b1, crash, batch_id=1)
    m2 = update_bm25_postings(b2, crash, batch_id=2)
    assert m2["df_applied"]
    tf_path = os.path.join(crash, "tf")
    kept = spark.read.parquet(tf_path).filter("doc_id <= 2").collect()
    import shutil

    shutil.rmtree(tf_path)
    spark.createDataFrame(kept).write.parquet(tf_path)
    # redelivery of batch 2: df must be SKIPPED (hwm), tf re-appended
    m2r = update_bm25_postings(b2, crash, batch_id=2)
    assert not m2r["df_applied"] and m2r["n_new_docs"] == 2
    assert df_counts(crash) == want
    assert {
        (r.doc_id, r.tok): r.tf
        for r in spark.read.parquet(tf_path).collect()
    } == {
        (r.doc_id, r.tok): r.tf
        for r in spark.read.parquet(os.path.join(clean, "tf")).collect()
    }
    # a full-success replay applies nothing to either table
    m2rr = update_bm25_postings(b2, crash, batch_id=2)
    assert not m2rr["df_applied"] and m2rr["n_new_docs"] == 0
    assert df_counts(crash) == want
    assert _read_bm25_hwm(os.path.join(crash, "df")) == 2


def test_sp17_epochs_are_permutations_balanced_and_decorrelated(spark, sf_dir):
    """Each epoch's ranks are an exact permutation of 1..N split into
    contiguous ±1-balanced slots, and the position-weighted checksums
    DIFFER across epochs for the same slot (decorrelation — the whole
    point of re-keying the permutation per epoch), while membership
    totals are identical."""
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        SP15_SHARDS,
        SP17_EPOCHS,
        QUERIES as TQ,
    )

    rows = TQ["sp17_epoch_shuffle"](spark, sf_dir).collect()
    n_corpus = spark.sql(
        "SELECT count(*) AS n FROM documents WHERE text IS NOT NULL"
    ).first()["n"]
    by_epoch: dict[int, list] = {}
    for r in rows:
        by_epoch.setdefault(r.epoch, []).append(r)
    assert sorted(by_epoch) == list(range(SP17_EPOCHS))
    tok_totals, checksums = set(), {}
    for e, rs in by_epoch.items():
        rs = sorted(rs, key=lambda r: r.slot)
        assert [r.slot for r in rs] == list(range(SP15_SHARDS))
        assert sum(r.n_docs for r in rs) == n_corpus
        sizes = [r.n_docs for r in rs]
        assert max(sizes) - min(sizes) <= 1
        # contiguous rank ranges covering exactly 1..N
        assert rs[0].rank_lo == 1 and rs[-1].rank_hi == n_corpus
        for a, b in zip(rs, rs[1:]):
            assert b.rank_lo == a.rank_hi + 1
        tok_totals.add(sum(r.n_tokens for r in rs))
        for r in rs:
            checksums.setdefault(r.slot, set()).add(r.order_checksum)
    assert len(tok_totals) == 1  # same corpus every epoch
    for slot, cks in checksums.items():
        assert len(cks) == SP17_EPOCHS, f"slot {slot} epochs correlated"


def test_emb22_maxsim_finds_passage_local_match_single_vector_dilutes(spark):
    """The point of late interaction: a doc that contains one of the
    query's chunks VERBATIM inside a wall of unrelated filler must rank
    top-1 under MaxSim (its shared chunk scores an exact cosine 1.0 →
    a 1e6 micro-unit term), while the doc-LEVEL single hashing-trick
    vector of the same pair is diluted by the filler."""
    import math

    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        EMB22_DIM,
        QUERIES as TQ,
        sql_late_interaction,
    )

    q_chunks = [" ".join(f"w{i}_{j}" for j in range(20)) for i in range(2)]
    q_text = " ".join(q_chunks)
    planted = q_chunks[0] + " " + " ".join(f"f{j}" for j in range(140))
    others = [
        (k, " ".join(f"o{k}_{j}" for j in range(160)))
        for k in (1, 2, 3)
    ]
    rows = [(0, q_text), (777, planted)] + others
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.createOrReplaceTempView("documents")
    try:
        out = spark.sql(sql_late_interaction("spark")).collect()
    finally:
        spark.catalog.dropTempView("documents")
    mine = sorted((r for r in out if r.query_doc == 0), key=lambda r: r.rnk)
    assert mine and mine[0].match_doc == 777
    assert mine[0].score_micro >= 1_000_000  # the verbatim chunk's exact 1.0

    # doc-level single-vector cosine of the same pair, same hashing trick
    P = 1_000_000_007

    def vec(text):
        v = [0] * EMB22_DIM
        for tok in text.split():
            h = 7
            for ch in tok:
                h = (h * 131 + ord(ch)) % P
            v[h % EMB22_DIM] += 1 if (h // EMB22_DIM) % 2 == 0 else -1
        return v

    a, b = vec(q_text), vec(planted)
    cos = sum(x * y for x, y in zip(a, b)) / (
        math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
    )
    assert cos < 0.75, cos  # filler dilutes the single-vector signal


# --- Curriculum shard store (sp21): the incremental-maintenance contract ----
def _tables_equal_cur(a, b) -> bool:
    cols = sorted(a.columns)
    a, b = a.select(*cols), b.select(*cols)
    return a.exceptAll(b).unionAll(b.exceptAll(a)).isEmpty()


def _cur_partition_files(path):
    import os

    out = {}
    for entry in sorted(os.listdir(path)):
        if entry.startswith("shard_id="):
            out[entry] = sorted(
                f for f in os.listdir(os.path.join(path, entry))
                if f.endswith(".parquet")
            )
    return out


def test_curriculum_incremental_equals_oneshot(spark, sf_dir, docs, tmp_path):
    """ingest ∘ init ≡ one-shot shard build over the union under the
    FROZEN init model — content, ranks, AND partition assignment (the
    dd13/txt23 equivalence pattern); replay ingests nothing and
    rewrites nothing."""
    base = docs.filter("text IS NOT NULL")
    era_a = base.filter("doc_id % 5 <> 4")
    root = str(tmp_path / "cur")
    m0 = text.init_curriculum_store(spark, era_a, root)
    assert m0["n_docs"] == era_a.count()
    m1 = text.update_curriculum_shards(spark, base, root)
    assert m1["n_new_docs"] == base.count() - era_a.count()
    assert m1["n_shards_rewritten"] >= 1
    # one-shot reference: score the union under the frozen model, rank,
    # shard — the exact store the incremental path must have produced
    bc, uc, v = text.load_curriculum_model(spark, root)
    ref = text._with_shards(
        text._with_wrk(text.score_under_curriculum_model(base, bc, uc, v)),
        text.CURRICULUM_SHARDS,
    ).select("doc_id", "ppl", "n_tokens", "bucket", "wrk", "shard_id")
    got = spark.read.parquet(f"{root}/docs").select(*ref.columns)
    assert _tables_equal_cur(got, ref)
    # replay: anti-join admits nothing, no partitions rewritten
    before = _cur_partition_files(f"{root}/docs")
    m2 = text.update_curriculum_shards(spark, base, root)
    assert m2 == {
        "n_batch_ids": m1["n_batch_ids"], "n_new_docs": 0,
        "n_buckets_touched": 0, "n_shards_rewritten": 0,
    }
    assert _cur_partition_files(f"{root}/docs") == before


def test_curriculum_update_rewrites_only_changed_partitions(
    spark, sf_dir, docs, tmp_path
):
    """The partition-pruned rewrite, pinned mechanically: after an
    ingest, every ``shard_id=`` directory NOT in the rewritten set kept
    its exact parquet file names (never rewritten), the counter equals
    the number of directories whose file sets changed, and unchanged
    directories hold unchanged content."""
    base = docs.filter("text IS NOT NULL")
    era_a = base.filter("doc_id % 5 <> 4")
    root = str(tmp_path / "cur2")
    text.init_curriculum_store(spark, era_a, root)
    before = _cur_partition_files(f"{root}/docs")
    m = text.update_curriculum_shards(spark, base, root)
    after = _cur_partition_files(f"{root}/docs")
    changed = {e for e in after if before.get(e) != after[e]}
    assert len(changed) == m["n_shards_rewritten"]
    # an unchanged file set means the partition was genuinely skipped
    for e in set(after) - changed:
        assert before[e] == after[e]


def test_curriculum_update_crash_window_heals(
    spark, sf_dir, docs, tmp_path, monkeypatch
):
    """Kill the per-partition swap mid-loop (after one rename): the
    marked staging rolls FORWARD on the next heal — the store ends
    exactly the fully-ingested state, never a mix, and a replayed
    update ingests nothing (the txt23/upsert_parquet crash contract)."""
    import os as _os

    from real_time_stock_market_data_pipeline_spark.maintenance import (
        heal_if_interrupted,
    )

    base = docs.filter("text IS NOT NULL")
    era_a = base.filter("doc_id % 5 <> 4")
    root = str(tmp_path / "cur3")
    text.init_curriculum_store(spark, era_a, root)
    # reference final state from an uncrashed twin
    root_ok = str(tmp_path / "cur3ok")
    text.init_curriculum_store(spark, era_a, root_ok)
    text.update_curriculum_shards(spark, base, root_ok)
    want = spark.read.parquet(f"{root_ok}/docs")

    real = _os.rename
    calls = {"n": 0}

    def flaky(src, dst):
        calls["n"] += 1
        if calls["n"] > 1:
            raise OSError("simulated crash between renames")
        real(src, dst)

    import os

    monkeypatch.setattr(os, "rename", flaky)
    with pytest.raises(OSError, match="simulated crash"):
        text.update_curriculum_shards(spark, base, root)
    monkeypatch.undo()
    orphans = [
        e for e in os.listdir(root) if e.startswith("docs__")
    ]
    assert orphans, "expected a mid-swap staging/old orphan"
    heal_if_interrupted(f"{root}/docs")
    got = spark.read.parquet(f"{root}/docs")
    assert _tables_equal_cur(
        got.select("doc_id", "ppl", "n_tokens", "bucket", "wrk", "shard_id"),
        want.select("doc_id", "ppl", "n_tokens", "bucket", "wrk", "shard_id"),
    )
    assert [e for e in os.listdir(root) if e.startswith("docs__")] == []
    m = text.update_curriculum_shards(spark, base, root)
    assert m["n_new_docs"] == 0 and m["n_shards_rewritten"] == 0


def test_curriculum_update_requires_init(spark, tmp_path):
    with pytest.raises(ValueError, match="no curriculum store"):
        text.update_curriculum_shards(
            spark,
            spark.createDataFrame([(1, "a b c")], "doc_id long, text string"),
            str(tmp_path / "missing"),
        )


def test_curriculum_rebuild_equals_init_and_folds_tombstones(
    spark, sf_dir, docs, tmp_path
):
    """rebuild_curriculum_store retrains on the accumulated corpus and
    swaps the whole model+docs tree: the result must equal
    init_curriculum_store on that corpus exactly (same model → same
    scores, ranks, layout), and standing tombstones fold in (a rebuild
    makes deletion durable; the tombstone table clears with the swap)."""
    import os

    base = docs.filter("text IS NOT NULL")
    era_a = base.filter("doc_id % 5 <> 4")
    root = str(tmp_path / "cur")
    text.init_curriculum_store(spark, era_a, root)
    text.update_curriculum_shards(spark, base, root)
    dels = base.filter("doc_id % 11 = 5").select("doc_id")
    text.takedown_curriculum_store(spark, dels, root)
    m = text.rebuild_curriculum_store(spark, base, root)
    remaining = base.join(dels, "doc_id", "left_anti")
    # store-membership docs only (≥ 2 tokens); rebuild reports that count
    ref_root = str(tmp_path / "ref")
    m_ref = text.init_curriculum_store(spark, remaining, ref_root)
    assert m["n_docs"] == spark.read.parquet(f"{root}/docs").count()
    assert m["vocab"] == m_ref["vocab"]
    assert not os.path.exists(f"{root}/tombstones")
    cols = ["doc_id", "ppl", "n_tokens", "bucket", "wrk", "shard_id"]
    assert _tables_equal_cur(
        spark.read.parquet(f"{root}/docs").select(*cols),
        spark.read.parquet(f"{ref_root}/docs").select(*cols),
    )
    for sub in ("bc", "uc", "meta"):
        assert _tables_equal_cur(
            spark.read.parquet(f"{root}/model/{sub}"),
            spark.read.parquet(f"{ref_root}/model/{sub}"),
        )


def test_curriculum_rebuild_crash_between_renames_heals(
    spark, sf_dir, docs, tmp_path, monkeypatch
):
    """Kill the rebuild's root swap between the two renames (store
    displaced, staging marked): heal installs the staged tree — readers
    see the fully-rebuilt store, never a mix or an absent root."""
    import os

    base = docs.filter("text IS NOT NULL")
    root = str(tmp_path / "cur")
    text.init_curriculum_store(spark, base.filter("doc_id % 5 <> 4"), root)
    text.update_curriculum_shards(spark, base, root)
    ref_root = str(tmp_path / "ref")
    text.init_curriculum_store(spark, base, ref_root)

    real = os.rename
    calls = {"n": 0}

    def flaky(src, dst):
        calls["n"] += 1
        if calls["n"] > 1:
            raise OSError("simulated crash between renames")
        real(src, dst)

    monkeypatch.setattr(os, "rename", flaky)
    with pytest.raises(OSError, match="simulated crash"):
        text.rebuild_curriculum_store(spark, base, root)
    monkeypatch.undo()
    assert not os.path.exists(root)  # mid-swap: root displaced
    got = text.read_curriculum_docs(spark, root)  # heal-before-read
    cols = ["doc_id", "ppl", "n_tokens", "bucket", "wrk", "shard_id"]
    assert _tables_equal_cur(
        got.select(*cols),
        spark.read.parquet(f"{ref_root}/docs").select(*cols),
    )
    assert [
        e for e in os.listdir(tmp_path) if e.startswith("cur__")
    ] == []
