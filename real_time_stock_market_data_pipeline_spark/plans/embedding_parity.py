"""Similarity-search queries over the ``embeddings`` table (64-dim float
vectors): brute-force cosine top-k, per-label centroids, and sign-bucketed
(SimHash-style LSH) near-duplicate pairs.  Dual-dialect like the other
parity modules — dot products are sequential index folds with explicit
DOUBLE casts, so both engines produce bit-identical similarity values.

Scale design:
  * brute-force KNN is the correctness baseline: |Q| × |C| pairs — fine for
    a bounded query set, quadratic otherwise.  The scale path is EMB3's
    bucketing (hyperplane-sign LSH): candidates meet only inside a bucket,
    so the join shuffles on the bucket key instead of crossing everything.
  * per-dim centroid aggregation shuffles once on (label, dim) with exact
    decimal accumulation — partial aggregation makes it map-combined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..concurrency import overlap
from ..sources.readers import load_table
from .dialect import (
    cosine_expr,
    d,
    dot_expr,
    elem,
    fold,
    list_len,
    r6t,
    seq,
    transform,
)
from .fixtures import scratch_store
from .queries import QUERIES
from ..sources.readers import read_parquet_cached_schema as _read_pq

N_QUERY_VECS = 5
TOP_K = 10


# the fold texts moved to dialect.dot_expr/cosine_expr so that
# operators/similarity.srp_decontaminate shares them — these aliases keep
# every existing call site unchanged
_dot = dot_expr
_cosine = cosine_expr


def sql_knn(dialect: str) -> str:
    """EMB1 — brute-force cosine top-k: query vecs (vec_id < 5) × all
    candidates, rank by rounded similarity with vec_id tie-break (total
    order → deterministic top-k in both engines)."""
    cos = _cosine(dialect, "q.embedding", "c.embedding")
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, c.label,
         {r6t(cos)} AS cosine_sim
  FROM embeddings q CROSS JOIN embeddings c
  WHERE q.vec_id < {N_QUERY_VECS} AND c.vec_id <> q.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC) AS rk
  FROM scored
)
SELECT query_id, vec_id, label, cosine_sim, rk
FROM ranked WHERE rk <= {TOP_K}
"""


def sql_centroids(dialect: str) -> str:
    """EMB2 — per-label centroids in long form (label, dim, centroid):
    one shuffle on (label, dim), exact decimal accumulation."""
    dims = seq(dialect, "1", list_len(dialect, "embedding"))
    if dialect == "spark":
        exploded = (
            f"SELECT label, dim, CAST(element_at(embedding, dim) AS DOUBLE) AS val "
            f"FROM embeddings LATERAL VIEW explode({dims}) _e AS dim"
        )
    else:
        exploded = (
            f"SELECT label, unnest({dims}) AS dim, NULL AS val FROM embeddings"
        )
        # DuckDB: unnest once, then index — rewrite with a positional join
        exploded = (
            "SELECT e.label, i.dim, CAST(e.embedding[i.dim] AS DOUBLE) AS val "
            "FROM embeddings e CROSS JOIN "
            "(SELECT unnest(generate_series(1, 64)) AS dim) i "
            "WHERE i.dim <= len(e.embedding)"
        )
    return f"""
WITH vals AS ({exploded})
SELECT label, dim,
       {r6t("CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE) / COUNT(val)")}
         AS centroid,
       COUNT(val) AS n_vectors
FROM vals
GROUP BY label, dim
"""


def _bucketed_pair_ctes(dialect: str) -> str:
    """keyed + pairs CTE text shared by EMB3 (pair listing) and EMB7
    (cluster rollup)."""
    bits = " + ".join(
        f"(CASE WHEN CAST({elem(dialect, 'embedding', str(i))} AS DOUBLE) > {d('0.0')} "
        f"THEN {2 ** (i - 1)} ELSE 0 END)"
        for i in range(1, 17)
    )
    cos = _cosine(dialect, "a.embedding", "b.embedding")
    return f"""keyed AS (
  SELECT vec_id, label, embedding, {bits} AS bucket
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket,
         {r6t(cos)} AS cosine_sim
  FROM keyed a JOIN keyed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)"""


def sql_bucketed_near_dup(dialect: str) -> str:
    """EMB3 — hyperplane-sign LSH near-dup: bucket = sign pattern of the
    first 16 dims (a 16-bit key); exact cosine verified only inside buckets.
    The bucket join is the sole shuffle — the 100 TB path, traded against
    recall for pairs straddling a sign boundary."""
    return f"""
WITH {_bucketed_pair_ctes(dialect)}
SELECT vec_a, vec_b, bucket, cosine_sim
FROM pairs WHERE cosine_sim >= {d('0.2')}
"""


def sql_centered_near_dup(dialect: str) -> str:
    """EMB6 — the centered variant of EMB3 (operators/similarity
    ``center_embeddings``): bucket on sign(x_i − mean_i) for the first 16
    dims, so anisotropic/all-positive embeddings can't pile into one hot
    bucket.  The 16 per-dim means are one aggregate pass cross-joined back
    as scalars; exact cosine still verifies on the RAW vectors, so
    centering changes candidate generation only."""
    # decimal-accumulated means (order-independent, bit-identical across
    # engines — a plain avg() could differ in the last ulp and flip the
    # bucket of a value sitting exactly on a hyperplane)
    mean_cols = ", ".join(
        f"CAST(SUM(CAST(CAST({elem(dialect, 'embedding', str(i))} AS DOUBLE) "
        f"AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS m{i}"
        for i in range(1, 17)
    )
    bits = " + ".join(
        f"(CASE WHEN CAST({elem(dialect, 'embedding', str(i))} AS DOUBLE) - m{i} "
        f"> {d('0.0')} THEN {2 ** (i - 1)} ELSE 0 END)"
        for i in range(1, 17)
    )
    cos = _cosine(dialect, "a.embedding", "b.embedding")
    return f"""
WITH means AS (
  SELECT {mean_cols} FROM embeddings
),
keyed AS (
  SELECT vec_id, label, embedding, {bits} AS bucket
  FROM embeddings CROSS JOIN means
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket,
         {r6t(cos)} AS cosine_sim
  FROM keyed a JOIN keyed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, bucket, cosine_sim
FROM pairs WHERE cosine_sim >= {d('0.2')}
"""


N_LISTS = 8  # IVF codebook size (deterministic seeds: lowest vec_ids)
N_PROBE = 2  # lists probed per query


def sql_ivf_topk(dialect: str) -> str:
    """EMB4 — IVF-Flat approximate top-k, the 100 TB ANN scale path
    (operators/similarity.ivf_topk is the DataFrame twin).

    Deterministic codebook: the ``N_LISTS`` lowest-id embeddings act as
    list centroids (no RNG — a KMeans fit would replace ``cent`` in
    production).  Every corpus vector is assigned to its nearest list
    (broadcast argmin, rounded sim + centroid-id tie-break so both engines
    pick identical lists); each query probes its ``N_PROBE`` nearest lists
    and scores exact cosine only there — the list-id join is the sole
    shuffle, vs. emb1's full cross product."""
    acos = _cosine(dialect, "e.embedding", "c.cvec")
    qcos = _cosine(dialect, "q.embedding", "c.cvec")
    scos = _cosine(dialect, "p.qvec", "a.embedding")
    return f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM embeddings WHERE vec_id < {N_LISTS}
),
asim AS (
  SELECT e.vec_id, e.label, e.embedding, c.centroid_id, {acos} AS c0
  FROM embeddings e CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, label, embedding, centroid_id
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY {r6t('c0')} DESC, centroid_id ASC) AS rk
    FROM asim
  ) t WHERE rk = 1
),
qsim AS (
  SELECT q.vec_id AS query_id, q.embedding AS qvec, c.centroid_id, {qcos} AS c0
  FROM embeddings q CROSS JOIN cent c
  WHERE q.vec_id < {N_QUERY_VECS}
),
probes AS (
  SELECT query_id, qvec, centroid_id
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY {r6t('c0')} DESC, centroid_id ASC) AS rk
    FROM qsim
  ) t WHERE rk <= {N_PROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id, a.label, {scos} AS c0
  FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, vec_id, label, cosine_sim, rk
FROM (
  SELECT query_id, vec_id, label, {r6t('c0')} AS cosine_sim,
         row_number() OVER (
           PARTITION BY query_id ORDER BY {r6t('c0')} DESC, vec_id ASC) AS rk
  FROM scored
) t WHERE rk <= {TOP_K}
"""


_BODIES = {
    "emb1_knn_cosine": sql_knn,
    "emb2_label_centroids": sql_centroids,
    "emb3_lsh_near_dup": sql_bucketed_near_dup,
    "emb4_ivf_topk": sql_ivf_topk,
    "emb6_centered_lsh": sql_centered_near_dup,
}

EMBEDDING_ORACLES = {name: body("duck") for name, body in _BODIES.items()}


def _make_query(body):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
        return spark.sql(body("spark"))

    return fn


for _name, _body in _BODIES.items():
    QUERIES[_name] = _make_query(_body)


def sql_embedding_clusters(dialect: str) -> str:
    """EMB7 — embedding near-dup CLUSTERS: connected components over the
    EMB3 pair graph (cosine ≥ 0.2 inside sign-LSH buckets), labeled by the
    component's min vec_id, with size and canonical flag — the embedding
    twin of DD6.  SQL = recursive transitive closure (DuckDB oracle only;
    see plans/text_parity.sql_dup_clusters for why Spark cannot run
    set-UNION recursion); the engine path is operators.dedup.dup_clusters."""
    return f"""
WITH RECURSIVE {_bucketed_pair_ctes(dialect)},
nd AS (SELECT vec_a, vec_b FROM pairs WHERE cosine_sim >= {d('0.2')}),
edges AS (
  SELECT vec_a AS u, vec_b AS v FROM nd
  UNION
  SELECT vec_b AS u, vec_a AS v FROM nd
),
reach AS (
  SELECT u, u AS lbl FROM edges
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
),
cc AS (SELECT u AS vec_id, min(lbl) AS cluster_id FROM reach GROUP BY u),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY cluster_id)
SELECT cc.vec_id, cc.cluster_id, sizes.cluster_size,
       (cc.vec_id = cc.cluster_id) AS is_canonical
FROM cc JOIN sizes ON cc.cluster_id = sizes.cluster_id
"""


def _emb7_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMB7, Spark side: EMB3's SQL pair plan feeding dup_clusters."""
    from ..operators.dedup import dup_clusters

    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    pairs = spark.sql(sql_bucketed_near_dup("spark")).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    cc = dup_clusters(pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return cc.join(sizes, "cluster_id").select(
        "vec_id",
        "cluster_id",
        "cluster_size",
        (F.col("vec_id") == F.col("cluster_id")).alias("is_canonical"),
    )


QUERIES["emb7_embedding_clusters"] = _emb7_clusters
EMBEDDING_ORACLES["emb7_embedding_clusters"] = sql_embedding_clusters("duck")


def sql_embedding_audit(dialect: str) -> str:
    """DQ3 — data-quality audit for the EMBEDDING table, the dq1/dq2
    companion for the similarity family's input contract: per label, the
    vector count, dimensionality violations (≠ 64), vectors containing
    NaN elements, zero-norm vectors (undefined cosine — the emb-family
    operators divide by the norm), plus deterministic norm statistics
    (decimal-accumulated mean of the ROUNDED per-vector norm, min/max
    rounded norms).  A broken encoder shows up here before it poisons
    dedup/ANN results downstream.  One fused scan, one map-combinable
    aggregate on the label — the dq1 single-pass shape; per-vector norms
    are sequential index folds, so both engines produce bit-identical
    doubles."""
    norm2 = fold(
        dialect,
        (f"{'transform' if dialect == 'spark' else 'list_transform'}"
         f"(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"),
        "acc + x",
    )
    has_nan = (
        f"{list_len(dialect, ('filter(embedding, x -> isnan(CAST(x AS DOUBLE)))' if dialect == 'spark' else 'list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))'))} > 0"
    )
    rnorm = r6t(f"sqrt({norm2})")
    return f"""
WITH per_vec AS (
  SELECT label,
         {list_len(dialect, "embedding")} AS dim,
         CASE WHEN {has_nan} THEN 1 ELSE 0 END AS with_nan,
         CASE WHEN {has_nan} THEN NULL ELSE {rnorm} END AS rnorm
  FROM embeddings
  WHERE embedding IS NOT NULL
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN dim <> 64 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dim_mismatch,
       CAST(sum(with_nan) AS BIGINT) AS n_with_nan,
       CAST(sum(CASE WHEN rnorm <= {d("0.0")} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero_norm,
       {r6t(f"CAST(sum(CAST(rnorm AS DECIMAL(18,6))) AS DOUBLE) / count(rnorm)")}
         AS mean_norm,
       min(rnorm) AS min_norm,
       max(rnorm) AS max_norm
FROM per_vec
GROUP BY label
"""


QUERIES["dq3_embedding_audit"] = _make_query(sql_embedding_audit)
EMBEDDING_ORACLES["dq3_embedding_audit"] = sql_embedding_audit("duck")


# --- EMB15/EMB16: SemDeDup (semantic dedup: cluster, then dedup within) -----
# Within-cluster verification threshold.  NOT emb3's 0.2: LSH sign buckets
# are tiny (16-bit keys), so a loose floor stays selective there, but a
# coarse cluster holds ~target_cluster_size vectors and random 64-dim
# cosines reach 0.2 routinely (sigma ~ d^-1/2 = 0.125) — at 0.2 the
# transitive closure chains ~98% of the corpus into one component and
# "dedup" ~= drop everything.  0.95 keeps only true semantic duplicates
# (SemDeDup's operating range) — and it is also what makes the PLANTED
# oracle below sound: the max ORGANIC pairwise cosine on this corpus is
# ~0.48 (measured; pinned by test), so the only >= 0.95 pairs are the
# planted twins, whatever clustering the trainer converges to.
SEMDEDUP_THRESHOLD = 0.95

SEMDEDUP_PLANT_BASE = 1_000_000


def planted_semantic_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The emb15/emb16 fixture: the synthetic corpus holds no true
    semantic twins, so every 25th vector re-enters under a new id with a
    deterministic +-0.3% per-dim gain ripple — cosine ~0.999 to its
    source, the "same content, different encoder-run noise" case SemDeDup
    exists to catch.  The guard: organic vec_ids must sit below the
    planted-id offset or twin ids would collide with real ones (and the
    planted oracle's id arithmetic would lie)."""
    emb = load_table(spark, sf_dir, "embeddings")
    max_id = emb.agg(F.max("vec_id")).first()[0]
    if max_id is not None and max_id >= SEMDEDUP_PLANT_BASE:
        raise ValueError(
            f"emb15 fixture: corpus vec_ids reach {max_id} >= the planted-id "
            f"offset {SEMDEDUP_PLANT_BASE}; raise SEMDEDUP_PLANT_BASE (and "
            "the oracle renderings' literal) above the id range"
        )
    return emb.selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding"
    ).unionByName(
        emb.filter("vec_id % 25 = 0").selectExpr(
            f"vec_id + {SEMDEDUP_PLANT_BASE} AS vec_id",
            "transform(embedding, (x, i) -> CAST(x AS DOUBLE) * "
            "(CAST(1.0 AS DOUBLE) + CAST(0.001 AS DOUBLE) * "
            "CAST(pmod(i + 1, 7) - 3 AS DOUBLE))) AS embedding",
        )
    )


def _emb15_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMB15 — SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication"), driven
    through the PRODUCTION operator with its scale defaults (the r10
    verdict's one `weak` row, fixed): ``operators/similarity.
    semantic_dedup`` trains k-means with k derived from the corpus at
    constant expected cluster size (``semdedup_k`` — never a fixed k
    whose clusters grow with the corpus), auto-selects the Arrow
    assignment + per-cluster blocked-GEMM pair stage with that k, and
    contains NO corpus-wide unpartitioned window (kmeans_fit's seed rank
    is partition-offset based; pinned by a plan-shape test).  The
    embedding twin of sp8's gate-the-pipeline story: emb3/emb6 bucket by
    hyperplane SIGNS, SemDeDup buckets by cluster MEMBERSHIP — pair work
    Sigma_c n_c^2 ~= n*target, never n^2.

    Oracle: PLANTED — the fixture plants gain-ripple twins (cosine
    ~0.999) into a corpus whose max organic pairwise cosine is ~0.48, so
    at the 0.95 threshold the correct answer is id-arithmetic: every
    twin dups its source (dup_group = source id, keep only the source),
    everything else is a singleton.  Unlike r10's rendering-recompute
    oracle this holds for ANY clustering the trainer converges to —
    which is what frees the driver row to run the real scale path."""
    from ..operators.similarity import semantic_dedup
    from .fixtures import planted_semdedup_fit

    corpus = planted_semantic_corpus(spark, sf_dir)
    # session-memoized fixture fit (plans/fixtures, r18 optimization) —
    # bit-identical to the in-operator kmeans_fit over this corpus
    k, cents = planted_semdedup_fit(spark, sf_dir, corpus)
    return (
        semantic_dedup(
            corpus, k=k, threshold=SEMDEDUP_THRESHOLD, centroids=cents
        )
        .select("vec_id", "dup_group", "keep")
    )


def sql_semantic_dedup_planted(dialect: str) -> str:
    """EMB15's planted oracle (see _emb15_semantic_dedup): twins (ids >=
    the plant offset) group under their source and are dropped; every
    original keeps itself."""
    del dialect  # ANSI on both engines
    return f"""
WITH corpus AS (
  SELECT vec_id FROM embeddings
  UNION ALL
  SELECT vec_id + {SEMDEDUP_PLANT_BASE} AS vec_id
  FROM embeddings WHERE vec_id % 25 = 0
)
SELECT vec_id,
       CASE WHEN vec_id >= {SEMDEDUP_PLANT_BASE}
            THEN vec_id - {SEMDEDUP_PLANT_BASE} ELSE vec_id END AS dup_group,
       vec_id < {SEMDEDUP_PLANT_BASE} AS keep
FROM corpus
"""


QUERIES["emb15_semantic_dedup"] = _emb15_semantic_dedup
EMBEDDING_ORACLES["emb15_semantic_dedup"] = sql_semantic_dedup_planted("duck")


def _emb16_semdedup_keep_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMB16 — SemDeDup's paper keep-policy, end-to-end: rerun the
    pipeline with ``keep_policy="farthest"`` (survivor = the dup-set
    member farthest from its cluster centroid — the least-redundant
    exemplar, what downstream data quality actually sees) and report the
    dup-set size histogram with survivor counts.  WHICH member survives
    depends on the trained centroids, so the oracle checks the
    clustering-invariant truth: exactly one survivor per dup set, twin
    sets have exactly 2 members, everything else is a singleton.  A
    pytest pins the policy itself (the survivor is the argmin
    centroid-cosine member; both policies agree on singletons)."""
    from ..operators.similarity import semantic_dedup
    from .fixtures import planted_semdedup_fit

    corpus = planted_semantic_corpus(spark, sf_dir)
    # same memoized fixture fit as emb15 (identical corpus + params)
    k, cents = planted_semdedup_fit(spark, sf_dir, corpus)
    res = semantic_dedup(
        corpus, k=k, threshold=SEMDEDUP_THRESHOLD, keep_policy="farthest",
        centroids=cents,
    )
    per_group = res.groupBy("dup_group").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.col("keep").cast("bigint")).alias("n_kept_grp"),
    )
    return (
        per_group.groupBy("n_members")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("n_kept_grp").alias("n_kept"),
        )
        .orderBy("n_members")
    )


def sql_semdedup_keep_policy(dialect: str) -> str:
    """EMB16's planted oracle: with t twin sources, the dup-set
    histogram is (n - t) singletons each keeping themselves and t pairs
    each keeping exactly one member."""
    del dialect
    return """
WITH s AS (
  SELECT count(*) AS n,
         sum(CASE WHEN vec_id % 25 = 0 THEN 1 ELSE 0 END) AS tw
  FROM embeddings
)
SELECT CAST(1 AS BIGINT) AS n_members,
       CAST(n - tw AS BIGINT) AS n_groups,
       CAST(n - tw AS BIGINT) AS n_kept
FROM s
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(tw AS BIGINT), CAST(tw AS BIGINT) FROM s
ORDER BY n_members
"""


QUERIES["emb16_semdedup_keep_policy"] = _emb16_semdedup_keep_policy
EMBEDDING_ORACLES["emb16_semdedup_keep_policy"] = sql_semdedup_keep_policy(
    "duck"
)


def _emb17_incremental_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMB17 — incrementally-maintained semantic-dedup index
    (operators/similarity init_semantic_index / update_semantic_index):
    emb15 answers "dedup THIS corpus"; production ingest asks the other
    question — do TODAY'S vectors duplicate anything already ingested,
    without re-pairing the standing corpus per batch.  The codebook
    trains once on the initial corpus and freezes (assignments never
    change ⇒ the pair set is insert-only, the five-table anti-join
    contract); batch 1 ingests every original, batch 2 every planted
    gain-ripple twin — so each twin pair is found as NEW×STANDING, the
    exact cross-batch shape — and a batch-2 REPLAY appends zero rows to
    both tables.  The accumulated pair set must equal one-shot
    semantic_dedup_pairs over the full corpus with the same codebook,
    compared in-plan (full-outer count gate, emb14's pattern).  The
    planted projection keeps the oracle id-arithmetic (organic pairs:
    none at the 0.95 threshold — see _emb15_semantic_dedup)."""
    import os

    from ..operators.similarity import (
        init_semantic_index,
        semantic_dedup_pairs,
        semdedup_k,
        update_semantic_index,
    )
    from .fixtures import fixture_kmeans_fit_rows

    corpus = planted_semantic_corpus(spark, sf_dir).localCheckpoint(
        eager=False
    )
    originals = corpus.filter(F.col("vec_id") < SEMDEDUP_PLANT_BASE)
    twins = corpus.filter(F.col("vec_id") >= SEMDEDUP_PLANT_BASE)
    # n_iter=1: the planted oracle holds for ANY clustering (see
    # _emb15_semantic_dedup) and the gate compares against a one-shot
    # built from the SAME codebook, so extra Lloyd passes buy nothing
    # this row can see — the driver row pays for ingest, not fit quality.
    # The fit is session-memoized (plans/fixtures, r18 optimization):
    # originals is a pure planted rendering of sf_dir's embeddings table.
    k = semdedup_k(corpus.count())
    cents = fixture_kmeans_fit_rows(
        spark, sf_dir, "semdedup_originals", originals, k=k, n_iter=1
    )
    cents_df = spark.createDataFrame(
        cents, "centroid_id int, embedding array<double>"
    )
    root = scratch_store("semidx", sf_dir)
    path = os.path.join(root, "index")
    # the one-shot gate twin depends only on (corpus, cents) — never on
    # the store — so it materializes overlapping the three sequential
    # ingest batches (guide §2.6, emb21's twin pattern)
    def _build_oneshot():
        return semantic_dedup_pairs(
            corpus, cents, threshold=SEMDEDUP_THRESHOLD
        ).select("vec_a", "vec_b").localCheckpoint()

    with overlap() as o:
        oneshot = o.submit("emb17/oneshot", _build_oneshot)
        init_semantic_index(cents_df, path)
        update_semantic_index(spark, originals, path, SEMDEDUP_THRESHOLD)
        update_semantic_index(spark, twins, path, SEMDEDUP_THRESHOLD)
        m3 = update_semantic_index(spark, twins, path, SEMDEDUP_THRESHOLD)
    oneshot = oneshot.result()
    acc = (
        _read_pq(spark, f"{path}/pairs")
        .select("vec_a", "vec_b")
        .localCheckpoint(eager=False)
    )
    row = (
        acc.withColumn("__a", F.lit(1))
        .join(
            oneshot.withColumn("__o", F.lit(1)), ["vec_a", "vec_b"], "full"
        )
        .agg(
            F.count("__a").alias("n_a"),
            F.count("__o").alias("n_o"),
            F.sum(
                (F.col("__a").isNull() | F.col("__o").isNull()).cast("int")
            ).alias("n_diff"),
        )
        .collect()[0]
    )
    gate = bool(row.n_a == row.n_o and (row.n_diff or 0) == 0)
    return acc.filter(
        (F.col("vec_b") >= SEMDEDUP_PLANT_BASE)
        & (F.col("vec_a") == F.col("vec_b") - SEMDEDUP_PLANT_BASE)
    ).select(
        F.col("vec_a").alias("src_id"),
        F.col("vec_b").alias("twin_id"),
        F.lit(m3["n_new"] == 0 and m3["n_new_pairs"] == 0).alias("replay_zero"),
        F.lit(gate).alias("pairs_match_oneshot"),
    )


def sql_incremental_semdedup(dialect: str) -> str:
    """EMB17's planted oracle: every 25th original's twin — and nothing
    else — pairs across the batch boundary; the replay and
    accumulated≡one-shot gates pin TRUE."""
    del dialect
    return f"""
SELECT vec_id AS src_id, vec_id + {SEMDEDUP_PLANT_BASE} AS twin_id,
       true AS replay_zero, true AS pairs_match_oneshot
FROM embeddings WHERE vec_id % 25 = 0
"""


QUERIES["emb17_incremental_semdedup"] = _emb17_incremental_semdedup
EMBEDDING_ORACLES["emb17_incremental_semdedup"] = sql_incremental_semdedup(
    "duck"
)


FILTER_LABEL = 7  # emb18's metadata predicate (present at every sf)


def _emb18_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMB18 — FILTERED similarity search (the vector-DB "metadata
    pre-filter" feature: "nearest neighbours WHERE label = 7"): the
    persisted IVF index stores filterable metadata in its lists
    (build_ivf_index meta_cols), and search_ivf_index(where=...) pushes
    the predicate into the probed partitions' parquet scan — PRE-filter
    semantics, so top-k ranks exactly the qualifying vectors (a
    post-filtered top-k would return fewer-than-k survivors; at a
    selective filter, mostly none).  Assignment is a pure per-vector
    function, so filtering COMMUTES with indexing: the filtered search
    of the full-corpus index must equal the in-memory ivf_topk over the
    PRE-FILTERED corpus with the same codebook, rank-for-rank — the
    in-plan gate (emb8's pattern), plus an every-hit-matches-the-filter
    check.  Oracle pins both gates TRUE and the full k results per query
    (label 7 holds ≥45 vectors at every sf, spread across lists)."""
    from ..operators.similarity import (
        build_ivf_index,
        ivf_topk,
        search_ivf_index,
    )
    from .fixtures import shared_kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # session-memoized league fit (plans/fixtures, r18 optimization) —
    # bit-identical to kmeans_fit(emb, k=8, n_iter=1)
    cents = shared_kmeans_fit(spark, sf_dir, k=8, n_iter=1)
    path = scratch_store("ivf_filtered", sf_dir)
    build_ivf_index(emb, cents, path, meta_cols=("label",))
    from_index = search_ivf_index(
        spark, path, queries_df, k=10, n_probe=7,
        where=F.col("label") == FILTER_LABEL,
    )
    fresh = ivf_topk(
        queries_df,
        emb.filter(F.col("label") == FILTER_LABEL),
        cents,
        k=10,
        n_probe=7,
    )
    labels = emb.select("vec_id", "label")
    joined = (
        from_index.select("query_id", "rk", F.col("vec_id").alias("v_idx"))
        .join(
            fresh.select("query_id", "rk", F.col("vec_id").alias("v_fresh")),
            ["query_id", "rk"],
            "full",
        )
        .join(labels, F.col("v_idx") == F.col("vec_id"), "left")
    )
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_results"),
        (
            F.sum(F.when(F.col("v_idx") == F.col("v_fresh"), 1).otherwise(0))
            == F.count(F.lit(1))
        ).alias("index_matches_fresh"),
        (
            F.sum(
                F.when(F.col("label") == FILTER_LABEL, 1).otherwise(0)
            )
            == F.count(F.lit(1))
        ).alias("all_match_filter"),
    )


def sql_filtered_ann(dialect: str) -> str:
    """EMB18's gate oracle (emb8's pattern): persistence + predicate
    pushdown change storage and IO, never results — both gates TRUE,
    full k per query."""
    del dialect
    return """
SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS n_results,
       true AS index_matches_fresh, true AS all_match_filter
FROM embeddings WHERE vec_id < 5
"""


QUERIES["emb18_filtered_ann"] = _emb18_filtered_ann
EMBEDDING_ORACLES["emb18_filtered_ann"] = sql_filtered_ann("duck")


def _emb19_filtered_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMB19 — FILTERED search on the SERVING tier (emb18's metadata
    pre-filter carried from IVF-flat to the persisted IVF-PQ composite
    index — the layout a 100 TB corpus actually queries): the index
    stores filterable metadata next to its 8-byte codes
    (update_ivfpq_index meta_cols), hive-partitioned by list_id, and
    search_ivfpq_index(where=...) cuts the read to the probed
    partitions WITH the predicate pushed into the same scan — candidate
    bytes drop BEFORE any ADC arithmetic.  Encoding is a pure
    per-vector function, so filtering commutes with it: the filtered
    search must match exact L2 over the FILTERED corpus RESTRICTED TO
    THE SAME PROBED LISTS at ≥ 0.8 recall (emb13's isolation — probing
    coverage is a knob, not a defect), and every hit must satisfy the
    filter.  The index is built INCREMENTALLY (three fragmented batches
    + a replay that must append nothing) so the filtered path and the
    ingest path are exercised together.  Oracle pins the gates TRUE and
    full k per query (label 7 holds ≥45 vectors at every sf)."""
    from pyspark.sql import Window

    from ..operators.similarity import (
        _sq_l2,
        init_ivfpq_index,
        ivfpq_probes,
        search_ivfpq_index,
        update_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # session-memoized league fixture (plans/fixtures): bit-identical to
    # ivfpq_fit(emb, n_iter=2), trained once per session (r15 verdict #5)
    from .fixtures import shared_ivfpq_fit

    coarse, fine = shared_ivfpq_fit(spark, sf_dir)
    path = scratch_store("ivfpq_filtered", sf_dir)
    init_ivfpq_index(spark, coarse, fine, path)
    for r in range(3):
        update_ivfpq_index(
            spark, emb.filter(F.col("vec_id") % 3 == r), path,
            meta_cols=("label",),
        )
    replay = update_ivfpq_index(
        spark, emb.filter(F.col("vec_id") % 3 == 0), path,
        meta_cols=("label",),
    )
    approx = search_ivfpq_index(
        spark, path, queries_df, emb, k=10, n_probe=7,
        where=F.col("label") == FILTER_LABEL,
    )
    # exact L2 over the FILTERED corpus, restricted to the same probed
    # lists (read back from the index so probe membership is the store's)
    probes = ivfpq_probes(queries_df, coarse, n_probe=7)
    pe = (
        _read_pq(spark, f"{path}/index")
        .filter(F.col("label") == FILTER_LABEL)
        .select("vec_id", "list_id")
        .join(F.broadcast(probes.select("query_id", "list_id")), "list_id")
        .join(emb.select("vec_id", F.col("embedding").alias("__cv")), "vec_id")
        .join(
            F.broadcast(
                queries_df.select("query_id", F.col("embedding").alias("__qv"))
            ),
            "query_id",
        )
        .withColumn("l2", _sq_l2(F.col("__cv"), F.col("__qv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("l2").asc(), F.col("vec_id").asc()
    )
    probed_exact = (
        pe.withColumn("rk", F.row_number().over(w))
        .filter("rk <= 10")
        .select("query_id", "vec_id")
    )
    labels = emb.select("vec_id", "label")
    hits = approx.select("query_id", "vec_id").join(labels, "vec_id")
    overlap = (
        probed_exact.join(
            approx.select("query_id", "vec_id"), ["query_id", "vec_id"]
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        hits.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_results"),
            (
                F.sum((F.col("label") == FILTER_LABEL).cast("int"))
                == F.count(F.lit(1))
            ).alias("all_match_filter"),
        )
        .join(overlap, "query_id", "left")
        .select(
            "query_id", "n_results",
            (F.coalesce(F.col("n_overlap"), F.lit(0)) >= F.lit(8)).alias(
                "recall_ok"
            ),
            (F.col("all_match_filter") & F.lit(replay["n_new"] == 0)).alias(
                "all_match_filter"
            ),
        )
    )


def sql_filtered_ivfpq(dialect: str) -> str:
    """EMB19's gate oracle (emb13/emb18's pattern): compression,
    persistence and predicate pushdown trade recall only within the
    gate's tolerance and never leak a non-matching row; the replay
    appends nothing.  Gates TRUE, full k per query."""
    del dialect
    return """
SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS n_results,
       true AS recall_ok, true AS all_match_filter
FROM embeddings WHERE vec_id < 5
"""


QUERIES["emb19_filtered_ivfpq"] = _emb19_filtered_ivfpq
EMBEDDING_ORACLES["emb19_filtered_ivfpq"] = sql_filtered_ivfpq("duck")


# --- EMB20: D4 prototype diversification -------------------------------------
D4_N_PLANT = 40       # ripple copies of vec 0 planted as a dense cluster
D4_DROP_FRAC = 0.25   # fraction of every cluster dropped as prototypical


def _d4_corpus_sql(dialect: str) -> str:
    """The emb20 fixture corpus, one text for both engines: the organic
    embeddings (double-cast) plus ``D4_N_PLANT`` deterministic ripple
    copies of vec 0 under ids >= the plant offset — a DENSE prototype
    cluster (pairwise cosine ~0.999998) the D4 cut must visibly thin.
    The ripple multiplies dim ``di`` of copy ``i`` by
    1 + 0.001·((i+di) mod 7 − 3): integer arithmetic inside the cast, so
    the planted doubles are bit-identical across engines."""
    dims = seq(dialect, "1", list_len(dialect, "embedding"))
    ripple = transform(
        dialect,
        dims,
        f"CAST({elem(dialect, 'embedding', 'CAST(di AS INT)')} AS DOUBLE) * "
        f"({d('1.0')} + {d('0.001')} * CAST((i + di) % 7 - 3 AS DOUBLE))",
        var="di",
    )
    organic = transform(
        dialect, "embedding", "CAST(x AS DOUBLE)"
    )
    if dialect == "spark":
        planted_from = (
            f"embeddings LATERAL VIEW explode(sequence(1, {D4_N_PLANT})) _i AS i"
        )
    else:
        planted_from = (
            "embeddings CROSS JOIN (SELECT unnest(generate_series(1, "
            f"{D4_N_PLANT})) AS i) _i"
        )
    return f"""
  SELECT vec_id, {organic} AS embedding FROM embeddings
  UNION ALL
  SELECT {SEMDEDUP_PLANT_BASE} + i AS vec_id, {ripple} AS embedding
  FROM {planted_from} WHERE vec_id = 0
"""


def _emb20_d4_prototypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMB20 — D4 diversification (Tirumala et al. 2023): after SemDeDup
    removes near-exact twins, D4 additionally drops over-PROTOTYPICAL
    points — per cluster, the top ``drop_frac`` fraction by cosine to
    the assigned centroid — so the kept corpus is DIVERSE, not just
    duplicate-free.  Driven through the production operator
    ``operators/similarity.d4_prototype_filter`` (assignment =
    ``semantic_assignment``'s raw-argmax/lowest-cid rule; cut =
    row_number over (r6 score DESC, vec_id ASC) > floor(frac·n_c)).

    Deterministic codebook: the ``N_LISTS`` lowest-id ORGANIC
    embeddings act as centroids (the emb4 rule — kmeans_fit replaces
    this in production; the composed trained-path is pytest-pinned),
    which is what lets the DuckDB oracle recompute assignment AND the
    per-cluster quantile cut value-exactly.  The planted dense
    prototype cluster (ids >= the plant offset, all ~0.999998 cosine to
    centroid 0) must land at the top of cluster 0's ranking and be
    thinned first — asserted by pytest, visible in the rows."""
    from ..operators.similarity import d4_prototype_filter

    emb = load_table(spark, sf_dir, "embeddings")
    max_id = emb.agg(F.max("vec_id")).first()[0]
    if max_id is not None and max_id >= SEMDEDUP_PLANT_BASE:
        raise ValueError(
            f"emb20 fixture: corpus vec_ids reach {max_id} >= the planted-id "
            f"offset {SEMDEDUP_PLANT_BASE}"
        )
    emb.createOrReplaceTempView("embeddings")
    corpus = spark.sql(f"SELECT * FROM ({_d4_corpus_sql('spark')})")
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in corpus.filter(F.col("vec_id") < N_LISTS).collect()
    ]
    return d4_prototype_filter(
        corpus, cents, drop_frac=D4_DROP_FRAC, arrow=False
    )


def sql_d4_prototypes(dialect: str) -> str:
    """EMB20's oracle: rebuild the planted corpus, assign every vector to
    its max-RAW-cosine centroid (lowest-cid ties — row_number on the
    unrounded fold, exactly ``semantic_assignment``'s rule), score by the
    r6-rounded cosine to the assigned centroid, and apply the D4 cut:
    rank > floor(drop_frac·n_c) survives."""
    acos = _cosine(dialect, "v.embedding", "c.cvec")
    return f"""
WITH corpus AS ({_d4_corpus_sql(dialect)}),
cent AS (
  SELECT vec_id AS cid, embedding AS cvec FROM corpus
  WHERE vec_id < {N_LISTS}
),
asim AS (
  SELECT v.vec_id, c.cid, {acos} AS c0
  FROM corpus v CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, cid, c0 FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY c0 DESC, cid ASC) AS rk
    FROM asim
  ) t WHERE rk = 1
),
ranked AS (
  SELECT vec_id, CAST(cid AS INT) AS cid, {r6t('c0')} AS proto_score,
         row_number() OVER (
           PARTITION BY cid ORDER BY {r6t('c0')} DESC, vec_id ASC) AS rn,
         count(*) OVER (PARTITION BY cid) AS nc
  FROM assigned
)
SELECT vec_id, cid, proto_score,
       rn > floor({d(str(D4_DROP_FRAC))} * nc) AS keep
FROM ranked
"""


QUERIES["emb20_d4_prototypes"] = _emb20_d4_prototypes
EMBEDDING_ORACLES["emb20_d4_prototypes"] = sql_d4_prototypes("duck")


# --- DQ4: index recall-drift monitor + rebuild lifecycle ----------------------
DQ4_PLANT_BASE = 100_000   # old-era ids; new era at 2x
DQ4_GROUPS = 16            # planted neighbor groups per era
DQ4_MEMBERS = 13           # members per group (top-10 lives in-group)
DQ4_RECALL_FLOOR = 0.8     # the serving bar the monitor gates on


def _dq4_planted_groups(g_lo: int, g_hi: int, id_base: int):
    """Era fixture: group g's member j = organic vec (g·3) + 0.5 × an
    organic noise vec keyed by (g,j) — within-group cosine ≈ 0.85 ≫
    cross-group, so each member's exact top-10 is its group-mates, while
    the 0.5 noise component swings a FROZEN quantizer's argmax from
    member to member (the scatter that decays recall under drift)."""
    return f"""
      SELECT {id_base} + g * 100 + j AS vec_id,
             zip_with(b.embedding, n.embedding,
                      (x, y) -> x + CAST(0.5 AS DOUBLE) * y) AS embedding
      FROM (SELECT explode(sequence({g_lo}, {g_hi})) AS g) gs
      JOIN (SELECT explode(sequence(0, {DQ4_MEMBERS - 1})) AS j) js
      JOIN (SELECT vec_id AS bid,
                   transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
            FROM embeddings) b ON b.bid = g * 3
      JOIN (SELECT vec_id AS nid,
                   transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
            FROM embeddings) n ON n.nid = 200 + (g * 13 + j * 7) % 280
    """


def _dq4_index_recall_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ4 — the monitoring query that tells you WHEN to rebuild, plus
    the rebuild itself (operators/similarity.rebuild_ivf_index): every
    incremental index freezes its quantizer at init; under distribution
    drift recall decays silently unless something measures it.  The
    fixture plants 16 neighbor groups, trains the IVF codebook on them,
    then ingests 16 NEW groups the frozen codebook never saw — their
    members scatter across lists, so recall@10 vs exact cosine (computed
    in-plan over a sampled query set, one query per group) drops below
    the serving floor on the post-drift segment while the pre-drift
    segment stays above it.  rebuild_ivf_index retrains on the
    accumulated vectors (k doubled — the corpus doubled) and swaps via
    the staging/commit-marker protocol; both segments then clear the
    floor.  Output: one row per (phase, segment) with the gate —
    deterministic (seeded fit, fixed data), so the oracle pins the
    truth table: drift detected standing, repaired after rebuild."""
    import os

    from pyspark.sql import Window

    from ..operators.similarity import (
        cosine_col,
        init_ivf_index,
        rebuild_ivf_index,
        search_ivf_index,
        update_ivf_index,
    )
    from .fixtures import fixture_kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    max_id = emb.agg(F.max("vec_id")).first()[0]
    if max_id is not None and max_id >= DQ4_PLANT_BASE:
        raise ValueError(
            f"dq4 fixture: corpus vec_ids reach {max_id} >= the planted-id "
            f"offset {DQ4_PLANT_BASE}"
        )
    emb.createOrReplaceTempView("embeddings")
    old = spark.sql(
        _dq4_planted_groups(0, DQ4_GROUPS - 1, DQ4_PLANT_BASE)
    ).localCheckpoint(eager=False)
    new = spark.sql(
        _dq4_planted_groups(DQ4_GROUPS, 2 * DQ4_GROUPS - 1, 2 * DQ4_PLANT_BASE)
    ).localCheckpoint(eager=False)
    corpus = old.unionByName(new).localCheckpoint(eager=False)

    root = scratch_store("dq4idx", sf_dir)
    path = os.path.join(root, "index")
    # pre-drift-era fit memoized per (application, sf_dir, params) — the
    # dq5_fixture_ivfpq_fit contract on the SAME planted rendering
    # (r18 optimization): bit-identical to kmeans_fit(old, DQ4_GROUPS, 3)
    init_ivf_index(
        fixture_kmeans_fit(
            spark, sf_dir, "dq4_old", old, k=DQ4_GROUPS, n_iter=3
        ),
        path,
    )
    update_ivf_index(spark, old, path)
    update_ivf_index(spark, new, path)

    queries = corpus.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    exact = (
        queries.alias("q")
        .join(corpus.alias("c"), F.col("q.query_id") != F.col("c.vec_id"))
        .select(
            "q.query_id",
            "c.vec_id",
            cosine_col(F.col("q.embedding"), F.col("c.embedding")).alias("cos"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("query_id", "vec_id")
        .localCheckpoint(eager=False)
    )

    def segment_gates(phase: str) -> DataFrame:
        got = search_ivf_index(
            spark, path, queries, k=10, n_probe=2
        ).select("query_id", "vec_id")
        hits = exact.join(got, ["query_id", "vec_id"]).groupBy("query_id").agg(
            F.count(F.lit(1)).alias("n_hit")
        )
        per_q = (
            exact.groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_exact"))
            .join(hits, "query_id", "left")
            .select(
                "query_id",
                (
                    F.coalesce("n_hit", F.lit(0)).cast("double")
                    / F.col("n_exact").cast("double")
                ).alias("recall"),
            )
        )
        return (
            per_q.withColumn(
                "segment",
                F.when(
                    F.col("query_id") >= 2 * DQ4_PLANT_BASE,
                    F.lit("post_drift"),
                ).otherwise(F.lit("pre_drift")),
            )
            .groupBy("segment")
            .agg(
                F.count(F.lit(1)).alias("n_queries"),
                (F.avg("recall") >= F.lit(DQ4_RECALL_FLOOR)).alias("recall_ok"),
            )
            .select(F.lit(phase).alias("phase"), "segment", "n_queries", "recall_ok")
            # materialize NOW: the rebuild below swaps the index this
            # plan reads, so a lazy 'standing' scan would see the new one
            .localCheckpoint()
        )

    standing = segment_gates("standing")
    rebuild_ivf_index(spark, path, k=2 * DQ4_GROUPS, n_iter=3)
    rebuilt = segment_gates("rebuilt")
    return standing.unionByName(rebuilt).orderBy("phase", "segment")


def sql_index_recall_drift(dialect: str) -> str:
    """DQ4's oracle — the deterministic truth table: the frozen index
    serves the pre-drift segment above the floor, FAILS it on the
    drifted segment (the rebuild trigger), and the retrained+swapped
    index clears the floor on both."""
    del dialect
    return f"""
SELECT 'rebuilt' AS phase, 'post_drift' AS segment,
       CAST({DQ4_GROUPS} AS BIGINT) AS n_queries, true AS recall_ok
UNION ALL
SELECT 'rebuilt', 'pre_drift', CAST({DQ4_GROUPS} AS BIGINT), true
UNION ALL
SELECT 'standing', 'post_drift', CAST({DQ4_GROUPS} AS BIGINT), false
UNION ALL
SELECT 'standing', 'pre_drift', CAST({DQ4_GROUPS} AS BIGINT), true
ORDER BY phase, segment
"""


QUERIES["dq4_index_recall_drift"] = _dq4_index_recall_drift
EMBEDDING_ORACLES["dq4_index_recall_drift"] = sql_index_recall_drift("duck")


# --- DQ5: drift monitors for the OTHER three index families -------------------
# dq4 monitors the plain IVF index; r13 shipped rebuilds for all FOUR
# incremental families but monitors for only one — dq5 closes the gap
# with one family-appropriate drift metric each:
#   ivfpq    — recall@10 of the SERVING tier (search_ivfpq_index) vs the
#              exact L2 top-10, the dq4 gate on the layout 100 TB
#              actually queries;
#   pq       — mean RECONSTRUCTION error (pq_self_distortion): the flat
#              code table has no list scatter, so quantizer health is
#              the drift signal (Jégou et al. PAMI'11's quality metric);
#   semantic — COVERAGE of the planted same-group pair watchlist in the
#              accumulated pairs table: drift scatters group members
#              across frozen clusters, and pairs only form WITHIN
#              clusters, so missed true pairs are the decay.
# Shared planted-drift fixture with dq4 (two eras of 16 neighbor
# groups); every gate measured at sf0.001/0.01/0.1 (PQ geometry m=8,
# k=8 — the full m=16/k=16 fits cost ~48 s of pure fixed job overhead
# on the 416-row fixture and change no gate; recall identical at both
# geometries): ivfpq recall 0.90 pre / 0.63-0.69 post / 0.90-0.90
# rebuilt; pq distortion 0.49-0.52 pre / 0.99-1.07 post / 0.63-0.69
# rebuilt; semantic coverage 0.999-1.0 pre / 0.40-0.51 post /
# 0.999-1.0 rebuilt.
DQ5_PQ_M = 8               # dq5 fixture PQ geometry (see note above)
DQ5_PQ_K = 8
DQ5_DISTORTION_CAP = 0.8   # between rebuilt<=0.69 and drifted>=0.99
DQ5_SEM_THRESHOLD = 0.7    # below the 0.69-0.71 within-group cosine floor
DQ5_COVERAGE_FLOOR = 0.8


def _dq5_serving_drift_monitors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ5 — the dq4 monitor generalized to the whole index-lifecycle
    family: every incremental store freezes its quantizer/codebook at
    init, so every family decays under drift in its own way and needs
    its own WHEN-to-rebuild signal.  One planted-drift fixture (dq4's
    two eras), three monitors, three rebuilds
    (``rebuild_ivfpq_index`` / ``rebuild_pq_codes`` /
    ``rebuild_semantic_index``, each the staging/commit-marker/two-
    rename swap), and the deterministic truth table: each family's gate
    holds pre-drift, FAILS on the drifted segment standing, and clears
    on both segments after its rebuild.  Output: one row per
    (family, phase, segment)."""
    import os

    from pyspark.sql import Window

    from ..operators.similarity import (
        _sq_l2,
        init_ivfpq_index,
        init_pq_index,
        init_semantic_index,
        load_pq_codebooks,
        pq_self_distortion,
        rebuild_ivfpq_index,
        rebuild_pq_codes,
        rebuild_semantic_index,
        search_ivfpq_index,
        update_ivfpq_index,
        update_pq_codes,
        update_semantic_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    emb.createOrReplaceTempView("embeddings")
    # EAGER checkpoints: three fit pipelines + three rebuilds + two
    # searches re-enter these frames ~30 times; at this fixture size the
    # cost is Spark's fixed per-job overhead, and a lazy checkpoint adds
    # one full fixture re-derivation to each leg's first action
    # (measured: ivfpq_fit first-run 7.5 s lazy vs 4.1 s eager).
    # r19: the max-id guard and the two era derivations are independent
    # reads of the embeddings view — three serial fixture jobs become
    # three overlapped ones (guide §2.6), and corpus stays a LAZY union
    # of the two pinned frames (its own eager checkpoint was a third
    # serial fixture pass that re-wrote bytes both inputs already hold).
    with overlap() as o:
        max_id = o.submit(
            "dq5/max_id", lambda: emb.agg(F.max("vec_id")).first()[0]
        )
        old = o.submit(
            "dq5/old_era",
            lambda: spark.sql(
                _dq4_planted_groups(0, DQ4_GROUPS - 1, DQ4_PLANT_BASE)
            ).localCheckpoint(),
        )
        new = o.submit(
            "dq5/new_era",
            lambda: spark.sql(
                _dq4_planted_groups(
                    DQ4_GROUPS, 2 * DQ4_GROUPS - 1, 2 * DQ4_PLANT_BASE
                )
            ).localCheckpoint(),
        )
        max_id = max_id.result()
        if max_id is not None and max_id >= DQ4_PLANT_BASE:
            raise ValueError(
                f"dq5 fixture: corpus vec_ids reach {max_id} >= the "
                f"planted-id offset {DQ4_PLANT_BASE}"
            )
    old, new = old.result(), new.result()
    corpus = old.unionByName(new)

    root = scratch_store("dq5idx", sf_dir)
    seg_col = F.when(
        F.col("vec_id") >= 2 * DQ4_PLANT_BASE, F.lit("post_drift")
    ).otherwise(F.lit("pre_drift"))

    def gate_rows(family: str, phase: str, per_item: DataFrame,
                  metric: str, ok) -> DataFrame:
        """(family, phase, segment, n_items, gate_ok) from a per-item
        metric frame carrying vec_id; `ok` maps the segment-avg column
        to the boolean gate.  Every gate materializes eagerly:
        standing gates MUST (the rebuild swaps the store this plan
        reads — a lazy scan would see the new index), and folding the
        rebuilt gates into the final union's one job measured slightly
        slower and noisier than separate small jobs."""
        return (
            per_item.withColumn("segment", seg_col)
            .groupBy("segment")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                ok(F.avg(metric)).alias("gate_ok"),
            )
            .select(
                F.lit(family).alias("family"),
                F.lit(phase).alias("phase"),
                "segment",
                "n_items",
                "gate_ok",
            )
            .localCheckpoint()
        )

    # --- family 1: IVF-PQ serving tier (recall@10 vs exact L2) -----------
    def leg_ivfpq() -> list[DataFrame]:
        from .fixtures import dq5_fixture_ivfpq_fit

        ivfp = os.path.join(root, "ivfpq")
        queries = corpus.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("l2").asc(), F.col("vec_id").asc()
        )

        def _build_exact() -> DataFrame:
            # the exact top-10 reference depends only on the fixture
            # corpus — never the store — so it materializes overlapping
            # the fit/init/ingest chain (guide §2.6) instead of riding
            # the standing gate's first action (r19)
            return (
                queries.alias("q")
                .join(
                    corpus.alias("c"), F.col("q.query_id") != F.col("c.vec_id")
                )
                .select(
                    "q.query_id",
                    "c.vec_id",
                    _sq_l2(
                        F.col("q.embedding"), F.col("c.embedding")
                    ).alias("l2"),
                )
                .withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= 10)
                .select("query_id", "vec_id")
                .localCheckpoint()
            )

        with overlap() as o:
            exact = o.submit("dq5/leg_ivfpq/exact", _build_exact)
            # memoized per (application, sf_dir, params) — the planted
            # fixture fit is deterministic, so warm bench passes skip the
            # ivfpq leg's ~7 s serial-chain fit (r17 verdict item 4)
            coarse, fine = dq5_fixture_ivfpq_fit(
                spark, sf_dir, old, DQ4_GROUPS, DQ5_PQ_M, DQ5_PQ_K, 2
            )
            init_ivfpq_index(spark, coarse, fine, ivfp)
            # one-shot ingest: the two-batch anti-join ingest contract is
            # dq4's and emb14's already-rowed surface — dq5 pays for the
            # MONITORS, so the fixture ingests once (the accumulated
            # state is identical)
            update_ivfpq_index(spark, corpus, ivfp)
        exact = exact.result()

        def ivfpq_recall(phase: str) -> DataFrame:
            got = search_ivfpq_index(
                spark, ivfp, queries, corpus, k=10, n_probe=2
            ).select("query_id", "vec_id")
            hits = exact.join(got, ["query_id", "vec_id"]).groupBy(
                "query_id"
            ).agg(F.count(F.lit(1)).alias("n_hit"))
            per_q = (
                exact.groupBy("query_id")
                .agg(F.count(F.lit(1)).alias("n_exact"))
                .join(hits, "query_id", "left")
                .select(
                    F.col("query_id").alias("vec_id"),
                    (
                        F.coalesce("n_hit", F.lit(0)).cast("double")
                        / F.col("n_exact").cast("double")
                    ).alias("recall"),
                )
            )
            return gate_rows(
                "ivfpq", phase, per_q, "recall",
                lambda avg: avg >= F.lit(DQ4_RECALL_FLOOR),
            )

        standing = ivfpq_recall("standing")
        rebuild_ivfpq_index(
            spark, corpus, ivfp, n_lists=2 * DQ4_GROUPS, n_iter=2
        )
        return [standing, ivfpq_recall("rebuilt")]

    # --- family 2: flat PQ code table (mean reconstruction error) --------
    def leg_pq() -> list[DataFrame]:
        from .fixtures import fixture_pq_fit

        pqp = os.path.join(root, "pq")
        # pre-drift-era fit memoized (the dq5_fixture_ivfpq_fit contract
        # on the same planted rendering, r18 optimization) — bit-identical
        # to pq_fit(old, DQ5_PQ_M, DQ5_PQ_K, n_iter=2)
        init_pq_index(
            spark,
            fixture_pq_fit(
                spark, sf_dir, "dq4_old", old,
                m=DQ5_PQ_M, k=DQ5_PQ_K, n_iter=2,
            ),
            pqp,
        )
        update_pq_codes(spark, corpus, pqp)

        def pq_health(phase: str) -> DataFrame:
            per_v = pq_self_distortion(
                corpus,
                _read_pq(spark, f"{pqp}/codes"),
                load_pq_codebooks(spark, pqp),
            )
            return gate_rows(
                "pq", phase, per_v, "pq_dist",
                lambda avg: avg <= F.lit(DQ5_DISTORTION_CAP),
            )

        standing = pq_health("standing")
        rebuild_pq_codes(spark, corpus, pqp, n_iter=2)
        return [standing, pq_health("rebuilt")]

    # --- family 3: semantic index (planted-pair coverage) ----------------
    def leg_sem() -> list[DataFrame]:
        from .fixtures import fixture_kmeans_fit

        semp = os.path.join(root, "sem")
        # pre-drift-era fit memoized (same contract as leg_ivfpq/leg_pq)
        # — bit-identical to kmeans_fit(old, k=DQ4_GROUPS, n_iter=2)
        init_semantic_index(
            fixture_kmeans_fit(
                spark, sf_dir, "dq4_old", old, k=DQ4_GROUPS, n_iter=2
            ),
            semp,
        )
        update_semantic_index(spark, corpus, semp, threshold=DQ5_SEM_THRESHOLD)
        grp = lambda side: (F.col(f"{side}.vec_id") / 100).cast("int")  # noqa: E731
        truth = (
            corpus.alias("a")
            .join(
                corpus.alias("b"),
                (grp("a") == grp("b")) & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
            )
            .localCheckpoint(eager=False)
        )

        def sem_coverage(phase: str) -> DataFrame:
            got = _read_pq(spark, f"{semp}/pairs").select(
                "vec_a", "vec_b", F.lit(1.0).alias("__found")
            )
            per_pair = truth.join(got, ["vec_a", "vec_b"], "left").select(
                F.col("vec_a").alias("vec_id"),  # pair era = either end's era
                F.coalesce("__found", F.lit(0.0)).alias("covered"),
            )
            return gate_rows(
                "semantic", phase, per_pair, "covered",
                lambda avg: avg >= F.lit(DQ5_COVERAGE_FLOOR),
            )

        standing = sem_coverage("standing")
        rebuild_semantic_index(
            spark, semp, threshold=DQ5_SEM_THRESHOLD, k=2 * DQ4_GROUPS, n_iter=2
        )
        return [standing, sem_coverage("rebuilt")]

    # The three lifecycles are INDEPENDENT (separate stores, shared
    # read-only fixture checkpoints), and each is a chain of dozens of
    # tiny fixture-sized jobs whose cost is Spark's fixed per-job
    # overhead, not compute — so the wall-clock lever is concurrent job
    # submission, exactly how a production monitor fleet runs its
    # per-index checks.  Three driver threads submit the legs; the
    # FIFO scheduler interleaves their small stages across the idle
    # cores.  Sequencing WITHIN a leg (standing gate → rebuild →
    # rebuilt gate) is preserved by the leg function; the eager gate
    # materialization in gate_rows keeps each gate pinned to the store
    # state it was measured against.  (Measured solo-warm at sf0.1:
    # ~35 s sequential → ~26 s threaded median [23.7, 31.6]; the floor
    # is leg_ivfpq's own serial chain — fit 7 + ingest 2 + 2 searches
    # + rebuild 11 — which threading cannot shorten further without
    # weakening the fixture.)  INVARIANT: no operator the legs call may
    # mutate session-global state (fixed-name temp views, conf.set /
    # _scoped_conf) — the legs share one SparkSession; pinned by
    # tests/test_plans.py::test_dq5_leg_operators_touch_no_session_global_state.
    with overlap() as o:
        legs = [
            o.submit(f"dq5/{leg.__name__}", leg)
            for leg in (leg_ivfpq, leg_pq, leg_sem)
        ]
    out = [df for leg in legs for df in leg.result()]
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res.orderBy("family", "phase", "segment")


def sql_serving_drift_monitors(dialect: str) -> str:
    """DQ5's oracle — the deterministic truth table across all three
    families: every gate holds pre-drift, fails on the drifted segment
    standing, and clears on both segments after the family's rebuild.
    n_items: 16 sampled queries (ivfpq), 208 vectors (pq), and 16·C(13,2)
    = 1248 same-group watchlist pairs (semantic) per segment."""
    del dialect
    rows = []
    for family, n in (("ivfpq", 16), ("pq", 208), ("semantic", 1248)):
        for phase in ("rebuilt", "standing"):
            for segment in ("post_drift", "pre_drift"):
                ok = not (phase == "standing" and segment == "post_drift")
                rows.append(
                    f"SELECT '{family}' AS family, '{phase}' AS phase, "
                    f"'{segment}' AS segment, CAST({n} AS BIGINT) AS n_items, "
                    f"{str(ok).lower()} AS gate_ok"
                )
    return "\nUNION ALL\n".join(rows) + "\nORDER BY family, phase, segment"


QUERIES["dq5_serving_drift_monitors"] = _dq5_serving_drift_monitors
EMBEDDING_ORACLES["dq5_serving_drift_monitors"] = sql_serving_drift_monitors(
    "duck"
)


# --- DD16 (r15, staged in r14): semantic decontamination --------------------
# The decontamination family gates on exact 13-grams (dd10/dd11), MinHash
# bands over the text (dd12), and perceptual hashes across modalities
# (mm10/mm11) — every gate so far needs the LEAK to share surface form
# with the benchmark.  A paraphrased or re-encoded leak shares none; the
# embedding is where it still shows.  dd16 closes that class: training
# vectors are flagged when a sign-random-projection band (Charikar 2002's
# SimHash family applied to the embedding, banded like dd12's MinHash
# OR-construction) collides with a benchmark vector's band AND the exact
# r6-rounded cosine clears the threshold — candidates by LSH, verdicts by
# the true similarity, precisely the banded-then-verify shape every other
# near-dup gate in the engine uses.
#
# Fixture (mirrors dd12's planted-leak design): train/test split by the
# sp1 hash rule on vec_id; every D16_PLANT_STRIDE-th test vector re-enters
# training MULTIPLICATIVELY perturbed (x_i · (1 + ε_i), |ε_i| ≤ 0.008,
# ε deterministic from (vec_id + i) — so the copy is never byte-identical
# and exact dedup misses it, but every sign bucket is PRESERVED and the
# cosine stays ≥ 0.9999).  Natural pairs top out at cosine 0.479 in this
# corpus (measured at sf0.001), so with D16_TAU = 0.9 the truth set is
# exactly the planted re-entries, while the band stage still surfaces
# natural candidate pairs for the cosine gate to reject — both halves of
# the banded-then-verify contract are exercised.
#
# Scale shape (100 TB): the benchmark side is small and broadcast — the
# corpus side is ONE linear scan producing D16_BANDS sig rows per vector,
# a map-side band join against the broadcast benchmark bands, and a
# candidate-bounded shuffle for the pair-distinct + verify stage.  No
# corpus self-join anywhere; candidate volume ∝ corpus · bands / 2^bits,
# tunable exactly like dd12's band geometry.
D16_BANDS = 3
D16_BAND_BITS = 10  # 3 bands × 10 sign bits over dims 1..30 of 64
D16_TAU = "0.9"     # exact 6-decimal literal — the shared r6 cut
D16_PLANT_BASE = 10_000_000
D16_PLANT_STRIDE = 3


def _d16_emb_double(dialect: str, col: str = "embedding") -> str:
    """The float embedding as a DOUBLE list — cast ONCE here so every
    downstream op (signs, perturbation, cosine) is double·double in both
    engines (float→double widening is exact)."""
    return transform(dialect, col, "CAST(x AS DOUBLE)")


def _d16_fixture_ctes(dialect: str) -> str:
    """base / test_vecs / planted / train_vecs — shared verbatim by the
    oracle and the Spark fixture so the planted corpus is written once."""
    from ..operators.sampling import N_BUCKETS, SPLIT_BOUNDS
    from .dialect import tok_hash

    h = tok_hash(dialect, "CAST(vec_id AS STRING)")
    t_lo, t_hi = SPLIT_BOUNDS["test"]
    tr_hi = SPLIT_BOUNDS["train"][1]
    # ε_i ∈ {-0.008, -0.004, 0, 0.004, 0.008} keyed by (vec_id + dim):
    # multiplicative, so signs (and hence every band sig) are preserved
    eps = f"CAST((vec_id + i) % 5 - 2 AS DOUBLE) * {d('0.004')}"
    perturbed = transform(
        dialect,
        seq(dialect, "1", list_len(dialect, "emb")),
        f"{elem(dialect, 'emb', 'CAST(i AS INT)')} * ({d('1.0')} + {eps})",
        var="i",
    )
    return f"""base AS (
  SELECT vec_id, {_d16_emb_double(dialect)} AS emb,
         ({h}) % {N_BUCKETS} AS bucket
  FROM embeddings
),
test_vecs AS (
  SELECT vec_id, emb FROM base WHERE bucket >= {t_lo} AND bucket < {t_hi}
),
planted AS (
  SELECT vec_id + {D16_PLANT_BASE} AS vec_id, {perturbed} AS emb
  FROM test_vecs WHERE vec_id % {D16_PLANT_STRIDE} = 0
),
train_vecs AS (
  SELECT vec_id, emb FROM base WHERE bucket < {tr_hi}
  UNION ALL SELECT vec_id, emb FROM planted
)"""


def d16_band_sig(dialect: str, band: int, vec: str = "emb") -> str:
    """Band ``band``'s sign signature: bit j-1 set iff coordinate
    band·bits + j is strictly positive — integer arithmetic only."""
    terms = " + ".join(
        f"(CASE WHEN {elem(dialect, vec, str(band * D16_BAND_BITS + j))} "
        f"> {d('0.0')} THEN {1 << (j - 1)} ELSE 0 END)"
        for j in range(1, D16_BAND_BITS + 1)
    )
    return f"CAST({terms} AS BIGINT)"


def _d16_bands_union(dialect: str, src: str) -> str:
    """(vec_id, band_id, sig) — one row per band per vector."""
    return "\nUNION ALL\n".join(
        f"  SELECT vec_id, {b} AS band_id, {d16_band_sig(dialect, b)} AS sig "
        f"FROM {src}"
        for b in range(D16_BANDS)
    )


def sql_semantic_decontamination(dialect: str) -> str:
    """DD16's full dual-dialect body: fixture CTEs + banded candidates +
    the r6-rounded cosine verify + the per-train-vector rollup.  The
    Spark side reaches the same values through
    operators/similarity.srp_decontaminate (broadcast test side); this
    text IS the oracle and the parity pin for that operator."""
    cos = _cosine(dialect, "tr.emb", "te.emb")
    return f"""
WITH {_d16_fixture_ctes(dialect)},
t_bands AS (
{_d16_bands_union(dialect, "test_vecs")}
),
r_bands AS (
{_d16_bands_union(dialect, "train_vecs")}
),
cand AS (
  SELECT DISTINCT r.vec_id AS train_id, t.vec_id AS test_id
  FROM r_bands r JOIN t_bands t
    ON r.band_id = t.band_id AND r.sig = t.sig
),
scored AS (
  SELECT c.train_id, c.test_id, {r6t(cos)} AS cosine_sim
  FROM cand c
  JOIN train_vecs tr ON c.train_id = tr.vec_id
  JOIN test_vecs te ON c.test_id = te.vec_id
),
hits AS (
  SELECT train_id, test_id, cosine_sim,
         row_number() OVER (
           PARTITION BY train_id
           ORDER BY cosine_sim DESC, test_id ASC) AS rk
  FROM scored WHERE cosine_sim >= {d(D16_TAU)}
)
SELECT train_id AS vec_id,
       CAST(count(*) AS BIGINT) AS n_test_matches,
       max(CASE WHEN rk = 1 THEN test_id END) AS best_test_id,
       max(cosine_sim) AS max_cosine,
       max(train_id >= {D16_PLANT_BASE}) AS is_planted_leak
FROM hits GROUP BY train_id
"""


def _dd16_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD16, Spark side: the shared fixture CTEs build train/test frames,
    then operators/similarity.srp_decontaminate runs the banded-then-
    verify gate with the benchmark side BROADCAST — the production shape
    (benchmarks are MBs; the corpus is the 100 TB side)."""
    from ..operators.similarity import srp_decontaminate

    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    ctes = _d16_fixture_ctes("spark")
    train = spark.sql(f"WITH {ctes} SELECT vec_id, emb FROM train_vecs")
    test = spark.sql(f"WITH {ctes} SELECT vec_id, emb FROM test_vecs")
    out = srp_decontaminate(
        train,
        test,
        bands=D16_BANDS,
        bits=D16_BAND_BITS,
        threshold=float(D16_TAU),
    )
    return out.withColumn(
        "is_planted_leak", F.col("vec_id") >= F.lit(D16_PLANT_BASE)
    )


QUERIES["dd16_semantic_decontamination"] = _dd16_semantic_decontamination
EMBEDDING_ORACLES["dd16_semantic_decontamination"] = (
    sql_semantic_decontamination("duck")
)


# --- EMB21: deletion lifecycle on the serving index ---------------------------
def _emb21_index_deletion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMB21 — DELETE from the persisted IVF-PQ serving index
    (operators/similarity.delete_from_ivfpq_index /
    purge_ivfpq_tombstones): the retraction step that completes the
    index family's lifecycle — insert-only ingest (emb14), rebuild
    (dq4/dq5), filtered serving (emb19), and now takedown.  A
    production corpus must honor removal requests without rebuilding a
    100 TB index: deletions append to a tombstone table the serving
    path anti-joins (broadcast, deletion-sized), and a later purge
    physically rewrites ONLY the touched list partitions.

    In-plan gates, each ONE action (the dd11 pattern):
    - delete replay appends nothing (tombstone anti-join idempotence);
    - no served result is ever a deleted id;
    - tombstone-aware serving equals a TWIN index built with the SAME
      quantizers on the corpus MINUS the deleted ids (encoding is a
      pure per-vector function, so deletion commutes with it — emb19's
      commute argument applied to takedown);
    - after purge, results are unchanged, the physical row count drops
      by exactly the deleted count, and the tombstone table is gone
      (serving back on the zero-anti-join fast path)."""
    import os

    from ..operators.similarity import (
        delete_from_ivfpq_index,
        init_ivfpq_index,
        purge_ivfpq_tombstones,
        search_ivfpq_index,
        update_ivfpq_index,
    )
    from ..operators.takedown import store_tombstone_path

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dels = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    # session-memoized league fixture (plans/fixtures): bit-identical to
    # ivfpq_fit(emb, n_iter=2), trained once per session (r15 verdict #5)
    from .fixtures import shared_ivfpq_fit

    coarse, fine = shared_ivfpq_fit(spark, sf_dir)
    root = scratch_store("ivfpq_del", sf_dir)
    path = os.path.join(root, "main")
    # The deletion twin (gate B's reference index) touches ONLY its own
    # store root — independent of the main chain until the gate join —
    # so it builds overlapping ingest/delete/serve (guide §2.6, the
    # dd18/dq5 fleet pattern); its serving result is pinned eagerly in
    # its task so gate B reads a snapshot.
    twin_path = os.path.join(root, "twin")

    def _build_twin():
        init_ivfpq_index(spark, coarse, fine, twin_path)
        update_ivfpq_index(
            spark, emb.join(dels, "vec_id", "left_anti"), twin_path
        )
        return search_ivfpq_index(spark, twin_path, queries, emb, k=10).select(
            "query_id", "vec_id", "rk"
        ).localCheckpoint()

    with overlap() as o:
        twin = o.submit("emb21/twin", _build_twin)
        init_ivfpq_index(spark, coarse, fine, path)
        ing = update_ivfpq_index(spark, emb, path)
        m1 = delete_from_ivfpq_index(spark, dels, path)
        m2 = delete_from_ivfpq_index(spark, dels, path)  # at-least-once replay
        post = search_ivfpq_index(spark, path, queries, emb, k=10).select(
            "query_id", "vec_id", "rk"
        ).localCheckpoint(eager=False)
        # gate A: no deleted id is ever served (one action)
        n_served_deleted = post.join(dels, "vec_id", "left_semi").count()
    # gate B: tombstone-aware serving ≡ the deletion twin (same
    # quantizers, corpus minus deleted) — full outer join, one action
    twin = twin.result()
    diff_row = (
        post.withColumn("__t", F.lit(1))
        .join(
            twin.withColumn("__o", F.lit(1)),
            ["query_id", "vec_id", "rk"],
            "full",
        )
        .agg(
            F.sum(
                (F.col("__t").isNull() | F.col("__o").isNull()).cast("int")
            ).alias("n_diff")
        )
        .collect()[0]
    )
    twin_ok = (diff_row.n_diff or 0) == 0
    # purge, then gates C/D: results unchanged, physical count dropped,
    # tombstones gone
    n_before = _read_pq(spark, f"{path}/index").count()
    pg = purge_ivfpq_tombstones(spark, path)
    n_after = _read_pq(spark, f"{path}/index").count()
    post2 = search_ivfpq_index(spark, path, queries, emb, k=10).select(
        "query_id", "vec_id", "rk"
    )
    diff2 = (
        post.withColumn("__t", F.lit(1))
        .join(
            post2.withColumn("__o", F.lit(1)),
            ["query_id", "vec_id", "rk"],
            "full",
        )
        .agg(
            F.sum(
                (F.col("__t").isNull() | F.col("__o").isNull()).cast("int")
            ).alias("n_diff")
        )
        .collect()[0]
    )
    purge_ok = (
        (diff2.n_diff or 0) == 0
        and n_before - n_after == pg["n_purged"]
        and not os.path.exists(store_tombstone_path(path))
    )
    n_q = queries.count()
    return spark.createDataFrame(
        [
            ("ingest", ing["n_new"], True),
            ("delete", m1["n_new_tombstones"],
             m1["n_new_tombstones"] == m1["n_batch_ids"]),
            ("delete_replay", m2["n_new_tombstones"],
             m2["n_new_tombstones"] == 0),
            ("serve_excludes_deleted", n_q, n_served_deleted == 0),
            ("serve_matches_deletion_twin", n_q, twin_ok),
            ("purge", pg["n_purged"], pg["n_purged"] == m1["n_new_tombstones"]),
            ("serve_after_purge_unchanged", n_q, purge_ok),
        ],
        "phase STRING, n_items BIGint, gate_ok BOOLEAN",
    )


def sql_index_deletion(dialect: str) -> str:
    """EMB21's arithmetic truth: every count derives from the corpus ids
    (ingest = all vectors, delete/purge = the %7 stride, serving = the
    %100 query sample), replay applies nothing, every gate TRUE."""
    del dialect
    return """
WITH c AS (
  SELECT CAST(count(*) AS BIGINT) AS n_all,
         CAST(count(CASE WHEN vec_id % 7 = 0 THEN 1 END) AS BIGINT) AS n_del,
         CAST(count(CASE WHEN vec_id % 100 = 0 THEN 1 END) AS BIGINT) AS n_q
  FROM embeddings
)
SELECT 'ingest' AS phase, n_all AS n_items, true AS gate_ok FROM c
UNION ALL SELECT 'delete', n_del, true FROM c
UNION ALL SELECT 'delete_replay', CAST(0 AS BIGINT), true FROM c
UNION ALL SELECT 'serve_excludes_deleted', n_q, true FROM c
UNION ALL SELECT 'serve_matches_deletion_twin', n_q, true FROM c
UNION ALL SELECT 'purge', n_del, true FROM c
UNION ALL SELECT 'serve_after_purge_unchanged', n_q, true FROM c
"""


QUERIES["emb21_index_deletion"] = _emb21_index_deletion
EMBEDDING_ORACLES["emb21_index_deletion"] = sql_index_deletion("duck")


# --- EMB23: Matryoshka truncated-dimension retrieval ---------------------------
EMB23_DIM = 16        # serving prefix of the 64-dim embedding (4× memory cut)
EMB23_SHORTLIST = 50  # truncated-dim funnel shortlist, full-dim reranked
EMB23_TOPK = 10
EMB23_NQ = 8          # fixed query workload (vec_id < 8)


def sql_matryoshka_recall(dialect: str) -> str:
    """EMB23 — truncated-dimension ("Matryoshka", Kusupati et al. 2022
    MRL) retrieval: serve similarity from the first {dim} of 64
    dimensions — a 4× memory/bandwidth cut ORTHOGONAL to emb9's int8
    quantization (compose them for 16×) — and measure what the cut
    costs, per query, two ways:

    - head-only: top-10 by prefix cosine vs the exact full-dim top-10
      (what you lose serving the prefix alone);
    - the production FUNNEL: prefix-cosine shortlist of
      {short} candidates, exact full-dim rerank to top-10 — the MRL
      adaptive-retrieval pattern (coarse cheap pass bounds the
      expensive exact pass; the same funnel shape as the IVF-PQ
      shortlist-rerank, with dimension truncation as the coarse
      quantizer instead of codebooks).

    All values are ENGINE-EXACT (r6 cosines through the shared
    dialect.dot_expr fold; overlap counts are integers; ranks are an
    integer total order with vec_id tie-break), so the oracle hash-
    compares real recall numbers, not shape gates.

    This is an AUDIT, not a claim that truncation is free: an
    MRL-trained encoder front-loads the signal into the prefix, while
    this corpus's near-isotropic synthetic embeddings spread it evenly
    — so the report correctly reads LOW head recall (0.0–0.3 across
    SFs) with the funnel recovering only part of it, i.e. "do not
    serve this embedding space truncated".  That number, measured
    before switching the serving tier, is the operator's decision
    input — the same role dq4/dq5 play for index drift.  funnel ≥ head
    per query is pinned by test.

    Scale shape: the query side is fixed and broadcast; the corpus
    pays one linear scan per query batch (probed 8.6× at 10× — the
    exact-audit cost IS corpus-linear by design, the only query in the
    registry that is, because its job is the ground truth).  At 100 TB
    the audit runs on a deterministic hash-sample
    (sampling.deterministic_sample — the pq_fit training-sample
    precedent): recall estimates need thousands of queries over a
    sample, not the corpus; the serving path being audited is the one
    that reads the head-truncated (cache-resident) corpus copy with
    only the {short}-row shortlist touching full vectors."""
    dim, short, k = EMB23_DIM, EMB23_SHORTLIST, EMB23_TOPK
    if dialect == "spark":
        head = lambda c: f"slice({c}, 1, {dim})"  # noqa: E731
    else:
        head = lambda c: f"list_slice({c}, 1, {dim})"  # noqa: E731
    full_cos = r6t(_cosine(dialect, "p.qv", "p.cv"))
    trunc_cos = r6t(_cosine(dialect, head("p.qv"), head("p.cv")))
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, {_d16_emb_double(dialect)} AS qv
  FROM embeddings WHERE vec_id < {EMB23_NQ}
),
c AS (
  SELECT vec_id, {_d16_emb_double(dialect)} AS cv FROM embeddings
),
p AS (
  SELECT q.query_id, c.vec_id, q.qv, c.cv
  FROM q JOIN c ON c.vec_id <> q.query_id
),
scored AS (
  SELECT p.query_id, p.vec_id,
         {full_cos} AS full_cos,
         {trunc_cos} AS trunc_cos
  FROM p
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY full_cos DESC, vec_id ASC) AS full_rk,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY trunc_cos DESC, vec_id ASC) AS trunc_rk
  FROM scored
),
full_topk AS (
  SELECT query_id, vec_id FROM ranked WHERE full_rk <= {k}
),
trunc_topk AS (
  SELECT query_id, vec_id FROM ranked WHERE trunc_rk <= {k}
),
funnel AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY full_cos DESC, vec_id ASC) AS rr
    FROM ranked WHERE trunc_rk <= {short}
  ) s WHERE rr <= {k}
),
head_hits AS (
  SELECT f.query_id, CAST(count(t.vec_id) AS BIGINT) AS n
  FROM full_topk f LEFT JOIN trunc_topk t
    ON f.query_id = t.query_id AND f.vec_id = t.vec_id
  GROUP BY f.query_id
),
funnel_hits AS (
  SELECT f.query_id, CAST(count(u.vec_id) AS BIGINT) AS n
  FROM full_topk f LEFT JOIN funnel u
    ON f.query_id = u.query_id AND f.vec_id = u.vec_id
  GROUP BY f.query_id
)
SELECT h.query_id,
       CAST({k} AS BIGINT) AS n_exact,
       h.n AS head_overlap,
       fh.n AS funnel_overlap,
       {r6t(f"CAST(h.n AS DOUBLE) / {d(f'{k}.0')}")} AS head_recall,
       {r6t(f"CAST(fh.n AS DOUBLE) / {d(f'{k}.0')}")} AS funnel_recall
FROM head_hits h JOIN funnel_hits fh ON h.query_id = fh.query_id
"""


def _emb23_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMB23, Spark side: the pure rendering (fixed broadcast query side,
    one corpus-linear scored pass, per-query windows)."""
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    return spark.sql(sql_matryoshka_recall("spark"))


QUERIES["emb23_matryoshka_recall"] = _emb23_matryoshka_recall
EMBEDDING_ORACLES["emb23_matryoshka_recall"] = sql_matryoshka_recall("duck")


# --- EMB24: recall-vs-probes operating curve -----------------------------------
EMB24_LISTS = 16
EMB24_GRID = (1, 2, 4, 8, 16)
EMB24_K = 10
EMB24_QUERY_STRIDE = 29  # fixed query workload: vec_id % 29 == 0, bounded
EMB24_MAX_QUERY_ID = 1500  # ...below this id (txt22 lesson: |Q| must not
                           # grow with the corpus or the audit is |Q|x|N|)


def _emb24_probe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMB24 — the operating-point sweep for the IVF serving tier:
    recall@10 and candidate volume at n_probes ∈ {1,2,4,8,16}, the
    artifact that picks a production probe count.  dq4/dq5 monitor a
    FIXED operating point for drift; this measures the curve itself.

    One pass instead of |grid| searches: the probe ranking is computed
    ONCE per query over the full codebook (posexplode of the ordered
    top-n list — probe sets NEST by construction), the lists are scanned
    once, and every grid level is a filter ``probe_rank <= p`` over the
    same scored frame — the per-level top-k is a window partitioned by
    (level, query).  The full-probe level doubles as the BRUTE-FORCE
    ground truth (probing every list IS the exact scan), so the same
    frame yields both the curve and its gates:

    * recall_ge_prev   — nested candidate sets under exact scoring give
      monotone recall (any candidate that displaces a true top-k member
      must itself be a true top-k member);
    * candidates_ge_prev — probe sets nest, so candidate volume grows;
    * exact_at_max     — recall@10 at n_probes = n_lists equals 1
      against brute force, which verifies INDEX COMPLETENESS (every
      corpus vector present in the lists exactly once).

    Like emb23 this audit is deliberately corpus×queries-exact — the
    ground truth IS a brute-force pass; the query workload is BOUNDED
    (vec_id % 29 = 0 below a fixed id cap — txt22's lesson: |Q| must not
    grow with the corpus) while the serving path being characterized
    stays partition-pruned.  The measured
    recall/candidate NUMBERS depend on the k-means clustering and stay
    in-plan; the oracle pins the workload size, the grid, and the three
    gates (the dq5 truth-table pattern)."""
    from pyspark.sql import Window

    from ..operators.similarity import (
        _collect_codebook,
        build_ivf_index,
        centroid_topn_pandas,
        cosine_col,
    )
    from .fixtures import fixture_kmeans_fit

    corpus = (
        load_table(spark, sf_dir, "embeddings")
        .selectExpr(
            "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding"
        )
        .localCheckpoint(eager=False)
    )
    # session-memoized fit on the cast-to-double rendering (its own tag —
    # a float→double cast can change the fit input, so this must NOT share
    # the raw-table league entry); bit-identical to kmeans_fit(corpus, …)
    cents_df = fixture_kmeans_fit(
        spark, sf_dir, "embeddings_double", corpus, k=EMB24_LISTS, n_iter=1
    )
    path = scratch_store("emb24", sf_dir)
    build_ivf_index(corpus, cents_df, path)
    cents = _collect_codebook(
        _read_pq(spark, f"{path}/centroids"), "centroid_id", "embedding"
    )
    queries = corpus.filter(
        f"vec_id % {EMB24_QUERY_STRIDE} = 0 AND vec_id < {EMB24_MAX_QUERY_ID}"
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    n_queries = queries.count()
    # probe RANK per (query, centroid): the ordered full-codebook ranking
    probes = queries.select(
        "query_id",
        F.col("embedding").alias("__qvec"),
        F.posexplode(
            centroid_topn_pandas(cents, EMB24_LISTS)(F.col("embedding"))
        ).alias("__pos", "centroid_id"),
    ).select(
        "query_id", "__qvec", "centroid_id",
        (F.col("__pos") + 1).alias("probe_rank"),
    )
    lists = _read_pq(spark, f"{path}/lists")
    scored = (
        probes.join(lists, "centroid_id")
        .select(
            "query_id",
            "vec_id",
            "probe_rank",
            cosine_col(F.col("__qvec"), F.col("embedding")).alias("cos"),
        )
        .localCheckpoint(eager=False)
    )
    truth = (
        scored.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cos").desc(), F.col("vec_id").asc()
                )
            ),
        )
        .filter(F.col("rk") <= EMB24_K)
        .select("query_id", "vec_id")
    )
    grid = spark.createDataFrame(
        [(int(p),) for p in EMB24_GRID], "n_probes bigint"
    )
    graded = scored.join(
        F.broadcast(grid), F.col("probe_rank") <= F.col("n_probes")
    )
    topk = (
        graded.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("n_probes", "query_id").orderBy(
                    F.col("cos").desc(), F.col("vec_id").asc()
                )
            ),
        )
        .filter(F.col("rk") <= EMB24_K)
        .select("n_probes", "query_id", "vec_id")
    )
    overlap = (
        topk.join(truth, ["query_id", "vec_id"], "left_semi")
        .groupBy("n_probes")
        .agg(F.count(F.lit(1)).cast("bigint").alias("sum_overlap"))
    )
    cands = graded.groupBy("n_probes").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    )
    curve = overlap.join(cands, "n_probes")
    wp = Window.orderBy("n_probes")  # |grid| rows — not a scale window
    full = F.lit(int(n_queries * EMB24_K)).cast("bigint")
    exact_at_max = F.max(
        F.when(F.col("n_probes") == EMB24_LISTS, F.col("sum_overlap"))
    ).over(Window.partitionBy())
    return (
        curve.withColumn(
            "recall_ge_prev",
            F.coalesce(
                F.col("sum_overlap") >= F.lag("sum_overlap").over(wp),
                F.lit(True),
            ),
        )
        .withColumn(
            "candidates_ge_prev",
            F.coalesce(
                F.col("n_candidates") >= F.lag("n_candidates").over(wp),
                F.lit(True),
            ),
        )
        .withColumn("exact_at_max", exact_at_max == full)
        .select(
            "n_probes",
            F.lit(int(n_queries)).cast("bigint").alias("n_queries"),
            F.lit(EMB24_K).cast("bigint").alias("k"),
            "recall_ge_prev",
            "candidates_ge_prev",
            "exact_at_max",
        )
        .orderBy("n_probes")
    )


def sql_probe_curve(dialect: str) -> str:
    """EMB24's oracle — the deterministic truth table: the probe grid,
    the fixed workload size, and the three gates pinned true."""
    del dialect
    rows = []
    for p in EMB24_GRID:
        rows.append(
            f"SELECT CAST({p} AS BIGINT) AS n_probes, "
            f"(SELECT CAST(count(*) AS BIGINT) FROM embeddings "
            f" WHERE vec_id % {EMB24_QUERY_STRIDE} = 0"
            f" AND vec_id < {EMB24_MAX_QUERY_ID}) AS n_queries, "
            f"CAST({EMB24_K} AS BIGINT) AS k, "
            "true AS recall_ge_prev, true AS candidates_ge_prev, "
            "true AS exact_at_max"
        )
    return "\nUNION ALL\n".join(rows) + "\nORDER BY n_probes"


QUERIES["emb24_probe_curve"] = _emb24_probe_curve
EMBEDDING_ORACLES["emb24_probe_curve"] = sql_probe_curve("duck")
