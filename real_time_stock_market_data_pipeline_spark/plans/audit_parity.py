"""DQ6 — the unified contamination audit: one per-document verdict over
every gate class the engine has.

Four independent decontamination families exist (exact 13-grams
dd10/dd11, banded MinHash dd12, semantic embedding dd16, perceptual
dHash mm10/mm11), each with its own fixture and its own driver row — but
an operator deciding whether a corpus is safe to train on reads ONE
report, not four.  dq6 composes them: for every training document, the
four fired-flags plus the union verdict, each flag produced by its
family's own gate mechanism (persisted-table equi-joins for the
exact/banded/perceptual classes, the broadcast-bench SRP scan gate for
the semantic class), over a single fixture that plants ONE leak per
class constructed so that ONLY its own gate can see it:

- exact plant  (+Q6_BASE['exact']):  the first 13 tokens of a test doc
  verbatim, then a long unique-token salad — one exact 13-gram
  collision, but trigram Jaccard far below the banded S-curve.
- banded plant (+Q6_BASE['banded']): dd12's perturbation (every 12th
  token replaced) — no 13 consecutive original tokens survive, trigram
  Jaccard stays high.
- semantic plant (+Q6_BASE['semantic']): salad text (no surface form
  shared at all) carrying dd16's multiplicatively-perturbed copy of the
  test doc's embedding — cosine >= 0.9999, every SRP sign bucket
  preserved.
- perceptual plant (+Q6_BASE['perceptual']): salad text, no embedding,
  but the PIXEL-IDENTICAL synthetic BMP of its source test doc —
  dHash distance 0.

The perceptual column reports VERIFIED identical-pixel matches (the
dHash candidates at distance 0 are byte-verified against the benchmark
media), which is the SQL-derivable subset: media keys are unique per
doc, so byte-identity <=> same construction key, and the oracle replays
the flag as one equi-join on the media key.  The fuzzy hamming<=3
re-encode sweep stays mm10/mm11's job.  Organic exact/banded/semantic
hits (natural cross-split contamination) appear as leak_class =
'organic' rows and are replayed arithmetically by the oracle.

Scale shape: check-time cost is the sum of the four families' gate
shapes and nothing more — one 13-gram shingle pass + equi-join, one
MinHash band pass + equi-join, one SRP band scan against the broadcast
benchmark, one dHash band equi-join; all candidate-bounded, no
train x test all-pairs anywhere.  The test-side tables are built once
from the benchmark split (their incremental/replay lifecycles are
dd11/dd12/mm10's already-pinned property, not re-proven here).

Reference analogue: the producer's exists-check-before-insert
(producer/producer.py:368-380) generalized to a four-key audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..concurrency import overlap
from ..operators.dedup import DECON_BAND_SIZE
from ..operators.sampling import N_BUCKETS, SPLIT_BOUNDS
from ..sources.readers import load_table
from .dialect import (
    cosine_expr,
    d,
    list_len,
    r6t,
    seq,
    split_ws,
    tok_hash,
    transform,
)
from .embedding_parity import (
    D16_BAND_BITS,
    D16_BANDS,
    _d16_bands_union,
    _d16_emb_double,
)
from .fixtures import scratch_store
from .queries import QUERIES
from .text_parity import _bands_sql, _shingle_cte_over, _sigs_over
from ..sources.readers import read_parquet_cached_schema as _read_pq

AUDIT_ORACLES: dict[str, str] = {}

Q6_STRIDE = 5          # residue classes 0..3 of test doc_ids seed the plants
Q6_SALAD = 300         # unique salad tokens per plant (Jaccard ~0.02 vs test)
Q6_TAU = "0.9"         # semantic cosine cut (dd16's)
Q6_BASE = {
    "exact": 20_000_000,
    "banded": 21_000_000,
    "semantic": 22_000_000,
    "perceptual": 23_000_000,
}


def _arr_join(dialect: str, arr: str) -> str:
    return (
        f"array_join({arr}, ' ')"
        if dialect == "spark"
        else f"array_to_string({arr}, ' ')"
    )


def _q6_salad(dialect: str, id_expr: str) -> str:
    """Q6_SALAD unique tokens keyed by the SOURCE doc id — tokens that
    occur nowhere else, so a salad plant shares zero shingles and zero
    MinHash rows with any test doc."""
    toks = transform(
        dialect,
        seq(dialect, "1", str(Q6_SALAD)),
        f"'q' || CAST({id_expr} AS STRING) || 'x' || CAST(i AS STRING)",
        var="i",
    )
    return _arr_join(dialect, toks)


def _q6_fixture_ctes(dialect: str) -> str:
    """The shared fixture: split + four plant classes + the unioned train
    corpus, media-key map, and vector map — rendered identically for the
    Spark frames and the DuckDB oracle."""
    h = tok_hash(dialect, "CAST(doc_id AS STRING)")
    t_lo, t_hi = SPLIT_BOUNDS["test"]
    tr_hi = SPLIT_BOUNDS["train"][1]
    toks = split_ws(dialect, "text")
    head13 = _arr_join(
        dialect,
        "slice(toks, 1, 13)" if dialect == "spark" else "list_slice(toks, 1, 13)",
    )
    if dialect == "spark":
        perturbed = (
            "array_join(transform(toks, (t, i) -> "
            "CASE WHEN (i + 1) % 12 = 0 THEN 'xq' ELSE t END), ' ')"
        )
    else:
        perturbed = (
            "array_to_string(list_transform(toks, (t, i) -> "
            "CASE WHEN i % 12 = 0 THEN 'xq' ELSE t END), ' ')"
        )
    # dd16's multiplicative embedding perturbation, keyed by the source
    # vector id: signs (hence every SRP band) preserved, cosine >= 0.9999
    eps = f"CAST((src_vec + i) % 5 - 2 AS DOUBLE) * {d('0.004')}"
    from .dialect import elem

    perturbed_emb = transform(
        dialect,
        seq(dialect, "1", list_len(dialect, "emb")),
        f"{elem(dialect, 'emb', 'CAST(i AS INT)')} * ({d('1.0')} + {eps})",
        var="i",
    )
    eb, bb, sb, pb = (
        Q6_BASE["exact"],
        Q6_BASE["banded"],
        Q6_BASE["semantic"],
        Q6_BASE["perceptual"],
    )
    return f"""base AS (
  SELECT doc_id, text, ({h}) % {N_BUCKETS} AS bucket
  FROM documents WHERE text IS NOT NULL
),
test_docs AS (
  SELECT doc_id, text FROM base WHERE bucket >= {t_lo} AND bucket < {t_hi}
),
train_nat AS (SELECT doc_id, text FROM base WHERE bucket < {tr_hi}),
exact_plants AS (
  SELECT doc_id + {eb} AS doc_id,
         ({head13}) || ' ' || ({_q6_salad(dialect, "doc_id")}) AS text
  FROM (SELECT doc_id, {toks} AS toks FROM test_docs) s
  WHERE doc_id % {Q6_STRIDE} = 0 AND {list_len(dialect, "toks")} >= 13
),
banded_plants AS (
  SELECT doc_id + {bb} AS doc_id, {perturbed} AS text
  FROM (SELECT doc_id, {toks} AS toks FROM test_docs) s
  WHERE doc_id % {Q6_STRIDE} = 1
),
sem_plants AS (
  SELECT t.doc_id + {sb} AS doc_id, {_q6_salad(dialect, "t.doc_id")} AS text
  FROM test_docs t JOIN embeddings e ON e.vec_id = t.doc_id
  WHERE t.doc_id % {Q6_STRIDE} = 2
),
perc_plants AS (
  SELECT doc_id + {pb} AS doc_id, {_q6_salad(dialect, "doc_id")} AS text
  FROM test_docs WHERE doc_id % {Q6_STRIDE} = 3
),
train_docs AS (
  SELECT doc_id, text FROM train_nat
  UNION ALL SELECT doc_id, text FROM exact_plants
  UNION ALL SELECT doc_id, text FROM banded_plants
  UNION ALL SELECT doc_id, text FROM sem_plants
  UNION ALL SELECT doc_id, text FROM perc_plants
),
train_media AS (
  SELECT doc_id, doc_id AS media_key FROM train_nat
  UNION ALL SELECT doc_id, doc_id - {pb} AS media_key FROM perc_plants
),
bench_vecs AS (
  SELECT e.vec_id, {_d16_emb_double(dialect, "e.embedding")} AS emb
  FROM embeddings e JOIN test_docs t ON e.vec_id = t.doc_id
),
train_vecs AS (
  SELECT e.vec_id, {_d16_emb_double(dialect, "e.embedding")} AS emb
  FROM embeddings e JOIN train_nat t ON e.vec_id = t.doc_id
  UNION ALL
  SELECT s.doc_id + {sb} AS vec_id, {perturbed_emb} AS emb
  FROM (
    SELECT t.doc_id, e.vec_id AS src_vec,
           {_d16_emb_double(dialect, "e.embedding")} AS emb
    FROM embeddings e JOIN test_docs t ON e.vec_id = t.doc_id
    WHERE t.doc_id % {Q6_STRIDE} = 2
  ) s
)"""


def _q6_leak_class_sql(id_expr: str = "doc_id") -> str:
    return f"""CASE WHEN {id_expr} >= {Q6_BASE["perceptual"]} THEN 'perceptual'
     WHEN {id_expr} >= {Q6_BASE["semantic"]} THEN 'semantic'
     WHEN {id_expr} >= {Q6_BASE["banded"]} THEN 'banded'
     WHEN {id_expr} >= {Q6_BASE["exact"]} THEN 'exact'
     ELSE 'organic' END"""


def sql_contamination_audit(dialect: str) -> str:
    """The full dual-dialect body: fixture + the four gate hit sets (each
    the arithmetic replay of its family's join) + the per-doc verdict."""
    cos = cosine_expr(dialect, "tr.emb", "te.emb")
    return f"""
WITH {_q6_fixture_ctes(dialect)},
{_shingle_cte_over(dialect, "train_docs", "xe_", 13)},
{_shingle_cte_over(dialect, "test_docs", "ye_", 13)},
ex_hits AS (
  SELECT DISTINCT a.doc_id
  FROM xe_hashed a JOIN (SELECT DISTINCT sh FROM ye_hashed) b ON a.sh = b.sh
),
{_sigs_over(dialect, "train_docs", "xr_")},
{_sigs_over(dialect, "test_docs", "xt_")},
xr_bands AS ({_bands_sql(dialect, "xr_sigs", DECON_BAND_SIZE)}),
xt_bands AS ({_bands_sql(dialect, "xt_sigs", DECON_BAND_SIZE)}),
bd_hits AS (
  SELECT DISTINCT r.doc_id
  FROM xr_bands r JOIN xt_bands t
    ON r.band_id = t.band_id AND r.band_sig = t.band_sig
),
sr_bands AS (
{_d16_bands_union(dialect, "train_vecs")}
),
st_bands AS (
{_d16_bands_union(dialect, "bench_vecs")}
),
sem_cand AS (
  SELECT DISTINCT r.vec_id AS train_vec, t.vec_id AS test_vec
  FROM sr_bands r JOIN st_bands t
    ON r.band_id = t.band_id AND r.sig = t.sig
),
sem_hits AS (
  SELECT DISTINCT c.train_vec AS doc_id
  FROM sem_cand c
  JOIN train_vecs tr ON c.train_vec = tr.vec_id
  JOIN bench_vecs te ON c.test_vec = te.vec_id
  WHERE {r6t(cos)} >= CAST({Q6_TAU} AS DOUBLE)
),
pc_hits AS (
  SELECT DISTINCT m.doc_id
  FROM train_media m JOIN test_docs t ON m.media_key = t.doc_id
)
SELECT td.doc_id,
       eh.doc_id IS NOT NULL AS exact_hit,
       bh.doc_id IS NOT NULL AS banded_hit,
       sh2.doc_id IS NOT NULL AS semantic_hit,
       ph.doc_id IS NOT NULL AS perceptual_hit,
       CAST(CASE WHEN eh.doc_id IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN bh.doc_id IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN sh2.doc_id IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN ph.doc_id IS NOT NULL THEN 1 ELSE 0 END
          AS BIGINT) AS n_gates,
       {_q6_leak_class_sql("td.doc_id")} AS leak_class
FROM train_docs td
LEFT JOIN ex_hits eh ON td.doc_id = eh.doc_id
LEFT JOIN bd_hits bh ON td.doc_id = bh.doc_id
LEFT JOIN sem_hits sh2 ON td.doc_id = sh2.doc_id
LEFT JOIN pc_hits ph ON td.doc_id = ph.doc_id
WHERE eh.doc_id IS NOT NULL OR bh.doc_id IS NOT NULL
   OR sh2.doc_id IS NOT NULL OR ph.doc_id IS NOT NULL
"""


def _dq6_contamination_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ6, Spark side: the OPERATOR composition — the three table-backed
    gates read persisted one-shot benchmark tables
    (update_test_shingle_table / update_signature_table /
    update_media_fingerprint_table, each family's production check-time
    shape), the semantic gate runs srp_decontaminate with the benchmark
    broadcast, and the verdict is four left equi-joins on doc_id."""
    import os

    from ..operators.dedup import (
        contaminated_docs_from_table,
        near_contaminated_docs_from_table,
        update_signature_table,
        update_test_shingle_table,
    )
    from ..operators.multimodal import (
        image_dhash,
        media_contamination_pairs_from_table,
        update_media_fingerprint_table,
    )
    from ..operators.similarity import srp_decontaminate
    from .queries import _synthetic_bmp_media

    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    # The plant-id bands are 1M apart and natural ids must sit below the
    # lowest band — a regenerated/larger corpus that breaks either would
    # otherwise misclassify leak_class or collide plant ids with natural
    # train ids, surfacing only as an opaque parity mismatch (r15 ADVICE).
    # One column-pruned aggregate; fail loudly instead.
    max_id = docs.agg(F.max("doc_id")).first()[0]
    bases = sorted(Q6_BASE.values())
    span = min(b - a for a, b in zip(bases, bases[1:]))  # band spacing (1M)
    assert max_id is not None and max_id < span, (
        f"dq6 fixture assumes doc_id < {span:,} (plant-id bands are "
        f"{span:,} apart, lowest base {bases[0]:,}); corpus has max "
        f"doc_id {max_id} — regenerate Q6_BASE for this corpus"
    )
    ctes = _q6_fixture_ctes("spark")

    def frame(sel: str) -> DataFrame:
        return spark.sql(f"WITH {ctes} {sel}")

    # the fixture frames feed several gates each — snapshot once (dd2 rule)
    test_docs = frame("SELECT doc_id, text FROM test_docs").localCheckpoint(
        eager=False
    )
    train_docs = frame("SELECT doc_id, text FROM train_docs").localCheckpoint(
        eager=False
    )
    root = scratch_store("audit", sf_dir)
    p_ex, p_bd, p_mm = (os.path.join(root, k) for k in ("sh", "sig", "fp"))
    test_media = _synthetic_bmp_media(
        test_docs.select("doc_id"), "doc_id"
    ).localCheckpoint(eager=False)
    # r18 optimization: the three benchmark-store builds are independent
    # leg-private file ops on disjoint paths (no session-global state —
    # the dq9/dd18 thread invariant; dq9's identical five-build overlap
    # measured 10.4 → 7.2 s), so they overlap.  The shared lazy
    # test_docs/test_media snapshots race-materialize under the block
    # manager exactly as dq9's slice_df does.
    with overlap() as o:
        o.submit("dq6/build_shingles", update_test_shingle_table, test_docs, p_ex)
        o.submit(
            "dq6/build_signatures", update_signature_table, test_docs, p_bd,
            band_size=DECON_BAND_SIZE,
        )
        o.submit(
            "dq6/build_fingerprints",
            lambda: update_media_fingerprint_table(
                image_dhash(test_media).select("doc_id", "dhash"), p_mm
            ),
        )

    ex_ids = (
        contaminated_docs_from_table(train_docs, p_ex)
        .select("doc_id")
        .distinct()
        .withColumn("exact_hit", F.lit(True))
    )
    bd_ids = (
        near_contaminated_docs_from_table(
            train_docs, p_bd, band_size=DECON_BAND_SIZE
        )
        .select("doc_id")
        .distinct()
        .withColumn("banded_hit", F.lit(True))
    )
    sem_ids = (
        srp_decontaminate(
            frame("SELECT vec_id, emb FROM train_vecs"),
            frame("SELECT vec_id, emb FROM bench_vecs"),
            bands=D16_BANDS,
            bits=D16_BAND_BITS,
            threshold=float(Q6_TAU),
        )
        .select(F.col("vec_id").alias("doc_id"))
        .distinct()
        .withColumn("semantic_hit", F.lit(True))
    )
    tr_media = _synthetic_bmp_media(
        frame("SELECT doc_id, media_key FROM train_media"), "media_key"
    ).localCheckpoint(eager=False)
    pairs0 = media_contamination_pairs_from_table(
        image_dhash(tr_media).select("doc_id", "dhash"), p_mm
    ).filter(F.col("hamming") == 0)
    pc_ids = (
        pairs0.join(
            tr_media.select("doc_id", F.col("media_bytes").alias("__trb")),
            "doc_id",
        )
        .join(
            F.broadcast(
                test_media.select(
                    F.col("doc_id").alias("test_id"),
                    F.col("media_bytes").alias("__teb"),
                )
            ),
            "test_id",
        )
        .filter(F.col("__trb") == F.col("__teb"))  # identical-pixel verify
        .select("doc_id")
        .distinct()
        .withColumn("perceptual_hit", F.lit(True))
    )
    return (
        train_docs.select("doc_id")
        .join(ex_ids, "doc_id", "left")
        .join(bd_ids, "doc_id", "left")
        .join(sem_ids, "doc_id", "left")
        .join(pc_ids, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("exact_hit", F.lit(False)).alias("exact_hit"),
            F.coalesce("banded_hit", F.lit(False)).alias("banded_hit"),
            F.coalesce("semantic_hit", F.lit(False)).alias("semantic_hit"),
            F.coalesce("perceptual_hit", F.lit(False)).alias("perceptual_hit"),
        )
        .withColumn(
            "n_gates",
            (
                F.col("exact_hit").cast("int")
                + F.col("banded_hit").cast("int")
                + F.col("semantic_hit").cast("int")
                + F.col("perceptual_hit").cast("int")
            ).cast("bigint"),
        )
        .filter(F.col("n_gates") > 0)
        .withColumn("leak_class", F.expr(_q6_leak_class_sql()))
    )


QUERIES["dq6_contamination_audit"] = _dq6_contamination_audit
AUDIT_ORACLES["dq6_contamination_audit"] = sql_contamination_audit("duck")


# --- DD18 (r16, extended r17): corpus takedown sweep --------------------------
# emb21 built deletion for ONE persisted-table family (the IVF-PQ serving
# index); a production removal request (GDPR erasure, robots revocation, a
# retired benchmark) must reach ALL of them.  dd18 drives the umbrella
# operator (operators/takedown.takedown / purge_takedown) across the
# remaining families in one lifecycle — MinHash signature table, 13-gram
# shingle table, media fingerprint table, semantic-dedup index (assigned +
# pairs, either-end retraction), the BM25 posting tables (the engine's
# first DELETE-maintained df merge, epoch-hwm'd like txt23's ingest), and
# (r17, closing the r16 verdict's symmetry edge) the flat IVF float-list
# index, the flat PQ code table, and dd14's latest-revisions current-state
# table — and pins emb21's three gates per family:
#   replay_zero      — re-submitting the same removal appends no tombstones;
#   serve_clean      — between tombstone and purge, every tombstone-aware
#                      read excludes the deleted docs (for bm25 the serving
#                      recall path is the tf table; df staleness until purge
#                      only perturbs idf weighting, documented);
#   equals_rebuild   — the purged table is CONTENT-IDENTICAL to one rebuilt
#                      from scratch on corpus-minus-deleted (the commute
#                      argument: every row is a pure per-doc function —
#                      per-PAIR for the semantic pair table — under fixed
#                      params/codebook).  EXCEPTION latest_revisions: the
#                      store holds only per-key WINNERS, so purging a
#                      winning revision leaves its key absent until the
#                      next crawl — the gate there is purge + re-crawl
#                      replay ≡ keep-latest over snapshots-minus-deleted
#                      (upsert_latest_revisions' order-robust convergence;
#                      erasure-now, convergence-at-next-crawl).
# Fixture: documents doc_id < DD18_DOCS with a per-doc unique SALT token
# appended (so deleted docs force df rows to 0 — the decrement-to-zero path
# is exercised, not just decrements); embeddings vec_id < DD18_SEM with
# emb15's gain-ripple twins planted every DD18_TWIN_STRIDE-th vector (pair
# set = id arithmetic, clustering-independent).  Removal set: id % 7 == 3.
# Oracle: exact row counts replayed from first principles over the slice
# and slice-minus-deleted (the shared _sigs_over/_shingle_cte_over chains,
# token explode for tf/df, DHASH_BANDS×docs for fingerprints, twin
# arithmetic for the semantic tables) + the three gates pinned true.
# Reference analogue: none — the reference never deletes (its
# producer/producer.py:368-380 exists-check only ever inserts); this is the
# extension family's completeness bar (r15 verdict "What's missing" #3).

DD18_DOCS = 300
DD18_SEM = 150
DD18_STRIDE = 7
DD18_RESIDUE = 3
DD18_TWIN_STRIDE = 5
DD18_TWIN_BASE = 1_000_000
DD18_K = 8
DD18_TAU = 0.95
DD18_URLS = 40  # url buckets for the latest-revisions leg
DD18_PQ_M = 8   # PQ subspaces for the code-table leg (64-dim / 8)
DD18_PQ_K = 16


def _dd18_corpus_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD18, Spark side: build every family table over the slice, take
    down id % 7 == 3 through the umbrella operator, verify the
    replay/serving gates, purge, and compare every purged table against
    a from-scratch rebuild on the remaining corpus (for
    latest_revisions: purge + re-crawl replay, see the module note).

    The eight family lifecycles are INDEPENDENT (separate stores, shared
    read-only fixture checkpoints — the kmeans codebook and PQ
    codebooks are fit ONCE before the legs start and only read inside
    them)
    and each is a chain of dozens of tiny fixture-sized jobs whose cost
    is Spark's fixed per-job overhead — so, exactly like dq5's monitor
    fleet, the legs run on driver threads (measured r16: ~24 s
    sequential → ~9 s threaded at sf0.1; the wall floor is the semantic
    leg's serial chain).  No leg operator mutates session-global state
    (the dq5 invariant — all file ops target leg-private stores); each
    table comparison is ONE action (symmetric exceptAll union)."""
    import os

    from ..operators.dedup import (
        keep_latest_dedup,
        minhash_band_rows,
        shingle_hashes,
        update_signature_table,
        update_test_shingle_table,
        upsert_latest_revisions,
    )
    from ..operators.multimodal import image_dhash, update_media_fingerprint_table
    from ..operators.similarity import (
        init_ivf_index,
        init_pq_index,
        init_semantic_index,
        read_pq_codes,
        search_ivf_index,
        update_ivf_index,
        update_pq_codes,
        update_semantic_index,
    )
    from ..operators.takedown import (
        minus_tombstones,
        purge_takedown,
        semantic_assigned_minus_tombstones,
        semantic_pairs_minus_tombstones,
        takedown,
    )
    from ..operators.text import bm25_tf_minus_tombstones, update_bm25_postings
    from ..sources.readers import read_parquet_if_exists
    from .queries import _synthetic_bmp_media

    docs = load_table(spark, sf_dir, "documents")
    salt = F.concat(
        F.col("text"), F.lit(" uq"), F.col("doc_id").cast("string"), F.lit("x")
    )
    slice_df = (
        docs.filter((F.col("doc_id") < DD18_DOCS) & F.col("text").isNotNull())
        .select("doc_id", salt.alias("text"))
        .localCheckpoint(eager=False)
    )
    rem_docs = slice_df.filter(
        F.col("doc_id") % DD18_STRIDE != DD18_RESIDUE
    ).localCheckpoint(eager=False)
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < DD18_SEM)
        .selectExpr(
            "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding"
        )
        .localCheckpoint(eager=False)
    )
    twins = emb.filter(f"vec_id % {DD18_TWIN_STRIDE} = 0").selectExpr(
        f"vec_id + {DD18_TWIN_BASE} AS vec_id",
        "transform(embedding, (x, i) -> CAST(x AS DOUBLE) * "
        "(CAST(1.0 AS DOUBLE) + CAST(0.001 AS DOUBLE) * "
        "CAST(pmod(i + 1, 7) - 3 AS DOUBLE))) AS embedding",
    )
    sem_corpus = emb.unionByName(twins).localCheckpoint(eager=False)
    rem_sem = sem_corpus.filter(
        (F.col("vec_id") >= DD18_SEM)
        | (F.col("vec_id") % DD18_STRIDE != DD18_RESIDUE)
    )
    media = (
        image_dhash(_synthetic_bmp_media(slice_df.select("doc_id"), "doc_id"))
        .select("doc_id", "dhash")
        .localCheckpoint(eager=False)
    )
    doc_dels = slice_df.filter(
        F.col("doc_id") % DD18_STRIDE == DD18_RESIDUE
    ).select("doc_id").localCheckpoint(eager=False)
    vec_dels = (
        doc_dels.filter(F.col("doc_id") < DD18_SEM)
        .withColumnRenamed("doc_id", "vec_id")
        .localCheckpoint(eager=False)
    )
    root = scratch_store("takedown", sf_dir)

    def count(path: str) -> int:
        t = read_parquet_if_exists(spark, path)
        return 0 if t is None else t.count()

    def count_in(o, name: str, path: str):
        """Pre-takedown row count submitted to scope ``o`` (guide §2.6):
        the tombstone appends the takedown chain performs land in
        SIBLING dirs, never the counted table's files, so the count is a
        pure read of state the chain does not touch.  Callers read the
        result strictly BEFORE their purge (which does rewrite the
        table)."""
        t = read_parquet_if_exists(spark, path)
        return o.submit(name, (lambda: 0) if t is None else t.count)

    def tbl_eq(a_path: str, b: DataFrame) -> bool:
        a = read_parquet_if_exists(spark, a_path)
        if a is None:
            return b.isEmpty()
        b = b.select(*a.columns)
        return a.exceptAll(b).unionAll(b.exceptAll(a)).isEmpty()

    def disjoint(df: DataFrame | None, key: str, dels: DataFrame, dkey: str) -> bool:
        if df is None:  # absent table serves nothing (module contract)
            return True
        d = dels.withColumnRenamed(dkey, key) if dkey != key else dels
        return df.join(d, key, "left_semi").isEmpty()

    # quantizer fixtures shared across the vector legs: fit ONCE before
    # the legs start (deterministic; legs only READ them — the dq5 invariant),
    # and session-memoized (plans/fixtures, r18 optimization): the dd18
    # slice is a pure deterministic rendering of sf_dir's embeddings table,
    # so warm bench passes receive bit-identical codebooks without refitting
    from .fixtures import fixture_kmeans_fit, fixture_pq_fit

    cents = fixture_kmeans_fit(
        spark, sf_dir, "dd18_emb", emb, k=DD18_K, n_iter=1
    ).localCheckpoint(eager=False)
    pq_cbs = fixture_pq_fit(
        spark, sf_dir, "dd18_emb", emb, m=DD18_PQ_M, k=DD18_PQ_K, n_iter=1
    )

    def flat_leg(fam: str, sub: str, update, rebuilt_rows, prebuild=None):
        """One flat-family lifecycle.  r19 overlaps (guide §2.6): the
        pre-takedown count runs under the two takedown calls and the
        serve gate (read before the purge rewrites the table), and
        ``prebuild`` — a rebuild-store construction that depends only on
        the fixture frames, never on ``p``'s lifecycle — runs beside the
        whole chain and is joined before ``rebuilt_rows`` reads it."""
        p = os.path.join(root, sub)
        update(p)
        with overlap() as o:
            if prebuild is not None:
                o.submit(f"dd18/{fam}/prebuild", prebuild)
            before = count_in(o, f"dd18/{fam}/count", p)
            takedown(spark, doc_dels, {fam: p})
            m2 = takedown(spark, doc_dels, {fam: p})
            replay = m2[fam]["n_new_tombstones"] == 0
            serve = disjoint(
                minus_tombstones(_read_pq(spark, p), spark, p),
                "doc_id", doc_dels, "doc_id",
            )
            before = before.result()  # strictly before the purge's rewrite
            purge_takedown(spark, {fam: p})
        return [(fam, before, count(p), replay, serve, tbl_eq(p, rebuilt_rows()))]

    def leg_sig():
        return flat_leg(
            "signatures", "sig",
            lambda p: update_signature_table(slice_df, p),
            lambda: minhash_band_rows(rem_docs, "doc_id", "text"),
        )

    def leg_sh():
        return flat_leg(
            "shingles", "sh",
            lambda p: update_test_shingle_table(slice_df, p),
            lambda: shingle_hashes(rem_docs, "doc_id", "text", 13),
        )

    def leg_fp():
        p2 = os.path.join(root, "fp2")

        def prebuild():
            # the comparison store depends only on the fixture frames —
            # build it under the takedown chain instead of after it
            update_media_fingerprint_table(
                media.join(doc_dels, "doc_id", "left_anti"), p2
            )

        return flat_leg(
            "fingerprints", "fp",
            lambda p: update_media_fingerprint_table(media, p),
            lambda: _read_pq(spark, p2),
            prebuild=prebuild,
        )

    def leg_sem():
        p = os.path.join(root, "sem")
        p2 = os.path.join(root, "sem2")

        def prebuild():
            # the comparison store depends only on the fixture frames —
            # never on p's lifecycle — so it builds under the takedown
            # chain (guide §2.6, r19) instead of serializing after the
            # purge
            init_semantic_index(cents, p2)
            update_semantic_index(spark, rem_sem, p2, DD18_TAU)

        with overlap() as o:
            o.submit("dd18/semantic/prebuild", prebuild)
            init_semantic_index(cents, p)
            update_semantic_index(spark, sem_corpus, p, DD18_TAU)
            before_a = count_in(
                o, "dd18/semantic/count_assigned", f"{p}/assigned"
            )
            before_p = count_in(o, "dd18/semantic/count_pairs", f"{p}/pairs")
            takedown(spark, vec_dels, {"semantic": p}, id_col="vec_id")
            m2 = takedown(spark, vec_dels, {"semantic": p}, id_col="vec_id")
            replay = m2["semantic"]["n_new_tombstones"] == 0
            sp = semantic_pairs_minus_tombstones(spark, p)
            serve_a = disjoint(
                semantic_assigned_minus_tombstones(spark, p),
                "vec_id", vec_dels, "vec_id",
            )
            serve_p = disjoint(sp, "vec_a", vec_dels, "vec_id") and disjoint(
                sp, "vec_b", vec_dels, "vec_id"
            )
            before_a, before_p = before_a.result(), before_p.result()  # pre-purge
            purge_takedown(spark, {"semantic": p}, id_col="vec_id")
        return [
            (
                "sem_assigned", before_a, count(f"{p}/assigned"), replay,
                serve_a,
                tbl_eq(f"{p}/assigned", _read_pq(spark, f"{p2}/assigned")),
            ),
            (
                "sem_pairs", before_p, count(f"{p}/pairs"), replay, serve_p,
                tbl_eq(f"{p}/pairs", _read_pq(spark, f"{p2}/pairs")),
            ),
        ]

    def leg_bm():
        p = os.path.join(root, "bm")
        p2 = os.path.join(root, "bm2")

        def prebuild():
            update_bm25_postings(rem_docs, p2, 0)

        with overlap() as o:
            o.submit("dd18/bm25/prebuild", prebuild)
            update_bm25_postings(slice_df, p, 0)
            before_tf = count_in(o, "dd18/bm25/count_tf", f"{p}/tf")
            before_df = count_in(o, "dd18/bm25/count_df", f"{p}/df")
            takedown(spark, doc_dels, {"bm25": p})
            m2 = takedown(spark, doc_dels, {"bm25": p})
            replay = m2["bm25"]["n_new_tombstones"] == 0
            # df serves only idf weights until the purge; recall (which
            # doc can surface) flows through the tombstone-aware tf read
            serve = disjoint(
                bm25_tf_minus_tombstones(spark, p), "doc_id", doc_dels, "doc_id"
            )
            before_tf, before_df = before_tf.result(), before_df.result()  # pre-purge
            purge_takedown(spark, {"bm25": p})
        return [
            (
                "bm25_tf", before_tf, count(f"{p}/tf"), replay, serve,
                tbl_eq(f"{p}/tf", _read_pq(spark, f"{p2}/tf")),
            ),
            (
                "bm25_df", before_df, count(f"{p}/df"), replay, serve,
                tbl_eq(f"{p}/df", _read_pq(spark, f"{p2}/df")),
            ),
        ]

    def leg_ivf():
        """Flat IVF float-list index (emb10's layout) — the r16 verdict's
        first symmetry gap: serving reads (search_ivf_index) anti-join
        the tombstones, purge is the same partition-pruned staged swap
        as ivfpq's (both hive-partitioned on their list column)."""
        p = os.path.join(root, "ivf")
        p2 = os.path.join(root, "ivf2")

        def prebuild():
            init_ivf_index(cents, p2)
            update_ivf_index(spark, rem_sem, p2)

        with overlap() as o:
            o.submit("dd18/ivf/prebuild", prebuild)
            init_ivf_index(cents, p)
            update_ivf_index(spark, sem_corpus, p)
            before = count_in(o, "dd18/ivf/count", f"{p}/lists")
            takedown(spark, vec_dels, {"ivf": p}, id_col="vec_id")
            m2 = takedown(spark, vec_dels, {"ivf": p}, id_col="vec_id")
            replay = m2["ivf"]["n_new_tombstones"] == 0
            # serve through the REAL reader: query the index with the
            # deleted vectors themselves, all lists probed — a
            # still-served deleted vector would be its own (distance-0)
            # top hit
            dq = sem_corpus.join(vec_dels, "vec_id", "left_semi").selectExpr(
                "vec_id AS query_id", "embedding"
            )
            hits = search_ivf_index(spark, p, dq, k=1, n_probe=DD18_K)
            serve = disjoint(hits, "vec_id", vec_dels, "vec_id")
            before = before.result()  # pre-purge
            purge_takedown(spark, {"ivf": p}, id_col="vec_id")
        return [(
            "ivf_lists", before, count(f"{p}/lists"), replay, serve,
            tbl_eq(f"{p}/lists", _read_pq(spark, f"{p2}/lists")),
        )]

    def leg_pq():
        """Flat PQ code table (emb12's layout) — the generic flat
        doc-keyed contract applied to {path}/codes; serving reads come
        through similarity.read_pq_codes."""
        p = os.path.join(root, "pq")
        p2 = os.path.join(root, "pq2")

        def prebuild():
            init_pq_index(spark, pq_cbs, p2)
            update_pq_codes(spark, rem_sem, p2)

        with overlap() as o:
            o.submit("dd18/pq/prebuild", prebuild)
            init_pq_index(spark, pq_cbs, p)
            update_pq_codes(spark, sem_corpus, p)
            before = count_in(o, "dd18/pq/count", f"{p}/codes")
            takedown(spark, vec_dels, {"pq": p}, id_col="vec_id")
            m2 = takedown(spark, vec_dels, {"pq": p}, id_col="vec_id")
            replay = m2["pq"]["n_new_tombstones"] == 0
            serve = disjoint(
                read_pq_codes(spark, p), "vec_id", vec_dels, "vec_id"
            )
            before = before.result()  # pre-purge
            purge_takedown(spark, {"pq": p}, id_col="vec_id")
        return [(
            "pq_codes", before, count(f"{p}/codes"), replay, serve,
            tbl_eq(f"{p}/codes", _read_pq(spark, f"{p2}/codes")),
        )]

    def leg_rev():
        """dd14's latest-revisions current-state table.  The store holds
        only per-key WINNERS, so the rebuild gate differs (module note):
        n_rows_after counts the post-purge store (keys whose winner was
        deleted go absent — erasure), then a re-crawl replay of
        snapshots-minus-deleted must converge the store to keep-latest
        over exactly that corpus (upsert_latest_revisions'
        order-robustness)."""
        p = os.path.join(root, "rev")
        snaps = slice_df.select(
            (F.col("doc_id") % DD18_URLS).alias("url"),
            F.col("doc_id").cast("bigint").alias("ts"),
            "doc_id",
            "text",
        ).localCheckpoint(eager=False)
        upsert_latest_revisions(spark, snaps, p, ["url"], "ts", "doc_id")
        with overlap() as o:
            before = count_in(o, "dd18/latest_revisions/count", p)
            takedown(spark, doc_dels, {"latest_revisions": p})
            m2 = takedown(spark, doc_dels, {"latest_revisions": p})
            replay = m2["latest_revisions"]["n_new_tombstones"] == 0
            serve = disjoint(
                minus_tombstones(_read_pq(spark, p), spark, p),
                "doc_id", doc_dels, "doc_id",
            )
            before = before.result()  # pre-purge
            purge_takedown(spark, {"latest_revisions": p})
        after = count(p)
        recrawl = snaps.join(doc_dels, "doc_id", "left_anti")
        upsert_latest_revisions(spark, recrawl, p, ["url"], "ts", "doc_id")
        return [(
            "latest_revisions", before, after, replay, serve,
            tbl_eq(p, keep_latest_dedup(recrawl, ["url"], "ts", "doc_id")),
        )]

    def leg_cur():
        """Curriculum-shard store (sp21's layout) — the r18 symmetry
        closure: tombstones hide docs from the manifest/loader read
        immediately; the purge is RANK-REPAIRING, so equals-rebuild
        compares against a re-shard of the remaining docs under the
        store's FROZEN model (the commute gate is model-conditional —
        retraining on the remainder would be a different curriculum by
        design)."""
        from ..operators.text import (
            CURRICULUM_SHARDS,
            _with_shards,
            _with_wrk,
            init_curriculum_store,
            load_curriculum_model,
            read_curriculum_docs,
            score_under_curriculum_model,
        )

        p = os.path.join(root, "cur")
        init_curriculum_store(spark, slice_df, p)

        def prebuild():
            # the comparison frame depends only on the FROZEN model
            # (written at init, untouched by takedown/purge — the store's
            # module contract) and the fixture docs: materialize it under
            # the takedown chain (guide §2.6, r19) instead of serializing
            # the whole score pass after the purge
            bc, uc, v = load_curriculum_model(spark, p)
            return _with_shards(
                _with_wrk(score_under_curriculum_model(rem_docs, bc, uc, v)),
                CURRICULUM_SHARDS,
            ).select(
                "doc_id", "ppl", "n_tokens", "bucket", "wrk", "shard_id"
            ).localCheckpoint()

        with overlap() as o:
            rebuilt = o.submit("dd18/curriculum/prebuild", prebuild)
            before = count_in(o, "dd18/curriculum/count", f"{p}/docs")
            takedown(spark, doc_dels, {"curriculum": p})
            m2 = takedown(spark, doc_dels, {"curriculum": p})
            replay = m2["curriculum"]["n_new_tombstones"] == 0
            serve = disjoint(
                read_curriculum_docs(spark, p), "doc_id", doc_dels, "doc_id"
            )
            before = before.result()  # pre-purge
            purge_takedown(spark, {"curriculum": p})
        return [(
            "curriculum", before, count(f"{p}/docs"), replay, serve,
            tbl_eq(f"{p}/docs", rebuilt.result()),
        )]

    with overlap() as o:
        legs = [
            o.submit(f"dd18/{leg.__name__}", leg)
            for leg in (
                leg_sig, leg_sh, leg_fp, leg_sem, leg_bm,
                leg_ivf, leg_pq, leg_rev, leg_cur,
            )
        ]
    rows = [row for leg in legs for row in leg.result()]
    rows.sort(key=lambda r: r[0])
    return spark.createDataFrame(
        rows,
        "family string, n_rows_before bigint, n_rows_after bigint, "
        "replay_zero boolean, serve_clean boolean, equals_rebuild boolean",
    ).orderBy("family")


def sql_corpus_takedown(dialect: str) -> str:
    """DD18's oracle: every per-family row count replayed from first
    principles over the salted slice and slice-minus-deleted, gates
    pinned true (they are invariants of the takedown contract, verified
    structurally on the Spark side)."""
    from ..operators.multimodal import DHASH_BANDS

    cat = "||"  # both engines concatenate strings with ||
    slice_sel = (
        f"SELECT doc_id, text {cat} ' uq' {cat} CAST(doc_id AS STRING) "
        f"{cat} 'x' AS text FROM documents "
        f"WHERE doc_id < {DD18_DOCS} AND text IS NOT NULL"
    )
    return f"""
WITH tslice AS ({slice_sel}),
trem AS (SELECT * FROM tslice WHERE doc_id % {DD18_STRIDE} <> {DD18_RESIDUE}),
{_sigs_over(dialect, "tslice", "kb_")},
kb_bands AS ({_bands_sql(dialect, "kb_sigs")}),
{_sigs_over(dialect, "trem", "ka_")},
ka_bands AS ({_bands_sql(dialect, "ka_sigs")}),
{_shingle_cte_over(dialect, "tslice", "gb_", 13)},
{_shingle_cte_over(dialect, "trem", "ga_", 13)},
semc AS (
  SELECT CAST(count(*) AS BIGINT) AS n_sem,
         CAST(sum(CASE WHEN vec_id % {DD18_TWIN_STRIDE} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tw,
         CAST(sum(CASE WHEN vec_id % {DD18_STRIDE} = {DD18_RESIDUE} THEN 1 ELSE 0 END) AS BIGINT) AS n_del,
         CAST(sum(CASE WHEN vec_id % {DD18_TWIN_STRIDE} = 0
                        AND vec_id % {DD18_STRIDE} = {DD18_RESIDUE} THEN 1 ELSE 0 END) AS BIGINT) AS n_twdel
  FROM embeddings WHERE vec_id < {DD18_SEM}
)
SELECT 'bm25_df' AS family,
       (SELECT CAST(count(DISTINCT tok) AS BIGINT) FROM gb_tok_rows) AS n_rows_before,
       (SELECT CAST(count(DISTINCT tok) AS BIGINT) FROM ga_tok_rows) AS n_rows_after,
       true AS replay_zero, true AS serve_clean, true AS equals_rebuild
UNION ALL
SELECT 'bm25_tf',
       (SELECT CAST(count(*) AS BIGINT) FROM (SELECT DISTINCT doc_id, tok FROM gb_tok_rows) x),
       (SELECT CAST(count(*) AS BIGINT) FROM (SELECT DISTINCT doc_id, tok FROM ga_tok_rows) x),
       true, true, true
UNION ALL
SELECT 'curriculum',
       (SELECT CAST(count(*) AS BIGINT) FROM tslice
        WHERE {list_len(dialect, split_ws(dialect, "text"))} >= 2),
       (SELECT CAST(count(*) AS BIGINT) FROM trem
        WHERE {list_len(dialect, split_ws(dialect, "text"))} >= 2),
       true, true, true
UNION ALL
SELECT 'fingerprints',
       (SELECT CAST({DHASH_BANDS} * count(*) AS BIGINT) FROM tslice),
       (SELECT CAST({DHASH_BANDS} * count(*) AS BIGINT) FROM trem),
       true, true, true
UNION ALL
SELECT 'ivf_lists', (SELECT n_sem + n_tw FROM semc),
       (SELECT n_sem + n_tw - n_del FROM semc), true, true, true
UNION ALL
SELECT 'latest_revisions',
       (SELECT CAST(count(DISTINCT doc_id % {DD18_URLS}) AS BIGINT) FROM tslice),
       (SELECT CAST(count(*) AS BIGINT) FROM (
          SELECT doc_id % {DD18_URLS} AS url, max(doc_id) AS w
          FROM tslice GROUP BY doc_id % {DD18_URLS}
        ) x WHERE w % {DD18_STRIDE} <> {DD18_RESIDUE}),
       true, true, true
UNION ALL
SELECT 'pq_codes', (SELECT n_sem + n_tw FROM semc),
       (SELECT n_sem + n_tw - n_del FROM semc), true, true, true
UNION ALL
SELECT 'sem_assigned', (SELECT n_sem + n_tw FROM semc),
       (SELECT n_sem + n_tw - n_del FROM semc), true, true, true
UNION ALL
SELECT 'sem_pairs', (SELECT n_tw FROM semc),
       (SELECT n_tw - n_twdel FROM semc), true, true, true
UNION ALL
SELECT 'shingles', (SELECT CAST(count(*) AS BIGINT) FROM gb_hashed),
       (SELECT CAST(count(*) AS BIGINT) FROM ga_hashed), true, true, true
UNION ALL
SELECT 'signatures', (SELECT CAST(count(*) AS BIGINT) FROM kb_bands),
       (SELECT CAST(count(*) AS BIGINT) FROM ka_bands), true, true, true
ORDER BY family
"""


QUERIES["dd18_corpus_takedown"] = _dd18_corpus_takedown
AUDIT_ORACLES["dd18_corpus_takedown"] = sql_corpus_takedown("duck")



# --- DQ7 (r16): per-source dataset card ----------------------------------------
Q7_MICRO = 1_000_000


def sql_dataset_card(dialect: str) -> str:
    """DQ7 — the per-source DATASET CARD (Gebru et al. 2021, "Datasheets
    for Datasets"): the one-page per-domain summary a curation run
    publishes with the corpus — composing four already-proven families
    into the artifact their numbers actually ship in:

      n_docs / n_tokens        — corpus accounting
      n_exact_dup              — docs minus DISTINCT texts (dd1's rule)
      n_gopher_clean           — docs passing all seven txt24 rules
      mean_quality             — txt2's heuristic, per-doc rounded
                                 half-up to integer MICRO-units first so
                                 the per-source sum is an exact BIGINT
                                 under any shuffle (one final division)
      top_lang / top_lang_docs — modal txt3 predicted language
                                 (tie-break lang ASC)

    Scale shape: one map-only projection per doc, two map-combinable
    per-source aggregates, and a per-(source, lang) rollup with a
    WindowGroupLimit top-1 — sources are the parallelism unit; nothing
    corpus-sized crosses a single partition."""
    from .dialect import map_fold_sum
    from .text_parity import EN_STOP, LANG_MARKERS, _gopher_metrics, docs_cte

    metrics, rules, lines = _gopher_metrics(dialect)
    metric_select = ",\n         ".join(
        f"CAST({expr} AS BIGINT) AS {name}"
        for name, expr in metrics.items()
    )
    all_pass = " AND ".join(f"NOT ({cond})" for cond in rules.values())
    n = d(list_len(dialect, "toks"))
    stops = map_fold_sum(
        dialect, "toks",
        f"CASE WHEN x IN {EN_STOP} THEN {d('1.0')} ELSE {d('0.0')} END",
    )
    quality = (
        f"{d('0.5')} * least({d('1.0')}, {n} / {d('50.0')}) "
        f"+ {d('0.5')} * least({d('1.0')}, (({stops}) / {n}) / {d('0.4')})"
    )
    q_micro = f"CAST(floor(({quality}) * {Q7_MICRO} + {d('0.5')}) AS BIGINT)"
    hits = {
        code: map_fold_sum(
            dialect, "toks",
            f"CASE WHEN x IN {markers} THEN CAST(1 AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END",
            init="CAST(0 AS BIGINT)",
        )
        for code, markers in LANG_MARKERS.items()
    }
    best = ", ".join(f"{code}_hits" for code in LANG_MARKERS)
    lang_case = f"""CASE
         WHEN greatest({best}) = 0 THEN 'und'
         WHEN en_hits = greatest({best}) THEN 'en'
         WHEN es_hits = greatest({best}) THEN 'es'
         WHEN de_hits = greatest({best}) THEN 'de'
         ELSE 'fr'
       END"""
    hit_cols = ",\n         ".join(
        f"{expr} AS {code}_hits" for code, expr in hits.items()
    )
    return f"""
WITH {docs_cte(dialect)},
t AS (
  SELECT doc_id, source, text, toks, {lines} AS lns
  FROM docs WHERE text IS NOT NULL
),
m AS (
  SELECT doc_id, source, text,
         {metric_select},
         {q_micro} AS q_micro,
         {hit_cols}
  FROM t
),
lbl AS (SELECT *, {lang_case} AS predicted_lang FROM m),
per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_words) AS BIGINT) AS n_tokens,
         CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_exact_dup,
         CAST(sum(CASE WHEN {all_pass} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_gopher_clean,
         CAST(sum(q_micro) AS BIGINT) AS q_sum
  FROM lbl GROUP BY source
),
langs AS (
  SELECT source, predicted_lang, CAST(count(*) AS BIGINT) AS n
  FROM lbl GROUP BY source, predicted_lang
),
toplang AS (
  SELECT source, predicted_lang AS top_lang, n AS top_lang_docs
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY source ORDER BY n DESC, predicted_lang ASC
    ) AS rk
    FROM langs
  ) r WHERE rk = 1
)
SELECT p.source, p.n_docs, p.n_tokens, p.n_exact_dup, p.n_gopher_clean,
       {r6t(f"CAST(p.q_sum AS DOUBLE) / {d(str(float(Q7_MICRO)))} / CAST(p.n_docs AS DOUBLE)")}
         AS mean_quality,
       tl.top_lang, tl.top_lang_docs
FROM per p JOIN toplang tl ON p.source = tl.source
ORDER BY p.source
"""


def _dq7_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ7, Spark side: the pure rendering."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(sql_dataset_card("spark"))


QUERIES["dq7_dataset_card"] = _dq7_dataset_card
AUDIT_ORACLES["dq7_dataset_card"] = sql_dataset_card("duck")


# --- DQ8 (r17): the corpus-level RELEASE CARD ---------------------------------
# dq7 is the PER-SOURCE datasheet; the artifact a model release actually
# publishes is corpus-level (Gebru et al. 2021 §3.2's aggregate view;
# what LLaMA/Pile-style dataset sections of model cards report): one
# table rolling up the per-source cards WITH the safety numbers —
# contamination verdict counts per gate class (dq6), dedup survival
# (dd7), and the post-rebalancing mixture concentration (sp11).
#
# The composition rule that makes the card trustworthy: every number
# derives ONLY from the SOURCE QUERIES' OWN OUTPUT FRAMES — the Spark
# side literally calls _dq7/_dq6/_dd7/_sp11 and aggregates their
# results in-plan, so a card number can never drift from the query that
# published it (the r16 verdict's "pinned against its source query
# in-plan" bar), and the oracle nests the four source SQLs wholesale as
# CTEs (the dd17 pattern) and aggregates identically.
#
# Float discipline: the only float inputs are dq7's r6-rounded
# per-source means and sp11's r6-rounded shares; cross-source sums
# convert the means back to exact integer micro-units FIRST
# (floor(x·1e6 + 0.5) — exact because r6 guarantees 6 decimals), so
# every sum in the card is BIGINT under any partitioning and the final
# division is one r6-rounded op.  Counts cast to DOUBLE exactly
# (≪ 2^53).
#
# Output: (section, metric, value_num, value_str) long-format rows —
#   accounting/*      dq7 rollup: sources, docs, tokens, exact dups,
#                     gopher-clean, doc-weighted mean quality, and the
#                     dominant language (argmax of Σ n_docs over the
#                     sources' modal langs, tie lang ASC)
#   contamination/*   dq6: total flagged, per-gate totals, and one
#                     'class:<leak_class>' row per verdict class
#   dedup/*           dd7 rollup: docs/kept/dropped/chars_dropped and
#                     the r6 survival rate
#   mixture/*         sp11: domain count and the post-sampling top
#                     domain with its share
#
# Scale shape: the four source plans (each already scale-audited) plus
# rollups over their OUTPUTS — frames bounded by sources × langs ×
# domains × flagged docs, never corpus-sized; the argmax windows run
# over those bounded frames.


def sql_release_card(dialect: str) -> str:
    """DQ8's oracle: the four source SQLs nested wholesale as CTEs, then
    the identical rollups — value-checking the whole composition."""
    from .text_parity import sql_dedup_summary, sql_domain_mixture

    card = sql_dataset_card(dialect)
    flags = sql_contamination_audit(dialect)
    ddup = sql_dedup_summary(dialect)
    mix = sql_domain_mixture(dialect)
    q_w = (
        f"CAST(floor(mean_quality * {d(str(float(Q7_MICRO)))} + {d('0.5')}) "
        "AS BIGINT) * n_docs"
    )
    mean_q = r6t(
        f"CAST(q_sum AS DOUBLE) / {d(str(float(Q7_MICRO)))} "
        "/ CAST(n_docs AS DOUBLE)"
    )
    surv = r6t("CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE)")
    ns = "CAST(NULL AS STRING)"
    return f"""
WITH card AS ({card}),
flags AS ({flags}),
ddup AS ({ddup}),
mix AS ({mix}),
acc AS (
  SELECT CAST(count(*) AS BIGINT) AS n_sources,
         CAST(sum(n_docs) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         CAST(sum(n_exact_dup) AS BIGINT) AS n_exact_dup,
         CAST(sum(n_gopher_clean) AS BIGINT) AS n_gopher_clean,
         CAST(sum({q_w}) AS BIGINT) AS q_sum
  FROM card
),
dlang AS (
  SELECT top_lang, CAST(sum(n_docs) AS BIGINT) AS n
  FROM card GROUP BY top_lang
),
dlang1 AS (
  SELECT top_lang, n FROM (
    SELECT *, row_number() OVER (ORDER BY n DESC, top_lang ASC) AS rk
    FROM dlang
  ) t WHERE rk = 1
),
con AS (
  SELECT CAST(count(*) AS BIGINT) AS n_flagged,
         CAST(sum(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact,
         CAST(sum(CASE WHEN banded_hit THEN 1 ELSE 0 END) AS BIGINT)
           AS n_banded,
         CAST(sum(CASE WHEN semantic_hit THEN 1 ELSE 0 END) AS BIGINT)
           AS n_semantic,
         CAST(sum(CASE WHEN perceptual_hit THEN 1 ELSE 0 END) AS BIGINT)
           AS n_perceptual
  FROM flags
),
cls AS (
  SELECT leak_class, CAST(count(*) AS BIGINT) AS n
  FROM flags GROUP BY leak_class
),
dd AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS n_docs,
         CAST(sum(n_kept) AS BIGINT) AS n_kept,
         CAST(sum(n_dropped) AS BIGINT) AS n_dropped,
         CAST(sum(chars_dropped) AS BIGINT) AS chars_dropped
  FROM ddup
),
mx AS (SELECT CAST(count(*) AS BIGINT) AS n_domains FROM mix),
mx1 AS (
  SELECT domain, share_after FROM (
    SELECT *, row_number() OVER (
      ORDER BY share_after DESC, domain ASC
    ) AS rk FROM mix
  ) t WHERE rk = 1
)
SELECT section, metric, value_num, value_str FROM (
  SELECT 'accounting' AS section, 'n_sources' AS metric,
         CAST(n_sources AS DOUBLE) AS value_num, {ns} AS value_str FROM acc
  UNION ALL
  SELECT 'accounting', 'n_docs', CAST(n_docs AS DOUBLE), {ns} FROM acc
  UNION ALL
  SELECT 'accounting', 'n_tokens', CAST(n_tokens AS DOUBLE), {ns} FROM acc
  UNION ALL
  SELECT 'accounting', 'n_exact_dup', CAST(n_exact_dup AS DOUBLE), {ns}
  FROM acc
  UNION ALL
  SELECT 'accounting', 'n_gopher_clean', CAST(n_gopher_clean AS DOUBLE),
         {ns} FROM acc
  UNION ALL
  SELECT 'accounting', 'mean_quality', {mean_q}, {ns} FROM acc
  UNION ALL
  SELECT 'accounting', 'dominant_lang', CAST(n AS DOUBLE), top_lang
  FROM dlang1
  UNION ALL
  SELECT 'contamination', 'n_flagged', CAST(n_flagged AS DOUBLE), {ns}
  FROM con
  UNION ALL
  SELECT 'contamination', 'n_exact', CAST(n_exact AS DOUBLE), {ns} FROM con
  UNION ALL
  SELECT 'contamination', 'n_banded', CAST(n_banded AS DOUBLE), {ns} FROM con
  UNION ALL
  SELECT 'contamination', 'n_semantic', CAST(n_semantic AS DOUBLE), {ns}
  FROM con
  UNION ALL
  SELECT 'contamination', 'n_perceptual', CAST(n_perceptual AS DOUBLE), {ns}
  FROM con
  UNION ALL
  SELECT 'contamination', 'class:' || leak_class, CAST(n AS DOUBLE), {ns}
  FROM cls
  UNION ALL
  SELECT 'dedup', 'n_docs', CAST(n_docs AS DOUBLE), {ns} FROM dd
  UNION ALL
  SELECT 'dedup', 'n_kept', CAST(n_kept AS DOUBLE), {ns} FROM dd
  UNION ALL
  SELECT 'dedup', 'n_dropped', CAST(n_dropped AS DOUBLE), {ns} FROM dd
  UNION ALL
  SELECT 'dedup', 'chars_dropped', CAST(chars_dropped AS DOUBLE), {ns}
  FROM dd
  UNION ALL
  SELECT 'dedup', 'survival_rate', {surv}, {ns} FROM dd
  UNION ALL
  SELECT 'mixture', 'n_domains', CAST(n_domains AS DOUBLE), {ns} FROM mx
  UNION ALL
  SELECT 'mixture', 'top_domain', share_after, domain FROM mx1
) rows_out
ORDER BY section, metric
"""


def _dq8_release_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ8, Spark side: call the four source queries and aggregate their
    OUTPUT frames in-plan (each snapshotted once — it feeds several card
    rows).  No new computation anywhere: a card number IS its source
    query's number."""
    from ..functions.scalars import r6
    from .text_parity import _dd7_dedup_summary, _sp11_domain_mixture

    # r18 optimization: the four source pipelines are INDEPENDENT pure
    # functions of sf_dir, and each mixes eager driver-side build work
    # (dq6's benchmark stores, dd7's iterative cluster map) with its final
    # lazy frame — so they overlap (the dq5/dd18 monitor-fleet pattern,
    # guide §2.6) with each result eagerly checkpointed inside its task;
    # the card assembly below reads the pinned snapshots.  Previously
    # they ran sequentially and dq8 ≈ Σ(sources).
    # Thread-safety: the only session-global state any builder touches is
    # createOrReplaceTempView("documents"/"embeddings") with byte-identical
    # pure load_table definitions (pinned by tests/test_plans.py::
    # test_dq8_source_builders_register_only_identical_views); every other
    # operator they call is covered by the dq5/dd18 no-session-state pins.
    with overlap() as o:
        sources = [
            o.submit(
                f"dq8/{b.__name__.lstrip('_')}",
                lambda b=b: b(spark, sf_dir).localCheckpoint(),
            )
            for b in (
                _dq7_dataset_card,
                _dq6_contamination_audit,
                _dd7_dedup_summary,
                _sp11_domain_mixture,
            )
        ]
    card, flags, ddup, mix = (h.result() for h in sources)

    ns = F.lit(None).cast("string")

    def rows(df: DataFrame, section: str, metrics: list[tuple]) -> DataFrame:
        out = None
        for metric, num, s in metrics:
            r = df.select(
                F.lit(section).alias("section"),
                F.lit(metric).alias("metric"),
                num.cast("double").alias("value_num"),
                (ns if s is None else s).alias("value_str"),
            )
            out = r if out is None else out.unionByName(r)
        return out

    q_w = F.expr(
        f"CAST(floor(mean_quality * {float(Q7_MICRO)} + 0.5) AS BIGINT) "
        "* n_docs"
    )
    acc = card.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_exact_dup").cast("bigint").alias("n_exact_dup"),
        F.sum("n_gopher_clean").cast("bigint").alias("n_gopher_clean"),
        F.sum(q_w).cast("bigint").alias("q_sum"),
    )
    acc_rows = rows(
        acc,
        "accounting",
        [
            ("n_sources", F.col("n_sources"), None),
            ("n_docs", F.col("n_docs"), None),
            ("n_tokens", F.col("n_tokens"), None),
            ("n_exact_dup", F.col("n_exact_dup"), None),
            ("n_gopher_clean", F.col("n_gopher_clean"), None),
            (
                "mean_quality",
                r6(
                    F.col("q_sum").cast("double")
                    / F.lit(float(Q7_MICRO))
                    / F.col("n_docs").cast("double")
                ),
                None,
            ),
        ],
    )
    from pyspark.sql import Window

    dlang = card.groupBy("top_lang").agg(
        F.sum("n_docs").cast("bigint").alias("n")
    )
    # bounded argmax: the window runs over ≤ n_languages rows
    dlang1 = (
        dlang.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy().orderBy(F.desc("n"), F.asc("top_lang"))
            ),
        )
        .filter("rk = 1")
    )
    lang_row = rows(
        dlang1, "accounting", [("dominant_lang", F.col("n"), F.col("top_lang"))]
    )
    con = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_flagged"),
        F.sum(F.col("exact_hit").cast("int")).cast("bigint").alias("n_exact"),
        F.sum(F.col("banded_hit").cast("int")).cast("bigint").alias("n_banded"),
        F.sum(F.col("semantic_hit").cast("int"))
        .cast("bigint")
        .alias("n_semantic"),
        F.sum(F.col("perceptual_hit").cast("int"))
        .cast("bigint")
        .alias("n_perceptual"),
    )
    con_rows = rows(
        con,
        "contamination",
        [
            ("n_flagged", F.col("n_flagged"), None),
            ("n_exact", F.col("n_exact"), None),
            ("n_banded", F.col("n_banded"), None),
            ("n_semantic", F.col("n_semantic"), None),
            ("n_perceptual", F.col("n_perceptual"), None),
        ],
    )
    cls_rows = (
        flags.groupBy("leak_class")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            F.lit("contamination").alias("section"),
            F.concat(F.lit("class:"), F.col("leak_class")).alias("metric"),
            F.col("n").cast("double").alias("value_num"),
            ns.alias("value_str"),
        )
    )
    dd = ddup.agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("n_kept").cast("bigint").alias("n_kept"),
        F.sum("n_dropped").cast("bigint").alias("n_dropped"),
        F.sum("chars_dropped").cast("bigint").alias("chars_dropped"),
    )
    dd_rows = rows(
        dd,
        "dedup",
        [
            ("n_docs", F.col("n_docs"), None),
            ("n_kept", F.col("n_kept"), None),
            ("n_dropped", F.col("n_dropped"), None),
            ("chars_dropped", F.col("chars_dropped"), None),
            (
                "survival_rate",
                r6(F.col("n_kept").cast("double") / F.col("n_docs").cast("double")),
                None,
            ),
        ],
    )
    mx_rows = rows(
        mix.agg(F.count(F.lit(1)).cast("bigint").alias("n_domains")),
        "mixture",
        [("n_domains", F.col("n_domains"), None)],
    )
    mx1 = (
        mix.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy().orderBy(
                    F.desc("share_after"), F.asc("domain")
                )
            ),
        )
        .filter("rk = 1")
    )
    top_row = rows(
        mx1, "mixture", [("top_domain", F.col("share_after"), F.col("domain"))]
    )
    return (
        acc_rows.unionByName(lang_row)
        .unionByName(con_rows)
        .unionByName(cls_rows)
        .unionByName(dd_rows)
        .unionByName(mx_rows)
        .unionByName(top_row)
        .orderBy("section", "metric")
    )


QUERIES["dq8_release_card"] = _dq8_release_card
AUDIT_ORACLES["dq8_release_card"] = sql_release_card("duck")


# --- DQ9 (r17): takedown COMPLIANCE audit -------------------------------------
DQ9_DOCS = 200
DQ9_STRIDE = 6
DQ9_RESIDUE = 1
DQ9_GHOSTS = (9_000_001, 9_000_002, 9_000_003)  # requested, never ingested


def sql_takedown_compliance(dialect: str) -> str:
    """DQ9's oracle: every counter replayed arithmetically from the
    fixture construction — a table family holds a doc iff the doc
    clears that family's shingle width (3-gram signatures need ≥ 3
    tokens, 13-gram shingle tables ≥ 13), so presence counts are pure
    token-count predicates over the slice; the four family states are
    the fixture's four constructions."""
    toks = split_ws(dialect, "text")
    n = list_len(dialect, toks)
    base = (
        f"SELECT doc_id, {n} AS n_tokens FROM documents "
        f"WHERE doc_id < {DQ9_DOCS} AND text IS NOT NULL"
    )
    return f"""
WITH slice_docs AS ({base}),
req AS (
  SELECT CAST(count(*) + {len(DQ9_GHOSTS)} AS BIGINT) AS n_requested
  FROM slice_docs WHERE doc_id % {DQ9_STRIDE} = {DQ9_RESIDUE}
),
p3 AS (
  SELECT CAST(count(*) AS BIGINT) AS n
  FROM slice_docs
  WHERE doc_id % {DQ9_STRIDE} = {DQ9_RESIDUE} AND n_tokens >= 3
),
p13 AS (
  SELECT CAST(count(*) AS BIGINT) AS n
  FROM slice_docs
  WHERE doc_id % {DQ9_STRIDE} = {DQ9_RESIDUE} AND n_tokens >= 13
),
p2 AS (
  SELECT CAST(count(*) AS BIGINT) AS n
  FROM slice_docs
  WHERE doc_id % {DQ9_STRIDE} = {DQ9_RESIDUE} AND n_tokens >= 2
)
SELECT 'curriculum' AS family, req.n_requested,
       p2.n AS n_tombstoned_standing,
       p2.n AS n_physical_docs_remaining,
       true AS serving_clean,
       CASE WHEN p2.n = 0 THEN 'clean' ELSE 'pending_purge' END AS status
FROM req CROSS JOIN p2
UNION ALL
SELECT 'fingerprints', req.n_requested,
       CAST(0 AS BIGINT), CAST(0 AS BIGINT), true, 'clean'
FROM req
UNION ALL
SELECT 'segmentations', req.n_requested, CAST(0 AS BIGINT), p13.n,
       p13.n = 0, CASE WHEN p13.n = 0 THEN 'clean' ELSE 'at_risk' END
FROM req CROSS JOIN p13
UNION ALL
SELECT 'shingles', req.n_requested, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       true, 'clean'
FROM req
UNION ALL
SELECT 'signatures', req.n_requested, p3.n, p3.n,
       true, CASE WHEN p3.n = 0 THEN 'clean' ELSE 'pending_purge' END
FROM req CROSS JOIN p3
ORDER BY family
"""


def _dq9_takedown_compliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ9, Spark side: drive ``operators.takedown.takedown_compliance``
    — the check-time report a GDPR/robots audit reads — over a fixture
    that realizes all three statuses the report can emit:

      signatures     takedown applied, purge NOT run → ``pending_purge``
                     (tombstones standing, rows physical, serving clean)
      shingles       takedown + purge → ``clean``
      fingerprints   request ids never ingested → ``clean``
                     (present-only tombstoning had nothing to do)
      segmentations  store built but the removal request NEVER applied →
                     ``at_risk`` — requested docs still SERVED, the
                     missed-takedown failure mode the audit exists to
                     catch.
      curriculum     the r18 rank-maintained store, takedown applied,
                     purge NOT run → ``pending_purge`` — pins that the
                     audit walks the new family's doc-level read
                     (store membership = docs with ≥ 2 tokens).

    dd18 proves each family's lifecycle; dq9 is the operational
    monitoring layer above it (dq4/dq5's monitor-vs-lifecycle split,
    applied to deletion).  Every check is request-sized broadcast
    joins + single-row aggregates."""
    import os

    from ..operators.dedup import (
        update_signature_table,
        update_test_shingle_table,
    )
    from ..operators.multimodal import image_dhash, update_media_fingerprint_table
    from ..operators.takedown import purge_takedown, takedown, takedown_compliance
    from .queries import _synthetic_bmp_media

    docs = load_table(spark, sf_dir, "documents")
    slice_df = (
        docs.filter((F.col("doc_id") < DQ9_DOCS) & F.col("text").isNotNull())
        .select("doc_id", "text")
        .localCheckpoint(eager=False)
    )
    requested = slice_df.filter(
        F.col("doc_id") % DQ9_STRIDE == DQ9_RESIDUE
    ).select("doc_id")
    ghosts = spark.createDataFrame(
        [(g,) for g in DQ9_GHOSTS], "doc_id long"
    )
    request = requested.unionByName(ghosts).localCheckpoint(eager=False)
    root = scratch_store("compliance", sf_dir)
    p_sig = os.path.join(root, "sig")
    p_sh = os.path.join(root, "sh")
    p_fp = os.path.join(root, "fp")
    p_seg = os.path.join(root, "seg")
    p_cur = os.path.join(root, "cur")

    def build_fp():
        media = image_dhash(
            _synthetic_bmp_media(
                slice_df.join(request, "doc_id", "left_anti").select("doc_id"),
                "doc_id",
            )
        ).select("doc_id", "dhash")
        update_media_fingerprint_table(media, p_fp)

    def build_cur():
        from ..operators.text import init_curriculum_store

        init_curriculum_store(spark, slice_df, p_cur)

    # the five store builds are independent leg-private file ops (no
    # session-global state — the dd18/dq5 thread invariant holds), and
    # each is a chain of tiny fixed-overhead jobs: overlap them
    # (measured 10.4 → 7.2 s solo-warm at sf0.1 with four)
    with overlap() as o:
        o.submit("dq9/build_signatures", update_signature_table, slice_df, p_sig)
        o.submit("dq9/build_shingles", update_test_shingle_table, slice_df, p_sh)
        o.submit("dq9/build_fingerprints", build_fp)
        o.submit(
            "dq9/build_segmentations", update_test_shingle_table, slice_df, p_seg
        )
        o.submit("dq9/build_curriculum", build_cur)
    # signatures: tombstone only; shingles: tombstone + purge;
    # fingerprints: request never ingested; segmentations: request
    # never applied at all; curriculum: tombstone only (pending_purge
    # through the rank-maintained family's doc-level read)
    takedown(spark, request, {"signatures": p_sig, "shingles": p_sh,
                              "fingerprints": p_fp, "curriculum": p_cur})
    purge_takedown(spark, {"shingles": p_sh})
    roots = {
        "signatures": p_sig,
        "shingles": p_sh,
        "fingerprints": p_fp,
        "segmentations": p_seg,
        "curriculum": p_cur,
    }
    return takedown_compliance(spark, request, roots).orderBy("family")


QUERIES["dq9_takedown_compliance"] = _dq9_takedown_compliance
AUDIT_ORACLES["dq9_takedown_compliance"] = sql_takedown_compliance("duck")


# --- DQ10 (r18): curriculum-store drift monitor + rebuild lifecycle -----------
DQ10_PLANT_BASE = 10_000_000
DQ10_OOV_CAP = 0.5          # gate: segment-mean OOV-bigram share under the
DQ10_SALAD_LEN = 40         # store's frozen model (0 on-era / 1 off-era)
DQ10_SALAD = "array('qa','qb','qc','qd','qe')"


def _dq10_curriculum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ10 — the dq4/dq5 WHEN-to-rebuild monitor for the curriculum
    family, completing its lifecycle (init sp21 / ingest / takedown+
    purge r18 / monitor+rebuild here): the difficulty model freezes at
    init, so a domain shift degrades the curriculum silently — new-era
    docs all score unseen-mass perplexity and pile into the top
    buckets.  The drift signal is the OOV-BIGRAM SHARE under the frozen
    model (operators/text.curriculum_oov_share): exactly 0 on the
    training era, exactly 1 on an unseen-domain era at any corpus size
    — this corpus's closed 31-token vocabulary makes raw perplexity
    nearly blind to the same shift (drifted ppl ≈ V lands INSIDE the
    self-trained band; measured sf0.001/0.01), which is itself the
    design lesson the monitor encodes.

    Fixture: era A = the documents table (the init corpus); era B =
    one deterministic 5-token rotating word-salad doc per source doc
    (disjoint vocabulary, ingested through the REAL
    update_curriculum_shards path).  Truth table: gate holds pre-drift,
    FAILS on the drifted segment standing, clears on both segments
    after ``rebuild_curriculum_store`` retrains and swaps the
    model+docs tree (rebuild_ivfpq_index's root-staging protocol).
    Output: (phase, segment, n_docs, gate_ok), one row each."""
    from ..operators.text import (
        curriculum_oov_share,
        init_curriculum_store,
        load_curriculum_model,
        rebuild_curriculum_store,
        update_curriculum_shards,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter("text IS NOT NULL")
        .select("doc_id", "text")
        .localCheckpoint(eager=False)
    )
    salad_text = (
        f"array_join(transform(sequence(0, {DQ10_SALAD_LEN - 1}), "
        f"i -> element_at({DQ10_SALAD}, "
        "CAST((i + doc_id % 5) % 5 AS INT) + 1)), ' ')"
    )
    salad = docs.select(
        (F.col("doc_id") + F.lit(DQ10_PLANT_BASE)).alias("doc_id"),
        F.expr(salad_text).alias("text"),
    ).localCheckpoint(eager=False)
    union = docs.unionByName(salad).localCheckpoint(eager=False)
    root = scratch_store("dq10", sf_dir)
    init_curriculum_store(spark, docs, root)
    update_curriculum_shards(spark, salad, root)
    seg = F.when(
        F.col("doc_id") >= DQ10_PLANT_BASE, F.lit("post_drift")
    ).otherwise(F.lit("pre_drift"))
    # the gate's tokenize+window explosion depends only on the (fixed)
    # union, never the model — compute it once behind a lazy
    # localCheckpoint and hand it to BOTH gates (guide §1.2; the
    # curriculum_oov_share bigp contract), instead of re-deriving the
    # identical frame per phase
    from ..operators.text import _curriculum_bigrams

    union_bigp = _curriculum_bigrams(union, "doc_id", "text").localCheckpoint(
        eager=False
    )

    def gates(phase: str) -> DataFrame:
        # EAGER: the standing gates must pin to the store state they
        # measured — the rebuild swaps the model files this plan reads
        bc, _uc, _v = load_curriculum_model(spark, root)
        return (
            curriculum_oov_share(union, bc, bigp=union_bigp)
            .withColumn("segment", seg)
            .groupBy("segment")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                (F.avg("oov_share") <= F.lit(DQ10_OOV_CAP)).alias("gate_ok"),
            )
            .select(F.lit(phase).alias("phase"), "segment", "n_docs", "gate_ok")
            .localCheckpoint()
        )

    standing = gates("standing")
    rebuild_curriculum_store(spark, union, root)
    rebuilt = gates("rebuilt")
    return standing.unionByName(rebuilt).orderBy("phase", "segment")


def sql_curriculum_drift(dialect: str) -> str:
    """DQ10's oracle — the deterministic truth table (the dq5 pattern):
    the gate holds pre-drift, fails on the drifted segment standing,
    clears on both after the rebuild.  n_docs replays store membership
    from first principles: era A = docs with ≥ 2 whitespace tokens
    (a doc needs ≥ 1 bigram to be scorable), era B = one fixed-length
    salad per non-null source doc."""
    n_pre = (
        "SELECT CAST(count(*) AS BIGINT) FROM documents "
        f"WHERE text IS NOT NULL AND {list_len(dialect, split_ws(dialect, 'text'))} >= 2"
    )
    n_post = (
        "SELECT CAST(count(*) AS BIGINT) FROM documents WHERE text IS NOT NULL"
    )
    rows = []
    for phase in ("rebuilt", "standing"):
        for segment, n_sql in (("post_drift", n_post), ("pre_drift", n_pre)):
            ok = not (phase == "standing" and segment == "post_drift")
            rows.append(
                f"SELECT '{phase}' AS phase, '{segment}' AS segment, "
                f"({n_sql}) AS n_docs, {str(ok).lower()} AS gate_ok"
            )
    return "\nUNION ALL\n".join(rows) + "\nORDER BY phase, segment"


QUERIES["dq10_curriculum_drift"] = _dq10_curriculum_drift
AUDIT_ORACLES["dq10_curriculum_drift"] = sql_curriculum_drift("duck")
