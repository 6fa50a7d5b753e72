"""Deduplication operators for corpus preparation, as DataFrame pipelines.

Five families (all mirrored by oracle-checked plans in plans/text_parity /
plans/embedding_parity):

  exact          — hash-groupBy, canonical survivor = min id
  n-gram Jaccard — shingle explode → shared-shingle candidate join → verify
  MinHash + LSH  — shingle→minhash signature→band buckets→bucket join
  SimHash        — bitwise-majority token-hash signature, collision groups
  embedding      — hyperplane-sign LSH buckets + exact cosine verify
                   (operators/similarity.py)

Scale shape: every stage is either per-row (signatures) or a shuffle on a
high-selectivity key (shingle hash, band signature, bucket id).  Nothing
crosses the full corpus; candidate sets stay near-linear for non-degenerate
data.  Skewed keys (a shingle shared by millions of docs) should be dropped
as stop-shingles before the join — ``max_shingle_freq`` does that cut.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import P_MOD, tokens_col
from ..concurrency import overlap
from ..sources.readers import read_parquet_cached_schema as _read_pq

# Deterministic MinHash parameters — same series as plans/text_parity.
N_HASHES = 16
BAND_SIZE = 4
# Signature format v2 (round 2): shingle hash = polynomial combine of per-token
# char-fold hashes (was: char-fold over the space-joined shingle string in v1).
# Signatures persisted under v1 are NOT comparable to v2 values.
MINHASH_SIGNATURE_VERSION = 2
# Stop-shingle cut: shingles shared by more than this many docs are dropped
# before the DD2 candidate join — one viral shingle would otherwise make the
# shared-shingle join quadratic in its document frequency.  Mirrored in the
# dd2 oracle SQL (plans/text_parity.sql_ngram_jaccard).
MAX_SHINGLE_FREQ = 128
MINHASH_PARAMS = [
    ((i * 2654435761 + 1) % P_MOD, (i * 40503 * 65537 + 7) % P_MOD)
    for i in range(1, N_HASHES + 1)
]


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep the lowest-id row per identical key tuple (P9 generalized)."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(id_col).asc())
    return df.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn")


def keep_latest_dedup(
    df: DataFrame, key_cols: list[str], ts_col: str, id_col: str
) -> DataFrame:
    """Snapshot-aware exact dedup with a RECENCY keep-policy: one row
    survives per key tuple — the one with the greatest ``ts_col``
    (greatest ``id_col`` on ties, a total order).  The CC-dump shape:
    the same URL re-crawled across snapshots should keep the LATEST
    revision, where ``exact_dedup``'s min-id canonical would freeze the
    first crawl forever.  W1's latest-per-group window applied as a
    dedup policy (reference analogue: the latest-row-per-day pattern,
    db/current_schema.sql:134-162).

    Same scale shape as ``exact_dedup``: one row_number window on the
    key — a single shuffle; a hot key (a URL recrawled in every
    snapshot) is one window partition, bounded by the snapshot count,
    not the corpus."""
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col).desc(), F.col(id_col).desc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn")
    )


def upsert_latest_revisions(
    spark,
    batch: DataFrame,
    path: str,
    key_cols: list[str],
    ts_col: str,
    id_col: str,
) -> dict[str, int]:
    """``keep_latest_dedup``'s INGEST form — the current-state table a
    crawl pipeline maintains: the persisted store holds, per key, the
    max-(``ts_col``, ``id_col``) revision seen across ALL batches so
    far.  ORDER-ROBUST where a plain upsert is not: ``merge_upsert`` is
    last-batch-wins, so a late-arriving OLD snapshot would regress the
    stored row; here a batch row wins only if it strictly beats the
    stored revision under the same total order the one-shot operator
    cuts on — so ingesting snapshots in ANY batch order converges to
    exactly ``keep_latest_dedup`` over the union of every batch, and a
    replay changes nothing (at-least-once safe without coordination,
    the family contract).

    Per batch: one within-batch latest-per-key window, one key equi-join
    against the store's (key, ts, id) projection, then the shared
    ``upsert_parquet`` staging/commit-marker swap for the winners only —
    a batch with no winners never rewrites the store.  Returns
    ``{"n_batch", "n_winners"}``."""
    from ..maintenance import heal_if_interrupted, upsert_parquet
    from ..sources.readers import read_parquet_if_exists

    # the batch metric count is independent of the winner/upsert chain,
    # so it overlaps the chain (§2.6)
    with overlap() as o:
        n_batch = o.submit("upsert_latest_revisions/n_batch", batch.count)
        winners = keep_latest_dedup(batch, key_cols, ts_col, id_col)
        heal_if_interrupted(path)
        store = read_parquet_if_exists(spark, path)
        if store is not None:
            cur = store.select(
                *key_cols,
                F.col(ts_col).alias("__cur_ts"),
                F.col(id_col).alias("__cur_id"),
            )
            beats = (
                F.col("__cur_ts").isNull()
                | (F.col(ts_col) > F.col("__cur_ts"))
                | (
                    (F.col(ts_col) == F.col("__cur_ts"))
                    & (F.col(id_col) > F.col("__cur_id"))
                )
            )
            winners = (
                winners.join(cur, key_cols, "left")
                .filter(beats)
                .drop("__cur_ts", "__cur_id")
            )
        winners = winners.localCheckpoint(eager=False)
        n_winners = winners.count()
        if n_winners:
            # winners are unique per key and strictly newer than the store,
            # so the plain key-merge (update takes the full payload) IS the
            # max-compare merge here
            upsert_parquet(spark, winners, path, key_cols)
        return {"n_batch": n_batch.result(), "n_winners": int(n_winners)}


def latest_revisions_sink(
    path: str, key_cols: list[str], ts_col: str, id_col: str
):
    """``foreachBatch`` writer maintaining the current-state revision
    table from a SNAPSHOT STREAM: each micro-batch runs
    ``upsert_latest_revisions`` — order-robust and replay-idempotent by
    construction (a redelivered batch has zero winners), so
    at-least-once delivery needs no transactional coordination; the
    heal-before-read call repairs a swap interrupted by a crash before
    the redelivered batch applies (the ``upsert_sink`` self-healing
    contract)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        upsert_latest_revisions(
            batch_df.sparkSession, batch_df, path, key_cols, ts_col, id_col
        )

    return write_batch


def shingle_hashes(
    df: DataFrame, id_col: str = "doc_id", text: str = "text", n: int = 3
) -> DataFrame:
    """(id, sh) — distinct token-n-gram shingle hashes per document.

    Tokens are char-fold-hashed once (the dialect.tok_hash series); an
    n-gram's hash is the O(1) polynomial combine of its n token hashes —
    identical to plans/text_parity.shingles_cte, ~n× cheaper than re-hashing
    shingle strings char-by-char, and shuffle-free: ``array_distinct``
    before the explode replaces a post-explode DISTINCT exchange.
    """
    toks = tokens_col(text)
    token_hash = F.expr(
        "aggregate(transform(sequence(1, length(tok)), "
        "i -> ascii(substr(tok, CAST(i AS INT), 1))), "
        f"CAST(7 AS BIGINT), (acc, x) -> (acc * 131 + x) % {P_MOD})"
    )
    tok_rows = df.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "tok")
    ).select(F.col(id_col), F.col("pos"), token_hash.alias("h"))
    w = Window.partitionBy(id_col).orderBy(F.col("pos").asc())
    sh = F.lit(7).cast("bigint")
    for j in range(n):
        term = F.col("h") if j == 0 else F.lead("h", j).over(w)
        sh = (sh * 131 + term) % F.lit(P_MOD)
    return (
        tok_rows.select(F.col(id_col), sh.alias("sh"))
        .filter(F.col("sh").isNotNull())
        .distinct()
    )


def jaccard_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 3,
    threshold: float = 0.05,
    max_shingle_freq: int | None = MAX_SHINGLE_FREQ,
    materialize: bool = False,
) -> DataFrame:
    """(doc_a, doc_b, n_common, jaccard) for pairs over the threshold.

    Candidates = pairs sharing ≥1 shingle (shuffle key = shingle hash);
    ``max_shingle_freq`` (default ``MAX_SHINGLE_FREQ``) drops stop-shingles
    before the join to bound candidate fan-out at corpus scale; doc sizes are
    counted AFTER the cut so Jaccard stays consistent with the joined set.

    Spark never materializes a multiply-referenced subplan, so the
    self-join recomputes the shingle pipeline once per side.
    ``materialize=True`` snapshots the shingle frame with a LAZY
    ``localCheckpoint`` — computed once, read by both sides, released with
    the session (no unpersist bookkeeping; this replaces an unscoped
    ``.cache()`` that leaked storage in long-lived jobs).  Default off: the
    pure plan stays oracle-comparable and checkpoint-storage-free.
    """
    sh = shingle_hashes(df, id_col, text, n)
    if materialize:
        sh = sh.localCheckpoint(eager=False)
    if max_shingle_freq:
        # window count, not groupBy+anti-join: the plan is lazy, so a
        # frequency side-branch would recompute the shingle pipeline; the
        # window's (sh)-partitioning doubles as the candidate join's key
        df_w = Window.partitionBy("sh")
        sh = (
            sh.withColumn("__df", F.count(F.lit(1)).over(df_w))
            .filter(F.col("__df") <= max_shingle_freq)
            .drop("__df")
        )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("n_sh", "n_a")
    sb = sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("n_sh", "n_b")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 13,
    materialize: bool = False,
) -> DataFrame:
    """Exact-substring SPAN dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): REMOVE duplicated token spans from
    each document instead of dropping or merely flagging whole docs —
    the operation the paper actually performs on C4/RealNews.  txt16
    grades docs by duplicated-13-gram share and dd10/dd11 gate on the
    same bar; this operator is the missing curative half.

    Semantics: a token-``n``-gram occurrence is REMOVABLE when its hash
    occurs in more than one document (corpus document frequency > 1) and
    this document is not the canonical occurrence (canonical = the
    minimum doc id containing the hash — exactly one copy of every
    duplicated passage survives corpus-wide).  A token is dropped when
    ANY removable n-gram covers it; maximal runs of dropped tokens are
    the removed spans (every run is ≥ n tokens by construction).
    Within-doc repeats (df = 1) are untouched — this is the
    cross-document memorization signal, like txt16.

    Returns (id, n_tokens, n_dropped_tokens, n_dropped_spans,
    dropped_share, text_deduped) — text rebuilt from the kept tokens,
    single-space joined ('' when the whole doc was one duplicated span).

    Scale shape: one token explode, one per-doc window chain (the n-gram
    combine, the coverage max, the run-start lag — all share one sort),
    one document-frequency aggregate shuffled on the shingle hash (the
    dedup family's key; map-combinable), one equi-join back, one per-doc
    aggregate.  NO pair enumeration anywhere — cost is corpus-linear in
    token occurrences, never Σ collisions² (the dd2 trap).  A viral
    shingle costs a count, not a join fan-out.  ``materialize=True``
    snapshots the positioned-shingle frame with a lazy localCheckpoint so
    the df-aggregate branch and the token branch share one computation
    (the jaccard_near_dup_pairs rule); default off keeps the plan pure.

    Mirrored by plans/text_parity.sql_span_dedup (the txt17 DuckDB
    oracle recomputes the kept-token accounting AND the rebuilt text).
    """
    starts = _positioned_starts(df, id_col, text, n)
    if materialize:
        starts = starts.localCheckpoint(eager=False)
    dfreq = _shingle_dfreq(
        starts.filter(F.col("sh").isNotNull()).select(id_col, "sh").distinct(),
        id_col,
    )
    return _span_cleanup(starts, dfreq, id_col, n)


def _positioned_starts(
    df: DataFrame, id_col: str, text: str, n: int
) -> DataFrame:
    """(id, pos, tok, sh) — every token with the hash of the n-gram
    STARTING at it (NULL for the last n−1 positions: lead past the doc
    end starts no n-gram, exactly the shingle_hashes boundary rule)."""
    toks = tokens_col(text)
    token_hash = F.expr(
        "aggregate(transform(sequence(1, length(tok)), "
        "i -> ascii(substr(tok, CAST(i AS INT), 1))), "
        f"CAST(7 AS BIGINT), (acc, x) -> (acc * 131 + x) % {P_MOD})"
    )
    tok_rows = df.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "tok")
    ).select(F.col(id_col), "pos", "tok", token_hash.alias("h"))
    w = Window.partitionBy(id_col).orderBy(F.col("pos").asc())
    sh = F.lit(7).cast("bigint")
    for j in range(n):
        term = F.col("h") if j == 0 else F.lead("h", j).over(w)
        sh = (sh * 131 + term) % F.lit(P_MOD)
    return tok_rows.withColumn("sh", sh)


def _shingle_dfreq(pairs: DataFrame, id_col: str) -> DataFrame:
    """(sh, __ndocs, __min_doc) from DISTINCT (id, sh) rows — the
    document-frequency + canonical-owner aggregate both span-dedup paths
    cut on (map-combinable, shuffled on the shingle hash)."""
    return pairs.groupBy("sh").agg(
        F.count("*").alias("__ndocs"),
        F.min(id_col).alias("__min_doc"),
    )


def _span_cleanup(
    starts: DataFrame, dfreq: DataFrame, id_col: str, n: int
) -> DataFrame:
    """The shared span-removal tail: flag removable starts against the
    document-frequency frame, cover tokens (per-doc window max over n−1
    preceding starts), count maximal dropped runs, rebuild the text from
    kept tokens.  One per-doc window sort serves all three window
    functions."""
    from ..functions.scalars import r6

    w = Window.partitionBy(id_col).orderBy(F.col("pos").asc())
    flagged = starts.join(dfreq, "sh", "left").withColumn(
        "__rm",
        F.when(
            F.col("sh").isNotNull()
            & (F.col("__ndocs") > 1)
            & (F.col(id_col) != F.col("__min_doc")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    cov_w = w.rowsBetween(-(n - 1), 0)
    runs = flagged.withColumn("__cov", F.max("__rm").over(cov_w)).withColumn(
        "__span_start",
        F.when(
            (F.col("__cov") == 1)
            & (F.coalesce(F.lag("__cov").over(w), F.lit(0)) == 0),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    kept = F.when(
        F.col("__cov") == 0, F.struct(F.col("pos").alias("p"), F.col("tok").alias("t"))
    )
    return runs.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.sum("__cov").alias("n_dropped_tokens"),
        F.sum("__span_start").alias("n_dropped_spans"),
        r6(
            F.sum("__cov").cast("double") / F.count("*").cast("double")
        ).alias("dropped_share"),
        F.concat_ws(
            " ",
            F.transform(F.array_sort(F.collect_list(kept)), lambda s: s["t"]),
        ).alias("text_deduped"),
    )


def span_dedup_from_table(
    spark,
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 13,  # DECONTAMINATION_NGRAM (defined below span_dedup)
) -> DataFrame:
    """Span dedup driven from the PERSISTED (id, sh) shingle table — the
    production form at 100 TB: document frequencies come from the table
    the ingest stream maintains (``update_test_shingle_table`` — the
    same insert-only anti-join+append contract, here over the CORPUS),
    so cleaning a batch never re-shingles the standing corpus.  Per
    call: one positioned-shingle pass over the docs BEING CLEANED
    (linear in the batch), one df-aggregate over the table (shuffled on
    the shingle hash — the family key, zone-map-prunable after
    compaction), one join-back + the shared window tail.

    Docs being cleaned need NOT be ingested yet (ADVICE r12): the
    batch's own distinct (id, sh) rows are unioned into the
    df-aggregate input for any doc id ABSENT from the table, so a batch
    doc sharing a passage with one standing doc sees ndocs=2 (removed
    from the non-canonical side) and batch-internal duplicates among
    not-yet-ingested docs are visible to each other.  Docs already in
    the table contribute through their table rows alone — docs ingest
    atomically (all shingles in one append), so presence of the id
    implies presence of every shingle, and the union stays
    duplicate-free without a distinct over the standing table.  The
    extra cost is ONE additional id-column scan of the table with the
    batch's doc ids BROADCAST into a map-side semi-join (no table-sized
    shuffle anywhere — the batch-≪-corpus contract every incremental
    family assumes; the broadcast is bounded by the batch's distinct doc
    ids), plus two batch-sized joins; the sh-shuffle of the df-aggregate
    is unchanged.  (Doc ids are immutable once ingested — re-using an
    ingested id with different text is outside the insert-only
    contract, same as every other incremental family here.)

    Cleaning ALL ingested docs against the fully-accumulated table
    equals the one-shot ``span_dedup`` over the same corpus (the
    canonical min-id rule depends only on the accumulated (id, sh) set,
    which the table reproduces exactly, and the not-yet-ingested union
    leg is empty) — txt19's driver gate."""
    from ..maintenance import heal_if_interrupted

    heal_if_interrupted(path)
    table = _read_pq(spark, path).select(id_col, "sh")
    # the positioned-starts frame feeds BOTH the cleanup tail and the
    # batch's own (id, sh) df-contribution — snapshot it or the whole
    # explode+window chain executes twice (the span_dedup materialize
    # rule, unconditional here because the second consumer always exists)
    starts = _positioned_starts(df, id_col, text, n).localCheckpoint(
        eager=False
    )
    batch_pairs = (
        starts.filter(F.col("sh").isNotNull()).select(id_col, "sh").distinct()
    )
    batch_ids = batch_pairs.select(id_col).distinct()
    # which batch docs the table already holds: the batch ids broadcast
    # into a map-side semi-join over the table's id column — a plain
    # anti-join against the table would shuffle the WHOLE table's ids
    # per cleaning call (measured +41% on txt19)
    present = (
        table.select(id_col)
        .join(F.broadcast(batch_ids), id_col, "left_semi")
        .distinct()
    )
    new_doc_pairs = batch_pairs.join(F.broadcast(present), id_col, "left_anti")
    dfreq = _shingle_dfreq(table.unionByName(new_doc_pairs), id_col)
    return _span_cleanup(starts, dfreq, id_col, n)


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text: str = "text", n: int = 3
) -> DataFrame:
    """(id, h1..h16) MinHash signatures over the shingle set."""
    sh = shingle_hashes(df, id_col, text, n)
    aggs = [
        F.min((F.lit(a) * F.col("sh") + F.lit(b)) % F.lit(P_MOD)).alias(f"h{i + 1}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_band_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 3,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """(id, band_id, band_sig) — the LSH banded form of the signatures
    (default 4 bands × 4 rows), the join-ready layout candidate generation
    and the persisted signature table both consume.  ``band_size`` tunes
    the S-curve threshold t ≈ (1/b)^(1/r): the dedup default (r=4, b=4)
    targets t ≈ 0.71 Jaccard; the decontamination gate uses r=2, b=8
    (t ≈ 0.35) because a missed leak costs more than a false flag.
    ``band_size`` must divide ``N_HASHES`` — a remainder would silently
    drop the trailing hash columns from every banding (e.g. band_size=3
    would band h1..h15 and never h16), weakening recall with no error."""
    if N_HASHES % band_size != 0:
        raise ValueError(
            f"band_size={band_size} does not divide N_HASHES={N_HASHES}; "
            "a remainder would silently drop trailing hashes from banding"
        )
    sigs = minhash_signatures(df, id_col, text, n)
    # one struct array exploded per row — a unionAll of per-band selects
    # would re-inline the signature aggregation once per branch per side
    band_structs = []
    for band in range(N_HASHES // band_size):
        cols = [f"h{band * band_size + j}" for j in range(1, band_size + 1)]
        band_structs.append(
            F.struct(
                F.lit(band).alias("band_id"),
                F.concat_ws(":", *[F.col(c).cast("string") for c in cols]).alias(
                    "band_sig"
                ),
            )
        )
    return (
        sigs.select(F.col(id_col), F.explode(F.array(*band_structs)).alias("_b"))
        .select(F.col(id_col), F.col("_b.band_id"), F.col("_b.band_sig"))
    )


def _band_self_join(bands: DataFrame, id_col: str) -> DataFrame:
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )


def minhash_candidate_pairs(
    df: DataFrame, id_col: str = "doc_id", text: str = "text", n: int = 3
) -> DataFrame:
    """(doc_a, doc_b, n_shared_bands) — LSH banding over the signatures:
    4 bands × 4 rows; any shared band makes a candidate pair."""
    return _band_self_join(minhash_band_rows(df, id_col, text, n), id_col)


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 25,
    max_driver_edges: int = 1_000_000,
) -> DataFrame:
    """(doc_id, cluster_id) — connected components over candidate pairs.

    Near-dup *pairs* (DD2/DD4/emb LSH) are not the end product of corpus
    dedup: transitively-linked docs must land in ONE cluster so a single
    canonical survivor can be picked.  Cluster label = min id in the
    component.

    Adaptive execution, keyed on the DEDUPED edge count (one action over
    the checkpointed edges):

    * ``≤ max_driver_edges`` — union-find on the driver (path compression
      + union by size): one collect of edge tuples, exact, O(E α(E)).
      Candidate-pair sets are SMALL relative to the corpus (LSH emits
      pairs only for colliding docs — at 1M edges the corpus is typically
      1000× that), so this is the common case, and 1M tuples ≈ tens of MB
      — the same bounded-collect contract as the IVF codebook
      (operators/similarity.py).  Iterating Spark jobs over data this
      size would pay ~10 scheduler round-trips for nothing.
    * larger — distributed large-star/small-star alternation (Kiveris et
      al., "Connected Components in MapReduce and Beyond"): edges are
      kept canonical (larger id → smaller id); each half-round is one
      groupBy-min on the node key + one join back to re-point edges at
      the neighborhood minimum, with lineage truncated per round by a
      lazy ``localCheckpoint``.  The edge set converges to a star forest
      (every node → its component min) in O(log d) rounds even on
      adversarial chain graphs — the property min-label propagation (the
      previous scheme, O(diameter) rounds) lacked.  Convergence is
      detected TYPE-AGNOSTICALLY — count + sum of ``xxhash64(u, v)`` over
      the edge set, one scalar aggregate per round that also materializes
      the checkpoint — so string doc ids work on both paths.  Raises if
      not converged within ``max_iter`` (a guard, not a tuning knob).

    Both paths compute the same fixpoint; tests force the distributed path
    with ``max_driver_edges=0`` and pin equality.
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .union(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_edges = edges.count()  # materializes the checkpoint

    if n_edges <= max_driver_edges:
        parent: dict = {}
        size: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for row in edges.toLocalIterator():
            u, v = row[0], row[1]
            for n in (u, v):
                if n not in parent:
                    parent[n], size[n] = n, 1
            ru, rv = find(u), find(v)
            if ru != rv:
                if size[ru] < size[rv]:
                    ru, rv = rv, ru
                parent[rv] = ru
                size[ru] += size[rv]
        roots: dict = {}
        for n in parent:
            roots.setdefault(find(n), []).append(n)
        rows = [
            (n, mn)
            for members in roots.values()
            for mn in [min(members)]
            for n in members
        ]
        spark = pairs.sparkSession
        id_type = pairs.schema[id_a].dataType.simpleString()
        return spark.createDataFrame(
            rows, f"doc_id {id_type}, cluster_id {id_type}"
        )

    # canonical edge set: larger id → smaller id, no self-loops.  Nodes
    # are tracked separately so a doc whose only pair is a self-pair
    # (possible from degenerate callers; the driver path labels it with
    # itself) is not silently dropped by the canonical filter.
    nodes = edges.select(F.col("u").alias("doc_id")).distinct()
    cur = (
        edges.filter(F.col("u") > F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _fingerprint(e: DataFrame) -> tuple:
        # decimal sum: ±2^63-magnitude hashes overflow a BIGINT sum under
        # ANSI semantics after a handful of edges
        row = e.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
        ).collect()[0]
        return (row[0], row[1])

    prev_fp = _fingerprint(cur)
    for _ in range(max_iter):
        # large-star: per node a over the SYMMETRIC neighborhood,
        # m = min(N(a) ∪ {a}); re-point every larger neighbor b > a at m
        sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least("_mv", "u").alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") > F.col("v"))
            .distinct()
        )
        # small-star: per node u over its SMALLER neighbors,
        # m = min; re-point them (and u) at m
        sm = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(sm, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(sm.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        cur_fp = _fingerprint(small)  # one job: materializes + compares
        cur = small
        if cur_fp == prev_fp:
            # star forest: every non-min node appears once as u → its min;
            # roots self-label; nodes with no surviving canonical edge
            # (self-pair-only) fall back to themselves via the left join
            labels = (
                cur.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
                .union(
                    cur.select(
                        F.col("v").alias("doc_id"), F.col("v").alias("cluster_id")
                    ).distinct()
                )
                .distinct()
            )
            return nodes.join(labels, "doc_id", "left").select(
                "doc_id",
                F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            )
        prev_fp = cur_fp
    raise RuntimeError(
        f"dup_clusters: no fixpoint within {max_iter} rounds — raise "
        "max_iter (star alternation needs O(log diameter) rounds)"
    )


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text: str = "text", bits: int = 16
) -> DataFrame:
    """(id, simhash) — bitwise-majority signature over token hashes."""
    toks = tokens_col(text)
    th = F.transform(
        toks,
        lambda t: F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.length(t)),
                lambda i: F.ascii(t.substr(i.cast("int"), F.lit(1))),
            ),
            F.lit(7).cast("bigint"),
            lambda acc, x: (acc * 131 + x) % F.lit(P_MOD),
        ),
    )
    df = df.select(F.col(id_col), th.alias("thashes"))

    def bit_merge(j: int):
        def merge(acc, x):
            return acc + F.when(
                F.shiftright(x, j) % 2 == 1, F.lit(1).cast("bigint")
            ).otherwise(F.lit(-1).cast("bigint"))

        return merge

    sig = None
    for j in range(bits):
        bitsum = F.aggregate(F.col("thashes"), F.lit(0).cast("bigint"), bit_merge(j))
        term = F.when(bitsum > 0, F.lit(2**j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return df.select(F.col(id_col), sig.alias("simhash"))


# --- Incremental signature table (streaming dedup) --------------------------
# The txt9 pattern (operators/bpe.update_segmentation_table) applied to
# MinHash: a real training-data pipeline ingests continuously, and
# re-signaturing the whole corpus per batch is O(corpus) forever.  The
# persisted doc→(band_id, band_sig) table is INSERT-ONLY by construction —
# for fixed MinHash parameters a document's signature never changes — so
# the correct merge is an anti-join on the doc id + append, and
# at-least-once replay is idempotent (a replayed batch finds all its docs
# already present and appends nothing).  Reference analogue: the producer's
# in-memory seen-set dedup cache (producer/producer.py:244-251) — this is
# its durable, distributed, similarity-aware form.


def _update_doc_keyed_table(df, path: str, id_col: str, derive) -> dict[str, int]:
    """The shared insert-only maintenance step behind every persisted
    doc-keyed derivation table (MinHash bands here, 13-gram test shingles
    below, word segmentations in operators/bpe, IVF assignments in
    operators/similarity): anti-join the batch against the table on the
    doc id, run ``derive`` over the UNSEEN docs only, append its rows.
    Insert-only is correct because each derivation is a pure function of
    the doc under fixed parameters — a doc's rows never change — and it
    makes at-least-once replay idempotent: a replayed batch finds all its
    docs present and appends nothing.  Returns ``{"n_batch_docs",
    "n_new_docs"}``; the second counts docs whose derivation actually ran
    (docs deriving zero rows re-check as "new" each batch but append
    nothing, so idempotence holds for them too)."""
    from ..maintenance import heal_if_interrupted
    from ..sources.readers import read_parquet_if_exists

    spark = df.sparkSession
    ids = df.select(id_col).distinct()
    # the batch-id metric count is independent of the derive/append
    # chain, so it overlaps the chain (§2.6)
    with overlap() as o:
        n_batch = o.submit("update_doc_keyed_table/n_batch", ids.count)
        # heal BEFORE reading: a compaction killed mid-swap leaves the store
        # momentarily absent — reading through that window would rebuild the
        # table from one batch and break replay idempotence (maintenance note)
        heal_if_interrupted(path)
        table = read_parquet_if_exists(spark, path)  # None on first batch
        existing = None if table is None else table.select(id_col).distinct()
        new_docs = (
            df if existing is None else df.join(existing, id_col, "left_anti")
        )
        rows = derive(new_docs).persist()
        try:
            n_new = rows.select(id_col).distinct().count()
            if n_new:
                rows.write.mode("append").parquet(path)
        finally:
            rows.unpersist()
        return {"n_batch_docs": n_batch.result(), "n_new_docs": n_new}


def update_signature_table(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 3,
    band_size: int = BAND_SIZE,
) -> dict[str, int]:
    """Incrementally maintain the persisted banded-signature table at
    ``path``: signature ONLY the batch's docs not already in the table and
    append their band rows (the ``_update_doc_keyed_table`` contract).
    ``band_size`` must stay fixed for the life of a table (it is part of
    the row derivation, like the MinHash params).

    At 100 TB: per batch, one anti-join against the table keyed on the doc
    id (high-cardinality), and shingle+MinHash work proportional to NEW
    docs only — steady-state ingest cost is independent of corpus size.
    """
    return _update_doc_keyed_table(
        df, path, id_col,
        lambda nd: minhash_band_rows(nd, id_col, text, n, band_size),
    )


def signature_table_sink(
    path: str, id_col: str = "doc_id", text: str = "text", n: int = 3,
    band_size: int = BAND_SIZE,
):
    """``foreachBatch`` writer maintaining the signature table from a
    DOCUMENT STREAM: each micro-batch runs ``update_signature_table``, so
    per batch only unseen docs are shingled/signatured.  foreachBatch is
    at-least-once, but the anti-join update is idempotent — the table
    converges to exactly the batch-built state without transactional
    coordination (pinned by tests/test_streaming.py: stream-built ≡
    batch-built, and a full replay appends zero rows).

    Between batches ``maintenance.maybe_compact_table`` compacts the
    table once it holds more than ``maintenance.AUTO_COMPACT_FILES``
    files, so the anti-join+append file count stays bounded for the life
    of the sink."""
    from ..maintenance import maybe_compact_table

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        update_signature_table(batch_df, path, id_col, text, n, band_size)
        maybe_compact_table(batch_df.sparkSession, path, id_col)

    return write_batch


def candidate_pairs_from_table(
    spark, path: str, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_a, doc_b, n_shared_bands) from the PERSISTED table — no
    signature computation at read time; identical output to the one-shot
    ``minhash_candidate_pairs`` over the same corpus (pinned in-plan by
    the dd9 query gate).  The banded self-join shuffles on (band_id,
    band_sig), the same key the one-shot path uses."""
    from .takedown import minus_tombstones

    bands = minus_tombstones(
        _read_pq(spark, path), spark, path, id_col
    ).select(id_col, "band_id", "band_sig")
    return _band_self_join(bands, id_col)


def incremental_candidate_pairs(
    spark, path: str, new_ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Candidate pairs TOUCHING a newly-ingested doc set: new-side band
    rows joined against the FULL table (new-vs-all, both orientations
    canonicalized to doc_a < doc_b), deduped against nothing — per batch
    this emits exactly the pairs the full self-join would add, so a
    downstream pair store can be maintained incrementally: per batch,
    |new bands| ⋈ table instead of table ⋈ table.  Pinned by test:
    one-shot pairs ≡ batch-1 pairs ∪ batch-2 incremental pairs."""
    from .takedown import minus_tombstones

    bands = minus_tombstones(
        _read_pq(spark, path), spark, path, id_col
    ).select(id_col, "band_id", "band_sig")
    new_bands = bands.join(new_ids.select(id_col), id_col, "left_semi")
    a, b = new_bands.alias("a"), bands.alias("b")
    lo = F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}"))
    hi = F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}"))
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            lo.alias("doc_a"), hi.alias("doc_b"), F.col("a.band_id").alias("band_id")
        )
        .distinct()
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_bands"))
    )


# --- Incremental decontamination table (streaming test-set protection) ------
# The dd10 hard gate (exact 13-gram decontamination) made batch-shaped: a
# benchmark/test corpus grows over time (new eval sets land continuously),
# and re-shingling the whole accumulated test set per training run is
# O(test corpus) forever.  The persisted (doc_id, sh) 13-gram table is
# insert-only under the _update_doc_keyed_table contract — a doc's exact
# n-grams never change for fixed n — so the maintenance cost per batch is
# proportional to NEW test docs only, and the train-side gate is one
# equi-join against the table's distinct hashes, the same shuffle key the
# whole dedup family uses.  Reference analogue: the producer's exists-check
# before insert (producer/producer.py:368-380) — this is its distributed,
# n-gram-keyed form.

DECONTAMINATION_NGRAM = 13  # the GPT-3/C4 exact-overlap bar (dd10)


def update_test_shingle_table(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = DECONTAMINATION_NGRAM,
) -> dict[str, int]:
    """Incrementally maintain the persisted test-set n-gram table at
    ``path``: shingle ONLY the batch's docs not already in the table and
    append their (id, sh) rows.  Returns the ``_update_doc_keyed_table``
    counters; docs shorter than ``n`` tokens emit no shingles and never
    enter the table."""
    return _update_doc_keyed_table(
        df, path, id_col, lambda nd: shingle_hashes(nd, id_col, text, n)
    )


def test_shingle_table_sink(
    path: str, id_col: str = "doc_id", text: str = "text",
    n: int = DECONTAMINATION_NGRAM,
):
    """``foreachBatch`` writer maintaining the test-shingle table from a
    TEST-DOCUMENT STREAM: at-least-once redelivery is idempotent via the
    anti-join (stream-built ≡ batch-built and a full replay appends zero
    rows — tests/test_streaming.py).  Between batches
    ``maintenance.maybe_compact_table`` compacts the table (see
    ``signature_table_sink``)."""
    from ..maintenance import maybe_compact_table

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        update_test_shingle_table(batch_df, path, id_col, text, n)
        maybe_compact_table(batch_df.sparkSession, path, id_col)

    return write_batch


def contaminated_docs_from_table(
    train_df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = DECONTAMINATION_NGRAM,
) -> DataFrame:
    """(doc_id, n_grams, n_shared) for every train doc sharing ≥1 exact
    n-gram with the PERSISTED test-shingle table — the per-training-run
    gate: no test-side shingle computation at check time, one equi-join
    on the shingle hash.  Output is identical to running dd10's one-shot
    pipeline over (train_df, accumulated test docs) — pinned in-plan by
    the dd11 driver query's full-outer-join gate.

    Scale shape: the table side is DISTINCT'd to its hash set before the
    join (test corpora are small next to training corpora, and distinct
    13-gram growth is sublinear); the train side streams through one
    shingle pipeline + one shuffle on sh.  Join output is tiny — 13-gram
    collisions essentially only occur on verbatim leaks."""
    from .takedown import minus_tombstones

    spark = train_df.sparkSession
    test_sh = (
        minus_tombstones(_read_pq(spark, path), spark, path, id_col)
        .select("sh")
        .distinct()
    )
    train_sh = shingle_hashes(train_df, id_col, text, n)
    sizes = train_sh.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    shared = (
        train_sh.join(test_sh, "sh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
    )
    return shared.join(sizes, id_col).select(id_col, "n_grams", "n_shared")


# --- Near-dup decontamination (fuzzy test-set protection) --------------------
# The dd10/dd11 gate is EXACT 13-grams only — the GPT-3/C4 bar — but real
# eval leakage is fuzzy: a paraphrased or re-tokenized test document keeps
# no 13 consecutive original tokens yet is still the same document.  The
# banded-MinHash machinery the dedup family already has closes that hole:
# the accumulated TEST corpus maintains an insert-only banded-signature
# table (update_signature_table — the same _update_doc_keyed_table
# contract as dd9/dd11), and the per-training-run gate is one equi-join of
# the train side's band rows against the table on (band_id, band_sig).
# Banding is recall-tuned (DECON_BAND_SIZE=2 → 8 bands × 2 rows, S-curve
# threshold ≈ (1/8)^(1/2) ≈ 0.35 Jaccard) because a leaked eval doc that
# slips through costs far more than a false flag a verify pass can clear.
# Reference analogue: the same J7 exists-check before insert
# (producer/producer.py:368-380) the exact path mirrors.

DECON_BAND_SIZE = 2  # 8 bands × 2 rows over the 16 MinHash values
# dd12's planted-leak fixture (shared by the Spark query and the DuckDB
# oracle): every PLANT_STRIDE-th test doc re-enters the training corpus
# with every 12th token replaced — NO 13 consecutive original tokens
# survive, so the exact dd10/dd11 gate is blind to it by construction,
# while trigram Jaccard stays high enough for the banded gate.
DECON_PLANT_STRIDE = 10
DECON_PLANT_BASE = 10_000_000


def near_contaminated_docs_from_table(
    train_df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 3,
    band_size: int = DECON_BAND_SIZE,
) -> DataFrame:
    """(doc_id, n_test_matches, max_shared_bands) for every train doc whose
    MinHash bands collide with ≥1 PERSISTED test-doc signature — the fuzzy
    twin of ``contaminated_docs_from_table``: no test-side computation at
    check time, candidates from one equi-join on (band_id, band_sig), never
    train×test all-pairs.  ``band_size`` must match the table's — and
    that is VALIDATED, not trusted: the producer default
    (``update_signature_table``'s 4×4) and this gate's default (8×2)
    deliberately differ, band_sig is a plain string, and low band_ids
    overlap, so a mismatched pair would join cleanly and match (almost)
    nothing — a decontamination gate that silently under-flags.  Every
    doc emits every band, so the table's banding is recoverable from the
    data itself: max(band_id)+1 bands must equal N_HASHES/band_size (one
    column-pruned min/max-footer agg on the test-sized table per gate
    run; raises on mismatch, empty table passes trivially).

    Scale shape: the table side is the accumulated test corpus's band rows
    (small next to a training corpus); the train side streams through one
    signature pipeline + one shuffle on the band key.  Flagged output is
    collision-sized."""
    from .takedown import minus_tombstones

    spark = train_df.sparkSession
    test_bands = minus_tombstones(
        _read_pq(spark, path), spark, path, id_col
    ).select(F.col(id_col).alias("__test_id"), "band_id", "band_sig")
    top_band = test_bands.agg(F.max("band_id")).first()[0]
    if top_band is not None and top_band + 1 != N_HASHES // band_size:
        raise ValueError(
            f"signature table at {path} holds {top_band + 1} bands "
            f"(band_size={N_HASHES // (top_band + 1)}), but the gate was "
            f"called with band_size={band_size} "
            f"({N_HASHES // band_size} bands) — a mismatched banding "
            "joins cleanly and silently under-flags leaks; pass the "
            "band_size the table was built with"
        )
    train_bands = minhash_band_rows(train_df, id_col, text, n, band_size)
    return (
        train_bands.join(test_bands, ["band_id", "band_sig"])
        .groupBy(id_col, "__test_id")
        .agg(F.count("*").alias("__n_bands"))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_test_matches"),
            F.max("__n_bands").alias("max_shared_bands"),
        )
    )
