"""BPE merge training over a document corpus — the tokenizer-training
stage of a training-data pipeline (Sennrich et al., "Neural Machine
Translation of Rare Words with Subword Units").

The scale insight BPE training rides on: after pre-tokenization the
algorithm only ever touches the WORD-FREQUENCY table — distinct words,
not corpus tokens.  A 100 TB corpus has billions of token occurrences but
a word vocabulary orders of magnitude smaller, so the corpus is scanned
ONCE (one map-combinable groupBy), and every merge round runs over the
vocab table.  Two execution paths, keyed on the vocab size (the same
adaptive contract as dedup.dup_clusters and the IVF codebook):

* vocab ≤ ``max_driver_words`` — collect (word, count) and run the exact
  greedy loop in Python: O(rounds × vocab) with trivial constants.  This
  is the common case even at corpus scale (tens of millions of rows of a
  few dozen bytes).
* larger — fully distributed rounds: per round, one explode of adjacent
  symbol pairs + one weighted count + a single-row argmax collect, then
  an Arrow-batched merge projection over the symbol arrays; lineage
  truncated per round with lazy localCheckpoints.  Rounds are inherently
  sequential (each merge depends on the previous argmax) — that is BPE,
  not an implementation choice.

Determinism: ties on pair count break by (left, right) lexicographic
order, so both paths — and reruns — produce identical merge lists.
Selected pair counts are non-increasing over rounds (a merge's successor
pairs inherit at most its occurrence count; untouched pairs never grow),
which the txt7 driver query exposes as a checkable flag.

No SQL oracle exists for this operator: each round aggregates over the
result of the previous round's rewrite, which recursive CTEs cannot
express (no mid-recursion global aggregation) — the driver check is the
property form (rank sequence + monotonicity), and the merge VALUES are
pinned by tests against a straight-line pure-Python reference.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens_col
from ..concurrency import overlap
from ..sources.readers import read_parquet_cached_schema as _read_pq


def word_counts(df: DataFrame, text: str = "text") -> DataFrame:
    """(word, n) — the one corpus-wide scan; everything after is vocab-sized."""
    return (
        df.select(F.explode(tokens_col(text)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _python_bpe(words: list[tuple[str, int]], n_merges: int) -> list[tuple[str, str, int]]:
    """Exact greedy BPE over a (word, count) list — the driver path AND the
    test reference (tests run it against hand-computed merges)."""
    vocab = {tuple(w): c for w, c in words}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + c
        if not pair_counts:
            break
        # max count, ties by lexicographic pair — the deterministic order
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        merges.append((a, b, cnt))
        merged = a + b
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    return merges


def train_bpe_merges(
    df: DataFrame,
    n_merges: int = 20,
    text: str = "text",
    max_driver_words: int = 2_000_000,
) -> list[tuple[str, str, int]]:
    """[(left, right, pair_count)] — the learned merge list, best first."""
    wc = word_counts(df, text).localCheckpoint(eager=False)
    n_words = wc.count()

    if n_words <= max_driver_words:
        rows = [(r["word"], int(r["n"])) for r in wc.toLocalIterator()]
        return _python_bpe(rows, n_merges)

    # the empty-string filter guards the historical split('', ...) trailing
    # empty element so both paths see identical symbol sequences.
    # Codepoint safety: Spark 4's zero-width split yields CODE POINTS, not
    # UTF-16 units — surrogate pairs stay intact, matching the Python
    # path's list(word) (pinned by test_bpe.py's non-BMP case)
    syms = wc.select(
        F.col("n"),
        F.expr("filter(split(word, ''), s -> s <> '')").alias("syms"),
    ).localCheckpoint(eager=False)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        # single-symbol words carry no pairs; filter BEFORE the sequence —
        # Spark's sequence(1, 0) counts DOWN ([1, 0]) instead of yielding
        # an empty range, which would index past the array
        pairs = syms.filter(F.size("syms") >= 2).select(
            "n",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> struct(element_at(syms, i) AS a, "
                    "element_at(syms, i + 1) AS b))"
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merges.append((a, b, cnt))
        syms = syms.select(
            "n", _merge_udf(a, b)("syms").alias("syms")
        ).localCheckpoint(eager=False)
    return merges


def _merge_udf(a: str, b: str):
    """Per-round merge projection as a factory: the udf must close over
    THIS round's pair — an inline definition inside the training loop
    would late-bind the loop variables and, because the checkpointed
    frame materializes lazily during the NEXT round's argmax, could pickle
    a later round's pair into an earlier round's rewrite."""

    @F.pandas_udf("array<string>")
    def merge_pair(col: pd.Series) -> pd.Series:
        out = []
        for syms_ in col:
            res, i = [], 0
            while i < len(syms_):
                if i + 1 < len(syms_) and syms_[i] == a and syms_[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms_[i])
                    i += 1
            out.append(res)
        return pd.Series(out)

    return merge_pair


def merges_frame(spark, merges: list[tuple[str, str, int]]) -> DataFrame:
    """Merge list as a DataFrame with the monotone-count check column."""
    rows = [
        (i + 1, a, b, c, c <= (merges[i - 1][2] if i else c))
        for i, (a, b, c) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows,
        "merge_rank INT, left STRING, right STRING, pair_count BIGINT, "
        "count_monotone BOOLEAN",
    )


def _segment(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply learned merges to one word (lowest-rank pair first — the
    standard BPE inference order)."""
    syms = [s for s in word]
    while len(syms) > 1:
        best_i, best_r = -1, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_r is None or r < best_r):
                best_i, best_r = i, r
        if best_r is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def _segment_udf(merges: list[tuple[str, str, int]]):
    """Arrow-batched segmentation of a word column — ``_segment`` applied
    per distinct word.  The ranks dict is merge-list-sized (tiny) and
    ships once per task in the UDF closure; the UDF runs over the
    DISTINCT-WORD frame, never the corpus."""
    ranks = {(a, b): i for i, (a, b, _) in enumerate(merges)}

    @F.pandas_udf("array<string>")
    def seg(words: pd.Series) -> pd.Series:
        return words.map(lambda w: _segment(w, ranks))

    return seg


def segment_words(wc: DataFrame, merges: list[tuple[str, str, int]]) -> DataFrame:
    """(word, …) → (word, …, tokens, n_sub): fully distributed
    segmentation of a distinct-word frame.  Pure per-row projection — no
    shuffle, no ceiling; the path any >2 M-word vocab takes."""
    return wc.withColumn("tokens", _segment_udf(merges)("word")).withColumn(
        "n_sub", F.size("tokens")
    )


def _count_tokens_via_mapping(
    df: DataFrame, map_df: DataFrame, text: str, broadcast_mapping: bool
) -> DataFrame:
    """Join the word→n_sub mapping back onto the exploded corpus and roll
    up per document.  The mapping is broadcast when the caller knows it is
    bounded (driver path); otherwise a plain equi-join on the word — a
    high-cardinality key, so the shuffle is skew-safe and AQE may still
    elect broadcast at runtime."""
    id_col = df.columns[0]
    exploded = df.select(id_col, F.explode(tokens_col(text)).alias("word"))
    mapping = F.broadcast(map_df) if broadcast_mapping else map_df
    per_doc = (
        exploded.join(mapping, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").cast("bigint").alias("n_bpe_tokens"),
        )
    )
    return df.join(per_doc, id_col, "left")


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    text: str = "text",
    max_driver_words: int = 2_000_000,
) -> DataFrame:
    """Tokenize the corpus with a learned merge list: adds
    ``n_words`` and ``n_bpe_tokens`` per document.

    Scale idiom: segmentation is a pure function of the WORD, so the
    corpus is never segmented row-by-row — the DISTINCT words are
    segmented ONCE and joined back onto the exploded corpus.  A 100 TB
    corpus re-uses each word's segmentation billions of times for one
    computation of it.  Adaptive execution (same contract as
    ``train_bpe_merges`` and ``dedup.dup_clusters``):

    * vocab ≤ ``max_driver_words`` — segment driver-side and broadcast
      the bounded mapping (tens of MB at the bound).
    * larger — ``segment_words``: the same ``_segment`` inside an
      Arrow-batched pandas UDF over the distinct-word frame, joined back
      on the word key.  No ceiling; both paths are pinned equal by test
      (``max_driver_words=0`` forcing pattern).

    For repeated batches at scale, persist the mapping once and maintain
    it incrementally instead — ``update_segmentation_table`` /
    ``apply_bpe_with_table``.
    """
    spark = df.sparkSession
    wc = word_counts(df, text)
    n_words = wc.count()
    if n_words > max_driver_words:
        map_df = segment_words(wc.select("word"), merges).select("word", "n_sub")
        return _count_tokens_via_mapping(df, map_df, text, broadcast_mapping=False)
    ranks = {(a, b): i for i, (a, b, _) in enumerate(merges)}
    mapping = [
        (r["word"], len(_segment(r["word"], ranks))) for r in wc.toLocalIterator()
    ]
    map_df = spark.createDataFrame(mapping, "word STRING, n_sub INT")
    return _count_tokens_via_mapping(df, map_df, text, broadcast_mapping=True)


def update_segmentation_table(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    path: str,
    text: str = "text",
) -> dict[str, int]:
    """Incrementally maintain a persisted word→segmentation table at
    ``path``: segment ONLY the batch's words not already in the table and
    append them.  The table is insert-only by construction — for a fixed
    merge list a word's segmentation never changes, so the correct merge
    is an anti-join + append, never a rewrite (cheaper than a full
    key-merge; contrast ``maintenance.merge_upsert`` where payloads
    change).  Callers own merge-list consistency: one table per trained
    tokenizer (re-train ⇒ new path).

    Returns ``{"n_batch_words", "n_new_segmented"}`` — the second is the
    number of words actually segmented this call, so a caller can assert
    the zero-recompute property on re-ingested batches.

    At 100 TB: per batch, one corpus scan (distinct words), one anti-join
    against the table keyed on the word (high-cardinality), and
    segmentation work proportional to NEW words only — the steady-state
    cost of tokenizing a growing corpus approaches the join-back alone.
    """
    from ..maintenance import heal_if_interrupted
    from ..sources.readers import read_parquet_if_exists

    spark = df.sparkSession
    wc = word_counts(df, text).select("word")
    # the batch-word metric count is independent of the segment/append
    # chain, so it overlaps the chain (§2.6)
    with overlap() as o:
        n_batch = o.submit("update_segmentation_table/n_batch", wc.count)
        heal_if_interrupted(path)  # repair an interrupted compaction pre-read
        table = read_parquet_if_exists(spark, path)  # None on first batch
        existing = None if table is None else table.select("word")
        new_words = (
            wc if existing is None else wc.join(existing, "word", "left_anti")
        )
        seg = segment_words(new_words, merges).persist()
        try:
            n_new = seg.count()
            if n_new:
                seg.write.mode("append").parquet(path)
        finally:
            seg.unpersist()
        return {"n_batch_words": n_batch.result(), "n_new_segmented": n_new}


def segmentation_table_sink(
    merges: list[tuple[str, str, int]], path: str, text: str = "text",
):
    """``foreachBatch`` writer maintaining the segmentation table from a
    DOCUMENT STREAM: each micro-batch runs ``update_segmentation_table``,
    so per batch only unseen words are segmented and appended.  Between
    batches ``maintenance.maybe_compact_table`` compacts the word-keyed
    table (see ``dedup.signature_table_sink``).

    Delivery semantics: foreachBatch is at-least-once, but the anti-join
    update is IDEMPOTENT — a replayed batch finds all its words already
    in the table and appends nothing — so the table converges to exactly
    the batch-built state without transactional coordination (pinned by
    tests/test_streaming.py: stream-built ≡ batch-built, and a full
    replay appends zero rows)."""
    from ..maintenance import maybe_compact_table

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        update_segmentation_table(batch_df, merges, path, text)
        maybe_compact_table(batch_df.sparkSession, path, "word")

    return write_batch


def apply_bpe_with_table(df: DataFrame, path: str, text: str = "text") -> DataFrame:
    """``apply_bpe`` against a persisted mapping table (see
    ``update_segmentation_table``): no segmentation at read time at all —
    one join of the exploded corpus against the table.  Words absent from
    the table drop out of the join (inner): call
    ``update_segmentation_table`` with the batch first."""
    map_df = df.sparkSession.read.parquet(path).select("word", "n_sub")
    return _count_tokens_via_mapping(df, map_df, text, broadcast_mapping=False)


def tokenize_docs(df: DataFrame, path: str, text: str = "text") -> DataFrame:
    """Adds ``bpe_tokens array<string>`` per document — the word-order-
    preserving concatenation of each word's segmentation from the
    persisted mapping table (the training-ready output, not just counts).

    Plan shape: ``posexplode`` keeps each word's position, the mapping
    join attaches its token array, and per-doc reassembly is pure JVM —
    ``array_sort`` over (pos, tokens) structs then ``flatten`` — no
    Python in the hot path.  One shuffle on the word key + one on the doc
    id; rows are doc-sized, never corpus-sized, in the aggregate."""
    spark = df.sparkSession
    mapping = _read_pq(spark, path).select("word", "tokens")
    id_col = df.columns[0]
    words = df.select(
        F.col(id_col), F.posexplode(tokens_col(text)).alias("pos", "word")
    )
    per_doc = (
        words.join(mapping, "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tokens"))),
                    lambda s: s["tokens"],
                )
            ).alias("bpe_tokens")
        )
    )
    return df.join(per_doc, id_col, "left")


def token_vocab(spark, path: str) -> DataFrame:
    """(token, token_id) — contiguous ids over the distinct tokens of a
    persisted segmentation table, ranked by corpus-weight-free frequency
    across mapping entries then token text (deterministic under reruns).

    The ranking window is global (no partition key) but its input is
    STRUCTURALLY bounded, not just empirically small: the frame is the
    distinct SUBWORD set of a BPE tokenizer, and BPE algebra caps it at
    |alphabet| + |merges| (each merge mints exactly one new token) —
    independent of corpus size, unlike a word vocabulary.  The
    segmentation table grows with distinct WORDS, but the groupBy above
    collapses it to that bounded token set before the window ever runs.
    If this were ever generalized to an unbounded id space, switch the
    ranking to the partition-offset pattern (clustering.kmeans_fit's
    seed rank) or cut top-k before ranking (the txt6 vocab plan's shape,
    plans/text_parity.sql_vocab)."""
    from pyspark.sql import Window

    toks = (
        _read_pq(spark, path)
        .select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return toks.select(
        "token", (F.row_number().over(w) - 1).alias("token_id")
    )


def encode_docs(df: DataFrame, path: str, text: str = "text") -> DataFrame:
    """Adds ``token_ids array<int>`` per document: ``tokenize_docs``
    composed with the ``token_vocab`` id assignment — the end-to-end
    text→ids path a training loader consumes.  The vocab join explodes
    per token but re-aggregates on the same doc id partitioning."""
    spark = df.sparkSession
    vocab = token_vocab(spark, path)
    id_col = df.columns[0]
    toks = tokenize_docs(df, path, text).select(
        F.col(id_col), F.posexplode("bpe_tokens").alias("pos", "token")
    )
    per_doc = (
        toks.join(vocab, "token")  # high-cardinality key; AQE may broadcast
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token_id"))),
                lambda s: s["token_id"],
            ).alias("token_ids")
        )
    )
    return df.join(per_doc, id_col, "left")
