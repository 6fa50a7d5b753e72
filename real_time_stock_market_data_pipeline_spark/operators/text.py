"""Text-analysis operators as reusable DataFrame transformations.

Two tiers, matching plans/text_parity semantics exactly:
  * Column-expression tier (JVM, whole-stage codegen) for tokenization,
    PII redaction and host/URL keys — zero Python in the hot path.
  * Arrow-batched pandas tier (``mapInPandas``) for hashing-heavy work
    (fingerprints, token hashes) where a numpy loop beats nested SQL
    lambda folds on very long documents.

Both are embarrassingly parallel per document — no shuffle, no state — so
they scale linearly with input splits.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..concurrency import overlap
from ..sources.readers import read_parquet_cached_schema as _read_pq

P_MOD = 1_000_000_007


def tokens_col(text: Column | str = "text") -> Column:
    """Whitespace tokens with empties dropped (single-space normalized)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, " "), lambda t: t != "")


# BPE pre-tokenizer split: letter runs | digit runs | single non-alnum glyph
# (whitespace dropped).  The regex stage of a GPT-2-style tokenizer — the
# merge stage needs a learned vocab; for corpus statistics (length filters,
# cost estimates) the pre-token count is the usable signal.  No backslash
# escapes or POSIX classes IN THE PATTERN TEXT: Java (Spark) and RE2
# (DuckDB) agree on plain character classes only, and SQL string literals
# disagree about backslashes — so the whitespace chars are embedded as
# literal bytes (Python resolves the escapes below, both engines then see
# identical pattern bytes).  \\s itself would differ: Java includes \\x0B,
# RE2 does not.
BPE_SPLIT_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]"


def _poly_hash(token: str, mod: int = P_MOD) -> int:
    """Engine-neutral polynomial hash — same integers as dialect.tok_hash."""
    acc = 7
    for ch in token:
        acc = (acc * 131 + ord(ch)) % mod
    return acc


def _fingerprint(text: str, mod: int = P_MOD) -> int:
    acc = 0
    for tok in text.split(" "):
        if tok:
            acc = (acc * 31 + _poly_hash(tok, mod)) % mod
    return acc


def with_fingerprint(df: DataFrame, text: str = "text") -> DataFrame:
    """Rolling-hash document fingerprint via mapInPandas (Arrow batches;
    per-partition, shuffle-free).  Matches plans/text_parity.sql_fingerprint
    bit-for-bit (tests/test_text_dedup.py)."""
    fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
    schema = f"{fields}, fingerprint bigint"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["fingerprint"] = pdf[text].map(_fingerprint)
            yield pdf

    return df.mapInPandas(run, schema=schema)


# --- PII / boilerplate redaction -------------------------------------------
# Pattern restrictions (shared with plans/dialect regex helpers): NO
# backslash escapes, NO POSIX classes — plain character classes, literals
# and {m,n} quantifiers behave identically under Java regex (Spark) and
# RE2 (DuckDB), so the same literal is oracle-checkable in both engines.
# Replacement tokens match none of the patterns, making redaction
# IDEMPOTENT (redact∘redact = redact — pinned by tests/test_text_dedup.py).
# Rules apply IN ORDER and each stage counts matches on the PREVIOUS
# stage's output: URLs first (a URL may embed email- or phone-shaped
# substrings; those are part of the URL, not separate PII), then emails,
# then phones.
# KNOWN OVER-MATCH (accepted, not a regression): the no-backslash subset
# has no word-boundary guard, so the phone rule matches ANY 3-3-4 digit
# run INSIDE a longer digit/dash string ('1555-123-45678' redacts an
# inner substring).  Redaction errs on the scrub-too-much side by design;
# both engines agree on the boundaries, so the oracle hash is unaffected.
PII_RULES: list[tuple[str, str, str]] = [
    ("url", "https?://[A-Za-z0-9./_%?=&#-]+", "<URL>"),
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
]


def redact_pii(df: DataFrame, text: str = "text", out: str = "text_redacted") -> DataFrame:
    """Adds ``out`` (the redacted text) and one ``n_<kind>`` BIGINT count
    per rule — the standard corpus-prep scrub before training (emails,
    phones, URLs → typed placeholder tokens).

    All-JVM per-row expressions (regexp_count + chained regexp_replace)
    — scan-bound, shuffle-free, whole-stage-codegen at any scale; the
    reference has no document pipeline (extension per SURVEY §7.2 step 8).
    """
    cur = F.col(text)
    for kind, pat, repl in PII_RULES:
        df = df.withColumn(f"n_{kind}", F.regexp_count(cur, F.lit(pat)).cast("long"))
        cur = F.regexp_replace(cur, pat, repl)
    return df.withColumn(out, cur)


# --- Feature-hash embeddings (hashing trick) --------------------------------
FEATURE_HASH_DIM = 16


def feature_hash_embedding(
    df: DataFrame,
    text: str = "text",
    dim: int = FEATURE_HASH_DIM,
    id_col: str = "doc_id",
) -> DataFrame:
    """Adds ``embedding array<double>`` — the classic hashing-trick doc
    vector (Weinberger et al.): each token lands in bucket ``h % dim``
    with sign ``(h // dim) % 2 ? -1 : +1``; bucket sums are L2-normalized.
    No model, no vocabulary, fully deterministic — the cheap in-engine
    embedding that feeds the similarity family (cosine_topk / LSH / IVF
    compose unchanged) when no trained encoder exists, e.g. for first-pass
    near-dup candidate generation over raw text.

    Plan shape: one explode + ``dim`` conditional map-combinable sums per
    doc — a single shuffle on the doc id, all JVM.  Bucket sums are exact
    integers (±1 steps), so the txt13 oracle compares them hash-exactly;
    only the final normalization is float.

    ``id_col`` must be a UNIQUE per-row key — the bucket sums group on it,
    so a non-unique key would silently merge documents."""
    toks = tokens_col(text)
    token_hash = F.expr(
        "aggregate(transform(sequence(1, length(tok)), "
        "i -> ascii(substr(tok, CAST(i AS INT), 1))), "
        f"CAST(7 AS BIGINT), (acc, x) -> (acc * 131 + x) % {P_MOD})"
    )
    tok_rows = df.select(F.col(id_col), F.explode(toks).alias("tok")).select(
        F.col(id_col), token_hash.alias("h")
    )
    sgn = F.when((F.floor(F.col("h") / dim) % 2) == 0, F.lit(1)).otherwise(F.lit(-1))
    sums = tok_rows.groupBy(id_col).agg(
        *[
            F.sum(F.when(F.col("h") % dim == j, sgn).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"b{j}")
            for j in range(dim)
        ]
    )
    vec = F.array(*[F.col(f"b{j}").cast("double") for j in range(dim)])
    norm = F.sqrt(
        F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    out = sums.withColumn(
        "embedding",
        F.when(norm == 0, vec).otherwise(
            F.transform(vec, lambda x: x / norm)
        ),
    )
    return df.join(out.select(id_col, "embedding"), id_col, "left")


# URL host normalization (the C4-style per-domain curation key).  One
# capture group, ZERO backslashes — Java regex (Spark) and RE2 (DuckDB)
# disagree on string-literal escaping, so the pattern uses [.] classes
# and stays byte-identical in both dialects (plans/dialect.host_norm).
HOST_PATTERN = (
    "^(?:[a-z][a-z0-9+.-]*://)?"  # optional scheme
    "(?:[^/@?#]*@)?"              # optional userinfo
    "(?:www[.])?"                 # strip a leading www.
    "([^/:?#]+)"                  # host, up to port/path/query/fragment
)


def normalize_host(url) -> Column:
    """Lower-cased registrable host from a URL-ish string: scheme,
    userinfo, a leading ``www.``, the port, and everything from the path
    on are stripped — the normalization under which per-domain caps and
    domain-mixture accounting group (one crawl's ``HTTPS://www.X.com:443
    /a`` and ``http://x.com/b`` are the same domain).  Pure JVM regexp —
    a per-row projection at any scale; '' when nothing host-like."""
    c = F.col(url) if isinstance(url, str) else url
    return F.regexp_extract(F.lower(c), HOST_PATTERN, 1)


# Path extraction for the full-URL re-crawl key: same zero-backslash
# discipline as HOST_PATTERN (byte-identical in Java regex and RE2).
# Group 1 = the path — everything after host[:port] up to ? or #.
URL_PATH_PATTERN = (
    "^(?:[a-z][a-z0-9+.-]*://)?"  # optional scheme
    "(?:[^/@?#]*@)?"              # optional userinfo
    "[^/?#]*"                     # host[:port]
    "([^?#]*)"                    # path, up to query/fragment
)


def normalize_url_key(url) -> Column:
    """Full-URL identity for snapshot dedup (the CC re-crawl key):
    normalized host + path with the query/fragment and any trailing
    slashes stripped, all lower-cased — ``HTTPS://www.X.com:443/a/`` and
    ``http://x.com/a?utm=1`` are the SAME document re-crawled.  Lower-
    casing the path is a deliberate normalization choice (crawl dedup
    favors recall; it also keeps the expression engine-identical — both
    regexps run on one lower() projection).  Pure JVM regexp, per-row,
    no shuffle."""
    c = F.col(url) if isinstance(url, str) else url
    low = F.lower(c)
    path = F.regexp_replace(
        F.regexp_extract(low, URL_PATH_PATTERN, 1), "/+$", ""
    )
    return F.concat(F.regexp_extract(low, HOST_PATTERN, 1), path)


# --- Incremental BM25 posting tables (txt23) ----------------------------------
# txt22 computes tf/df one-shot; this pair merge-maintains the persisted
# posting state so steady-state retrieval ingest is proportional to NEW
# documents.  The state is two tables under one root:
#   {path}/tf — INSERT-ONLY (doc_id, tok, tf, dl): a doc's term counts are
#     a pure function of the doc, so the standard anti-join-and-append
#     contract (_update_doc_keyed_table) applies unchanged.
#   {path}/df — the first MERGE-MAINTAINED table in the family: document
#     frequencies GROW as batches arrive, so each batch's per-token deltas
#     rewrite the (vocab-bounded) table through the staging+swap protocol.
# Replay safety needs a NEW design bit beyond the anti-join: a replayed
# batch finds its docs already in tf, derives zero deltas, and would be a
# no-op — EXCEPT in the crash window where the df swap landed but the tf
# append did not (or the batch is redelivered after both).  The df table
# therefore carries a BATCH-ID HIGH-WATER MARK (`_hwm`, a driver-local
# file written inside the staging directory BEFORE the durability marker,
# so it commits atomically with the swap): a batch whose id is <= hwm
# skips the df merge entirely (its deltas are already durable) while the
# tf append remains anti-join-guarded — every interleaving of
# {df-swap, tf-append, crash, redeliver} converges to the one-shot state.
# Batch ids must be monotonically increasing per table (the Structured
# Streaming ``foreachBatch`` contract).

BM25_HWM_FILE = "_hwm"  # leading underscore: ignored by parquet dir scans
BM25_TD_HWM_FILE = "_td_hwm"  # takedown-epoch high-water mark (same trick)


def _read_bm25_hwm(df_path: str, name: str = BM25_HWM_FILE) -> int:
    import os

    f = os.path.join(df_path, name)
    if not os.path.exists(f):
        return -1
    return int(open(f).read().strip())


def update_bm25_postings(
    batch_df: DataFrame,
    path: str,
    batch_id: int,
    id_col: str = "doc_id",
    text: str = "text",
) -> dict[str, int | bool]:
    """Apply one document batch to the BM25 posting tables at ``path``.

    Order of operations is the crash-safety argument (module note above):
    deltas derive from the tf anti-join, the df merge commits FIRST
    (atomically with its high-water mark via the staging swap), the tf
    rows append LAST — so a crash after the swap leaves a replay that
    skips df (hwm) and completes tf (anti-join), and a crash before it
    leaves a replay that redoes both.  Returns ``{"n_batch_docs",
    "n_new_docs", "df_applied"}``.

    Scale shape: one anti-join on the doc id + tokenize/aggregate work
    proportional to NEW docs; the df rewrite is vocab-bounded (the table
    is (tok, df) — Heaps-law sublinear in the corpus), never
    corpus-sized.  On Delta/Iceberg the swap becomes a real MERGE INTO."""
    import os

    from ..maintenance import (
        _require_local_path,
        heal_if_interrupted,
        staging_dir,
        swap_in,
    )
    from ..plans.dialect import split_ws  # leaf module (tok_hash precedent)
    from ..sources.readers import read_parquet_if_exists

    spark = batch_df.sparkSession
    tf_path = os.path.join(path, "tf")
    df_path = os.path.join(path, "df")
    # the df swap (and _read_bm25_hwm / heal) renames these local
    # paths — a scheme-prefixed path would silently rename a
    # similarly-named DRIVER-LOCAL dir while Spark wrote elsewhere
    _require_local_path(df_path, "update_bm25_postings")
    _require_local_path(tf_path, "update_bm25_postings")
    heal_if_interrupted(tf_path)
    heal_if_interrupted(df_path)
    # the batch-doc metric count is independent of the tf/df chain, so
    # it overlaps the chain (§2.6)
    with overlap() as o:
        n_batch = o.submit(
            "update_bm25_postings/n_batch", batch_df.select(id_col).distinct().count
        )
        standing = read_parquet_if_exists(spark, tf_path)
        new = (
            batch_df
            if standing is None
            else batch_df.join(standing.select(id_col).distinct(), id_col, "left_anti")
        )
        counts = (
            new.select(
                F.col(id_col), F.explode(F.expr(split_ws("spark", text))).alias("tok")
            )
            .groupBy(id_col, "tok")
            .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        )
        dl = counts.groupBy(id_col).agg(F.sum("tf").cast("bigint").alias("dl"))
        # feeds the delta aggregate AND the append — snapshot once
        tf_rows = counts.join(dl, id_col).localCheckpoint(eager=False)
        n_new = tf_rows.select(id_col).distinct().count()
        hwm = _read_bm25_hwm(df_path)
        df_applied = batch_id > hwm
        if df_applied:
            deltas = tf_rows.groupBy("tok").agg(
                F.count(F.lit(1)).cast("bigint").alias("delta")
            )
            existing = read_parquet_if_exists(spark, df_path)
            if existing is None:
                merged = deltas.select("tok", F.col("delta").alias("df"))
            else:
                from ..maintenance import merge_upsert

                updates = (
                    deltas.join(existing, "tok", "left")
                    .select(
                        "tok",
                        (F.coalesce(F.col("df"), F.lit(0)) + F.col("delta"))
                        .cast("bigint")
                        .alias("df"),
                    )
                )
                merged = merge_upsert(existing, updates, ["tok"])
            staging = staging_dir(df_path)
            merged.write.mode("overwrite").parquet(staging)
            with open(os.path.join(staging, BM25_HWM_FILE), "w") as f:
                f.write(str(batch_id))
            # the takedown epoch hwm (purge_bm25_postings) must survive the
            # ingest swap, or a replayed purge would re-decrement df
            td_hwm = _read_bm25_hwm(df_path, BM25_TD_HWM_FILE)
            if td_hwm >= 0:
                with open(os.path.join(staging, BM25_TD_HWM_FILE), "w") as f:
                    f.write(str(td_hwm))
            swap_in(df_path, staging)
        if n_new:
            tf_rows.write.mode("append").parquet(tf_path)
        return {
            "n_batch_docs": n_batch.result(),
            "n_new_docs": n_new,
            "df_applied": df_applied,
        }


def takedown_bm25_postings(
    spark,
    ids: DataFrame,
    path: str,
    id_col: str = "doc_id",
) -> dict[str, int]:
    """Logically DELETE documents from the BM25 posting tables — the
    takedown arm of txt23's merge-maintained state (``operators.
    takedown`` module note).  Ids present in the tf table enter the
    root's tombstone table stamped with a monotonically increasing
    TAKEDOWN EPOCH; ``bm25_tf_minus_tombstones`` excludes them from
    serving immediately, and ``purge_bm25_postings`` later removes the
    tf rows and DECREMENTS the df table (the family's first
    delete-maintained merge) gated by the epoch against the
    ``_td_hwm`` committed inside the df swap — the exact batch-id-hwm
    construction txt23's ingest uses, pointed the other way.

    The per-token decrements are NOT persisted here: they derive at
    purge time from the tombstoned docs' tf rows, which provably remain
    physical until the purge's own tf rewrite — and that rewrite runs
    strictly after the hwm'd df swap, so no interleaving of
    {df-swap, tf-rewrite, crash, replay} can double- or under-count
    (see ``purge_bm25_postings``).  Replay appends nothing (anti-join
    on standing tombstones).  Returns ``{"n_batch_ids",
    "n_new_tombstones"}``."""
    import os

    from ..maintenance import _require_local_path
    from .takedown import append_tombstones, store_tombstone_path

    tf_path = os.path.join(path, "tf")
    df_path = os.path.join(path, "df")
    _require_local_path(df_path, "takedown_bm25_postings")

    def stamp(new: DataFrame, standing: DataFrame | None) -> DataFrame:
        # one epoch past both the committed _td_hwm and every standing one
        epoch = _read_bm25_hwm(df_path, BM25_TD_HWM_FILE)
        if standing is not None:
            prior = standing.agg(F.max("td_epoch")).first()[0]
            epoch = max(epoch, -1 if prior is None else int(prior))
        return new.withColumn("td_epoch", F.lit(epoch + 1).cast("bigint"))

    return append_tombstones(
        spark, ids, tf_path, store_tombstone_path(path), id_col,
        "takedown_bm25_postings", heal=(tf_path, df_path), stamp=stamp,
    )


def bm25_tf_minus_tombstones(spark, path: str, id_col: str = "doc_id"):
    """The tf table with tombstoned docs excluded — the read-side serving
    contract between takedown and purge (``takedown.without_tombstones``;
    zero plan change with no tombstones).  The df table
    stays at its pre-takedown counts until the purge applies the
    decrements — documented staleness that only perturbs idf weighting,
    never resurfaces a deleted doc; post-purge df is exact
    (≡ rebuilt-from-scratch, dd18's gate).  Returns None when no tf
    table exists."""
    import os

    from ..sources.readers import read_parquet_if_exists
    from .takedown import store_tombstone_path, without_tombstones

    tf = read_parquet_if_exists(spark, os.path.join(path, "tf"))
    if tf is None:
        return None
    return without_tombstones(tf, spark, store_tombstone_path(path), id_col)


def read_bm25_df(spark, path: str) -> DataFrame:
    """The df table as a DataFrame, EMPTY (not an error) when it holds no
    parquet — after a total-zero purge the ``{path}/df`` dir legally
    contains only the hwm files and the commit marker (the hwm must
    survive for replay gating), which ``spark.read.parquet`` rejects
    but this read treats as an empty table (r16 ADVICE).  Every
    serving-side df read should come through here."""
    import os

    from ..sources.readers import read_parquet_if_exists

    df = read_parquet_if_exists(spark, os.path.join(path, "df"))
    if df is None:
        return spark.createDataFrame([], "tok string, df bigint")
    return df


def purge_bm25_postings(spark, path: str, id_col: str = "doc_id") -> dict:
    """Make BM25 takedowns physically durable.  Order of operations IS
    the crash-safety argument (mirror of ``update_bm25_postings``):

    1. df merge FIRST: per-token decrements derive from the tombstoned
       docs' tf rows whose epoch exceeds the df table's ``_td_hwm`` —
       rows that are still physical, because the tf rewrite below runs
       strictly after this swap and tombstones are cleared last.  Rows
       reaching df ≤ 0 drop out.  The new ``_td_hwm`` (and the ingest
       ``_hwm``, preserved) commit atomically with the swap, so a
       replayed purge finds no pending epochs and skips the merge —
       decrements can never double-apply.
    2. tf rewrite SECOND: drop the tombstoned docs' rows
       (``takedown.purge_flat``; naturally idempotent — a replay's
       anti-join removes nothing).
    3. tombstones cleared LAST — the standing recovery signal for every
       crash window above.

    Returns ``{"n_purged_tf", "n_df_rows_decremented",
    "n_df_rows_dropped"}``: ``n_df_rows_decremented`` counts df rows
    whose count DECREASED this purge (every token the deleted docs
    carried that the table still holds), ``n_df_rows_dropped`` the
    subset that reached ≤ 0 and left the table entirely (r16 ADVICE:
    the old single counter reported only the dropped rows under a
    misleading name)."""
    import os
    import shutil

    from ..maintenance import (
        _require_local_path,
        heal_if_interrupted,
        staging_dir,
        swap_in,
    )
    from ..sources.readers import read_parquet_if_exists
    from .takedown import purge_flat, store_tombstone_path

    tf_path = os.path.join(path, "tf")
    df_path = os.path.join(path, "df")
    _require_local_path(df_path, "purge_bm25_postings")
    heal_if_interrupted(tf_path)
    heal_if_interrupted(df_path)
    t_path = store_tombstone_path(path)
    tombs = read_parquet_if_exists(spark, t_path)
    if tombs is None:
        return {"n_purged_tf": 0, "n_df_rows_decremented": 0,
                "n_df_rows_dropped": 0}
    tf = read_parquet_if_exists(spark, tf_path)
    if tf is None:
        shutil.rmtree(t_path, ignore_errors=True)
        return {"n_purged_tf": 0, "n_df_rows_decremented": 0,
                "n_df_rows_dropped": 0}
    hwm = _read_bm25_hwm(df_path, BM25_TD_HWM_FILE)
    pending = tombs.filter(F.col("td_epoch") > hwm)
    n_dec = n_drop = 0
    existing = read_parquet_if_exists(spark, df_path)
    if existing is not None and pending.first() is not None:
        deltas = (
            tf.join(pending.select(id_col).distinct(), id_col, "left_semi")
            .groupBy("tok")
            .agg(F.count(F.lit(1)).cast("bigint").alias("delta"))
        )
        merged = (
            existing.join(deltas, "tok", "left")
            .select(
                "tok",
                (F.col("df") - F.coalesce("delta", F.lit(0)))
                .cast("bigint")
                .alias("df"),
            )
            .filter(F.col("df") > 0)
            .localCheckpoint(eager=False)
        )
        n_dec = deltas.join(existing, "tok", "left_semi").count()
        n_drop = existing.count() - merged.count()
        new_hwm = int(tombs.agg(F.max("td_epoch")).first()[0])
        staging = staging_dir(df_path)
        if merged.isEmpty():
            # every token's df reached zero: no parquet data to stage —
            # hand-build the staging so the hwm files still swap in
            # atomically and readers see an absent-as-empty table
            os.makedirs(staging)
        else:
            merged.write.mode("overwrite").parquet(staging)
        ingest_hwm = _read_bm25_hwm(df_path)
        if ingest_hwm >= 0:
            with open(os.path.join(staging, BM25_HWM_FILE), "w") as f:
                f.write(str(ingest_hwm))
        with open(os.path.join(staging, BM25_TD_HWM_FILE), "w") as f:
            f.write(str(new_hwm))
        swap_in(df_path, staging)
    n_tf = purge_flat(spark, tf_path, t_path, id_col)
    shutil.rmtree(t_path, ignore_errors=True)
    return {"n_purged_tf": int(n_tf), "n_df_rows_decremented": int(n_dec),
            "n_df_rows_dropped": int(n_drop)}


def bm25_postings_sink(
    path: str,
    id_col: str = "doc_id",
    text: str = "text",
):
    """``foreachBatch`` writer maintaining the BM25 posting tables from a
    DOCUMENT STREAM — the streaming twin of txt23's batch API and the
    first sink over a MERGE-maintained table, so its crash windows
    differ from every insert-only ``*_table_sink``: the df rewrite and
    its batch-id high-water mark commit atomically inside the staging
    swap, and ``update_bm25_postings`` heals an interrupted swap at
    entry — so a query killed BETWEEN the durability mark and the
    renames restarts from the checkpoint, rolls the marked staging
    forward, skips the already-durable df merge (hwm) and completes the
    tf append (anti-join).  At-least-once redelivery therefore converges
    to the batch-built ≡ one-shot state for every interleaving
    (tests/test_streaming.py).  foreachBatch's per-checkpoint monotone
    batch ids satisfy the hwm contract; a fresh-checkpoint replay
    restarts ids at 0 ≤ hwm, correctly skipping df merges whose deltas
    are already durable.

    Between batches ``maintenance.maybe_compact_table`` compacts the
    insert-only tf table (the df table is rewritten per merge and never
    accretes files)."""
    import os

    from ..maintenance import maybe_compact_table

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        update_bm25_postings(batch_df, path, batch_id, id_col, text)
        maybe_compact_table(
            batch_df.sparkSession, os.path.join(path, "tf"), id_col
        )

    return write_batch

# --- Curriculum shard store (sp15's physical layout, merge-maintained) -------
# sp15's write_curriculum_shards is a one-shot overwrite: a growing corpus
# shifts perplexity buckets and re-ranks everything.  This family is the
# incremental form under the engine's established contracts:
#
# * The difficulty MODEL (txt12's add-one-smoothed bigram LM) freezes at
#   init — the dq4/dq5 "quantizer frozen at init" contract.  Scoring a new
#   batch under the frozen model is a pure per-doc function, so ingest
#   commutes with the one-shot shard build over the same scores (the
#   emb10/emb14 commute argument); a drift monitor decides WHEN to
#   rebuild, exactly as for the ANN codebooks.  OOV mass is what add-one
#   smoothing exists for: an unseen bigram scores ln(1/(C(w1·)+V)), an
#   unseen context ln(1/V).
# * Ingest is insert-only and replay-idempotent (anti-join on standing
#   doc ids — the _update_doc_keyed_table discipline).
# * Only buckets the batch TOUCHED re-rank: within-bucket rank (wrk) is
#   stored per doc, and a bucket's old-doc membership (hence its relative
#   order) is unchanged when the batch adds nothing to it — so untouched
#   buckets reuse stored ranks, the bucket-offset cumsum recomputes over
#   the bucket TABLE (corpus-independent size), and the new global rank /
#   shard id is pure integer arithmetic per row.
# * Only shard partitions whose CONTENT changed rewrite, through the
#   upsert_parquet staged-partition swap (staging + commit marker +
#   per-entry renames); recover_upsert / heal_if_interrupted repair every
#   crash window.
#
# Reference analogue: none — the reference never re-ranks persisted state
# (producer/producer.py only inserts); this is the sp15 launch layer's own
# maintenance completeness bar (r17 verdict item 5).

CURRICULUM_SHARDS = 8
CURRICULUM_CKSUM_MOD = 1_000_000_007


def _curriculum_bigrams(
    docs: DataFrame, id_col: str, text: str
) -> DataFrame:
    """(doc_id, w1, w2) bigram rows (txt12's posexplode + lead layout)."""
    from pyspark.sql import Window

    tok_rows = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens_col(text)).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("pos").asc())
    return (
        tok_rows.select(
            "doc_id",
            F.col("tok").alias("w1"),
            F.lead("tok", 1).over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
    )


def _train_curriculum_model_shared(
    docs: DataFrame, id_col: str = "doc_id", text: str = "text"
) -> tuple[DataFrame, DataFrame, int, DataFrame]:
    """(bc, uc, v, bigp) — txt12's corpus bigram LM as persistable tables
    (bigram counts, context counts, vocabulary size) plus its
    checkpointed bigram frame so init/rebuild can score the SAME corpus
    without re-running the tokenize+window explosion.  Without the
    checkpoints each consumer would pay that explosion (bc, uc, and v
    each re-deriving it — three full passes per train; a fourth for the
    score): the lazy localCheckpoints below compute tok_rows and bigp
    once and every consumer reads the pinned partitions.  Same expressions, same
    values."""
    from pyspark.sql import Window

    tok_rows = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens_col(text)).alias("pos", "tok"),
    ).localCheckpoint(eager=False)
    w = Window.partitionBy("doc_id").orderBy(F.col("pos").asc())
    bigp = (
        tok_rows.select(
            "doc_id",
            F.col("tok").alias("w1"),
            F.lead("tok", 1).over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .localCheckpoint(eager=False)
    )
    bc = bigp.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("cb")
    )
    uc = bigp.groupBy("w1").agg(F.count(F.lit(1)).cast("bigint").alias("cu"))
    v = tok_rows.select("tok").distinct().count()
    return bc, uc, v, bigp


def score_under_curriculum_model(
    docs: DataFrame,
    bc: DataFrame,
    uc: DataFrame,
    v: int,
    id_col: str = "doc_id",
    text: str = "text",
    bigp: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, ppl, n_tokens, bucket) under the FROZEN model — left
    joins + add-one smoothing, so OOV bigrams/contexts score exactly the
    smoothed floor; on the training corpus itself this equals txt12's
    inner-join scoring (every corpus bigram is in bc by construction).
    ppl is the shared r6-rounded perplexity; bucket its integer floor
    (sp15's coarse rank key).  ``bigp`` lets init/rebuild pass the
    checkpointed bigram frame their train pass already computed over
    the SAME docs (``_train_curriculum_model_shared``) instead of
    re-deriving it."""
    from ..functions.scalars import r6

    if bigp is None:
        bigp = _curriculum_bigrams(docs, id_col, text)
    lp = F.log(
        (F.coalesce(F.col("cb"), F.lit(0)).cast("double") + F.lit(1.0))
        / (F.coalesce(F.col("cu"), F.lit(0)).cast("double") + F.lit(float(v)))
    )
    scored = (
        bigp.join(bc, ["w1", "w2"], "left")
        .join(uc, ["w1"], "left")
        .select("doc_id", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("lp").alias("slp"),
        )
        .select(
            "doc_id",
            r6(F.exp(-(F.col("slp") / F.col("n_bigrams").cast("double"))))
            .alias("ppl"),
            (F.col("n_bigrams") + F.lit(1)).cast("bigint").alias("n_tokens"),
        )
    )
    return scored.withColumn("bucket", F.floor("ppl").cast("bigint"))


def _with_wrk(scored: DataFrame) -> DataFrame:
    """Within-bucket rank (ppl ASC, doc_id ASC) — PARTITION BY bucket,
    never single-partition."""
    from pyspark.sql import Window

    wb = Window.partitionBy("bucket").orderBy(
        F.col("ppl").asc(), F.col("doc_id").asc()
    )
    return scored.withColumn("wrk", F.row_number().over(wb).cast("bigint"))


def _with_shards(rows: DataFrame, n_shards: int) -> DataFrame:
    """sp15's two-level global rank tail over rows that already carry
    (bucket, wrk): the bucket-offset cumsum runs over the
    corpus-independent bucket table; shard assignment is pure integer
    arithmetic per row."""
    from pyspark.sql import Window

    bcounts = rows.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wo = Window.orderBy(F.col("bucket").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    boffsets = bcounts.select(
        "bucket",
        (F.sum("n").over(wo) - F.col("n")).cast("bigint").alias("offset_0"),
        F.sum("n").over(wall).cast("bigint").alias("n_total"),
    )
    return (
        rows.join(F.broadcast(boffsets), "bucket")
        .withColumn("grank", (F.col("offset_0") + F.col("wrk")).cast("bigint"))
        .withColumn(
            "shard_id",
            F.expr(f"CAST(({n_shards} * (grank - 1)) DIV n_total AS BIGINT)"),
        )
    )


_CURRICULUM_DOC_COLS = ["doc_id", "ppl", "n_tokens", "bucket", "wrk"]


def init_curriculum_store(
    spark,
    docs: DataFrame,
    path: str,
    n_shards: int = CURRICULUM_SHARDS,
    id_col: str = "doc_id",
    text: str = "text",
) -> dict[str, int]:
    """Create the merge-maintained curriculum store: train the bigram LM
    on ``docs`` (FROZEN thereafter — the module-note contract), score,
    rank, and write the doc table hive-partitioned on ``shard_id``:

      {path}/model/{bc,uc,meta}                                (frozen)
      {path}/docs/shard_id=K/   (doc_id, ppl, n_tokens, bucket, wrk)
    """
    import os as _os

    from ..maintenance import _require_local_path

    _require_local_path(_os.path.join(path, "docs"), "init_curriculum_store")
    base = docs.filter(F.col(text).isNotNull())
    bc, uc, v, bigp = _train_curriculum_model_shared(base, id_col, text)
    bc.write.mode("overwrite").parquet(f"{path}/model/bc")
    uc.write.mode("overwrite").parquet(f"{path}/model/uc")
    spark.createDataFrame([(int(v),)], "v bigint").write.mode(
        "overwrite"
    ).parquet(f"{path}/model/meta")
    bc = _read_pq(spark, f"{path}/model/bc")
    uc = _read_pq(spark, f"{path}/model/uc")
    sharded = _with_shards(
        _with_wrk(
            score_under_curriculum_model(
                base, bc, uc, v, id_col, text, bigp=bigp
            )
        ),
        n_shards,
    )
    # n_docs rides the write action (no re-read-and-count pass)
    from .similarity import _observed_count

    out, n_docs_of = _observed_count(
        sharded.select(*_CURRICULUM_DOC_COLS, "shard_id")
    )
    out.write.mode("overwrite").partitionBy("shard_id").parquet(f"{path}/docs")
    return {"n_docs": n_docs_of(), "n_shards": n_shards, "vocab": int(v)}


def load_curriculum_model(spark, path: str) -> tuple[DataFrame, DataFrame, int]:
    from ..maintenance import heal_if_interrupted

    heal_if_interrupted(path, for_read=True)  # rebuild swaps the root
    bc = _read_pq(spark, f"{path}/model/bc")
    uc = _read_pq(spark, f"{path}/model/uc")
    # the scalar meta row is fixed for the model's life (rebuild swaps
    # the directory)
    from .. import store_cache

    v = store_cache.store_value(
        spark,
        f"{path}/model/meta",
        lambda: int(_read_pq(spark, f"{path}/model/meta").first()[0]),
    )
    return bc, uc, int(v)


def read_curriculum_docs(spark, path: str) -> DataFrame:
    """Tombstone-aware doc-level read of the curriculum store — what a
    training loader scans (one ``shard_id=`` directory per phase,
    directory-pruned): heal-before-read, then the anti-join against
    standing tombstones (zero plan change while none exist)."""
    from ..maintenance import heal_if_interrupted
    from .takedown import store_tombstone_path, without_tombstones

    # root heal FIRST: rebuild_curriculum_store swaps the whole
    # model+docs tree at the root, so a mid-swap crash leaves the root
    # absent with a marked root staging pending
    heal_if_interrupted(path, for_read=True)
    heal_if_interrupted(f"{path}/docs", for_read=True)
    return without_tombstones(
        _read_pq(spark, f"{path}/docs"), spark, store_tombstone_path(path)
    )


def curriculum_manifest(spark, path: str) -> DataFrame:
    """sp15's manifest rollup read FROM the store (one row per shard:
    counts, difficulty band, order-independent content checksum) — the
    published artifact a resume or re-shard verifies against; reading
    the same doc table the loader scans, the manifest can never drift
    from the physical layout."""
    # tombstone-aware serving (takedown_curriculum_store): a deleted doc
    # drops out of counts/bands/checksum immediately; surviving docs keep
    # their standing shard/rank until purge re-ranks (documented contract
    # — the checksum is membership-only, so it is already purge-exact)
    docs = read_curriculum_docs(spark, path)
    h = F.expr(
        "aggregate(transform(sequence(1, length('s' || CAST(doc_id AS STRING))), "
        "i -> ascii(substr('s' || CAST(doc_id AS STRING), CAST(i AS INT), 1))), "
        f"CAST(7 AS BIGINT), (acc, x) -> (acc * 131 + x) % {P_MOD})"
    )
    return (
        docs.groupBy(F.col("shard_id").cast("bigint").alias("shard_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.min("ppl").alias("ppl_min"),
            F.max("ppl").alias("ppl_max"),
            F.sum(h % CURRICULUM_CKSUM_MOD).cast("bigint").alias("checksum"),
        )
        .orderBy("shard_id")
    )


def update_curriculum_shards(
    spark,
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text: str = "text",
) -> dict[str, int]:
    """Apply one document batch to the curriculum store (module note):
    score NEW docs under the frozen model, re-rank ONLY the buckets the
    batch touched (untouched buckets reuse their stored within-bucket
    ranks — membership unchanged means relative order unchanged),
    recompute the bucket-offset cumsum over the bucket table, and
    rewrite ONLY the ``shard_id=`` partitions whose content changed,
    through the staged-partition swap (commit marker + per-entry
    renames; ``heal_if_interrupted``/``recover_upsert`` repair every
    crash window — tombstone-free: a partially-moved swap is completed
    forward, never mixed).  Replay is idempotent: the standing-id
    anti-join admits nothing and no partition rewrites.

    Scale shape: scoring ∝ the batch; the re-rank window runs over
    touched-bucket rows only; the offset cumsum is bucket-table-sized;
    shard reassignment is one narrow map over the store (NO join — the
    stored partition value is the old shard); the rewrite reads and
    writes only changed partitions.  No single-partition window over
    doc-sized input at any size."""
    import os as _os

    from ..maintenance import _require_local_path, heal_if_interrupted
    from ..sources.readers import read_parquet_if_exists

    docs_path = _os.path.join(path, "docs")
    _require_local_path(docs_path, "update_curriculum_shards")
    heal_if_interrupted(path)  # rebuild swaps the root
    heal_if_interrupted(docs_path)
    n_shards = CURRICULUM_SHARDS
    batch = batch.filter(F.col(text).isNotNull())
    # metric count overlaps the score/reshard chain (§2.6)
    with overlap() as o:
        n_batch = o.submit(
            "update_curriculum_shards/n_batch", batch.select(id_col).distinct().count
        )
        standing = read_parquet_if_exists(spark, docs_path)
        if standing is None:
            raise ValueError(
                f"no curriculum store at {path!r}; run init_curriculum_store"
            )
        new_docs = batch.join(
            standing.select(F.col("doc_id").alias(id_col)).distinct(),
            id_col,
            "left_anti",
        )
        bc, uc, v = load_curriculum_model(spark, path)
        scored_new = score_under_curriculum_model(
            new_docs, bc, uc, v, id_col, text
        ).localCheckpoint()
        n_new = scored_new.count()
        if n_new == 0:
            return {
                "n_batch_ids": n_batch.result(), "n_new_docs": 0,
                "n_buckets_touched": 0, "n_shards_rewritten": 0,
            }
        touched = sorted(
            r[0] for r in scored_new.select("bucket").distinct().collect()
        )
        old = standing.select(
            *_CURRICULUM_DOC_COLS,
            F.col("shard_id").cast("bigint").alias("old_shard"),
        )
        untouched = old.filter(~F.col("bucket").isin(touched))
        reranked = _with_wrk(
            old.filter(F.col("bucket").isin(touched))
            .select("doc_id", "ppl", "n_tokens", "bucket", "old_shard")
            .unionByName(
                scored_new.select(
                    "doc_id", "ppl", "n_tokens", "bucket",
                    F.lit(None).cast("bigint").alias("old_shard"),
                )
            )
        )
        n_rewritten = _curriculum_reshard_swap(
            docs_path, untouched, reranked, touched, n_shards
        )
        return {
            "n_batch_ids": n_batch.result(),
            "n_new_docs": n_new,
            "n_buckets_touched": len(touched),
            "n_shards_rewritten": n_rewritten,
        }


def _curriculum_reshard_swap(
    docs_path: str,
    untouched: DataFrame,
    reranked: DataFrame,
    touched: list,
    n_shards: int,
    extra_changed_shards: set[int] | None = None,
) -> int:
    """Shared reshard + staged-partition-swap tail for the curriculum
    store's ingest (``update_curriculum_shards``) and purge
    (``purge_curriculum_tombstones``): given the untouched rows (stored
    wrk kept), the re-ranked touched-bucket rows, and the touched
    buckets, recompute offsets/shards, detect the changed partitions
    (plus ``extra_changed_shards`` — the purge passes the DELETED rows'
    shards, which lose rows without any row moving in), and swap only
    those through staging + commit marker + per-entry renames.  A
    rewrite shard with no surviving rows has its store directory
    displaced without replacement (zero-survivor branch).  Returns the
    number of partitions rewritten."""
    from ..maintenance import staging_dir, swap_in

    allrows = _with_shards(
        untouched.unionByName(reranked.select(*untouched.columns)), n_shards
    ).localCheckpoint(eager=False)
    # a shard's content changed iff it gains or loses any row: every new
    # doc's shard, every moved doc's old AND new shard, and every
    # touched-bucket shard (stored wrk may shift there)
    changed = allrows.filter(
        F.col("old_shard").isNull()
        | (F.col("shard_id") != F.col("old_shard"))
        | F.col("bucket").isin(touched)
    )
    # one collect for both id sets (new/current shard + vacated old
    # shard) instead of two driver round-trips over the same frame
    rewrite = sorted(
        {
            int(r[0])
            for r in changed.select("shard_id")
            .unionByName(
                changed.filter(F.col("old_shard").isNotNull()).select(
                    F.col("old_shard").alias("shard_id")
                )
            )
            .distinct()
            .collect()
        }
        | set(extra_changed_shards or ())
    )
    out = allrows.filter(F.col("shard_id").isin(rewrite)).select(
        *_CURRICULUM_DOC_COLS, "shard_id"
    )
    staging = staging_dir(docs_path)
    out.write.mode("overwrite").partitionBy("shard_id").parquet(staging)
    swap_in(docs_path, staging, [f"shard_id={shard}" for shard in rewrite])
    return len(rewrite)


def takedown_curriculum_store(
    spark,
    ids: DataFrame,
    path: str,
    id_col: str = "doc_id",
) -> dict[str, int]:
    """Logically DELETE documents from the curriculum store — the
    takedown arm the launch layer needs for symmetry with every other
    persisted family (operators.takedown module note).  Ids present in
    the doc table tombstone into the store root (semi-join,
    replay-idempotent via the standing anti-join);
    ``curriculum_manifest`` and any loader read exclude them
    immediately (``read_curriculum_docs``), and
    ``purge_curriculum_tombstones`` later removes the rows physically
    AND repairs the global rank.  Returns ``{"n_batch_ids",
    "n_new_tombstones"}``."""
    from .takedown import append_tombstones, store_tombstone_path

    docs_path = f"{path}/docs"
    return append_tombstones(
        spark, ids, docs_path, store_tombstone_path(path), id_col,
        "takedown_curriculum_store",
        heal=(path, docs_path),  # rebuild swaps the root
        key="doc_id",
    )


def purge_curriculum_tombstones(spark, path: str) -> dict[str, int]:
    """Make curriculum deletions physically durable AND rank-exact: the
    one takedown purge in the engine where removal does NOT commute
    row-wise — deleting a doc shifts every later doc's global rank — so
    the purge is the ingest machinery pointed the other way: the
    deleted docs' buckets re-rank (remaining members only), untouched
    buckets keep their stored within-bucket ranks, the offset cumsum
    recomputes over the bucket table, and every partition whose content
    changed (including shards that only LOSE rows) rewrites through the
    staged swap.  Tombstones clear LAST (the crash-recovery signal —
    an interrupted purge replays idempotently: already-removed ids
    semi-join to nothing on the next takedown, standing tombstones
    drive the next purge).  Post-purge the store equals a one-shot
    shard build over corpus-minus-deleted under the frozen model
    (pinned by test).  Returns ``{"n_purged", "n_shards_rewritten"}``."""
    import os as _os
    import shutil as _shutil

    from ..maintenance import _require_local_path, heal_if_interrupted
    from ..sources.readers import read_parquet_if_exists
    from .takedown import store_tombstone_path

    docs_path = _os.path.join(path, "docs")
    t_path = store_tombstone_path(path)
    _require_local_path(docs_path, "purge_curriculum_tombstones")
    heal_if_interrupted(path)  # rebuild swaps the root
    heal_if_interrupted(docs_path)
    tombs = read_parquet_if_exists(spark, t_path)
    if tombs is None:
        return {"n_purged": 0, "n_shards_rewritten": 0}
    docs = read_parquet_if_exists(spark, docs_path)
    if docs is None:
        _shutil.rmtree(t_path, ignore_errors=True)
        return {"n_purged": 0, "n_shards_rewritten": 0}
    t_ids = tombs.select("doc_id").distinct()
    doomed = docs.join(t_ids, "doc_id", "left_semi").select(
        "bucket", F.col("shard_id").cast("bigint").alias("shard_id")
    )
    # the purge metric, touched buckets AND doomed shards in ONE job
    # (guide §1.2, r19): the old checkpoint + count + two distinct
    # collects scanned the doomed frame four times
    per_bs = doomed.groupBy("bucket", "shard_id").agg(
        F.count(F.lit(1)).alias("__n")
    ).collect()
    n_purged = sum(r["__n"] for r in per_bs)
    if n_purged == 0:
        # stale tombstones whose rows are already gone — drop them
        _shutil.rmtree(t_path, ignore_errors=True)
        return {"n_purged": 0, "n_shards_rewritten": 0}
    touched = sorted({r["bucket"] for r in per_bs})
    doomed_shards = {int(r["shard_id"]) for r in per_bs}
    remaining = docs.join(t_ids, "doc_id", "left_anti").select(
        *_CURRICULUM_DOC_COLS,
        F.col("shard_id").cast("bigint").alias("old_shard"),
    )
    untouched = remaining.filter(~F.col("bucket").isin(touched))
    reranked = _with_wrk(
        remaining.filter(F.col("bucket").isin(touched)).select(
            "doc_id", "ppl", "n_tokens", "bucket", "old_shard"
        )
    )
    n_rewritten = _curriculum_reshard_swap(
        docs_path, untouched, reranked, touched, CURRICULUM_SHARDS,
        extra_changed_shards=doomed_shards,
    )
    _shutil.rmtree(t_path, ignore_errors=True)
    return {"n_purged": n_purged, "n_shards_rewritten": n_rewritten}


def curriculum_oov_share(
    docs: DataFrame,
    bc: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    bigp: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, oov_share) — the fraction of a doc's bigrams the frozen
    model has NEVER seen, the curriculum family's drift signal (dq10):
    the corpus this engine ships has a tiny closed vocabulary, so raw
    perplexity barely separates eras (drifted ppl ≈ V sits inside the
    self-trained band); OOV share is exactly 0 on the training era and
    exactly 1 on an unseen-domain era at ANY corpus size — the sharp,
    tuning-free gate.  One left join against the bigram table + one
    per-doc mean; r6-rounded.  ``bigp`` lets a monitor that gates the
    SAME docs against several model states (dq10's standing + rebuilt
    phases) pass a checkpointed bigram frame instead of re-running the
    tokenize+window explosion per gate — the
    ``score_under_curriculum_model`` contract (guide §1.2: the
    explosion is model-independent, so per-gate re-derivation computes
    the identical frame just to throw it away)."""
    from ..functions.scalars import r6

    if bigp is None:
        bigp = _curriculum_bigrams(docs, id_col, text)
    return (
        bigp.join(bc, ["w1", "w2"], "left")
        .select(
            "doc_id",
            F.when(F.col("cb").isNull(), F.lit(1.0)).otherwise(F.lit(0.0))
            .alias("oov"),
        )
        .groupBy("doc_id")
        .agg(r6(F.avg("oov")).alias("oov_share"))
    )


def rebuild_curriculum_store(
    spark,
    corpus: DataFrame,
    path: str,
    n_shards: int = CURRICULUM_SHARDS,
    id_col: str = "doc_id",
    text: str = "text",
) -> dict[str, int]:
    """Retrain the curriculum's frozen difficulty model on the
    ACCUMULATED corpus and swap the whole model+docs tree in atomically
    (root staging + commit marker + two renames — rebuild_ivfpq_index's
    protocol; healed by ``heal_if_interrupted`` at every read path).
    The store keeps scores, not text, so the caller passes the corpus
    the ingest batches came from; the rebuild re-scores exactly the
    doc_ids the store accumulated MINUS standing tombstones (a rebuild
    makes deletion durable — the tombstone table clears with the swap),
    failing loudly if the corpus does not cover them.  Post-rebuild the
    store equals ``init_curriculum_store`` on the accumulated corpus
    (pinned by test — same model, same scores, same layout).  Returns
    ``{"n_docs", "vocab"}``."""
    from ..maintenance import (
        _require_local_path,
        _require_no_orphans,
        heal_if_interrupted,
        staging_dir,
        swap_in,
    )
    from .takedown import store_tombstone_path, without_tombstones

    _require_local_path(path, "rebuild_curriculum_store")
    heal_if_interrupted(path)
    _require_no_orphans(path)
    heal_if_interrupted(f"{path}/docs")
    standing = without_tombstones(
        _read_pq(spark, f"{path}/docs").select("doc_id"),
        spark, store_tombstone_path(path),
    )
    # coverage-validation counts are pure reads independent of the
    # retrain: overlap them with the train (guide §2.6, the
    # rebuild_ivfpq_index discipline) and validate before any write —
    # same exception on failure, no fs mutation either way
    with overlap() as o:
        standing_count = o.submit(
            "rebuild_curriculum_store/n_standing", standing.count
        )
        acc = (
            corpus.filter(F.col(text).isNotNull())
            .join(
                standing.withColumnRenamed("doc_id", id_col), id_col, "left_semi"
            )
            .localCheckpoint(eager=False)
        )
        acc_count = o.submit(
            "rebuild_curriculum_store/n_acc", acc.select(id_col).distinct().count
        )
        bc, uc, v, bigp = _train_curriculum_model_shared(acc, id_col, text)
        n_acc, n_standing = acc_count.result(), standing_count.result()
    if n_acc != n_standing:
        raise ValueError(
            f"rebuild corpus covers {n_acc} of the store's {n_standing} "
            "docs — every accumulated doc_id must be re-scorable"
        )
    staging = staging_dir(path)
    bc.write.mode("overwrite").parquet(f"{staging}/model/bc")
    uc.write.mode("overwrite").parquet(f"{staging}/model/uc")
    spark.createDataFrame([(int(v),)], "v bigint").write.mode(
        "overwrite"
    ).parquet(f"{staging}/model/meta")
    bc = _read_pq(spark, f"{staging}/model/bc")
    uc = _read_pq(spark, f"{staging}/model/uc")
    sharded = _with_shards(
        _with_wrk(
            score_under_curriculum_model(
                acc, bc, uc, v, id_col, text, bigp=bigp
            )
        ),
        n_shards,
    )
    sharded.select(*_CURRICULUM_DOC_COLS, "shard_id").write.mode(
        "overwrite"
    ).partitionBy("shard_id").parquet(f"{staging}/docs")
    swap_in(path, staging)
    return {"n_docs": int(n_acc), "vocab": int(v)}
