"""Text-analysis & document-dedup queries over the ``documents`` table —
the training-data-pipeline extension surface (token stats, quality scoring,
language-ID, fingerprinting, exact / n-gram-Jaccard / MinHash-LSH / SimHash
dedup).  Same dual-dialect scheme as indicator_parity: one SQL body per
query, engine-specific primitives injected from plans/dialect.

The reference pipeline has no document processing; these operators extend its
engine to the corpus-preparation workload (SURVEY.md §7.2 step 8).  All
hashes are engine-neutral polynomial folds (dialect.tok_hash) — Spark
xxhash64 / DuckDB hash() would never agree across engines, and a hash that
only one engine can compute cannot be oracle-checked.

Scale notes (100 TB thinking):
  * every query is embarrassingly parallel per document except the candidate
    joins, which shuffle on (shingle | band | bucket) keys — the standard
    LSH layout: band keys are low-cardinality-safe because signatures spread
    uniformly; the explode factor is bounded (n_shingles ≈ n_tokens).
  * the nested char-fold hashes are O(doc length) JVM-side codegen — no
    Python in the hot path.  For very long documents the pandas scale path
    in operators/text.py hashes with numpy instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .dialect import (
    d,
    explode_from,
    explode_with_pos,
    fold,
    idiv,
    list_len,
    map_fold_sum,
    r6t,
    seq,
    shiftright,
    split_ws,
    tok_hash,
    transform,
)
from .fixtures import scratch_store
from .queries import QUERIES
from ..sources.readers import read_parquet_cached_schema as _read_pq

P_MOD = 1_000_000_007

# Deterministic MinHash parameters (no RNG: fixed multiplicative-mix series).
N_HASHES = 16
BAND_SIZE = 4  # → 4 bands
MINHASH_PARAMS = [
    ((i * 2654435761 + 1) % P_MOD, (i * 40503 * 65537 + 7) % P_MOD)
    for i in range(1, N_HASHES + 1)
]

EN_STOP = "('the','a','of','and','to','in','is','on','for','with')"
LANG_MARKERS = {
    "en": "('the','a','of','and')",
    "es": "('el','la','de','los')",
    "de": "('der','die','und','das')",
    "fr": "('le','les','et','une')",
}


def docs_cte(dialect: str) -> str:
    toks = split_ws(dialect, "text")
    return f"""
docs AS (
  SELECT doc_id, text, lang, source, n_chars, {toks} AS toks
  FROM documents
)
"""


def sql_token_stats(dialect: str) -> str:
    """TXT1 — token counting: n_tokens, byte/char length, mean token length."""
    n = list_len(dialect, "toks")
    lens = transform(dialect, "toks", d("length(x)"))
    mean_len = f"({fold(dialect, lens, 'acc + x')}) / {d(n)}"
    return f"""
WITH {docs_cte(dialect)}
SELECT doc_id, lang, source,
       {n} AS n_tokens,
       length(text) AS n_chars_actual,
       {r6t(mean_len)} AS mean_token_len
FROM docs
"""


def sql_quality(dialect: str) -> str:
    """TXT2 — quality scoring: stopword ratio + length score composite.

    quality = 0.5 * min(1, n_tokens/50) + 0.5 * min(1, stop_ratio/0.4)
    (an explicit, documented heuristic — the corpus-filtering analogue of the
    reference's P7/P8 validity gates).
    """
    n = d(list_len(dialect, "toks"))
    stops = map_fold_sum(
        dialect, "toks",
        f"CASE WHEN x IN {EN_STOP} THEN {d('1.0')} ELSE {d('0.0')} END",
    )
    stop_ratio = f"({stops}) / {n}"
    len_score = f"least({d('1.0')}, {n} / {d('50.0')})"
    stop_score = f"least({d('1.0')}, ({stop_ratio}) / {d('0.4')})"
    quality = f"{d('0.5')} * ({len_score}) + {d('0.5')} * ({stop_score})"
    return f"""
WITH {docs_cte(dialect)}
SELECT doc_id, lang,
       {r6t(stop_ratio)} AS stopword_ratio,
       {r6t(quality)} AS quality_score
FROM docs
"""


def sql_langid(dialect: str) -> str:
    """TXT3 — n-gram/stopword language ID with deterministic tie-break
    (priority en > es > de > fr; 'und' when no marker hits)."""
    hits = {
        code: map_fold_sum(
            dialect, "toks",
            f"CASE WHEN x IN {markers} THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END",
            init="CAST(0 AS BIGINT)",
        )
        for code, markers in LANG_MARKERS.items()
    }
    best = " , ".join(f"{code}_hits" for code in LANG_MARKERS)
    return f"""
WITH {docs_cte(dialect)},
scored AS (
  SELECT doc_id, lang,
         {hits['en']} AS en_hits,
         {hits['es']} AS es_hits,
         {hits['de']} AS de_hits,
         {hits['fr']} AS fr_hits
  FROM docs
)
SELECT doc_id, lang AS labeled_lang, en_hits, es_hits, de_hits, fr_hits,
       CASE
         WHEN greatest({best}) = 0 THEN 'und'
         WHEN en_hits = greatest({best}) THEN 'en'
         WHEN es_hits = greatest({best}) THEN 'es'
         WHEN de_hits = greatest({best}) THEN 'de'
         ELSE 'fr'
       END AS predicted_lang
FROM scored
"""


def sql_fingerprint(dialect: str) -> str:
    """TXT4 — document fingerprint: rolling polynomial hash over token
    hashes (order-sensitive, whitespace-normalized)."""
    th = transform(dialect, "toks", tok_hash(dialect, "x"))
    fp = fold(
        dialect, "thashes", f"(acc * 31 + x) % {P_MOD}",
        init="CAST(0 AS BIGINT)",
    )
    return f"""
WITH {docs_cte(dialect)},
hashed_docs AS (
  SELECT doc_id, {th} AS thashes FROM docs
)
SELECT doc_id, {fp} AS fingerprint
FROM hashed_docs
"""


def sql_bpe_tokens(dialect: str) -> str:
    """TXT5 — BPE-ish token counting next to the whitespace count: the
    pre-tokenizer regex of a GPT-2-style tokenizer (letter runs | digit
    runs | single punctuation), operators/text.BPE_SPLIT_PATTERN.  The
    ratio column is the punctuation-density signal corpus filters cut on."""
    from ..operators.text import BPE_SPLIT_PATTERN as pattern
    from .dialect import regexp_count

    ws = list_len(dialect, "toks")
    bpe = regexp_count(dialect, "text", pattern)
    ratio = f"{d(bpe)} / {d(ws)}"
    return f"""
WITH {docs_cte(dialect)}
SELECT doc_id, lang,
       {ws} AS n_ws_tokens,
       {bpe} AS n_bpe_tokens,
       {r6t(ratio)} AS bpe_per_ws_token
FROM docs
"""


def sql_exact_dedup(dialect: str) -> str:
    """DD1 — exact dedup: canonical survivor (min doc_id) per identical
    text; n_copies > 1 marks duplicate clusters.  At scale this groups on a
    64-char prefix + hash, not raw text; here text is small."""
    return """
SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents
GROUP BY text
"""


SH_WIN = "PARTITION BY doc_id ORDER BY pos ASC"


def shingles_cte(dialect: str, n: int = 3) -> str:
    """Distinct token-n-gram shingle hashes per doc (default trigram).

    Layout chosen for engine efficiency: tokens are EXPLODED to rows first,
    so the char-fold hash runs exactly once per token occurrence (array-side
    formulations re-evaluate the whole token-hash array per lambda element
    once Spark collapses the projections — O(tokens²) per doc).  The n-gram
    hash is then an O(1) polynomial combine of (h, lead(h,1)…lead(h,n-1))
    over the per-doc position window, and the per-doc DISTINCT collapses
    repeats.  Scale shape: one narrow explode, one window sort on doc_id,
    one distinct — all linear in corpus size, independent of n (the lead
    chain shares the one window sort).  Mirrors operators/dedup
    ``shingle_hashes`` exactly for every n."""
    tok_rows = explode_with_pos(dialect, "docs", "toks", "pos", "tok", "doc_id")
    combine = "CAST(7 AS BIGINT)"
    for j in range(n):
        term = "h" if j == 0 else f"lead(h, {j}) OVER ({SH_WIN})"
        combine = f"(({combine}) * 131 + {term}) % {P_MOD}"
    return f"""
{docs_cte(dialect)},
tok_rows AS ({tok_rows}),
tok_hashed AS (
  SELECT doc_id, pos, {tok_hash(dialect, "tok")} AS h FROM tok_rows
),
sh_rows AS (
  SELECT doc_id, {combine} AS sh FROM tok_hashed
),
hashed AS (
  SELECT DISTINCT doc_id, sh FROM sh_rows WHERE sh IS NOT NULL
)
"""


MAX_SHINGLE_FREQ = 128  # stop-shingle cut — keep equal to operators/dedup


def sql_ngram_jaccard(dialect: str) -> str:
    """DD2 — n-gram Jaccard near-dup pairs: candidate pairs share ≥1 shingle
    (the shuffle key), Jaccard = |∩| / |a ∪ b| ≥ 0.05, a < b.

    Stop-shingle cut: shingles with document frequency > MAX_SHINGLE_FREQ are
    dropped BEFORE the candidate join (a viral shingle makes the join
    quadratic in its frequency); doc sizes count the kept shingles so Jaccard
    stays consistent.  Mirrored exactly in operators/dedup
    (jaccard_near_dup_pairs default).

    The cut is a window count over sh, NOT a groupBy+semi-join: Spark
    inlines CTEs, so a self-referencing frequency join would execute the
    whole shingle pipeline twice (measured 6.9s → 4.4s at sf0.1); the
    window's (sh)-partitioning is also the candidate join's shuffle key."""
    return f"""
WITH {shingles_cte(dialect)},
kept AS (
  SELECT doc_id, sh FROM (
    SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM hashed
  ) t WHERE df <= {MAX_SHINGLE_FREQ}
),
sized AS (
  SELECT doc_id, sh, count(*) OVER (PARTITION BY doc_id) AS n_sh FROM kept
),
pairs AS (
  SELECT h1.doc_id AS doc_a, h2.doc_id AS doc_b,
         h1.n_sh AS n_a, h2.n_sh AS n_b, count(*) AS n_common
  FROM sized h1 JOIN sized h2 ON h1.sh = h2.sh AND h1.doc_id < h2.doc_id
  GROUP BY h1.doc_id, h2.doc_id, h1.n_sh, h2.n_sh
)
SELECT doc_a, doc_b, n_common,
       {r6t(f"{d('n_common')} / {d('(n_a + n_b - n_common)')}")} AS jaccard
FROM pairs
WHERE {d('n_common')} / {d('(n_a + n_b - n_common)')} >= {d('0.05')}
"""


def _minhash_sig_cte(dialect: str) -> str:
    """16 permutation-mins as one GROUP BY with 16 MIN aggregates — a single
    map-side-combinable shuffle on doc_id (no hash-params cross join, no
    second pivot aggregation)."""
    mh_cols = ",\n         ".join(
        f"min((CAST({a} AS BIGINT) * sh + {b}) % {P_MOD}) AS h{i + 1}"
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    )
    return f"""
{shingles_cte(dialect)},
sigs AS (
  SELECT doc_id,
         {mh_cols}
  FROM hashed GROUP BY doc_id
)
"""


def sql_minhash_signatures(dialect: str) -> str:
    """DD3 — MinHash signatures (16 permutation-hashes over shingle sets).
    The per-doc signature is the LSH index record; banding happens in DD4."""
    cols = ", ".join(f"h{i}" for i in range(1, N_HASHES + 1))
    return f"WITH {_minhash_sig_cte(dialect)} SELECT doc_id, {cols} FROM sigs"


_CAND_CTE = """cand AS (
  SELECT b1.doc_id AS doc_a, b2.doc_id AS doc_b, count(*) AS n_shared_bands
  FROM bands b1
  JOIN bands b2 ON b1.band_id = b2.band_id AND b1.band_sig = b2.band_sig
              AND b1.doc_id < b2.doc_id
  GROUP BY b1.doc_id, b2.doc_id
)"""


def _bands_sql(dialect: str, src: str = "sigs", band_size: int = BAND_SIZE) -> str:
    """Band-signature rows for the DD4/DD6 LSH bucket join (see
    sql_minhash_candidates for why the renderings differ per engine).
    ``band_size`` mirrors operators/dedup.minhash_band_rows — dd12's
    decontamination gate bands the same 16 hashes as 8×2 (and the same
    divisibility rule: a remainder would silently drop trailing
    hashes)."""
    if N_HASHES % band_size != 0:
        raise ValueError(
            f"band_size={band_size} does not divide N_HASHES={N_HASHES}; "
            "a remainder would silently drop trailing hashes from banding"
        )
    sigs_of = []
    for b in range(N_HASHES // band_size):
        cols = [f"h{b * band_size + j}" for j in range(1, band_size + 1)]
        sig = " || ':' || ".join(f"CAST({c} AS STRING)" for c in cols)
        sigs_of.append(sig)
    if dialect == "spark":
        structs = ", ".join(
            f"named_struct('band_id', {b}, 'band_sig', {sig})"
            for b, sig in enumerate(sigs_of)
        )
        return (
            f"SELECT doc_id, _b.band_id, _b.band_sig FROM {src} "
            f"LATERAL VIEW explode(array({structs})) _e AS _b"
        )
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, {sig} AS band_sig FROM {src}"
        for b, sig in enumerate(sigs_of)
    )


def sql_minhash_candidates(dialect: str) -> str:
    """DD4 — LSH banding: 4 bands × 4 rows; docs sharing any band signature
    become candidate near-dup pairs (the bucket-join is the only shuffle).

    Spark rendering explodes the 4 band signatures from ONE array per row —
    a UNION ALL of per-band selects would inline (and recompute) the whole
    signature aggregation once per branch per join side (8×).  DuckDB keeps
    the UNION ALL form (its optimizer dedupes; structs-in-lists unnest
    differently there)."""
    bands_sql = _bands_sql(dialect)
    return f"""
WITH {_minhash_sig_cte(dialect)},
bands AS ({bands_sql}),
{_CAND_CTE}
SELECT doc_a, doc_b, n_shared_bands FROM cand
"""


def sql_simhash(dialect: str) -> str:
    """DD5 — 16-bit SimHash: per bit, sum ±1 over token hashes; bit set when
    the sum is positive.  Collisions (same signature, different doc) are the
    near-dup candidates; signatures alone are the checkable artifact."""
    th = transform(dialect, "toks", tok_hash(dialect, "x"))
    bit_terms = []
    for j in range(16):
        bitsum = fold(
            dialect, "thashes",
            f"acc + (CASE WHEN ({shiftright(dialect, 'x', str(j))}) % 2 = 1 "
            f"THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)",
            init="CAST(0 AS BIGINT)",
        )
        bit_terms.append(f"(CASE WHEN ({bitsum}) > 0 THEN {2 ** j} ELSE 0 END)")
    sig = " + ".join(bit_terms)
    return f"""
WITH {docs_cte(dialect)},
hashed_docs AS (
  SELECT doc_id, {th} AS thashes FROM docs
)
SELECT doc_id, {sig} AS simhash16
FROM hashed_docs
"""


def sql_dup_clusters(dialect: str) -> str:
    """DD6 — duplicate CLUSTERS: connected components over the DD4 candidate
    pairs, one row per clustered doc with its component's min-id label, the
    component size, and the canonical-survivor flag (doc_id == cluster_id).

    SQL form = transitive closure by recursive CTE (fine for an oracle at
    test SF; ``reach`` is O(Σ component_size²) rows).  The ENGINE path is
    ``operators.dedup.dup_clusters`` — adaptive driver union-find /
    large-star-small-star alternation, a bounded number of shuffles per
    round — which is what survives 100 TB; the driver compares its values
    against this SQL.  DuckDB-only: Spark 4.1's
    recursive CTEs reject set-semantics UNION (UNION_NOT_SUPPORTED_IN_
    RECURSIVE_CTE), and UNION ALL recursion never terminates on the cyclic
    dup graph — so there is no Spark rendering; the engine path is the
    iterative operator.
    """
    bands_sql = _bands_sql(dialect)
    return f"""
WITH RECURSIVE {_minhash_sig_cte(dialect)},
bands AS ({bands_sql}),
{_CAND_CTE},
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM cand
  UNION
  SELECT doc_b AS u, doc_a AS v FROM cand
),
reach AS (
  SELECT u, u AS lbl FROM edges
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
),
cc AS (SELECT u AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY u),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY cluster_id)
SELECT cc.doc_id, cc.cluster_id, sizes.cluster_size,
       (cc.doc_id = cc.cluster_id) AS is_canonical
FROM cc JOIN sizes ON cc.cluster_id = sizes.cluster_id
"""


def sql_dedup_summary(dialect: str) -> str:
    """DD7 — end-to-end dedup ACCOUNTING: per language, how much of the
    corpus survives near-dup removal (DD4 candidates → DD6 components →
    keep the min-id canonical per cluster).  The report a pipeline owner
    reads before/after a dedup run: docs kept vs dropped and the bytes
    reclaimed.  Singleton docs (in no candidate pair) are kept by
    definition — the LEFT JOIN to the cluster map defaults them to
    canonical."""
    bands_sql = _bands_sql(dialect)
    return f"""
WITH RECURSIVE {_minhash_sig_cte(dialect)},
bands AS ({bands_sql}),
{_CAND_CTE},
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM cand
  UNION
  SELECT doc_b AS u, doc_a AS v FROM cand
),
reach AS (
  SELECT u, u AS lbl FROM edges
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
),
cc AS (SELECT u AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY u),
marked AS (
  SELECT d.doc_id, d.lang, d.n_chars,
         CASE WHEN cc.cluster_id IS NULL OR cc.cluster_id = d.doc_id
              THEN 1 ELSE 0 END AS keep
  FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(keep) AS BIGINT) AS n_kept,
       CAST(sum(1 - keep) AS BIGINT) AS n_dropped,
       CAST(sum(CASE WHEN keep = 0 THEN n_chars ELSE 0 END) AS BIGINT)
         AS chars_dropped
FROM marked GROUP BY lang
"""


def sql_contamination(dialect: str) -> str:
    """DD8 — train/test CONTAMINATION check: for every train-split document,
    how many of its 3-gram shingles also occur anywhere in the test split,
    and the containment ratio.  The decontamination gate of a training-data
    pipeline: benchmark/test material leaking into train inflates evals, so
    docs over a containment threshold get dropped before training.

    Composes two existing layers — SP1's deterministic hash split and the
    shingle pipeline — so the checked artifact is exactly what the pipeline
    would deploy.  Scale shape: the test-side shingle set is DISTINCT'd
    before the join (test splits are ~10% of the corpus, and distinct
    shingles grow sublinearly), then one equi-join on the shingle hash —
    same key the dedup family already shuffles on; output is one row per
    CONTAMINATED train doc (containment > 0).
    """
    from ..operators.sampling import N_BUCKETS, SPLIT_BOUNDS

    h = tok_hash(dialect, "CAST(doc_id AS STRING)")
    lo, hi = SPLIT_BOUNDS["test"]
    return f"""
WITH {shingles_cte(dialect)},
split AS (
  SELECT doc_id, ({h}) % {N_BUCKETS} AS bucket FROM documents
),
train_sh AS (
  SELECT h.doc_id, h.sh FROM hashed h JOIN split s ON h.doc_id = s.doc_id
  WHERE s.bucket < {SPLIT_BOUNDS["train"][1]}
),
test_sh AS (
  SELECT DISTINCT h.sh FROM hashed h JOIN split s ON h.doc_id = s.doc_id
  WHERE s.bucket >= {lo} AND s.bucket < {hi}
),
sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM train_sh GROUP BY doc_id
),
shared AS (
  SELECT t.doc_id, count(*) AS n_shared
  FROM train_sh t JOIN test_sh x ON t.sh = x.sh
  GROUP BY t.doc_id
)
SELECT s.doc_id, z.n_shingles, s.n_shared,
       {r6t("CAST(s.n_shared AS DOUBLE) / z.n_shingles")} AS containment
FROM shared s JOIN sizes z ON s.doc_id = z.doc_id
"""


def sql_exact_decontamination(dialect: str) -> str:
    """DD10 — exact 13-gram decontamination, the GPT-3/C4-style bar: a
    train-split document is flagged iff at least one of its EXACT token
    13-grams also occurs anywhere in the test split.  DD8's trigram
    containment is a soft overlap score; this is the hard gate used to
    drop leaked benchmark material before training — 13 consecutive
    identical tokens across natural text is essentially always a verbatim
    copy, so one collision flags the doc.

    Shares the shingle machinery verbatim (``shingles_cte(dialect, 13)``
    ≡ ``operators/dedup.shingle_hashes(n=13)``): the 13-gram hash is the
    same one-window lead-chain combine as the trigram — n only lengthens
    the O(1) per-row chain, not the plan.  Scale shape identical to DD8:
    test-side hashes DISTINCT'd (≈10% of corpus, sublinear distinct
    growth), one equi-join on the shingle hash, output one row per
    flagged train doc.  13-gram collisions are far rarer than trigram
    ones, so the join output is tiny — the flag, not the score, is the
    product."""
    from ..operators.sampling import N_BUCKETS, SPLIT_BOUNDS

    h = tok_hash(dialect, "CAST(doc_id AS STRING)")
    lo, hi = SPLIT_BOUNDS["test"]
    return f"""
WITH {shingles_cte(dialect, 13)},
split AS (
  SELECT doc_id, ({h}) % {N_BUCKETS} AS bucket FROM documents
),
train_sh AS (
  SELECT h.doc_id, h.sh FROM hashed h JOIN split s ON h.doc_id = s.doc_id
  WHERE s.bucket < {SPLIT_BOUNDS["train"][1]}
),
test_sh AS (
  SELECT DISTINCT h.sh FROM hashed h JOIN split s ON h.doc_id = s.doc_id
  WHERE s.bucket >= {lo} AND s.bucket < {hi}
),
sizes AS (
  SELECT doc_id, count(*) AS n_grams FROM train_sh GROUP BY doc_id
)
SELECT t.doc_id, z.n_grams,
       CAST(count(*) AS BIGINT) AS n_shared,
       true AS is_contaminated
FROM train_sh t JOIN test_sh x ON t.sh = x.sh
JOIN sizes z ON t.doc_id = z.doc_id
GROUP BY t.doc_id, z.n_grams
"""


def sql_compacted_table(dialect: str) -> str:
    """DD13 — the compaction query's oracle: compaction must change ONLY
    the file layout, so the three invariant gates pin TRUE and ``n_rows``
    re-derives the table's exact content size — the distinct (doc,
    13-gram) count over the test split, from the same split + shingle
    machinery the table was built with."""
    from ..operators.sampling import N_BUCKETS, SPLIT_BOUNDS

    h = tok_hash(dialect, "CAST(doc_id AS STRING)")
    lo, hi = SPLIT_BOUNDS["test"]
    return f"""
WITH {shingles_cte(dialect, 13)},
split AS (
  SELECT doc_id, ({h}) % {N_BUCKETS} AS bucket FROM documents
)
SELECT true AS files_reduced, true AS rows_preserved,
       true AS replay_zero_after_compaction,
       CAST(count(*) AS BIGINT) AS n_rows
FROM hashed x JOIN split s ON x.doc_id = s.doc_id
WHERE s.bucket >= {lo} AND s.bucket < {hi}
"""


def _shingle_cte_over(dialect: str, src: str, p: str, n: int = 3) -> str:
    """Distinct token-n-gram shingle hashes ({p}hashed) over an arbitrary
    (doc_id, text) CTE named ``src``, every intermediate CTE prefixed
    ``p`` so several chains can coexist in one query (dd12 bands the
    test AND train sides; sp8 13-gram-shingles both splits).  Same hash
    series as shingles_cte — mirrors operators/dedup.shingle_hashes for
    every n."""
    toks = split_ws(dialect, "text")
    tok_rows = explode_with_pos(dialect, f"{p}docs", "toks", "pos", "tok", "doc_id")
    win = "PARTITION BY doc_id ORDER BY pos ASC"
    combine = "CAST(7 AS BIGINT)"
    for j in range(n):
        term = "h" if j == 0 else f"lead(h, {j}) OVER ({win})"
        combine = f"(({combine}) * 131 + {term}) % {P_MOD}"
    return f"""{p}docs AS (SELECT doc_id, {toks} AS toks FROM {src}),
{p}tok_rows AS ({tok_rows}),
{p}tok_hashed AS (
  SELECT doc_id, pos, {tok_hash(dialect, "tok")} AS h FROM {p}tok_rows
),
{p}sh_rows AS (SELECT doc_id, {combine} AS sh FROM {p}tok_hashed),
{p}hashed AS (SELECT DISTINCT doc_id, sh FROM {p}sh_rows WHERE sh IS NOT NULL)"""


def _sigs_over(dialect: str, src: str, p: str, n: int = 3) -> str:
    """Shingle→MinHash-signature CTE chain ({p}sigs) over an arbitrary
    (doc_id, text) CTE — ``_shingle_cte_over`` plus the 16-min signature
    aggregate; mirrors operators/dedup.minhash_signatures exactly."""
    mh_cols = ",\n         ".join(
        f"min((CAST({a} AS BIGINT) * sh + {b}) % {P_MOD}) AS h{i + 1}"
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    )
    return f"""{_shingle_cte_over(dialect, src, p, n)},
{p}sigs AS (SELECT doc_id, {mh_cols} FROM {p}hashed GROUP BY doc_id)"""


def sql_neardup_decontamination(dialect: str) -> str:
    """DD12 — NEAR-DUP decontamination (the fuzzy gate dd10/dd11 cannot
    be): train docs are flagged when their recall-tuned MinHash bands
    (8 bands × 2 rows over the 16 hashes — S-curve threshold ≈ 0.35
    Jaccard) collide with any test doc's bands.  The planted leaks —
    every DECON_PLANT_STRIDE-th test doc re-entering training with every
    12th token replaced — keep no 13 consecutive original tokens, so the
    exact gate misses them by construction while the banded gate must
    surface them.  Mirrors operators/dedup.near_contaminated_docs_from_table
    + the dd12 query's planted fixture exactly."""
    from ..operators.dedup import (
        DECON_BAND_SIZE,
        DECON_PLANT_BASE,
        DECON_PLANT_STRIDE,
    )
    from ..operators.sampling import N_BUCKETS, SPLIT_BOUNDS

    h = tok_hash(dialect, "CAST(doc_id AS STRING)")
    t_lo, t_hi = SPLIT_BOUNDS["test"]
    tr_hi = SPLIT_BOUNDS["train"][1]
    toks = split_ws(dialect, "text")
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
    return f"""
WITH base AS (
  SELECT doc_id, text, ({h}) % {N_BUCKETS} AS bucket FROM documents
),
test_docs AS (
  SELECT doc_id, text FROM base WHERE bucket >= {t_lo} AND bucket < {t_hi}
),
planted AS (
  SELECT doc_id + {DECON_PLANT_BASE} AS doc_id, {perturbed} AS text
  FROM (
    SELECT doc_id, {toks} AS toks FROM test_docs
    WHERE doc_id % {DECON_PLANT_STRIDE} = 0
  ) src_p
),
train_docs AS (
  SELECT doc_id, text FROM base WHERE bucket < {tr_hi}
  UNION ALL SELECT doc_id, text FROM planted
),
{_sigs_over(dialect, "test_docs", "t_")},
{_sigs_over(dialect, "train_docs", "r_")},
t_bands AS ({_bands_sql(dialect, "t_sigs", DECON_BAND_SIZE)}),
r_bands AS ({_bands_sql(dialect, "r_sigs", DECON_BAND_SIZE)}),
hits AS (
  SELECT r.doc_id, t.doc_id AS test_id, count(*) AS n_bands
  FROM r_bands r JOIN t_bands t
    ON r.band_id = t.band_id AND r.band_sig = t.band_sig
  GROUP BY r.doc_id, t.doc_id
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_test_matches,
       CAST(max(n_bands) AS BIGINT) AS max_shared_bands,
       doc_id >= {DECON_PLANT_BASE} AS is_planted_leak,
       true AS replay_zero,
       true AS table_matches_oneshot
FROM hits GROUP BY doc_id
"""


# Deterministic PII planting for TXT11: the synthetic corpus carries no
# real PII, so the query plants engine-identical emails/phones/URLs (doc-id
# keyed) before redacting — the oracle then genuinely checks that both
# regex engines agree on every match boundary.  Dialect-neutral SQL text.
PII_PLANT = (
    "text"
    " || CASE WHEN doc_id % 3 = 0 THEN ' see https://docs.example.com/item'"
    " || CAST(doc_id AS STRING) || '?ref=x#top ok' ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' mail user.' || CAST(doc_id AS STRING)"
    " || '+tag@mail-host.example.org thanks' ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN ' call 555-867-5309 now' ELSE '' END"
)


def sql_pii_redaction(dialect: str) -> str:
    """TXT11 — PII/boilerplate redaction (operators/text.redact_pii): URLs,
    then emails, then phones replaced by typed placeholders, with per-stage
    match counts and a char-fold fingerprint of the final redacted text —
    the fingerprint pins every replacement boundary bit-for-bit, so any
    Java-vs-RE2 disagreement on where a match starts or ends breaks the
    hash.  Counts are staged (each stage counts on the previous stage's
    output): a phone-shaped substring inside a URL is part of the URL.

    Pure per-row JVM regex chains — scan-bound, shuffle-free at any scale;
    idempotence (redact∘redact = redact) is pinned by the unit test."""
    from ..operators.text import PII_RULES
    from .dialect import regexp_count, regexp_replace_all

    stages, cur = [], "t0"
    for i, (kind, pat, repl) in enumerate(PII_RULES, start=1):
        stages.append(
            f"s{i} AS (SELECT doc_id, "
            + ", ".join(f"c_{k}" for k, _, _ in PII_RULES[: i - 1])
            + (", " if i > 1 else "")
            + f"{regexp_count(dialect, cur, pat)} AS c_{kind}, "
            f"{regexp_replace_all(dialect, cur, pat, repl)} AS t{i} "
            f"FROM {'planted' if i == 1 else f's{i - 1}'})"
        )
        cur = f"t{i}"
    sel = ", ".join(
        f"CAST(c_{kind} AS BIGINT) AS n_{kind}" for kind, _, _ in PII_RULES
    )
    return f"""
WITH planted AS (
  SELECT doc_id, {PII_PLANT} AS t0 FROM documents
),
{", ".join(stages)}
SELECT doc_id, {sel},
       CAST(length({cur}) AS BIGINT) AS redacted_len,
       {tok_hash(dialect, cur)} AS redacted_fp
FROM s{len(PII_RULES)}
"""


def sql_bigram_lm(dialect: str, tok_source: str | None = None) -> str:
    """TXT12 — self-supervised bigram-LM quality score: per document, the
    mean log-probability of its token bigrams under an add-one-smoothed
    bigram model trained on the corpus ITSELF (P(w₂|w₁) = (C(w₁w₂)+1) /
    (C(w₁·)+V)) plus the corresponding perplexity.  The classic
    statistical corpus-filter signal (CCNet/KenLM style): word salad and
    boilerplate score far-from-corpus perplexity, and unlike txt2's
    surface ratios it uses corpus-wide context.  Self-training on the
    corpus is the standard bootstrap when no external LM exists — the
    operator takes any (w₁, w₂, count) table, so a curated-corpus model
    drops in unchanged.

    Scale shape: one explode + one per-doc lead window (the shingle
    layout), bigram/context counts are map-combinable aggregates, V is a
    scalar, and the two probability joins shuffle on the bigram/context
    token keys — high-cardinality, no skew beyond natural Zipf (the hot
    function words are exactly the well-estimated ones).  Mean-of-logs is
    float-order-sensitive only below the shared 6-decimal rounding.

    ``tok_source``: name of a pre-materialized (doc_id, pos, tok) view to
    read instead of deriving tok_rows inline — the registered Spark plan
    passes a localCheckpoint snapshot because Spark inlines CTEs and would
    otherwise re-execute the corpus explode+window once per consumer
    (big/bc-uc/vocab); DuckDB materializes multi-reference CTEs itself,
    so the oracle keeps the inline form.  Same trick as dd2/t6."""
    tok_rows = explode_with_pos(dialect, "docs", "toks", "pos", "tok", "doc_id")
    lp = f"ln({d('cb + 1')} / {d('cu + v')})"
    if tok_source:
        head = f"WITH tok_rows AS (SELECT doc_id, pos, tok FROM {tok_source}),"
    else:
        head = f"WITH {docs_cte(dialect)},\ntok_rows AS ({tok_rows}),"
    return f"""
{head}
big AS (
  SELECT doc_id, tok AS w1,
         lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos ASC) AS w2
  FROM tok_rows
),
bigp AS (SELECT doc_id, w1, w2 FROM big WHERE w2 IS NOT NULL),
bc AS (SELECT w1, w2, count(*) AS cb FROM bigp GROUP BY w1, w2),
uc AS (SELECT w1, count(*) AS cu FROM bigp GROUP BY w1),
vocab AS (SELECT count(DISTINCT tok) AS v FROM tok_rows)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       {r6t(f"sum({lp}) / count(*)")} AS mean_logprob,
       {r6t(f"exp(-(sum({lp}) / count(*)))")} AS perplexity
FROM bigp b
JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
JOIN uc ON b.w1 = uc.w1
CROSS JOIN vocab
GROUP BY b.doc_id
"""


def sql_feature_hash(dialect: str, dim: int = 16) -> str:
    """TXT13 — feature-hash (hashing-trick) document embeddings
    (operators/text.feature_hash_embedding): token → bucket ``h % dim``
    with sign ``(h // dim) % 2 ? -1 : +1``; the driver row exposes the raw
    INTEGER bucket sums plus the squared norm — exact ±1 arithmetic, so
    the oracle hash-compares with no float rounding anywhere; only the
    operator's final L2 normalization is float (pinned against these sums
    by unit test).  The cheap in-engine embedding that feeds the
    similarity family when no trained encoder exists.

    Scale shape: one explode + ``dim`` conditional map-combinable sums —
    a single shuffle on the doc id, all JVM."""
    tok_rows = explode_from(dialect, "docs", "toks", "tok", "doc_id")
    sgn = f"CASE WHEN (CAST(floor(h / {dim}) AS BIGINT)) % 2 = 0 THEN 1 ELSE -1 END"
    sums = ",\n       ".join(
        f"CAST(sum(CASE WHEN h % {dim} = {j} THEN {sgn} ELSE 0 END) AS BIGINT)"
        f" AS b{j}"
        for j in range(dim)
    )
    norm2 = " + ".join(f"b{j} * b{j}" for j in range(dim))
    return f"""
WITH {docs_cte(dialect)},
tok_rows AS ({tok_rows}),
hashed AS (
  SELECT doc_id, {tok_hash(dialect, "tok")} AS h FROM tok_rows
),
sums AS (
  SELECT doc_id,
       {sums}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, {", ".join(f"b{j}" for j in range(dim))},
       CAST({norm2} AS BIGINT) AS norm2
FROM sums
"""


def sql_vocab(dialect: str) -> str:
    """TXT6 — corpus vocabulary head: top-100 tokens by global count
    (token-string tie-break → total order), with rank and cumulative
    corpus share.  The standard artifact feeding tokenizer training and
    stopword policy.

    Scale shape: one map-side-combinable count per token, then the
    ORDER BY + LIMIT cut — Spark executes that as TakeOrderedAndProject
    (per-partition top-100, merged on the driver), so the billions-of-
    token vocab never funnels through one task.  Only AFTER the cut do
    the rank/cum-share windows run, over exactly 100 rows.  (A
    ``row_number() OVER (ORDER BY n)`` on the full counts table — the
    tempting one-CTE form — is a single-task global sort at corpus
    scale.)"""
    toks = split_ws(dialect, "text")
    tok_rows = explode_from(dialect, "d", "toks", "tok", "doc_id")
    return f"""
WITH d AS (SELECT doc_id, {toks} AS toks FROM documents),
tok_rows AS ({tok_rows}),
counts AS (
  SELECT tok, count(*) AS n FROM tok_rows GROUP BY tok
),
total AS (SELECT sum(n) AS t FROM counts),
top AS (
  SELECT tok, n FROM counts ORDER BY n DESC, tok ASC LIMIT 100
),
ranked AS (
  SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rank
  FROM top
)
SELECT rank, tok, n,
       {r6t("CAST(sum(n) OVER (ORDER BY rank) AS DOUBLE) / t")}
         AS cum_share
FROM ranked CROSS JOIN total
"""


def sql_hash_split(dialect: str) -> str:
    """SP1 — deterministic train/val/test assignment: bucket = polynomial
    hash of the id string mod 100; thresholds from operators/sampling.
    Hash-based (not RNG) so the assignment is stable across engines,
    reruns, and repartitionings — the anti-leakage property a training
    pipeline needs.  Pure per-row projection: no shuffle at any scale."""
    from ..operators.sampling import N_BUCKETS, SPLIT_BOUNDS

    h = tok_hash(dialect, "CAST(doc_id AS STRING)")
    arms = " ".join(
        f"WHEN bucket < {hi} THEN '{name}'"
        for name, (_, hi) in sorted(SPLIT_BOUNDS.items(), key=lambda kv: kv[1])
    )
    return f"""
WITH b AS (
  SELECT doc_id, lang, ({h}) % {N_BUCKETS} AS bucket FROM documents
)
SELECT doc_id, lang, bucket, CASE {arms} END AS split FROM b
"""


def sql_deterministic_sample(dialect: str) -> str:
    """SP2 — reproducible ~30% subsample by hash bucket, rolled up per
    stratum.  Nested by construction: bucket<10 ⊂ bucket<30 ⊂ all, so
    scaling-law corpora grow monotonically (tests pin the nesting)."""
    from ..operators.sampling import N_BUCKETS

    h = tok_hash(dialect, "CAST(doc_id AS STRING)")
    return f"""
WITH b AS (
  SELECT lang, n_chars, ({h}) % {N_BUCKETS} AS bucket FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(CASE WHEN bucket < 30 THEN 1 END) AS BIGINT) AS n_sampled,
       CAST(sum(CASE WHEN bucket < 30 THEN n_chars ELSE 0 END) AS BIGINT)
         AS sampled_chars
FROM b GROUP BY lang
"""


_BODIES = {
    "txt1_token_stats": sql_token_stats,
    "txt2_quality": sql_quality,
    "txt3_langid": sql_langid,
    "txt4_fingerprint": sql_fingerprint,
    "txt5_bpe_tokens": sql_bpe_tokens,
    "dd1_exact_dedup": sql_exact_dedup,
    "dd2_ngram_jaccard": sql_ngram_jaccard,
    "dd3_minhash_signatures": sql_minhash_signatures,
    "dd4_minhash_candidates": sql_minhash_candidates,
    "dd5_simhash": sql_simhash,
    "dd8_contamination": sql_contamination,
    "dd10_exact_decontamination": sql_exact_decontamination,
    "txt6_vocab": sql_vocab,
}

TEXT_ORACLES = {name: body("duck") for name, body in _BODIES.items()}


def _make_query(body):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
        return spark.sql(body("spark"))

    return fn


for _name, _body in _BODIES.items():
    QUERIES[_name] = _make_query(_body)

# dd12's Spark side is the TABLE-DRIVEN operator path (incremental band
# table + gate + one-shot twin), registered in plans/queries.py — only the
# DuckDB oracle comes from the SQL rendering here.  The spark rendering
# stays verified against the operator gate by
# tests/test_text_dedup.py::test_dd12_sql_rendering_matches_operator.
TEXT_ORACLES["dd12_neardup_decontamination"] = sql_neardup_decontamination("duck")

# dd13's Spark side is the maintenance operator path (fragmented build →
# compact → replay), registered in plans/queries.py; the oracle re-derives
# the table's content size and pins the invariant gates.
TEXT_ORACLES["dd13_compacted_table"] = sql_compacted_table("duck")


def _dd2_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD2, Spark side, via the DataFrame operator with ``materialize=True``.

    The SQL rendering (sql_ngram_jaccard) re-executes the shingle pipeline
    once per self-join side — Spark inlines CTEs, and no SQL-level hint can
    snapshot a subplan.  The operator's lazy ``localCheckpoint`` computes the
    shingle frame once and feeds both sides, halving the dominant cost.  The
    oracle compares VALUES, not plans, so DuckDB still runs the pure SQL body;
    the final column goes through the SAME ``r6t`` rounding text both
    dialects use (plans/dialect.py), so the doubles stay bit-identical.
    The displaced SQL rendering is kept verified against this plan by
    tests/test_text_dedup.py::test_dd2_sql_rendering_matches_materialized.
    """
    from ..operators.dedup import jaccard_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_near_dup_pairs(docs, materialize=True)
    return pairs.select(
        "doc_a", "doc_b", "n_common", F.expr(r6t("jaccard")).alias("jaccard")
    )


def _dd2_sql_rendering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure Spark-SQL dialect rendering of DD2 (the plan the oracle text
    mirrors 1:1) — not registered as the driver query (the materialized plan
    above is faster), but kept runnable and pinned equal by test."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(sql_ngram_jaccard("spark"))


QUERIES["dd2_ngram_jaccard"] = _dd2_materialized


def _txt11_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TXT11, Spark side, via the DataFrame operator (operators/text
    redact_pii) over the planted corpus — the driver row exercises the
    operator itself; the pure SQL rendering (sql_pii_redaction('spark'))
    is pinned equal by tests/test_text_dedup.py."""
    from ..operators.text import PII_RULES, redact_pii

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.selectExpr("doc_id", f"{PII_PLANT} AS text")
    red = redact_pii(planted)
    return red.select(
        "doc_id",
        *[F.col(f"n_{kind}") for kind, _, _ in PII_RULES],
        F.length("text_redacted").cast("long").alias("redacted_len"),
        F.expr(tok_hash("spark", "text_redacted")).alias("redacted_fp"),
    )


QUERIES["txt11_pii_redaction"] = _txt11_redaction
TEXT_ORACLES["txt11_pii_redaction"] = sql_pii_redaction("duck")


def _txt12_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TXT12, Spark side: the PURE rendering, deliberately.  The dd2-style
    tok_rows snapshot was tried and MEASURED SLOWER (1.3 s → 3.5 s at
    sf0.1): unlike dd2's char-fold shingle hashing, the explode here is a
    cheap narrow transform, and the checkpointed intermediate is LARGER
    than the source — so 3-4 CTE re-executions of a pipelined scan beat
    one materialize + three reads.  Materialize expensive subplans, inline
    cheap ones.  (``sql_bigram_lm(tok_source=...)`` keeps the snapshot
    form available for corpora where tokenization is the expensive step;
    pinned equal by test_text_dedup.)"""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(sql_bigram_lm("spark"))


QUERIES["txt12_bigram_lm"] = _txt12_bigram_lm
TEXT_ORACLES["txt12_bigram_lm"] = sql_bigram_lm("duck")


def _txt13_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(sql_feature_hash("spark"))


QUERIES["txt13_feature_hash"] = _txt13_feature_hash
TEXT_ORACLES["txt13_feature_hash"] = sql_feature_hash("duck")


def _dd6_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD6, Spark side: DD4's SQL pair plan (identical-by-construction to
    the oracle's ``cand`` CTE) feeding the ITERATIVE connected-components
    operator — the scale path; the recursive-CTE text is the oracle."""
    from ..operators.dedup import dup_clusters

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    pairs = spark.sql(sql_minhash_candidates("spark"))
    cc = dup_clusters(pairs)
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return cc.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


QUERIES["dd6_dup_clusters"] = _dd6_clusters
TEXT_ORACLES["dd6_dup_clusters"] = sql_dup_clusters("duck")


def _sp1_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP1, Spark side, via the sampling OPERATOR (the SQL rendering is the
    oracle's text; tests pin rendering ≡ operator)."""
    from ..operators.sampling import assign_split

    docs = load_table(spark, sf_dir, "documents")
    return assign_split(docs).select("doc_id", "lang", "bucket", "split")


def _sp2_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP2, Spark side, via deterministic_sample — full/sampled rollups in
    one aggregate (the operator filter is exercised by unit tests; this
    plan keeps the oracle-comparable single-pass shape)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(sql_deterministic_sample("spark"))


def _dd7_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD7, Spark side: the iterative cluster map LEFT-JOINed back onto the
    corpus (singletons default to kept), rolled up per language."""
    from ..operators.dedup import dup_clusters

    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    pairs = spark.sql(sql_minhash_candidates("spark"))
    cc = dup_clusters(pairs)
    marked = docs.join(cc, "doc_id", "left").withColumn(
        "keep",
        F.when(
            F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id")),
            1,
        ).otherwise(0),
    )
    return marked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("keep").cast("bigint").alias("n_kept"),
        F.sum(1 - F.col("keep")).cast("bigint").alias("n_dropped"),
        F.sum(F.when(F.col("keep") == 0, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("chars_dropped"),
    )


QUERIES["dd7_dedup_summary"] = _dd7_dedup_summary
TEXT_ORACLES["dd7_dedup_summary"] = sql_dedup_summary("duck")

QUERIES["sp1_hash_split"] = _sp1_hash_split
TEXT_ORACLES["sp1_hash_split"] = sql_hash_split("duck")
QUERIES["sp2_stratified_sample"] = _sp2_sample
TEXT_ORACLES["sp2_stratified_sample"] = sql_deterministic_sample("duck")


def sql_capped_per_group(dialect: str) -> str:
    """SP3 — deterministic per-language cap (operators/sampling
    capped_per_group): at most 40 docs per lang, ranked by the id hash
    (stable pseudo-random, so the cut is unbiased and reproducible)."""
    h = tok_hash(dialect, "CAST(doc_id AS STRING)")
    return f"""
WITH ranked AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY ({h}) % 1073741824 ASC, doc_id ASC) AS rn
  FROM documents
)
SELECT doc_id, lang, n_chars FROM ranked WHERE rn <= 40
"""


def _sp3_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import capped_per_group

    docs = load_table(spark, sf_dir, "documents")
    return capped_per_group(docs, "lang", 40).select("doc_id", "lang", "n_chars")


QUERIES["sp3_capped_per_group"] = _sp3_capped
TEXT_ORACLES["sp3_capped_per_group"] = sql_capped_per_group("duck")


def sql_balanced_mixture(dialect: str) -> str:
    """SP4 — mixture balancing: downsample every language to ≈ the
    SMALLEST language's volume, deterministically.  The keep rule is pure
    INTEGER arithmetic — ``bucket * n_lang < B * n_min`` — so both engines
    (and any rerun) agree exactly: float rate comparisons would diverge in
    the last ulp right at the cut.  Rates derive from the group counts in
    one tiny aggregate; the filter is per-row.  This is how a training mix
    ("equal parts per language/source") is actually enforced at corpus
    scale — no shuffle beyond the count."""
    from ..operators.sampling import N_BUCKETS

    h = tok_hash(dialect, "CAST(doc_id AS STRING)")
    return f"""
WITH counts AS (
  SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang
),
m AS (SELECT min(n_lang) AS n_min FROM counts),
keyed AS (
  SELECT d.doc_id, d.lang, ({h}) % {N_BUCKETS} AS bucket, c.n_lang, m.n_min
  FROM documents d JOIN counts c ON d.lang = c.lang CROSS JOIN m
)
SELECT lang,
       count(*) AS n_total,
       CAST(sum(CASE WHEN bucket * n_lang < {N_BUCKETS} * n_min
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM keyed GROUP BY lang
"""


def _sp4_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(sql_balanced_mixture("spark"))


QUERIES["sp4_balanced_mixture"] = _sp4_balanced
TEXT_ORACLES["sp4_balanced_mixture"] = sql_balanced_mixture("duck")


def sql_sequence_packing(dialect: str) -> str:
    """SP5 oracle — greedy sequence packing as pure SQL: per shard, a
    window cumulative token sum in the deterministic hash order; a doc's
    bin = floor(tokens-before-it / capacity).  The SQL twin checks the
    OPERATOR (operators/sampling.pack_sequences drives the Spark side):
    any divergence in shard hash, packing order, or bin arithmetic breaks
    the per-bin hash."""
    from ..operators.sampling import PACK_CAPACITY, PACK_SHARDS

    h = tok_hash(dialect, "CAST(doc_id AS STRING)")
    nt = list_len(dialect, split_ws(dialect, "text"))
    bin_e = f"CAST(floor((cum - n_tok) / {PACK_CAPACITY}.0) AS INT)"
    return f"""
WITH base AS (
  SELECT doc_id, ({h}) % {PACK_SHARDS} AS shard,
         {nt} AS n_tok,
         ({h}) % {1 << 30} AS ord_k
  FROM documents
),
c AS (
  SELECT shard, doc_id, n_tok,
         sum(n_tok) OVER (PARTITION BY shard ORDER BY ord_k, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM base
)
SELECT CAST(shard AS INT) AS shard, {bin_e} AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM c GROUP BY CAST(shard AS INT), {bin_e}
"""


def _sp5_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP5 — sequence packing for training loaders
    (operators/sampling.pack_sequences): hash-sharded greedy fill of
    fixed-capacity token sequences, rolled up per (shard, bin)."""
    from ..operators.sampling import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    packed = pack_sequences(docs)
    return packed.groupBy(
        F.col("shard").cast("int").alias("shard"), "bin"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )


QUERIES["sp5_sequence_packing"] = _sp5_packing
TEXT_ORACLES["sp5_sequence_packing"] = sql_sequence_packing("duck")


def sql_repetition(dialect: str) -> str:
    """TXT10 — repetition-based quality filtering (the Gopher/C4-style
    pretraining gate): per doc, the share of the single most frequent
    token bigram and the type-token ratio; a doc is flagged ``repetitive``
    when top_bigram_share > 0.2 OR type_token_ratio < 0.3 (explicit,
    documented thresholds — boilerplate and template spam score high on
    the first and low on the second).

    Scale shape: one explode (linear in corpus tokens), one per-doc window
    for the bigram pairing (same layout as the shingle pipeline), two
    map-combinable per-doc aggregates.  ``||`` not concat() for the bigram
    join — DuckDB's concat() skips NULLs while Spark's propagates, ``||``
    propagates in both, so the trailing token drops out identically."""
    tok_rows = explode_with_pos(dialect, "docs", "toks", "pos", "tok", "doc_id")
    share = f"{d('p.top_bigram_n')} / {d('p.n_bigrams')}"
    ttr = f"{d('t.n_types')} / {d('t.n_toks')}"
    return f"""
WITH {docs_cte(dialect)},
tok_rows AS ({tok_rows}),
big AS (
  SELECT doc_id,
         (tok || ' ' || lead(tok, 1) OVER ({SH_WIN})) AS bg
  FROM tok_rows
),
bg_counts AS (
  SELECT doc_id, bg, count(*) AS c FROM big WHERE bg IS NOT NULL
  GROUP BY doc_id, bg
),
per_doc AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         CAST(max(c) AS BIGINT) AS top_bigram_n
  FROM bg_counts GROUP BY doc_id
),
tt AS (
  SELECT doc_id, CAST(count(DISTINCT tok) AS BIGINT) AS n_types,
         CAST(count(*) AS BIGINT) AS n_toks
  FROM tok_rows GROUP BY doc_id
)
SELECT t.doc_id, t.n_toks, t.n_types,
       coalesce(p.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
       coalesce(p.top_bigram_n, CAST(0 AS BIGINT)) AS top_bigram_n,
       {r6t(f"coalesce({share}, {d('0.0')})")} AS top_bigram_share,
       {r6t(ttr)} AS type_token_ratio,
       (coalesce({share}, {d('0.0')}) > {d('0.2')}
        OR ({ttr}) < {d('0.3')}) AS repetitive
FROM tt t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
"""


def _txt10_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(sql_repetition("spark"))


QUERIES["txt10_repetition"] = _txt10_repetition
TEXT_ORACLES["txt10_repetition"] = sql_repetition("duck")


def sql_temperature_mixture(dialect: str) -> str:
    """SP6 oracle — α = 0.5 temperature sampling per language with the
    exact integer keep rule ``bucket² · n_lang < B² · n_min`` (see
    operators/sampling.temperature_sample; the SQL twin checks the
    operator).  Rolled up per language: totals and kept counts; the
    mixture invariants (smallest language keeps everything, kept counts
    never invert the size order) are pinned by unit test."""
    from ..operators.sampling import N_BUCKETS

    h = tok_hash(dialect, "CAST(doc_id AS STRING)")
    return f"""
WITH counts AS (
  SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang
),
m AS (SELECT min(n_lang) AS n_min FROM counts),
keyed AS (
  SELECT d.doc_id, d.lang, ({h}) % {N_BUCKETS} AS bucket, c.n_lang, m.n_min
  FROM documents d JOIN counts c ON d.lang = c.lang CROSS JOIN m
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN bucket * bucket * n_lang
                          < {N_BUCKETS * N_BUCKETS} * n_min
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM keyed GROUP BY lang
"""


def _sp6_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP6 — temperature mixture sampling
    (operators/sampling.temperature_sample): the operator drives the
    Spark side; the oracle recomputes the integer keep rule in SQL, so a
    divergence in hash, counts, or the cut arithmetic breaks the hash."""
    from ..operators.sampling import temperature_sample

    docs = load_table(spark, sf_dir, "documents")
    out = temperature_sample(docs)
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("kept").cast("bigint")).alias("n_kept"),
    )


QUERIES["sp6_temperature_mixture"] = _sp6_temperature
TEXT_ORACLES["sp6_temperature_mixture"] = sql_temperature_mixture("duck")


SP7_MIN_TOKENS = 5  # quality gate for the composed pipeline


def sql_corpus_pipeline(dialect: str) -> str:
    """SP7 oracle — the END-TO-END corpus-prep composition in one SQL
    body: length-quality gate (≥ {SP7_MIN_TOKENS} tokens) → exact dedup
    (dd1's min-doc_id canonical survivor) → hash split (sp1's bounds) →
    per-(split, shard) greedy sequence packing (sp5's rule).  Every stage
    reuses the exact semantics its standalone query already pins, so the
    composed hash only breaks if the stages stop composing (e.g. dedup
    reordering changing pack bins)."""
    from ..operators.sampling import (
        N_BUCKETS,
        PACK_CAPACITY,
        PACK_SHARDS,
        SPLIT_BOUNDS,
    )

    h = tok_hash(dialect, "CAST(doc_id AS STRING)")
    nt = list_len(dialect, split_ws(dialect, "text"))
    arms = " ".join(
        f"WHEN bucket < {hi} THEN '{name}'"
        for name, (_, hi) in sorted(SPLIT_BOUNDS.items(), key=lambda kv: kv[1])
    )
    bin_e = f"CAST(floor((cum - n_tok) / {PACK_CAPACITY}.0) AS INT)"
    return f"""
WITH q AS (
  SELECT doc_id, text, {nt} AS n_tok FROM documents
  WHERE {nt} >= {SP7_MIN_TOKENS}
),
surv AS (
  SELECT doc_id, n_tok FROM (
    SELECT q.*, min(doc_id) OVER (PARTITION BY text) AS min_id FROM q
  ) t WHERE doc_id = min_id
),
sp AS (
  SELECT doc_id, n_tok,
         CASE {arms} END AS split,
         ({h}) % {PACK_SHARDS} AS shard,
         ({h}) % {1 << 30} AS ord_k
  FROM (SELECT surv.*, ({h}) % {N_BUCKETS} AS bucket FROM surv) b
),
c AS (
  SELECT split, shard, doc_id, n_tok,
         sum(n_tok) OVER (PARTITION BY split, shard ORDER BY ord_k, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM sp
)
SELECT split, CAST(shard AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(max({bin_e}) + 1 AS INT) AS n_bins
FROM c GROUP BY split, CAST(shard AS INT)
"""


def _sp7_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP7 — corpus-prep pipeline composed from the OPERATORS (quality
    gate → dd1 exact dedup → sp1 assign_split → sp5 pack_sequences with
    split-scoped packing streams), rolled up per (split, shard).  The
    oracle recomputes the whole chain in SQL — this is the 'switch your
    corpus prep to this engine' demonstration query."""
    from pyspark.sql import Window as W

    from ..operators.sampling import assign_split, pack_sequences
    from ..operators.text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    q = docs.filter(F.size(tokens_col("text")) >= SP7_MIN_TOKENS)
    surv = (
        q.withColumn("__min_id", F.min("doc_id").over(W.partitionBy("text")))
        .filter("doc_id = __min_id")
        .drop("__min_id")
    )
    packed = pack_sequences(assign_split(surv), extra_partition=("split",))
    return packed.groupBy("split", F.col("shard").cast("int").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        (F.max("bin") + F.lit(1)).cast("int").alias("n_bins"),
    )


QUERIES["sp7_corpus_pipeline"] = _sp7_pipeline
TEXT_ORACLES["sp7_corpus_pipeline"] = sql_corpus_pipeline("duck")


def sql_decontaminated_pipeline(dialect: str) -> str:
    """SP8 oracle — sp7's corpus-prep composition with the dd10 HARD GATE
    actually GATING: quality gate → exact dedup → hash split → every
    train doc sharing an exact 13-gram with the test split is DROPPED
    (not just reported), with the per-split kept/dropped/token rollup
    exposing exactly what the gate cost.  The decontaminate-before-
    training order every real pipeline runs; each stage reuses the exact
    semantics its standalone query pins (txt2's length gate, dd1's
    survivor rule, sp1's bounds, dd10's 13-gram join)."""
    from ..operators.dedup import DECONTAMINATION_NGRAM
    from ..operators.sampling import N_BUCKETS, SPLIT_BOUNDS

    h = tok_hash(dialect, "CAST(doc_id AS STRING)")
    nt = list_len(dialect, split_ws(dialect, "text"))
    arms = " ".join(
        f"WHEN bucket < {hi} THEN '{name}'"
        for name, (_, hi) in sorted(SPLIT_BOUNDS.items(), key=lambda kv: kv[1])
    )
    return f"""
WITH q AS (
  SELECT doc_id, text, {nt} AS n_tok FROM documents
  WHERE {nt} >= {SP7_MIN_TOKENS}
),
surv AS (
  SELECT doc_id, text, n_tok FROM (
    SELECT q.*, min(doc_id) OVER (PARTITION BY text) AS min_id FROM q
  ) t WHERE doc_id = min_id
),
sp AS (
  SELECT doc_id, text, n_tok, CASE {arms} END AS split
  FROM (SELECT surv.*, ({h}) % {N_BUCKETS} AS bucket FROM surv) b
),
te_src AS (SELECT doc_id, text FROM sp WHERE split = 'test'),
tr_src AS (SELECT doc_id, text FROM sp WHERE split = 'train'),
{_shingle_cte_over(dialect, "te_src", "te_", DECONTAMINATION_NGRAM)},
{_shingle_cte_over(dialect, "tr_src", "tr_", DECONTAMINATION_NGRAM)},
cont AS (
  SELECT DISTINCT t.doc_id
  FROM tr_hashed t JOIN (SELECT DISTINCT sh FROM te_hashed) x ON t.sh = x.sh
)
SELECT split,
       CAST(count(CASE WHEN c.doc_id IS NULL THEN 1 END) AS BIGINT) AS n_docs,
       CAST(COALESCE(sum(CASE WHEN c.doc_id IS NULL THEN n_tok END), 0)
            AS BIGINT) AS n_tokens,
       CAST(count(c.doc_id) AS BIGINT) AS n_dropped
FROM sp LEFT JOIN cont c ON sp.doc_id = c.doc_id
GROUP BY split
"""


def _sp8_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP8 — the decontamination-aware corpus-prep pipeline, composed
    from the OPERATORS: quality gate → dd1 exact dedup → sp1
    assign_split → dd10's exact-13-gram gate DROPS contaminated train
    docs (test-side shingles DISTINCT'd, one equi-join on the shingle
    hash — at 100 TB the gate's production form reads the dd11 table
    instead of re-shingling, same join) → per-split rollup with the
    dropped count exposed.  sp7 shows the prep chain composing; sp8
    shows the contamination family GATING inside it — the
    'decontaminate before training' order every real pipeline runs."""
    from pyspark.sql import Window as W

    from ..operators.dedup import DECONTAMINATION_NGRAM, shingle_hashes
    from ..operators.sampling import assign_split
    from ..operators.text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    q = docs.withColumn("n_tok", F.size(tokens_col("text"))).filter(
        F.col("n_tok") >= SP7_MIN_TOKENS
    )
    surv = (
        q.withColumn("__min_id", F.min("doc_id").over(W.partitionBy("text")))
        .filter("doc_id = __min_id")
        .drop("__min_id")
    )
    sp = assign_split(surv)
    n = DECONTAMINATION_NGRAM
    test_sh = (
        shingle_hashes(sp.filter("split = 'test'"), n=n).select("sh").distinct()
    )
    cont = (
        shingle_hashes(sp.filter("split = 'train'"), n=n)
        .join(test_sh, "sh")
        .select("doc_id")
        .distinct()
        .withColumn("__c", F.lit(1))
    )
    kept = F.col("__c").isNull()
    return (
        sp.join(cont, "doc_id", "left")
        .groupBy("split")
        .agg(
            F.count(F.when(kept, 1)).alias("n_docs"),
            F.coalesce(F.sum(F.when(kept, F.col("n_tok"))), F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
            F.count("__c").alias("n_dropped"),
        )
    )


QUERIES["sp8_decontaminated_pipeline"] = _sp8_pipeline
TEXT_ORACLES["sp8_decontaminated_pipeline"] = sql_decontaminated_pipeline("duck")


def sql_doc_retrieval(dialect: str) -> str:
    """TXT14 — document similarity RETRIEVAL: for a bounded query set
    (doc_id % 97 = 0, a handful of docs), the top-5 most similar corpus
    documents by trigram-shingle Jaccard.  The broadcast-query
    counterpart to dd2's all-pairs near-dup sweep — the same
    w12 (one query ⇒ broadcast) vs w13 (exact all-pairs) relationship on
    the text modality: dedup asks "which pairs collide anywhere", a
    training-data pipeline ALSO asks "what do we already hold that looks
    like THIS doc" (provenance checks, eval-set curation, targeted
    decontamination triage).

    Scale shape: shingle pipeline + dd2's stop-shingle cut (a viral
    shingle would fan the candidate join out quadratically; sizes count
    the KEPT shingles so Jaccard stays consistent), then one equi-join
    on the shingle hash whose QUERY side is query-set-sized — at 100 TB
    the query side broadcasts and the corpus side streams through one
    shuffle on sh.  Top-5 per query by ROUNDED Jaccard with a match-id
    tiebreak — engine-deterministic cut."""
    jac = r6t(
        f"{d('n_common')} / ({d('n_q')} + {d('n_c')} - {d('n_common')})"
    )
    return f"""
WITH {shingles_cte(dialect)},
kept AS (
  SELECT doc_id, sh FROM (
    SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM hashed
  ) t WHERE df <= {MAX_SHINGLE_FREQ}
),
sized AS (
  SELECT doc_id, sh, count(*) OVER (PARTITION BY doc_id) AS n_sh FROM kept
),
pairs AS (
  SELECT q.doc_id AS query_doc, c.doc_id AS match_doc,
         CAST(count(*) AS BIGINT) AS n_common,
         min(q.n_sh) AS n_q, min(c.n_sh) AS n_c
  FROM sized q
  JOIN sized c ON c.sh = q.sh AND c.doc_id <> q.doc_id
  WHERE q.doc_id % 97 = 0
  GROUP BY q.doc_id, c.doc_id
),
scored AS (
  SELECT query_doc, match_doc, n_common,
         {jac} AS jaccard,
         row_number() OVER (PARTITION BY query_doc
                            ORDER BY {jac} DESC, match_doc ASC) AS rnk
  FROM pairs
)
SELECT query_doc, match_doc, n_common, jaccard, CAST(rnk AS BIGINT) AS rnk
FROM scored WHERE rnk <= 5
"""


QUERIES["txt14_doc_retrieval"] = _make_query(sql_doc_retrieval)
TEXT_ORACLES["txt14_doc_retrieval"] = sql_doc_retrieval("duck")


# --- SP9: dup-aware (cluster-coherent) split assignment ----------------------
def sql_dup_aware_split(dialect: str) -> str:
    """SP9 — near-dup-coherent train/val/test assignment, with the leak
    accounting that motivates it: sp1's per-doc hash split is
    deterministic but INDEPENDENT per doc, so the two halves of a
    near-dup pair straddle a split boundary with probability
    ≈ 2·p_train·p_test — train/test contamination no text gate can see
    (the docs are different strings).  The fix hashes the DUP-COMPONENT
    label (DD4 candidates → DD6 closure, min-id label; singletons keep
    their own id, so their assignment is bit-identical to sp1's) —
    whole components move as one.  Output: per-split doc and dup-member
    counts plus two whole-corpus gates — leaky_coherent (components
    spanning >1 split under the coherent rule: 0 by construction) and
    leaky_naive (the same count under sp1's per-doc rule: what the
    operator exists to eliminate).  SQL form = recursive closure, DuckDB
    oracle only (see sql_dup_clusters); the ENGINE path is
    dedup.dup_clusters + sampling.dup_aware_split."""
    from ..operators.sampling import N_BUCKETS, SPLIT_BOUNDS

    bands_sql = _bands_sql(dialect)
    hk = tok_hash(dialect, "CAST(skey AS STRING)")
    hd = tok_hash(dialect, "CAST(doc_id AS STRING)")
    arms = " ".join(
        f"WHEN {{b}} < {hi} THEN '{name}'"
        for name, (_, hi) in sorted(SPLIT_BOUNDS.items(), key=lambda kv: kv[1])
    )
    return f"""
WITH RECURSIVE {_minhash_sig_cte(dialect)},
bands AS ({bands_sql}),
{_CAND_CTE},
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM cand
  UNION
  SELECT doc_b AS u, doc_a AS v FROM cand
),
reach AS (
  SELECT u, u AS lbl FROM edges
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
),
cc AS (SELECT u AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY u),
keyed AS (
  SELECT d.doc_id, cc.cluster_id,
         COALESCE(cc.cluster_id, d.doc_id) AS skey
  FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
),
assigned AS (
  SELECT doc_id, cluster_id,
         CASE {arms.format(b=f"(({hk}) % {N_BUCKETS})")} END AS split,
         CASE {arms.format(b=f"(({hd}) % {N_BUCKETS})")} END AS naive_split
  FROM keyed
),
gates AS (
  SELECT
    CAST(COALESCE(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
      AS leaky_coherent,
    CAST(COALESCE(sum(CASE WHEN nns > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
      AS leaky_naive
  FROM (
    SELECT cluster_id,
           count(DISTINCT split) AS ns,
           count(DISTINCT naive_split) AS nns
    FROM assigned WHERE cluster_id IS NOT NULL GROUP BY cluster_id
  ) g
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_members,
       gates.leaky_coherent, gates.leaky_naive
FROM assigned CROSS JOIN gates
GROUP BY split, gates.leaky_coherent, gates.leaky_naive
ORDER BY split
"""


def _sp9_dup_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP9, Spark side: DD4's SQL pair plan feeding the ITERATIVE
    connected-components operator (dd6's pattern), then
    sampling.dup_aware_split keys every doc by its component label; the
    per-split rollup carries the two leak gates in-plan (one
    collision-sized aggregate each — never a corpus self-join)."""
    from ..operators.dedup import dup_clusters
    from ..operators.sampling import dup_aware_split, split_col

    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    pairs = spark.sql(sql_minhash_candidates("spark"))
    cc = dup_clusters(pairs)
    # naive_split is a pure per-row expression over the SAME frame (sp1's
    # per-doc rule) — no second join, just one more projected column
    res = dup_aware_split(docs.select("doc_id"), cc).withColumn(
        "naive_split", split_col("doc_id")
    )
    gates = (
        res.filter(F.col("cluster_id").isNotNull())
        .groupBy("cluster_id")
        .agg(
            F.count_distinct("split").alias("ns"),
            F.count_distinct("naive_split").alias("nns"),
        )
        .agg(
            F.coalesce(
                F.sum((F.col("ns") > 1).cast("bigint")), F.lit(0)
            ).alias("leaky_coherent"),
            F.coalesce(
                F.sum((F.col("nns") > 1).cast("bigint")), F.lit(0)
            ).alias("leaky_naive"),
        )
    )
    return (
        res.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("cluster_id").isNotNull().cast("bigint")).alias(
                "n_dup_members"
            ),
        )
        .crossJoin(F.broadcast(gates))
        .orderBy("split")
    )


QUERIES["sp9_dup_aware_split"] = _sp9_dup_aware_split
TEXT_ORACLES["sp9_dup_aware_split"] = sql_dup_aware_split("duck")


# --- TXT15: perplexity-gated corpus filter -----------------------------------
PPL_MAX = "31.0"  # keep iff perplexity <= this (r6-rounded on both engines)


def sql_perplexity_filter(dialect: str) -> str:
    """TXT15 — the FILTER txt12's score exists for (CCNet's operating
    shape: score every document under an LM, train on the low-perplexity
    band): keep a doc iff its bigram-LM perplexity ≤ PPL_MAX, and report
    the per-language accounting a pipeline owner reads before training —
    docs kept/total, characters surviving, and the mean perplexity of
    the kept band.  Unscored docs (NULL text or fewer than two tokens —
    no bigram evidence at all) count as DROPPED: at web scale an
    unscorable document is noise until proven otherwise, and silently
    keeping it would leak the exact junk the gate exists to remove.

    The threshold compares the SHARED r6-rounded perplexity, so both
    engines cut identically even for a doc sitting exactly on the
    boundary; the kept-band mean accumulates those rounded values in
    DECIMAL (order-independent — a float sum could differ in the last
    ulp across engines).  Scale shape: txt12's scoring plan (one explode
    + per-doc lead window + map-combinable count aggregates) + one
    doc-id equi-join + one rollup — nothing new shuffles."""
    inner = sql_bigram_lm(dialect)
    return f"""
WITH scores AS ({inner}),
marked AS (
  SELECT d.doc_id, d.lang, d.n_chars, s.perplexity,
         CASE WHEN s.perplexity IS NOT NULL
               AND s.perplexity <= {d(PPL_MAX)} THEN 1 ELSE 0 END AS keep
  FROM documents d LEFT JOIN scores s ON d.doc_id = s.doc_id
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(keep) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN keep = 1 THEN n_chars ELSE 0 END) AS BIGINT)
         AS kept_chars,
       {r6t("CAST(sum(CASE WHEN keep = 1 THEN CAST(perplexity AS DECIMAL(18,6)) END) AS DOUBLE) / sum(keep)")}
         AS mean_kept_ppl
FROM marked
GROUP BY lang
ORDER BY lang
"""


def _txt15_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TXT15, Spark side: the pure rendering (txt12's measured choice —
    the explode is a cheap narrow transform, so pipelined CTE re-reads
    beat a materialize)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(sql_perplexity_filter("spark"))


QUERIES["txt15_perplexity_filter"] = _txt15_perplexity_filter
TEXT_ORACLES["txt15_perplexity_filter"] = sql_perplexity_filter("duck")


# --- TXT16: duplicated-ngram share (exact-substring duplication signal) ------
def sql_duplicated_ngram_share(dialect: str) -> str:
    """TXT16 — per-document EXACT-substring duplication accounting (the
    signal behind Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better": verbatim 13-gram-or-longer overlap is what
    memorization tracks): for every doc, how many of its distinct token
    13-grams also occur in ≥1 OTHER document, and the share that makes
    up.  dd10/dd11 use the same 13-gram bar as a binary train/test GATE;
    this is the graded corpus-wide form — the per-doc score a curation
    pass ranks on (a doc at share 1.0 is pure boilerplate/verbatim copy
    even if no single partner passes a pair threshold; dd2's
    pair-Jaccard cannot see diffuse many-partner duplication).

    Scale shape: the shingle layout (one explode + one per-doc window +
    distinct), a map-combinable document-frequency aggregate on the
    shingle hash — the dedup family's shuffle key — and one join back.
    No pair enumeration anywhere: cost is corpus-linear in shingle
    occurrences, never Σ collisions² (the dd2 trap this query
    deliberately avoids)."""
    return f"""
WITH {shingles_cte(dialect, 13)},
df AS (
  SELECT sh, count(*) AS ndocs FROM hashed GROUP BY sh
),
per AS (
  SELECT h.doc_id,
         count(*) AS n_ngrams,
         sum(CASE WHEN df.ndocs > 1 THEN 1 ELSE 0 END) AS n_dup
  FROM hashed h JOIN df ON h.sh = df.sh
  GROUP BY h.doc_id
)
SELECT doc_id,
       CAST(n_ngrams AS BIGINT) AS n_ngrams,
       CAST(n_dup AS BIGINT) AS n_dup_ngrams,
       {r6t("CAST(n_dup AS DOUBLE) / n_ngrams")} AS dup_share
FROM per
"""


def _txt16_duplicated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TXT16, Spark side: the pure rendering (the shingle explode is a
    cheap narrow transform — txt12's measured materialize-vs-inline
    rule)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(sql_duplicated_ngram_share("spark"))


QUERIES["txt16_duplicated_ngrams"] = _txt16_duplicated_ngrams
TEXT_ORACLES["txt16_duplicated_ngrams"] = sql_duplicated_ngram_share("duck")


# --- TXT17: exact-substring span dedup (Lee et al. 2022 — the curative op) ---
def _kept_text_agg(dialect: str, keep_cond: str) -> str:
    """Ordered aggregate rebuilding a doc from its kept tokens, '' when
    nothing survives.  Spark has no ordered string_agg, so it sorts a
    collected (pos, tok) struct array; DuckDB uses native ORDER BY in
    string_agg.  Both skip NULLs (the dropped tokens)."""
    if dialect == "spark":
        return (
            f"concat_ws(' ', transform(array_sort(collect_list("
            f"CASE WHEN {keep_cond} THEN named_struct('p', pos, 't', tok) END"
            f")), s -> s.t))"
        )
    return (
        f"coalesce(string_agg(CASE WHEN {keep_cond} THEN tok END, "
        f"' ' ORDER BY pos), '')"
    )


def sql_span_dedup(dialect: str, n: int = 13) -> str:
    """TXT17 — exact-substring SPAN dedup: remove duplicated token spans,
    keep one canonical occurrence corpus-wide (min doc id).  The operation
    Lee et al. 2022 actually perform on C4/RealNews — txt16 grades the
    signal, dd10/dd11 gate on it, this CURES it.  Mirrors
    operators/dedup.span_dedup exactly (same hash series, same canonical
    rule, same coverage windows); the Spark driver row runs the operator,
    this SQL is the DuckDB oracle (and the spark rendering is pinned ≡
    the operator by tests/test_text_dedup.py).

    Shape: token explode → per-doc window n-gram combine → df-aggregate
    on the shingle hash → join back → two more functions over the SAME
    per-doc window (coverage max, run-start lag) → per-doc aggregate.
    No pair term anywhere; a viral boilerplate passage costs a count,
    never a join fan-out."""
    share = "CAST(sum(cov) AS DOUBLE) / CAST(count(*) AS DOUBLE)"
    return f"""
WITH {span_cte_chain(dialect, n)}
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(sum(cov) AS BIGINT) AS n_dropped_tokens,
       CAST(sum(span_start) AS BIGINT) AS n_dropped_spans,
       {r6t(share)} AS dropped_share,
       {_kept_text_agg(dialect, "cov = 0")} AS text_deduped
FROM spans
GROUP BY doc_id
"""


def span_cte_chain(dialect: str, n: int = 13, docs_body: str | None = None) -> str:
    """The span-dedup CTE chain (docs → positioned starts → df-aggregate
    → coverage → spans), reusable over any doc source: ``docs_body``
    overrides the ``docs AS (…)`` head (sp12 points it at the pipeline's
    surviving-doc set, so duplicated-span frequencies are computed over
    the CURATED corpus — dedup is relative to what survives, not what
    was crawled).  Ends with the ``spans`` CTE (doc_id, pos, tok, cov,
    span_start)."""
    docs_body = docs_body or docs_cte(dialect).strip()
    tok_rows = explode_with_pos(dialect, "docs", "toks", "pos", "tok", "doc_id")
    combine = "CAST(7 AS BIGINT)"
    for j in range(n):
        term = "h" if j == 0 else f"lead(h, {j}) OVER ({SH_WIN})"
        combine = f"(({combine}) * 131 + {term}) % {P_MOD}"
    return f"""{docs_body},
tok_rows AS ({tok_rows}),
tok_hashed AS (
  SELECT doc_id, pos, tok, {tok_hash(dialect, "tok")} AS h FROM tok_rows
),
starts AS (
  SELECT doc_id, pos, tok, {combine} AS sh FROM tok_hashed
),
pairs AS (
  SELECT DISTINCT doc_id, sh FROM starts WHERE sh IS NOT NULL
),
dfreq AS (
  SELECT sh, count(*) AS ndocs, min(doc_id) AS min_doc FROM pairs GROUP BY sh
),
flagged AS (
  SELECT s.doc_id, s.pos, s.tok,
         CASE WHEN s.sh IS NOT NULL AND f.ndocs > 1
                   AND s.doc_id <> f.min_doc
              THEN 1 ELSE 0 END AS rm
  FROM starts s LEFT JOIN dfreq f ON s.sh = f.sh
),
covered AS (
  SELECT doc_id, pos, tok,
         max(rm) OVER ({SH_WIN} ROWS BETWEEN {n - 1} PRECEDING
                       AND CURRENT ROW) AS cov
  FROM flagged
),
spans AS (
  SELECT doc_id, pos, tok, cov,
         CASE WHEN cov = 1
                   AND coalesce(lag(cov) OVER ({SH_WIN}), 0) = 0
              THEN 1 ELSE 0 END AS span_start
  FROM covered
)"""


def _txt17_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TXT17, Spark side: the span_dedup DataFrame OPERATOR (the engine
    API a curation pipeline composes), oracle-pinned against the pure
    DuckDB recompute — the dd2 materialized-operator pattern."""
    from ..operators.dedup import span_dedup

    return span_dedup(load_table(spark, sf_dir, "documents"))


QUERIES["txt17_span_dedup"] = _txt17_span_dedup
TEXT_ORACLES["txt17_span_dedup"] = sql_span_dedup("duck")


# --- TXT18: model-based quality classifier (trained in-engine) ---------------
def _qc_marked_sql(dialect: str, dim: int = 16) -> str:
    """(doc_id, x0=1, x1..x16 = txt13's integer bucket sums, y) — the
    classifier's design matrix plus the weak label: y = 1 iff the doc is
    NOT txt10-repetitive AND sits inside txt15's perplexity band.  Every
    ingredient is an existing oracle-green query body (sql_feature_hash,
    sql_repetition, sql_bigram_lm) — the weak-label rule composes them
    with three doc-id left joins.  Docs outside any signal (no tokens,
    no bigrams) get zero features / label 0: unscorable is junk until
    proven otherwise, the txt15 rule."""
    feats = sql_feature_hash(dialect)
    rep = sql_repetition(dialect)
    ppl = sql_bigram_lm(dialect)
    xs = ",\n       ".join(
        f"coalesce(f.b{j}, CAST(0 AS BIGINT)) AS x{j + 1}" for j in range(dim)
    )
    return f"""
SELECT d.doc_id,
       CAST(1 AS BIGINT) AS x0,
       {xs},
       CASE WHEN r.repetitive = false AND s.perplexity IS NOT NULL
                 AND s.perplexity <= {d(PPL_MAX)} THEN 1 ELSE 0 END AS y
FROM documents d
LEFT JOIN ({feats}) f ON d.doc_id = f.doc_id
LEFT JOIN ({rep}) r ON d.doc_id = r.doc_id
LEFT JOIN ({ppl}) s ON d.doc_id = s.doc_id
"""


def sql_quality_classifier(dialect: str) -> str:
    """TXT18 — the quality classifier END-TO-END in one SQL body: weak
    labels, exact-integer normal equations (XᵀX, Xᵀy via a j-sequence
    cross join — ONE pass over the marked corpus, no 306-column
    unpivot), ridge (+1 on the diagonal, still integer), then the
    17-step Gauss-Jordan elimination UNROLLED as chained CTEs — each
    step reads its predecessor exactly once (pivot / factor-column /
    pivot-row broadcast via three window maxes), so the chain stays
    linear even under CTE inlining — and finally every document scored
    under the solved coefficients with the same left-to-right
    accumulation the Spark operator uses.  Because the normal equations
    are integers and the elimination op order is fixed, the DuckDB
    oracle reproduces the Spark-trained model BIT-FOR-BIT
    (ml/regression.gj_solve is the scalar twin of the CTE chain) — a
    trained-model driver row with a full value oracle, not a shape
    reduction.

    Scale shape (the registered Spark plan uses the operator, not this
    rendering): one corpus pass for the label signals, one
    map-combinable integer aggregate for the normal equations (dim²
    longs of state), an O(d³) driver solve, one scan to score.  The
    rendering twin exists for the oracle and the bit-exactness pin."""
    dim = 17
    from ..operators.quality import QC_CUT, QC_RIDGE

    marked = _qc_marked_sql(dialect)
    if dialect == "spark":
        jseq = "SELECT explode(sequence(0, 16)) AS j"
    else:
        jseq = "SELECT unnest(generate_series(0, 16)) AS j"
    xcase = " ".join(f"WHEN {i} THEN x{i}" for i in range(dim))
    steps = []
    for k in range(dim):
        steps.append(f"""g{k + 1} AS (
  SELECT i, j,
         CASE WHEN i = {k} THEN v / pv ELSE v - fv * (prv / pv) END AS v
  FROM (
    SELECT i, j, v,
           max(CASE WHEN i = {k} AND j = {k} THEN v END) OVER () AS pv,
           max(CASE WHEN j = {k} THEN v END) OVER (PARTITION BY i) AS fv,
           max(CASE WHEN i = {k} THEN v END) OVER (PARTITION BY j) AS prv
    FROM g{k}
  ) t{k}
)""")
    steps_sql = ",\n".join(steps)
    betasel = ", ".join(
        f"max(CASE WHEN i = {i} THEN v END) AS w{i}" for i in range(dim)
    )
    score = d("0.0")
    for i in range(dim):
        score = f"(({score}) + w{i} * CAST(x{i} AS DOUBLE))"
    return f"""
WITH marked AS ({marked}),
jseq AS ({jseq}),
xrows AS (
  SELECT doc_id, j, CASE j {xcase} END AS v, y FROM marked CROSS JOIN jseq
),
gram AS (
  SELECT a.j AS i, b2.j AS j, CAST(sum(a.v * b2.v) AS BIGINT) AS s
  FROM xrows a JOIN xrows b2 ON a.doc_id = b2.doc_id
  GROUP BY a.j, b2.j
),
bvec AS (
  SELECT j AS i, {dim} AS j, CAST(sum(v * y) AS BIGINT) AS s
  FROM xrows GROUP BY j
),
g0 AS (
  SELECT i, j,
         CAST(s + CASE WHEN i = j AND j < {dim} THEN {QC_RIDGE}
                       ELSE 0 END AS DOUBLE) AS v
  FROM (SELECT * FROM gram UNION ALL SELECT * FROM bvec) u
),
{steps_sql},
beta AS (SELECT {betasel} FROM g{dim} WHERE j = {dim})
SELECT m.doc_id, m.y AS weak_label,
       {r6t(score)} AS quality_score,
       ({r6t(score)} >= {d(str(QC_CUT))}) AS keep
FROM marked m CROSS JOIN beta
"""


def _txt18_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TXT18, Spark side: the OPERATOR path — the marked frame (features
    + weak label, the shared dialect body) is snapshotted once with a
    lazy localCheckpoint (it feeds BOTH the training aggregate and the
    scoring scan; Spark would otherwise execute the three-signal label
    pipeline twice — the dd2/txt12 materialize rule), trained via one
    integer aggregate + driver Gauss-Jordan, then scored JVM-side."""
    from ..operators.quality import score_quality, train_quality_classifier

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    marked = spark.sql(_qc_marked_sql("spark")).localCheckpoint(eager=False)
    beta = train_quality_classifier(marked)
    return score_quality(marked, beta)


QUERIES["txt18_quality_classifier"] = _txt18_quality_classifier
TEXT_ORACLES["txt18_quality_classifier"] = sql_quality_classifier("duck")


# --- SP10/SP11: per-domain curation (C4-style domain caps + mixture) ---------
# The documents table carries no URL column, so both queries derive one
# DETERMINISTICALLY in-query — deliberately skewed (every even doc_id
# lands on one mega-domain = 50% of the corpus) and deliberately messy
# (scheme case, userinfo, www, ports, paths) so the normalization scalar
# has real work to do.  Same expression text in both dialects.
DOMAIN_CAP = 100

_URL_EXPR = (
    "CASE WHEN doc_id % 2 = 0 "
    "THEN 'HTTPS://user:pw@www.MegaDomain.example.com:8443/page/' "
    "|| CAST(doc_id AS STRING) "
    "ELSE 'http://' || source || '.example.org:80/item?id=' "
    "|| CAST(doc_id AS STRING) END"
)


def _host_norm(col: str) -> str:
    """Dialect-shared host normalization — the SQL twin of
    operators/text.normalize_host (same pattern constant, zero
    backslashes, byte-identical in Java regex and RE2)."""
    from ..operators.text import HOST_PATTERN

    return f"regexp_extract(lower({col}), '{HOST_PATTERN}', 1)"


def _dom_cte(dialect: str) -> str:
    return f"""
urls AS (SELECT doc_id, ({_URL_EXPR}) AS url FROM documents),
dom AS (SELECT doc_id, {_host_norm("url")} AS domain FROM urls)
"""


def sql_domain_caps(dialect: str) -> str:
    """SP10 — per-domain document caps (the C4 curation shape: one crawl
    cannot dominate training): normalize each doc's URL to its domain,
    keep at most DOMAIN_CAP docs per domain chosen by the deterministic
    id-hash order (operators/sampling.capped_per_group — the same hash
    series as the splits, so capping never disturbs split membership),
    and report the per-domain accounting.  The planted skew (the
    mega-domain holding 50% of docs) is capped; the long tail passes
    through whole.

    Scale shape: one per-row projection (regex host), one row_number
    window on the domain key (the only shuffle), one rollup.  A hot
    domain is exactly ONE window partition — the cap's cost is the same
    skew it exists to remove; cite reference equality/grouping shapes
    utils/company_manager.py:259-268."""
    h = tok_hash(dialect, "CAST(doc_id AS STRING)")
    return f"""
WITH {_dom_cte(dialect)},
ranked AS (
  SELECT doc_id, domain,
         row_number() OVER (PARTITION BY domain
                            ORDER BY ({h}) % {1 << 30} ASC, doc_id ASC) AS rn
  FROM dom
)
SELECT domain,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN rn <= {DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       (count(*) > {DOMAIN_CAP}) AS capped
FROM ranked
GROUP BY domain
ORDER BY domain
"""


def _sp10_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP10, Spark side: normalize_host + the capped_per_group OPERATOR
    (sp3's hash-rank cut) composed per domain, then the rollup."""
    from ..operators.sampling import capped_per_group
    from ..operators.text import normalize_host

    docs = load_table(spark, sf_dir, "documents")
    dom = docs.selectExpr("doc_id", f"({_URL_EXPR}) AS url").withColumn(
        "domain", normalize_host("url")
    )
    kept = capped_per_group(dom, "domain", DOMAIN_CAP)
    totals = dom.groupBy("domain").agg(F.count(F.lit(1)).alias("n_docs"))
    kepts = kept.groupBy("domain").agg(F.count(F.lit(1)).alias("n_kept"))
    return (
        totals.join(kepts, "domain")
        .select(
            "domain", "n_docs", "n_kept",
            (F.col("n_docs") > F.lit(DOMAIN_CAP)).alias("capped"),
        )
        .orderBy("domain")
    )


QUERIES["sp10_domain_caps"] = _sp10_domain_caps
TEXT_ORACLES["sp10_domain_caps"] = sql_domain_caps("duck")


def sql_domain_mixture(dialect: str) -> str:
    """SP11 — domain-mixture accounting under α = 0.5 temperature
    sampling (operators/sampling.temperature_sample composed on the
    normalized domain): per domain, docs before/after and the corpus
    share before/after — the rebalancing report a pipeline owner reads
    (the mega-domain's 50% share flattens toward the tail; the smallest
    domain keeps everything).  The keep rule is the exact integer
    ``bucket²·n_domain < B²·n_min`` — no sqrt, no float division, every
    engine agrees at the cut.

    Scale shape: the domain projection, one tiny per-domain count
    aggregate (broadcast back), a per-row filter, one rollup + two
    window sums over the domain-sized rollup."""
    from ..operators.sampling import N_BUCKETS

    h = tok_hash(dialect, "CAST(doc_id AS STRING)")
    share_b = "CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE)"
    share_a = "CAST(n_kept AS DOUBLE) / CAST(sum(n_kept) OVER () AS DOUBLE)"
    return f"""
WITH {_dom_cte(dialect)},
counts AS (SELECT domain, count(*) AS n_grp FROM dom GROUP BY domain),
mn AS (SELECT min(n_grp) AS n_min FROM counts),
marked AS (
  SELECT d.domain,
         CASE WHEN (({h}) % {N_BUCKETS}) * (({h}) % {N_BUCKETS}) * c.n_grp
                   < {N_BUCKETS * N_BUCKETS} * mn.n_min
              THEN 1 ELSE 0 END AS kept
  FROM dom d JOIN counts c ON d.domain = c.domain CROSS JOIN mn
),
rollup AS (
  SELECT domain,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(kept) AS BIGINT) AS n_kept
  FROM marked GROUP BY domain
)
SELECT domain, n_docs, n_kept,
       {r6t(share_b)} AS share_before,
       {r6t(share_a)} AS share_after
FROM rollup
ORDER BY domain
"""


def _sp11_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP11, Spark side: normalize_host + the temperature_sample
    OPERATOR (sp6's exact integer keep rule) grouped on the domain,
    then the rollup with window-sum shares."""
    from pyspark.sql import Window

    from ..operators.sampling import temperature_sample
    from ..operators.text import normalize_host
    from ..functions.scalars import r6

    docs = load_table(spark, sf_dir, "documents")
    dom = docs.selectExpr("doc_id", f"({_URL_EXPR}) AS url").withColumn(
        "domain", normalize_host("url")
    )
    marked = temperature_sample(dom, group_col="domain")
    roll = marked.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("kept").cast("bigint")).alias("n_kept"),
    )
    w = Window.partitionBy()
    return roll.select(
        "domain", "n_docs", "n_kept",
        r6(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w).cast("double")
        ).alias("share_before"),
        r6(
            F.col("n_kept").cast("double")
            / F.sum("n_kept").over(w).cast("double")
        ).alias("share_after"),
    ).orderBy("domain")


QUERIES["sp11_domain_mixture"] = _sp11_domain_mixture
TEXT_ORACLES["sp11_domain_mixture"] = sql_domain_mixture("duck")


# --- TXT19: incremental span dedup (table-driven cleaning) --------------------
def sql_incremental_span_dedup(dialect: str) -> str:
    """TXT19's oracle — the table-driven cleaning recomputed one-shot:
    once the shingle table has accumulated every batch, its (doc_id, sh)
    content equals the one-shot shingle set, so the cleaned corpus is
    EXACTLY txt17's answer plus the replay-zero pin (the insert-only
    contract's own gate)."""
    body = sql_span_dedup(dialect)
    return f"""
WITH oneshot AS ({body})
SELECT doc_id, n_tokens, n_dropped_tokens, n_dropped_spans,
       dropped_share, text_deduped, true AS replay_zero
FROM oneshot
"""


def _txt19_incremental_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TXT19, Spark side: the INGEST form of txt17 — three fragmented
    batches maintain the corpus (doc_id, sh) 13-gram table
    (update_test_shingle_table, the shared insert-only anti-join+append
    contract), a replayed batch must append zero docs, and every doc is
    then cleaned AGAINST THE TABLE (span_dedup_from_table: document
    frequencies come from the store, the batch side only re-shingles the
    docs being cleaned).  The driver hash pins table-driven cleaning ≡
    an independent one-shot recompute — per-doc accounting AND rebuilt
    text — plus the replay-zero flag."""
    from ..operators.dedup import (
        span_dedup_from_table,
        update_test_shingle_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = scratch_store("spantab", sf_dir)
    for r in range(3):
        update_test_shingle_table(docs.filter(F.col("doc_id") % 3 == r), path)
    replay = update_test_shingle_table(
        docs.filter(F.col("doc_id") % 3 == 0), path
    )
    cleaned = span_dedup_from_table(spark, docs, path)
    return cleaned.withColumn(
        "replay_zero", F.lit(replay["n_new_docs"] == 0)
    )


QUERIES["txt19_incremental_span_dedup"] = _txt19_incremental_span_dedup
TEXT_ORACLES["txt19_incremental_span_dedup"] = sql_incremental_span_dedup("duck")


# --- SP12: end-to-end curated corpus (caps → quality → span dedup) -----------
def sql_curated_corpus(dialect: str) -> str:
    """SP12 — the curation PIPELINE with every r12 stage actually acting
    (sp7/sp8's composition pattern extended to the new family members):
    per-domain caps (sp10's hash-rank cut over the normalized host — one
    crawl cannot dominate), the rule-quality gate (txt10 non-repetitive
    ∧ txt15 perplexity band; per-doc/corpus-LM signals computed over the
    FULL corpus — capping is sampling, not a statistics change), then
    exact-substring SPAN dedup over the SURVIVORS — duplicated-13-gram
    frequencies computed over the CURATED set (dedup is relative to what
    survives: a passage whose other copies were capped away is no longer
    a duplicate), via the shared span CTE chain pointed at the kept
    docs.  Output: the per-domain accounting a pipeline owner signs off
    on — docs at each stage, tokens before/after span removal, spans
    removed, token keep share.

    Scale shape: each stage is a previously-probed query shape (host
    regex + one domain window; two signal scans + doc-id joins; the span
    chain's one window sort + df-aggregate on the shingle hash) glued by
    doc-id equi-joins; the rollup is domain-sized."""
    h = tok_hash(dialect, "CAST(doc_id AS STRING)")
    rep = sql_repetition(dialect)
    scores = sql_bigram_lm(dialect)
    toks = split_ws(dialect, "d.text")
    kept_docs = (
        "docs AS (\n"
        "  SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, "
        f"{toks} AS toks\n"
        "  FROM documents d JOIN kept k ON d.doc_id = k.doc_id\n"
        ")"
    )
    keep_share = (
        "CAST(k.n_tokens_final AS DOUBLE) / CAST(k.n_tokens_kept AS DOUBLE)"
    )
    return f"""
WITH urls AS (SELECT doc_id, ({_URL_EXPR}) AS url FROM documents),
dom AS (SELECT doc_id, {_host_norm("url")} AS domain FROM urls),
ranked AS (
  SELECT doc_id, domain,
         row_number() OVER (PARTITION BY domain
                            ORDER BY ({h}) % {1 << 30} ASC, doc_id ASC) AS rn
  FROM dom
),
capped AS (SELECT doc_id, domain FROM ranked WHERE rn <= {DOMAIN_CAP}),
rep AS ({rep}),
scores AS ({scores}),
kept AS (
  SELECT c.doc_id, c.domain
  FROM capped c
  LEFT JOIN rep r ON c.doc_id = r.doc_id
  LEFT JOIN scores s ON c.doc_id = s.doc_id
  WHERE r.repetitive = false AND s.perplexity IS NOT NULL
        AND s.perplexity <= {d(PPL_MAX)}
),
{span_cte_chain(dialect, 13, docs_body=kept_docs)},
per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_toks,
         CAST(sum(cov) AS BIGINT) AS n_drop,
         CAST(sum(span_start) AS BIGINT) AS n_spans
  FROM spans GROUP BY doc_id
),
dstats AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs
           FROM dom GROUP BY domain),
cstats AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_capped
           FROM capped GROUP BY domain),
kstats AS (
  SELECT k.domain,
         CAST(count(*) AS BIGINT) AS n_kept,
         CAST(coalesce(sum(p.n_toks), 0) AS BIGINT) AS n_tokens_kept,
         CAST(coalesce(sum(p.n_toks - p.n_drop), 0) AS BIGINT)
           AS n_tokens_final,
         CAST(coalesce(sum(p.n_spans), 0) AS BIGINT) AS n_spans_removed
  FROM kept k LEFT JOIN per_doc p ON k.doc_id = p.doc_id
  GROUP BY k.domain
)
SELECT d.domain, d.n_docs,
       coalesce(c.n_capped, CAST(0 AS BIGINT)) AS n_capped,
       coalesce(k.n_kept, CAST(0 AS BIGINT)) AS n_kept,
       coalesce(k.n_tokens_kept, CAST(0 AS BIGINT)) AS n_tokens_kept,
       coalesce(k.n_tokens_final, CAST(0 AS BIGINT)) AS n_tokens_final,
       coalesce(k.n_spans_removed, CAST(0 AS BIGINT)) AS n_spans_removed,
       CASE WHEN coalesce(k.n_tokens_kept, CAST(0 AS BIGINT)) = 0
            THEN CAST(NULL AS DOUBLE)
            ELSE {r6t(keep_share)} END AS token_keep_share
FROM dstats d
LEFT JOIN cstats c ON d.domain = c.domain
LEFT JOIN kstats k ON d.domain = k.domain
ORDER BY d.domain
"""


def _sp12_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP12, Spark side: the OPERATORS composed — normalize_host +
    capped_per_group (sp10), the rule gate from the rendered txt10/txt12
    signal plans, span_dedup over the surviving docs (txt17's operator —
    df over the curated set by construction, since the operator computes
    frequencies from its input), one domain rollup.  The kept set is
    snapshotted (lazy localCheckpoint): it feeds the span operator AND
    two rollup branches."""
    from ..functions.scalars import r6
    from ..operators.dedup import span_dedup
    from ..operators.sampling import capped_per_group
    from ..operators.text import normalize_host

    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    dom = (
        docs.selectExpr("doc_id", "text", "source", f"({_URL_EXPR}) AS url")
        .withColumn("domain", normalize_host("url"))
        .drop("url", "source")
    )
    capped = capped_per_group(dom, "domain", DOMAIN_CAP)
    rep = spark.sql(sql_repetition("spark")).select("doc_id", "repetitive")
    ppl = spark.sql(sql_bigram_lm("spark")).select("doc_id", "perplexity")
    kept = (
        capped.join(rep, "doc_id", "left")
        .join(ppl, "doc_id", "left")
        .filter(
            (F.col("repetitive") == F.lit(False))
            & F.col("perplexity").isNotNull()
            & (F.col("perplexity") <= F.lit(float(PPL_MAX)))
        )
        .select("doc_id", "domain", "text")
        .localCheckpoint(eager=False)
    )
    cleaned = span_dedup(kept.select("doc_id", "text"))
    per_doc = kept.select("doc_id", "domain").join(cleaned, "doc_id", "left")
    kstats = per_doc.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("bigint").alias(
            "n_tokens_kept"
        ),
        F.coalesce(
            F.sum(F.col("n_tokens") - F.col("n_dropped_tokens")), F.lit(0)
        ).cast("bigint").alias("n_tokens_final"),
        F.coalesce(F.sum("n_dropped_spans"), F.lit(0)).cast("bigint").alias(
            "n_spans_removed"
        ),
    )
    dstats = dom.groupBy("domain").agg(F.count(F.lit(1)).alias("n_docs"))
    cstats = capped.groupBy("domain").agg(F.count(F.lit(1)).alias("n_capped"))
    share = F.col("n_tokens_final").cast("double") / F.col(
        "n_tokens_kept"
    ).cast("double")
    return (
        dstats.join(cstats, "domain", "left")
        .join(kstats, "domain", "left")
        .select(
            "domain", "n_docs",
            F.coalesce("n_capped", F.lit(0).cast("bigint")).alias("n_capped"),
            F.coalesce("n_kept", F.lit(0).cast("bigint")).alias("n_kept"),
            F.coalesce("n_tokens_kept", F.lit(0).cast("bigint")).alias(
                "n_tokens_kept"
            ),
            F.coalesce("n_tokens_final", F.lit(0).cast("bigint")).alias(
                "n_tokens_final"
            ),
            F.coalesce("n_spans_removed", F.lit(0).cast("bigint")).alias(
                "n_spans_removed"
            ),
            F.when(
                F.coalesce("n_tokens_kept", F.lit(0).cast("bigint")) == 0,
                F.lit(None).cast("double"),
            ).otherwise(r6(share)).alias("token_keep_share"),
        )
        .orderBy("domain")
    )


QUERIES["sp12_curated_corpus"] = _sp12_curated_corpus
TEXT_ORACLES["sp12_curated_corpus"] = sql_curated_corpus("duck")


# --- DD14: snapshot-aware dedup with recency keep-policy ---------------------
# The documents table carries no URL/snapshot columns, so the fixture
# derives both deterministically in-query (the sp10 rule): every doc is
# one CRAWL of url (doc_id % SNAP_URLS) taken at snapshot index
# (doc_id*13) % 7 — NON-monotone in doc_id, so the latest revision is
# provably NOT the min-id canonical — and the raw URL string varies per
# revision (scheme case, userinfo, www, port, trailing slash) so the
# full-URL normalization has real work to do before any two revisions
# even compare equal.
SNAP_URLS = 40          # distinct normalized URLs (-> ~12 revisions each)
SNAP_EPOCH_DAY = 19723  # 2024-01-01 as an epoch day; snapshot_day = +s

_SNAP_RAW_URL = (
    "CASE WHEN doc_id % 3 = 0 THEN "
    "  'HTTPS://www.crawl' || CAST((doc_id % 40) % 5 AS STRING)"
    "  || '.Example.net:443/doc/' || CAST(doc_id % 40 AS STRING) "
    "WHEN doc_id % 3 = 1 THEN "
    "  'http://bot@crawl' || CAST((doc_id % 40) % 5 AS STRING)"
    "  || '.example.net/doc/' || CAST(doc_id % 40 AS STRING) || '/' "
    "ELSE "
    "  'crawl' || CAST((doc_id % 40) % 5 AS STRING)"
    "  || '.example.net/doc/' || CAST(doc_id % 40 AS STRING)"
    "  || '?session=' || CAST(doc_id AS STRING) "
    "END"
)


def _url_key_norm(col: str) -> str:
    """Dialect-shared full-URL key — the SQL twin of
    operators/text.normalize_url_key (host + path, query/fragment and
    trailing slashes stripped, lower-cased; zero-backslash patterns,
    byte-identical in Java regex and RE2)."""
    from ..operators.text import HOST_PATTERN, URL_PATH_PATTERN

    return (
        f"regexp_extract(lower({col}), '{HOST_PATTERN}', 1) || "
        f"regexp_replace(regexp_extract(lower({col}), "
        f"'{URL_PATH_PATTERN}', 1), '/+$', '')"
    )


def sql_snapshot_dedup(dialect: str) -> str:
    """DD14 — snapshot-aware exact dedup with a RECENCY keep-policy
    (operators/dedup.keep_latest_dedup is the DataFrame twin): the same
    URL re-crawled across snapshots keeps its LATEST revision (max
    snapshot_day, max doc_id ties), not the min-id canonical every
    other dedup family member uses — the CC-dump freshness rule
    (reference analogue: the latest-row-per-day current-state pattern,
    db/current_schema.sql:134-162).  Per-domain survival accounting in
    the dd7 shape, plus the policy-difference count: in how many URL
    groups the latest revision differs from the min-id canonical —
    the column that PROVES the recency policy changed the answer."""
    from ..operators.text import HOST_PATTERN

    return f"""
WITH snap AS (
  SELECT doc_id, ({_SNAP_RAW_URL}) AS url,
         {SNAP_EPOCH_DAY} + (doc_id * 13) % 7 AS snapshot_day
  FROM documents
),
keyed AS (
  SELECT doc_id, snapshot_day,
         regexp_extract(lower(url), '{HOST_PATTERN}', 1) AS domain,
         {_url_key_norm("url")} AS url_key
  FROM snap
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY url_key ORDER BY snapshot_day DESC, doc_id DESC) AS rn
  FROM keyed
),
grp AS (
  SELECT url_key, min(domain) AS domain,
         CAST(count(*) AS BIGINT) AS n_rev,
         min(doc_id) AS min_id,
         max(CASE WHEN rn = 1 THEN doc_id END) AS kept_id
  FROM ranked GROUP BY url_key
)
SELECT domain,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(sum(n_rev) AS BIGINT) AS n_revisions,
       CAST(sum(n_rev) - count(*) AS BIGINT) AS n_dropped,
       CAST(sum(CASE WHEN kept_id <> min_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_keep_latest_differs
FROM grp GROUP BY domain ORDER BY domain
"""


def _dd14_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD14, Spark side: normalize_url_key + normalize_host (per-row JVM
    regexp projections) feed the keep_latest_dedup OPERATOR (one
    row_number window on the url key — the only revision-level
    shuffle), then the dd7-style per-domain rollup.  The min-id side of
    the policy-difference column reuses exact_dedup's rule on the same
    key."""
    from ..operators.dedup import keep_latest_dedup
    from ..operators.text import normalize_host, normalize_url_key

    docs = load_table(spark, sf_dir, "documents")
    keyed = (
        docs.selectExpr(
            "doc_id",
            f"({_SNAP_RAW_URL}) AS url",
            f"{SNAP_EPOCH_DAY} + (doc_id * 13) % 7 AS snapshot_day",
        )
        .withColumn("domain", normalize_host("url"))
        .withColumn("url_key", normalize_url_key("url"))
        .select("doc_id", "snapshot_day", "domain", "url_key")
    )
    kept = keep_latest_dedup(keyed, ["url_key"], "snapshot_day", "doc_id")
    grp = keyed.groupBy("url_key").agg(
        F.min("domain").alias("domain"),
        F.count(F.lit(1)).alias("n_rev"),
        F.min("doc_id").alias("min_id"),
    )
    grp = grp.join(
        kept.select("url_key", F.col("doc_id").alias("kept_id")), "url_key"
    )
    return (
        grp.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.sum("n_rev").alias("n_revisions"),
            (F.sum("n_rev") - F.count(F.lit(1))).alias("n_dropped"),
            F.sum(
                (F.col("kept_id") != F.col("min_id")).cast("bigint")
            ).alias("n_keep_latest_differs"),
        )
        .orderBy("domain")
    )


QUERIES["dd14_snapshot_dedup"] = _dd14_snapshot_dedup
TEXT_ORACLES["dd14_snapshot_dedup"] = sql_snapshot_dedup("duck")


# --- MM12: multimodal sequence packing ---------------------------------------
# The fixture gives doc_id % 4 images per document, each a REAL PNG
# container (signature + IHDR) whose dims derive from the text length and
# the image index — so the Spark side proves the build-bytes →
# parse-header → patch-cost → pack chain end-to-end while the oracle
# re-derives the dims arithmetically from the same construction rule.
MM12_PATCH = 16

_MM12_W = "({L} + 37 * j) % 48 + 16"   # 16..63 → 1..4 patches wide
_MM12_H = "({L} * 3 + 5 * j) % 48 + 16"

_MM12_IMAGES_SQL = (
    # always build 3 PNGs, slice to n_img (sequence(1,0) would DESCEND in
    # Spark; slice length 0 keeps the empty case type-stable)
    "slice(transform(sequence(1, 3), j -> "
    "concat(X'89504E470D0A1A0A', X'0000000D', CAST('IHDR' AS BINARY), "
    f"unhex(lpad(hex({_MM12_W.format(L='octet_length(text)')}), 8, '0')), "
    f"unhex(lpad(hex({_MM12_H.format(L='octet_length(text)')}), 8, '0')), "
    "X'0806000000')), 1, CAST(doc_id % 4 AS INT))"
)


def sql_multimodal_packing(dialect: str) -> str:
    """MM12's oracle: per-image patch cost from the SAME dim arithmetic
    the fixture builds the PNG headers with, doc cost = tokens + patches,
    then the whole-doc next-fit recursion per shard as a recursive CTE
    (the t10 pattern) — bin and fill carried row to row in the
    deterministic hash order."""
    from ..operators.sampling import MM_PACK_CAPACITY, PACK_SHARDS

    h = tok_hash(dialect, "CAST(doc_id AS STRING)")
    nt = list_len(dialect, split_ws(dialect, "text"))
    olen = (
        "octet_length(text)" if dialect == "spark"
        else "octet_length(encode(text))"
    )
    w = _MM12_W.format(L="L")
    hh = _MM12_H.format(L="L")
    per_img = (
        f"({idiv(dialect, f'({w}) + {MM12_PATCH - 1}', str(MM12_PATCH))}) * "
        f"({idiv(dialect, f'({hh}) + {MM12_PATCH - 1}', str(MM12_PATCH))})"
    )
    npat = map_fold_sum(
        dialect, seq(dialect, "1", "CAST(doc_id % 4 AS INT)"),
        per_img, var="j", init="CAST(0 AS BIGINT)",
    )
    return f"""
WITH RECURSIVE base AS (
  SELECT doc_id, {olen} AS L,
         ({h}) % {PACK_SHARDS} AS shard,
         CAST({nt} AS BIGINT) AS n_tok,
         ({h}) % {1 << 30} AS ord_k
  FROM documents WHERE text IS NOT NULL
),
costed AS (
  SELECT doc_id, CAST(shard AS INT) AS shard, n_tok,
         CAST(CASE WHEN doc_id % 4 = 0 THEN 0 ELSE {npat} END AS BIGINT)
           AS n_patches,
         ord_k
  FROM base
),
ordered AS (
  SELECT doc_id, shard, n_tok, n_patches, n_tok + n_patches AS cost,
         row_number() OVER (PARTITION BY shard ORDER BY ord_k, doc_id)
           AS rn
  FROM costed
),
step AS (
  SELECT shard, rn, cost, 0 AS bin, cost AS fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.cost,
         CASE WHEN s.fill > 0 AND s.fill + o.cost > {MM_PACK_CAPACITY}
              THEN s.bin + 1 ELSE s.bin END,
         CASE WHEN s.fill > 0 AND s.fill + o.cost > {MM_PACK_CAPACITY}
              THEN o.cost ELSE s.fill + o.cost END
  FROM step s JOIN ordered o ON o.shard = s.shard AND o.rn = s.rn + 1
)
SELECT o.doc_id, o.shard, o.n_tok, o.n_patches, o.cost,
       CAST(s.bin AS INT) AS bin
FROM ordered o JOIN step s ON s.shard = o.shard AND s.rn = o.rn
"""


def _mm12_multimodal_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM12 — multimodal sequence packing (operators/sampling.
    pack_multimodal_sequences): real PNG containers are assembled per
    document in JVM SQL, the operator parses their headers back
    (multimodal.parse_image_header inside the Arrow cost UDF), prices
    each doc at tokens + ViT patches, and next-fit packs whole docs into
    joint-budget bins per shard — images never split across bins."""
    from ..operators.sampling import pack_multimodal_sequences

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .withColumn("images", F.expr(_MM12_IMAGES_SQL))
    )
    return pack_multimodal_sequences(docs, patch=MM12_PATCH)


QUERIES["mm12_multimodal_packing"] = _mm12_multimodal_packing
TEXT_ORACLES["mm12_multimodal_packing"] = sql_multimodal_packing("duck")


# --- SP13: curated corpus gated by the TRAINED classifier --------------------
def sql_model_curated_corpus(dialect: str) -> str:
    """SP13 — sp12's pipeline with the quality gate DISTILLED: the rule
    gate (txt10 ∧ txt15) is replaced by the trained model's ``keep``
    (txt18's classifier, trained on the FULL corpus — training is a
    statistics pass, capping is sampling), and the per-domain
    rule-vs-model disagreement is reported alongside — the distillation-
    fidelity number a pipeline owner reads before trusting the cheap
    scan-time model over the expensive rule signals.  Span dedup then
    runs over the MODEL's survivors (frequencies relative to what
    survives, the sp12 principle).

    The oracle reuses txt18's bit-exact coefficient CTE wholesale (the
    integer normal equations + unrolled Gauss-Jordan), so the trained
    gate inside the pipeline is value-checked, not shape-checked."""
    h = tok_hash(dialect, "CAST(doc_id AS STRING)")
    model = sql_quality_classifier(dialect)
    toks = split_ws(dialect, "d.text")
    kept_docs = (
        "docs AS (\n"
        "  SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, "
        f"{toks} AS toks\n"
        "  FROM documents d JOIN kept k ON d.doc_id = k.doc_id\n"
        ")"
    )
    keep_share = (
        "CAST(k.n_tokens_final AS DOUBLE) / CAST(k.n_tokens_kept AS DOUBLE)"
    )
    return f"""
WITH urls AS (SELECT doc_id, ({_URL_EXPR}) AS url FROM documents),
dom AS (SELECT doc_id, {_host_norm("url")} AS domain FROM urls),
ranked AS (
  SELECT doc_id, domain,
         row_number() OVER (PARTITION BY domain
                            ORDER BY ({h}) % {1 << 30} ASC, doc_id ASC) AS rn
  FROM dom
),
capped AS (SELECT doc_id, domain FROM ranked WHERE rn <= {DOMAIN_CAP}),
model AS ({model}),
gated AS (
  SELECT c.doc_id, c.domain, m.weak_label, m.keep
  FROM capped c JOIN model m ON c.doc_id = m.doc_id
),
kept AS (SELECT doc_id, domain FROM gated WHERE keep),
{span_cte_chain(dialect, 13, docs_body=kept_docs)},
per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_toks,
         CAST(sum(cov) AS BIGINT) AS n_drop,
         CAST(sum(span_start) AS BIGINT) AS n_spans
  FROM spans GROUP BY doc_id
),
dstats AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs
           FROM dom GROUP BY domain),
gstats AS (
  SELECT domain,
         CAST(count(*) AS BIGINT) AS n_capped,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
           AS n_model_kept,
         CAST(sum(weak_label) AS BIGINT) AS n_rule_kept,
         CAST(sum(CASE WHEN (weak_label = 1) <> keep THEN 1 ELSE 0 END)
              AS BIGINT) AS n_disagree
  FROM gated GROUP BY domain
),
kstats AS (
  SELECT k.domain,
         CAST(coalesce(sum(p.n_toks), 0) AS BIGINT) AS n_tokens_kept,
         CAST(coalesce(sum(p.n_toks - p.n_drop), 0) AS BIGINT)
           AS n_tokens_final,
         CAST(coalesce(sum(p.n_spans), 0) AS BIGINT) AS n_spans_removed
  FROM kept k LEFT JOIN per_doc p ON k.doc_id = p.doc_id
  GROUP BY k.domain
)
SELECT d.domain, d.n_docs,
       coalesce(g.n_capped, CAST(0 AS BIGINT)) AS n_capped,
       coalesce(g.n_model_kept, CAST(0 AS BIGINT)) AS n_model_kept,
       coalesce(g.n_rule_kept, CAST(0 AS BIGINT)) AS n_rule_kept,
       coalesce(g.n_disagree, CAST(0 AS BIGINT)) AS n_disagree,
       coalesce(k.n_tokens_kept, CAST(0 AS BIGINT)) AS n_tokens_kept,
       coalesce(k.n_tokens_final, CAST(0 AS BIGINT)) AS n_tokens_final,
       coalesce(k.n_spans_removed, CAST(0 AS BIGINT)) AS n_spans_removed,
       CASE WHEN coalesce(k.n_tokens_kept, CAST(0 AS BIGINT)) = 0
            THEN CAST(NULL AS DOUBLE)
            ELSE {r6t(keep_share)} END AS token_keep_share
FROM dstats d
LEFT JOIN gstats g ON d.domain = g.domain
LEFT JOIN kstats k ON d.domain = k.domain
ORDER BY d.domain
"""


def _sp13_model_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP13, Spark side: the OPERATOR composition — one marked frame
    (snapshotted: it feeds training AND scoring), train_quality_classifier
    (one integer aggregate + driver Gauss-Jordan), score_quality's JVM
    scan as the gate, capped_per_group for the caps, span_dedup over the
    model's survivors, one domain rollup carrying the rule-vs-model
    disagreement."""
    from ..operators.dedup import span_dedup
    from ..operators.quality import score_quality, train_quality_classifier
    from ..operators.sampling import capped_per_group
    from ..operators.text import normalize_host

    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    marked = spark.sql(_qc_marked_sql("spark")).localCheckpoint(eager=False)
    beta = train_quality_classifier(marked)
    scored = score_quality(marked, beta).select("doc_id", "weak_label", "keep")
    dom = (
        docs.selectExpr("doc_id", "text", f"({_URL_EXPR}) AS url")
        .withColumn("domain", normalize_host("url"))
        .drop("url")
    )
    capped = capped_per_group(dom, "domain", DOMAIN_CAP)
    gated = capped.join(scored, "doc_id").localCheckpoint(eager=False)
    kept = gated.filter(F.col("keep")).select("doc_id", "domain", "text")
    cleaned = span_dedup(kept.select("doc_id", "text"))
    per_doc = kept.select("doc_id", "domain").join(cleaned, "doc_id", "left")
    kstats = per_doc.groupBy("domain").agg(
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("bigint").alias(
            "n_tokens_kept"
        ),
        F.coalesce(
            F.sum(F.col("n_tokens") - F.col("n_dropped_tokens")), F.lit(0)
        ).cast("bigint").alias("n_tokens_final"),
        F.coalesce(F.sum("n_dropped_spans"), F.lit(0)).cast("bigint").alias(
            "n_spans_removed"
        ),
    )
    gstats = gated.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_capped"),
        F.sum(F.col("keep").cast("bigint")).alias("n_model_kept"),
        F.sum("weak_label").cast("bigint").alias("n_rule_kept"),
        F.sum(
            ((F.col("weak_label") == 1) != F.col("keep")).cast("bigint")
        ).alias("n_disagree"),
    )
    dstats = dom.groupBy("domain").agg(F.count(F.lit(1)).alias("n_docs"))
    share = F.col("n_tokens_final").cast("double") / F.col(
        "n_tokens_kept"
    ).cast("double")
    from ..functions.scalars import r6

    z = F.lit(0).cast("bigint")
    return (
        dstats.join(gstats, "domain", "left")
        .join(kstats, "domain", "left")
        .select(
            "domain", "n_docs",
            F.coalesce("n_capped", z).alias("n_capped"),
            F.coalesce("n_model_kept", z).alias("n_model_kept"),
            F.coalesce("n_rule_kept", z).alias("n_rule_kept"),
            F.coalesce("n_disagree", z).alias("n_disagree"),
            F.coalesce("n_tokens_kept", z).alias("n_tokens_kept"),
            F.coalesce("n_tokens_final", z).alias("n_tokens_final"),
            F.coalesce("n_spans_removed", z).alias("n_spans_removed"),
            F.when(
                F.coalesce("n_tokens_kept", z) == 0,
                F.lit(None).cast("double"),
            ).otherwise(r6(share)).alias("token_keep_share"),
        )
        .orderBy("domain")
    )


QUERIES["sp13_model_curated_corpus"] = _sp13_model_curated_corpus
TEXT_ORACLES["sp13_model_curated_corpus"] = sql_model_curated_corpus("duck")


# --- TXT20: CCNet head/middle/tail perplexity buckets ------------------------
def sql_ccnet_buckets(dialect: str) -> str:
    """TXT20 — CCNet's actual OUTPUT shape (Wenzek et al. 2020): per
    language, rank documents by LM perplexity and split them into
    equal-thirds HEAD / MIDDLE / TAIL buckets — downstream consumers
    train on head (+middle), and the published per-bucket perplexity
    cut-offs are what make the split reproducible.  txt15 is the binary
    keep/drop form; this is the graded form a pipeline owner actually
    ships, with the cut values (per-bucket min/max perplexity) in the
    rows.  Unscored docs (NULL text / <2 tokens — no bigram evidence)
    land in an explicit 'unscored' bucket rather than silently joining
    tail: they are a different CLASS of document, and CCNet drops them
    before bucketing.

    Determinism: ntile(3) over the total order (r6-rounded perplexity
    ASC, doc_id ASC) — the standard first-buckets-take-the-remainder
    rule is identical in Spark and DuckDB, and the total order makes
    boundary assignment exact, so bucket membership (not just counts)
    is engine-identical.  Scale shape: txt12's scoring plan + one
    doc-id equi-join + ONE per-language window (the ntile rank — a
    language is one partition; languages are the parallelism unit) +
    one rollup."""
    inner = sql_bigram_lm(dialect)
    return f"""
WITH scores AS ({inner}),
scored AS (
  SELECT d.doc_id, d.lang, d.n_chars, s.perplexity
  FROM documents d LEFT JOIN scores s ON d.doc_id = s.doc_id
),
ranked AS (
  SELECT lang, doc_id, n_chars, perplexity,
         ntile(3) OVER (PARTITION BY lang
                        ORDER BY perplexity ASC, doc_id ASC) AS nt
  FROM scored WHERE perplexity IS NOT NULL
),
buckets AS (
  SELECT lang,
         CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                 ELSE 'tail' END AS bucket,
         doc_id, n_chars, perplexity
  FROM ranked
  UNION ALL
  SELECT lang, 'unscored' AS bucket, doc_id, n_chars,
         CAST(NULL AS DOUBLE) AS perplexity
  FROM scored WHERE perplexity IS NULL
)
SELECT lang, bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       min(perplexity) AS ppl_lo,
       max(perplexity) AS ppl_hi
FROM buckets
GROUP BY lang, bucket
ORDER BY lang, bucket
"""


def _txt20_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(sql_ccnet_buckets("spark"))


QUERIES["txt20_ccnet_buckets"] = _txt20_ccnet_buckets
TEXT_ORACLES["txt20_ccnet_buckets"] = sql_ccnet_buckets("duck")


# --- TXT21: DSIR importance resampling (Xie et al. 2023) ----------------------
DSIR_BUCKETS = 64     # hashed n-gram feature buckets (DSIR's hashing trick)
DSIR_K = 100          # resampled corpus size
DSIR_TARGET = "en"    # target distribution = the English slice


def _dsir_head_ctes(dialect: str) -> str:
    """docs → featdocs → feat_rows → bucketed: the (doc_id, lang, b)
    hashed-feature frame shared by sql_dsir's pure rendering and the
    registered plan's materialized snapshot (dsir_bucketed_sql)."""
    toks = "toks"
    n = list_len(dialect, toks)
    # bigram list; both engines: 1-based element_at/[] indexing
    big_body = (
        f"{elem_str(dialect, toks, 'CAST(i AS INT)')} || ' ' || "
        f"{elem_str(dialect, toks, 'CAST(i + 1 AS INT)')}"
    )
    bigrams = transform(
        dialect, seq(dialect, "1", f"{n} - 1"), big_body, var="i"
    )
    # docs all carry >= 10 tokens (min pinned by test); the n>=2 guard
    # keeps the sequence() endpoints ordered for single-token docs, where
    # Spark's sequence(1, 0) would DESCEND while DuckDB's is empty
    feats = (
        f"CASE WHEN {n} >= 2 THEN "
        f"concat(toks, {bigrams}) ELSE toks END"
        if dialect == "spark"
        else f"CASE WHEN {n} >= 2 THEN list_concat(toks, {bigrams}) ELSE toks END"
    )
    b = f"({tok_hash(dialect, 'feat')}) % {DSIR_BUCKETS}"
    feat_rows = explode_from(
        dialect, "featdocs", "feats", "feat", "doc_id, lang"
    )
    return f"""{docs_cte(dialect)},
featdocs AS (
  SELECT doc_id, lang, {feats} AS feats FROM docs
),
feat_rows AS ({feat_rows}),
bucketed AS (
  SELECT doc_id, lang, {b} AS b FROM feat_rows
)"""


def dsir_bucketed_sql(dialect: str) -> str:
    """Standalone (doc_id, lang, b) rendering — what the registered txt21
    plan localCheckpoints before the three counting consumers."""
    return f"WITH {_dsir_head_ctes(dialect)} SELECT doc_id, lang, b FROM bucketed"


def sql_dsir(dialect: str, bucketed_source: str | None = None) -> str:
    """TXT21 — DSIR-style data selection (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): estimate
    importance weights between a TARGET distribution (here the
    ``lang='{DSIR_TARGET}'`` slice) and the RAW corpus over hashed
    n-gram features, then resample the raw corpus by those weights.

    Faithful-to-paper pieces, each made bit-exact across engines:

    * features = unigrams + bigrams hashed into ``DSIR_BUCKETS`` buckets
      (txt13's hashing trick, tok_hash — engine-neutral);
    * the two distributions are map-combinable INTEGER count tables
      (txt12's layout) with add-one smoothing, so every per-bucket ratio
      is a ratio of two BIGINTs;
    * the per-bucket log-ratio is rounded HALF-UP AT 1e-6 INTO INTEGER
      MICRO-UNITS (``floor(ln(r)·1e6 + 0.5)``) — the txt18 trick: the
      only float op is one ln per BUCKET (64 rows), and the per-document
      weight is then an exact BIGINT sum, order-independent under any
      shuffle, identical in both engines;
    * log-weight is length-normalized (mean per-feature log-ratio — the
      bag-of-ngrams weight divided by feature count, the standard
      normalization that keeps exp() in range for any doc length);
    * sampling is deterministic weighted reservoir (Efraimidis-Spirakis
      A-Res): key = ln(u)/w with u a hash-derived uniform in (0,1) — no
      RNG, replayable, same top-``DSIR_K`` in both engines.

    Scale shape: one explode + one groupBy for each count table (the
    target table is a filtered second aggregate of the SAME exploded
    frame), a broadcast-sized 64-row ratio join, one per-doc integer
    aggregate, one global top-k window.  At 100 TB the count tables are
    64 rows (map-side combine does all the work) and the only wide
    operation is the final rank — replaceable by a threshold on the key
    when k is a fraction, exactly as the paper samples."""
    # u in (0,1): hash the doc id string — integer-derived, exact
    u = (
        f"(CAST(({tok_hash(dialect, squote_concat(dialect))}) + 1 AS DOUBLE)"
        f" / CAST({P_MOD} + 1 AS DOUBLE))"
    )
    lr = (
        f"ln((CAST(coalesce(np, 0) + 1 AS DOUBLE) * "
        f"CAST(nq_total + {DSIR_BUCKETS} AS DOUBLE)) / "
        f"(CAST(nq + 1 AS DOUBLE) * "
        f"CAST(np_total + {DSIR_BUCKETS} AS DOUBLE)))"
    )
    if bucketed_source:
        # the registered Spark plan passes a localCheckpoint snapshot of
        # the (doc_id, lang, b) frame: Spark inlines CTEs, so the pure
        # rendering re-runs the explode + per-feature char-fold hashing
        # once per consumer (raw_counts / tgt_counts / perdoc = 3x the
        # dominant cost; the dd2 lesson — see _txt21_dsir_resample for
        # the measurement).  DuckDB materializes multi-reference CTEs
        # itself, so the oracle keeps the inline form.
        # docs stays: the weighted CTE joins it for lang (Catalyst prunes
        # its unused toks column out of the scan)
        head_ctes = (
            f"{docs_cte(dialect)},\n"
            f"bucketed AS (SELECT doc_id, lang, b FROM {bucketed_source}),"
        )
    else:
        head_ctes = _dsir_head_ctes(dialect) + ","
    return f"""
WITH {head_ctes}
raw_counts AS (
  SELECT b, CAST(count(*) AS BIGINT) AS nq FROM bucketed GROUP BY b
),
tgt_counts AS (
  SELECT b, CAST(count(*) AS BIGINT) AS np FROM bucketed
  WHERE lang = '{DSIR_TARGET}' GROUP BY b
),
totals AS (
  SELECT CAST(sum(nq) AS BIGINT) AS nq_total FROM raw_counts
),
tgt_totals AS (
  SELECT CAST(coalesce(sum(np), 0) AS BIGINT) AS np_total FROM tgt_counts
),
ratios AS (
  SELECT r.b,
         CAST(floor(({lr}) * {d('1000000.0')} + {d('0.5')}) AS BIGINT)
           AS lr_micro
  FROM raw_counts r
  LEFT JOIN tgt_counts t ON r.b = t.b
  CROSS JOIN totals CROSS JOIN tgt_totals
),
perdoc AS (
  SELECT bu.doc_id,
         CAST(count(*) AS BIGINT) AS n_feats,
         CAST(sum(lr_micro) AS BIGINT) AS lr_micro_sum
  FROM bucketed bu JOIN ratios ra ON bu.b = ra.b
  GROUP BY bu.doc_id
),
weighted AS (
  SELECT d2.doc_id, d2.lang, n_feats, lr_micro_sum,
         {r6t(f"CAST(lr_micro_sum AS DOUBLE) / {d('1000000.0')} / CAST(n_feats AS DOUBLE)")} AS logw
  FROM perdoc p JOIN docs d2 ON p.doc_id = d2.doc_id
),
keyed AS (
  SELECT doc_id, lang, n_feats, lr_micro_sum, logw,
         {r6t(f"ln({u}) / exp(logw)")} AS res_key
  FROM weighted
)
SELECT doc_id, lang, n_feats, lr_micro_sum, logw,
       CAST(row_number() OVER (ORDER BY res_key DESC, doc_id ASC) AS BIGINT)
         AS sample_rank,
       row_number() OVER (ORDER BY res_key DESC, doc_id ASC) <= {DSIR_K}
         AS sampled
FROM keyed
"""


def elem_str(dialect: str, lst: str, i: str) -> str:
    """1-based list element access (string result) — both engines."""
    if dialect == "spark":
        return f"element_at({lst}, {i})"
    return f"({lst})[{i}]"


def squote_concat(dialect: str) -> str:
    """The A-Res uniform's hash input: 'u' || doc_id as a string —
    the canonical BIGINT decimal rendering in both engines."""
    t = "STRING" if dialect == "spark" else "VARCHAR"
    return f"'u' || CAST(doc_id AS {t})"


def _txt21_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TXT21, Spark side: the dd2-style SNAPSHOT form — the bucketed
    (doc_id, lang, b) frame is localCheckpointed before its three
    consumers (raw_counts / tgt_counts / perdoc), because Spark inlines
    CTEs and the pure rendering re-runs the explode plus the per-feature
    char-fold hashing — the query's dominant cost — once per consumer.
    Unlike txt12 (whose explode is a cheap narrow transform and whose
    snapshot was measured SLOWER), the hashing here is dd2-class heavy
    and the snapshot is SMALLER than its input: measured standalone-warm
    at sf0.1, pure median 6.95 s [6.24, 7.72] vs snapshot 4.39 s
    [4.18, 5.13] over 5 runs (−37%).  Parity and
    value-identity with the pure form are pinned by
    test_text_dedup.py::test_txt21_snapshot_form_matches_pure."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    bucketed = spark.sql(dsir_bucketed_sql("spark")).localCheckpoint(eager=False)
    bucketed.createOrReplaceTempView("txt21_bucketed_snapshot")
    return spark.sql(
        sql_dsir("spark", bucketed_source="txt21_bucketed_snapshot")
    )


QUERIES["txt21_dsir_resample"] = _txt21_dsir_resample
TEXT_ORACLES["txt21_dsir_resample"] = sql_dsir("duck")


# --- TXT22: BM25 retrieval ----------------------------------------------------
BM25_K1 = "1.2"
BM25_B = "0.75"
BM25_TOPK = 10
BM25_MAX_QUERY_ID = 5000   # fixed retrieval workload (see scale note)


def sql_bm25(dialect: str) -> str:
    """TXT22 — BM25 (Robertson/Spärck Jones) corpus retrieval, the
    standard lexical scorer for corpus curation & retrieval-based data
    selection: for txt14's bounded query set (doc_id % 97 = 0), the
    top-10 corpus docs by

        score(q,d) = Σ_{{t ∈ q}} idf(t) · tf(t,d)·(k1+1) /
                      (tf(t,d) + k1·(1 − b + b·|d|/avgdl))

    with the non-negative idf = ln(1 + (N − df + 0.5)/(df + 0.5)),
    k1=1.2, b=0.75 (the Lucene/Robertson defaults).

    Bit-exactness across engines (the txt18/txt21 integer trick): the
    per-(query,term,doc) contribution is rounded half-up into INTEGER
    MICRO-UNITS, so the per-(query,doc) score is an exact BIGINT sum —
    order-independent under any shuffle — and the top-10 cut ranks on
    (score_micro DESC, match_doc ASC), a pure integer total order.  The
    only float ops are one idf ln per distinct TERM and one tf
    normalization per scored row, identical expression text in both
    engines.

    Scale shape: tf and df are ONE df-aggregate each on the token key
    (txt16's layout, map-combinable counts); the query side is a FIXED
    retrieval workload (doc_id < {BM25_MAX_QUERY_ID} — a production
    query load does not grow with the corpus; the corpus-proportional
    form measured 5.4x at 4x docs, the |Q|*N trap) and broadcasts;
    candidates stream through a single corpus-side shuffle on the term
    key (the w12/txt14 relationship).  Per query the exact score is
    linear in the matched postings - this synthetic corpus' ~40-word
    dense vocabulary is the worst case (every term posts every doc);
    on a Zipfian vocabulary the standard high-df stop-term cut (one
    predicate on the df table computed here; the dropped head carries
    idf ~ ln(1+0.5/N) ~ 0, so ranking is untouched) bounds every
    posting list, txt14's 1.3x shape.  The cut stays OFF here because
    it would drop the entire dense vocabulary."""
    tok_rows = explode_from(dialect, "docs", "toks", "tok", "doc_id")
    return f"""
WITH {docs_cte(dialect)},
tok_rows AS ({tok_rows}),
tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM tok_rows GROUP BY doc_id, tok
),
doclen AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok_rows GROUP BY doc_id
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM doclen
),
df AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
),
{_bm25_score_tail()}"""


def _bm25_score_tail() -> str:
    """The dialect-neutral scoring tail shared BYTE-FOR-BYTE by txt22's
    one-shot body and txt23's read-from-the-posting-tables form: the
    query workload, the integer micro-unit contribution, the per-(query,
    doc) BIGINT sum, and the top-k cut.  Everything upstream (tf / doclen
    / stats / df) is the part the posting tables replace."""
    k1 = d(BM25_K1)
    bb = d(BM25_B)
    idf = "ln(1 + (CAST(n_docs - df AS DOUBLE) + {h}) / (CAST(df AS DOUBLE) + {h}))".format(
        h=d("0.5")
    )
    tfnorm = (
        f"(CAST(tf AS DOUBLE) * ({k1} + {d('1.0')})) / "
        f"(CAST(tf AS DOUBLE) + {k1} * ({d('1.0')} - {bb} + {bb} * "
        f"CAST(dl AS DOUBLE) / avgdl))"
    )
    return f"""qterms AS (
  SELECT doc_id AS query_doc, tok FROM tf
  WHERE doc_id % 97 = 0 AND doc_id < {BM25_MAX_QUERY_ID}
),
contrib AS (
  SELECT q.query_doc, c.doc_id AS match_doc,
         CAST(floor(({idf}) * ({tfnorm}) * {d('1000000.0')} + {d('0.5')})
              AS BIGINT) AS w_micro
  FROM qterms q
  JOIN tf c ON c.tok = q.tok AND c.doc_id <> q.query_doc
  JOIN df ON df.tok = q.tok
  JOIN doclen ON doclen.doc_id = c.doc_id
  CROSS JOIN stats
),
scored AS (
  SELECT query_doc, match_doc,
         CAST(count(*) AS BIGINT) AS n_common_terms,
         CAST(sum(w_micro) AS BIGINT) AS score_micro
  FROM contrib GROUP BY query_doc, match_doc
),
ranked AS (
  SELECT query_doc, match_doc, n_common_terms, score_micro,
         row_number() OVER (PARTITION BY query_doc
                            ORDER BY score_micro DESC, match_doc ASC) AS rnk
  FROM scored
)
SELECT query_doc, match_doc, n_common_terms, score_micro,
       {r6t(f"CAST(score_micro AS DOUBLE) / {d('1000000.0')}")} AS bm25,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {BM25_TOPK}
"""


def _txt22_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(sql_bm25("spark"))


QUERIES["txt22_bm25_retrieval"] = _txt22_bm25_retrieval
TEXT_ORACLES["txt22_bm25_retrieval"] = sql_bm25("duck")


# --- DD15: paragraph-hash dedup (the CCNet pre-LM step) -----------------------
DD15_PAR_TOKENS = 20   # pseudo-paragraph size (tokens)
DD15_PLANT_BASE = 1_000_000
DD15_N_PLANT = 5


def _par_slice(dialect: str, s: str) -> str:
    """Paragraph text = tokens [s, s+P-1] joined by one space."""
    p = DD15_PAR_TOKENS
    if dialect == "spark":
        return f"array_join(slice(toks, {s}, {p}), ' ')"
    return f"array_to_string(list_slice(toks, {s}, ({s}) + {p - 1}), ' ')"


def sql_paragraph_dedup(dialect: str) -> str:
    """DD15 — paragraph-hash deduplication, CCNet's step BEFORE LM
    scoring (Wenzek et al. 2020 dedup by paragraph hash; txt20 ships the
    head/middle/tail output that FOLLOWS this step): hash every
    paragraph, keep the globally FIRST occurrence (lowest (doc_id,
    position) — the min-id policy; dd14's keep-latest is the same window
    with the order flipped), drop the rest, and report per-doc damage.
    The paragraph sits between the engine's existing dedup units — whole
    docs (dd1/dd14) and 13-gram spans (txt17): an exact repeated
    paragraph is invisible to dd1 when the docs differ elsewhere, and a
    shared run that CROSSES a paragraph boundary is invisible here while
    txt17 catches it (pinned by test).

    The corpus has no newline breaks, so the paragraph unit is a fixed
    {P}-token segmentation (documented pseudo-paragraphs — the unit is a
    parameter, the machinery is the point).  Synthetic corpora also
    carry no natural cross-doc repeats, so the plan PLANTS them (dq4's
    in-plan fixture pattern): for each doc_id < {NP}, a planted doc
    ({BASE}+doc_id) whose text IS that doc's first paragraph — the
    original wins the min-id race, the planted doc's single paragraph
    dedups away (n_kept_pars = 0), visible in the rows.

    Scale shape: one explode to paragraph rows (bounded fan-out:
    n_tokens/{P} rows per doc), ONE shuffle on the paragraph hash for
    the first-occurrence window, one count-back per doc.  All counts
    integer — hash-exact across engines.  At 100 TB this is txt17's
    scale shape with a ~{P}× smaller explode; the hash key is
    high-cardinality by construction."""
    tok_hash_par = tok_hash(dialect, "par_text")
    n = list_len(dialect, "toks")
    n_pars = idiv(dialect, f"({n}) + {DD15_PAR_TOKENS - 1}", str(DD15_PAR_TOKENS))
    planted_text = _par_slice(dialect, "1")
    return f"""
WITH base AS (
  SELECT doc_id, text, lang, source, n_chars FROM documents
  UNION ALL
  SELECT {DD15_PLANT_BASE} + doc_id AS doc_id,
         {planted_text} AS text,
         lang, source, CAST(length({planted_text}) AS BIGINT) AS n_chars
  FROM (
    SELECT doc_id, lang, source, {split_ws(dialect, "text")} AS toks
    FROM documents WHERE doc_id < {DD15_N_PLANT}
  ) seeds
),
docs AS (
  SELECT doc_id, lang, {split_ws(dialect, "text")} AS toks FROM base
),
par_idx AS (
  {explode_from(dialect, f"(SELECT doc_id, lang, toks, {n_pars} AS np FROM docs)",
                f"{seq(dialect, '0', 'np - 1')}", "pi", "doc_id, lang, toks")}
),
pars AS (
  SELECT doc_id, lang, pi,
         {_par_slice(dialect, f"CAST(pi AS INT) * {DD15_PAR_TOKENS} + 1")}
           AS par_text
  FROM par_idx
),
hashed AS (
  SELECT doc_id, lang, pi, {tok_hash_par} AS ph FROM pars
),
marked AS (
  SELECT doc_id, lang, pi, ph,
         row_number() OVER (PARTITION BY ph
                            ORDER BY doc_id ASC, pi ASC) AS occ
  FROM hashed
)
SELECT doc_id, lang,
       CAST(count(*) AS BIGINT) AS n_pars,
       CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_pars,
       CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept_pars
FROM marked
GROUP BY doc_id, lang
"""


def _dd15_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(sql_paragraph_dedup("spark"))


QUERIES["dd15_paragraph_dedup"] = _dd15_paragraph_dedup
TEXT_ORACLES["dd15_paragraph_dedup"] = sql_paragraph_dedup("duck")


# --- SP14 (r15, staged in r14): DoReMi domain reweighting ---------------------
DOREMI_ETA = "1.0"       # exponentiated-gradient step size (paper's η)
DOREMI_SMOOTH = "0.01"   # uniform-smoothing mass (paper's c)
DOREMI_BUDGET = 1_000_000  # tokens to allocate across domains


def sql_doremi(dialect: str) -> str:
    """SP14 — DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    Optimizing Data Mixtures Speeds Up Language Model Pretraining"): one
    exponentiated-gradient step  α'_d ∝ α_d · exp(η · excess_d)  from the
    baseline token-share mixture, smoothed with the uniform distribution
    ((1-c)·α'_norm + c/K), then an EXACT integer largest-remainder
    allocation of a token budget by the new weights — the artifact a
    training launch consumes.

    The paper's excess loss is proxy-vs-reference NLL measured per domain
    while training the proxy under group DRO; a deterministic engine has
    no SGD, so the excess here is the in-engine LEARNABILITY GAP: mean
    unigram NLL − mean bigram NLL per domain (both models add-one-smoothed
    and self-trained on the corpus, txt12's layout), clipped at 0 — the
    gain context provides, largest exactly where the richer model finds
    learnable structure.  Any externally-measured per-domain excess drops
    into the same EG arithmetic unchanged.

    Bit-exactness (the txt18/txt21 integer discipline): both count tables
    are BIGINT; per-DISTINCT-token/-bigram NLL is rounded half-up into
    integer MICRO-NATS (one ln per vocab/bigram row), so every per-domain
    sum is an exact BIGINT under any shuffle order.  The EG step runs on
    K ≈ 20 domain rows — exp/division on BIGINT-derived doubles; exp/ln
    are not correctly-rounded and may differ by ulps between libm
    implementations, but the half-up rounding into micro/nano units
    makes a boundary hit measurably improbable (the txt12/txt18
    precedent; no flake observed across SFs) — and every CROSS-ROW
    reduction after it
    (weight normalization, budget allocation) is again over BIGINTs
    (w_micro), so no float window-sum order can differ.  The allocation is
    pure integer arithmetic: alloc₀ = ⌊B·w_micro/Σw_micro⌋, remainders
    ranked (DESC, domain ASC), leftover = B − Σalloc₀ spread one token
    each — Σalloc = B exactly, every engine, every partitioning.

    Scale shape: one explode + lead window (the txt12 layout); count
    tables are map-combinable and vocab/bigram-bounded; the two NLL joins
    shuffle on token keys (natural Zipf only — the hot function words are
    the well-estimated ones); domain rollups are K rows and the EG/
    allocation math never touches the corpus again."""
    tok_rows = explode_with_pos(dialect, "docs", "toks", "pos", "tok", "doc_id")
    micro = d("1000000.0")
    uni_nll = (
        f"CAST(floor(-ln(CAST(cu + 1 AS DOUBLE) / CAST(n_tok + v AS DOUBLE))"
        f" * {micro} + {d('0.5')}) AS BIGINT)"
    )
    big_nll = (
        f"CAST(floor(-ln(CAST(cb + 1 AS DOUBLE) / CAST(cx + v AS DOUBLE))"
        f" * {micro} + {d('0.5')}) AS BIGINT)"
    )
    uni_mean = "CAST(nll_uni_micro AS DOUBLE) / CAST(n_tokens AS DOUBLE)"
    big_mean = "CAST(nll_big_micro AS DOUBLE) / CAST(n_bigrams AS DOUBLE)"
    share0 = "CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE)"
    w_raw_nano = (
        f"CAST(floor(({share0}) * exp({d(DOREMI_ETA)} * "
        f"CAST(excess_micro AS DOUBLE) / {micro}) * {d('1000000000.0')}"
        f" + {d('0.5')}) AS BIGINT)"
    )
    w_smooth = (
        f"({d('1.0')} - {d(DOREMI_SMOOTH)}) * "
        f"(CAST(w_raw_nano AS DOUBLE) / CAST(w_raw_tot AS DOUBLE)) + "
        f"{d(DOREMI_SMOOTH)} / CAST(k_domains AS DOUBLE)"
    )
    b = DOREMI_BUDGET
    return f"""
WITH {docs_cte(dialect)},
tok_rows AS ({tok_rows}),
doc_dom AS (SELECT doc_id, source AS domain FROM docs),
uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cu FROM tok_rows GROUP BY tok),
tot AS (
  SELECT CAST(sum(cu) AS BIGINT) AS n_tok, CAST(count(*) AS BIGINT) AS v
  FROM uc
),
uni_lp AS (
  SELECT tok, {uni_nll} AS nll_micro FROM uc CROSS JOIN tot
),
big AS (
  SELECT doc_id, tok AS w1,
         lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos ASC) AS w2
  FROM tok_rows
),
bigp AS (SELECT doc_id, w1, w2 FROM big WHERE w2 IS NOT NULL),
bc AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM bigp GROUP BY w1, w2
),
cxt AS (SELECT w1, CAST(count(*) AS BIGINT) AS cx FROM bigp GROUP BY w1),
big_lp AS (
  SELECT bc.w1, bc.w2, {big_nll} AS nll_micro
  FROM bc JOIN cxt ON bc.w1 = cxt.w1 CROSS JOIN tot
),
uni_dom AS (
  SELECT dd.domain,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(ul.nll_micro) AS BIGINT) AS nll_uni_micro
  FROM tok_rows tr
  JOIN uni_lp ul ON tr.tok = ul.tok
  JOIN doc_dom dd ON tr.doc_id = dd.doc_id
  GROUP BY dd.domain
),
big_dom AS (
  SELECT dd.domain,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(bl.nll_micro) AS BIGINT) AS nll_big_micro
  FROM bigp bp
  JOIN big_lp bl ON bp.w1 = bl.w1 AND bp.w2 = bl.w2
  JOIN doc_dom dd ON bp.doc_id = dd.doc_id
  GROUP BY dd.domain
),
ndocs AS (
  SELECT domain, CAST(count(*) AS BIGINT) AS n_docs FROM doc_dom
  GROUP BY domain
),
loss AS (
  SELECT n.domain, n.n_docs, u.n_tokens, b2.n_bigrams,
         u.nll_uni_micro, b2.nll_big_micro,
         CAST(floor(greatest({d('0.0')}, ({uni_mean}) - ({big_mean}))
              + {d('0.5')}) AS BIGINT) AS excess_micro
  FROM ndocs n
  JOIN uni_dom u ON n.domain = u.domain
  JOIN big_dom b2 ON n.domain = b2.domain
),
raw AS (
  SELECT *, {w_raw_nano} AS w_raw_nano,
         CAST(count(*) OVER () AS BIGINT) AS k_domains
  FROM loss
),
normed AS (
  SELECT *, CAST(sum(w_raw_nano) OVER () AS BIGINT) AS w_raw_tot FROM raw
),
weighted AS (
  SELECT *, CAST(floor(({w_smooth}) * {micro} + {d('0.5')}) AS BIGINT)
              AS w_micro
  FROM normed
),
alloc0 AS (
  SELECT *, CAST(sum(w_micro) OVER () AS BIGINT) AS w_tot,
         {idiv(dialect, f"{b} * w_micro", "CAST(sum(w_micro) OVER () AS BIGINT)")}
           AS alloc_base
  FROM weighted
),
ranked AS (
  SELECT *, {b} * w_micro - alloc_base * w_tot AS remainder,
         CAST({b} - sum(alloc_base) OVER () AS BIGINT) AS leftover,
         row_number() OVER (
           ORDER BY {b} * w_micro - alloc_base * w_tot DESC, domain ASC
         ) AS rrank
  FROM alloc0
)
SELECT domain, n_docs, n_tokens, n_bigrams, nll_uni_micro, nll_big_micro,
       excess_micro,
       {r6t(w_smooth)} AS weight,
       CAST(alloc_base + CASE WHEN rrank <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM ranked
"""


def _sp14_doremi_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP14, Spark side: the pure rendering (txt12's measured lesson —
    the explode is a cheap narrow transform; 3 pipelined CTE re-reads
    beat one materialize + three reads at sf0.1)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(sql_doremi("spark"))


QUERIES["sp14_doremi_mixture"] = _sp14_doremi_mixture
TEXT_ORACLES["sp14_doremi_mixture"] = sql_doremi("duck")


# --- SP15 (r15, staged in r14): curriculum shard manifests --------------------
SP15_SHARDS = 8
SP15_CKSUM_MOD = 1_000_000_007


def sql_curriculum_shards(dialect: str) -> str:
    """SP15 — curriculum shard manifests: the training-launch artifact
    after the corpus is curated (sp7/sp12) and packed (sp5/mm12) — an
    easy-to-hard GLOBAL order (Bengio et al. 2009 curriculum learning;
    difficulty = txt12's bigram-LM perplexity, the CCNet-style proxy)
    cut into ``SP15_SHARDS`` contiguous, ±1-equal-count phases, one
    manifest row per shard: doc/token counts, the difficulty band
    covered, and an order-independent integer content checksum a resume
    or re-shard can verify against.

    The global rank is the scale problem: ``row_number() OVER (ORDER BY
    ...)`` is a SINGLE-PARTITION window — the one shape that cannot
    survive 100 TB.  Ranked here with the TWO-LEVEL decomposition
    instead: coarse integer difficulty buckets (floor of the rounded
    perplexity — a FEW DOZEN rows at any corpus size) carry a running
    offset computed by a window over that tiny bucket table, and the
    expensive ranking runs as ``row_number() PARTITION BY bucket`` —
    fully parallel, shuffled on the bucket key.  global_rank = bucket
    offset + within-bucket rank reproduces the exact total order
    (perplexity ASC, doc_id ASC) with no single-partition stage; shard
    assignment is then pure integer arithmetic, ⌊S·(rank−1)/N⌋.

    Determinism: the order key is the SHARED r6-rounded perplexity with
    the doc_id tie-break (a total order, so both engines agree even
    when a shard boundary splits equal-difficulty docs); counts and the
    checksum (Σ char-fold hash per doc) are exact BIGINT sums; the only
    floats in the output are the min/max of already-rounded values.
    n_tokens = n_bigrams + 1 per doc (every corpus doc carries ≥ 10
    tokens — pinned by test; unscorable docs would be dropped by txt15
    upstream of a training launch).

    Scale shape: txt12's scoring plan + one small-table window + one
    bucket-key window + a shard rollup.  The manifest is S rows; the
    physical write of the shards themselves is the same range-partition
    this rank defines."""
    h = tok_hash(dialect, "'s' || CAST(doc_id AS STRING)")
    s, m = SP15_SHARDS, SP15_CKSUM_MOD
    return f"""
WITH {_sp15_sharded_ctes(dialect)}
SELECT CAST(shard_id AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(ppl) AS ppl_min,
       max(ppl) AS ppl_max,
       CAST(sum(({h}) % {m}) AS BIGINT) AS checksum
FROM sharded
GROUP BY shard_id
ORDER BY shard_id
"""


def _sp15_sharded_ctes(dialect: str) -> str:
    """sp15's shared CTE chain up to the DOC-LEVEL ``sharded`` frame
    (doc_id, ppl, n_tokens, shard_id) — the manifest rollup AND the
    physical shard write both read it (write_curriculum_shards), so
    the written layout can never drift from the published manifest.
    Byte-inert factoring of sql_curriculum_shards (md5-checked)."""
    s = SP15_SHARDS
    grank = "boff.offset_0 + w.wrk"
    return f"""scores AS ({sql_bigram_lm(dialect)}),
scored AS (
  SELECT doc_id, perplexity AS ppl,
         CAST(n_bigrams + 1 AS BIGINT) AS n_tokens,
         CAST(floor(perplexity) AS BIGINT) AS bucket
  FROM scores
),
bcounts AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM scored GROUP BY bucket
),
boffsets AS (
  SELECT bucket,
         CAST(sum(n) OVER (ORDER BY bucket ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n AS BIGINT) AS offset_0,
         CAST(sum(n) OVER () AS BIGINT) AS n_total
  FROM bcounts
),
ranked AS (
  SELECT w.doc_id, w.ppl, w.n_tokens,
         CAST({grank} AS BIGINT) AS grank, boff.n_total
  FROM (
    SELECT doc_id, ppl, n_tokens, bucket,
           CAST(row_number() OVER (
             PARTITION BY bucket ORDER BY ppl ASC, doc_id ASC
           ) AS BIGINT) AS wrk
    FROM scored
  ) w
  JOIN boffsets boff ON w.bucket = boff.bucket
),
sharded AS (
  SELECT doc_id, ppl, n_tokens,
         {idiv(dialect, f"{s} * (grank - 1)", "n_total")} AS shard_id
  FROM ranked
)"""


def write_curriculum_shards(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Materialize sp15's curriculum as the PHYSICAL layout its manifest
    describes: the doc-level ``sharded`` frame written hive-partitioned
    on ``shard_id`` — the range-partition the two-level rank defines
    (the sp15 docstring's claim, now a real write).  A training loader
    reads one ``shard_id=`` directory per phase (directory-level
    pruning, scan-metric-tested in tests/test_sinks.py), and the
    written files re-aggregate EXACTLY to the published manifest —
    write and manifest read the same CTE chain, so they cannot drift."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    df = spark.sql(
        f"WITH {_sp15_sharded_ctes('spark')} "
        "SELECT doc_id, ppl, n_tokens, CAST(shard_id AS BIGINT) AS shard_id "
        "FROM sharded"
    )
    df.write.mode("overwrite").partitionBy("shard_id").parquet(path)


def _sp15_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP15, Spark side: the pure rendering (the scoring explode is the
    txt12/txt15 narrow transform; the two-level rank adds one tiny
    window and one bucket-partitioned window on top)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(sql_curriculum_shards("spark"))


QUERIES["sp15_curriculum_shards"] = _sp15_curriculum_shards
TEXT_ORACLES["sp15_curriculum_shards"] = sql_curriculum_shards("duck")


# --- DD17: quality-aware dup-cluster survivor selection -----------------------
def sql_quality_survivors(dialect: str) -> str:
    """DD17 — QUALITY-AWARE survivor selection per duplicate cluster.

    Every dedup family so far keeps min-id (dd6 components, emb15
    SemDeDup) or latest-revision (dd14) — an ARBITRARY copy.  Lee et
    al. 2022 §4 keeps one arbitrary copy and flags the choice as open;
    production corpus dedup (C4 / FineWeb-style pipelines) ranks the
    copies and keeps the BEST one.  dd17 closes that: for each dd6
    connected component the survivor is argmax(quality_score) under
    txt18's TRAINED classifier, doc_id ASC as the deterministic
    tie-break, reported side-by-side with the min-id policy — survivor
    identity, both scores, both char counts, the per-cluster quality
    gain and char delta.  The report a pipeline owner reads to decide
    whether quality-keep is worth the extra scoring pass.

    Oracle = dd6's recursive-CTE closure + txt18's bit-exact trained
    model (integer normal equations + unrolled Gauss-Jordan, nested
    wholesale as a CTE — the sp13 pattern) + one window argmax, so the
    composed verdict is value-checked end-to-end.  DuckDB-only for the
    closure (sql_dup_clusters: Spark 4.1 rejects set-semantics UNION in
    recursive CTEs); the ENGINE path is the iterative
    operators.dedup.dup_clusters.

    Scale shape: the classifier is one corpus statistics pass (txt18);
    the cluster map covers only docs that appear in a candidate pair;
    the argmax window partitions by cluster_id (components are bounded
    by the LSH banding — never corpus-wide), and every join after the
    closure is on the cluster/doc key.  100 TB: score-then-pick adds
    ONE map-side scoring pass + one bounded window over the dup subset
    on top of what dd6 already does."""
    bands_sql = _bands_sql(dialect)
    model = sql_quality_classifier(dialect)
    return f"""
WITH RECURSIVE {_minhash_sig_cte(dialect)},
bands AS ({bands_sql}),
{_CAND_CTE},
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM cand
  UNION
  SELECT doc_b AS u, doc_a AS v FROM cand
),
reach AS (
  SELECT u, u AS lbl FROM edges
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
),
cc AS (SELECT u AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY u),
model AS ({model}),
member AS (
  SELECT cc.doc_id, cc.cluster_id, m.quality_score,
         CAST(d.n_chars AS BIGINT) AS n_chars
  FROM cc
  JOIN model m ON cc.doc_id = m.doc_id
  JOIN documents d ON cc.doc_id = d.doc_id
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY quality_score DESC, doc_id ASC) AS rk
  FROM member
),
surv AS (
  SELECT cluster_id, doc_id AS survivor_id,
         quality_score AS survivor_score, n_chars AS survivor_chars
  FROM ranked WHERE rk = 1
),
minid AS (
  SELECT cluster_id, quality_score AS minid_score,
         n_chars AS minid_chars
  FROM member WHERE doc_id = cluster_id
),
sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM member GROUP BY cluster_id
)
SELECT s.cluster_id, z.cluster_size, s.survivor_id, s.survivor_score,
       s.survivor_chars, m.minid_score, m.minid_chars,
       (s.survivor_id <> s.cluster_id) AS quality_differs,
       {r6t("s.survivor_score - m.minid_score")} AS score_gain,
       CAST(s.survivor_chars - m.minid_chars AS BIGINT) AS chars_delta
FROM surv s
JOIN minid m ON s.cluster_id = m.cluster_id
JOIN sizes z ON s.cluster_id = z.cluster_id
"""


def _dd17_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD17, Spark side: the operator composition — dd6's iterative
    connected components + txt18's trained scorer (marked frame
    snapshotted once, the dd2/txt12 materialize rule; ``member`` is
    likewise snapshotted because it feeds the argmax window, the min-id
    lookup AND the size rollup)."""
    from pyspark.sql import Window

    from ..operators.dedup import dup_clusters
    from ..operators.quality import score_quality, train_quality_classifier

    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    pairs = spark.sql(sql_minhash_candidates("spark"))
    cc = dup_clusters(pairs)
    marked = spark.sql(_qc_marked_sql("spark")).localCheckpoint(eager=False)
    beta = train_quality_classifier(marked)
    scored = score_quality(marked, beta).select("doc_id", "quality_score")
    member = (
        cc.join(scored, "doc_id")
        .join(docs.select("doc_id", F.col("n_chars").cast("bigint").alias("n_chars")), "doc_id")
        .localCheckpoint(eager=False)
    )
    rk = F.row_number().over(
        Window.partitionBy("cluster_id").orderBy(
            F.desc("quality_score"), F.asc("doc_id")
        )
    )
    surv = (
        member.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("survivor_id"),
            F.col("quality_score").alias("survivor_score"),
            F.col("n_chars").alias("survivor_chars"),
        )
    )
    minid = member.filter(F.col("doc_id") == F.col("cluster_id")).select(
        "cluster_id",
        F.col("quality_score").alias("minid_score"),
        F.col("n_chars").alias("minid_chars"),
    )
    sizes = member.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        surv.join(minid, "cluster_id")
        .join(sizes, "cluster_id")
        .select(
            "cluster_id",
            "cluster_size",
            "survivor_id",
            "survivor_score",
            "survivor_chars",
            "minid_score",
            "minid_chars",
            (F.col("survivor_id") != F.col("cluster_id")).alias(
                "quality_differs"
            ),
            F.expr(
                r6t("survivor_score - minid_score")
            ).alias("score_gain"),
            (F.col("survivor_chars") - F.col("minid_chars"))
            .cast("bigint")
            .alias("chars_delta"),
        )
    )


QUERIES["dd17_quality_survivors"] = _dd17_quality_survivors
TEXT_ORACLES["dd17_quality_survivors"] = sql_quality_survivors("duck")


# --- SP16: the DoReMi-weighted corpus manifest --------------------------------
SP16_HKEY_MOD = 1 << 30   # sampling-order key space (sp13's capped-rank key)
SP16_SBUCKETS = 1 << 8    # coarse sampling buckets per domain (two-level cumsum)


def sql_doremi_manifest(dialect: str) -> str:
    """SP16 — APPLY DoReMi: materialize the reweighted corpus manifest.

    sp14 produces the target weights and an exact per-domain token
    allocation; nothing yet SAMPLES the corpus to them.  sp16 is the
    end of the Xie et al. 2023 pipeline: the artifact a training launch
    actually reads — domain → kept docs (with repeats) → curriculum
    shard assignments, Σ tokens_total = DOREMI_BUDGET exactly.

    Sampling rule (integer-exact, the sp6 discipline): within each
    domain, docs are ordered by the deterministic sampling key
    (tok_hash % 2^30, doc_id tie-break) and the domain's alloc_d tokens
    are consumed by CYCLING that token stream — n_cycles = alloc_d DIV
    total_d full passes (data repetition, exactly how an upweighted
    small domain is realized in practice), then a prefix pass of
    rem = alloc_d % total_d tokens whose boundary doc is TRUNCATED to
    head_tokens = rem − cum_before.  Per doc: tokens_total = n_copies ·
    n_tokens + head_tokens; summing the telescoping cumsum per domain
    gives n_cycles·total_d + rem = alloc_d, so Σ over the manifest is
    the budget EXACTLY — every engine, every partitioning, because the
    chain is BIGINT end-to-end (alloc from sp14's largest-remainder
    step, cumsums of BIGINT token counts, DIV/% arithmetic).

    Shard assignment: sp15's two-level rank decomposition over the KEPT
    docs (coarse ⌊ppl⌋ buckets carry window offsets; the per-doc
    row_number is bucket-partitioned), shard = ⌊S·(rank−1)/N_kept⌋ —
    the curriculum order restricted to the sampled corpus.

    Scale shape: the per-domain cumsum is the same single-partition
    trap sp15's global rank was (a domain can be half the corpus), so
    it uses the SAME two-level fix — 256 coarse sampling buckets per
    domain (high bits of the sampling key, order-prefix-preserving)
    whose token totals roll up to a domain×bucket table that carries
    running offsets; the corpus-sized window is PARTITIONED by
    (domain, sbucket).  No global window touches doc-sized input
    anywhere in the plan."""
    h = tok_hash(dialect, "'m16:' || CAST(d.doc_id AS STRING)")
    alloc = sql_doremi(dialect)
    scores = sql_bigram_lm(dialect)
    s = SP15_SHARDS
    sb_div = SP16_HKEY_MOD // SP16_SBUCKETS
    return f"""
WITH alloc AS ({alloc}),
scores AS ({scores}),
keyed AS (
  SELECT d.doc_id, d.source AS domain,
         CAST(s.n_bigrams + 1 AS BIGINT) AS n_tokens,
         s.perplexity AS ppl,
         ({h}) % {SP16_HKEY_MOD} AS hkey
  FROM documents d JOIN scores s ON d.doc_id = s.doc_id
),
sbuck AS (
  SELECT *, {idiv(dialect, "hkey", str(sb_div))} AS sbucket FROM keyed
),
sb_counts AS (
  SELECT domain, sbucket, CAST(sum(n_tokens) AS BIGINT) AS btok
  FROM sbuck GROUP BY domain, sbucket
),
sb_off AS (
  SELECT domain, sbucket,
         CAST(sum(btok) OVER (PARTITION BY domain ORDER BY sbucket ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - btok AS BIGINT) AS tok_off,
         CAST(sum(btok) OVER (PARTITION BY domain) AS BIGINT) AS total_d
  FROM sb_counts
),
cum AS (
  SELECT k.doc_id, k.domain, k.n_tokens, k.ppl, o.total_d,
         o.tok_off + CAST(sum(k.n_tokens) OVER (
             PARTITION BY k.domain, k.sbucket
             ORDER BY k.hkey ASC, k.doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_end
  FROM sbuck k JOIN sb_off o ON k.domain = o.domain AND k.sbucket = o.sbucket
),
take AS (
  SELECT c.doc_id, c.domain, c.n_tokens, c.ppl,
         c.cum_end - c.n_tokens AS cum_before, c.cum_end,
         {idiv(dialect, "a.alloc", "c.total_d")} AS n_cycles,
         a.alloc % c.total_d AS rem
  FROM cum c JOIN alloc a ON c.domain = a.domain
),
manifest AS (
  SELECT doc_id, domain, n_tokens, ppl,
         CAST(n_copies AS BIGINT) AS n_copies,
         CAST(head_tokens AS BIGINT) AS head_tokens,
         CAST(n_copies * n_tokens + head_tokens AS BIGINT) AS tokens_total
  FROM (
    SELECT *,
           n_cycles + CASE WHEN cum_end <= rem THEN 1 ELSE 0 END AS n_copies,
           CASE WHEN cum_before < rem AND rem < cum_end
                THEN rem - cum_before ELSE 0 END AS head_tokens
    FROM take
  ) t
  WHERE n_copies > 0 OR head_tokens > 0
),
mbuck AS (
  SELECT *, CAST(floor(ppl) AS BIGINT) AS bucket FROM manifest
),
bcounts AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM mbuck GROUP BY bucket
),
boffsets AS (
  SELECT bucket,
         CAST(sum(n) OVER (ORDER BY bucket ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n AS BIGINT) AS offset_0,
         CAST(sum(n) OVER () AS BIGINT) AS n_total
  FROM bcounts
),
ranked AS (
  SELECT w.doc_id, w.domain, w.n_tokens, w.n_copies, w.head_tokens,
         w.tokens_total,
         CAST(boff.offset_0 + w.wrk AS BIGINT) AS grank, boff.n_total
  FROM (
    SELECT *, CAST(row_number() OVER (
      PARTITION BY bucket ORDER BY ppl ASC, doc_id ASC
    ) AS BIGINT) AS wrk
    FROM mbuck
  ) w
  JOIN boffsets boff ON w.bucket = boff.bucket
)
SELECT domain, doc_id, n_tokens, n_copies, head_tokens, tokens_total,
       CAST({idiv(dialect, f"{s} * (grank - 1)", "n_total")} AS BIGINT)
         AS shard_id
FROM ranked
"""


def _sp16_doremi_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP16, Spark side: the pure rendering (sp14 + txt12 are pipelined
    CTE re-reads — the measured txt12 lesson; the cumsum/rank tail adds
    only partitioned windows and small-table rollups on top)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(sql_doremi_manifest("spark"))


QUERIES["sp16_doremi_manifest"] = _sp16_doremi_manifest
TEXT_ORACLES["sp16_doremi_manifest"] = sql_doremi_manifest("duck")


# --- TXT23: incremental BM25 posting table -------------------------------------
def _bm25_scores_from_postings(spark: SparkSession, path: str) -> DataFrame:
    """BM25 retrieval READING ONLY the persisted posting tables (the
    production check-time shape): tf/dl straight off {path}/tf, df off
    the merge-maintained {path}/df, corpus stats re-aggregated from the
    distinct (doc_id, dl) rows — BIGINT sum then one exact
    double-widening division, the identical op sequence as the one-shot
    stats CTE — and then the byte-identical scoring tail."""
    from ..operators.text import read_bm25_df

    _read_pq(spark, f"{path}/tf").createOrReplaceTempView("__bm25_tf")
    # read_bm25_df: a total-zero purge leaves {path}/df parquet-less
    # (hwm files only) — absent-as-empty, not AnalysisException
    read_bm25_df(spark, path).createOrReplaceTempView("__bm25_df")
    return spark.sql(f"""
WITH tf AS (SELECT doc_id, tok, tf FROM __bm25_tf),
doclen AS (SELECT DISTINCT doc_id, dl FROM __bm25_tf),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM doclen
),
df AS (SELECT tok, df FROM __bm25_df),
{_bm25_score_tail()}""")


def _txt23_incremental_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TXT23 — merge-maintained BM25 posting tables
    (operators/text.update_bm25_postings): the corpus arrives in two
    batches plus an at-least-once REPLAY of batch 1; the insert-only tf
    table absorbs each batch through the standard anti-join, while the
    df table — the family's first table whose rows must be UPDATED, not
    appended (document frequencies grow) — merge-rewrites through the
    staging swap with its batch-id high-water mark committed atomically
    inside the swap.  The replay batch must apply NOTHING to either
    table (n_new_docs = 0, df_applied = false — the hwm doing its job),
    and scores computed FROM the tables must equal txt22's one-shot
    top-k exactly — checked in-plan as ONE full-outer-join action over
    the complete ranked tuples (the dd11 gate pattern).

    Steady-state retrieval ingest cost is thereby proportional to NEW
    documents (tokenize + one anti-join + a vocab-bounded df rewrite),
    not to the accumulated corpus — completing the incremental-twin
    family across words (txt9), docs (dd9), vectors (emb10), test
    n-grams (dd11) with the first MERGE-maintained member."""
    from ..operators.text import update_bm25_postings

    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    b1 = docs.filter("doc_id % 2 = 0")
    b2 = docs.filter("doc_id % 2 = 1")
    path = scratch_store("bm25", sf_dir)
    m1 = update_bm25_postings(b1, path, batch_id=1)
    m2 = update_bm25_postings(b2, path, batch_id=2)
    m3 = update_bm25_postings(b1, path, batch_id=1)  # at-least-once replay
    scored_t = _bm25_scores_from_postings(spark, path).withColumn(
        "__t", F.lit(1)
    )
    scored_o = spark.sql(sql_bm25("spark")).withColumn("__o", F.lit(1))
    cols = [
        "query_doc", "match_doc", "n_common_terms", "score_micro", "bm25",
        "rnk",
    ]
    row = (
        scored_t.join(scored_o, cols, "full")
        .agg(
            F.count("__t").alias("n_t"),
            F.count("__o").alias("n_o"),
            F.sum(
                (F.col("__t").isNull() | F.col("__o").isNull()).cast("int")
            ).alias("n_diff"),
        )
        .collect()[0]
    )
    gate = bool(row.n_t == row.n_o and (row.n_diff or 0) == 0)
    return spark.createDataFrame(
        [
            (1, m1["n_batch_docs"], m1["n_new_docs"], m1["df_applied"], gate),
            (2, m2["n_batch_docs"], m2["n_new_docs"], m2["df_applied"], gate),
            (3, m3["n_batch_docs"], m3["n_new_docs"], m3["df_applied"], gate),
        ],
        "batch INT, n_batch_docs BIGINT, n_new_docs BIGINT, "
        "df_applied BOOLEAN, table_matches_oneshot BOOLEAN",
    )


def sql_incremental_bm25(dialect: str) -> str:
    """TXT23's arithmetic truth: per-parity doc counts (docs with at
    least one token are the ones whose tf rows land), the replay batch
    applying nothing, and the in-plan gate pinned TRUE."""
    n_tok = list_len(dialect, "toks")
    return f"""
WITH {docs_cte(dialect)},
c AS (
  SELECT CAST(count(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS BIGINT) AS n_even,
         CAST(count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS BIGINT) AS n_odd,
         CAST(count(CASE WHEN doc_id % 2 = 0 AND {n_tok} >= 1 THEN 1 END)
              AS BIGINT) AS n_even_tok,
         CAST(count(CASE WHEN doc_id % 2 = 1 AND {n_tok} >= 1 THEN 1 END)
              AS BIGINT) AS n_odd_tok
  FROM docs
)
SELECT CAST(1 AS INT) AS batch, n_even AS n_batch_docs,
       n_even_tok AS n_new_docs, true AS df_applied,
       true AS table_matches_oneshot FROM c
UNION ALL
SELECT CAST(2 AS INT), n_odd, n_odd_tok, true, true FROM c
UNION ALL
SELECT CAST(3 AS INT), n_even, CAST(0 AS BIGINT), false, true FROM c
"""


QUERIES["txt23_incremental_bm25"] = _txt23_incremental_bm25
TEXT_ORACLES["txt23_incremental_bm25"] = sql_incremental_bm25("duck")


# --- SP17: reproducible per-epoch shuffle manifests ----------------------------
SP17_EPOCHS = 3
SP17_CK_MOD = 1 << 20   # bounds the position/doc factors so the BIGINT
                        # checksum sum never overflows at any corpus size
# Per-epoch affine mixers (a·h + b mod P), the MinHash-params construction:
# tok_hash alone is a polynomial fold, so re-keying by a changed PREFIX
# ('ep0:' vs 'ep2:') shifts every same-length id's hash by the SAME
# constant — epochs would be order-correlated (measured: epoch 0 ≡ epoch 2
# on the sf0.001 corpus).  A large multiplier mod P wraps the range ~a
# times, decorrelating adjacent hashes; distinct (a, b) per epoch make
# the three permutations independent.
SP17_MIX = ((982451653, 12345), (689287573, 67890), (413158511, 24680))
assert len(SP17_MIX) == SP17_EPOCHS


def sql_epoch_shuffle(dialect: str) -> str:
    """SP17 — reproducible per-EPOCH shuffle manifests: the data-loader
    side of the launch artifacts (sp15 curriculum shards, sp16 DoReMi
    manifest).  Distributed training needs, per epoch, a GLOBAL
    permutation of the corpus that is (a) deterministic — every worker
    and every resume derives the same order from the manifest alone,
    (b) decorrelated across epochs, and (c) splittable into contiguous
    per-worker slots.  Epoch e's order key is an epoch-specific affine
    mix (a_e·h + b_e mod P, SP17_MIX — the MinHash permutation
    construction) of the doc's engine hash: a fresh deterministic
    permutation per epoch, no RNG state to persist, and genuinely
    decorrelated — a prefix-rekeyed tok_hash is NOT (the polynomial
    fold shifts every same-length id by a constant; measured epoch 0 ≡
    epoch 2 before the mixer) — and the global rank uses sp15's TWO-LEVEL
    decomposition (coarse key-prefix buckets carry window offsets; the
    corpus-sized row_number PARTITIONS BY (epoch, bucket)), so no
    single-partition window exists at any corpus size.  Slot =
    ⌊S·(rank−1)/N⌋, the contiguous equal-count split a worker group
    consumes.

    The manifest row per (epoch, slot) carries doc/token counts and an
    ORDER-PINNING checksum: Σ (rank % M)·(id-hash % M) as exact BIGINTs
    — position-weighted, so two orders over the same membership hash
    differently; the cross-epoch decorrelation is pinned by test (same
    slot, different epochs, different checksums).

    Scale shape: one ×E narrow explode of the corpus, the bucketed rank
    (shuffle on (epoch, bucket)), and an E·S-row rollup."""
    toks = split_ws(dialect, "text")
    idh = tok_hash(dialect, "'sp17:' || CAST(doc_id AS STRING)")
    p = 1_000_000_007
    mix = (
        "CASE e "
        + " ".join(
            f"WHEN {i} THEN ({a} * h1 + {b}) % {p}"
            for i, (a, b) in enumerate(SP17_MIX)
        )
        + " END"
    )
    s = SP15_SHARDS
    m = SP17_CK_MOD
    sb_div = SP16_HKEY_MOD // SP16_SBUCKETS
    if dialect == "spark":
        epoch_join = (
            f"LATERAL VIEW explode(sequence(0, {SP17_EPOCHS - 1})) _ep AS e"
        )
    else:
        epoch_join = (
            "CROSS JOIN (SELECT unnest(generate_series(0, "
            f"{SP17_EPOCHS - 1})) AS e) _ep"
        )
    return f"""
WITH docs AS (
  SELECT doc_id, CAST({list_len(dialect, toks)} AS BIGINT) AS n_tokens,
         ({idh}) AS h1
  FROM documents WHERE text IS NOT NULL
),
keyed AS (
  SELECT doc_id, n_tokens, e AS epoch,
         ({mix}) % {SP16_HKEY_MOD} AS hkey
  FROM docs {epoch_join}
),
sbuck AS (
  SELECT *, {idiv(dialect, "hkey", str(sb_div))} AS bucket FROM keyed
),
bcounts AS (
  SELECT epoch, bucket, CAST(count(*) AS BIGINT) AS n
  FROM sbuck GROUP BY epoch, bucket
),
boffsets AS (
  SELECT epoch, bucket,
         CAST(sum(n) OVER (PARTITION BY epoch ORDER BY bucket ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n AS BIGINT) AS offset_0,
         CAST(sum(n) OVER (PARTITION BY epoch) AS BIGINT) AS n_total
  FROM bcounts
),
ranked AS (
  SELECT w.epoch, w.doc_id, w.n_tokens,
         CAST(boff.offset_0 + w.wrk AS BIGINT) AS grank, boff.n_total
  FROM (
    SELECT *, CAST(row_number() OVER (
      PARTITION BY epoch, bucket ORDER BY hkey ASC, doc_id ASC
    ) AS BIGINT) AS wrk
    FROM sbuck
  ) w
  JOIN boffsets boff ON w.epoch = boff.epoch AND w.bucket = boff.bucket
),
slotted AS (
  SELECT epoch, doc_id, n_tokens, grank,
         CAST({idiv(dialect, f"{s} * (grank - 1)", "n_total")} AS BIGINT)
           AS slot
  FROM ranked
)
SELECT CAST(epoch AS BIGINT) AS epoch, slot,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(min(grank) AS BIGINT) AS rank_lo,
       CAST(max(grank) AS BIGINT) AS rank_hi,
       CAST(sum((grank % {m}) * (({idh}) % {m})) AS BIGINT)
         AS order_checksum
FROM slotted
GROUP BY epoch, slot
ORDER BY epoch, slot
"""


def _sp17_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP17, Spark side: the pure rendering (one narrow ×E explode, the
    sp15/sp16 bucketed rank, an E·S-row rollup)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(sql_epoch_shuffle("spark"))


QUERIES["sp17_epoch_shuffle"] = _sp17_epoch_shuffle
TEXT_ORACLES["sp17_epoch_shuffle"] = sql_epoch_shuffle("duck")


# --- EMB22: late-interaction (MaxSim) retrieval --------------------------------
EMB22_CHUNK = 20       # tokens per chunk (dd15's paragraph unit)
EMB22_DOC_CHUNKS = 8   # doc-side chunk budget (long-doc truncation)
EMB22_Q_CHUNKS = 4     # query-side chunk budget (the ColBERT query cap)
EMB22_Q_STRIDE = 397   # fixed retrieval workload (txt22's |Q|·N lesson)
EMB22_MAXQ = 5000
EMB22_DIM = 16
EMB22_TOPK = 10


def _emb22_dvecs_cte(dialect: str) -> str:
    """docs→…→dvecs CTE list (no trailing comma) — the chunk-vector
    pipeline ``sql_late_interaction`` uses for BOTH sides of the MaxSim
    join; the Spark staged form snapshots its result once (r18
    optimization, the t6/j3 pattern)."""
    dim = EMB22_DIM
    toks = split_ws(dialect, "text")
    tok_rows = explode_with_pos(dialect, "docs", "toks", "pos", "tok", "doc_id")
    sgn = f"CASE WHEN (CAST(floor(h / {dim}) AS BIGINT)) % 2 = 0 THEN 1 ELSE -1 END"
    sums = ",\n       ".join(
        f"CAST(sum(CASE WHEN h % {dim} = {j} THEN {sgn} ELSE 0 END) AS BIGINT)"
        f" AS b{j}"
        for j in range(dim)
    )
    norm2 = " + ".join(f"b{j} * b{j}" for j in range(dim))
    return f"""docs AS (SELECT doc_id, {toks} AS toks FROM documents),
tok_rows AS ({tok_rows}),
ordered AS (
  SELECT doc_id, tok,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos ASC)
              - 1 AS BIGINT) AS rn
  FROM tok_rows
),
chunk_rows AS (
  SELECT doc_id, {idiv(dialect, "rn", str(EMB22_CHUNK))} AS chunk,
         {tok_hash(dialect, "tok")} AS h
  FROM ordered
  WHERE rn < {EMB22_CHUNK * EMB22_DOC_CHUNKS}
),
cvecs AS (
  SELECT doc_id, chunk,
       {sums}
  FROM chunk_rows GROUP BY doc_id, chunk
),
valid AS (
  SELECT *, CAST({norm2} AS BIGINT) AS norm2 FROM cvecs
),
dvecs AS (SELECT * FROM valid WHERE norm2 > 0)"""


def sql_late_interaction(dialect: str, dvecs_src: str | None = None) -> str:
    """EMB22 — late-interaction retrieval (Khattab & Zaharia 2020,
    ColBERT): documents and queries are MULTI-vector — one embedding
    per 20-token chunk (txt13's hashing-trick vectors, the in-engine
    encoder stand-in; swap in a trained encoder and the plan is
    unchanged) — and score(q,d) = Σ_{qc} max_{dc} cos(qc, dc), the
    MaxSim sum that beats single-vector retrieval exactly when the
    matching evidence is local to a passage.  Sits between txt22 (BM25,
    lexical) and emb1/emb8 (single-vector kNN) in the retrieval family.

    Bit-exactness: chunk vectors are exact INTEGER bucket sums (txt13);
    cosine = BIGINT dot / (sqrt·sqrt) — sqrt is IEEE-correctly-rounded,
    so the double is identical in both engines — rounded HALF-UP into
    integer micro-units BEFORE the max (max over BIGINTs is exact) and
    the per-(q,d) score is an exact BIGINT sum of those maxes.  The
    top-k cut ranks on (score_micro DESC, match_doc ASC), a pure
    integer total order.  Zero-norm chunks (hash-cancelled bucket sums)
    are dropped on both sides before any division.

    Scale shape: chunking + hashing is one narrow pass (the per-doc
    row_number normalizes Spark-0/DuckDB-1 position bases); the query
    side is a FIXED workload (doc_id % {stride}) with ≤ {qc} chunks, so
    the MaxSim stage is corpus-LINEAR — |Q_chunks| · corpus_chunks
    dot products with the query side broadcast, never corpus×corpus.
    The chunk budgets are the standard late-interaction truncations; at
    100 TB the doc-chunk side would be pre-cut by an ANN front (emb8's
    IVF over chunk vectors) feeding the same exact MaxSim rerank.

    ``dvecs_src``: the Spark staged form passes a snapshot VIEW of the
    docs→dvecs chunk pipeline (computed once; Spark inlines the
    dvecs CTE into both its qvecs and pairsim references, re-running
    the whole tokenize/chunk/aggregate chain — DuckDB materializes it,
    so the oracle text stays the plain CTE form, byte-identical)."""
    dim = EMB22_DIM
    dot = " + ".join(f"q.b{j} * c.b{j}" for j in range(dim))
    cos = (
        f"CAST(({dot}) AS DOUBLE) / "
        f"(sqrt(CAST(q.norm2 AS DOUBLE)) * sqrt(CAST(c.norm2 AS DOUBLE)))"
    )
    w_micro = (
        f"CAST(floor(({cos}) * {d('1000000.0')} + {d('0.5')}) AS BIGINT)"
    )
    nd = dvecs_src or "dvecs"
    lead = "" if dvecs_src else f"{_emb22_dvecs_cte(dialect)},\n"
    return f"""
WITH {lead}qvecs AS (
  SELECT * FROM {nd}
  WHERE doc_id % {EMB22_Q_STRIDE} = 0 AND doc_id < {EMB22_MAXQ}
    AND chunk < {EMB22_Q_CHUNKS}
),
pairsim AS (
  SELECT q.doc_id AS query_doc, q.chunk AS qchunk,
         c.doc_id AS match_doc,
         {w_micro} AS w_micro
  FROM qvecs q JOIN {nd} c ON c.doc_id <> q.doc_id
),
maxsim AS (
  SELECT query_doc, qchunk, match_doc, CAST(max(w_micro) AS BIGINT) AS mx
  FROM pairsim GROUP BY query_doc, qchunk, match_doc
),
scored AS (
  SELECT query_doc, match_doc,
         CAST(count(*) AS BIGINT) AS n_qchunks,
         CAST(sum(mx) AS BIGINT) AS score_micro
  FROM maxsim GROUP BY query_doc, match_doc
),
ranked AS (
  SELECT query_doc, match_doc, n_qchunks, score_micro,
         row_number() OVER (PARTITION BY query_doc
                            ORDER BY score_micro DESC, match_doc ASC) AS rnk
  FROM scored
)
SELECT query_doc, match_doc, n_qchunks, score_micro,
       {r6t(f"CAST(score_micro AS DOUBLE) / ({d('1000000.0')} * CAST(n_qchunks AS DOUBLE))")}
         AS maxsim_avg,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {EMB22_TOPK}
"""


def _emb22_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMB22, Spark side: the chunk-vector pipeline is SNAPSHOT once (a
    lazy localCheckpoint behind a unique temp view — Spark would inline
    the dvecs CTE into both its qvecs and pairsim references and re-run
    the tokenize/chunk/aggregate chain per reference; DuckDB
    materializes it, so the oracle keeps the plain CTE text), then the
    broadcast-q MaxSim join reads the pinned chunk vectors twice."""
    import uuid

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    name = f"__emb22_dvecs_{uuid.uuid4().hex}"
    spark.sql(
        f"WITH {_emb22_dvecs_cte('spark')} SELECT * FROM dvecs"
    ).localCheckpoint(eager=False).createOrReplaceTempView(name)
    try:
        return spark.sql(sql_late_interaction("spark", dvecs_src=name))
    finally:
        spark.catalog.dropTempView(name)


QUERIES["emb22_late_interaction"] = _emb22_late_interaction
TEXT_ORACLES["emb22_late_interaction"] = sql_late_interaction("duck")


# --- SP18: data-constrained mixture (multi-epoch repetition accounting) -------
SP18_MAX_EPOCHS = 4
# Geometric per-epoch value decay δ = 7/10, kept INTEGER by scaling every
# slice value to 7^k · 10^(K-1-k): epoch 0..3 multipliers below.  This is
# the engine's deterministic stand-in for Muennighoff et al. 2023's
# diminishing value of repeated data (their exp(-R/R*) decay fitted with
# R* ≈ 15 is a smooth version of the same monotone geometric discount);
# any externally-fitted decay drops into the same integer-slice greedy
# unchanged (swap the multipliers).
SP18_DECAY_SCALED = (1000, 700, 490, 343)  # 7^k · 10^(3-k), k = 0..3
# Per-epoch affine order mixers, the sp17/MinHash construction (4 epochs).
SP18_MIX = (
    (982451653, 12345), (689287573, 67890),
    (413158511, 24680), (858599509, 13579),
)
assert len(SP18_MIX) == len(SP18_DECAY_SCALED) == SP18_MAX_EPOCHS
SP18_BUDGET_NUM, SP18_BUDGET_DEN = 5, 2  # B = 5/2 × unique tokens


def sql_data_constrained_mixture(dialect: str) -> str:
    """SP18 — data-constrained mixture: multi-epoch repetition accounting
    (Muennighoff et al. 2023, "Scaling Data-Constrained Language
    Models").  sp16 materializes ONE pass over a reweighted corpus; a
    token budget B larger than the unique corpus forces the question
    that paper answers — WHICH domains to repeat, HOW MANY epochs each,
    knowing repeated tokens are worth less than fresh ones.  This is
    the decision layer above sp16 (weights) and sp17 (per-epoch
    orders): the artifact is the ranked epoch-slice manifest a >1-epoch
    training launch consumes.

    Rule (integer-exact end-to-end, the sp6/sp16 discipline): the unit
    of allocation is the (domain, epoch k) SLICE — one full pass over
    domain d, costing U_d unique tokens, valued alloc_d · δ^k per token
    with alloc_d sp14's DoReMi integer allocation (the quality signal)
    and δ = 7/10 the repetition discount, SCALED to the exact BIGINT
    alloc_d · 7^k · 10^(3−k) so the greedy order is a pure integer
    total order (ties: epoch ASC, domain ASC).  Slices are taken in
    value order until the budget B = ⌊5·U_tot/2⌋ is spent; the boundary
    slice is PARTIAL — its domain's docs are consumed in the slice's
    OWN EPOCH ORDER (sp17's per-epoch affine mix of the doc hash, so
    the truncated pass is the prefix of exactly the permutation the
    loader would run) with the boundary document head-truncated, sp16's
    prefix rule.  Σ tokens_used = B exactly: full slices telescope to
    their U_d and the partial contributes B − cum_before.

    Scale shape: corpus-sized work is ONE token-count aggregate per doc
    (shared with sp14's chain) and, for the single boundary domain, one
    bucketed two-level cumsum (sp16's decomposition — no global window
    over doc-sized input).  The greedy itself runs on K·domains slice
    rows (~80 here; a few hundred at any real corpus) — window functions
    over that table are the sp14 K-row exception, not a scale trap."""
    alloc = sql_doremi(dialect)
    idh = tok_hash(dialect, "'sp18:' || CAST(doc_id AS STRING)")
    toks = split_ws(dialect, "text")
    p = 1_000_000_007
    k_max = SP18_MAX_EPOCHS
    val = (
        "CASE e "
        + " ".join(
            f"WHEN {k} THEN CAST({m} AS BIGINT) * a.alloc"
            for k, m in enumerate(SP18_DECAY_SCALED)
        )
        + " END"
    )
    mix = (
        "CASE b.epoch "
        + " ".join(
            f"WHEN {i} THEN ({a} * d.idh + {b_}) % {p}"
            for i, (a, b_) in enumerate(SP18_MIX)
        )
        + " END"
    )
    sb_div = SP16_HKEY_MOD // SP16_SBUCKETS
    if dialect == "spark":
        epoch_join = (
            f"LATERAL VIEW explode(sequence(0, {k_max - 1})) _ep AS e"
        )
    else:
        epoch_join = (
            "CROSS JOIN (SELECT unnest(generate_series(0, "
            f"{k_max - 1})) AS e) _ep"
        )
    win = "ORDER BY value_scaled DESC, epoch ASC, domain ASC"
    rows_all = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    return f"""
WITH alloc AS ({alloc}),
sdocs AS (
  SELECT doc_id, source AS domain,
         CAST({list_len(dialect, toks)} AS BIGINT) AS n_tokens,
         ({idh}) AS idh
  FROM documents WHERE text IS NOT NULL
),
sdocs1 AS (SELECT * FROM sdocs WHERE n_tokens >= 1),
u AS (
  SELECT domain, CAST(sum(n_tokens) AS BIGINT) AS u_tokens,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM sdocs1 GROUP BY domain
),
bud AS (
  SELECT {idiv(dialect, f"{SP18_BUDGET_NUM} * CAST(sum(u_tokens) AS BIGINT)",
               str(SP18_BUDGET_DEN))} AS b
  FROM u
),
slices AS (
  SELECT a.domain, CAST(e AS BIGINT) AS epoch, u.u_tokens, u.n_docs,
         CAST({val} AS BIGINT) AS value_scaled
  FROM alloc a JOIN u ON a.domain = u.domain {epoch_join}
),
ordered AS (
  SELECT *,
         CAST(row_number() OVER ({win}) AS BIGINT) AS take_rank,
         CAST(sum(u_tokens) OVER ({win} {rows_all}) AS BIGINT) AS cum_end
  FROM slices
),
taken AS (
  SELECT o.*, o.cum_end - o.u_tokens AS cum_before, bud.b,
         o.cum_end > bud.b AS is_partial,
         CASE WHEN o.cum_end > bud.b THEN bud.b - (o.cum_end - o.u_tokens)
              ELSE o.u_tokens END AS tokens_used
  FROM ordered o CROSS JOIN bud
  WHERE o.cum_end - o.u_tokens < bud.b
),
bslice AS (
  SELECT domain, epoch, tokens_used AS head_budget
  FROM taken WHERE is_partial
),
bdocs AS (
  SELECT d.doc_id, d.n_tokens, b.head_budget,
         ({mix}) % {SP16_HKEY_MOD} AS hkey
  FROM sdocs1 d JOIN bslice b ON d.domain = b.domain
),
bb AS (SELECT *, {idiv(dialect, "hkey", str(sb_div))} AS bucket FROM bdocs),
bbc AS (
  SELECT bucket, CAST(sum(n_tokens) AS BIGINT) AS btok
  FROM bb GROUP BY bucket
),
bbo AS (
  SELECT bucket,
         CAST(sum(btok) OVER (ORDER BY bucket ASC {rows_all}) - btok
              AS BIGINT) AS tok_off
  FROM bbc
),
bcum AS (
  SELECT bb.doc_id, bb.n_tokens, bb.head_budget,
         bbo.tok_off + CAST(sum(bb.n_tokens) OVER (
             PARTITION BY bb.bucket
             ORDER BY bb.hkey ASC, bb.doc_id ASC {rows_all}
           ) AS BIGINT) AS cum_end
  FROM bb JOIN bbo ON bb.bucket = bbo.bucket
),
bstats AS (
  SELECT
    CAST(count(CASE WHEN cum_end <= head_budget THEN 1 END) AS BIGINT)
      AS n_full,
    CAST(max(CASE WHEN cum_end - n_tokens < head_budget
                   AND head_budget < cum_end THEN doc_id END)
         AS BIGINT) AS boundary_doc,
    CAST(max(CASE WHEN cum_end - n_tokens < head_budget
                   AND head_budget < cum_end
              THEN head_budget - (cum_end - n_tokens) END)
         AS BIGINT) AS head_tokens
  FROM bcum
)
SELECT t.domain, t.epoch, t.take_rank, t.value_scaled,
       t.u_tokens AS unique_tokens, t.tokens_used, t.is_partial,
       CASE WHEN t.is_partial
            THEN bs.n_full
                 + CASE WHEN bs.boundary_doc IS NOT NULL THEN 1 ELSE 0 END
            ELSE t.n_docs END AS n_docs_used,
       CASE WHEN t.is_partial THEN bs.boundary_doc
            ELSE CAST(NULL AS BIGINT) END AS boundary_doc,
       CASE WHEN t.is_partial THEN COALESCE(bs.head_tokens, CAST(0 AS BIGINT))
            ELSE CAST(0 AS BIGINT) END AS head_tokens
FROM taken t CROSS JOIN bstats bs
ORDER BY t.take_rank
"""


def _sp18_data_constrained_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP18, Spark side: the pure rendering — sp14's alloc chain plus a
    token-count aggregate, an ~80-row integer greedy, and one bucketed
    cumsum over the single boundary domain."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(sql_data_constrained_mixture("spark"))


QUERIES["sp18_data_constrained_mixture"] = _sp18_data_constrained_mixture
TEXT_ORACLES["sp18_data_constrained_mixture"] = sql_data_constrained_mixture("duck")


# --- SP19: the unified training-launch manifest --------------------------------
def _sp18_epoch_mix(epoch_col: str, idh_col: str) -> str:
    """The sp17/MinHash per-epoch affine order mixer as a CASE over an
    epoch COLUMN (sp18 inlines it for the single boundary slice; sp19
    needs it per taken slice)."""
    p = 1_000_000_007
    return (
        f"CASE {epoch_col} "
        + " ".join(
            f"WHEN {i} THEN ({a} * {idh_col} + {b_}) % {p}"
            for i, (a, b_) in enumerate(SP18_MIX)
        )
        + " END"
    )


def sql_launch_manifest(dialect: str) -> str:
    """SP19 — the UNIFIED training-launch manifest: one artifact a real
    multi-epoch run reads, composing the whole sp launch layer end to
    end (the sp7/sp12 composition pattern applied at the launch layer):

      budget → slices   sp18's data-constrained greedy (Muennighoff et
                        al. 2023): B = ⌊5·U_tot/2⌋ tokens spent on
                        (domain, epoch) slices in scaled-integer value
                        order, boundary slice partial;
      slice → order     sp17's epoch-specific affine permutation of the
                        doc hash — within every taken slice the docs
                        stream in exactly the order that slice's epoch
                        loader would run, and the partial slice's
                        prefix/head-truncation (sp16's boundary rule)
                        is a prefix OF THAT PERMUTATION;
      stream → shards   sp15's two-level global rank over the launch
                        stream (slices in take_rank order, docs in
                        epoch order inside each) cut into SP15_SHARDS
                        contiguous ±1-equal-count shards, each manifest
                        row carrying doc/token counts, the slice span
                        it covers, and sp17's position-weighted integer
                        checksum Σ (rank % M)·(id_hash % M) — two
                        orders over the same membership hash apart.

    The phase key at this layer is take_rank — the VALUE curriculum
    (fresh high-value slices first, deeper repetition epochs later),
    exactly the consumption order sp18's greedy commits to; sp15's
    difficulty curriculum drops in by swapping the slice order key.

    Integer-exactness: every count, cumsum, rank, shard id and checksum
    is BIGINT end-to-end (sp14 alloc → sp18 greedy → sp16 prefix rule →
    sp15 rank arithmetic), so Σ n_tokens over the manifest = B exactly
    — full slices telescope to U_d, the partial contributes
    B − cum_before (pinned by test).

    Scale shape: corpus-sized work is ONE doc stats pass (shared with
    sp18's chain), the ~K·domains slice explode, and per-doc windows
    that ALL partition by (take_rank, bucket) / (bucket) under the
    sp15/sp16 two-level decomposition — the only unpartitioned windows
    run over the slice×bucket rollup (≤ slices·256 rows, corpus-
    independent).  No single-partition rank touches doc-sized input
    (plan-pinned)."""
    return f"""
WITH {_sp19_stream_ctes(dialect)}
{_sp19_rollup_sql()}"""


def _sp19_rollup_sql() -> str:
    """sp19's final shard rollup SELECT (dialect-free) — ONE definition
    shared by the oracle's one-SQL form and the Spark snapshot form so
    the two can never drift."""
    m = SP17_CK_MOD
    return f"""SELECT shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(used_tokens) AS BIGINT) AS n_tokens,
       CAST(min(take_rank) AS BIGINT) AS slice_lo,
       CAST(max(take_rank) AS BIGINT) AS slice_hi,
       CAST(min(grank) AS BIGINT) AS rank_lo,
       CAST(max(grank) AS BIGINT) AS rank_hi,
       CAST(sum((grank % {m}) * (idh % {m})) AS BIGINT) AS order_checksum
FROM sharded
GROUP BY shard_id
ORDER BY shard_id
"""


def _sp19_sdocs_ctes(dialect: str) -> str:
    """alloc + the tokenized doc-stats CTEs (sdocs/sdocs1) — the chain
    prefix whose per-doc tokenize+hash pass every downstream reference
    re-pays when Spark inlines it (sdocs1 is referenced by u, sfull AND
    bdocs — three copies in the one-SQL plan)."""
    alloc = sql_doremi(dialect)
    idh = tok_hash(dialect, "'sp18:' || CAST(doc_id AS STRING)")
    toks = split_ws(dialect, "text")
    return f"""alloc AS ({alloc}),
sdocs AS (
  SELECT doc_id, source AS domain,
         CAST({list_len(dialect, toks)} AS BIGINT) AS n_tokens,
         ({idh}) AS idh
  FROM documents WHERE text IS NOT NULL
),
sdocs1 AS (SELECT * FROM sdocs WHERE n_tokens >= 1)"""


def _sp19_taken_ctes(dialect: str, sd: str = "sdocs1") -> str:
    """budget → greedy slice take over doc-stats source ``sd`` (rendered
    with the default name it is a verbatim fragment of the one-SQL
    oracle; the Spark plan renders it over the sdocs1 snapshot view)."""
    k_max = SP18_MAX_EPOCHS
    val = (
        "CASE e "
        + " ".join(
            f"WHEN {k} THEN CAST({m} AS BIGINT) * a.alloc"
            for k, m in enumerate(SP18_DECAY_SCALED)
        )
        + " END"
    )
    if dialect == "spark":
        epoch_join = (
            f"LATERAL VIEW explode(sequence(0, {k_max - 1})) _ep AS e"
        )
    else:
        epoch_join = (
            "CROSS JOIN (SELECT unnest(generate_series(0, "
            f"{k_max - 1})) AS e) _ep"
        )
    win = "ORDER BY value_scaled DESC, epoch ASC, domain ASC"
    rows_all = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    return f"""u AS (
  SELECT domain, CAST(sum(n_tokens) AS BIGINT) AS u_tokens,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM {sd} GROUP BY domain
),
bud AS (
  SELECT {idiv(dialect, f"{SP18_BUDGET_NUM} * CAST(sum(u_tokens) AS BIGINT)",
               str(SP18_BUDGET_DEN))} AS b
  FROM u
),
slices AS (
  SELECT a.domain, CAST(e AS BIGINT) AS epoch, u.u_tokens, u.n_docs,
         CAST({val} AS BIGINT) AS value_scaled
  FROM alloc a JOIN u ON a.domain = u.domain {epoch_join}
),
ordered AS (
  SELECT *,
         CAST(row_number() OVER ({win}) AS BIGINT) AS take_rank,
         CAST(sum(u_tokens) OVER ({win} {rows_all}) AS BIGINT) AS cum_end
  FROM slices
),
taken AS (
  SELECT o.*, o.cum_end - o.u_tokens AS cum_before, bud.b,
         o.cum_end > bud.b AS is_partial,
         CASE WHEN o.cum_end > bud.b THEN bud.b - (o.cum_end - o.u_tokens)
              ELSE o.u_tokens END AS tokens_used
  FROM ordered o CROSS JOIN bud
  WHERE o.cum_end - o.u_tokens < bud.b
)"""


def _sp19_shard_ctes(dialect: str, tk: str = "taken", sd: str = "sdocs1") -> str:
    """per-slice epoch-mixed stream → bucketed global rank → shard cut,
    over slice source ``tk`` and doc-stats source ``sd`` (default names
    = verbatim oracle fragment; the Spark plan renders over snapshots)."""
    mix_full = _sp18_epoch_mix("t.epoch", "d.idh")
    mix_part = _sp18_epoch_mix("b.epoch", "d.idh")
    sb_div = SP16_HKEY_MOD // SP16_SBUCKETS
    s, m = SP15_SHARDS, SP17_CK_MOD
    rows_all = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    return f"""sfull AS (
  SELECT t.take_rank, d.doc_id, d.idh,
         d.n_tokens AS used_tokens,
         ({mix_full}) % {SP16_HKEY_MOD} AS hkey
  FROM {tk} t JOIN {sd} d ON t.domain = d.domain
  WHERE NOT t.is_partial
),
bslice AS (
  SELECT take_rank, domain, epoch, tokens_used AS head_budget
  FROM {tk} WHERE is_partial
),
bdocs AS (
  SELECT b.take_rank, d.doc_id, d.idh, d.n_tokens, b.head_budget,
         ({mix_part}) % {SP16_HKEY_MOD} AS hkey
  FROM {sd} d JOIN bslice b ON d.domain = b.domain
),
bb AS (SELECT *, {idiv(dialect, "hkey", str(sb_div))} AS bucket FROM bdocs),
bbc AS (
  SELECT bucket, CAST(sum(n_tokens) AS BIGINT) AS btok
  FROM bb GROUP BY bucket
),
bbo AS (
  SELECT bucket,
         CAST(sum(btok) OVER (ORDER BY bucket ASC {rows_all}) - btok
              AS BIGINT) AS tok_off
  FROM bbc
),
bcum AS (
  SELECT bb.take_rank, bb.doc_id, bb.idh, bb.n_tokens, bb.head_budget,
         bb.hkey,
         bbo.tok_off + CAST(sum(bb.n_tokens) OVER (
             PARTITION BY bb.bucket
             ORDER BY bb.hkey ASC, bb.doc_id ASC {rows_all}
           ) AS BIGINT) AS cum_end
  FROM bb JOIN bbo ON bb.bucket = bbo.bucket
),
spart AS (
  SELECT take_rank, doc_id, idh,
         CASE WHEN cum_end <= head_budget THEN n_tokens
              ELSE head_budget - (cum_end - n_tokens) END AS used_tokens,
         hkey
  FROM bcum WHERE cum_end - n_tokens < head_budget
),
stream AS (
  SELECT * FROM sfull UNION ALL SELECT * FROM spart
),
kb AS (SELECT *, {idiv(dialect, "hkey", str(sb_div))} AS bucket FROM stream),
kbc AS (
  SELECT take_rank, bucket, CAST(count(*) AS BIGINT) AS n
  FROM kb GROUP BY take_rank, bucket
),
kbo AS (
  SELECT take_rank, bucket,
         CAST(sum(n) OVER (ORDER BY take_rank ASC, bucket ASC {rows_all})
              - n AS BIGINT) AS offset_0,
         CAST(sum(n) OVER () AS BIGINT) AS n_total
  FROM kbc
),
granked AS (
  SELECT w.take_rank, w.doc_id, w.idh, w.used_tokens,
         CAST(o.offset_0 + w.wrk AS BIGINT) AS grank, o.n_total
  FROM (
    SELECT *, CAST(row_number() OVER (
      PARTITION BY take_rank, bucket ORDER BY hkey ASC, doc_id ASC
    ) AS BIGINT) AS wrk
    FROM kb
  ) w
  JOIN kbo o ON w.take_rank = o.take_rank AND w.bucket = o.bucket
),
sharded AS (
  SELECT *,
         CAST({idiv(dialect, f"{s} * (grank - 1)", "n_total")} AS BIGINT)
           AS shard_id
  FROM granked
)"""


def _sp19_stream_ctes(dialect: str) -> str:
    """The sp19 LAUNCH-STREAM CTE chain (budget → greedy slice take →
    per-slice epoch-mixed order → bucketed global rank → shard cut),
    shared verbatim by ``sql_launch_manifest`` (the shard rollup) and
    ``sql_resume_manifest`` (sp20's per-worker suffix report): returns
    the text between ``WITH`` and the consumer's SELECT, exposing the
    per-doc ``sharded`` stream (shard_id, take_rank, grank, idh,
    used_tokens, n_total) and the slice table ``taken`` (take_rank →
    domain, epoch).  Composed of the three stage renderers below with
    their default source names — the Spark plans render the SAME stage
    text over localCheckpoint snapshot views instead (Spark inlines
    multi-referenced CTEs: the one-SQL form re-tokenizes sdocs1 three
    times and sp20 re-ran the whole chain per consumer; DuckDB
    materializes multi-reference CTEs, so the oracle keeps the one-SQL
    text — the w12/txt26 snapshot pattern)."""
    return (
        f"{_sp19_sdocs_ctes(dialect)},\n"
        f"{_sp19_taken_ctes(dialect)},\n"
        f"{_sp19_shard_ctes(dialect)}"
    )


def _sp19_snap_views(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(sdocs1_view, taken_view) — the sp19 chain prefix evaluated ONCE
    behind lazy localCheckpoints: the tokenize+hash doc-stats pass and
    the greedy slice take are pinned, so every downstream reference
    (u/sfull/bdocs in one consumer, or sp20's second consumer) reads
    the snapshot instead of re-running the subplan."""
    import uuid

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    sdv = f"__sp19_sdocs1_{uuid.uuid4().hex}"
    spark.sql(
        f"WITH {_sp19_sdocs_ctes('spark')} SELECT * FROM sdocs1"
    ).localCheckpoint(eager=False).createOrReplaceTempView(sdv)
    tv = f"__sp19_taken_{uuid.uuid4().hex}"
    alloc = sql_doremi("spark")
    spark.sql(
        f"WITH alloc AS ({alloc}),\n{_sp19_taken_ctes('spark', sdv)} "
        "SELECT * FROM taken"
    ).localCheckpoint(eager=False).createOrReplaceTempView(tv)
    return sdv, tv


def _sp19_launch_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP19, Spark side: sp18's greedy chain and the doc-stats pass are
    snapshotted once (``_sp19_snap_views``), then sp15's bucketed
    rank/shard/checksum tail — the same stage text the oracle inlines —
    runs over the snapshots.  Value-identical to the one-SQL form."""
    sdv, tv = _sp19_snap_views(spark, sf_dir)
    df = spark.sql(f"""
WITH {_sp19_shard_ctes('spark', tv, sdv)}
{_sp19_rollup_sql()}""")
    # the uuid-named snapshot views are resolved into df's analyzed plan
    # at spark.sql() time; drop them so repeated invocations in one
    # session do not leak catalog entries that pin the checkpointed
    # RDDs past the consuming action (r18 ADVICE)
    for v in (sdv, tv):
        spark.catalog.dropTempView(v)
    return df


QUERIES["sp19_launch_manifest"] = _sp19_launch_manifest
TEXT_ORACLES["sp19_launch_manifest"] = sql_launch_manifest("duck")


# --- SP20: dataloader RESUME manifest -------------------------------------------
SP20_CONS_A = 1009   # per-slot consumed-docs affine mix (deterministic
SP20_CONS_B = 353    # stand-in for "how far each worker got")


def sql_resume_manifest(dialect: str) -> str:
    """SP20 — the dataloader RESUME manifest: sp19 is the LAUNCH-time
    artifact; a real multi-epoch run also needs the RESTART artifact.
    Checkpoint state is (worker slot, docs consumed) — the only thing a
    crashed dataloader group durably knows — and the manifest answers,
    per slot, exactly what remains to stream (the sp7/sp12 composition
    pattern applied to resumption):

      n_docs / n_consumed /     the slot's full size, the checkpointed
      n_remaining               progress, and the remainder (telescopes:
                                consumed + remaining = total, pinned)
      tokens_remaining          the token budget left in the slot
      resume_rank               the GLOBAL launch-stream rank the worker
                                restarts at (sp19's grank; NULL for an
                                exhausted slot — the finished-worker row)
      resume_take_rank /        the sp18 slice that rank sits in, joined
      resume_epoch /            back through sp19's ``taken`` table —
      resume_domain             which (domain, epoch) pass the worker
                                resumes inside
      slice_lo / slice_hi       the remaining slice span (sp19's spans,
                                restricted to the suffix)
      suffix_checksum           sp17's position-weighted integer checksum
                                Σ (rank % M)·(id_hash % M) over the
                                REMAINING docs only — the replay-
                                exactness pin: two suffixes with the same
                                membership but different order hash apart,
                                so oracle agreement certifies the resumed
                                stream doc-for-doc, position-for-position

    Worker slots ARE sp19's contiguous shard cut (the sp17 slot rule
    applied to the launch stream's global rank).  The checkpoint fixture
    is deterministic: slot 0 cold (nothing consumed), the LAST slot
    exhausted (exercises the NULL/finished branch in both engines),
    middle slots the affine mix (A·slot + B) mod n_docs — every branch
    of the resume truth table realized at any sf.

    Integer-exactness: counts, ranks, token sums, and the checksum are
    BIGINT end-to-end (sp19's discipline carried through the suffix
    aggregates).

    Scale shape: the corpus-sized work is exactly sp19's shared CTE
    chain (one doc-stats pass + the two-level bucketed rank — every
    per-doc window partition-led, plan-pinned); everything sp20 ADDS is
    slot-sized: an S-row checkpoint table joined (broadcast) against the
    stream, one group-by suffix rollup on the shard key, and slice
    lookups against the ≤slices-row ``taken`` table.  No new window
    touches doc-sized input."""
    return f"""
WITH {_sp19_stream_ctes(dialect)},
{_sp20_tail(dialect)}
"""


def _sp20_tail(
    dialect: str, sharded: str = "sharded", taken: str = "taken"
) -> str:
    """sp20's slot-sized CTE tail + final SELECT over the launch stream
    (``sharded``, referenced three times) and the slice table
    (``taken``).  Parameterizing the source names lets the registered
    Spark plan read localCheckpoint SNAPSHOTS instead — Spark inlines
    CTEs, so the inline form re-executes the whole sp19 chain once per
    reference (~4× the chain; measured 22 s vs ~7 s at sf0.1) — while
    the DuckDB oracle keeps the inline text (DuckDB materializes
    multi-reference CTEs itself; the dd2/t6/txt12 snapshot pattern)."""
    m = SP17_CK_MOD
    w_last = SP15_SHARDS - 1
    return f"""base AS (
  SELECT shard_id AS slot,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(min(grank) AS BIGINT) AS rank_lo
  FROM {sharded} GROUP BY shard_id
),
ckpt AS (
  SELECT slot, n_docs, rank_lo,
         CASE WHEN slot = 0 THEN CAST(0 AS BIGINT)
              WHEN slot = {w_last} THEN n_docs
              ELSE ({SP20_CONS_A} * slot + {SP20_CONS_B}) % n_docs
         END AS n_consumed
  FROM base
),
rem AS (
  SELECT c.slot,
         CAST(count(*) AS BIGINT) AS n_remaining,
         CAST(sum(s.used_tokens) AS BIGINT) AS tokens_remaining,
         CAST(min(s.grank) AS BIGINT) AS resume_rank,
         CAST(min(s.take_rank) AS BIGINT) AS slice_lo,
         CAST(max(s.take_rank) AS BIGINT) AS slice_hi,
         CAST(sum((s.grank % {m}) * (s.idh % {m})) AS BIGINT)
           AS suffix_checksum
  FROM ckpt c JOIN {sharded} s ON s.shard_id = c.slot
  WHERE s.grank >= c.rank_lo + c.n_consumed
  GROUP BY c.slot
),
rdoc AS (
  SELECT r.slot, CAST(s.take_rank AS BIGINT) AS resume_take_rank
  FROM rem r JOIN {sharded} s
    ON s.shard_id = r.slot AND s.grank = r.resume_rank
),
rslice AS (
  SELECT rd.slot, rd.resume_take_rank, t.epoch AS resume_epoch,
         t.domain AS resume_domain
  FROM rdoc rd JOIN {taken} t ON t.take_rank = rd.resume_take_rank
)
SELECT c.slot, c.n_docs, c.n_consumed,
       COALESCE(r.n_remaining, CAST(0 AS BIGINT)) AS n_remaining,
       COALESCE(r.tokens_remaining, CAST(0 AS BIGINT)) AS tokens_remaining,
       r.resume_rank, r.slice_lo, r.slice_hi,
       rs.resume_take_rank, rs.resume_epoch, rs.resume_domain,
       COALESCE(r.suffix_checksum, CAST(0 AS BIGINT)) AS suffix_checksum
FROM ckpt c
LEFT JOIN rem r ON r.slot = c.slot
LEFT JOIN rslice rs ON rs.slot = c.slot
ORDER BY c.slot"""


def _sp20_resume_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP20, Spark side: the doc-stats pass, the slice table AND the
    launch stream snapshot once each (``_sp19_snap_views`` + one shard
    stage over them — previously the whole sp19 chain re-ran per
    consumer: once under the sharded snapshot and AGAIN under the taken
    snapshot, ~2× the chain incl. the DoReMi fit), then the slot-sized
    tail runs over the snapshots.  Value-identical to the oracle's
    inline form."""
    import uuid

    sdv, tv = _sp19_snap_views(spark, sf_dir)
    shv = f"__sp20_sharded_{uuid.uuid4().hex}"
    spark.sql(
        f"WITH {_sp19_shard_ctes('spark', tv, sdv)} SELECT * FROM sharded"
    ).localCheckpoint(eager=False).createOrReplaceTempView(shv)
    df = spark.sql(f"WITH {_sp20_tail('spark', shv, tv)}")
    # snapshot views are resolved into df's analyzed plan at spark.sql()
    # time; drop them so repeated invocations in one session do not leak
    # catalog entries pinning the checkpointed RDDs (r18 ADVICE)
    for v in (sdv, tv, shv):
        spark.catalog.dropTempView(v)
    return df


QUERIES["sp20_resume_manifest"] = _sp20_resume_manifest
TEXT_ORACLES["sp20_resume_manifest"] = sql_resume_manifest("duck")


# --- SP21: incremental curriculum-shard maintenance ---------------------------
def sql_incremental_curriculum(dialect: str) -> str:
    """SP21's oracle — the one-shot equivalent the incremental store must
    equal (operators/text.py curriculum-store module note): train the
    bigram LM on the INIT era only (doc_id % 5 <> 4 — the frozen-model
    contract), score the WHOLE corpus under it (left joins + add-one
    smoothing, so the ingest era's OOV mass lands on the smoothed
    floor), run sp15's two-level rank, and roll up the per-shard
    manifest.  The Spark side is the real store lifecycle (init on the
    era, one batch ingest replaying the era + the new docs, manifest
    read from the physical partitions); agreement certifies
    ingest ∘ init ≡ one-shot over the union — content, order, and
    partition layout (the manifest reads the layout).

    Scale note: the oracle is a one-shot recompute by construction; the
    OPERATOR's incremental cost shape (batch-sized scoring,
    touched-bucket re-rank, changed-partition rewrite) is what the
    pytest contract pins."""
    toks = split_ws(dialect, "text")
    h = tok_hash(dialect, "'s' || CAST(doc_id AS STRING)")
    s, m = SP15_SHARDS, SP15_CKSUM_MOD
    lp = (
        f"ln(({d('COALESCE(bc.cb, 0) + 1')}) / "
        f"({d('COALESCE(uc.cu, 0)')} + {d('v.v')}))"
    )
    tok_all = explode_with_pos(dialect, "docs", "toks", "pos", "tok", "doc_id")
    return f"""
WITH docs AS (
  SELECT doc_id, {toks} AS toks FROM documents WHERE text IS NOT NULL
),
tok_all AS ({tok_all}),
big_all AS (
  SELECT doc_id, tok AS w1,
         lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos ASC) AS w2
  FROM tok_all
),
bigp_all AS (SELECT doc_id, w1, w2 FROM big_all WHERE w2 IS NOT NULL),
bigp_era AS (SELECT * FROM bigp_all WHERE doc_id % 5 <> 4),
bc AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
  FROM bigp_era GROUP BY w1, w2
),
uc AS (
  SELECT w1, CAST(count(*) AS BIGINT) AS cu FROM bigp_era GROUP BY w1
),
vocab AS (
  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
  FROM tok_all WHERE doc_id % 5 <> 4
),
scored AS (
  SELECT b.doc_id,
         CAST(count(*) + 1 AS BIGINT) AS n_tokens,
         {r6t(f"exp(-(sum({lp}) / count(*)))")} AS ppl
  FROM bigp_all b
  LEFT JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
  LEFT JOIN uc ON b.w1 = uc.w1
  CROSS JOIN vocab v
  GROUP BY b.doc_id
),
bucketed AS (
  SELECT doc_id, ppl, n_tokens, CAST(floor(ppl) AS BIGINT) AS bucket
  FROM scored
),
bcounts AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM bucketed GROUP BY bucket
),
boffsets AS (
  SELECT bucket,
         CAST(sum(n) OVER (ORDER BY bucket ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n AS BIGINT) AS offset_0,
         CAST(sum(n) OVER () AS BIGINT) AS n_total
  FROM bcounts
),
ranked AS (
  SELECT w.doc_id, w.ppl, w.n_tokens,
         CAST(boff.offset_0 + w.wrk AS BIGINT) AS grank, boff.n_total
  FROM (
    SELECT doc_id, ppl, n_tokens, bucket,
           CAST(row_number() OVER (
             PARTITION BY bucket ORDER BY ppl ASC, doc_id ASC
           ) AS BIGINT) AS wrk
    FROM bucketed
  ) w
  JOIN boffsets boff ON w.bucket = boff.bucket
),
sharded AS (
  SELECT doc_id, ppl, n_tokens,
         {idiv(dialect, f"{s} * (grank - 1)", "n_total")} AS shard_id
  FROM ranked
)
SELECT CAST(shard_id AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(ppl) AS ppl_min,
       max(ppl) AS ppl_max,
       CAST(sum(({h}) % {m}) AS BIGINT) AS checksum
FROM sharded
GROUP BY shard_id
ORDER BY shard_id
"""


def _sp21_incremental_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP21, Spark side: the REAL store lifecycle — init on the era-A
    corpus slice (freezing the difficulty model), one batch ingest of
    the full corpus (replaying era A exercises the anti-join
    idempotence; era B is the genuinely-new mass), manifest read from
    the physical shard partitions."""
    from ..operators.text import (
        curriculum_manifest,
        init_curriculum_store,
        update_curriculum_shards,
    )

    docs = load_table(spark, sf_dir, "documents").filter("text IS NOT NULL")
    root = scratch_store("sp21", sf_dir)
    init_curriculum_store(spark, docs.filter("doc_id % 5 <> 4"), root)
    update_curriculum_shards(spark, docs, root)
    return curriculum_manifest(spark, root)


QUERIES["sp21_incremental_curriculum"] = _sp21_incremental_curriculum
TEXT_ORACLES["sp21_incremental_curriculum"] = sql_incremental_curriculum(
    "duck"
)


# --- TXT24: Gopher quality rules ------------------------------------------------
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _gopher_metrics(dialect: str):
    """The per-doc metric expressions + integer rule predicates shared by
    txt24's corpus report and dq7's dataset card: returns
    (metric_exprs over a (text, toks, lns) row, rules over the metric
    ALIASES, the line-split expression)."""
    from .dialect import regexp_count

    n_words = list_len(dialect, "toks")
    big0 = "CAST(0 AS BIGINT)"
    sum_len = map_fold_sum(
        dialect, "toks", "CAST(length(x) AS BIGINT)", init=big0
    )
    if dialect == "spark":
        alpha = "size(filter(toks, x -> x rlike '[A-Za-z]'))"
        contains = "array_contains"
        lines = "split(text, chr(10))"
        bullet = (
            "size(filter(lns, l -> substring(l, 1, 1) = '-' "
            "OR substring(l, 1, 1) = '*'))"
        )
        ell = "size(filter(lns, l -> l LIKE '%...'))"
    else:
        alpha = "len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))"
        contains = "list_contains"
        lines = "string_split(text, chr(10))"
        bullet = (
            "len(list_filter(lns, l -> substring(l, 1, 1) = '-' "
            "OR substring(l, 1, 1) = '*'))"
        )
        ell = "len(list_filter(lns, l -> l LIKE '%...'))"
    stop_hits = " + ".join(
        f"CASE WHEN {contains}(toks, '{w}') THEN 1 ELSE 0 END"
        for w in GOPHER_STOPWORDS
    )
    symbols = (
        f"{regexp_count(dialect, 'text', '#')}"
        f" + {regexp_count(dialect, 'text', '[.][.][.]')}"
    )
    metrics = {
        "n_words": n_words,
        "sum_len": sum_len,
        "n_alpha": alpha,
        "n_stop": stop_hits,
        "n_sym": symbols,
        "n_lines": list_len(dialect, "lns"),
        "n_bullet": bullet,
        "n_ell": ell,
    }
    rules = {
        "g1_word_count": (
            f"n_words < {GOPHER_MIN_WORDS} OR n_words > {GOPHER_MAX_WORDS}"
        ),
        "g2_mean_word_len": "sum_len < 3 * n_words OR sum_len > 10 * n_words",
        "g3_symbol_ratio": "10 * n_sym > n_words",
        "g4_alpha_words": "5 * n_alpha < 4 * n_words",
        "g5_stop_words": "n_stop < 2",
        "g6_bullet_lines": "10 * n_bullet > 9 * n_lines",
        "g7_ellipsis_lines": "10 * n_ell > 3 * n_lines",
    }
    return metrics, rules, lines


def sql_gopher_rules(dialect: str) -> str:
    """TXT24 — the Gopher/MassiveWeb heuristic quality rules (Rae et al.
    2021, appendix A1.1) — the standard pre-training document gate that
    runs BEFORE the model-based filters (txt15 perplexity, txt18 trained
    classifier, txt20 CCNet buckets): per document,

      g1 word count ∈ [50, 100k]          g2 mean word length ∈ [3, 10]
      g3 symbol-to-word ratio ≤ 0.1 ('#' + '…' as '...')
      g4 ≥ 80% of words contain an alphabetic character
      g5 ≥ 2 of 8 required stop words      g6 ≤ 90% of lines bullet-led
      g7 ≤ 30% of lines ellipsis-ended

    Output: one row per rule with the corpus-wide violation count, plus
    the all-pass row — the filter-tuning report a curation run reads.

    Planted fixture (the dq6 pattern): the synthetic corpus trips only
    the word-count and stop-word rules on its own, so each rule gets a
    plant class that flips it — stop-word salts (g5 pass / all-pass),
    symbol salads (g3), bullet-led rewrites (g6), ellipsis-ended extra
    lines (g7), numeric salads (g4), single-char salads (g2) — both
    branches of every rule carry nonzero hash-compared evidence.

    Integer-exact in both engines: every ratio test is cross-multiplied
    (10·symbols > n_words; 5·n_alpha < 4·n_words; 3·n ≤ Σlen ≤ 10·n;
    10·bullets > 9·lines; 10·ellipsis > 3·lines) so no float ever
    forms.  Scale shape: one codegen'd map-only projection per doc + one
    8-counter global aggregate (map-side partial) — the f1/txt2 shape;
    no shuffle beyond the final rollup."""
    metrics, rules, lines = _gopher_metrics(dialect)
    if dialect == "spark":
        def arr_join(a: str) -> str:
            return f"array_join({a}, ' ')"
    else:
        def arr_join(a: str) -> str:
            return f"array_to_string({a}, ' ')"

    num_salad = arr_join(
        transform(dialect, seq(dialect, "1", "60"), "CAST(i AS STRING)", var="i")
    )
    a_salad = arr_join(
        transform(dialect, seq(dialect, "1", "200"), "'a'", var="i")
    )
    metric_select = ",\n         ".join(
        f"CAST({expr} AS BIGINT) AS {name}"
        for name, expr in metrics.items()
    )
    viols = ",\n       ".join(
        f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS {name}"
        for name, cond in rules.items()
    )
    all_pass = " AND ".join(f"NOT ({cond})" for cond in rules.values())
    selects = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS rule, {name} AS n_docs FROM agg"
        for name in rules
    )
    return f"""
WITH nat AS (
  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
),
plants AS (
  SELECT doc_id + 10000000 AS doc_id,
         text || ' the of and that' AS text
  FROM nat WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 20000000, text || ' ### ... ### ... ### ... ### ...'
  FROM nat WHERE doc_id % 10 = 1
  UNION ALL
  SELECT doc_id + 30000000, '- ' || text FROM nat WHERE doc_id % 10 = 2
  UNION ALL
  SELECT doc_id + 40000000,
         text || chr(10) || 'closing line ...' || chr(10) || 'also ends ...'
  FROM nat WHERE doc_id % 10 = 3
  UNION ALL
  SELECT doc_id + 50000000, text || ' ' || {num_salad}
  FROM nat WHERE doc_id % 10 = 4
  UNION ALL
  SELECT doc_id + 60000000, text || ' ' || {a_salad}
  FROM nat WHERE doc_id % 10 = 5
),
docs AS (
  SELECT doc_id, text, {split_ws(dialect, "text")} AS toks, {lines} AS lns
  FROM (
    SELECT doc_id, text FROM nat
    UNION ALL SELECT doc_id, text FROM plants
  ) u
),
m AS (
  SELECT doc_id,
         {metric_select}
  FROM docs
),
agg AS (
  SELECT {viols},
       CAST(sum(CASE WHEN {all_pass} THEN 1 ELSE 0 END) AS BIGINT)
         AS g8_all_pass
  FROM m
)
{selects}
UNION ALL
SELECT 'g8_all_pass', g8_all_pass FROM agg
ORDER BY rule
"""


def _txt24_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TXT24, Spark side: the pure rendering — one map-only projection +
    one map-combinable global aggregate."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(sql_gopher_rules("spark"))


QUERIES["txt24_gopher_rules"] = _txt24_gopher_rules
TEXT_ORACLES["txt24_gopher_rules"] = sql_gopher_rules("duck")


# --- TXT25: retrieval-quality evaluation (MRR / recall@k) ---------------------
TXT25_STRIDE = 89          # every 89th doc seeds a query (fixed workload)
TXT25_PERTURB = 7          # every 7th token replaced with doc-unique noise
TXT25_MRR_LCM = 2520       # LCM(1..10): 2520/rank is an exact integer
TXT25_KS = (1, 5, 10)


def sql_retrieval_eval(dialect: str) -> str:
    """TXT25 — the EVALUATION harness for the lexical retrieval family:
    recall@k and MRR@k of txt22's BM25 scorer against a deterministic
    planted ground truth.  Every retrieval component the engine ships
    (txt14 doc-similarity, txt22/txt23 BM25, emb22 late interaction)
    ranks SOMETHING; a curation pipeline decides between them with
    exactly this harness — perturbed-copy queries whose source document
    is the known relevant answer (the standard synthetic-relevance
    protocol: a query is its source doc with every
    ``TXT25_PERTURB``-th token replaced by doc-unique noise, so lexical
    overlap stays high but the query is not a verbatim copy).

    Metrics, integer-exact (the emb24/sp18 discipline): per query the
    truth rank comes from the BM25 integer total order (score_micro
    DESC, match_doc ASC — organic duplicates may legitimately outrank
    the source; both engines agree deterministically); per k-level the
    report row carries n_hits (rank ≤ k) and the MRR numerator as the
    exact BIGINT Σ 2520/rank (2520 = LCM(1..10), so the division is
    exact integer arithmetic for every rank ≤ 10); recall and MRR are
    one r6-rounded division each at the very end.

    Scale shape: identical to txt22 — the corpus side is the tf/df
    token aggregate with one shuffle on the term key; the query side is
    a FIXED workload (stride + id cap, the |Q|·N lesson) and broadcasts;
    the grading joins are query-workload-sized.  The k-level table is
    three literal rows."""
    tok_rows = explode_from(dialect, "docs", "toks", "tok", "doc_id")
    lcm = TXT25_MRR_LCM
    if dialect == "spark":
        # noise token embeds the 1-BASED position (dd19's convention:
        # Spark lambda indexes are 0-based, DuckDB's 1-based) so the
        # token text is byte-identical across engines — inert here
        # (noise never matches corpus tokens) but kept convention-true
        perturb = (
            "transform(toks, (t, i) -> CASE WHEN (i + 1) % "
            f"{TXT25_PERTURB} = 0 THEN 'zq' || CAST(doc_id AS STRING) || "
            "'x' || CAST(i + 1 AS STRING) ELSE t END)"
        )
    else:
        perturb = (
            "list_transform(toks, (t, i) -> CASE WHEN i % "
            f"{TXT25_PERTURB} = 0 THEN 'zq' || CAST(doc_id AS STRING) || "
            "'x' || CAST(i AS STRING) ELSE t END)"
        )
    qtoks = explode_from(dialect, "qdocs", "qtoks", "tok", "query_doc")
    k1 = d(BM25_K1)
    bb = d(BM25_B)
    idf = (
        "ln(1 + (CAST(n_docs - df AS DOUBLE) + {h}) / "
        "(CAST(df AS DOUBLE) + {h}))"
    ).format(h=d("0.5"))
    tfnorm = (
        f"(CAST(tf AS DOUBLE) * ({k1} + {d('1.0')})) / "
        f"(CAST(tf AS DOUBLE) + {k1} * ({d('1.0')} - {bb} + {bb} * "
        f"CAST(dl AS DOUBLE) / avgdl))"
    )
    klev = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS k" for k in TXT25_KS
    )
    return f"""
WITH {docs_cte(dialect)},
tok_rows AS ({tok_rows}),
tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM tok_rows GROUP BY doc_id, tok
),
doclen AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok_rows GROUP BY doc_id
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM doclen
),
df AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
),
qdocs AS (
  SELECT doc_id AS query_doc, {perturb} AS qtoks
  FROM docs
  WHERE text IS NOT NULL AND doc_id % {TXT25_STRIDE} = 0
    AND doc_id < {BM25_MAX_QUERY_ID}
),
qterms AS (
  SELECT DISTINCT query_doc, tok FROM ({qtoks}) x
),
contrib AS (
  SELECT q.query_doc, c.doc_id AS match_doc,
         CAST(floor(({idf}) * ({tfnorm}) * {d('1000000.0')} + {d('0.5')})
              AS BIGINT) AS w_micro
  FROM qterms q
  JOIN tf c ON c.tok = q.tok
  JOIN df ON df.tok = q.tok
  JOIN doclen ON doclen.doc_id = c.doc_id
  CROSS JOIN stats
),
scored AS (
  SELECT query_doc, match_doc, CAST(sum(w_micro) AS BIGINT) AS score_micro
  FROM contrib GROUP BY query_doc, match_doc
),
ranked AS (
  SELECT query_doc, match_doc,
         CAST(row_number() OVER (
           PARTITION BY query_doc
           ORDER BY score_micro DESC, match_doc ASC
         ) AS BIGINT) AS rnk
  FROM scored
),
rt AS (
  SELECT q.query_doc, r.rnk AS rank_truth
  FROM qdocs q
  LEFT JOIN ranked r
    ON r.query_doc = q.query_doc AND r.match_doc = q.query_doc
),
nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM qdocs),
klev AS ({klev}),
graded AS (
  SELECT k.k,
         CAST(sum(CASE WHEN rt.rank_truth <= k.k THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hits,
         CAST(sum(CASE WHEN rt.rank_truth <= k.k
                  THEN {idiv(dialect, str(lcm), "rt.rank_truth")}
                  ELSE 0 END) AS BIGINT) AS mrr_scaled
  FROM klev k CROSS JOIN rt GROUP BY k.k
)
SELECT g.k, nq.n_queries, g.n_hits,
       {r6t("CAST(g.n_hits AS DOUBLE) / CAST(nq.n_queries AS DOUBLE)")}
         AS recall_at_k,
       g.mrr_scaled,
       {r6t(f"CAST(g.mrr_scaled AS DOUBLE) / ({d(str(float(TXT25_MRR_LCM)))} * CAST(nq.n_queries AS DOUBLE))")}
         AS mrr_at_k
FROM graded g CROSS JOIN nq
ORDER BY g.k
"""


def _txt25_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TXT25, Spark side: the pure rendering — txt22's corpus aggregates,
    the broadcast fixed query workload, and a 3-row grading rollup."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(sql_retrieval_eval("spark"))


QUERIES["txt25_retrieval_eval"] = _txt25_retrieval_eval
TEXT_ORACLES["txt25_retrieval_eval"] = sql_retrieval_eval("duck")


# --- TXT26: cross-family retrieval leaderboard --------------------------------
TXT26_DIM = 16             # txt13's feature-hash dim (the dense encoder)


def _txt26_qdocs_body(dialect: str, docs: str) -> str:
    """qdocs CTE body (the txt25 perturbation workload) over doc source
    ``docs`` — shared between the one-SQL oracle and the Spark staged
    form of sql_retrieval_leaderboard."""
    if dialect == "spark":
        perturb = (
            "transform(toks, (t, i) -> CASE WHEN (i + 1) % "
            f"{TXT25_PERTURB} = 0 THEN 'zq' || CAST(doc_id AS STRING) || "
            "'x' || CAST(i + 1 AS STRING) ELSE t END)"
        )
    else:
        perturb = (
            "list_transform(toks, (t, i) -> CASE WHEN i % "
            f"{TXT25_PERTURB} = 0 THEN 'zq' || CAST(doc_id AS STRING) || "
            "'x' || CAST(i AS STRING) ELSE t END)"
        )
    return f"""  SELECT doc_id AS query_doc, {perturb} AS qtoks
  FROM {docs}
  WHERE text IS NOT NULL AND doc_id % {TXT25_STRIDE} = 0
    AND doc_id < {BM25_MAX_QUERY_ID}"""


def _txt26_tf_body(tok_rows: str) -> str:
    """tf CTE body over token source ``tok_rows`` (dialect-neutral)."""
    return f"""  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM {tok_rows} GROUP BY doc_id, tok"""


def sql_retrieval_leaderboard(dialect: str, srcs: dict | None = None) -> str:
    """TXT26 — the cross-family retrieval LEADERBOARD: txt25 evaluates
    BM25 alone; the decision txt25 exists for is BM25 (txt22) vs dense
    single-vector (emb1's brute cosine over txt13's feature-hash
    embeddings — the deterministic in-engine encoder, so the dense arm
    is oracle-exact; swap in a trained encoder and the plan is
    unchanged) vs late-interaction (emb22's chunked MaxSim) on the SAME
    planted relevance.  One query, one report: per (engine, k) —
    n_hits, recall@k, the exact-integer MRR numerator, MRR@k — the
    table a curation pipeline reads to pick its retrieval stack.

    Shared protocol (txt25's): every ``TXT25_STRIDE``-th doc seeds a
    query — its text with every ``TXT25_PERTURB``-th token replaced by
    doc-unique noise — and the source doc is the planted truth.  All
    three engines rank the identical query token streams against the
    identical corpus; denominators are identical (n_queries counts the
    workload, a truth the engine never retrieves grades as a miss), so
    the rows are directly comparable.

    Per-engine exactness (the emb22/txt25 discipline): BM25 ranks on
    the micro-unit integer total order; the dense arm's cosine is
    BIGINT dot / (sqrt·sqrt) of integer bucket sums rounded HALF-UP to
    micro BIGINTs before ranking; the late arm is emb22's integer
    MaxSim sum.  Ties break on match_doc ASC everywhere; the MRR
    numerator is the exact BIGINT Σ 2520/rank.

    Scale shape: each arm is corpus-LINEAR under the fixed workload —
    BM25 is txt22's term-key shuffle; the dense arm is |Q|·N dim-16
    integer dots with the query side broadcast (emb1's shape — at
    100 TB the corpus side would be pre-cut by emb8's IVF front, same
    rerank); the late arm is |Q_chunks|·corpus_chunks with the
    query side broadcast (emb22's shape).  Every ranking window
    partitions by query_doc; the grading joins are workload-sized.

    ``srcs``: the Spark staged form passes snapshot VIEW names for the
    multi-referenced shared stages {{docs, tok_rows, qdocs, qtok_rows,
    tf}} — Spark inlines multi-reference CTEs (26 corpus scans in the
    plain rendering), DuckDB materializes them, so the oracle keeps the
    plain CTE text, byte-identical; both renderings share the SAME stage
    body text (one source of truth — the w12/w13/w14 discipline)."""
    staged = srcs is not None
    n = {
        "docs": "docs", "tok_rows": "tok_rows", "qdocs": "qdocs",
        "qtok_rows": None, "tf": "tf",
    }
    if srcs:
        n.update(srcs)
    dim = TXT26_DIM
    lcm = TXT25_MRR_LCM
    tok_rows = explode_from(dialect, n["docs"], "toks", "tok", "doc_id")
    qtok_rows = explode_from(
        dialect, n["qdocs"], "qtoks", "tok", "query_doc"
    )
    # qterms/qh read the query token stream; the plain form inlines the
    # explode as a subquery, the staged form reads the snapshot view
    qtok_sub = f"{n['qtok_rows']} x" if staged else f"({qtok_rows}) x"
    qtok_pos = explode_with_pos(
        dialect, n["qdocs"], "qtoks", "pos", "tok", "query_doc"
    )
    dtok_pos = explode_with_pos(
        dialect, n["docs"], "toks", "pos", "tok", "doc_id"
    )
    cte_docs = "" if staged else f"{docs_cte(dialect)},\n"
    cte_tok = "" if staged else f"tok_rows AS ({tok_rows}),\n"
    cte_qdocs = (
        "" if staged
        else f"qdocs AS (\n{_txt26_qdocs_body(dialect, n['docs'])}\n),\n"
    )
    cte_tf = "" if staged else f"tf AS (\n{_txt26_tf_body(n['tok_rows'])}\n),\n"
    # BM25 fragments (txt22/txt25)
    k1 = d(BM25_K1)
    bb = d(BM25_B)
    idf = (
        "ln(1 + (CAST(n_docs - df AS DOUBLE) + {h}) / "
        "(CAST(df AS DOUBLE) + {h}))"
    ).format(h=d("0.5"))
    tfnorm = (
        f"(CAST(tf AS DOUBLE) * ({k1} + {d('1.0')})) / "
        f"(CAST(tf AS DOUBLE) + {k1} * ({d('1.0')} - {bb} + {bb} * "
        f"CAST(dl AS DOUBLE) / avgdl))"
    )
    # feature-hash fragments (txt13/emb22)
    sgn = (
        f"CASE WHEN (CAST(floor(h / {dim}) AS BIGINT)) % 2 = 0 "
        "THEN 1 ELSE -1 END"
    )
    sums = ",\n       ".join(
        f"CAST(sum(CASE WHEN h % {dim} = {j} THEN {sgn} ELSE 0 END) AS BIGINT)"
        f" AS b{j}"
        for j in range(dim)
    )
    norm2 = " + ".join(f"b{j} * b{j}" for j in range(dim))
    dot = " + ".join(f"q.b{j} * c.b{j}" for j in range(dim))
    cos = (
        f"CAST(({dot}) AS DOUBLE) / "
        f"(sqrt(CAST(q.norm2 AS DOUBLE)) * sqrt(CAST(c.norm2 AS DOUBLE)))"
    )
    w_micro = (
        f"CAST(floor(({cos}) * {d('1000000.0')} + {d('0.5')}) AS BIGINT)"
    )
    rank_win = (
        "row_number() OVER (PARTITION BY query_doc "
        "ORDER BY score_micro DESC, match_doc ASC)"
    )
    klev = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS k" for k in TXT25_KS
    )
    return f"""
WITH {cte_docs}{cte_tok}{cte_qdocs}nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM {n['qdocs']}),
klev AS ({klev}),
{cte_tf}doclen AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM {n['tok_rows']} GROUP BY doc_id
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM doclen
),
df AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM {n['tf']} GROUP BY tok
),
qterms AS (
  SELECT DISTINCT query_doc, tok FROM {qtok_sub}
),
contrib AS (
  SELECT q.query_doc, c.doc_id AS match_doc,
         CAST(floor(({idf}) * ({tfnorm}) * {d('1000000.0')} + {d('0.5')})
              AS BIGINT) AS w_micro
  FROM qterms q
  JOIN {n['tf']} c ON c.tok = q.tok
  JOIN df ON df.tok = q.tok
  JOIN doclen ON doclen.doc_id = c.doc_id
  CROSS JOIN stats
),
scored_bm AS (
  SELECT query_doc, match_doc, CAST(sum(w_micro) AS BIGINT) AS score_micro
  FROM contrib GROUP BY query_doc, match_doc
),
ranked_bm AS (
  SELECT query_doc, match_doc, CAST({rank_win} AS BIGINT) AS rnk
  FROM scored_bm
),
dh AS (SELECT doc_id, {tok_hash(dialect, "tok")} AS h FROM {n['tok_rows']}),
dvec0 AS (
  SELECT doc_id,
       {sums}
  FROM dh GROUP BY doc_id
),
dvec AS (
  SELECT *, CAST({norm2} AS BIGINT) AS norm2 FROM dvec0
),
dvecn AS (SELECT * FROM dvec WHERE norm2 > 0),
qh AS (
  SELECT query_doc, {tok_hash(dialect, "tok")} AS h FROM {qtok_sub}
),
qvec0 AS (
  SELECT query_doc,
       {sums}
  FROM qh GROUP BY query_doc
),
qvec AS (
  SELECT *, CAST({norm2} AS BIGINT) AS norm2 FROM qvec0
),
qvecn AS (SELECT * FROM qvec WHERE norm2 > 0),
scored_dn AS (
  SELECT q.query_doc, c.doc_id AS match_doc, {w_micro} AS score_micro
  FROM qvecn q CROSS JOIN dvecn c
),
ranked_dn AS (
  SELECT query_doc, match_doc, CAST({rank_win} AS BIGINT) AS rnk
  FROM scored_dn
),
dpos AS ({dtok_pos}),
dordered AS (
  SELECT doc_id, tok,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos ASC)
              - 1 AS BIGINT) AS rn
  FROM dpos
),
dchunk_rows AS (
  SELECT doc_id, {idiv(dialect, "rn", str(EMB22_CHUNK))} AS chunk,
         {tok_hash(dialect, "tok")} AS h
  FROM dordered
  WHERE rn < {EMB22_CHUNK * EMB22_DOC_CHUNKS}
),
dcvec0 AS (
  SELECT doc_id, chunk,
       {sums}
  FROM dchunk_rows GROUP BY doc_id, chunk
),
dcvec AS (
  SELECT *, CAST({norm2} AS BIGINT) AS norm2 FROM dcvec0
),
dchunks AS (SELECT * FROM dcvec WHERE norm2 > 0),
qpos AS ({qtok_pos}),
qordered AS (
  SELECT query_doc, tok,
         CAST(row_number() OVER (PARTITION BY query_doc ORDER BY pos ASC)
              - 1 AS BIGINT) AS rn
  FROM qpos
),
qchunk_rows AS (
  SELECT query_doc, {idiv(dialect, "rn", str(EMB22_CHUNK))} AS chunk,
         {tok_hash(dialect, "tok")} AS h
  FROM qordered
  WHERE rn < {EMB22_CHUNK * EMB22_Q_CHUNKS}
),
qcvec0 AS (
  SELECT query_doc, chunk,
       {sums}
  FROM qchunk_rows GROUP BY query_doc, chunk
),
qcvec AS (
  SELECT *, CAST({norm2} AS BIGINT) AS norm2 FROM qcvec0
),
qchunks AS (SELECT * FROM qcvec WHERE norm2 > 0),
pairsim AS (
  SELECT q.query_doc, q.chunk AS qchunk, c.doc_id AS match_doc,
         {w_micro} AS w_micro
  FROM qchunks q CROSS JOIN dchunks c
),
maxsim AS (
  SELECT query_doc, qchunk, match_doc, CAST(max(w_micro) AS BIGINT) AS mx
  FROM pairsim GROUP BY query_doc, qchunk, match_doc
),
scored_li AS (
  SELECT query_doc, match_doc, CAST(sum(mx) AS BIGINT) AS score_micro
  FROM maxsim GROUP BY query_doc, match_doc
),
ranked_li AS (
  SELECT query_doc, match_doc, CAST({rank_win} AS BIGINT) AS rnk
  FROM scored_li
),
rt_all AS (
  SELECT 'bm25' AS engine, q.query_doc, r.rnk AS rank_truth
  FROM {n['qdocs']} q LEFT JOIN ranked_bm r
    ON r.query_doc = q.query_doc AND r.match_doc = q.query_doc
  UNION ALL
  SELECT 'dense', q.query_doc, r.rnk
  FROM {n['qdocs']} q LEFT JOIN ranked_dn r
    ON r.query_doc = q.query_doc AND r.match_doc = q.query_doc
  UNION ALL
  SELECT 'late', q.query_doc, r.rnk
  FROM {n['qdocs']} q LEFT JOIN ranked_li r
    ON r.query_doc = q.query_doc AND r.match_doc = q.query_doc
),
graded AS (
  SELECT rt.engine, k.k,
         CAST(sum(CASE WHEN rt.rank_truth <= k.k THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hits,
         CAST(sum(CASE WHEN rt.rank_truth <= k.k
                  THEN {idiv(dialect, str(lcm), "rt.rank_truth")}
                  ELSE 0 END) AS BIGINT) AS mrr_scaled
  FROM klev k CROSS JOIN rt_all rt GROUP BY rt.engine, k.k
)
SELECT g.engine, g.k, nq.n_queries, g.n_hits,
       {r6t("CAST(g.n_hits AS DOUBLE) / CAST(nq.n_queries AS DOUBLE)")}
         AS recall_at_k,
       g.mrr_scaled,
       {r6t(f"CAST(g.mrr_scaled AS DOUBLE) / ({d(str(float(TXT25_MRR_LCM)))} * CAST(nq.n_queries AS DOUBLE))")}
         AS mrr_at_k
FROM graded g CROSS JOIN nq
ORDER BY g.engine, g.k
"""


def _txt26_retrieval_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TXT26, Spark side: the five multi-referenced shared stages (docs,
    corpus/query token streams, tf) are SNAPSHOT once each behind unique
    temp views (lazy localCheckpoints — the t6/j3/w12 pattern); the
    plain rendering inlined them per reference, re-tokenizing the corpus
    into 26 parquet scans / 60 exchanges.  Same stage text, same values;
    the DuckDB oracle (which materializes multi-reference CTEs natively)
    is byte-identical to before."""
    import uuid

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    views: list[str] = []

    def snap(sql: str, tag: str) -> str:
        nm = f"__txt26_{tag}_{uuid.uuid4().hex}"
        spark.sql(sql).localCheckpoint(eager=False).createOrReplaceTempView(nm)
        views.append(nm)
        return nm

    docs_v = snap(f"WITH {docs_cte('spark')} SELECT * FROM docs", "docs")
    tok_v = snap(explode_from("spark", docs_v, "toks", "tok", "doc_id"), "tok")
    qdocs_v = snap(_txt26_qdocs_body("spark", docs_v), "qdocs")
    qtok_v = snap(
        explode_from("spark", qdocs_v, "qtoks", "tok", "query_doc"), "qtok"
    )
    tf_v = snap(_txt26_tf_body(tok_v), "tf")
    try:
        return spark.sql(
            sql_retrieval_leaderboard(
                "spark",
                srcs={
                    "docs": docs_v,
                    "tok_rows": tok_v,
                    "qdocs": qdocs_v,
                    "qtok_rows": qtok_v,
                    "tf": tf_v,
                },
            )
        )
    finally:
        for nm in views:
            spark.catalog.dropTempView(nm)


QUERIES["txt26_retrieval_leaderboard"] = _txt26_retrieval_leaderboard
TEXT_ORACLES["txt26_retrieval_leaderboard"] = sql_retrieval_leaderboard("duck")


# --- DD19: MinHash-LSH band/row operating curve -------------------------------
DD19_DOCS = 400            # bounded calibration sample (see scale note)
DD19_STRIDE = 5            # near twins from residue 0, far twins residue 1
DD19_NEAR_BASE = 2_000_000
DD19_FAR_BASE = 3_000_000
DD19_NEAR_K = 12           # near twin: every 12th token replaced (dd12's J)
DD19_FAR_K = 4             # far twin: every 4th token replaced (J ≈ 0.15)
DD19_BAND_SIZES = (1, 2, 4, 8)


def _dd19_perturb(dialect: str, k: int, base: int) -> str:
    """Every k-th token replaced with a doc-unique noise token — the dd12
    perturbation parameterized by k (Spark lambda index 0-based, DuckDB
    1-based, the dq6 convention)."""
    # the noise token embeds the 1-BASED position in both engines (Spark
    # lambda indexes are 0-based, DuckDB's 1-based — the token text must
    # be byte-identical or the shingle hashes diverge)
    if dialect == "spark":
        noise = (
            f"'n{base}q' || CAST(doc_id AS STRING) || 'x' "
            "|| CAST(i + 1 AS STRING)"
        )
        return (
            f"array_join(transform(toks, (t, i) -> CASE WHEN (i + 1) % {k} "
            f"= 0 THEN {noise} ELSE t END), ' ')"
        )
    noise = (
        f"'n{base}q' || CAST(doc_id AS STRING) || 'x' || CAST(i AS STRING)"
    )
    return (
        f"array_to_string(list_transform(toks, (t, i) -> CASE WHEN i % {k} "
        f"= 0 THEN {noise} ELSE t END), ' ')"
    )


def sql_lsh_operating_curve(dialect: str) -> str:
    """DD19 — the (bands × rows) OPERATING CURVE for MinHash LSH: emb24
    picked the ANN serving operating point (probe count) from one
    measured sweep; dd19 does the same for the dedup family's banding
    choice.  The engine ships three fixed operating points today (dd4's
    4×4, dd12's recall-tuned 8×2, dd6's clustering on dd4's bands); the
    harness that JUSTIFIES such a choice is this sweep — the Leskovec
    et al. S-curve P(candidate) = 1 − (1 − J^r)^b measured, not
    assumed, on a planted two-class fixture:

      near twins (residue-0 docs, every 12th token replaced, shingle
      Jaccard ≈ 0.6) must survive permissive AND mid bandings;
      far twins (residue-1 docs, every 4th token replaced, J ≈ 0.15)
      must be caught ONLY by the permissive end — the curve's whole
      point is that r acts as a Jaccard threshold knob.

    Per band_size r ∈ {1, 2, 4, 8} over the SAME 16 signature hashes
    (one signature pass feeds every grid level — emb24's one-scored-pass
    rule): the distinct colliding pair count and each class's planted
    recall, every number deterministic (fixed hash series; the oracle
    replays the identical arithmetic).

    Scale note: the sweep itself runs on a BOUNDED calibration sample
    (DD19_DOCS docs — r=1 single-hash bands are the degenerate
    permissive end whose buckets approach all-pairs, included for curve
    shape; sweeping on the full corpus would be the dd2 viral-shingle
    trap).  The chosen (b, r) then drives dd4/dd12 at corpus scale,
    where banding cost is the familiar one-shuffle bucket join."""
    toks = split_ws(dialect, "text")
    near = _dd19_perturb(dialect, DD19_NEAR_K, DD19_NEAR_BASE)
    far = _dd19_perturb(dialect, DD19_FAR_K, DD19_FAR_BASE)
    per_r = []
    for r in DD19_BAND_SIZES:
        bands = _bands_sql(dialect, "c_sigs", r)
        per_r.append(f"""bands_{r} AS ({bands}),
pairs_{r} AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands_{r} a
  JOIN bands_{r} b
    ON a.band_id = b.band_id AND a.band_sig = b.band_sig
   AND a.doc_id < b.doc_id
)""")
    selects = []
    for r in DD19_BAND_SIZES:
        selects.append(f"""SELECT CAST({r} AS BIGINT) AS band_size,
       CAST({N_HASHES // r} AS BIGINT) AS n_bands,
       (SELECT CAST(count(*) AS BIGINT) FROM pairs_{r}) AS n_candidates,
       (SELECT CAST(count(*) AS BIGINT) FROM near_src) AS n_near_planted,
       (SELECT CAST(count(*) AS BIGINT) FROM pairs_{r} p
         JOIN near_src s ON p.da = s.doc_id
                        AND p.db = s.doc_id + {DD19_NEAR_BASE})
         AS n_near_found,
       (SELECT CAST(count(*) AS BIGINT) FROM far_src) AS n_far_planted,
       (SELECT CAST(count(*) AS BIGINT) FROM pairs_{r} p
         JOIN far_src s ON p.da = s.doc_id
                       AND p.db = s.doc_id + {DD19_FAR_BASE})
         AS n_far_found""")
    body = "\nUNION ALL\n".join(selects)
    per_r_joined = ",\n".join(per_r)
    return f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id < {DD19_DOCS} AND text IS NOT NULL
),
near_src AS (
  SELECT doc_id FROM base WHERE doc_id % {DD19_STRIDE} = 0
),
far_src AS (
  SELECT doc_id FROM base WHERE doc_id % {DD19_STRIDE} = 1
),
corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + {DD19_NEAR_BASE} AS doc_id, {near} AS text
  FROM (SELECT doc_id, {toks} AS toks FROM base
        WHERE doc_id % {DD19_STRIDE} = 0) s
  UNION ALL
  SELECT doc_id + {DD19_FAR_BASE} AS doc_id, {far} AS text
  FROM (SELECT doc_id, {toks} AS toks FROM base
        WHERE doc_id % {DD19_STRIDE} = 1) s
),
{_sigs_over(dialect, "corpus", "c_")},
{per_r_joined},
curve AS (
{body}
)
SELECT band_size, n_bands, n_candidates,
       n_near_planted, n_near_found,
       {r6t("CAST(n_near_found AS DOUBLE) / CAST(n_near_planted AS DOUBLE)")}
         AS near_recall,
       n_far_planted, n_far_found,
       {r6t("CAST(n_far_found AS DOUBLE) / CAST(n_far_planted AS DOUBLE)")}
         AS far_recall
FROM curve
ORDER BY band_size
"""


def _dd19_lsh_operating_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD19, Spark side: the pure rendering — one shingle→signature pass
    over the bounded fixture, four band explosions off the SAME
    signature rows, four bucket self-joins."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(sql_lsh_operating_curve("spark"))


QUERIES["dd19_lsh_operating_curve"] = _dd19_lsh_operating_curve
TEXT_ORACLES["dd19_lsh_operating_curve"] = sql_lsh_operating_curve("duck")
