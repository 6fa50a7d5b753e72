"""Fixture/property tests for the four queries built in round 14 and
PROMOTED into the registry at the r15 rotation (sp14 DoReMi, sp15
curriculum shards, dd16 semantic decontamination, mm13 image-text
alignment).  Their DuckDB-oracle parity gate now runs from test_parity
like every other registered query; these tests pin the properties the
oracle alone cannot (planted-fixture exactness, plan shapes, EG-step
direction, lossless alignment geometry)."""

from __future__ import annotations

import duckdb

from real_time_stock_market_data_pipeline_spark.plans import QUERIES


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


def test_sp14_alloc_is_exact_and_weights_normalize(spark, sf_dir):
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        DOREMI_BUDGET,
    )

    rows = QUERIES["sp14_doremi_mixture"](spark, sf_dir).collect()
    assert len(rows) == 20  # src0..src19
    assert sum(r.alloc for r in rows) == DOREMI_BUDGET
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-4
    assert all(r.excess_micro >= 0 for r in rows)


def test_sp14_planted_structured_domain_is_upweighted(spark):
    """The EG step's direction on a PLANTED fixture: one domain's text is
    pure repeated bigram structure (the bigram model learns it almost
    perfectly; the unigram model cannot), the others are shuffled word
    salad with the same tokens — the structured domain's final weight
    must exceed its baseline token share, and the salad domains' must
    not gain."""
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        sql_doremi,
    )

    import random

    # one shared 12-token vocabulary, so the UNIGRAM distribution is
    # identical across domains and only the bigram structure differs:
    # the cycle domain has high unigram entropy (ln 12) but deterministic
    # bigrams; the shuffled salads have the same unigrams and ~flat
    # bigrams (excess clips to 0 there — measured)
    vocab = [f"w{i}" for i in range(12)]
    structured = " ".join(vocab * 20)
    rng = random.Random(42)

    def salad() -> str:
        toks = vocab * 20
        rng.shuffle(toks)
        return " ".join(toks)

    rows = []
    did = 0
    for dom, texts in (
        ("structured", [structured] * 4),
        ("salad_a", [salad() for _ in range(4)]),
        ("salad_b", [salad() for _ in range(4)]),
    ):
        for text in texts:
            rows.append((did, text, "en", dom, len(text)))
            did += 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.createOrReplaceTempView("documents")
    try:
        out = {r.domain: r for r in spark.sql(sql_doremi("spark")).collect()}
        tot_tokens = sum(r.n_tokens for r in out.values())
        share = {k: r.n_tokens / tot_tokens for k, r in out.items()}
        assert out["structured"].excess_micro > out["salad_a"].excess_micro
        assert out["structured"].weight > share["structured"]
        assert out["structured"].alloc > out["salad_a"].alloc
    finally:
        spark.catalog.dropTempView("documents")


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


def test_sp15_shards_are_balanced_contiguous_and_parallel_ranked(spark, sf_dir):
    """Equal-count (±1) contiguous curriculum phases covering every doc,
    AND the scale contract: the expensive per-doc ranking window is
    PARTITIONED (by the coarse difficulty bucket) — the only global
    window in the plan runs over the few-dozen-row bucket table."""
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        SP15_SHARDS,
    )

    df = QUERIES["sp15_curriculum_shards"](spark, sf_dir)
    rows = sorted(df.collect(), key=lambda r: r.shard_id)
    assert [r.shard_id for r in rows] == list(range(SP15_SHARDS))
    sizes = [r.n_docs for r in rows]
    assert max(sizes) - min(sizes) <= 1
    n_corpus = spark.sql("SELECT count(*) AS n FROM documents").first()["n"]
    assert sum(sizes) == n_corpus
    for a, b in zip(rows, rows[1:]):
        assert a.ppl_max <= b.ppl_min  # contiguous in the total order
    # the per-doc row_number window must carry a partition spec: its
    # sort order starts with the bucket key, never a bare global sort
    # over doc-sized input
    plan = df._jdf.queryExecution().executedPlan().toString()
    doc_windows = [
        ln for ln in plan.splitlines() if "row_number" in ln
    ]
    assert doc_windows and all("bucket" in ln for ln in doc_windows)


def test_mm13_matched_pairs_score_exactly_one(spark, sf_dir):
    """The alignment gate's two halves: every matched pair scores EXACTLY
    1.0 (the BMP geometry is padding-free and the tail filler is zero, so
    the decoded position-class sums equal the caption's bit-for-bit — a
    losslessness pin on encode → real decode → file-position
    reconstruction), and every planted wrong-caption pair falls under the
    0.8 gate (mismatched max 0.766 across all three SFs, measured)."""
    rows = QUERIES["mm13_image_text_alignment"](spark, sf_dir).collect()
    assert rows
    matched = [r for r in rows if not r.is_planted_mismatch]
    planted = [r for r in rows if r.is_planted_mismatch]
    assert matched and planted
    assert all(r.alignment == 1.0 and r.aligned for r in matched)
    assert all(r.alignment < 0.8 and not r.aligned for r in planted)
    # planted pairs really carry the NEIGHBOR's image
    assert all(r.media_src_id == r.doc_id + 1 for r in planted)
    assert all(r.media_src_id == r.doc_id for r in matched)


def test_mm13_non_ascii_caption_fails_loudly(spark, sf_dir, tmp_path):
    """A caption with a multi-byte character would misalign the BMP
    payload against the per-character text walk; the plan must raise in
    its own projection instead of scoring a wrong alignment."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    t = pq.read_table(f"{sf_dir}/documents.parquet")
    texts = t.column("text").to_pylist()
    i = next(j for j, x in enumerate(texts) if x)
    texts[i] = texts[i] + " caf\u00e9"
    t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(texts))
    pq.write_table(t, tmp_path / "documents.parquet")
    with pytest.raises(Exception, match="mm13: non-ASCII"):
        QUERIES["mm13_image_text_alignment"](spark, str(tmp_path)).collect()


def test_mm13_corpus_is_ascii_at_every_sf():
    """r14 ADVICE pin: mm13's BMP payload hex-encodes ONE byte per
    character (``lpad(hex(ascii(ch)), 2, '0')`` silently truncates a
    codepoint > 255 to its low hex digits) and ``lt``/``lm`` are octet
    lengths indexed per character, while the DuckDB oracle reads full
    ``unicode()`` codepoints — the construction is sound only while the
    documents corpus is pure ASCII.  Pin that explicitly at all three
    SFs: octet_length == length for every text (single-byte UTF-8 ⇔
    every codepoint < 128), so a future corpus regeneration with
    non-ASCII text fails HERE instead of as an opaque parity mismatch."""
    import os

    con = duckdb.connect()
    checked = 0
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/documents.parquet"
        if not os.path.exists(path):
            continue
        bad = con.execute(
            f"SELECT count(*) FROM '{path}' "
            "WHERE text IS NOT NULL AND octet_length(encode(text)) <> length(text)"
        ).fetchone()[0]
        assert bad == 0, f"{sf}: {bad} non-ASCII documents"
        checked += 1
    assert checked > 0
