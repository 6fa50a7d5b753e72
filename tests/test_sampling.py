"""Corpus sampling and mixture queries: invariants their DuckDB oracles
cannot read off a single corpus (exact budgets, EG-step direction on a
planted fixture, shard balance and plan shape), and the shared curriculum
model training."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline_spark.plans import QUERIES


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


def test_sp18_budget_exact_and_greedy_shape(spark, sf_dir):
    """Σ tokens_used must equal ⌊5·U_tot/2⌋ EXACTLY (the integer
    telescoping argument), exactly one slice is partial (the boundary),
    per-domain epochs are contiguous from 0 (the geometric decay makes
    epoch k+1 strictly less valuable than k, so greedy can never skip),
    and the take order is the pinned integer total order."""
    rows = QUERIES["sp18_data_constrained_mixture"](spark, sf_dir).collect()
    assert rows == sorted(rows, key=lambda r: r.take_rank)
    # U_tot derived independently of the manifest (the manifest need not
    # contain every domain): total whitespace tokens over non-empty docs
    from pyspark.sql import functions as F

    from real_time_stock_market_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").filter("text IS NOT NULL")
    n_tok = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    u_true = (
        docs.select(n_tok.alias("n"))
        .filter("n >= 1")
        .agg(F.sum("n"))
        .first()[0]
    )
    assert sum(r.tokens_used for r in rows) == (5 * u_true) // 2
    partials = [r for r in rows if r.is_partial]
    assert len(partials) == 1 and partials[0].take_rank == len(rows)
    b = partials[0]
    assert 0 < b.tokens_used < b.unique_tokens
    assert b.head_tokens >= 0 and b.n_docs_used >= 1
    per_dom: dict[str, list[int]] = {}
    for r in rows:
        per_dom.setdefault(r.domain, []).append(int(r.epoch))
    for dom, eps in per_dom.items():
        assert sorted(eps) == list(range(len(eps))), (dom, eps)
    # value order is a total order: strictly decreasing after tie-break
    keys = [(-r.value_scaled, r.epoch, r.domain) for r in rows]
    assert keys == sorted(keys)


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
