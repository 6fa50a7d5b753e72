"""Structural invariants for the queries NEW in round 16 (their value
parity against DuckDB is pinned by tests/test_parity.py like every
registered query; these pin the properties the oracle can't read off a
single corpus)."""

from __future__ import annotations

from real_time_stock_market_data_pipeline_spark.plans import QUERIES


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
