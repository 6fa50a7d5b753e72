"""Mimics the driver's correctness gate: every oracle-backed query must match
its DuckDB twin exactly (row count, columns, values) at sf0.001."""

from __future__ import annotations

import pytest

from real_time_stock_market_data_pipeline_spark.plans import ORACLES, QUERIES
from real_time_stock_market_data_pipeline_spark.plans.parity import (
    check_query,
    duck_connection,
)


@pytest.fixture(scope="module")
def duck(sf_dir):
    return duck_connection(sf_dir)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    res = check_query(name, QUERIES[name](spark, sf_dir), ORACLES.get(name), duck)
    assert res.ok, f"{name}: {res.errors}"


def test_every_query_has_oracle_or_is_documented():
    # queries without an oracle get only the weaker rows-only check;
    # keep that set explicit so it never grows silently.
    rows_only = set(QUERIES) - set(ORACLES)
    allowed = {name for name in rows_only if name.startswith(("u2_", "u3_", "u4_", "t_"))}
    assert rows_only == allowed, f"missing oracles: {rows_only - allowed}"


def test_r19_driver_window_pinned():
    """The driver records correctness rows for the FIRST 50 registrations
    only, so the window IS part of the round's evidence plan (the "R20
    WINDOW PLAN" committed in round 19): the 26 r16-green entries
    displaced past slot 50 by the r19 window (the "FROZEN FOR R20" block,
    oldest evidence in the registry) lead in r16-window order, and —
    round 20 registering no new queries — the r17-green block fills to
    exactly 50 in r17-window order (oldest evidence first).  An
    accidental import-order or registration change would silently spend
    the evidence budget on the wrong queries — fail loudly instead."""
    from real_time_stock_market_data_pipeline_spark.plans import QUERIES

    names = list(QUERIES)
    leads = [
        "emb12_incremental_pq", "dq3_embedding_audit", "emb13_ivfpq_recall",
        "txt14_doc_retrieval", "dd12_neardup_decontamination",
        "mm10_crossmodal_decontamination", "dd13_compacted_table",
        "emb14_incremental_ivfpq", "sp8_decontaminated_pipeline",
        "txt10_repetition", "sp6_temperature_mixture", "sp7_corpus_pipeline",
        "a13_ohlc_candles", "w11_vwap", "emb9_quantized_recall",
        "dd10_exact_decontamination", "txt11_pii_redaction",
        "dd9_incremental_minhash", "emb7_embedding_clusters",
        "dd2_ngram_jaccard", "txt5_bpe_tokens", "f1_scalar_suite", "w4_rsi",
        "w5_bollinger", "w6_macd", "w7_volatility",
    ]
    assert names[:26] == leads
    # no new queries this round: the remaining 24 window slots are the
    # first 24 entries of the r17-green block, in r17-window order
    assert names[26:50] == _R17_WINDOW_ORDER[:24]
    # slot 50 boundary: the frozen-for-r21 block starts at index 50 with
    # the first displaced r17 fill
    assert names[50] == _R17_WINDOW_ORDER[24]


# the r17-window order the round-20 fills draw from (the full 50-entry
# r17-green block): any window slot not taken by a displaced-r16 lead is
# filled from this list front-to-back, and displaced entries head the
# frozen-for-r21 block.
_R17_WINDOW_ORDER = [
    "w8_price_change", "w9_ml_features", "txt2_quality", "txt3_langid",
    "w10_throttled_volatility", "p8_extreme_filter", "j5_dim_lookup",
    "emb20_d4_prototypes", "dd14_snapshot_dedup", "mm12_multimodal_packing",
    "dq4_index_recall_drift", "sp13_model_curated_corpus",
    "txt20_ccnet_buckets", "a3_active_series", "mm3_bmp_pixel_stats",
    "mm4_wav_stats", "mm5_avi_frame_stats", "sp19_launch_manifest",
    "dq8_release_card", "txt25_retrieval_eval", "dd19_lsh_operating_curve",
    "dq9_takedown_compliance", "mm6_png_roundtrip_stats", "flagship",
    "s14_arima_registry", "mm2_image_dims", "t6_alerts", "j3_alert_feed",
    "emb4_ivf_topk", "emb5_ivf_trained_recall", "s9_analytics_upsert",
    "sp1_hash_split", "dq1_expectations", "a9_sketch_rollup",
    "dd8_contamination", "txt6_vocab", "txt7_bpe_merges",
    "emb8_ivf_index_search", "a10_value_histogram", "a11_daily_type_pivot",
    "a12_rollup_sets", "sp3_capped_per_group", "sp4_balanced_mixture",
    "dq2_volume_anomalies", "emb15_semantic_dedup",
    "emb16_semdedup_keep_policy", "mm11_triad_decontamination",
    "sp9_dup_aware_split", "emb17_incremental_semdedup",
    "txt15_perplexity_filter",
]


def test_window_rotation_never_starves_a_query():
    """The AUTOMATED form of the rotation policy (the r11 verdict flagged
    the window as growing hand-maintained state): the driver's 50-row
    window must contain (a) every query with no green driver row yet and
    (b) only queries whose newest green evidence is no FRESHER than any
    query left outside — i.e. no query outside the window has strictly
    older evidence than one inside.  The pinned-order test above checks
    the round's exact plan; this one checks the POLICY, so a future
    rotation that silently starves a query fails even if someone updates
    the pin to match it."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    newest: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        try:
            rows = json.load(open(f))
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            green = (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match", True)
                and not row.get("err")
            )
            if green and name in QUERIES:
                newest[name] = max(newest.get(name, 0), rnd)
    if not newest:
        pytest.skip("no driver CORRECTNESS artifacts present")
    names = list(QUERIES)
    window, outside = names[:50], names[50:]
    never_rowed = [n for n in names if n not in newest]
    assert all(n in window for n in never_rowed), (
        f"queries with no driver evidence left outside the window: "
        f"{[n for n in never_rowed if n not in window]}"
    )
    rowed_in = [newest[n] for n in window if n in newest]
    missing_outside = [n for n in outside if n not in newest]
    assert not missing_outside  # outside queries must all carry evidence
    if rowed_in and outside:
        assert max(rowed_in) <= min(newest[n] for n in outside), (
            "a query outside the window has strictly older evidence than "
            "one inside — the rotation is starving it"
        )
