from .queries import QUERIES, flagship  # noqa: F401
from .oracles import ORACLES  # noqa: F401
from .indicator_parity import INDICATOR_ORACLES
from .text_parity import TEXT_ORACLES
from .embedding_parity import EMBEDDING_ORACLES
from .audit_parity import AUDIT_ORACLES

ORACLES.update(INDICATOR_ORACLES)
ORACLES.update(TEXT_ORACLES)
ORACLES.update(EMBEDDING_ORACLES)
ORACLES.update(AUDIT_ORACLES)

# The correctness gate checks queries in registration order and records
# rows for the first 50 only.  So queries sort on their newest green round in
# the committed CORRECTNESS_rNN.json files (never green first), then on their
# position in that round's file: the stalest evidence leads.  After a new
# CORRECTNESS file lands, `python tools/rotate_window.py` rewrites this list.
_PRIORITY = [
    "emb12_incremental_pq", "dq3_embedding_audit", "emb13_ivfpq_recall",
    "txt14_doc_retrieval", "dd12_neardup_decontamination",
    "mm10_crossmodal_decontamination", "dd13_compacted_table",
    "emb14_incremental_ivfpq", "sp8_decontaminated_pipeline",
    "txt10_repetition", "sp6_temperature_mixture", "sp7_corpus_pipeline",
    "a13_ohlc_candles", "w11_vwap", "emb9_quantized_recall",
    "dd10_exact_decontamination", "txt11_pii_redaction",
    "dd9_incremental_minhash", "emb7_embedding_clusters", "dd2_ngram_jaccard",
    "txt5_bpe_tokens", "f1_scalar_suite", "w4_rsi", "w5_bollinger", "w6_macd",
    "w7_volatility", "w8_price_change", "w9_ml_features", "txt2_quality",
    "txt3_langid", "w10_throttled_volatility", "p8_extreme_filter",
    "j5_dim_lookup", "emb20_d4_prototypes", "dd14_snapshot_dedup",
    "mm12_multimodal_packing", "dq4_index_recall_drift",
    "sp13_model_curated_corpus", "txt20_ccnet_buckets", "a3_active_series",
    "mm3_bmp_pixel_stats", "mm4_wav_stats", "mm5_avi_frame_stats",
    "sp19_launch_manifest", "dq8_release_card", "txt25_retrieval_eval",
    "dd19_lsh_operating_curve", "dq9_takedown_compliance",
    "mm6_png_roundtrip_stats", "flagship", "s14_arima_registry",
    "mm2_image_dims", "t6_alerts", "j3_alert_feed", "emb4_ivf_topk",
    "emb5_ivf_trained_recall", "s9_analytics_upsert", "sp1_hash_split",
    "dq1_expectations", "a9_sketch_rollup", "dd8_contamination", "txt6_vocab",
    "txt7_bpe_merges", "emb8_ivf_index_search", "a10_value_histogram",
    "a11_daily_type_pivot", "a12_rollup_sets", "sp3_capped_per_group",
    "sp4_balanced_mixture", "dq2_volume_anomalies", "emb15_semantic_dedup",
    "emb16_semdedup_keep_policy", "mm11_triad_decontamination",
    "sp9_dup_aware_split", "emb17_incremental_semdedup",
    "txt15_perplexity_filter", "emb18_filtered_ann", "txt16_duplicated_ngrams",
    "dd1_exact_dedup", "w2_sma", "w3_ema", "txt1_token_stats",
    "txt4_fingerprint", "emb10_incremental_ivf", "txt12_bigram_lm",
    "txt13_feature_hash", "mm7_dhash_pairs", "w12_series_similarity",
    "w13_series_all_pairs", "dd11_incremental_decontamination",
    "mm8_audio_pairs", "mm9_video_pairs", "emb11_pq_recall",
    "w14_series_banded_neardup", "dq5_serving_drift_monitors",
    "txt21_dsir_resample", "txt22_bm25_retrieval", "dd15_paragraph_dedup",
    "sp20_resume_manifest", "txt26_retrieval_leaderboard",
    "sp21_incremental_curriculum", "dq10_curriculum_drift",
    "sp14_doremi_mixture", "sp15_curriculum_shards",
    "dd16_semantic_decontamination", "mm13_image_text_alignment",
    "dd17_quality_survivors", "sp16_doremi_manifest",
    "dq6_contamination_audit", "txt23_incremental_bm25",
    "emb21_index_deletion", "sp17_epoch_shuffle", "emb22_late_interaction",
    "emb23_matryoshka_recall", "sp2_stratified_sample",
    "dd3_minhash_signatures", "dd4_minhash_candidates", "dd5_simhash",
    "emb1_knn_cosine", "emb2_label_centroids", "emb3_lsh_near_dup",
    "emb6_centered_lsh", "j2_analytics_dashboard", "j4_prediction_dashboard",
    "j11_range_join", "p7_validated_ticks", "p9_dedup_ticks",
    "j6_region_revenue", "j7_orders_without_big_lineitems",
    "j8_industry_rollup", "a4_daily_summary", "w1_latest_per_day",
    "w_all_indicators", "o3_training_fetch", "sk1_salted_daily_summary",
    "q1_pricing_summary", "t9_session_windows", "j10_asof_quote",
    "s13_model_roundtrip", "u2_arima_forecast", "u3_linreg_metrics",
    "u4_linreg_predictions", "txt8_bpe_tokenize", "txt9_bpe_incremental",
    "t10_throttle", "sp5_sequence_packing", "dd6_dup_clusters",
    "dd7_dedup_summary", "txt17_span_dedup", "txt18_quality_classifier",
    "sp10_domain_caps", "sp11_domain_mixture", "emb19_filtered_ivfpq",
    "txt19_incremental_span_dedup", "sp12_curated_corpus",
    "p3_time_window_filter", "p4_recent_window", "p5_equality_filter",
    "p6_flag_filter", "a7_dup_detection", "o1_top_events", "o4_latest_row",
    "o5_price_history", "o6_sorted_rollup", "dd18_corpus_takedown",
    "sp18_data_constrained_mixture", "emb24_probe_curve", "txt24_gopher_rules",
    "dq7_dataset_card", "a1_grouped_max", "a2_global_max", "a6_hourly_counts",
    "d1_distinct_event_types", "su1_set_ops", "j1_tick_dashboard",
    "mm1_media_meta",
]

_missing = [n for n in _PRIORITY if n not in QUERIES]
_unlisted = [n for n in QUERIES if n not in _PRIORITY]
_fix = "; run python tools/rotate_window.py"
assert not _missing, f"priority list names unknown queries: {_missing}{_fix}"
assert not _unlisted, f"queries missing from priority list: {_unlisted}{_fix}"

_ordered = {name: QUERIES[name] for name in _PRIORITY}
QUERIES.clear()
QUERIES.update(_ordered)
