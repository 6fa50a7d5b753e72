"""Physical-plan regression tests: the scale properties SURVEY §4 claims —
broadcast joins for dims, filter pushdown to the parquet scan, column
pruning, top-k without a global sort, rank-filter → WindowGroupLimit,
partial aggregation — must be visible in the executed plan, not assumed.
A refactor that silently turns a broadcast join into a sort-merge join or
un-pushes a filter should fail here long before a 100 TB run finds out."""

from __future__ import annotations

import pytest

from real_time_stock_market_data_pipeline_spark.plans import QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    return QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_dim_joins_broadcast_not_shuffle(spark, sf_dir):
    for name in ["j1_tick_dashboard", "j5_dim_lookup", "j8_industry_rollup"]:
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_j6_broadcasts_every_dim(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "j6_region_revenue")
    # customer/nation/region ride broadcasts; only lineitem⋈orders may shuffle
    assert plan.count("BroadcastHashJoin") >= 3


def test_equality_filter_pushed_to_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "p5_equality_filter")
    scan = plan[plan.find("FileScan") :]
    assert "PushedFilters" in scan
    assert "event_type" in scan.split("PushedFilters")[1][:200]


def test_q1_scan_prunes_columns(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    scan = plan[plan.find("FileScan") :]
    read_schema = scan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema
    assert "l_quantity" in read_schema


def test_topk_avoids_global_sort(spark, sf_dir):
    for name in ["o1_top_events", "o4_latest_row"]:
        plan = plan_of(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name


def test_latest_per_group_uses_window_group_limit(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "w1_latest_per_day")
    assert "WindowGroupLimit" in plan


def test_aggregations_are_partial_final(spark, sf_dir):
    for name in ["a4_daily_summary", "q1_pricing_summary"]:
        plan = plan_of(spark, sf_dir, name)
        # map-side partial + final after the exchange
        assert plan.count("HashAggregate") >= 2, name


def test_indicator_windows_single_sort_per_chain(spark, sf_dir):
    """The whole indicator chain shares one (company_id, ts, tick_id) sort:
    extra Sort nodes mean a window spec drifted from the canonical order."""
    plan = plan_of(spark, sf_dir, "w_all_indicators")
    assert plan.count("Sort ") <= 2  # one per-partition sort (+AQE reuse slack)


def test_scalar_suite_whole_stage_codegen(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "f1_scalar_suite")
    assert "*(" in plan  # the '*(n)' prefix marks WholeStageCodegen spans
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere


@pytest.mark.parametrize(
    "name",
    ["p7_validated_ticks", "w2_sma", "dd3_minhash_signatures", "txt2_quality",
     "dd14_snapshot_dedup"],
)
def test_no_python_udfs_in_jvm_paths(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name


def test_salted_agg_is_two_phase(spark, sf_dir):
    """sk1: phase-1 (keys+salt) and phase-2 (keys) aggregations, each with
    its own partial+final split → 4 HashAggregate nodes."""
    plan = plan_of(spark, sf_dir, "sk1_salted_daily_summary")
    assert plan.count("HashAggregate") >= 4


def test_j2_derived_join_shape(spark, sf_dir):
    """j2: one indicator pipeline (anchor comes from the raw scan, never a
    second inlined CTE), broadcast dim join, top-k without a global sort."""
    plan = plan_of(spark, sf_dir, "j2_analytics_dashboard")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Sort ") <= 2  # the one per-symbol window sort (+AQE slack)


def test_j4_prediction_join_shape(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "j4_prediction_dashboard")
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_s13_scoring_shape(spark, sf_dir):
    """score_latest: rank-filter runs as WindowGroupLimit; the model table
    rides a broadcast."""
    plan = plan_of(spark, sf_dir, "s13_model_roundtrip")
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dd2_single_pipeline_per_join_side(spark, sf_dir):
    """The stop-shingle cut must not add a third shingle pipeline: exactly
    one Generate (token explode) per self-join side."""
    plan = plan_of(spark, sf_dir, "dd2_ngram_jaccard")
    assert plan.count("Generate") <= 2


def test_s9_merge_shape(spark, sf_dir):
    """The generic upsert: rank-filters run as WindowGroupLimit, the merge
    is an anti-join + union on the key — never a cartesian, and no more
    exchanges than the two key-window stages + one join side."""
    plan = plan_of(spark, sf_dir, "s9_analytics_upsert")
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_mm2_header_decode_map_only(spark, sf_dir):
    """Real header decode is a pure Arrow map over a pruned scan: zero
    exchanges, and the untouched document columns never leave the scan."""
    plan = plan_of(spark, sf_dir, "mm2_image_dims")
    assert "MapInPandas" in plan
    assert "Exchange" not in plan


def test_asof_join_single_shuffle(spark, sf_dir):
    """j10: union-and-sweep — the as-of operator itself is ONE hash
    exchange on the key; the second exchange in the query belongs to the
    quotes (key, ts) dedup upstream.  Never a range join / per-row rescan."""
    plan = plan_of(spark, sf_dir, "j10_asof_quote")
    # invariant bound, not an exact count (AQE/version slack): the dedup
    # upstream + the sweep itself — never a per-left-row rescan explosion
    assert 1 <= plan.count("Exchange hashpartitioning") <= 2
    assert "Window" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_a9_sketch_bounds_hold_at_bench_scale(spark):
    """The sketch-validation flags must stay TRUE at sf0.1 too (the bench
    scale) — parity only checks sf0.001/0.01; a cardinality jump that blew
    the HLL/percentile gates would otherwise surface as a driver hash
    mismatch instead of a readable failure here."""
    out = QUERIES["a9_sketch_rollup"](spark, "/root/testdata/sf0.1").collect()
    assert len(out) == 5
    assert all(r["hll_within_bound"] and r["p50_within_bound"] for r in out)


def test_txt6_vocab_topk_is_distributed(spark, sf_dir):
    """The vocab head's cut must run as TakeOrderedAndProject (distributed
    per-partition top-k), never a single-task global-sort row_number over
    the full token counts."""
    plan = plan_of(spark, sf_dir, "txt6_vocab")
    assert "TakeOrderedAndProject" in plan


def test_dq1_fuses_checks_into_one_scan_per_table(spark, sf_dir):
    """All pred/unique expectations against one table must share ONE
    FileScan (the explode-from-struct fusion) — four separate aggregate
    scans of events would defeat the audit's single-pass design.  Events
    carries 4 such checks; the plan may read events at most twice (the
    fused pred/unique scan; fk checks scan their own tables)."""
    plan = plan_of(spark, sf_dir, "dq1_expectations")
    n_event_scans = sum(
        1 for seg in plan.split("FileScan")[1:] if "events.parquet" in seg[:400]
    )
    assert 1 <= n_event_scans <= 2, plan[:500]


def test_sp5_packing_two_exchanges_one_sort(spark, sf_dir):
    """sp5: one shuffle on the shard key feeding the per-shard window sort
    + one for the final (shard, bin) rollup — nothing else.  A third
    Exchange would mean the window partitioning stopped being reused."""
    plan = plan_of(spark, sf_dir, "sp5_sequence_packing")
    assert plan.count("Exchange") <= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_t10_throttle_single_exchange_then_python_walk(spark, sf_dir):
    """t10: exactly one shuffle (the key repartition) feeding the
    partition-sorted MapInPandas walk — the applyInPandas form this
    replaced paid one Python round-trip per key (measured 5× slower on
    1500 small keys)."""
    plan = plan_of(spark, sf_dir, "t10_throttle")
    assert plan.count("Exchange") <= 1
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_txt10_repetition_jvm_only(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "txt10_repetition")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sp6_temperature_counts_broadcast(spark, sf_dir):
    """sp6: the group-count and min frames ride broadcasts onto the
    corpus — a shuffle join here would shuffle the whole corpus against a
    5-row dimension."""
    plan = plan_of(spark, sf_dir, "sp6_temperature_mixture")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_txt11_redaction_jvm_only(spark, sf_dir):
    """PII redaction is pure per-row JVM regex work — no Python eval node
    may appear (a row-at-a-time UDF here would be the classic 10-100×
    regression on a scan-bound operator)."""
    plan = plan_of(spark, sf_dir, "txt11_pii_redaction")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dd10_decontamination_joins_on_shingle_hash(spark, sf_dir):
    """dd10 (and sp8, which embeds the same gate inside the corpus-prep
    composition) shuffles on the shingle hash (the dedup family's key)
    and never degenerates to a nested-loop join; no Python eval nodes."""
    for name in ("dd10_exact_decontamination", "sp8_decontaminated_pipeline"):
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_r8_banded_joins_never_nested_loop(spark, sf_dir):
    """dd9/emb10/mm7's candidate generation must stay equi-joins on the
    band/list keys — a BroadcastNestedLoopJoin or CartesianProduct here is
    the all-pairs failure mode the banding exists to prevent.  (emb10's
    plan is action-driven, so its gate join is checked via dd9's shared
    _band_self_join; mm7/mm8 are checked directly — mm8 rides the same
    generic banded join, so this also pins the audio path.)"""
    for name in ("dd9_incremental_minhash", "mm7_dhash_pairs",
                 "mm8_audio_pairs", "mm9_video_pairs",
                 "dd12_neardup_decontamination",
                 "mm10_crossmodal_decontamination"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_w12_series_similarity_all_broadcast(spark, sf_dir):
    """w12's docstring claims the whole chain rides broadcasts (the query
    side is one symbol's few-hundred-row series; stats/qsym are scalar-ish
    frames): pin it — a SortMergeJoin or CartesianProduct here means the
    corpus got shuffled against a dimension, the exact failure the
    broadcast design avoids (r8 verdict asked for this test by name)."""
    plan = plan_of(spark, sf_dir, "w12_series_similarity")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_w13_all_pairs_equi_join_on_date(spark, sf_dir):
    """w13's self-join must stay an EQUI-join keyed on the trading day —
    a CartesianProduct or BroadcastNestedLoopJoin means the date bucket
    key got lost and the pair stage degenerated to a global cross
    product (the all-pairs failure mode the bucketing exists to
    prevent).  Since the r18 staging the join lives in the PAIR STAGE
    (the snapshot of the z chain hides it from the top-level plan), so
    the pin targets that stage's own plan; the final plan keeps the
    no-cross-product assertions."""
    from real_time_stock_market_data_pipeline_spark.plans.indicator_parity import (
        _series_z_snap,
        _w13_pair_stage,
    )

    dv, zv = _series_z_snap(spark, sf_dir)
    try:
        pair_plan = (
            _w13_pair_stage(spark, zv)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.catalog.dropTempView(zv)
        spark.catalog.dropTempView(dv)
    assert "CartesianProduct" not in pair_plan
    assert "BroadcastNestedLoopJoin" not in pair_plan
    assert (
        "SortMergeJoin" in pair_plan
        or "ShuffledHashJoin" in pair_plan
        or "BroadcastHashJoin" in pair_plan
    )
    plan = plan_of(spark, sf_dir, "w13_series_all_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_w14_banded_join_never_nested_loop(spark, sf_dir):
    """w14's candidate generation must stay an equi-join on the
    (band, band_val) key — CartesianProduct/BNLJ is the all-pairs
    failure mode the sketch banding exists to prevent (same pin as the
    dedup/mm banded joins)."""
    plan = plan_of(spark, sf_dir, "w14_series_banded_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_emb13_candidates_equi_join_on_list_id(spark, sf_dir):
    """emb13's candidate stage must stay an EQUI-join on list_id with the
    probe side broadcast (candidate work ∝ corpus·n_probe/n_lists — the
    IVF point).  A CartesianProduct/BNLJ anywhere in the gate plan means
    the list_id key got lost and candidate generation degenerated to
    all-pairs ADC — the failure mode the coarse quantizer exists to
    prevent (r9 verdict item 2; same pin as
    test_w14_banded_join_never_nested_loop)."""
    import re

    plan = plan_of(spark, sf_dir, "emb13_ivfpq_recall")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"BroadcastHashJoin \[list_id#", plan), plan[:2000]


def test_emb11_rerank_joins_are_hash_equi_joins(spark, sf_dir):
    """emb11's two-stage serving shape: the ADC scan is a DELIBERATE
    broadcast-queries nested-loop (5 query rows against the code table —
    same shape as l2_topk/cosine_topk), but the shortlist→corpus float
    fetch and the →queries rerank must be HASH equi-joins on
    vec_id/query_id, never a CartesianProduct (an unkeyed rerank would
    re-scan the float corpus per candidate — exactly the cost the
    shortlist exists to bound)."""
    import re

    plan = plan_of(spark, sf_dir, "emb11_pq_recall")
    assert "CartesianProduct" not in plan
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[vec_id#", plan
    ), plan[:2000]
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[query_id#", plan
    ), plan[:2000]


def test_emb15_no_corpus_window_and_no_cartesian(spark, sf_dir):
    """emb15's r10 weakness, pinned closed: the old rendered plan dragged
    the whole corpus through ONE partition via an unpartitioned
    row_number()/count(*) OVER () seed CTE (the bench tail's WindowExec
    warnings).  The reworked driver plan — kmeans seeds via
    partition-offset ranks, Arrow/JVM assignment, within-cluster pairs,
    min-id survivors — must contain NO window at all and no
    CartesianProduct/BNLJ (the pair stage is keyed on cid)."""
    plan = plan_of(spark, sf_dir, "emb15_semantic_dedup")
    assert "Window" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_emb16_windows_all_partitioned(spark, sf_dir):
    """emb16's farthest-from-centroid ranking uses a row_number window —
    legal ONLY because it is partitioned by the dup set (a frame far
    smaller than the corpus).  Every windowspecdefinition in the plan
    must lead with a partition column (an ordering expression first =
    unpartitioned = the single-partition corpus drag this suite
    exists to prevent)."""
    import re

    plan = plan_of(spark, sf_dir, "emb16_semdedup_keep_policy")
    specs = re.findall(r"windowspecdefinition\(([^,)]+)", plan)
    assert specs, "expected the keep-policy ranking window in the plan"
    for first_arg in specs:
        assert " ASC" not in first_arg and " DESC" not in first_arg, (
            f"unpartitioned window: windowspecdefinition({first_arg}, ..."
        )
    assert "CartesianProduct" not in plan


def test_sp9_split_is_equi_join_and_jvm_only(spark, sf_dir):
    """sp9's leak-free split must stay cheap where it matters: the
    cluster-map attach is an equi-join on the doc id, the split itself
    is a pure JVM projection (no Python anywhere — the hash is an
    engine-neutral expression), and the leak gates aggregate the
    collision-sized cluster frame, not a corpus self-join.  The ONE
    nested-loop in the plan is the deliberate broadcast of the one-row
    gates aggregate back onto the rollup (the emb11/sp6 scalar-attach
    shape) — anything more means a real join key got lost."""
    plan = plan_of(spark, sf_dir, "sp9_dup_aware_split")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_txt15_filter_jvm_only_no_cartesian(spark, sf_dir):
    """txt15's perplexity gate is txt12's scoring plan + one doc-id
    equi-join + a rollup: still zero Python, no CartesianProduct, and
    the doc-id score attach must be a HASH equi-join — the only
    nested-loop allowed is txt12's deliberate one-row vocab-scalar
    cross join."""
    import re

    plan = plan_of(spark, sf_dir, "txt15_perplexity_filter")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[doc_id#", plan
    ), plan[:2000]


def test_emb18_filter_pushed_into_probed_lists_scan(spark, sf_dir):
    """emb18's filtered search must be a PRE-filter in the SCAN, not a
    post-filter on scored rows: the lists FileScan carries BOTH the
    probed-partition pruning (centroid_id partition filter) and the
    label predicate as a data filter — a selective filter cuts candidate
    bytes read, which is the feature's entire point at 100 TB."""
    import re

    plan = plan_of(spark, sf_dir, "emb18_filtered_ann")
    scan_lines = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "centroid_id" in l
    ]
    assert scan_lines, "expected the probed-lists FileScan in the plan"
    assert any(
        re.search(r"DataFilters: \[[^\]]*label#\d+ = 7", l)
        or re.search(r"PushedFilters: \[[^\]]*EqualTo\(label,7\)", l)
        for l in scan_lines
    ), scan_lines[0][:300]
    assert any("PartitionFilters" in l and "centroid_id" in l for l in scan_lines)
    assert "CartesianProduct" not in plan


def test_emb19_filter_pushed_into_probed_index_scan(spark, sf_dir):
    """emb19's filtered IVF-PQ search must cut the INDEX scan, not the
    scored rows: the index FileScan carries the probed-partition pruning
    (list_id partition filter — the hive layout update_ivfpq_index
    writes) AND the label predicate as a data filter in the SAME scan —
    candidate bytes drop before any ADC arithmetic runs."""
    import re

    plan = plan_of(spark, sf_dir, "emb19_filtered_ivfpq")
    scan_lines = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "list_id" in l and "pq_codes" in l
    ]
    assert scan_lines, "expected the probed-index FileScan in the plan"
    assert any(
        "PartitionFilters" in l and re.search(r"list_id#\d+ IN", l)
        for l in scan_lines
    ), scan_lines[0][:300]
    assert any(
        re.search(r"DataFilters: \[[^\]]*label#\d+ = 7", l)
        or re.search(r"PushedFilters: \[[^\]]*EqualTo\(label,7\)", l)
        for l in scan_lines
    ), scan_lines[0][:300]
    assert "CartesianProduct" not in plan


def test_mm12_packing_single_shuffle_arrow_only(spark, sf_dir):
    """mm12's contract: the whole multimodal pack is ONE shuffle (the
    shard repartition) feeding one per-partition sort and the linear
    mapInPandas walk; Python appears only as Arrow nodes (the header-
    parse cost UDF + the walk), never row-at-a-time."""
    plan = plan_of(spark, sf_dir, "mm12_multimodal_packing")
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan  # the patch-cost UDF, Arrow-batched
    assert "MapInPandas" in plan      # the sequential next-fit walk


def test_bm25_plan_broadcast_query_side_and_grouplimit(spark, sf_dir):
    """txt22's scale shape, pinned physically: the fixed query workload
    reaches the scan as a pushed filter (doc_id < 5000), every join is
    broadcast (no SortMergeJoin, no CartesianProduct — the corpus side
    shuffles once for its tf aggregate, then streams), and the top-10
    cut runs as partial+final WindowGroupLimit, never a full sort."""
    plan = plan_of(spark, sf_dir, "txt22_bm25_retrieval")
    assert "LessThan(doc_id,5000)" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("WindowGroupLimit") >= 2  # Partial + Final


def test_paragraph_dedup_plan_single_hash_shuffle(spark, sf_dir):
    """dd15: the only wide operations are the first-occurrence window on
    the paragraph hash and the per-doc count-back — no joins at all, so
    nothing quadratic can hide in the plan."""
    plan = plan_of(spark, sf_dir, "dd15_paragraph_dedup")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in plan, node
    assert "ph#" in plan or "hashpartitioning(ph" in plan


def test_dq5_leg_operators_touch_no_session_global_state():
    """dq5 runs its three index lifecycles on CONCURRENT driver threads
    sharing one SparkSession (plans/embedding_parity.py) — correct only
    while no operator the legs call mutates session-global state: a
    fixed-name createOrReplaceTempView or a spark.conf.set/_scoped_conf
    inside ivfpq/pq/semantic maintenance would race across legs.  Every
    leg operator lives in operators/similarity.py; pin that module free
    of the mutation patterns so a future change introduces the race as a
    LOUD failure here, not a flaky bench (r15 ADVICE low)."""
    import inspect

    import real_time_stock_market_data_pipeline_spark.operators.similarity as sim
    import real_time_stock_market_data_pipeline_spark.plans.fixtures as fx
    import real_time_stock_market_data_pipeline_spark.store_cache as sc

    for mod, where in ((sim, "operators/similarity.py"),
                       (fx, "plans/fixtures.py"),
                       (sc, "store_cache.py")):
        src = inspect.getsource(mod)
        for pat in (
            "createOrReplaceTempView",
            ".conf.set(",
            "_scoped_conf",
            "setLocalProperty",
            "createGlobalTempView",
        ):
            assert pat not in src, (
                f"session-global mutation {pat!r} entered {where} "
                "— dq5's threaded legs share one SparkSession and would race"
            )


def test_dd18_leg_operators_touch_no_session_global_state():
    """dd18 runs its eight family-takedown legs on concurrent driver
    threads sharing one SparkSession (plans/audit_parity.py) — same
    invariant as dq5's: no operator the legs call may mutate
    session-global state.  The takedown module is the new surface the
    legs share; pin it like operators/similarity.py."""
    import inspect

    import real_time_stock_market_data_pipeline_spark.operators.takedown as tdm
    import real_time_stock_market_data_pipeline_spark.operators.text as txtm

    src = inspect.getsource(tdm) + inspect.getsource(txtm)
    for pat in (
        "createOrReplaceTempView",
        ".conf.set(",
        "_scoped_conf",
        "setLocalProperty",
        "createGlobalTempView",
    ):
        assert pat not in src, (
            f"session-global mutation {pat!r} entered operators/takedown.py "
            "— dd18's threaded legs share one SparkSession and would race"
        )


def test_threads_start_only_in_the_concurrency_module():
    """Driver-side overlap has one mechanism, ``concurrency.overlap``: it
    joins every task on exit, raises errors in submission order and
    hands the caller's job group to its threads.  A hand-rolled pool or
    thread elsewhere would orphan its Spark jobs on failure and escape
    the caller's job group; pin the package free of them."""
    import pathlib

    import real_time_stock_market_data_pipeline_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    for path in sorted(root.rglob("*.py")):
        if path == root / "concurrency.py":
            continue
        src = path.read_text()
        for pat in ("ThreadPoolExecutor", "threading.Thread", "InheritableThread"):
            assert pat not in src, (
                f"{pat!r} entered {path.relative_to(root)} — overlap Spark "
                "work with concurrency.overlap instead"
            )


def test_store_swaps_only_in_maintenance():
    """A store swap has one implementation, ``maintenance.swap_in``: only
    that module names, renames or marks a store directory, so a protocol
    fix reaches every swap and ``recover_upsert`` repairs them all by one
    rule.  Scratch stores have one helper, ``plans.fixtures.scratch_store``.
    Tombstones have one, ``operators/takedown.py``: only it spells a
    tombstone directory, so every append, read and purge goes through
    its shared functions.  Pin the package free of hand-written copies
    of any of them."""
    import pathlib

    import real_time_stock_market_data_pipeline_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    rules = {
        root / "maintenance.py": (
            "os.rename", "__staging_", "__old_", "_mark_staging_complete(",
        ),
        root / "plans" / "fixtures.py": ("tempfile", "atexit"),
        root / "operators" / "takedown.py": (
            "/tombstones", '"tombstones"', "__tombstones",
        ),
    }
    for owner, pats in rules.items():
        for path in sorted(root.rglob("*.py")):
            if path == owner:
                continue
            src = path.read_text()
            for pat in pats:
                assert pat not in src, (
                    f"{pat!r} entered {path.relative_to(root)} — use "
                    f"{owner.relative_to(root)} instead"
                )


def test_session_memo_lives_only_in_store_cache():
    """Caching has one mechanism, ``store_cache``: one dict keyed by the
    application id, one file witness, one rule per entry kind.  A memo
    keyed by the application id anywhere else would bring back a second
    invalidation scheme; pin the package free of them."""
    import pathlib

    import real_time_stock_market_data_pipeline_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    for path in sorted(root.rglob("*.py")):
        if path == root / "store_cache.py":
            continue
        assert "applicationId" not in path.read_text(), (
            f"'applicationId' entered {path.relative_to(root)} — memoize "
            "through store_cache instead"
        )


def test_sp18_doc_level_windows_are_bucket_partitioned(spark, sf_dir):
    """sp18's greedy runs on the ~80-row slice table (the documented
    sp14 K-row window exception), but its DOC-LEVEL stage — the boundary
    domain's prefix cumsum over the epoch-mixed key — must use the
    two-level decomposition: every windowspecdefinition ordering on the
    mixed hkey leads with a partition column, never an ordering
    expression (the single-partition corpus drag)."""
    import re

    plan = plan_of(spark, sf_dir, "sp18_data_constrained_mixture")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    doc_specs = [sp for sp in specs if "hkey" in sp]
    assert doc_specs, "expected the boundary-domain cumsum window"
    for sp in doc_specs:
        first = sp.split(",")[0]
        assert " ASC" not in first and " DESC" not in first, (
            f"unpartitioned doc-level window: windowspecdefinition({sp}"
        )
    assert "CartesianProduct" not in plan


def test_sp19_doc_level_windows_are_bucket_partitioned(spark, sf_dir):
    """sp19 composes sp18's greedy with a LAUNCH-STREAM global rank over
    every taken slice's docs — the rank that would be the classic
    single-partition trap.  Pin the sp15/sp16 two-level fix across the
    whole composition: every windowspecdefinition ordering on the mixed
    hkey must lead with a partition column; the only unpartitioned
    windows may run over the slice×bucket rollups (corpus-independent
    size)."""
    import re

    plan = plan_of(spark, sf_dir, "sp19_launch_manifest")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    doc_specs = [sp for sp in specs if "hkey" in sp]
    assert doc_specs, "expected the stream-rank / boundary-cumsum windows"
    for sp in doc_specs:
        first = sp.split(",")[0]
        assert " ASC" not in first and " DESC" not in first, (
            f"unpartitioned doc-level window: windowspecdefinition({sp}"
        )
    assert "CartesianProduct" not in plan


def test_sp19_token_sum_equals_budget(spark, sf_dir):
    """The launch manifest's budget identity: Σ n_tokens over the shard
    rows = ⌊5·U_tot/2⌋ EXACTLY (full slices telescope to U_d, the
    partial slice contributes B − cum_before) — the Muennighoff budget
    spent to the token, integer end-to-end."""
    from pyspark.sql import functions as F

    from real_time_stock_market_data_pipeline_spark.plans import QUERIES
    from real_time_stock_market_data_pipeline_spark.plans.dialect import split_ws
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        SP18_BUDGET_DEN,
        SP18_BUDGET_NUM,
    )
    from real_time_stock_market_data_pipeline_spark.sources.readers import (
        load_table,
    )

    manifest = QUERIES["sp19_launch_manifest"](spark, sf_dir).toPandas()
    docs = load_table(spark, sf_dir, "documents").filter("text IS NOT NULL")
    u_tot = (
        docs.select(
            F.expr(f"CAST(size({split_ws('spark', 'text')}) AS BIGINT)").alias("n")
        )
        .filter("n >= 1")
        .agg(F.sum("n"))
        .first()[0]
    )
    budget = SP18_BUDGET_NUM * int(u_tot) // SP18_BUDGET_DEN
    assert int(manifest["n_tokens"].sum()) == budget
    # contiguity of the stream cut: shard rank ranges tile 1..N
    m = manifest.sort_values("shard_id")
    assert int(m["rank_lo"].iloc[0]) == 1
    assert (m["rank_lo"].values[1:] == m["rank_hi"].values[:-1] + 1).all()
    # the slice spans are monotone: later shards never cover earlier
    # slices than their predecessors ended in (take_rank order preserved)
    assert (m["slice_lo"].values[1:] >= m["slice_lo"].values[:-1]).all()


def test_sp20_doc_level_windows_are_bucket_partitioned(spark, sf_dir):
    """sp20 rides sp19's shared stream CTEs; everything it adds is
    slot-sized (checkpoint join + suffix rollup).  The registered query
    reads lazy SNAPSHOTS of the stream (the CTE-inlining fix), so the
    corpus-sized windows live in the snapshot plan: pin them there —
    every windowspecdefinition ordering on the mixed hkey must lead
    with a partition column — and pin the registered tail itself free
    of Cartesian products and of any unpartitioned doc-level window."""
    import re

    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        _sp19_stream_ctes,
    )
    from real_time_stock_market_data_pipeline_spark.sources.readers import load_table

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    stream_plan = (
        spark.sql(f"WITH {_sp19_stream_ctes('spark')} SELECT * FROM sharded")
        ._jdf.queryExecution().executedPlan().toString()
    )
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", stream_plan)
    doc_specs = [sp for sp in specs if "hkey" in sp]
    assert doc_specs, "expected the stream-rank / boundary-cumsum windows"
    for sp in doc_specs:
        first = sp.split(",")[0]
        assert " ASC" not in first and " DESC" not in first, (
            f"unpartitioned doc-level window: windowspecdefinition({sp}"
        )
    tail_plan = plan_of(spark, sf_dir, "sp20_resume_manifest")
    assert "CartesianProduct" not in tail_plan
    tail_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", tail_plan)
    assert all("hkey" not in sp for sp in tail_specs)


def test_sp20_resume_consistent_with_sp19_launch(spark, sf_dir):
    """The resume manifest must agree with the launch manifest it
    resumes: the cold slot's suffix IS the full shard (identical counts,
    token sum, resume rank, slice span, and — position-for-position —
    order checksum); the exhausted slot reports zero remaining with NULL
    resume columns; every slot telescopes consumed + remaining = total;
    and the resume slice is the slice the resume rank sits in."""
    import pandas as pd

    from real_time_stock_market_data_pipeline_spark.plans import QUERIES

    launch = (
        QUERIES["sp19_launch_manifest"](spark, sf_dir)
        .toPandas()
        .sort_values("shard_id")
        .reset_index(drop=True)
    )
    resume = (
        QUERIES["sp20_resume_manifest"](spark, sf_dir)
        .toPandas()
        .sort_values("slot")
        .reset_index(drop=True)
    )
    assert len(resume) == len(launch)
    assert (
        resume["n_consumed"] + resume["n_remaining"] == resume["n_docs"]
    ).all()
    assert (resume["n_docs"].values == launch["n_docs"].values).all()
    # cold slot 0: the suffix is the whole shard, checksum and all
    r0, l0 = resume.iloc[0], launch.iloc[0]
    assert r0["n_consumed"] == 0
    assert r0["n_remaining"] == l0["n_docs"]
    assert r0["tokens_remaining"] == l0["n_tokens"]
    assert r0["resume_rank"] == l0["rank_lo"]
    assert r0["slice_lo"] == l0["slice_lo"]
    assert r0["slice_hi"] == l0["slice_hi"]
    assert r0["suffix_checksum"] == l0["order_checksum"]
    # exhausted last slot: finished-worker row
    rl = resume.iloc[-1]
    assert rl["n_consumed"] == rl["n_docs"] and rl["n_remaining"] == 0
    assert rl["tokens_remaining"] == 0 and rl["suffix_checksum"] == 0
    for col in ("resume_rank", "resume_take_rank", "resume_epoch",
                "resume_domain", "slice_lo", "slice_hi"):
        assert pd.isna(rl[col])
    # mid slots: partial progress, resume rank inside the shard's span,
    # resume slice = first remaining slice
    for i in range(1, len(resume) - 1):
        r, l = resume.iloc[i], launch.iloc[i]
        assert 0 < r["n_consumed"] < r["n_docs"]
        assert r["resume_rank"] == l["rank_lo"] + r["n_consumed"]
        assert l["rank_lo"] <= r["resume_rank"] <= l["rank_hi"]
        assert r["resume_take_rank"] == r["slice_lo"]
        assert l["slice_lo"] <= r["slice_lo"] <= r["slice_hi"] <= l["slice_hi"]


def test_txt26_ranking_windows_partitioned(spark, sf_dir):
    """txt26 runs three ranking arms; every ranking window (and the
    chunk-position windows) must partition — by query_doc for ranks,
    by the doc/query key for chunk positions (the single-partition rank
    trap).  The brute-force arms' |Q|·N joins are broadcast by the
    fixed-workload construction; no CartesianProduct may appear."""
    import re

    plan = plan_of(spark, sf_dir, "txt26_retrieval_leaderboard")
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected ranking/chunk windows"
    for sp in specs:
        first = sp.split(",")[0].strip()
        assert first.startswith(("query_doc", "doc_id")), sp


def test_txt26_leaderboard_decision_pinned(spark, sf_dir):
    """The planted-winner ordering the leaderboard exists to reveal:
    on this corpus (built for the dedup family, so organic duplicates
    of the truth doc exist) the multi-vector arms beat pure lexical
    ranking — BM25's doclen normalization lets a duplicate outrank the
    planted source, while the hash-embedding arms tie or win on it —
    so by exact-integer MRR@10: late >= dense >= bm25, strictly above
    bm25 at the top.  Plus the structural identities every arm obeys
    (recall/MRR monotone in k, shared denominators, hit bounds)."""
    from real_time_stock_market_data_pipeline_spark.plans import QUERIES
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        TXT25_KS,
        TXT25_MRR_LCM,
    )

    df = QUERIES["txt26_retrieval_leaderboard"](spark, sf_dir).toPandas()
    assert len(df) == 3 * len(TXT25_KS)
    assert set(df["engine"]) == {"bm25", "dense", "late"}
    assert df["n_queries"].nunique() == 1 and df["n_queries"].iloc[0] > 0
    for _, grp in df.groupby("engine"):
        g = grp.sort_values("k")
        assert (g["n_hits"].diff().dropna() >= 0).all()
        assert (g["mrr_scaled"].diff().dropna() >= 0).all()
        assert (g["n_hits"] <= g["n_queries"]).all()
        assert (g["mrr_scaled"] <= g["n_hits"] * TXT25_MRR_LCM).all()
    at10 = df[df["k"] == 10].set_index("engine")["mrr_scaled"]
    assert at10["late"] >= at10["dense"] >= at10["bm25"]
    assert max(at10["late"], at10["dense"]) > at10["bm25"]


def test_txt25_ranking_window_partitioned_and_no_cartesian(spark, sf_dir):
    """txt25's only wide ops are txt22's term-key shuffle and the
    per-query ranking window — which must partition by query_doc (the
    single-partition rank trap); the CROSS JOINs in the plan are the
    1-row stats/n_queries scalars and the 3-row k-level grid, bounded
    by construction."""
    import re

    plan = plan_of(spark, sf_dir, "txt25_retrieval_eval")
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    rank_specs = [sp for sp in specs if "score_micro" in sp]
    assert rank_specs, "expected the per-query ranking window"
    for sp in rank_specs:
        assert sp.split(",")[0].strip().startswith("query_doc"), sp


def test_txt25_metrics_are_consistent(spark, sf_dir):
    """Structural identities of the eval report: recall monotone in k,
    MRR ≤ recall at every k (each hit contributes ≤ 1 to both sums),
    MRR monotone in k, and the exact-integer relationship
    mrr_at_k = mrr_scaled / (2520 · n_queries)."""
    from real_time_stock_market_data_pipeline_spark.plans import QUERIES

    rows = (
        QUERIES["txt25_retrieval_eval"](spark, sf_dir)
        .orderBy("k")
        .collect()
    )
    assert [r.k for r in rows] == [1, 5, 10]
    for a, b in zip(rows, rows[1:]):
        assert a.n_hits <= b.n_hits
        assert a.mrr_scaled <= b.mrr_scaled
    for r in rows:
        assert r.n_hits <= r.n_queries
        assert r.mrr_at_k <= r.recall_at_k + 1e-9
        assert abs(r.mrr_at_k - r.mrr_scaled / (2520.0 * r.n_queries)) < 1e-6


def test_dd19_curve_is_monotone_and_threshold_shaped(spark, sf_dir):
    """The S-curve facts dd19 exists to measure: growing the band size r
    (stricter collisions) can only SHRINK the candidate set and each
    class's recall; and at every operating point the high-Jaccard near
    twins recall at least as well as the low-Jaccard far twins — r is a
    Jaccard-threshold knob, which is the whole design argument for
    dd4's 4x4 vs dd12's recall-tuned 8x2."""
    from real_time_stock_market_data_pipeline_spark.plans import QUERIES

    rows = (
        QUERIES["dd19_lsh_operating_curve"](spark, sf_dir)
        .orderBy("band_size")
        .collect()
    )
    assert [r.band_size for r in rows] == [1, 2, 4, 8]
    for a, b in zip(rows, rows[1:]):
        assert a.n_candidates >= b.n_candidates
        assert a.n_near_found >= b.n_near_found
        assert a.n_far_found >= b.n_far_found
    for r in rows:
        assert r.near_recall >= r.far_recall - 1e-9
        assert r.n_near_found <= r.n_near_planted
        assert r.n_far_found <= r.n_far_planted


def test_dd19_band_joins_are_equi_joins(spark, sf_dir):
    """Every pair stage must be the banded bucket equi-join on
    (band_id, band_sig) — never a cross product (the curve sweeps four
    configs off ONE signature pass; a Cartesian anywhere would be the
    all-pairs trap the banding exists to avoid)."""
    plan = plan_of(spark, sf_dir, "dd19_lsh_operating_curve")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_emb24_grid_join_bounded_and_topk_windows_partitioned(spark, sf_dir):
    """emb24's only non-equi join is the probe_rank <= n_probes grading
    against the BROADCAST 5-row grid (bounded by construction — never a
    corpus×corpus shape), and every per-level top-k window partitions by
    (n_probes, query_id) before ordering."""
    import re

    plan = plan_of(spark, sf_dir, "emb24_probe_curve")
    assert "CartesianProduct" not in plan
    # the grid join appears once per consumer of the graded frame (topk
    # + candidate counts), each re-reading the CHECKPOINTED scored pass
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # the 5-row grid
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    topk = [sp for sp in specs if "cos" in sp]
    assert topk, "expected the per-level top-k windows"
    for sp in topk:
        first = sp.split(",")[0]
        assert " ASC" not in first and " DESC" not in first, (
            f"unpartitioned top-k window: windowspecdefinition({sp}"
        )


def test_dq8_source_builders_register_only_identical_views(spark, sf_dir):
    """dq8 runs its four source builders on CONCURRENT driver threads
    (r18 optimization) — safe only while the builders' sole session-
    global mutation is re-registering temp views with byte-identical
    pure-table definitions: a builder that registered "documents" (or
    "embeddings") with anything but the plain load_table rendering
    would race its siblings' spark.sql analysis.  Run each builder and
    pin the catalog's analyzed view plan to the pure load_table plan
    after every one."""
    from real_time_stock_market_data_pipeline_spark.plans.audit_parity import (
        _dq6_contamination_audit,
        _dq7_dataset_card,
    )
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        _dd7_dedup_summary,
        _sp11_domain_mixture,
    )
    from real_time_stock_market_data_pipeline_spark.sources.readers import (
        load_table,
    )

    import re

    def analyzed(df):
        # expression ids (#123) differ per instantiation, spark.table()
        # wraps the definition in a View node, and child indentation
        # shifts with it — normalize all three so the comparison sees
        # only the definition itself
        text = re.sub(r"#\d+", "#", df._jdf.queryExecution().analyzed().toString())
        lines = [
            ln.lstrip(" +-:")
            for ln in text.splitlines()
            if not ln.lstrip(" +-:").startswith(("View (", "SubqueryAlias "))
        ]
        return "\n".join(ln for ln in lines if ln)

    pure = {
        name: analyzed(load_table(spark, sf_dir, name))
        for name in ("documents", "embeddings")
    }
    for builder in (
        _dq7_dataset_card,
        _dq6_contamination_audit,
        _dd7_dedup_summary,
        _sp11_domain_mixture,
    ):
        builder(spark, sf_dir)
        for name, want in pure.items():
            if not spark.catalog.tableExists(name):
                continue  # builder never registered it — nothing to race
            got = analyzed(spark.table(name))
            assert got == want, (
                f"{builder.__name__} left view {name!r} with a non-pure "
                "definition — dq8's threaded source builders would race:\n"
                f"{got}"
            )
            spark.catalog.dropTempView(name)


def test_series_staged_text_in_sync():
    """The staged Spark forms of w12/w13/w14 (indicator_parity's
    _w12_staged/_w13_staged/_w14_staged) evaluate the SAME SQL text as
    the one-SQL oracles, stage by stage — each stage helper, rendered
    with the oracle's own CTE names, must be a verbatim (whitespace-
    normalized) fragment of sql_series_*("spark").  An edit to either
    side without the other trips this before the sf0.001 parity run
    does."""
    from real_time_stock_market_data_pipeline_spark.plans.indicator_parity import (
        _series_daily_body,
        _series_z_sql,
        _w12_tail_sql,
        _w13_pair_sql,
        _w13_tail_sql,
        _w14_sketch_sql,
        _w14_tail_sql,
        _w14_twin_sql,
        sql_series_all_pairs,
        sql_series_banded_neardup,
        sql_series_similarity,
    )

    def norm(s: str) -> str:
        return " ".join(s.split())

    full12 = norm(sql_series_similarity("spark"))
    full13 = norm(sql_series_all_pairs("spark"))
    full14 = norm(sql_series_banded_neardup("spark"))

    # stats body / z body of the shared z stage, rendered over "daily"
    z_parts = _series_z_sql("daily").split("\n)\n")
    assert len(z_parts) == 2, "unexpected _series_z_sql layout"
    stats_frag = norm(z_parts[0]).removeprefix("WITH ")
    z_frag = norm(z_parts[1])

    daily_frag = norm(_series_daily_body())
    for full in (full12, full13, full14):
        assert daily_frag in full
        assert stats_frag in full
        assert z_frag in full

    assert norm(_w12_tail_sql("z")).removeprefix("WITH ") in full12
    assert norm(_w13_pair_sql("z")) in full13
    assert norm(_w13_tail_sql("pairs")).removeprefix("WITH ") in full13
    assert norm(_w14_twin_sql("z0")) in full14
    # the staged sketch stage aliases its z view as `z`; rendered with
    # the oracle's CTE name the alias collapses ("FROM z z" → "FROM z")
    sketch = norm(_w14_sketch_sql("z", "daily")).replace("FROM z z ", "FROM z ")
    s_parts = sketch.split(" ) SELECT ", 1)
    assert len(s_parts) == 2, "unexpected _w14_sketch_sql layout"
    assert s_parts[0].removeprefix("WITH ") in full14
    assert "SELECT " + s_parts[1] in full14
    assert norm(_w14_tail_sql("sketches", "z")).removeprefix("WITH ") in full14


def test_sp19_staged_text_in_sync():
    """The staged Spark forms of sp19/sp20 evaluate the SAME SQL text as
    the one-SQL oracles, stage by stage: _sp19_stream_ctes must be the
    exact composition of the three stage renderers with their default
    source names (what the oracle inlines), and the rollup/tail SELECTs
    must appear verbatim in the oracle text.  An edit to either side
    without the other trips this before the sf0.001 parity run does."""
    from real_time_stock_market_data_pipeline_spark.plans.text_parity import (
        _sp19_rollup_sql,
        _sp19_sdocs_ctes,
        _sp19_shard_ctes,
        _sp19_stream_ctes,
        _sp19_taken_ctes,
        _sp20_tail,
        sql_launch_manifest,
        sql_resume_manifest,
    )

    for dialect in ("spark", "duck"):
        composed = (
            f"{_sp19_sdocs_ctes(dialect)},\n"
            f"{_sp19_taken_ctes(dialect)},\n"
            f"{_sp19_shard_ctes(dialect)}"
        )
        assert _sp19_stream_ctes(dialect) == composed
        assert _sp19_stream_ctes(dialect) in sql_launch_manifest(dialect)
        assert _sp19_stream_ctes(dialect) in sql_resume_manifest(dialect)
        assert _sp19_rollup_sql() in sql_launch_manifest(dialect)
        assert _sp20_tail(dialect) in sql_resume_manifest(dialect)


def test_zip_import_caches_are_touched_only_in_lazy_zip():
    """``lazy_zip`` is the one place that changes how the interpreter's zip
    importer caches archive directories (lazy invalidation before 3.13).
    A second patch elsewhere would fight it over the same class; pin the
    package free of them."""
    import pathlib

    import real_time_stock_market_data_pipeline_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    for path in sorted(root.rglob("*.py")):
        if path == root / "lazy_zip.py":
            continue
        assert "zipimport" not in path.read_text(), (
            f"'zipimport' entered {path.relative_to(root)} — change the zip "
            "importer in lazy_zip instead"
        )


def test_every_package_function_has_a_caller():
    """Every top-level function and class of the package is decorated (a
    ``@register`` query is called through the registry) or referenced by
    a statement other than its own definition: by name, by attribute or
    as a string, in the package, ``tools/``, ``perfbench/``, ``bench.py``,
    ``scale_probe.py``, ``__spark_entry__.py`` or ``tests/``.  Code that
    nothing calls, not even a test, is dead weight; pin the package free
    of it."""
    import ast
    import collections
    import pathlib

    import real_time_stock_market_data_pipeline_spark as pkg

    # jdbc_append is the Postgres sink of the reference pipeline's storage
    # legs; it needs a live database, which no test environment has.
    uncallable_here = {"jdbc_append"}

    root = pathlib.Path(pkg.__file__).parent
    repo = root.parent
    sources = [
        *root.rglob("*.py"),
        *(repo / "tools").rglob("*.py"),
        *(repo / "perfbench").rglob("*.py"),
        *(repo / "tests").rglob("*.py"),
        repo / "bench.py",
        repo / "scale_probe.py",
        repo / "__spark_entry__.py",
    ]

    def names_in(node) -> set[str]:
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rpartition(".")[2])
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                out.add(n.value)
        return out

    # How many top-level statements reference each name.
    refs: collections.Counter[str] = collections.Counter()
    defs = []
    for path in sources:
        tree = ast.parse(path.read_text(), filename=str(path))
        for stmt in tree.body:
            used = names_in(stmt)
            refs.update(used)
            is_def = isinstance(
                stmt, ast.FunctionDef | ast.AsyncFunctionDef | ast.ClassDef
            )
            if path.is_relative_to(root) and is_def and not stmt.decorator_list:
                defs.append((path.relative_to(repo), stmt.name, stmt.name in used))

    uncalled = sorted(
        f"{path}::{name}"
        for path, name, self_ref in defs
        if refs[name] - self_ref == 0 and name not in uncallable_here
    )
    assert not uncalled, f"nothing calls {uncalled} — delete them"


def test_every_package_import_is_read():
    """Every import in the package binds a name that something in its
    scope reads: the module for a top-level import, the function (nested
    functions included) for a local one.  An unread import is dead
    weight, and a local one hides a stale dependency.  Re-exports in
    ``__init__.py`` are the exemption."""
    import ast
    import pathlib

    import real_time_stock_market_data_pipeline_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    scopes = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
    unread = []

    def check(path, scope) -> None:
        reads = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
        stack = list(ast.iter_child_nodes(scope))
        while stack:
            node = stack.pop()
            if isinstance(node, scopes):
                check(path, node)
                continue
            stack.extend(ast.iter_child_nodes(node))
            if not isinstance(node, ast.Import | ast.ImportFrom):
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            for alias in node.names:
                bound = alias.asname or alias.name.partition(".")[0]
                if bound not in reads:
                    unread.append(f"{path.relative_to(root)}:{node.lineno} {bound}")

    for path in sorted(root.rglob("*.py")):
        if path.name != "__init__.py":
            check(path, ast.parse(path.read_text(), filename=str(path)))
    assert not unread, f"imports nothing reads: {sorted(unread)} — delete them"
