"""Compile budgets: repeated work reuses Spark's generated classes.

``CodegenMetrics.METRIC_COMPILATION_TIME`` records one sample per Janino
compile in the JVM (driver and local executors alike), so the change in its
count over a call is the number of classes that call generated afresh.  A
repeated dashboard pass must find every class in the session's codegen
cache, and a steady micro-batch of the analytics stream may compile only
the two classes whose source Spark changes every batch: the observed
metrics' ``current_timestamp`` literal and the dedup watermark predicate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from real_time_stock_market_data_pipeline_spark.plans import QUERIES
from real_time_stock_market_data_pipeline_spark.streaming.analytics import (
    run_bounded_pipeline,
)

# the reference dashboard's panels and analytics reads (the queries of the
# benchmark's dashboard_reads workload)
DASHBOARD = (
    "j1_tick_dashboard", "j2_analytics_dashboard", "j3_alert_feed",
    "j4_prediction_dashboard", "a13_ohlc_candles", "w11_vwap",
    "w_all_indicators", "t6_alerts", "a4_daily_summary", "w1_latest_per_day",
    "o5_price_history", "p9_dedup_ticks",
)

TICK_SCHEMA = (
    "company_id string, tick_id long, trade_datetime timestamp, "
    "current_price double, volume long"
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _release(spark) -> None:
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def test_repeated_dashboard_pass_compiles_nothing(spark, sf_dir):
    """The 12 dashboard reads need more generated classes than Spark's
    default cache holds (100), so each repeat pass used to compile ~150."""
    def dashboard_pass() -> dict[str, int]:
        compiled = {}
        for q in DASHBOARD:
            before = _compiles(spark)
            QUERIES[q](spark, sf_dir).toPandas()
            compiled[q] = _compiles(spark) - before
            _release(spark)
        return compiled

    dashboard_pass()
    repeat = dashboard_pass()
    assert sum(repeat.values()) == 0, repeat


def test_steady_stream_batch_compiles_at_most_two_classes(spark, tmp_path):
    """Steady ``run_bounded_pipeline`` batches compile at most 2 classes
    each (4 with an ``array<double>`` state, whose encoder's source text
    changes every batch)."""
    rng = np.random.default_rng(3)
    src = tmp_path / "src"
    src.mkdir()
    stream = (
        spark.readStream.schema(TICK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    t0 = pd.Timestamp("2024-01-02", tz="UTC")
    n_files, per_file = 5, 60

    def deliver(i: int) -> None:
        ids = np.arange(i * per_file, (i + 1) * per_file, dtype=np.int64)
        pd.DataFrame({
            "company_id": [f"S{k}" for k in ids % 6],
            "tick_id": ids,
            "trade_datetime": (t0 + pd.to_timedelta(ids, unit="s")).astype(
                "datetime64[us, UTC]"),
            "current_price": rng.exponential(50.0, per_file).round(2) + 0.01,
            "volume": rng.integers(1, 100, per_file),
        }).to_parquet(src / f"ticks-{i:03d}.parquet", index=False)

    def call(files: range) -> tuple[int, int]:
        """(classes compiled, batches with input) over one call."""
        for i in files:
            deliver(i)
        before = _compiles(spark)
        q = run_bounded_pipeline(stream, str(tmp_path / "out"), str(tmp_path / "ckpt"))
        assert q.exception() is None
        batches = sum(p.numInputRows > 0 for p in q.recentProgress)
        assert batches == len(files)
        return _compiles(spark) - before, batches

    call(range(0, 1))  # first plan of every stage
    call(range(1, 2))  # first restart from the checkpoint
    compiled, batches = call(range(2, n_files))
    assert compiled <= 2 * batches, (compiled, batches)
