"""Streaming pipeline: stateful indicators across micro-batches must equal
the batch computation over the same data, and the Kafka wire format must
round-trip the tick schema."""

from __future__ import annotations

import os
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline_spark.operators.indicators import (
    indicators_apply_in_pandas,
)
from real_time_stock_market_data_pipeline_spark.operators.relational import (
    valid_tick_predicate,
)
from real_time_stock_market_data_pipeline_spark.plans.queries import TICK_SPEC
from real_time_stock_market_data_pipeline_spark.sources.kafka import (
    decode_kafka_ticks,
    encode_ticks_to_kafka,
)
from real_time_stock_market_data_pipeline_spark.sources.readers import (
    ticks_from_events,
)
from real_time_stock_market_data_pipeline_spark.sources.synthetic import (
    synthetic_tick_stream,
)
from real_time_stock_market_data_pipeline_spark.streaming.analytics import (
    IND_COLS,
    alerts_from_analytics,
    run_bounded_pipeline,
)


def test_stateful_stream_matches_batch(spark, sf_dir, tmp_path):
    ticks = (
        ticks_from_events(spark, sf_dir)
        .filter(F.col("company_id") < 5)
        .select("company_id", "tick_id", "trade_datetime", "current_price", "volume")
        .withColumn("company_id", F.col("company_id").cast("string"))
    )
    # two chronological halves → two micro-batches → state must carry over
    # (epoch micros, not cast-to-double: Spark 4 reads the parquet nanos
    # column as TIMESTAMP_NTZ, which has no numeric cast)
    ep = F.unix_micros(F.col("trade_datetime").cast("timestamp"))
    anchor = ticks.agg(F.percentile(ep, F.lit(0.5))).collect()[0][0]
    first = ticks.filter(ep <= anchor)
    second = ticks.filter(ep > anchor)
    src = tmp_path / "src"
    first.coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    time.sleep(1.1)
    second.coalesce(1).write.mode("overwrite").parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(ticks.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    out = tmp_path / "out"
    run_bounded_pipeline(stream, str(out), str(tmp_path / "ckpt"))

    got = (
        spark.read.parquet(f"{out}/analytics")
        .toPandas()
        .sort_values(["company_id", "trade_datetime", "tick_id"])
        .reset_index(drop=True)
    )
    twin = indicators_apply_in_pandas(ticks.filter(valid_tick_predicate()), TICK_SPEC)
    exp = (
        twin.toPandas()
        .sort_values(["company_id", "trade_datetime", "tick_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) > 0
    for c in IND_COLS:
        a = got[c].to_numpy(dtype=float)
        b = exp[c].to_numpy(dtype=float)
        assert np.allclose(a, b, rtol=1e-12, atol=1e-12, equal_nan=True), c

    alerts = spark.read.parquet(f"{out}/alerts")
    assert alerts.count() > 0
    assert set(alerts.select("severity").distinct().toPandas()["severity"]) <= {"HIGH", "MEDIUM"}
    # the stream's alerts are the batch twin's, row for row
    keys = ["company_id", "created_at", "alert_type"]
    got_a = alerts.toPandas().sort_values(keys).reset_index(drop=True)
    exp_a = alerts_from_analytics(twin).toPandas().sort_values(keys).reset_index(drop=True)
    assert list(got_a.columns) == list(exp_a.columns)
    text = keys + ["severity", "alert_message"]
    assert got_a[text].equals(exp_a[text])
    for c in ("indicator_value", "threshold_value"):
        assert np.allclose(got_a[c].to_numpy(float), exp_a[c].to_numpy(float),
                           rtol=1e-12, atol=1e-12), c

    # every state-store delta keeps Spark's checkpoint checksum file and
    # Hadoop's .crc beside it, under the session's checkpoint file manager
    deltas = sorted((tmp_path / "ckpt" / "state").rglob("*.delta"))
    assert deltas
    for d in deltas:
        assert d.with_name(d.name + ".crc").is_file(), d
        assert d.with_name(f".{d.name}.crc").is_file(), d


def test_checkpoint_renames_use_the_filesystem_manager(spark, tmp_path):
    """The session's streaming checkpoints rename temp files with
    ``FileSystem.rename`` (rename(2) on a local path), not the default
    FileContext manager, whose rename forks ``readlink`` for every file
    when Hadoop has no native library."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    created = manager.create(
        jvm.org.apache.hadoop.fs.Path(tmp_path.as_uri()),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert created.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def _alerts_by_union(analytics):
    """The two-select reference for ``alerts_from_analytics``: one select
    per alert kind, unioned."""
    rsi, vol = F.col("rsi_14"), F.col("volatility")
    rsi_alerts = analytics.filter(rsi.isNotNull() & ((rsi > 70.0) | (rsi < 30.0))).select(
        "company_id",
        F.col("trade_datetime").alias("created_at"),
        F.when(rsi > 70.0, F.lit("RSI_OVERBOUGHT")).otherwise(F.lit("RSI_OVERSOLD")).alias("alert_type"),
        rsi.alias("indicator_value"),
        F.when(rsi > 70.0, F.lit(70.0)).otherwise(F.lit(30.0)).alias("threshold_value"),
        F.lit("HIGH").alias("severity"),
        F.format_string("RSI alert: %.2f", rsi).alias("alert_message"),
    )
    vol_alerts = analytics.filter(vol.isNotNull() & (vol > 0.05)).select(
        "company_id",
        F.col("trade_datetime").alias("created_at"),
        F.lit("HIGH_VOLATILITY").alias("alert_type"),
        vol.alias("indicator_value"),
        F.lit(0.05).alias("threshold_value"),
        F.lit("MEDIUM").alias("severity"),
        F.format_string("High volatility detected: %.4f", vol).alias("alert_message"),
    )
    return rsi_alerts.unionAll(vol_alerts)


def test_alerts_one_pass_matches_two_select_union(spark):
    """``alerts_from_analytics`` in one pass equals the union of one select
    per alert kind: rows (both ways, with multiplicity), column names and
    types — on NULL indicators, values exactly at 70.0 / 30.0 / 0.05 (no
    alert) and rows that fire an RSI and a volatility alert at once."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        # (rsi_14, volatility): expected alerts
        (None, None),      # none
        (None, 0.07),      # HIGH_VOLATILITY
        (85.0, None),      # RSI_OVERBOUGHT
        (12.5, None),      # RSI_OVERSOLD
        (70.0, 0.05),      # none: both exactly at the threshold
        (30.0, 0.02),      # none
        (50.0, 0.05),      # none
        (70.0000001, 0.0500001),  # both
        (29.9999999, 0.3),  # both
        (95.0, 0.06),      # both
        (95.0, 0.06),      # both, a duplicate row
        (45.0, None),      # none
    ]
    df = spark.createDataFrame(
        [(f"S{i % 3}", t0 + dt.timedelta(minutes=i), r, v) for i, (r, v) in enumerate(rows)],
        "company_id string, trade_datetime timestamp, rsi_14 double, volatility double",
    ).repartition(3)
    got, exp = alerts_from_analytics(df), _alerts_by_union(df)
    assert [(f.name, f.dataType) for f in got.schema] == [(f.name, f.dataType) for f in exp.schema]
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0
    assert got.count() == 1 + 1 + 1 + 4 * 2 == exp.count()


def test_stream_dedup_within_watermark_matches_batch(spark, tmp_path):
    """P9 in the stream: a duplicate (company_id, trade_datetime) arriving
    in a LATER micro-batch must be suppressed by dropDuplicatesWithinWatermark,
    and the surviving analytics rows must equal the batch pipeline
    dedup_keep_first → indicators over the same data."""
    import datetime as dt

    import pandas as pd

    from real_time_stock_market_data_pipeline_spark.operators.relational import (
        dedup_keep_first,
    )

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def tick(tick_id, minutes, price):
        return ("A", tick_id, t0 + dt.timedelta(minutes=minutes), price, 10)

    cols = ["company_id", "tick_id", "trade_datetime", "current_price", "volume"]
    schema = (
        "company_id string, tick_id long, trade_datetime timestamp, "
        "current_price double, volume long"
    )
    # batch 2 re-sends tick 3's (key, ts) with a new tick_id and a DIFFERENT
    # price — if the duplicate survived, indicator values downstream would
    # shift, so value equality proves suppression, not just row counts
    batch1 = [tick(1, 0, 100.0), tick(2, 1, 101.0), tick(3, 2, 102.0)]
    batch2 = [("A", 99, t0 + dt.timedelta(minutes=2), 555.0, 10),
              tick(4, 3, 103.0), tick(5, 4, 104.0)]

    src = tmp_path / "src"
    for name, rows in (("f1", batch1), ("f2", batch2)):
        pdf = pd.DataFrame(rows, columns=cols)
        spark.createDataFrame(pdf, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    out = tmp_path / "out"
    run_bounded_pipeline(stream, str(out), str(tmp_path / "ckpt"))
    got = (
        spark.read.parquet(f"{out}/analytics")
        .toPandas()
        .sort_values(["trade_datetime", "tick_id"])
        .reset_index(drop=True)
    )

    all_rows = spark.createDataFrame(pd.DataFrame(batch1 + batch2, columns=cols), schema)
    exp = (
        indicators_apply_in_pandas(
            dedup_keep_first(
                all_rows.filter(valid_tick_predicate()),
                ["company_id", "trade_datetime"],
                "tick_id",
            ),
            TICK_SPEC,
        )
        .toPandas()
        .sort_values(["trade_datetime", "tick_id"])
        .reset_index(drop=True)
    )
    assert list(got["tick_id"]) == list(exp["tick_id"]) == [1, 2, 3, 4, 5]
    assert 99 not in set(got["tick_id"])
    for c in ["current_price"] + IND_COLS:
        a = got[c].to_numpy(dtype=float)
        b = exp[c].to_numpy(dtype=float)
        assert np.allclose(a, b, rtol=1e-12, atol=1e-12, equal_nan=True), c


def test_wire_decoded_stream_matches_typed_stream(spark, sf_dir, tmp_path):
    """The tick pipeline end to end: ticks → ``encode_ticks_to_kafka`` → wire
    files → ``decode_kafka_ticks`` → ``run_bounded_pipeline`` emits exactly
    the analytics rows of the same ticks read as typed files, over two
    micro-batches (the decoded ticks carry ``tick_id``, the handler's
    tie-break, and their µs times)."""
    import pandas as pd

    ticks = (
        ticks_from_events(spark, sf_dir)
        .filter(F.col("company_id") < 5)
        .select("company_id", "tick_id", "trade_datetime", "current_price", "volume")
        .withColumn("company_id", F.col("company_id").cast("string"))
        .withColumn("trade_datetime", F.col("trade_datetime").cast("timestamp"))
    )
    ep = F.unix_micros(F.col("trade_datetime"))
    anchor = ticks.agg(F.percentile(ep, F.lit(0.5))).collect()[0][0]
    for name, half in (("f1", ticks.filter(ep <= anchor)), ("f2", ticks.filter(ep > anchor))):
        half.coalesce(1).write.parquet(str(tmp_path / "typed" / name))
        encode_ticks_to_kafka(half, key_col="company_id").coalesce(1).write.parquet(
            str(tmp_path / "wire" / name)
        )
        time.sleep(1.1)

    def analytics(name, stream):
        out = tmp_path / f"{name}_out"
        run_bounded_pipeline(stream, str(out), str(tmp_path / f"{name}_ckpt"))
        return (
            spark.read.parquet(f"{out}/analytics")
            .toPandas()
            .sort_values(["company_id", "trade_datetime", "tick_id"])
            .reset_index(drop=True)
        )

    typed = analytics(
        "typed",
        spark.readStream.schema(ticks.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp_path}/typed/*/"),
    )
    wire = analytics(
        "wire",
        decode_kafka_ticks(
            spark.readStream.schema("key string, value string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp_path}/wire/*/")
        ),
    )
    assert len(typed) > 0
    pd.testing.assert_frame_equal(wire, typed)


class _StubState:
    """The slice of ``GroupState`` the indicator handler uses."""

    def __init__(self):
        self.value = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value


def test_update_symbol_carries_state_across_batches():
    """The stateful handler without Spark: over batches whose ticks arrive
    out of order (split over several frames, with tied times), each batch
    emits its new ticks in (time, tick_id) order with the indicators of the
    whole series so far (while the state still holds all of it), the state
    keeps the last ``min(n, 1000)`` prices as raw float64 bytes
    and ``n_seen`` counts every tick."""
    import pandas as pd

    from real_time_stock_market_data_pipeline_spark.operators.indicators import (
        BUFFER_SIZE,
        indicator_frame,
    )
    from real_time_stock_market_data_pipeline_spark.streaming.analytics import (
        _update_symbol,
    )

    rng = np.random.default_rng(7)
    n = 1_700
    secs = np.sort(rng.integers(0, 3 * n, n))  # repeats: tied times
    ticks = pd.DataFrame({
        "company_id": "A",
        "tick_id": np.arange(n, dtype=np.int64),
        "trade_datetime": pd.Timestamp("2024-01-02") + pd.to_timedelta(secs, unit="s"),
        "current_price": rng.exponential(50.0, n).round(2) + 0.01,
        "volume": rng.integers(0, 100, n),
    })
    whole = indicator_frame(ticks, TICK_SPEC)

    state = _StubState()
    cuts = [0, 300, 700, 950, 1_450, n]  # 950 → 1 450 crosses BUFFER_SIZE
    for lo, hi in zip(cuts, cuts[1:]):
        batch = ticks.iloc[lo:hi].sample(frac=1.0, random_state=lo)
        frames = [batch.iloc[: len(batch) // 3], batch.iloc[len(batch) // 3:]]
        (emitted,) = _update_symbol(("A",), iter(frames), state)

        assert list(emitted["tick_id"]) == list(range(lo, hi))
        if lo <= BUFFER_SIZE:  # the state still holds the whole series
            for c in IND_COLS:
                assert np.array_equal(
                    emitted[c].to_numpy(), whole[c].to_numpy()[lo:hi], equal_nan=True
                ), c
        buffered, n_seen = state.get
        assert n_seen == hi
        prices = np.frombuffer(buffered, dtype=np.float64)
        assert list(prices) == ticks["current_price"].tolist()[max(0, hi - BUFFER_SIZE):hi]


def test_checkpoint_with_array_state_is_refused(spark, tmp_path, monkeypatch):
    """A checkpoint whose indicator state was written in the earlier
    ``prices array<double>`` layout fails the restarted query loudly
    (Spark's state schema check) instead of being read as bytes."""
    import pandas as pd
    from pyspark.errors import StreamingQueryException

    from real_time_stock_market_data_pipeline_spark.streaming import analytics

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)

    def deliver(i):
        ids = np.arange(i * 20, (i + 1) * 20)
        pd.DataFrame({
            "company_id": [f"S{k % 3}" for k in ids],
            "tick_id": ids,
            "trade_datetime": (pd.Timestamp("2024-01-02", tz="UTC")
                               + pd.to_timedelta(ids, unit="min")).astype("datetime64[us, UTC]"),
            "current_price": 100.0 + ids,
            "volume": 10,
        }).to_parquet(f"{src}/ticks-{i}.parquet", index=False)

    stream = (
        spark.readStream.schema(
            "company_id string, tick_id long, trade_datetime timestamp, "
            "current_price double, volume long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    handler = analytics._update_symbol

    def update_array_state(key, batches, state):
        class ArrayState:  # the handler's bytes, stored as array<double>
            exists = state.exists

            @property
            def get(self):
                prices, n_seen = state.get
                return np.asarray(prices, dtype=np.float64).tobytes(), n_seen

            def update(self, value):
                state.update((np.frombuffer(value[0]).tolist(), value[1]))

        return handler(key, batches, ArrayState())

    monkeypatch.setattr(analytics, "STATE_SCHEMA", "prices array<double>, n_seen long")
    monkeypatch.setattr(analytics, "_update_symbol", update_array_state)
    deliver(0)
    assert run_bounded_pipeline(stream, out, ckpt).exception() is None
    monkeypatch.undo()

    deliver(1)
    with pytest.raises(StreamingQueryException, match="STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"):
        run_bounded_pipeline(stream, out, ckpt)


def test_kafka_roundtrip_preserves_ticks(spark):
    rows = [
        ("c1", "AAPL", "2024-01-01T10:00:00Z", 101.5, 1000),
        ("c2", "MSFT", "2024-01-01T10:00:10Z", 390.25, 0),
    ]
    df = spark.createDataFrame(
        rows, "company_id string, ticker_symbol string, ts string, "
        "current_price double, volume long"
    ).select(
        "company_id", "ticker_symbol",
        F.to_timestamp("ts").alias("trade_datetime"),
        "current_price", "volume",
    )
    wire = encode_ticks_to_kafka(df)
    assert wire.columns == ["key", "value"]
    back = decode_kafka_ticks(wire).select(
        "company_id", "ticker_symbol", "trade_datetime", "current_price", "volume"
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # missing fields in the JSON decode to NULL (consumer .get() semantics)
    sparse = spark.createDataFrame([('{"ticker_symbol": "X"}',)], "value string")
    r = decode_kafka_ticks(sparse).collect()[0]
    assert r.ticker_symbol == "X" and r.current_price is None
    # corrupt JSON → all-NULL row, not a stream failure
    bad = spark.createDataFrame([("{not json",)], "value string")
    assert decode_kafka_ticks(bad).collect()[0].ticker_symbol is None


def test_synthetic_source_shape(spark):
    df = synthetic_tick_stream(spark, rows_per_second=17)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == [
        "tick_id", "company_id", "trade_datetime", "current_price", "volume"
    ]


def test_observed_metrics_batch_and_stream(spark, sf_dir, tmp_path):
    """A8 — engine-side counters: batch via Observation, stream via
    per-batch observedMetrics on the bounded pipeline."""
    from pyspark.sql import Observation

    from real_time_stock_market_data_pipeline_spark.streaming.analytics import observed

    ticks = ticks_from_events(spark, sf_dir)
    obs = Observation("m")
    observed(ticks, obs).write.format("noop").mode("overwrite").save()
    n = ticks.count()
    assert obs.get["messages_processed"] == n
    assert 0 <= obs.get["errors_count"] <= n
    # A8 latency stats: min ≤ p50 ≤ max, all finite (fixture events are in
    # the past, so lags are positive)
    m = obs.get
    assert m["lag_us_min"] <= m["lag_us_p50"] <= m["lag_us_max"]
    assert m["lag_us_mean"] > 0 and m["lag_us_p50"] > 0

    src = tmp_path / "src"
    small = (
        ticks.filter(F.col("company_id") < 3)
        .select("company_id", "tick_id", "trade_datetime", "current_price", "volume")
        .withColumn("company_id", F.col("company_id").cast("string"))
    )
    small.coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(small.schema).parquet(str(src))
    q = run_bounded_pipeline(stream, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    batch_metrics = [
        p["observedMetrics"]["tick_metrics"]
        for p in q.recentProgress
        if "tick_metrics" in (p["observedMetrics"] or {})
    ]
    assert sum(m["messages_processed"] for m in batch_metrics) == small.count()
    # per-micro-batch A8 latency stats ride the same observed map (the
    # watermark-advance batch the dedupe stage appends carries 0 rows and
    # NULL latency aggregates — skip it)
    nonempty = [m for m in batch_metrics if m["messages_processed"] > 0]
    assert nonempty
    for m in nonempty:
        assert m["lag_us_min"] <= m["lag_us_p50"] <= m["lag_us_max"]


def test_kafka_decode_corrupt_json_yields_null_rows(spark):
    """S5/T8: corrupt payloads decode to all-NULL rows (routed to the error
    side-output by the validity filter) instead of failing the stream."""
    from real_time_stock_market_data_pipeline_spark.operators.relational import (
        valid_tick_predicate,
    )
    from real_time_stock_market_data_pipeline_spark.sources.kafka import (
        decode_kafka_ticks,
    )

    frames = spark.createDataFrame(
        [("AAPL", b"{not json"), ("MSFT", b'{"ticker_symbol":"MSFT","current_price":1.5}')],
        "key string, value binary",
    )
    decoded = decode_kafka_ticks(frames)
    rows = decoded.collect()
    assert len(rows) == 2
    by_sym = {r.ticker_symbol: r for r in rows}
    assert None in by_sym  # corrupt row → NULL struct fields
    assert by_sym["MSFT"].current_price == 1.5
    assert decoded.filter(valid_tick_predicate()).count() == 1


def test_watermark_drops_late_rows_across_runs(spark, tmp_path):
    """T4 — watermark semantics: a 10-minute watermark finalizes tumbling
    windows once event time passes window_end + delay; a row arriving LATER
    than the watermark for an already-finalized window is DROPPED, not
    merged.  The watermark survives the checkpoint across two bounded runs
    (the restart path the reference has no answer to)."""
    import datetime as dt

    import pandas as pd

    schema = "company_id string, trade_datetime timestamp, current_price double"
    src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ckpt"

    def write_batch(name, rows):
        pdf = pd.DataFrame(rows, columns=["company_id", "trade_datetime", "current_price"])
        spark.createDataFrame(pdf, schema).coalesce(1).write.mode("overwrite").parquet(
            str(src / name)
        )

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
        )
        agg = (
            stream.withWatermark("trade_datetime", "10 minutes")
            .groupBy(F.window("trade_datetime", "5 minutes").alias("w"), "company_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("w_start"), "company_id", "n")
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    # run 1: two rows in [10:00,10:05) and one at 10:20 → watermark 10:10,
    # so the first window finalizes with n=2
    write_batch("f1", [("A", ts(0), 1.0), ("A", ts(2), 1.0)])
    time.sleep(1.1)
    write_batch("f2", [("A", ts(20), 1.0)])
    run_once()

    # run 2: a LATE row for the finalized window (10:03 < watermark 10:10)
    # plus a fresh row at 10:40 that pushes the watermark past 10:25
    time.sleep(1.1)
    write_batch("f3", [("A", ts(3), 1.0)])
    time.sleep(1.1)
    write_batch("f4", [("A", ts(40), 1.0)])
    run_once()

    got = {
        r.w_start: r.n for r in spark.read.parquet(str(out)).collect()
    }
    assert got[ts(0)] == 2  # late 10:03 row DROPPED, not merged to 3
    assert got[ts(20)] == 1  # second window finalized by the 10:40 row


def test_throttle_stream_matches_batch(spark, tmp_path):
    """Greedy time-cooldown throttle: the streaming keyed-state operator
    equals the batch grouped-map twin, including state carried across
    micro-batch boundaries (an alert emitted at the end of batch 1 must
    suppress batch 2's early rows)."""
    from real_time_stock_market_data_pipeline_spark.streaming.throttle import (
        throttle_batch,
        throttled_stream,
    )

    rows = (
        [("A", i, f"2024-01-01 00:00:{i:02d}", 100.0 + i, "HIGH") for i in range(20)]
        + [("B", 100 + i, f"2024-01-01 00:00:{2 * i:02d}", 50.0 + i, "MEDIUM")
           for i in range(10)]
    )
    schema = (
        "company_id string, tick_id long, trade_datetime string, "
        "current_price double, alert_type string"
    )
    df = spark.createDataFrame(rows, schema).withColumn(
        "trade_datetime", F.to_timestamp("trade_datetime")
    )
    # two chronological halves → two micro-batches → the cooldown must
    # straddle the boundary
    first = df.filter("tick_id % 200 < 10")
    second = df.exceptAll(first)
    src = tmp_path / "tsrc"
    first.coalesce(1).write.parquet(str(src / "f1"))
    time.sleep(1.1)
    second.coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    q = (
        throttled_stream(stream, 5.0)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "tout"))
        .option("checkpointLocation", str(tmp_path / "tckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "tout")).collect())
    )
    exp = sorted(map(tuple, throttle_batch(df, 5.0).collect()))
    assert got == exp and len(got) > 0
    # greedy keeps every-5th-second for A (0,5,10,15) and every emit for B
    a_ticks = [t for (k, t, *_r) in got if k == "A"]
    assert a_ticks == [0, 5, 10, 15]


def test_throttle_survives_restart(spark, tmp_path):
    """A RESTARTED throttle query (same checkpoint) must keep suppressing
    from the state store: an alert emitted in run 1 still cools down run
    2's early rows — the T2/T3 guarantee the in-memory reference
    architecture cannot give."""
    from real_time_stock_market_data_pipeline_spark.streaming.throttle import (
        throttle_batch,
        throttled_stream,
    )

    schema = (
        "company_id string, tick_id long, trade_datetime string, "
        "current_price double, alert_type string"
    )
    rows = [("A", i, f"2024-01-01 00:00:{i:02d}", 1.0, "HIGH") for i in range(20)]
    df = spark.createDataFrame(rows, schema).withColumn(
        "trade_datetime", F.to_timestamp("trade_datetime")
    )
    first = df.filter("tick_id < 8")
    second = df.filter("tick_id >= 8")
    src = tmp_path / "rsrc"
    first.coalesce(1).write.parquet(str(src / "f1"))

    def run_once():
        stream = spark.readStream.schema(df.schema).parquet(f"{src}/*/")
        q = (
            throttled_stream(stream, 5.0)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "rout"))
            .option("checkpointLocation", str(tmp_path / "rckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()  # run 1: sees ticks 0-7, emits 0 and 5
    second.coalesce(1).write.parquet(str(src / "f2"))
    run_once()  # run 2 (fresh query, same checkpoint): must remember t=5

    got = sorted(r["tick_id"] for r in spark.read.parquet(str(tmp_path / "rout")).collect())
    exp = sorted(r["tick_id"] for r in throttle_batch(df, 5.0).collect())
    assert got == exp == [0, 5, 10, 15]


def test_segmentation_table_stream_matches_batch(spark, sf_dir, tmp_path):
    """foreachBatch segmentation-table maintenance: streaming the corpus in
    two micro-batches builds EXACTLY the batch-built table, and a full
    replay of the stream (at-least-once delivery) appends zero rows — the
    anti-join update is idempotent."""
    from real_time_stock_market_data_pipeline_spark.operators import bpe
    from real_time_stock_market_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    merges = bpe.train_bpe_merges(docs, n_merges=6)
    src = tmp_path / "src"
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(str(src / "b1"))
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(str(src / "b2"))

    table = str(tmp_path / "segmap_stream")

    def run_stream(ckpt: str) -> None:
        q = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
            .writeStream.foreachBatch(bpe.segmentation_table_sink(merges, table))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream(str(tmp_path / "ck1"))
    stream_rows = sorted(
        map(tuple, spark.read.parquet(table).select("word", "n_sub").collect())
    )

    batch_table = str(tmp_path / "segmap_batch")
    bpe.update_segmentation_table(docs, merges, batch_table)
    batch_rows = sorted(
        map(tuple, spark.read.parquet(batch_table).select("word", "n_sub").collect())
    )
    assert stream_rows == batch_rows and len(stream_rows) > 0

    # replay the whole stream with a FRESH checkpoint: at-least-once
    # redelivery of every batch must append nothing
    run_stream(str(tmp_path / "ck2"))
    assert (
        sorted(map(tuple, spark.read.parquet(table).select("word", "n_sub").collect()))
        == stream_rows
    )


def test_signature_table_stream_matches_batch(spark, sf_dir, tmp_path):
    """DD9's streaming form: foreachBatch signature-table maintenance over
    a two-micro-batch document stream builds EXACTLY the batch-built table;
    a full replay (at-least-once delivery) appends zero rows; and the
    incremental new-vs-all candidate pairs of batch 2 are exactly the
    pairs the one-shot self-join adds beyond batch 1's."""
    from real_time_stock_market_data_pipeline_spark.operators import dedup
    from real_time_stock_market_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    src = tmp_path / "src"
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(str(src / "b1"))
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(str(src / "b2"))

    table = str(tmp_path / "sigtab_stream")

    def run_stream(ckpt: str) -> None:
        q = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
            .writeStream.foreachBatch(dedup.signature_table_sink(table))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream(str(tmp_path / "ck1"))
    cols = ["doc_id", "band_id", "band_sig"]
    stream_rows = sorted(map(tuple, spark.read.parquet(table).select(*cols).collect()))

    batch_table = str(tmp_path / "sigtab_batch")
    dedup.update_signature_table(docs, batch_table)
    batch_rows = sorted(
        map(tuple, spark.read.parquet(batch_table).select(*cols).collect())
    )
    assert stream_rows == batch_rows and len(stream_rows) > 0

    # replay with a fresh checkpoint: redelivery must append nothing
    run_stream(str(tmp_path / "ck2"))
    assert (
        sorted(map(tuple, spark.read.parquet(table).select(*cols).collect()))
        == stream_rows
    )

    # incremental pair maintenance: one-shot pairs == batch-1-only pairs
    # ∪ (new-vs-all pairs touching batch 2)
    pair_cols = ["doc_a", "doc_b", "n_shared_bands"]
    oneshot = sorted(
        map(tuple, dedup.minhash_candidate_pairs(docs).select(*pair_cols).collect())
    )
    b1_only = sorted(
        map(
            tuple,
            dedup.minhash_candidate_pairs(docs.filter("doc_id % 2 = 0"))
            .select(*pair_cols)
            .collect(),
        )
    )
    inc = sorted(
        map(
            tuple,
            dedup.incremental_candidate_pairs(
                spark, table, docs.filter("doc_id % 2 = 1").select("doc_id")
            )
            .select(*pair_cols)
            .collect(),
        )
    )
    assert sorted(b1_only + inc) == oneshot and len(inc) > 0


def test_ohlc_stream_matches_batch_and_a13(spark, sf_dir, tmp_path):
    """A13's streaming twin: hourly candles computed by the watermarked
    tumbling-window aggregation over a two-micro-batch replay equal (a)
    the same aggregation run in batch and (b) the a13 driver plan, for
    every window the stream finalizes.  A far-future sentinel tick in the
    last micro-batch pushes the watermark past all real windows, so every
    real candle is emitted exactly once."""
    from real_time_stock_market_data_pipeline_spark.plans.queries import QUERIES
    from real_time_stock_market_data_pipeline_spark.streaming.analytics import (
        ohlc_candles_stream,
    )

    ticks = (
        ticks_from_events(spark, sf_dir)
        .filter(F.col("company_id") < 8)
        .select("tick_id", "company_id", "trade_datetime", "current_price", "volume")
    )
    ep = F.unix_micros(F.col("trade_datetime").cast("timestamp"))
    anchor = ticks.agg(F.percentile(ep, F.lit(0.5))).collect()[0][0]
    src = tmp_path / "src"
    ticks.filter(ep <= anchor).coalesce(1).write.parquet(str(src / "b1"))
    sentinel = spark.sql(
        "SELECT CAST(-1 AS BIGINT) tick_id, CAST(-999 AS BIGINT) company_id, "
        "timestamp'2099-01-01 00:00:00' trade_datetime, "
        "CAST(1.0 AS DOUBLE) current_price, CAST(0 AS BIGINT) volume"
    )
    b2 = ticks.filter(ep > anchor).select(
        "tick_id", "company_id",
        F.col("trade_datetime").cast("timestamp").alias("trade_datetime"),
        "current_price", "volume",
    ).unionByName(sentinel)
    b2.coalesce(1).write.parquet(str(src / "b2"))

    out = str(tmp_path / "candles")
    q = (
        spark.readStream.schema(b2.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
        .transform(ohlc_candles_stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        map(tuple, spark.read.parquet(out).filter("company_id >= 0").collect())
    )
    assert len(got) > 0

    batch = sorted(map(tuple, ohlc_candles_stream(ticks).collect()))
    assert got == batch

    # and ≡ the a13 driver plan on the same (company_id < 8) slice
    a13 = (
        QUERIES["a13_ohlc_candles"](spark, str(sf_dir))
        .filter("company_id < 8")
        .select("company_id", "bar_hour", "open", "high", "low", "close",
                "bar_volume", "n_ticks")
    )
    a13_rows = sorted(
        map(tuple, a13.withColumn(
            "bar_hour", F.col("bar_hour").cast("timestamp")).collect())
    )
    assert got == a13_rows


def test_vwap_stream_matches_batch_and_w11(spark, sf_dir, tmp_path):
    """W11's streaming twin: daily VWAP from the watermarked tumbling
    window over a two-micro-batch replay equals the batch run of the same
    aggregation AND the w11 driver plan, under the shared 6-decimal
    rounding (float summation order differs between partial-agg trees, so
    raw doubles may differ in the last ulp — exactly what r6t absorbs)."""
    from real_time_stock_market_data_pipeline_spark.plans.dialect import r6t
    from real_time_stock_market_data_pipeline_spark.plans.queries import QUERIES
    from real_time_stock_market_data_pipeline_spark.streaming.analytics import (
        vwap_stream,
    )

    ticks = (
        ticks_from_events(spark, sf_dir)
        .filter(F.col("company_id") < 8)
        .select("tick_id", "company_id", "trade_datetime", "current_price", "volume")
    )
    ep = F.unix_micros(F.col("trade_datetime").cast("timestamp"))
    anchor = ticks.agg(F.percentile(ep, F.lit(0.5))).collect()[0][0]
    src = tmp_path / "src"
    ticks.filter(ep <= anchor).coalesce(1).write.parquet(str(src / "b1"))
    sentinel = spark.sql(
        "SELECT CAST(-1 AS BIGINT) tick_id, CAST(-999 AS BIGINT) company_id, "
        "timestamp'2099-01-01 00:00:00' trade_datetime, "
        "CAST(1.0 AS DOUBLE) current_price, CAST(1 AS BIGINT) volume"
    )
    b2 = ticks.filter(ep > anchor).select(
        "tick_id", "company_id",
        F.col("trade_datetime").cast("timestamp").alias("trade_datetime"),
        "current_price", "volume",
    ).unionByName(sentinel)
    b2.coalesce(1).write.parquet(str(src / "b2"))

    out = str(tmp_path / "vwap")
    q = (
        spark.readStream.schema(b2.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
        .transform(vwap_stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def rounded(df):
        return sorted(map(tuple, df.select(
            "company_id", F.col("trade_date").cast("string"),
            F.expr(r6t("vwap")).alias("vwap"),
            F.expr(r6t("avg_price")).alias("avg_price"),
            "total_volume", "n_ticks",
        ).collect()))

    got = rounded(spark.read.parquet(out).filter("company_id >= 0"))
    assert len(got) > 0
    assert got == rounded(vwap_stream(ticks))
    w11 = QUERIES["w11_vwap"](spark, str(sf_dir)).filter("company_id < 8")
    assert got == rounded(w11)


def test_ivf_index_stream_matches_batch(spark, sf_dir, tmp_path):
    """EMB10's streaming form: foreachBatch IVF maintenance over a
    two-micro-batch vector stream builds EXACTLY the batch-built lists,
    and a full replay (at-least-once delivery) appends zero rows."""
    from real_time_stock_market_data_pipeline_spark.operators.clustering import (
        kmeans_fit,
    )
    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        init_ivf_index,
        ivf_index_sink,
        update_ivf_index,
    )
    from real_time_stock_market_data_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    cents = kmeans_fit(emb, k=4, n_iter=1)
    src = tmp_path / "src"
    emb.filter("vec_id % 2 = 0").coalesce(1).write.parquet(str(src / "b1"))
    emb.filter("vec_id % 2 = 1").coalesce(1).write.parquet(str(src / "b2"))

    stream_idx = str(tmp_path / "idx_stream")
    init_ivf_index(cents, stream_idx)

    def run_stream(ckpt: str) -> None:
        q = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
            .writeStream.foreachBatch(ivf_index_sink(stream_idx))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream(str(tmp_path / "ck1"))
    cols = ["vec_id", "centroid_id"]
    stream_rows = sorted(
        map(tuple, spark.read.parquet(f"{stream_idx}/lists").select(*cols).collect())
    )

    batch_idx = str(tmp_path / "idx_batch")
    init_ivf_index(cents, batch_idx)
    update_ivf_index(spark, emb, batch_idx)
    batch_rows = sorted(
        map(tuple, spark.read.parquet(f"{batch_idx}/lists").select(*cols).collect())
    )
    assert stream_rows == batch_rows and len(stream_rows) > 0

    run_stream(str(tmp_path / "ck2"))  # replay: must append nothing
    assert (
        sorted(map(tuple, spark.read.parquet(f"{stream_idx}/lists").select(*cols).collect()))
        == stream_rows
    )


def test_test_shingle_table_stream_matches_batch(spark, sf_dir, tmp_path):
    """DD11's streaming form: foreachBatch test-shingle-table maintenance
    over a two-micro-batch TEST-document stream builds EXACTLY the
    batch-built table; a full replay (at-least-once delivery) appends zero
    rows; and the train-side gate driven from the streamed table flags
    exactly the docs the one-shot dd10-style pipeline flags."""
    from real_time_stock_market_data_pipeline_spark.operators import dedup
    from real_time_stock_market_data_pipeline_spark.operators.sampling import (
        SPLIT_BOUNDS,
        hash_bucket_col,
    )
    from real_time_stock_market_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    bucket = hash_bucket_col()
    lo, hi = SPLIT_BOUNDS["test"]
    test = docs.filter((bucket >= lo) & (bucket < hi))
    train = docs.filter(bucket < SPLIT_BOUNDS["train"][1])
    src = tmp_path / "src"
    test.filter("doc_id % 2 = 0").coalesce(1).write.parquet(str(src / "b1"))
    test.filter("doc_id % 2 = 1").coalesce(1).write.parquet(str(src / "b2"))

    table = str(tmp_path / "testsh_stream")

    def run_stream(ckpt: str) -> None:
        q = (
            spark.readStream.schema(test.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
            .writeStream.foreachBatch(dedup.test_shingle_table_sink(table))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream(str(tmp_path / "ck1"))
    cols = ["doc_id", "sh"]
    stream_rows = sorted(map(tuple, spark.read.parquet(table).select(*cols).collect()))

    batch_table = str(tmp_path / "testsh_batch")
    dedup.update_test_shingle_table(test, batch_table)
    batch_rows = sorted(
        map(tuple, spark.read.parquet(batch_table).select(*cols).collect())
    )
    assert stream_rows == batch_rows and len(stream_rows) > 0

    # replay with a fresh checkpoint: redelivery must append nothing
    run_stream(str(tmp_path / "ck2"))
    assert (
        sorted(map(tuple, spark.read.parquet(table).select(*cols).collect()))
        == stream_rows
    )

    # the gate the table exists for: table-driven flags ≡ one-shot flags
    from pyspark.sql import functions as SF

    flag_cols = ["doc_id", "n_grams", "n_shared"]
    from_table = sorted(
        map(
            tuple,
            dedup.contaminated_docs_from_table(train, table)
            .select(*flag_cols)
            .collect(),
        )
    )
    n = dedup.DECONTAMINATION_NGRAM
    test_sh = dedup.shingle_hashes(test, n=n).select("sh").distinct()
    train_sh = dedup.shingle_hashes(train, n=n)
    sizes = train_sh.groupBy("doc_id").agg(SF.count("*").alias("n_grams"))
    oneshot = sorted(
        map(
            tuple,
            train_sh.join(test_sh, "sh")
            .groupBy("doc_id")
            .agg(SF.count("*").alias("n_shared"))
            .join(sizes, "doc_id")
            .select(*flag_cols)
            .collect(),
        )
    )
    assert from_table == oneshot


def test_pq_codes_stream_matches_batch(spark, sf_dir, tmp_path):
    """EMB12's streaming form: foreachBatch PQ-code maintenance over a
    two-micro-batch vector stream builds EXACTLY the batch-built code
    table (codebooks trained once, persisted, reloaded by every update),
    and a full replay (at-least-once delivery) appends zero rows."""
    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        init_pq_index,
        pq_codes_sink,
        pq_fit,
        update_pq_codes,
    )
    from real_time_stock_market_data_pipeline_spark.sources.readers import load_table
    from pyspark.sql import functions as SF

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    cbs = pq_fit(emb, m=4, k=8, n_iter=1)
    src = tmp_path / "src"
    emb.filter("vec_id % 2 = 0").coalesce(1).write.parquet(str(src / "b1"))
    emb.filter("vec_id % 2 = 1").coalesce(1).write.parquet(str(src / "b2"))

    stream_tab = str(tmp_path / "pq_stream")
    init_pq_index(spark, cbs, stream_tab)

    def run_stream(ckpt: str) -> None:
        q = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
            .writeStream.foreachBatch(pq_codes_sink(stream_tab))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream(str(tmp_path / "ck1"))
    as_str = SF.concat_ws(",", SF.transform("pq_codes", lambda c: c.cast("string")))

    def table_rows(path):
        return sorted(
            map(
                tuple,
                spark.read.parquet(f"{path}/codes")
                .select("vec_id", as_str.alias("cs"))
                .collect(),
            )
        )

    stream_rows = table_rows(stream_tab)

    batch_tab = str(tmp_path / "pq_batch")
    init_pq_index(spark, cbs, batch_tab)
    update_pq_codes(spark, emb, batch_tab)
    assert stream_rows == table_rows(batch_tab) and len(stream_rows) > 0

    run_stream(str(tmp_path / "ck2"))  # replay: must append nothing
    assert table_rows(stream_tab) == stream_rows


def test_pq_ingest_tolerates_null_and_ragged_vectors(spark, sf_dir, tmp_path):
    """A NULL or wrong-length embedding in an ingest micro-batch must NOT
    fail the whole batch (the Arrow encode's np.stack would raise): the
    bad rows are dropped up front — ivf_topk's tolerated-rows behavior —
    and every valid row in the same batch still lands in the code
    table."""
    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        init_pq_index,
        pq_fit,
        update_pq_codes,
    )
    from real_time_stock_market_data_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cbs = pq_fit(emb, m=4, k=8, n_iter=1)
    tab = str(tmp_path / "pq_tol")
    init_pq_index(spark, cbs, tab)

    good = emb.filter("vec_id < 20")
    bad = spark.createDataFrame(
        [(100000, None), (100001, [1.0, 2.0, 3.0])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    metrics = update_pq_codes(
        spark, good.unionByName(bad.selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding")), tab
    )
    got = spark.read.parquet(f"{tab}/codes")
    assert metrics["n_new"] == good.count()
    assert got.count() == good.count()
    assert got.filter("vec_id >= 100000").count() == 0


def test_dd12_gate_from_streamed_table_matches_batch(spark, sf_dir, tmp_path):
    """DD12's streaming form: the test-set band table maintained by
    foreachBatch (recall-tuned DECON_BAND_SIZE banding) over a
    two-micro-batch test-doc stream is EXACTLY the batch-built table, a
    replay appends zero rows, and the near-dup gate driven from the
    streamed table flags exactly what the batch-built gate flags."""
    from real_time_stock_market_data_pipeline_spark.operators import dedup
    from real_time_stock_market_data_pipeline_spark.operators.sampling import (
        SPLIT_BOUNDS,
        hash_bucket_col,
    )
    from real_time_stock_market_data_pipeline_spark.sources.readers import load_table
    from pyspark.sql import functions as SF

    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket_col()
    lo, hi = SPLIT_BOUNDS["test"]
    test = docs.filter((b >= lo) & (b < hi)).select("doc_id", "text")
    train = docs.filter(b < SPLIT_BOUNDS["train"][1]).select("doc_id", "text")

    src = tmp_path / "src"
    test.filter("doc_id % 2 = 0").coalesce(1).write.parquet(str(src / "b1"))
    test.filter("doc_id % 2 = 1").coalesce(1).write.parquet(str(src / "b2"))

    stream_tab = str(tmp_path / "decon_bands_stream")

    def run_stream(ckpt: str) -> None:
        q = (
            spark.readStream.schema(test.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
            .writeStream.foreachBatch(
                dedup.signature_table_sink(
                    stream_tab, band_size=dedup.DECON_BAND_SIZE
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream(str(tmp_path / "ck1"))
    cols = ["doc_id", "band_id", "band_sig"]
    stream_rows = sorted(
        map(tuple, spark.read.parquet(stream_tab).select(*cols).collect())
    )

    batch_tab = str(tmp_path / "decon_bands_batch")
    dedup.update_signature_table(
        test, batch_tab, band_size=dedup.DECON_BAND_SIZE
    )
    batch_rows = sorted(
        map(tuple, spark.read.parquet(batch_tab).select(*cols).collect())
    )
    assert stream_rows == batch_rows and len(stream_rows) > 0

    run_stream(str(tmp_path / "ck2"))  # replay: must append nothing
    assert (
        sorted(map(tuple, spark.read.parquet(stream_tab).select(*cols).collect()))
        == stream_rows
    )

    gate_stream = sorted(
        map(
            tuple,
            dedup.near_contaminated_docs_from_table(train, stream_tab).collect(),
        )
    )
    gate_batch = sorted(
        map(
            tuple,
            dedup.near_contaminated_docs_from_table(train, batch_tab).collect(),
        )
    )
    assert gate_stream == gate_batch and len(gate_stream) > 0


def test_media_fingerprint_table_stream_matches_batch(spark, tmp_path):
    """MM10's streaming form: the banded media-fingerprint table maintained
    by foreachBatch over a two-micro-batch hashed-media stream equals the
    batch-built table, a replay appends zero rows, and the contamination
    gate driven from the streamed table flags exactly what the
    batch-built gate flags."""
    import numpy as np

    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        encode_bmp24,
        image_dhash,
        media_contamination_pairs_from_table,
        media_fingerprint_table_sink,
        update_media_fingerprint_table,
    )
    from pyspark.sql import functions as SF

    rng = np.random.RandomState(11)
    test_media = spark.createDataFrame(
        [(i, bytes(encode_bmp24(rng.randint(0, 256, (8, 9, 3))))) for i in range(24)],
        "doc_id BIGINT, media_bytes BINARY",
    )
    hashed = image_dhash(test_media).select("doc_id", "dhash")

    src = tmp_path / "src"
    hashed.filter("doc_id % 2 = 0").coalesce(1).write.parquet(str(src / "b1"))
    hashed.filter("doc_id % 2 = 1").coalesce(1).write.parquet(str(src / "b2"))

    stream_tab = str(tmp_path / "fp_stream")

    def run_stream(ckpt: str) -> None:
        q = (
            spark.readStream.schema(hashed.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
            .writeStream.foreachBatch(media_fingerprint_table_sink(stream_tab))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream(str(tmp_path / "ck1"))
    cols = ["doc_id", "fp", "band_id", "band_val"]
    stream_rows = sorted(
        map(tuple, spark.read.parquet(stream_tab).select(*cols).collect())
    )

    batch_tab = str(tmp_path / "fp_batch")
    update_media_fingerprint_table(hashed, batch_tab)
    batch_rows = sorted(
        map(tuple, spark.read.parquet(batch_tab).select(*cols).collect())
    )
    assert stream_rows == batch_rows and len(stream_rows) > 0

    run_stream(str(tmp_path / "ck2"))  # replay: must append nothing
    assert (
        sorted(map(tuple, spark.read.parquet(stream_tab).select(*cols).collect()))
        == stream_rows
    )

    probe = hashed.select(
        (SF.col("doc_id") + 500).alias("doc_id"), "dhash"
    )
    gate_stream = sorted(
        map(tuple, media_contamination_pairs_from_table(probe, stream_tab).collect())
    )
    gate_batch = sorted(
        map(tuple, media_contamination_pairs_from_table(probe, batch_tab).collect())
    )
    assert gate_stream == gate_batch and len(gate_stream) > 0


def test_ivfpq_index_stream_matches_batch(spark, sf_dir, tmp_path):
    """EMB14's streaming form: foreachBatch composite-index maintenance
    over a two-micro-batch vector stream builds EXACTLY the batch-built
    (vec_id, list_id, pq_codes) index (quantizers trained once,
    persisted, reloaded by every update), a full replay appends zero
    rows, and a NULL/ragged vector cannot fail its micro-batch."""
    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        init_ivfpq_index,
        ivfpq_fit,
        ivfpq_index_sink,
        update_ivfpq_index,
    )
    from real_time_stock_market_data_pipeline_spark.sources.readers import load_table
    from pyspark.sql import functions as SF

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    coarse, fine = ivfpq_fit(emb, n_lists=4, m=4, k=8, n_iter=1)
    src = tmp_path / "src"
    bad = spark.createDataFrame(
        [(900000, None), (900001, [1.0, 2.0])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    ).selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding")
    emb.filter("vec_id % 2 = 0").unionByName(bad).coalesce(1).write.parquet(
        str(src / "b1")
    )
    emb.filter("vec_id % 2 = 1").coalesce(1).write.parquet(str(src / "b2"))

    stream_tab = str(tmp_path / "ivfpq_stream")
    init_ivfpq_index(spark, coarse, fine, stream_tab)

    def run_stream(ckpt: str) -> None:
        q = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
            .writeStream.foreachBatch(ivfpq_index_sink(stream_tab))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream(str(tmp_path / "ck1"))
    as_str = SF.concat_ws(",", SF.transform("pq_codes", lambda c: c.cast("string")))

    def table_rows(path):
        return sorted(
            map(
                tuple,
                spark.read.parquet(f"{path}/index")
                .select("vec_id", "list_id", as_str.alias("cs"))
                .collect(),
            )
        )

    stream_rows = table_rows(stream_tab)
    assert all(r[0] < 900000 for r in stream_rows)  # bad vectors skipped

    batch_tab = str(tmp_path / "ivfpq_batch")
    init_ivfpq_index(spark, coarse, fine, batch_tab)
    update_ivfpq_index(spark, emb, batch_tab)
    assert stream_rows == table_rows(batch_tab) and len(stream_rows) > 0

    run_stream(str(tmp_path / "ck2"))  # replay: must append nothing
    assert table_rows(stream_tab) == stream_rows


def test_semantic_index_stream_matches_batch(spark, sf_dir, tmp_path):
    """emb17's sink through a REAL stream: the planted corpus arrives as
    two micro-batch files (twins in a different batch than their
    sources), and the stream-built semantic-dedup index — assigned AND
    pairs tables — must equal the batch-built one; a full REPLAY with a
    fresh checkpoint appends nothing to either table (the anti-join
    idempotence every sink in this file pins)."""
    from pyspark.sql import functions as SF

    from real_time_stock_market_data_pipeline_spark.operators.clustering import (
        kmeans_fit,
    )
    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        init_semantic_index,
        semantic_index_sink,
        update_semantic_index,
    )
    from real_time_stock_market_data_pipeline_spark.plans.embedding_parity import (
        SEMDEDUP_PLANT_BASE,
        SEMDEDUP_THRESHOLD,
        planted_semantic_corpus,
    )

    corpus = planted_semantic_corpus(spark, sf_dir).localCheckpoint(eager=False)
    cents_df = kmeans_fit(
        corpus.filter(SF.col("vec_id") < SEMDEDUP_PLANT_BASE), k=16, n_iter=1
    ).localCheckpoint(eager=False)
    src = tmp_path / "src"
    corpus.filter(SF.col("vec_id") < SEMDEDUP_PLANT_BASE).coalesce(1).write.parquet(
        str(src / "b1")
    )
    corpus.filter(SF.col("vec_id") >= SEMDEDUP_PLANT_BASE).coalesce(1).write.parquet(
        str(src / "b2")
    )

    stream_tab = str(tmp_path / "semidx_stream")
    init_semantic_index(cents_df, stream_tab)

    def run_stream(ckpt: str) -> None:
        q = (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
            .writeStream.foreachBatch(
                semantic_index_sink(stream_tab, SEMDEDUP_THRESHOLD)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream(str(tmp_path / "ck1"))

    def tables(path):
        pairs = sorted(
            (r.vec_a, r.vec_b, r.cid)
            for r in spark.read.parquet(f"{path}/pairs").collect()
        )
        assigned = sorted(
            (r.vec_id, r.cid)
            for r in spark.read.parquet(f"{path}/assigned")
            .select("vec_id", "cid")
            .collect()
        )
        return pairs, assigned

    stream_pairs, stream_assigned = tables(stream_tab)
    assert stream_pairs and len(stream_assigned) == corpus.count()

    batch_tab = str(tmp_path / "semidx_batch")
    init_semantic_index(cents_df, batch_tab)
    update_semantic_index(spark, corpus, batch_tab, SEMDEDUP_THRESHOLD)
    assert (stream_pairs, stream_assigned) == tables(batch_tab)

    run_stream(str(tmp_path / "ck2"))  # replay: must append nothing
    assert (stream_pairs, stream_assigned) == tables(stream_tab)


def test_latest_revisions_stream_matches_batch(spark, tmp_path):
    """dd14's streaming form: foreachBatch current-state maintenance over
    a snapshot stream whose micro-batches arrive OUT of snapshot order
    converges to exactly keep_latest_dedup over every revision, and a
    full replay (at-least-once delivery) changes nothing."""
    from real_time_stock_market_data_pipeline_spark.operators import dedup

    schema = "doc_id bigint, url_key string, snapshot_day int, body string"
    revs = spark.createDataFrame(
        [
            (10, "u/a", 20, "v20"), (30, "u/b", 7, "b7"),
            (11, "u/a", 30, "v30"), (31, "u/b", 7, "b7-tie"),
            (12, "u/a", 10, "v10"), (40, "u/c", 5, "c5"),
        ],
        schema,
    )
    src = tmp_path / "src"
    # batch files chosen so the NEWEST u/a revision arrives in the middle
    revs.filter("doc_id IN (10, 30)").coalesce(1).write.parquet(str(src / "b1"))
    revs.filter("doc_id IN (11, 31)").coalesce(1).write.parquet(str(src / "b2"))
    revs.filter("doc_id IN (12, 40)").coalesce(1).write.parquet(str(src / "b3"))

    table = str(tmp_path / "current_stream")

    def run_stream(ckpt: str) -> None:
        q = (
            spark.readStream.schema(revs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
            .writeStream.foreachBatch(
                dedup.latest_revisions_sink(
                    table, ["url_key"], "snapshot_day", "doc_id"
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream(str(tmp_path / "ck1"))
    cols = ["doc_id", "url_key", "snapshot_day", "body"]

    def norm(rows):
        return sorted(tuple(r[c] for c in cols) for r in rows)

    got = norm(spark.read.parquet(table).collect())
    want = norm(
        dedup.keep_latest_dedup(
            revs, ["url_key"], "snapshot_day", "doc_id"
        ).collect()
    )
    assert got == want and len(got) == 3

    run_stream(str(tmp_path / "ck2"))  # full replay: nothing regresses
    assert norm(spark.read.parquet(table).collect()) == want


def test_bm25_postings_stream_matches_batch_and_survives_midswap_kill(
    spark, sf_dir, tmp_path, monkeypatch
):
    """txt23's streaming twin (bm25_postings_sink): a two-micro-batch
    document stream builds EXACTLY the batch-built AND one-shot posting
    tables; a full fresh-checkpoint replay changes nothing (df merges
    skip on the hwm, tf appends anti-join to zero); and a query KILLED
    between the df staging's durability mark and its renames — the
    merge-maintained table's own crash window — restarts from the same
    checkpoint, heals the swap forward, and still converges."""
    from real_time_stock_market_data_pipeline_spark import maintenance as mnt
    from real_time_stock_market_data_pipeline_spark.operators.text import (
        bm25_postings_sink,
        update_bm25_postings,
    )
    from real_time_stock_market_data_pipeline_spark.sources.readers import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter("doc_id < 120 AND text IS NOT NULL")
        .select("doc_id", "text")
        .localCheckpoint()
    )
    src = tmp_path / "src"
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(str(src / "b1"))
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(str(src / "b2"))
    table = str(tmp_path / "bm_stream")

    def run_stream(ckpt: str) -> None:
        q = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
            .writeStream.foreachBatch(bm25_postings_sink(table))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # --- kill inside batch 1's df swap: marked staging, renames pending
    real_mark = mnt._mark_staging_complete
    marks = {"n": 0}

    def mark_then_die(staging):
        real_mark(staging)
        marks["n"] += 1
        if marks["n"] >= 2:  # batch 0 commits clean; batch 1 dies mid-swap
            raise RuntimeError("killed between mark and renames")

    monkeypatch.setattr(mnt, "_mark_staging_complete", mark_then_die)
    import pyspark.errors

    with pytest.raises(pyspark.errors.exceptions.base.StreamingQueryException):
        run_stream(str(tmp_path / "ck1"))
    monkeypatch.undo()
    # the crash left a durability-marked staging beside the df table
    parent = os.path.dirname(os.path.join(table, "df"))
    assert any("__staging_" in e for e in os.listdir(parent))

    # restart from the SAME checkpoint: redelivery heals + completes
    run_stream(str(tmp_path / "ck1"))
    assert not any("__staging_" in e for e in os.listdir(parent))

    def rows(root):
        tf = sorted(
            map(tuple, spark.read.parquet(f"{root}/tf").collect())
        )
        df = sorted(map(tuple, spark.read.parquet(f"{root}/df").collect()))
        return tf, df

    got_tf, got_df = rows(table)
    batch_tab = str(tmp_path / "bm_batch")
    update_bm25_postings(docs.filter("doc_id % 2 = 0"), batch_tab, 0)
    update_bm25_postings(docs.filter("doc_id % 2 = 1"), batch_tab, 1)
    exp_tf, exp_df = rows(batch_tab)
    oneshot_tab = str(tmp_path / "bm_oneshot")
    update_bm25_postings(docs, oneshot_tab, 0)
    one_tf, one_df = rows(oneshot_tab)
    assert got_tf == exp_tf == one_tf and len(got_tf) > 0
    assert got_df == exp_df == one_df and len(got_df) > 0

    # full fresh-checkpoint replay: hwm skips df, anti-join skips tf
    run_stream(str(tmp_path / "ck2"))
    assert rows(table) == (got_tf, got_df)


def test_takedown_sink_stream_matches_batch(spark, sf_dir, tmp_path):
    """The removal-request STREAM (takedown_sink): two micro-batches of
    deletions over prebuilt signature + bm25 tables, purge amortized via
    purge_every, must land exactly the batch takedown+purge state — i.e.
    ≡ tables rebuilt from scratch on corpus-minus-deleted — and a full
    fresh-checkpoint replay of the request stream changes nothing (ids
    already purged semi-join to nothing)."""
    from real_time_stock_market_data_pipeline_spark.operators import takedown as td
    from real_time_stock_market_data_pipeline_spark.operators.dedup import (
        minhash_band_rows,
        update_signature_table,
    )
    from real_time_stock_market_data_pipeline_spark.operators.text import (
        update_bm25_postings,
    )
    from real_time_stock_market_data_pipeline_spark.sources.readers import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter("doc_id < 100 AND text IS NOT NULL")
        .select(
            "doc_id",
            F.concat(
                F.col("text"), F.lit(" uq"), F.col("doc_id").cast("string")
            ).alias("text"),
        )
        .localCheckpoint()
    )
    p_sig, p_bm = str(tmp_path / "sig"), str(tmp_path / "bm")
    update_signature_table(docs, p_sig)
    update_bm25_postings(docs, p_bm, 0)
    dels = docs.filter("doc_id % 7 = 3").select("doc_id")
    src = tmp_path / "src"
    dels.filter("doc_id < 50").coalesce(1).write.parquet(str(src / "b1"))
    dels.filter("doc_id >= 50").coalesce(1).write.parquet(str(src / "b2"))
    roots = {"signatures": p_sig, "bm25": p_bm}

    def run_stream(ckpt: str) -> None:
        q = (
            spark.readStream.schema(dels.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
            .writeStream.foreachBatch(td.takedown_sink(roots, purge_every=2))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream(str(tmp_path / "ck1"))
    rem = docs.filter("doc_id % 7 <> 3")
    sig_rows = sorted(map(tuple, spark.read.parquet(p_sig).collect()))
    assert sig_rows == sorted(
        map(tuple, minhash_band_rows(rem, "doc_id", "text").collect())
    )
    p2 = str(tmp_path / "bm2")
    update_bm25_postings(rem, p2, 0)
    bm_rows = {
        sub: sorted(map(tuple, spark.read.parquet(f"{p_bm}/{sub}").collect()))
        for sub in ("tf", "df")
    }
    for sub in ("tf", "df"):
        assert bm_rows[sub] == sorted(
            map(tuple, spark.read.parquet(f"{p2}/{sub}").collect())
        ), sub
    assert not os.path.exists(td.tombstone_path(p_sig))
    assert not os.path.exists(f"{p_bm}/tombstones")
    # fresh-checkpoint replay of the whole request stream: no-op
    run_stream(str(tmp_path / "ck2"))
    assert sorted(map(tuple, spark.read.parquet(p_sig).collect())) == sig_rows
    for sub in ("tf", "df"):
        assert (
            sorted(map(tuple, spark.read.parquet(f"{p_bm}/{sub}").collect()))
            == bm_rows[sub]
        ), sub
