from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline_spark.maintenance import (
    daily_summary,
    merge_upsert,
    migrate_realtime_to_historical,
    recover_upsert,
    refresh_daily_summary,
    upsert_parquet,
    upsert_sink,
)
from real_time_stock_market_data_pipeline_spark.plans.queries import QUERIES
from real_time_stock_market_data_pipeline_spark.sources.readers import (
    ticks_from_events,
)


def test_daily_summary_matches_oracle_checked_plan(spark, sf_dir):
    ours = daily_summary(ticks_from_events(spark, sf_dir))
    plan = QUERIES["a4_daily_summary"](spark, sf_dir)
    a = sorted(map(tuple, ours.collect()))
    b = sorted(map(tuple, plan.collect()))
    assert a == b


def test_refresh_daily_summary_partitioned(spark, sf_dir, tmp_path):
    ticks = ticks_from_events(spark, sf_dir)
    path = str(tmp_path / "summary")
    refresh_daily_summary(spark, ticks, path)
    back = spark.read.parquet(path)
    assert back.count() == daily_summary(ticks).count()
    # partition pruning works on the layout
    one_day = back.select("trade_date").distinct().limit(1).collect()[0][0]
    assert back.filter(F.col("trade_date") == one_day).count() > 0


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k string, ts long, v double")


def test_merge_upsert_semantics(spark):
    """ON CONFLICT DO UPDATE: updates win on conflict, untouched keys
    survive, new keys insert, batch-internal dups resolve last-write-wins."""
    existing = _kv(spark, [("a", 1, 10.0), ("b", 1, 20.0)]).withColumn("seq", F.lit(0))
    # key ('a',1) appears twice in the batch with seq 1 and 2: last wins
    updates = _kv(spark, [("a", 1, 11.0), ("c", 1, 30.0)]).withColumn(
        "seq", F.lit(1)
    ).unionByName(_kv(spark, [("a", 1, 12.0)]).withColumn("seq", F.lit(2)))
    out = merge_upsert(existing, updates, ["k", "ts"], order_col="seq")
    got = {(r.k, r.ts): r.v for r in out.collect()}
    assert got == {("a", 1): 12.0, ("b", 1): 20.0, ("c", 1): 30.0}
    # one row per key always
    assert out.count() == out.select("k", "ts").distinct().count()


def test_upsert_parquet_overlapping_batches(spark, tmp_path):
    """Two overlapping batches through the parquet merge sink: one row per
    key at the end; second batch's payload wins on the overlap."""
    path = str(tmp_path / "store")
    b1 = _kv(spark, [("a", 1, 1.0), ("b", 1, 2.0), ("b", 2, 3.0)])
    b2 = _kv(spark, [("b", 2, 30.0), ("c", 1, 4.0)])
    upsert_parquet(spark, b1, path, ["k", "ts"])
    upsert_parquet(spark, b2, path, ["k", "ts"])
    got = {(r.k, r.ts): r.v for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1): 1.0, ("b", 1): 2.0, ("b", 2): 30.0, ("c", 1): 4.0}


def test_upsert_parquet_partition_pruned(spark, tmp_path):
    """With partition_col, an upsert batch touching one partition reads and
    rewrites ONLY that partition: untouched partition files stay
    byte-identical on disk."""
    import os

    path = str(tmp_path / "pstore")
    b1 = _kv(spark, [("a", 1, 1.0), ("b", 1, 2.0), ("a", 2, 3.0), ("c", 2, 4.0)])
    upsert_parquet(spark, b1, path, ["k", "ts"], partition_col="ts")
    p1 = os.path.join(path, "ts=1")

    def files(d):
        return {
            f: open(os.path.join(d, f), "rb").read()
            for f in os.listdir(d) if f.endswith(".parquet")
        }

    before = files(p1)
    # batch touches only ts=2
    b2 = _kv(spark, [("a", 2, 30.0), ("d", 2, 5.0)])
    upsert_parquet(spark, b2, path, ["k", "ts"], partition_col="ts")
    assert files(p1) == before  # ts=1 not rewritten
    got = {(r.k, r.ts): r.v for r in spark.read.parquet(path).collect()}
    assert got == {
        ("a", 1): 1.0, ("b", 1): 2.0,           # untouched partition
        ("a", 2): 30.0, ("c", 2): 4.0, ("d", 2): 5.0,  # merged partition
    }
    with pytest.raises(ValueError):
        upsert_parquet(spark, b2, path, ["k"], partition_col="ts")


def test_upsert_parquet_flat_store_converts_layout(spark, tmp_path):
    """A pruned upsert against a store written WITHOUT partitioning falls
    back to the full swap (converting the layout) instead of renaming
    partition dirs in next to the flat files."""
    import os

    path = str(tmp_path / "flat")
    upsert_parquet(spark, _kv(spark, [("a", 1, 1.0), ("b", 2, 2.0)]), path, ["k", "ts"])
    upsert_parquet(
        spark, _kv(spark, [("a", 1, 10.0)]), path, ["k", "ts"], partition_col="ts"
    )
    got = {(r.k, r.ts): r.v for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1): 10.0, ("b", 2): 2.0}
    assert any(e.startswith("ts=") for e in os.listdir(path))  # now partitioned


def test_upsert_parquet_null_partition_rejected(spark, tmp_path):
    path = str(tmp_path / "nstore")
    upsert_parquet(spark, _kv(spark, [("a", 1, 1.0)]), path, ["k", "ts"], partition_col="ts")
    bad = spark.createDataFrame([("b", None, 2.0)], "k string, ts long, v double")
    with pytest.raises(ValueError):
        upsert_parquet(spark, bad, path, ["k", "ts"], partition_col="ts")


def _fail_rename_after(monkeypatch, n):
    """Let the first ``n`` os.rename calls inside maintenance succeed, then
    simulate a crash (OSError) on call n+1."""
    import os as _os

    import real_time_stock_market_data_pipeline_spark.maintenance as mnt

    real = _os.rename
    calls = {"n": 0}

    def flaky(src, dst):
        calls["n"] += 1
        if calls["n"] > n:
            raise OSError("simulated crash between renames")
        real(src, dst)

    monkeypatch.setattr(mnt.os, "rename", flaky)
    return calls


def _orphans(tmp_path, base):
    import os

    return sorted(
        e for e in os.listdir(tmp_path) if e.startswith(f"{base}__")
    )


def test_recover_full_swap_killed_between_renames(spark, tmp_path, monkeypatch):
    """Crash window 1 of the full swap: store displaced to __old_, staging
    (complete, _SUCCESS) not yet installed — the store path is ABSENT.
    recover_upsert must roll FORWARD to the fully-merged state."""
    path = str(tmp_path / "store")
    upsert_parquet(spark, _kv(spark, [("a", 1, 1.0), ("b", 1, 2.0)]), path, ["k", "ts"])
    with pytest.raises(OSError, match="simulated crash"):
        _fail_rename_after(monkeypatch, 1)
        upsert_parquet(spark, _kv(spark, [("a", 1, 10.0), ("c", 1, 3.0)]), path, ["k", "ts"])
    monkeypatch.undo()
    import os

    assert not os.path.exists(path)  # the documented momentary-absence window
    assert _orphans(tmp_path, "store")
    # the guard refuses to compound the damage
    with pytest.raises(RuntimeError, match="recover_upsert"):
        upsert_parquet(spark, _kv(spark, [("d", 1, 4.0)]), path, ["k", "ts"])
    actions = recover_upsert(path)
    assert any("rolled forward" in a for a in actions)
    got = {(r.k, r.ts): r.v for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1): 10.0, ("b", 1): 2.0, ("c", 1): 3.0}  # no data loss
    assert _orphans(tmp_path, "store") == []
    assert recover_upsert(path) == []  # idempotent / healthy-store no-op


def test_recover_full_swap_killed_before_old_cleanup(spark, tmp_path, monkeypatch):
    """Crash window 2: staging installed, displaced __old_ not yet deleted.
    recover_upsert just removes the superseded data."""
    import real_time_stock_market_data_pipeline_spark.maintenance as mnt

    path = str(tmp_path / "store2")
    upsert_parquet(spark, _kv(spark, [("a", 1, 1.0)]), path, ["k", "ts"])

    def boom(p, **kw):
        raise OSError("simulated crash before cleanup")

    monkeypatch.setattr(mnt.shutil, "rmtree", boom)
    with pytest.raises(OSError, match="before cleanup"):
        upsert_parquet(spark, _kv(spark, [("a", 1, 20.0)]), path, ["k", "ts"])
    monkeypatch.undo()
    assert any("__old_" in e for e in _orphans(tmp_path, "store2"))
    actions = recover_upsert(path)
    assert any("superseded" in a for a in actions)
    got = {(r.k, r.ts): r.v for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1): 20.0}
    assert _orphans(tmp_path, "store2") == []


def test_recover_incomplete_staging_rolls_back(spark, tmp_path):
    """A staging dir WITHOUT _SUCCESS (merge write died) is rolled back;
    the store stays at its pre-upsert state."""
    import os

    path = str(tmp_path / "store3")
    upsert_parquet(spark, _kv(spark, [("a", 1, 1.0)]), path, ["k", "ts"])
    fake = f"{path}__staging_deadbeef"
    os.makedirs(fake)
    open(os.path.join(fake, "part-00000.parquet"), "wb").close()
    actions = recover_upsert(path)
    assert any("rolled back incomplete staging" in a for a in actions)
    got = {(r.k, r.ts): r.v for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1): 1.0}
    assert _orphans(tmp_path, "store3") == []


def test_recover_partition_swap_killed_mid_loop(spark, tmp_path, monkeypatch):
    """The partition-pruned per-entry swap killed after installing one of
    two touched partitions: recover_upsert finishes the remaining staged
    directories — the store ends fully merged, never a mix."""
    path = str(tmp_path / "pstore2")
    b1 = _kv(spark, [("a", 1, 1.0), ("b", 2, 2.0), ("c", 3, 3.0)])
    upsert_parquet(spark, b1, path, ["k", "ts"], partition_col="ts")
    # batch touches ts=1 and ts=2; each entry needs 2 renames (displace +
    # install), so failing after 2 leaves ts asymmetric mid-loop
    b2 = _kv(spark, [("a", 1, 10.0), ("b", 2, 20.0), ("d", 2, 4.0)])
    with pytest.raises(OSError, match="simulated crash"):
        _fail_rename_after(monkeypatch, 2)
        upsert_parquet(spark, b2, path, ["k", "ts"], partition_col="ts")
    monkeypatch.undo()
    assert _orphans(tmp_path, "pstore2")
    actions = recover_upsert(path)
    assert any("rolled forward" in a for a in actions)
    got = {(r.k, r.ts): r.v for r in spark.read.parquet(path).collect()}
    assert got == {
        ("a", 1): 10.0, ("b", 2): 20.0, ("d", 2): 4.0,  # both merged in
        ("c", 3): 3.0,                                   # untouched partition
    }
    assert _orphans(tmp_path, "pstore2") == []


def test_recover_at_every_kill_point(spark, tmp_path, monkeypatch):
    """Exhaustive sweep: kill the partition-pruned upsert at EVERY rename
    index (plus cleanup), then recover.  Invariant: after recover_upsert
    the store reads back as either the pre-upsert state or the fully-merged
    state — never a mix, never missing, never with orphan dirs."""
    pre = {("a", 1): 1.0, ("b", 2): 2.0, ("c", 3): 3.0}
    merged = {("a", 1): 10.0, ("b", 2): 20.0, ("d", 2): 4.0, ("c", 3): 3.0}

    for kill_at in range(1, 6):  # the loop needs ≤4 renames; 5 = no kill
        path = str(tmp_path / f"kp{kill_at}")
        b1 = _kv(spark, [(k, t, v) for (k, t), v in pre.items()])
        upsert_parquet(spark, b1, path, ["k", "ts"], partition_col="ts")
        b2 = _kv(spark, [("a", 1, 10.0), ("b", 2, 20.0), ("d", 2, 4.0)])
        calls = _fail_rename_after(monkeypatch, kill_at)
        try:
            upsert_parquet(spark, b2, path, ["k", "ts"], partition_col="ts")
            crashed = False
        except OSError:
            crashed = True
        monkeypatch.undo()
        recover_upsert(path)
        got = {(r.k, r.ts): r.v for r in spark.read.parquet(path).collect()}
        # staged data was durable before any rename, so recovery always
        # rolls FORWARD here; an un-killed run is simply already merged
        assert got == merged, (kill_at, crashed, got)
        assert _orphans(tmp_path, f"kp{kill_at}") == []
        assert calls["n"] >= min(kill_at, 4)


def test_upsert_rejects_remote_paths_and_dtype_drift(spark, tmp_path):
    """Scheme-prefixed paths can't go through the os.rename swap protocol;
    a partition-column dtype drift between store and updates must fail loud
    instead of mis-pruning."""
    with pytest.raises(ValueError, match="driver-local"):
        upsert_parquet(
            spark, _kv(spark, [("a", 1, 1.0)]), "s3a://bucket/store", ["k", "ts"]
        )
    with pytest.raises(ValueError, match="driver-local"):
        recover_upsert("hdfs://nn/store")
    path = str(tmp_path / "dstore")
    upsert_parquet(spark, _kv(spark, [("a", 1, 1.0)]), path, ["k", "ts"], partition_col="ts")
    drift = spark.createDataFrame([("a", "1", 2.0)], "k string, ts string, v double")
    with pytest.raises(TypeError, match="dtype drift"):
        upsert_parquet(spark, drift, path, ["k", "ts"], partition_col="ts")


def test_upsert_sink_self_heals_after_crash(spark, tmp_path, monkeypatch):
    """A foreachBatch sink killed mid-swap must heal itself when the
    restarted query redelivers the batch: recovery + idempotent re-merge,
    no manual intervention."""
    path = str(tmp_path / "heal_store")
    sink = upsert_sink(path, ["k", "ts"])
    sink(_kv(spark, [("a", 1, 1.0), ("b", 1, 2.0)]), 0)
    batch = _kv(spark, [("a", 1, 10.0), ("c", 1, 3.0)])
    with pytest.raises(OSError, match="simulated crash"):
        _fail_rename_after(monkeypatch, 1)
        sink(batch, 1)
    monkeypatch.undo()
    assert _orphans(tmp_path, "heal_store")
    sink(batch, 1)  # checkpoint redelivery after restart
    got = {(r.k, r.ts): r.v for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1): 10.0, ("b", 1): 2.0, ("c", 1): 3.0}
    assert _orphans(tmp_path, "heal_store") == []


def test_upsert_sink_foreach_batch(spark, tmp_path):
    """The foreachBatch wrapper applies the same merge per micro-batch."""
    path = str(tmp_path / "stream_store")
    sink = upsert_sink(path, ["k", "ts"])
    sink(_kv(spark, [("a", 1, 1.0), ("b", 1, 2.0)]), 0)
    sink(_kv(spark, [("a", 1, 10.0), ("c", 1, 3.0)]), 1)
    got = {(r.k, r.ts): r.v for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1): 10.0, ("b", 1): 2.0, ("c", 1): 3.0}


def test_upsert_sink_through_real_stream(spark, tmp_path):
    """S9 end-to-end: two overlapping micro-batches delivered by an actual
    bounded stream (file source, one file per trigger) through
    ``writeStream.foreachBatch(upsert_sink(...))`` — the store ends with one
    row per key and the later micro-batch's payload on the overlap."""
    import time

    src = tmp_path / "src"
    b1 = _kv(spark, [("a", 1, 1.0), ("b", 1, 2.0)]).withColumn("seq", F.lit(1))
    b2 = _kv(spark, [("a", 1, 10.0), ("c", 1, 3.0)]).withColumn("seq", F.lit(2))
    b1.coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    time.sleep(1.1)  # file-source orders batches by modification time
    b2.coalesce(1).write.mode("overwrite").parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/")
    )
    store = str(tmp_path / "store")
    q = (
        stream.writeStream.foreachBatch(upsert_sink(store, ["k", "ts"], order_col="seq"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.k, r.ts): (r.v, r.seq) for r in spark.read.parquet(store).collect()}
    assert got == {("a", 1): (10.0, 2), ("b", 1): (2.0, 1), ("c", 1): (3.0, 2)}


def test_migration_existing_days_win(spark, sf_dir):
    ticks = ticks_from_events(spark, sf_dir)
    first = migrate_realtime_to_historical(ticks, None)
    n = first.count()
    assert n == first.select("company_id", "trade_date").distinct().count()
    # pre-existing rows survive untouched; duplicate keys not re-inserted
    poisoned = first.withColumn("close_price", F.lit(-1.0))
    merged = migrate_realtime_to_historical(ticks, poisoned)
    assert merged.count() == n
    assert merged.filter("close_price <> -1.0").count() == 0


def _store_with_small_files(spark, tmp_path, name="cstore", days=3, files_per_day=6):
    import real_time_stock_market_data_pipeline_spark.maintenance as mnt  # noqa: F401

    path = str(tmp_path / name)
    df = spark.range(600).selectExpr(
        "id", "id % 3 AS day", "CAST(id AS DOUBLE) * 1.5 AS v"
    )
    df.repartition(files_per_day).write.partitionBy("day").parquet(path)
    return path, df


def test_compact_parquet_partitioned(spark, tmp_path):
    import os

    import real_time_stock_market_data_pipeline_spark.maintenance as mnt

    path, df = _store_with_small_files(spark, tmp_path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))

    summary = mnt.compact_parquet(spark, path)
    assert set(summary) == {"day=0", "day=1", "day=2"}
    assert all(b > 1 and a == 1 for b, a in summary.values())
    for e in summary:
        n = len(
            [
                f
                for f in os.listdir(os.path.join(path, e))
                if not f.startswith(("_", "."))
            ]
        )
        assert n == 1
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
    # idempotent — second run finds nothing to do
    assert mnt.compact_parquet(spark, path) == {}


def test_compact_parquet_flat_store(spark, tmp_path):
    import real_time_stock_market_data_pipeline_spark.maintenance as mnt

    path = str(tmp_path / "flat")
    spark.range(500).repartition(8).write.parquet(path)
    before = sorted(r["id"] for r in spark.read.parquet(path).collect())
    summary = mnt.compact_parquet(spark, path)
    assert summary == {".": (8, 1)}
    assert sorted(r["id"] for r in spark.read.parquet(path).collect()) == before
    assert mnt.compact_parquet(spark, path) == {}


def test_compact_crash_windows_recover(spark, tmp_path, monkeypatch):
    """A compaction killed mid-swap repairs through the SAME recover_upsert
    rule as the upsert (shared staging protocol): complete staging rolls
    forward to the compacted state; the store never loses a row."""
    import real_time_stock_market_data_pipeline_spark.maintenance as mnt

    path, df = _store_with_small_files(spark, tmp_path, name="crash")
    before = sorted(map(tuple, spark.read.parquet(path).collect()))

    with pytest.raises(OSError):
        _fail_rename_after(monkeypatch, 3)  # dies inside the swap loop
        mnt.compact_parquet(spark, path)
    monkeypatch.undo()

    with pytest.raises(RuntimeError, match="orphaned"):
        mnt.compact_parquet(spark, path)

    actions = mnt.recover_upsert(path)
    assert actions
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
    # post-recovery the store is fully compacted: nothing left to do
    assert mnt.compact_parquet(spark, path) == {}


def test_incremental_refresh_matches_full(spark, sf_dir, tmp_path):
    """Appending batches (including a LATE batch for an old day) and
    incrementally refreshing only the touched days converges to exactly
    the full recompute, while reading only the affected partitions
    (pruning pinned on the store scan)."""
    import real_time_stock_market_data_pipeline_spark.maintenance as mnt
    from real_time_stock_market_data_pipeline_spark.sources.readers import (
        ticks_from_events,
    )
    from real_time_stock_market_data_pipeline_spark.sources.sinks import (
        write_ticks_partitioned,
    )

    ticks = ticks_from_events(spark, sf_dir)
    days = sorted(
        r[0] for r in ticks.select(F.to_date("trade_datetime")).distinct().collect()
    )
    assert len(days) >= 3
    store = str(tmp_path / "ticks")
    mv = str(tmp_path / "mv")

    d = F.to_date("trade_datetime")
    b1 = ticks.filter(d <= F.lit(days[1]))                      # days 0-1
    b2 = ticks.filter(d == F.lit(days[2]))                      # day 2
    late = ticks.filter(d == F.lit(days[0])).limit(0)           # empty guard
    # split day 0 across b1 and a LATE batch to prove re-aggregation
    ep = F.unix_micros(F.col("trade_datetime").cast("timestamp"))
    day0 = ticks.filter(d == F.lit(days[0]))
    cut = day0.agg(F.percentile(ep, F.lit(0.5))).collect()[0][0]
    b1 = b1.exceptAll(day0.filter(ep > cut))
    late = day0.filter(ep > cut)

    for batch in (b1, b2, late):
        write_ticks_partitioned(batch, store)
        mnt.refresh_daily_summary_incremental(spark, batch, store, mv)

    got = sorted(map(tuple, spark.read.parquet(mv).collect()))
    # full recompute over the same appended ticks (days 0-2 of the corpus)
    full = str(tmp_path / "mv_full")
    mnt.refresh_daily_summary(spark, ticks.filter(d <= F.lit(days[2])), full)
    exp = sorted(map(tuple, spark.read.parquet(full).collect()))
    assert got == exp and len(got) > 0

    # the increment's store scan prunes to the touched day partitions
    affected = spark.read.parquet(store).filter(
        F.col("trade_date").isin([days[0]])
    )
    plan = affected._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.find("FileScan"):]
    assert "trade_date" in scan.split("PartitionFilters")[1][:200]


def test_expire_partitions_retention(spark, tmp_path, monkeypatch):
    """Retention drops exactly the pre-cutoff day directories without
    touching surviving data; a crash mid-expiry leaves displaced data that
    recover_upsert cleans on the next pass."""
    import os

    import real_time_stock_market_data_pipeline_spark.maintenance as mnt

    path = str(tmp_path / "retain")
    df = spark.range(300).selectExpr(
        "id", "date_add(DATE'2024-01-01', CAST(id % 3 AS INT)) AS day"
    )
    df.write.partitionBy("day").parquet(path)

    expired = mnt.expire_partitions(path, "day", "2024-01-03")
    assert sorted(expired) == ["day=2024-01-01", "day=2024-01-02"]
    left = spark.read.parquet(path)
    assert left.count() == 100
    assert left.selectExpr("min(day) = DATE'2024-01-03'").first()[0]
    assert mnt.expire_partitions(path, "day", "2024-01-03") == []

    # crash window: kill after displacing (rename) but before the rmtree
    df.write.mode("overwrite").partitionBy("day").parquet(path)
    real_rmtree = mnt.shutil.rmtree
    monkeypatch.setattr(
        mnt.shutil, "rmtree", lambda *a, **k: (_ for _ in ()).throw(OSError("boom"))
    )
    try:
        mnt.expire_partitions(path, "day", "2024-01-02")
    except OSError:
        pass
    monkeypatch.setattr(mnt.shutil, "rmtree", real_rmtree)
    assert spark.read.parquet(path).count() == 200  # live data already correct
    actions = mnt.recover_upsert(path)
    assert any("superseded" in a for a in actions)
    assert not [e for e in os.listdir(str(tmp_path)) if "__old_" in e]


def test_compact_doc_keyed_table_preserves_family_invariants(spark, sf_dir, tmp_path):
    """Compacting an insert-only doc-keyed table (the anti-join+append
    family's small-files fix) must change ONLY the file layout: rows
    identical, file count down, a replayed batch still appends nothing,
    and the decontamination gate driven from the table is unchanged.
    Second run is a no-op; a crash mid-swap repairs through the shared
    recover_upsert rule."""
    import os

    import real_time_stock_market_data_pipeline_spark.maintenance as mnt
    from real_time_stock_market_data_pipeline_spark.operators import dedup
    from real_time_stock_market_data_pipeline_spark.operators.sampling import (
        SPLIT_BOUNDS,
        hash_bucket_col,
    )
    from real_time_stock_market_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket_col()
    lo, hi = SPLIT_BOUNDS["test"]
    test = docs.filter((b >= lo) & (b < hi)).select("doc_id", "text")
    train = docs.filter(b < SPLIT_BOUNDS["train"][1]).select("doc_id", "text")

    path = str(tmp_path / "shingletab")
    # 4 appends, each a multi-file write → a fragmented table
    for k in range(4):
        dedup.update_test_shingle_table(
            test.filter(f"doc_id % 4 = {k}").repartition(4), path
        )

    def data_files() -> int:
        return sum(
            1
            for f in os.listdir(path)
            if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(path, f))
        )

    rows_before = sorted(map(tuple, spark.read.parquet(path).collect()))
    gate_before = sorted(
        map(tuple, dedup.contaminated_docs_from_table(train, path).collect())
    )
    files_before = data_files()
    assert files_before > 1

    summary = mnt.compact_doc_keyed_table(spark, path)
    assert summary and summary["."][0] == files_before
    assert data_files() < files_before

    assert sorted(map(tuple, spark.read.parquet(path).collect())) == rows_before
    # replay-zero survives compaction: the anti-join sees the same ids
    m = dedup.update_test_shingle_table(test.filter("doc_id % 4 = 0"), path)
    assert m["n_new_docs"] == 0
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == rows_before
    # the gate is byte-identical
    assert (
        sorted(map(tuple, dedup.contaminated_docs_from_table(train, path).collect()))
        == gate_before
    )
    # idempotent
    assert mnt.compact_doc_keyed_table(spark, path) == {}


def test_compact_doc_keyed_table_crash_recovers(spark, tmp_path, monkeypatch):
    """A doc-keyed-table compaction killed between the two swap renames
    repairs through the same recover_upsert rule (complete staging rolls
    forward to the compacted table; no row lost)."""
    import os

    import real_time_stock_market_data_pipeline_spark.maintenance as mnt

    path = str(tmp_path / "dk_crash")
    spark.range(200).selectExpr("id AS doc_id", "id * 7 % 97 AS sh").repartition(
        6
    ).write.parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))

    with pytest.raises(OSError, match="simulated crash"):
        _fail_rename_after(monkeypatch, 1)  # dies between the two renames
        mnt.compact_doc_keyed_table(spark, path)
    monkeypatch.undo()

    with pytest.raises(RuntimeError, match="orphaned"):
        mnt.compact_doc_keyed_table(spark, path)

    actions = mnt.recover_upsert(path)
    assert actions
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
    assert mnt.compact_doc_keyed_table(spark, path) == {}


def test_read_if_exists_heals_interrupted_first_write(spark, tmp_path):
    """A kill mid-first-write leaves the table dir holding only
    _temporary: read_parquet_if_exists must report table-absent (None)
    so the next incremental batch self-heals, not crash every batch."""
    import os

    from real_time_stock_market_data_pipeline_spark.sources.readers import (
        read_parquet_if_exists,
    )

    path = str(tmp_path / "interrupted")
    os.makedirs(os.path.join(path, "_temporary"))
    assert read_parquet_if_exists(spark, path) is None
    assert read_parquet_if_exists(spark, str(tmp_path / "missing")) is None
    good = str(tmp_path / "good")
    spark.range(3).write.parquet(good)
    assert read_parquet_if_exists(spark, good).count() == 3


def test_sink_auto_compaction_bounds_files_long_run(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The r10 verdict's item 4: compact_doc_keyed_table existed but
    nothing SCHEDULED it, so a long-lived sink still accreted one file
    set per batch.  The sinks now call maintenance.maybe_compact_table
    between batches — a long run of fragmented micro-batches must keep
    the table's data-file count bounded by the trigger (not O(batches)),
    with rows, replay-zero, and the gate unchanged."""
    import os

    import real_time_stock_market_data_pipeline_spark.maintenance as mnt
    from real_time_stock_market_data_pipeline_spark.operators import dedup
    from real_time_stock_market_data_pipeline_spark.operators.sampling import (
        SPLIT_BOUNDS,
        hash_bucket_col,
    )
    from real_time_stock_market_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket_col()
    lo, hi = SPLIT_BOUNDS["test"]
    test = docs.filter((b >= lo) & (b < hi)).select("doc_id", "text")
    train = docs.filter(b < SPLIT_BOUNDS["train"][1]).select("doc_id", "text")

    path = str(tmp_path / "shingletab_auto")
    monkeypatch.setattr(mnt, "AUTO_COMPACT_FILES", 6)
    write_batch = dedup.test_shingle_table_sink(path)

    def data_files() -> int:
        return sum(
            1
            for f in os.listdir(path)
            if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(path, f))
        )

    n_batches = 12
    max_seen = 0
    for k in range(n_batches):
        # each batch writes 3 files → 36 files over the run without the
        # trigger; the bound is max_files + one batch's append
        write_batch(test.filter(f"doc_id % {n_batches} = {k}").repartition(3), k)
        max_seen = max(max_seen, data_files())
    assert max_seen <= 6 + 3, max_seen

    # content identical to the one-shot build; replay still appends zero
    ref_path = str(tmp_path / "shingletab_oneshot")
    dedup.update_test_shingle_table(test, ref_path)
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == sorted(
        map(tuple, spark.read.parquet(ref_path).collect())
    )
    m = dedup.update_test_shingle_table(test, path)
    assert m["n_new_docs"] == 0
    # the gate reads through the compacted layout unchanged
    assert sorted(
        map(tuple, dedup.contaminated_docs_from_table(train, path).collect())
    ) == sorted(
        map(tuple, dedup.contaminated_docs_from_table(train, ref_path).collect())
    )
    # under the bound the trigger is a listdir no-op
    assert mnt.maybe_compact_table(spark, path, "doc_id", max_files=10_000) == {}


def test_read_if_exists_windows_drive_path_takes_stat_branch():
    """A Windows drive path ("C:\\tables\\t") is not a scheme URI: it must
    short-circuit through the cheap os.path stat check (returning None
    for a missing table) instead of falling into the logged
    AnalysisException path the helper exists to avoid.  A real 2+ char
    scheme still skips the stat check."""
    from real_time_stock_market_data_pipeline_spark.sources.readers import (
        read_parquet_if_exists,
    )

    class _NeverRead:
        @property
        def read(self):
            raise AssertionError("missing local path must not reach spark.read")

    assert read_parquet_if_exists(_NeverRead(), r"C:\tables\missing") is None
    assert read_parquet_if_exists(_NeverRead(), "C:/tables/missing") is None
    assert read_parquet_if_exists(_NeverRead(), "/no/such/local/table") is None
    with pytest.raises(AssertionError, match="spark.read"):
        read_parquet_if_exists(_NeverRead(), "hdfs://nn/x")  # URI: no stat


def test_maybe_compact_table_partitioned_ivf_lists(spark, sf_dir, tmp_path):
    """The compaction trigger's PARTITIONED arm: fragmented hive-
    partitioned IVF lists (many micro-appends per list) must bin-pack
    per partition when the total file count crosses the bound — layout
    only, search results identical; under the bound it is a listdir
    no-op."""
    import os

    import real_time_stock_market_data_pipeline_spark.maintenance as mnt
    from real_time_stock_market_data_pipeline_spark.operators.clustering import (
        kmeans_fit,
    )
    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        init_ivf_index,
        search_ivf_index,
        update_ivf_index,
    )
    from real_time_stock_market_data_pipeline_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=4, n_iter=1)
    path = str(tmp_path / "ivf")
    init_ivf_index(cents, path)
    for k in range(6):
        update_ivf_index(spark, emb.filter(f"vec_id % 6 = {k}").repartition(3), path)
    lists = f"{path}/lists"

    def n_files() -> int:
        total = 0
        for e in os.listdir(lists):
            d = os.path.join(lists, e)
            if os.path.isdir(d) and "=" in e:
                total += sum(
                    1 for f in os.listdir(d)
                    if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(d, f))
                )
        return total

    q = emb.filter("vec_id < 3").select(F.col("vec_id").alias("query_id"), "embedding")

    def hits():
        return sorted(
            (r.query_id, r.rk, r.vec_id)
            for r in search_ivf_index(spark, path, q, k=10, n_probe=4).collect()
        )

    before_files, before_hits = n_files(), hits()
    assert before_files > 8
    assert mnt.maybe_compact_table(spark, lists, None, max_files=10_000) == {}
    summary = mnt.maybe_compact_table(spark, lists, None, max_files=8)
    assert summary and n_files() < before_files
    assert hits() == before_hits


def test_update_heals_mid_swap_compaction_before_read(spark, tmp_path, monkeypatch):
    """ADVICE r12 (high): a compaction killed between _flat_swap's two
    renames leaves the store ABSENT with a complete staging pending.
    The next batch's update_* used to read through that window, see "no
    table", and rebuild the store from that one batch — breaking
    anti-join idempotence — after which a later recover_upsert would
    roll the stale staging forward OVER the rebuilt rows, silently
    discarding everything ingested since the crash.  update_* now heals
    BEFORE reading: the post-crash replay batch must see the full
    pre-crash table (appending zero docs) and leave no orphans."""
    import os

    import real_time_stock_market_data_pipeline_spark.maintenance as mnt
    from real_time_stock_market_data_pipeline_spark.operators.dedup import (
        update_signature_table,
    )

    path = str(tmp_path / "sig_heal")
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i} eta theta") for i in range(40)],
        "doc_id bigint, text string",
    )
    # fragmented ingest: several appends so compaction has work to do
    for k in range(4):
        update_signature_table(docs.filter(f"doc_id % 4 = {k}"), path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))

    with pytest.raises(OSError, match="simulated crash"):
        _fail_rename_after(monkeypatch, 1)  # dies between the two renames
        mnt.compact_doc_keyed_table(spark, path)
    monkeypatch.undo()
    assert not os.path.exists(path)  # the store-absent crash window

    # the very next batch (an at-least-once replay here) heals, then reads
    m = update_signature_table(docs, path)
    assert m["n_new_docs"] == 0  # saw the healed FULL table, not a rebuild
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
    assert mnt._sibling_dirs(path, "staging") == []
    assert mnt._sibling_dirs(path, "old") == []


def test_heal_if_interrupted_is_cheap_noop_paths(tmp_path):
    """heal_if_interrupted: clean stores, missing paths and remote URIs
    are no-ops (one listdir, no recover machinery)."""
    import real_time_stock_market_data_pipeline_spark.maintenance as mnt

    assert mnt.heal_if_interrupted(str(tmp_path / "absent")) == []
    assert mnt.heal_if_interrupted("s3a://bucket/table") == []
    d = tmp_path / "clean"
    d.mkdir()
    assert mnt.heal_if_interrupted(str(d)) == []


def test_heal_for_read_preserves_unmarked_staging(tmp_path):
    """r13 ADVICE: an unmarked staging may belong to a LIVE writer — a
    read-path heal must leave it alone (the store is untouched until the
    marker lands, so the reader serves the current store safely); only a
    writer-mode heal rolls it back.  A COMPLETE (marked) staging still
    rolls forward under for_read: that repair is required when the store
    is mid-swap-absent."""
    import os

    import real_time_stock_market_data_pipeline_spark.maintenance as mnt

    store = tmp_path / "table"
    store.mkdir()
    (store / "part-0.parquet").write_bytes(b"x")
    staging = tmp_path / "table__staging_live"
    staging.mkdir()
    (staging / "part-0.parquet").write_bytes(b"y")

    # read-mode: preserved, store untouched
    actions = mnt.heal_if_interrupted(str(store), for_read=True)
    assert staging.exists() and (store / "part-0.parquet").exists()
    assert any("left in-progress" in a for a in actions)

    # writer-mode: rolled back
    actions = mnt.heal_if_interrupted(str(store))
    assert not staging.exists()
    assert any("rolled back incomplete staging" in a for a in actions)

    # complete staging + absent store: for_read still rolls FORWARD
    gone = tmp_path / "swapped"
    stg2 = tmp_path / "swapped__staging_done"
    stg2.mkdir()
    (stg2 / "part-0.parquet").write_bytes(b"z")
    (stg2 / mnt._COMMIT_MARKER).write_bytes(b"")
    mnt.heal_if_interrupted(str(gone), for_read=True)
    assert gone.exists() and not stg2.exists()
    assert (gone / "part-0.parquet").read_bytes() == b"z"


def test_recover_refuses_empty_staging_full_swap_over_partitioned_store(tmp_path):
    """A durability-marked staging with no partition entries and no data
    files can only be a writer bug (purge_ivfpq_tombstones used to
    produce one in its zero-survivor window — the r15 ADVICE high
    finding); rolling it forward as a full swap would replace the whole
    partitioned store with nothing.  recover_upsert must refuse loudly
    and leave the store untouched."""
    import pytest

    from real_time_stock_market_data_pipeline_spark import maintenance as mnt

    store = tmp_path / "index"
    part = store / "list_id=3"
    part.mkdir(parents=True)
    (part / "part-0.parquet").write_bytes(b"payload")
    stg = tmp_path / "index__staging_dead"
    stg.mkdir()
    (stg / "_SUCCESS").write_bytes(b"")
    (stg / mnt._COMMIT_MARKER).write_bytes(b"")
    with pytest.raises(RuntimeError, match="refusing full-swap"):
        mnt.recover_upsert(str(store))
    assert (part / "part-0.parquet").read_bytes() == b"payload"
    assert stg.exists()  # left for manual resolution, never installed


def test_recover_still_full_swaps_flat_marked_staging(tmp_path):
    """The refusal guard must not break the legitimate flat-table case:
    a marked staging holding parquet DATA files (a compaction result)
    still rolls forward as a full swap."""
    from real_time_stock_market_data_pipeline_spark import maintenance as mnt

    store = tmp_path / "t"
    store.mkdir()
    (store / "part-0.parquet").write_bytes(b"old")
    stg = tmp_path / "t__staging_x"
    stg.mkdir()
    (stg / "part-0.parquet").write_bytes(b"new")
    (stg / mnt._COMMIT_MARKER).write_bytes(b"")
    mnt.recover_upsert(str(store))
    assert (store / "part-0.parquet").read_bytes() == b"new"
    assert not stg.exists()


def test_observed_count_rides_the_consuming_action(spark):
    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        _observed_count,
    )

    base = spark.range(500).withColumn("v", F.col("id") * 2)
    obs_df, get = _observed_count(base)
    # downstream filter drops every row — the observation still sees the
    # full pre-filter cardinality because the scan runs under the action
    assert obs_df.filter("id < 0").count() == 0
    assert get() == 500


def test_observed_count_in_update_replay_keeps_n_batch(spark, tmp_path):
    """update_pq_codes' replay appends nothing (n_new=0) but n_batch must
    still count the DELIVERED batch — the dropped-row monitor signal —
    now that it rides the encode action instead of a dedicated count."""
    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        init_pq_index,
        pq_fit,
        update_pq_codes,
    )
    from real_time_stock_market_data_pipeline_spark.sources.readers import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding"
    )
    n = emb.count()
    path = str(tmp_path / "pq")
    init_pq_index(
        spark, pq_fit(emb.filter("vec_id < 100"), m=4, k=8, n_iter=1), path
    )
    first = update_pq_codes(spark, emb, path)
    assert first == {"n_batch": n, "n_new": n}
    replay = update_pq_codes(spark, emb, path)
    assert replay == {"n_batch": n, "n_new": 0}


def test_require_local_path_shares_the_readers_uri_rule():
    """The swap and the readers agree on what a URI is (a 2+ character
    scheme): a Windows drive path is local, a real scheme is refused."""
    import real_time_stock_market_data_pipeline_spark.maintenance as mnt

    mnt._require_local_path(r"C:\tables\t", "op")
    for uri in ("s3a://b/t", "file:///x"):
        with pytest.raises(ValueError, match="driver-local"):
            mnt._require_local_path(uri, "op")


def _tree(root):
    """{relative file path: bytes} under ``root`` (empty when absent)."""
    import os

    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _swap_fixture(base, entries):
    """A store and a fully written staging for one arm of ``_move_in``:
    the whole-store arm replaces a flat store; the entries arm replaces
    ``k=1``, adds ``k=4`` and leaves ``k=2`` untouched."""
    import os

    import real_time_stock_market_data_pipeline_spark.maintenance as mnt

    def put(p, data):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as fh:
            fh.write(data)

    path = os.path.join(base, "store")
    staging = mnt.staging_dir(path)
    if entries is None:
        put(os.path.join(path, "part-0.parquet"), b"old")
        put(os.path.join(staging, "part-0.parquet"), b"new")
        put(os.path.join(staging, "part-1.parquet"), b"new1")
    else:
        for e in ("k=1", "k=2"):
            put(os.path.join(path, e, "part-0.parquet"), b"old" + e.encode())
        for e in entries:
            put(os.path.join(staging, e, "part-0.parquet"), b"new" + e.encode())
    return path, staging


# (arm, kill point): "mark" dies just before / after the commit marker,
# an int N fails the Nth os.rename, "cleanup" fails the first rmtree
_WHOLE, _ENTRIES = None, ["k=1", "k=4"]
_SWAP_KILLS = (
    [("whole", k) for k in ("before_mark", "after_mark", 1, 2, "cleanup")]
    + [("entries", k) for k in ("before_mark", "after_mark", 1, 2, 3, "cleanup")]
)


@pytest.mark.parametrize("arm,kill", _SWAP_KILLS)
def test_swap_killed_anywhere_heals_to_pre_or_post_state(
    tmp_path, monkeypatch, arm, kill
):
    """Failure injection for the one store swap, both arms of
    ``_move_in``: kill it before or after the commit marker, at every
    rename (after the displace, after each entry's move) or in cleanup,
    then heal.  The store is exactly the pre-swap state (no marker:
    rolled back) or exactly the post-swap state of an uninterrupted
    twin (marked: rolled forward), never a mix, and no sibling is left.
    (An entry that is displaced without a staged replacement, a purge's
    zero-survivor list, is healed by its tombstones instead:
    tests/test_takedown.py.)"""
    import os

    import real_time_stock_market_data_pipeline_spark.maintenance as mnt

    entries = _WHOLE if arm == "whole" else _ENTRIES
    twin_dir, crash_dir = tmp_path / "twin", tmp_path / "crash"
    twin_dir.mkdir()
    crash_dir.mkdir()
    twin, twin_staging = _swap_fixture(str(twin_dir), entries)
    mnt.swap_in(twin, twin_staging, entries)
    post = _tree(twin)
    path, staging = _swap_fixture(str(crash_dir), entries)
    pre = _tree(path)
    assert pre != post

    real_mark, real_rename = mnt._mark_staging_complete, os.rename
    renames = {"n": 0}

    def mark(s):
        if kill == "before_mark":
            raise RuntimeError("killed")
        real_mark(s)
        if kill == "after_mark":
            raise RuntimeError("killed")

    def rename(src, dst):
        renames["n"] += 1
        if renames["n"] == kill:
            raise RuntimeError("killed")
        real_rename(src, dst)

    def rmtree(*a, **k):
        raise RuntimeError("killed")

    monkeypatch.setattr(mnt, "_mark_staging_complete", mark)
    monkeypatch.setattr(mnt.os, "rename", rename)
    if kill == "cleanup":
        monkeypatch.setattr(mnt.shutil, "rmtree", rmtree)
    with pytest.raises(RuntimeError, match="killed"):
        mnt.swap_in(path, staging, entries)
    monkeypatch.undo()

    assert mnt.heal_if_interrupted(path)  # the kill left something to heal
    assert _tree(path) == (pre if kill == "before_mark" else post)
    assert sorted(os.listdir(crash_dir)) == ["store"]
