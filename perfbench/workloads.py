"""The four workloads.

Each workload has the same shape: ``setup`` (untimed warm-up, reported as
``setup_s``), ``step`` (one unit of closed-loop work, repeated until the run's
seconds are spent and at least ``MIN_STEPS`` times), ``check`` (correctness,
untimed), ``probe`` and ``layers`` (per-layer metrics, traced runs only).
Work is driven by one client thread that calls the package's public
functions and times them from outside.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline_spark.operators import similarity as sim
from real_time_stock_market_data_pipeline_spark.operators.indicators import (
    BUFFER_SIZE,
    indicator_frame,
    indicators_apply_in_pandas,
)
from real_time_stock_market_data_pipeline_spark.operators.relational import (
    dedup_keep_first,
    valid_tick_predicate,
)
from real_time_stock_market_data_pipeline_spark.plans import ORACLES, QUERIES
from real_time_stock_market_data_pipeline_spark.plans.parity import compare_frames
from real_time_stock_market_data_pipeline_spark.plans.queries import TICK_SPEC
from real_time_stock_market_data_pipeline_spark.sources.kafka import (
    decode_kafka_ticks,
    encode_ticks_to_kafka,
)
from real_time_stock_market_data_pipeline_spark.sources.readers import (
    load_table,
    read_parquet_if_exists,
    ticks_from_events,
)
from real_time_stock_market_data_pipeline_spark.streaming.analytics import (
    IND_COLS,
    alerts_from_analytics,
    run_bounded_pipeline,
)

import data
from ledger import Cost
from stats import median

TICK_SCHEMA = (
    "company_id string, tick_id long, trade_datetime timestamp, "
    "current_price double, volume long"
)


@dataclass
class Op:
    kind: str        # batch | read | write
    label: str       # query name or store-call kind
    ms: float
    span: int        # index into Ctx.spans
    failed: bool = False


@dataclass
class Ctx:
    spark: object
    seed: int
    work: str
    spans: list = field(default_factory=list)   # (name, start_ms, end_ms)
    ops: list = field(default_factory=list)
    failed_checks: int = 0

    def span(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` as one attributable call; returns (result, ms, span)."""
        t0 = time.time()
        p0 = time.perf_counter()
        out = fn(*args, **kwargs)
        ms = (time.perf_counter() - p0) * 1000
        self.spans.append((name, t0 * 1000, time.time() * 1000))
        return out, ms, len(self.spans) - 1

    def release(self) -> None:
        """Drop RDDs a call left persisted, so one op's cached blocks do not
        load the next op's memory baseline (as bench.py does)."""
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _per_call(costs: list[Cost], spans: list[int]) -> dict[str, float]:
    picked = [costs[i] for i in spans]
    n = max(len(picked), 1)
    return {
        "jobs": sum(c.jobs for c in picked) / n,
        "tasks": sum(c.tasks for c in picked) / n,
        "exec_cpu_ms": sum(c.cpu_ms for c in picked) / n,
        "shuffle_kb": sum(c.shuffle_kb for c in picked) / n,
    }


# --- tick streams -----------------------------------------------------------


class TickStream:
    """Ticks written as equal chronological parquet files and drained by
    ``run_bounded_pipeline`` one file per trigger.  Each call delivers
    ``chunk`` new files and drains them (closed loop: the next delivery
    waits for the previous drain)."""

    MIN_STEPS = 1

    def __init__(self, n_symbols: int, ticks_per_file: int, prefill: int,
                 warm_files: int, chunk: int, n_files: int) -> None:
        self.n_symbols, self.ticks_per_file = n_symbols, ticks_per_file
        self.prefill, self.warm_files = prefill, warm_files
        self.chunk, self.n_files = chunk, n_files

    def make_inputs(self, ctx: Ctx) -> None:
        self.frame, counts = data.tick_frame(
            ctx.seed, self.n_symbols, self.ticks_per_file, self.n_files, self.prefill)
        self.files = data.write_tick_files(f"{ctx.work}/ticks", self.frame, counts)
        self.out, self.ckpt = f"{ctx.work}/out", f"{ctx.work}/ckpt"

    def _drain(self, ctx: Ctx, n_files: int, timed: bool) -> None:
        if self.files.delivered + n_files > len(self.files.paths):
            raise RuntimeError("tick backlog exhausted; raise n_files")
        self.files.deliver(n_files)
        q, _, span = ctx.span("stream.call", run_bounded_pipeline,
                              self.stream, self.out, self.ckpt)
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        batches = [p for p in q.recentProgress if p.numInputRows > 0]
        if timed:
            self.progress.extend(batches)
            for p in batches:
                ctx.ops.append(Op("batch", "batch", float(p.durationMs["triggerExecution"]),
                                  span))

    def setup(self, ctx: Ctx) -> None:
        self.stream = (
            ctx.spark.readStream.schema(TICK_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.files.src_dir)
        )
        self.progress = []
        self._drain(ctx, (1 if self.prefill else 0) + self.warm_files, timed=False)
        self.first_timed_file = self.files.delivered
        self.sink_before = _dir_usage([f"{self.out}/analytics", f"{self.out}/alerts"])

    def step(self, ctx: Ctx) -> None:
        self._drain(ctx, self.chunk, timed=True)

    def ticks_timed(self) -> int:
        return sum(self.files.n_ticks[self.first_timed_file:self.files.delivered])

    def check(self, ctx: Ctx) -> None:
        """Analytics rows equal the batch twin (dedup_keep_first →
        indicators_apply_in_pandas) within 1e-12, and the alerts equal
        ``alerts_from_analytics`` of that twin.  A mismatching tick marks
        the timed batch that carried it as failed."""
        spark = ctx.spark
        ticks = spark.read.schema(TICK_SCHEMA).parquet(self.files.src_dir)
        twin = indicators_apply_in_pandas(
            dedup_keep_first(ticks.filter(valid_tick_predicate()),
                             ["company_id", "trade_datetime"], "tick_id"),
            TICK_SPEC,
        )
        got = spark.read.parquet(f"{self.out}/analytics").toPandas()
        exp = twin.toPandas()
        # ticks missing on one side or emitted twice, then value mismatches
        bad_ticks = (set(exp["tick_id"]) ^ set(got["tick_id"])) | set(
            got["tick_id"][got["tick_id"].duplicated()])
        both = exp.merge(got, on="tick_id", suffixes=("_exp", "_got"))
        for c in ["current_price"] + IND_COLS:
            ok = np.isclose(both[f"{c}_got"].to_numpy(float), both[f"{c}_exp"].to_numpy(float),
                            rtol=1e-12, atol=1e-12, equal_nan=True)
            bad_ticks |= set(both["tick_id"][~ok])
        alert_keys = ["company_id", "created_at", "alert_type"]
        got_a = spark.read.parquet(f"{self.out}/alerts").toPandas()
        exp_a = alerts_from_analytics(twin).toPandas()
        got_a = got_a.sort_values(alert_keys).reset_index(drop=True)
        exp_a = exp_a.sort_values(alert_keys).reset_index(drop=True)
        same = (
            len(got_a) == len(exp_a)
            and got_a[alert_keys + ["severity", "alert_message"]].equals(
                exp_a[alert_keys + ["severity", "alert_message"]])
            and np.allclose(got_a["indicator_value"], exp_a["indicator_value"],
                            rtol=1e-12, atol=1e-12)
        )
        if not same:
            ctx.failed_checks += 1
        # tick ids are arrival indexes, so a tick's file is found by its id
        bounds = np.cumsum(self.files.n_ticks)
        bad_files = {int(np.searchsorted(bounds, t, side="right")) for t in bad_ticks}
        timed = [op for op in ctx.ops if op.kind == "batch"]
        for k, op in enumerate(timed):
            op.failed = (self.first_timed_file + k) in bad_files
        ctx.failed_checks += len([f for f in bad_files if f < self.first_timed_file])

    def probe(self, ctx: Ctx) -> dict[str, float]:
        out: dict[str, float] = {}
        ps = self.progress
        for phase in ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
                      "latestOffset", "getBatch"):
            out[f"stream.{phase}_ms"] = median([float(p.durationMs.get(phase, 0)) for p in ps])
        last = ps[-1].stateOperators
        out["stream.state_rows"] = float(sum(s.numRowsTotal for s in last))
        out["stream.state_mb"] = sum(s.memoryUsedBytes for s in last) / 2**20
        # the grouped-state operator updates one state row per key present
        out["stream.keys_per_batch"] = median([
            float(s.numRowsUpdated) for p in ps for s in p.stateOperators
            if s.operatorName == "applyInPandasWithState"])
        out["stream.errors_count"] = float(sum(
            p.observedMetrics["tick_metrics"]["errors_count"] for p in ps))
        files, kb = _dir_usage([f"{self.out}/analytics", f"{self.out}/alerts"])
        out["sink.files_per_batch"] = (files - self.sink_before[0]) / len(ps)
        out["sink.kb_per_batch"] = (kb - self.sink_before[1]) / len(ps)
        out.update(self._indicator_replay())
        out.update(self._kafka_codec(ctx))
        return out

    def layers(self, ctx: Ctx, costs: list[Cost]) -> dict[str, float]:
        return {}

    def _indicator_replay(self) -> dict[str, float]:
        """Replay what the state handler hands ``indicator_frame`` per key
        and batch (buffered prices + new ticks), outside Spark; only the
        timed batches are clocked."""
        bounds = np.concatenate([[0], np.cumsum(self.files.n_ticks)])
        buffers: dict[str, list[float]] = {}
        total_s, calls, new_ticks = 0.0, 0, 0
        for i in range(self.files.delivered):
            part = self.frame.iloc[bounds[i]:bounds[i + 1]]
            for key, new in part.groupby("company_id", sort=False):
                prev = buffers.get(key, [])
                prior = pd.DataFrame({
                    "company_id": key, "tick_id": -1,
                    "trade_datetime": pd.Timestamp(0, tz="UTC"),
                    "current_price": prev, "volume": 0,
                })
                combined = pd.concat([prior, new], ignore_index=True) if prev else new
                t0 = time.perf_counter()
                indicator_frame(combined, TICK_SPEC)
                if i >= self.first_timed_file:
                    total_s += time.perf_counter() - t0
                    calls += 1
                    new_ticks += len(new)
                buffers[key] = (prev + new["current_price"].tolist())[-BUFFER_SIZE:]
        return {
            "indicators.ms_per_key": total_s * 1000 / max(calls, 1),
            "indicators.ms_per_ktick": total_s * 1e6 / max(new_ticks, 1),
        }

    def _kafka_codec(self, ctx: Ctx) -> dict[str, float]:
        """Wire codec over the same backlog.  The stream does not go through
        it: ``decode_kafka_ticks`` returns no ``tick_id`` (TICK_SCHEMA has
        none), which ``run_bounded_pipeline`` needs (see README.md)."""
        spark = ctx.spark
        ticks = spark.read.schema(TICK_SCHEMA).parquet(self.files.src_dir)
        n = ticks.count()
        enc = encode_ticks_to_kafka(ticks, key_col="company_id")
        _, enc_ms, _ = ctx.span("kafka.encode", _force, enc)
        wire = f"{ctx.work}/wire"
        enc.write.parquet(wire)
        dec = decode_kafka_ticks(spark.read.parquet(wire))
        _, dec_ms, _ = ctx.span("kafka.decode", _force, dec)
        nulls = dec.filter(
            F.col("company_id").isNull() | F.col("trade_datetime").isNull()
            | F.col("current_price").isNull()
        ).count()
        return {
            "kafka.encode_ms_per_ktick": enc_ms * 1000 / n,
            "kafka.decode_ms_per_ktick": dec_ms * 1000 / n,
            "kafka.null_rows": float(nulls),
        }


def _dir_usage(dirs: list[str]) -> tuple[int, float]:
    """(data files, KiB) under ``dirs``, markers and checksums excluded."""
    files, size = 0, 0
    for d in dirs:
        for root, _, names in os.walk(d):
            for n in names:
                if not n.startswith(("_", ".")):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
    return files, size / 1024


# --- dashboard reads --------------------------------------------------------

DASHBOARD = (
    "j1_tick_dashboard j2_analytics_dashboard j3_alert_feed "
    "j4_prediction_dashboard a13_ohlc_candles w11_vwap w_all_indicators "
    "t6_alerts a4_daily_summary w1_latest_per_day o5_price_history p9_dedup_ticks"
).split()


class DashboardReads:
    """The reference dashboard's panels and analytics reads in a seeded
    order, each a query whose rows are fetched to the client (as a panel
    does); whole passes only, so every run times the same query mix."""

    # Two passes at least: a run whose first pass outlasts the seconds
    # would otherwise time one still-warming pass and read ~30 % more CPU
    # per op than a two-pass run.
    MIN_STEPS = 2

    def make_inputs(self, ctx: Ctx) -> None:
        self.sf = f"{ctx.work}/sf"
        data.write_tables(self.sf, ctx.seed, n_events=2_000, n_vectors=10)
        self.rng = random.Random(ctx.seed)
        self.passes = 0
        self.rows: dict[str, pd.DataFrame] = {}

    def _read(self, ctx: Ctx, q: str, timed: bool) -> None:
        self.rows[q], ms, span = ctx.span(
            f"plans.{q}", lambda: QUERIES[q](ctx.spark, self.sf).toPandas())
        ctx.release()
        if timed:
            ctx.ops.append(Op("read", q, ms, span))

    def setup(self, ctx: Ctx) -> None:
        """Warm-up pass, read the way the timed passes read."""
        for q in DASHBOARD:
            self._read(ctx, q, timed=False)

    def step(self, ctx: Ctx) -> None:
        order = list(DASHBOARD)
        self.rng.shuffle(order)
        for q in order:
            self._read(ctx, q, timed=True)
        self.passes += 1

    def check(self, ctx: Ctx) -> None:
        """Each query's last fetched rows equal its DuckDB oracle on the same
        parquet; a wrong query marks every timed read of it as failed."""
        import duckdb

        con = duckdb.connect()
        for t in ("events", "customer"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
        for q in DASHBOARD:
            if not compare_frames(q, self.rows[q], con.execute(ORACLES[q]).fetchdf()).ok:
                for op in ctx.ops:
                    op.failed |= op.label == q
        con.close()

    def probe(self, ctx: Ctx) -> dict[str, float]:
        # schema-memo hit path: the sf tables never change
        self.loads = []
        for _ in range(5):
            for fn, args in ((load_table, ("events",)), (load_table, ("customer",)),
                             (ticks_from_events, ())):
                self.loads.append(ctx.span("readers.load", fn, ctx.spark, self.sf, *args))
        # No listed workload times the IVF-PQ store (README.md, "Dropped
        # workloads"), so the traced run measures operators.similarity here:
        # index_upkeep's set-up (fit, init, base ingest, one round, purge)
        # and its correctness checks, sharing this run's spans.
        self.index = IndexUpkeep()
        self.ictx = Ctx(ctx.spark, ctx.seed, f"{ctx.work}/index", spans=ctx.spans)
        self.index.make_inputs(self.ictx)
        self.index.setup(self.ictx)
        self.index.check(self.ictx)
        ctx.failed_checks += self.ictx.failed_checks
        return _series_kernel(ctx.spark, self.sf)

    def layers(self, ctx: Ctx, costs: list[Cost]) -> dict[str, float]:
        out = self.index.layers(self.ictx, costs)
        out.update(_readers(self.loads, costs))
        reads = [op for op in ctx.ops if op.kind == "read"]
        for q in DASHBOARD:
            mine = [op for op in reads if op.label == q]
            out[f"plans.{q}.ms"] = median([op.ms for op in mine])
            out[f"plans.{q}.jobs"] = _per_call(costs, [op.span for op in mine])["jobs"]
        per_pass = _per_call(costs, [op.span for op in reads])
        for k in ("tasks", "exec_cpu_ms", "shuffle_kb"):
            out[f"plans.{k}"] = per_pass[k] * len(reads) / max(self.passes, 1)
        return out


def _readers(loads: list[tuple], costs: list[Cost]) -> dict[str, float]:
    """``loads`` are ``Ctx.span`` results around store reads."""
    return {"readers.load_ms": median([ms for _, ms, _ in loads]),
            "readers.jobs_per_load": _per_call(costs, [s for _, _, s in loads])["jobs"]}


def _series_kernel(spark, sf: str) -> dict[str, float]:
    """``indicator_frame`` once per symbol over the whole events series
    (the batch path of w_all_indicators and t6_alerts), outside Spark."""
    pdf = ticks_from_events(spark, sf).toPandas()
    pdf["company_id"] = pdf["company_id"].astype(str)
    t0 = time.perf_counter()
    groups = 0
    for _, g in pdf.groupby("company_id", sort=False):
        indicator_frame(g, TICK_SPEC)
        groups += 1
    s = time.perf_counter() - t0
    return {"indicators.ms_per_key": s * 1000 / groups,
            "indicators.ms_per_ktick": s * 1e6 / len(pdf)}


# --- IVF-PQ store upkeep ----------------------------------------------------


class IndexUpkeep:
    """Writes beside reads on one persisted IVF-PQ store.  A round is
    ingest → search → delete → search, and every second round ends in a
    purge; steps run round pairs so each run times the same call mix."""

    MIN_STEPS = 1
    N_VECTORS, BASE, SLICE, DELETE, QUERIES, K = 2000, 1000, 40, 20, 20, 10

    def make_inputs(self, ctx: Ctx) -> None:
        self.sf = f"{ctx.work}/sf"
        data.write_tables(self.sf, ctx.seed, n_events=100, n_vectors=self.N_VECTORS)
        self.rng = random.Random(ctx.seed)
        ids = list(range(self.N_VECTORS))
        self.rng.shuffle(ids)
        self.fresh = ids[self.BASE:]      # never ingested yet, in ingest order
        self.base = ids[:self.BASE]
        self.path = f"{ctx.work}/ivfpq"
        self.live: set[int] = set()
        self.deleted: set[int] = set()
        self.loads: list[tuple] = []

    def setup(self, ctx: Ctx) -> None:
        """Fit both quantizers, persist them, ingest the base set and run
        one untimed round and a purge."""
        spark = ctx.spark
        self.emb = load_table(spark, self.sf, "embeddings")
        (coarse, fine), _, _ = ctx.span("similarity.fit", sim.ivfpq_fit, self.emb)
        ctx.span("similarity.init", sim.init_ivfpq_index, spark, coarse, fine, self.path)
        rows = self.emb.filter(F.col("vec_id").isin(self.base[:self.QUERIES])).toPandas()
        rng = np.random.default_rng([ctx.seed, 3])
        qv = [np.asarray(v, np.float32) + rng.normal(0, 0.02, data.DIM).astype(np.float32)
              for v in rows["embedding"]]
        self.queries = spark.createDataFrame(
            pd.DataFrame({"query_id": np.arange(len(qv), dtype=np.int64),
                          "embedding": [v.tolist() for v in qv]}),
            "query_id long, embedding array<float>")
        self._ingest(ctx, self.base, timed=False)
        self._round(ctx, timed=False)
        self._purge(ctx, timed=False)

    def _call(self, ctx: Ctx, kind: str, timed: bool, fn, *args):
        out, ms, span = ctx.span(f"similarity.{kind}", fn, *args)
        ctx.release()
        op = Op("read" if kind == "search" else "write", kind, ms, span)
        if timed:
            ctx.ops.append(op)
        return out, op

    def _ingest(self, ctx: Ctx, ids: list[int], timed: bool) -> None:
        batch = self.emb.filter(F.col("vec_id").isin(ids))
        res, op = self._call(ctx, "ingest", timed, sim.update_ivfpq_index,
                             ctx.spark, batch, self.path)
        self.live |= set(ids)
        if res["n_new"] != len(ids):
            op.failed = True
            ctx.failed_checks += not timed

    def _search(self, ctx: Ctx, timed: bool) -> pd.DataFrame:
        res, op = self._call(ctx, "search", timed, lambda: sim.search_ivfpq_index(
            ctx.spark, self.path, self.queries, self.emb, k=self.K).toPandas())
        if set(res["vec_id"]) & self.deleted or len(res) != self.QUERIES * self.K:
            op.failed = True
            ctx.failed_checks += not timed
        return res

    def _delete(self, ctx: Ctx, ids: list[int], timed: bool) -> dict:
        frame = ctx.spark.createDataFrame([(i,) for i in ids], "vec_id long")
        res, _ = self._call(ctx, "delete", timed, sim.delete_from_ivfpq_index,
                            ctx.spark, frame, self.path)
        self.live -= set(ids)
        self.deleted |= set(ids)
        return res

    def _purge(self, ctx: Ctx, timed: bool) -> None:
        self._call(ctx, "purge", timed, sim.purge_ivfpq_tombstones, ctx.spark, self.path)

    def _round(self, ctx: Ctx, timed: bool) -> None:
        if len(self.fresh) < self.SLICE:
            raise RuntimeError("no fresh vectors left; lower SLICE or raise N_VECTORS")
        self._ingest(ctx, self.fresh[:self.SLICE], timed)
        self.fresh = self.fresh[self.SLICE:]
        self._search(ctx, timed)
        self._delete(ctx, self.rng.sample(sorted(self.live), self.DELETE), timed)
        self._search(ctx, timed)

    def step(self, ctx: Ctx) -> None:
        self._round(ctx, timed=True)
        self._round(ctx, timed=True)
        self._purge(ctx, timed=True)

    def check(self, ctx: Ctx) -> None:
        """Search after a purge equals search before it; a replayed delete
        appends nothing.  (No tombstoned id is served: every search.)"""
        ids = self.rng.sample(sorted(self.live), self.DELETE)
        self._delete(ctx, ids, timed=False)
        before = self._search(ctx, timed=False)
        self._purge(ctx, timed=False)
        after = self._search(ctx, timed=False)
        cols = ["query_id", "rk", "vec_id", "l2_dist"]
        a = before[cols].sort_values(cols[:2]).reset_index(drop=True)
        b = after[cols].sort_values(cols[:2]).reset_index(drop=True)
        ctx.failed_checks += not a.equals(b)
        ctx.failed_checks += self._delete(ctx, ids, timed=False)["n_new_tombstones"] != 0

    def probe(self, ctx: Ctx) -> dict[str, float]:
        # schema-memo miss path: each purge rewrites list partitions, so
        # the next store read re-infers the schema
        for _ in range(3):
            self._delete(ctx, self.rng.sample(sorted(self.live), 5), timed=False)
            self._purge(ctx, timed=False)
            self.loads.append(ctx.span("readers.load", read_parquet_if_exists,
                                       ctx.spark, f"{self.path}/index"))
        return {}

    def layers(self, ctx: Ctx, costs: list[Cost]) -> dict[str, float]:
        """Per call kind, over every call the run made (set-up, timed and
        checks): the median of a few calls is robust to the first, cold one."""
        out = _readers(self.loads, costs)
        for kind in ("init", "ingest", "search", "delete", "purge"):
            mine = [i for i, (name, _, _) in enumerate(ctx.spans)
                    if name == f"similarity.{kind}"]
            out[f"similarity.{kind}.ms"] = median([ctx.spans[i][2] - ctx.spans[i][1]
                                                   for i in mine])
            for k, v in _per_call(costs, mine).items():
                out[f"similarity.{kind}.{k}"] = v
        return out


# BENCHMARK.json lists tick_stream_wide and dashboard_reads; the other two
# do not fit the benchmark's time budget (README.md, "Dropped workloads").
# chunk=6: one stream call outlasts run_seconds, so every run times the
# same number of batches.
WORKLOADS = {
    # every batch touches every key: per-key cost of the stateful step
    "tick_stream_wide": lambda: TickStream(n_symbols=100, ticks_per_file=1000, prefill=0,
                                           warm_files=1, chunk=6, n_files=60),
    # 17 symbols whose 1000-price buffers are full before timing starts:
    # per-tick cost and the state-truncation path
    "tick_stream_deep": lambda: TickStream(n_symbols=17, ticks_per_file=1003, prefill=1200,
                                           warm_files=1, chunk=6, n_files=60),
    "dashboard_reads": DashboardReads,
    "index_upkeep": IndexUpkeep,
}
