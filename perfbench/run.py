"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tick_stream_wide --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository, on local[nproc].  The
last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``).  The lines before it are a human-readable
report.  See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "real_time_stock_market_data_pipeline_spark"

# Every end-to-end figure is printed; the untraced JSON carries the ones
# BENCHMARK.json gates (the others spread more than its largest bound in
# some sets of runs, README.md "End-to-end metrics").
END_TO_END = [("setup_s", "s"), ("op_ms_p50", "ms"), ("op_ms_tail", "ms"),
              ("ops_per_s", "1/s"), ("cpu_ms_per_op", "ms"), ("rss_mb", "MB")]


def _session(work: str, trace: bool):
    from real_time_stock_market_data_pipeline_spark.session import get_spark

    conf = {
        # a pinned heap (-Xms = -Xmx): RSS no longer tracks how far G1 grew
        # the package's 8 GiB default, but still shows the pages it touches
        "spark.driver.memory": "1g",
        # no hsperfdata or temp files outside the run's own directory
        "spark.driver.extraJavaOptions": (
            f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"),
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if trace:
        os.makedirs(f"{work}/eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cpus=len(os.sched_getaffinity(0)), extra_conf=conf)


def _prime(spark) -> None:
    """Warm the JVM, codegen and the Python worker pool with trivial plans
    (as bench.py does), so set-up time is the workload's own."""
    import pandas as pd

    spark.range(1000).selectExpr("sum(id) as s").write.format("noop").mode("overwrite").save()
    (spark.range(64).selectExpr("id % 8 as g", "id").groupBy("g")
     .applyInPandas(lambda pdf: pd.DataFrame({"n": [len(pdf)]}), schema="n long")
     .write.format("noop").mode("overwrite").save())


def _jvm_counters(spark) -> tuple[float, float]:
    """(total GC ms so far, heap used MB) of the JVM."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return float(gc_ms), mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until every child process is gone."""
    import proctree

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while len(proctree.tree(os.getpid())) > 1:
        if time.time() > deadline:
            for pid in proctree.tree(os.getpid())[1:]:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


def run(workload: str, seed: int, seconds: int, trace: bool, work: str,
        gated: dict[str, str], layer_units: dict[str, str]) -> dict:
    import ledger
    import proctree
    import stats
    from workloads import WORKLOADS, Ctx

    # inputs first: generating them is the benchmark's work, not set-up
    t0 = time.perf_counter()
    wl, ctx = WORKLOADS[workload](), Ctx(None, seed, work)
    wl.make_inputs(ctx)
    inputs_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = _session(work, trace)
    report = {"inputs_s": inputs_s, "jvm_launch_s": time.perf_counter() - t0}
    try:
        t0 = time.perf_counter()
        _prime(spark)
        report["prime_s"] = time.perf_counter() - t0
        ctx.spark = spark
        t0 = time.perf_counter()
        wl.setup(ctx)
        setup_s = time.perf_counter() - t0
        first_op = len(ctx.spans)

        me = os.getpid()
        cpu0, (gc0, _) = proctree.cpu_ms(me), _jvm_counters(spark)
        steal0 = proctree.steal_ms()
        rss = proctree.PeakRss(me)
        rss.start()
        heap = 0.0
        t0 = time.perf_counter()
        steps = 0
        while time.perf_counter() - t0 < seconds or steps < wl.MIN_STEPS:
            wl.step(ctx)
            steps += 1
            heap = max(heap, _jvm_counters(spark)[1])
        wall = time.perf_counter() - t0
        peak = rss.stop()
        cpu1, (gc1, _) = proctree.cpu_ms(me), _jvm_counters(spark)
        report["steal_ms_timed"] = proctree.steal_ms() - steal0
        timed_spans = len(ctx.spans)

        t0 = time.perf_counter()
        wl.check(ctx)
        report["check_s"] = time.perf_counter() - t0
        direct = wl.probe(ctx) if trace else {}
    finally:
        t0 = time.perf_counter()
        _shutdown(spark)
        report["shutdown_s"] = time.perf_counter() - t0

    ops = ctx.ops
    n = len(ops)
    ms = [op.ms for op in ops]
    tail = stats.tail(ms)
    cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
    e2e = {
        "setup_s": setup_s,
        "op_ms_p50": stats.median(ms),
        "op_ms_tail": tail[1] if tail else max(ms),
        "ops_per_s": n / wall,
        "cpu_ms_per_op": sum(cpu.values()) / n,
        "rss_mb": peak,
    }
    report.update({
        "ops": n,
        "op_ms": [round(x) for x in ms],
        "timed_s": wall,
        "tail": f"p{tail[0]} of n={n}" if tail else f"max of n={n} (<11 samples)",
        "cpu_ms_per_op_split": {k: v / n for k, v in cpu.items()},
    })
    for kind, name in (("batch", "batch_ms"), ("read", "read_ms"), ("write", "write_ms")):
        kms = [op.ms for op in ops if op.kind == kind]
        if kms:
            t = stats.tail(kms)
            report[f"{name}_p50"] = stats.median(kms)
            report[f"{name}_tail"] = (f"p{t[0]} of n={len(kms)}: {t[1]:.1f}" if t
                                      else f"n={len(kms)} < 11, no tail")
    if hasattr(wl, "ticks_timed"):
        report["ticks_per_s"] = wl.ticks_timed() / wall

    failed = min(n, sum(op.failed for op in ops) + ctx.failed_checks)
    if not trace:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in gated.items()}
    else:
        log = ledger.read_dir(f"{work}/eventlog")
        costs = ledger.attribute(log, ctx.spans)
        layer = {k: 0.0 for k in layer_units}
        layer.update(direct)
        layer.update(wl.layers(ctx, costs))
        timed_jobs = sum(c.jobs for c in costs[first_op:timed_spans])
        layer["spark.jobs_per_op"] = timed_jobs / n
        layer["spark.gc_ms"] = (gc1 - gc0) / n
        layer["spark.python_cpu_ms"] = cpu["workers"] / n
        layer["spark.heap_used_mb"] = heap
        for k, v in e2e.items():
            layer[f"traced.{k}"] = v
        unknown = set(layer) - set(layer_units)
        if unknown:
            raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
        metrics = {k: {"value": v, "unit": layer_units[k]} for k, v in layer.items()}
    return {"report": report, "e2e": e2e,
            "result": {"correct": failed == 0, "attempted": n, "failed": failed,
                       "metrics": metrics}}


def _listed_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(gated end-to-end, per-layer) metric names with units, from
    BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main(argv: list[str] | None = None) -> int:
    started = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    # the Python workers Spark forks import the package too
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"expected one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        # pyspark's gateway handshake and the workers' temp files go here too
        os.makedirs(f"{work}/tmp")
        os.environ["TMPDIR"] = tempfile.tempdir = f"{work}/tmp"
        # spark-submit's short-lived launcher JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
        out = run(args.workload, args.seed, args.seconds, bool(args.trace), work,
                  *_listed_metrics())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out["report"]["run_s"] = time.perf_counter() - started
    for k, v in out["report"].items():
        print(f"# {k}: {v:.4g}" if isinstance(v, float) else f"# {k}: {v}")
    units = dict(END_TO_END)
    for k, v in out["e2e"].items():
        print(f"{k} {v:.4f} {units[k]}" + ("  (traced)" if args.trace else ""))
    sys.stdout.write(json.dumps(out["result"]) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
