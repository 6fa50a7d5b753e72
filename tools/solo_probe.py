"""Solo-warm probe for one or more named queries: 1 warmup + N timed runs,
persisted RDDs released between runs, no concurrent Spark work on the box.

Usage: python tools/solo_probe.py q1 q2 ...  [env: SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_CPUS, SPARK_GRAFT_PROBE_RUNS (default 3)]
Prints one JSON line per query: {"name", "warm", "timed": [...], "median",
"n_jobs": [...]}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_time_stock_market_data_pipeline_spark.plans import QUERIES
from real_time_stock_market_data_pipeline_spark.session import get_spark


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _release(spark) -> None:
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("SPARK_GRAFT_PROBE_RUNS", "3"))
    names = sys.argv[1:]
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = get_spark("solo_probe")
    _force(spark.range(1000).selectExpr("sum(id) as s"))
    import pandas as _pd

    _force(
        spark.range(64)
        .selectExpr("id % 8 as g", "id")
        .groupBy("g")
        .applyInPandas(lambda pdf: _pd.DataFrame({"n": [len(pdf)]}), schema="n long")
    )
    tracker = spark.sparkContext.statusTracker()
    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobGroup(f"probe:{name}:warmup", name)
        t0 = time.perf_counter()
        _force(fn(spark, sf_dir))
        warm = time.perf_counter() - t0
        _release(spark)
        timed = []
        n_jobs = []
        for i in range(n_runs):
            group = f"probe:{name}:{i}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.perf_counter()
            _force(fn(spark, sf_dir))
            timed.append(round(time.perf_counter() - t0, 3))
            # leg threads inherit this group (concurrency.overlap), so
            # the count covers every job the query submits
            n_jobs.append(len(tracker.getJobIdsForGroup(group)))
            _release(spark)
        print(
            json.dumps(
                {
                    "name": name,
                    "warm": round(warm, 3),
                    "timed": timed,
                    "median": round(statistics.median(timed), 3),
                    "n_jobs": n_jobs,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
