"""Dump ``.explain("formatted")`` for named queries (default: all) into
plans/<tag>/<query>.txt, one directory per run.

Usage: python tools/dump_plans.py <tag> [query ...]

Queries whose plan depends on side-effectful fixture state (index builds
under /tmp) still produce a meaningful top-level plan: the returned
DataFrame's formatted physical plan AFTER the fixture pipeline ran.
"""

from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_time_stock_market_data_pipeline_spark.plans import QUERIES
from real_time_stock_market_data_pipeline_spark.session import get_spark


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:] or list(QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    for name in names:
        path = os.path.join(out_dir, f"{name}.txt")
        try:
            df = QUERIES[name](spark, sf_dir)
            text = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception:
            text = traceback.format_exc()
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path}", flush=True)
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()


if __name__ == "__main__":
    main()
