"""Local replica of the driver's correctness gate: run each Spark plan and
its DuckDB oracle side-by-side and compare row count, column names, and
order-insensitive values.  Stricter than a hash: on mismatch it reports the
first differing cells so regressions are debuggable.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..sources.readers import TABLES


@dataclass
class ParityResult:
    name: str
    ok: bool
    spark_rows: int = 0
    oracle_rows: int = 0
    errors: list[str] = field(default_factory=list)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, coerce cross-engine dtypes, sort rows."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            pdf[c] = s.dt.tz_localize(None) if getattr(s.dt, "tz", None) else s
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif s.dtype == object:
            # dates / Decimals / lists arrive as objects; stringify stably
            pdf[c] = s.map(lambda v: None if v is None else str(v))
        elif pd.api.types.is_float_dtype(s):
            pdf[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            pdf[c] = s.astype("int64")
    sort_cols = list(pdf.columns)
    pdf = pdf.sort_values(sort_cols, kind="mergesort", na_position="last")
    return pdf.reset_index(drop=True)


def compare_frames(name: str, sp: pd.DataFrame, du: pd.DataFrame) -> ParityResult:
    res = ParityResult(name=name, ok=True, spark_rows=len(sp), oracle_rows=len(du))
    if sorted(sp.columns) != sorted(du.columns):
        res.ok = False
        res.errors.append(f"columns differ: spark={sorted(sp.columns)} duck={sorted(du.columns)}")
        return res
    if len(sp) != len(du):
        res.ok = False
        res.errors.append(f"row counts differ: spark={len(sp)} duck={len(du)}")
        return res
    a, b = _normalize(sp), _normalize(du)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) and pd.api.types.is_float_dtype(bv):
            ok = np.isclose(av.to_numpy(), bv.to_numpy(), rtol=0, atol=0, equal_nan=True)
            # exact-compare: driver hashes values, so demand bitwise equality
            bad = ~(ok | (av.isna() & bv.isna()).to_numpy())
        else:
            bad = ~((av == bv) | (av.isna() & bv.isna())).to_numpy()
        if bad.any():
            idx = int(np.argmax(bad))
            n_bad = int(bad.sum())
            res.ok = False
            res.errors.append(
                f"column {c!r}: {n_bad} mismatches; first at row {idx}: "
                f"spark={av.iloc[idx]!r} duck={bv.iloc[idx]!r}"
            )
    return res


def check_query(
    name: str,
    spark_df: DataFrame,
    oracle: str,
    con: duckdb.DuckDBPyConnection,
) -> ParityResult:
    return compare_frames(
        name, spark_df.toPandas(), con.execute(oracle).fetchdf()
    )


def run_parity(
    spark: SparkSession,
    sf_dir: str,
    only: list[str] | None = None,
) -> list[ParityResult]:
    from .oracles import ORACLES
    from .queries import QUERIES

    con = duck_connection(sf_dir)
    results = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            results.append(check_query(name, fn(spark, sf_dir), ORACLES[name], con))
        except Exception as e:  # pragma: no cover - debugging aid
            results.append(ParityResult(name=name, ok=False, errors=[f"EXCEPTION: {e}"]))
    return results


def main() -> int:
    import argparse

    from ..session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--only", nargs="*", default=None)
    args = ap.parse_args()
    spark = get_spark("parity_check")
    results = run_parity(spark, args.sf_dir, args.only)
    n_bad = 0
    for r in results:
        status = "OK  " if r.ok else "FAIL"
        print(f"{status} {r.name:42s} spark={r.spark_rows} oracle={r.oracle_rows}")
        for e in r.errors:
            print(f"      {e}")
            n_bad += 1
    print(f"{sum(r.ok for r in results)}/{len(results)} queries match")
    return 0 if all(r.ok for r in results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
