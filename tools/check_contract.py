"""Local replica of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB at a given sf_dir, compare
row count, schema (column names), and order-insensitive values.

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            # lists → tuples for sortability
            if df[c].map(lambda x: isinstance(x, (list, np.ndarray))).any():
                df[c] = df[c].map(lambda x: tuple(x) if isinstance(x, (list, np.ndarray)) else x)
        if str(df[c].dtype).startswith("datetime64[us"):
            df[c] = df[c].astype("datetime64[ns]")
        if str(df[c].dtype) in ("int32", "int64", "Int32", "Int64", "uint32"):
            df[c] = df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64")
        if str(df[c].dtype) in ("float32",):
            df[c] = df[c].astype("float64")
        if str(df[c].dtype) == "bool":
            df[c] = df[c].astype("int64")
        if str(df[c].dtype) == "object":
            try:
                if df[c].map(lambda x: isinstance(x, bool)).all():
                    df[c] = df[c].astype("int64")
            except Exception:
                pass
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def _bitwise_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Bitwise value equality (floats compared by their IEEE bytes, so
    -0.0 != +0.0 and NaN == NaN), matching the driver's value-hash."""
    if a.shape != b.shape:
        return False
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) and pd.api.types.is_float_dtype(y):
            if x.astype("float64").to_numpy().tobytes() != y.astype("float64").to_numpy().tobytes():
                return False
        else:
            eq = (x == y) | (x.isna() & y.isna())
            if not eq.all():
                return False
    return True


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from htm_streamer_spark.session import get_spark

    spark = get_spark(app_name="contract-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir).toPandas()
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"{name:28s} rows-only: {len(sdf)} rows  ({t_spark:.1f}s)")
            continue
        odf = con.sql(oracles[name]).df()
        status = "OK"
        detail = ""
        if len(sdf) != len(odf):
            status = "ROWS-MISMATCH"
            detail = f"spark={len(sdf)} duck={len(odf)}"
        elif sorted(sdf.columns) != sorted(odf.columns):
            status = "SCHEMA-MISMATCH"
            detail = f"spark={sorted(sdf.columns)} duck={sorted(odf.columns)}"
        else:
            a, b = normalize(sdf), normalize(odf)
            # Driver-style bitwise check first: value-hash distinguishes
            # -0.0 from +0.0 and any ULP-level drift atol hides.
            if not _bitwise_equal(a, b):
                status = "HASH-MISMATCH"
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)
            except AssertionError as ex:
                status = "VALUE-MISMATCH"
                diff_cols = [
                    c for c in a.columns
                    if not (
                        (a[c].isna() & b[c].isna())
                        | (a[c] == b[c])
                        | (
                            pd.api.types.is_numeric_dtype(a[c])
                            and ((a[c] - b[c]).abs() < 1e-9)
                        )
                    ).all()
                ]
                detail = f"cols={diff_cols} | {str(ex).splitlines()[-1][:120]}"
        print(f"{name:28s} {status:16s} rows={len(sdf)} ({t_spark:.1f}s) {detail}")
        if status != "OK":
            failures.append(name)
    if failures:
        print("FAILURES:", failures)
        return 1
    print("ALL OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
