"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() twin on DuckDB over the same parquet tables,
compare row count, sorted-column schema, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from rabbittclust_spark.session import get_spark
from rabbittclust_spark.sources.tables import TESTDATA_TABLES


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        problems.append(f"schema: spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}")
        return problems
    if len(spark_df) != len(oracle_df):
        problems.append(f"rowcount: spark={len(spark_df)} oracle={len(oracle_df)}")
    a, b = normalize(spark_df), normalize(oracle_df)
    if len(a) == len(b):
        for c in a.columns:
            if a[c].dtype.kind == "f" or b[c].dtype.kind == "f":
                import numpy as np
                ok = np.allclose(a[c].astype(float).fillna(-1e30),
                                 b[c].astype(float).fillna(-1e30), atol=1e-9, rtol=0)
            else:
                ok = a[c].equals(b[c])
            if not ok:
                mism = (a[c].astype(str) != b[c].astype(str))
                idx = mism[mism].index[:3].tolist()
                problems.append(f"values[{c}]: first diffs at rows {idx}: "
                                f"spark={a[c].iloc[idx].tolist() if idx else '?'} "
                                f"oracle={b[c].iloc[idx].tolist() if idx else '?'}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    spark = get_spark("oracle-check")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failed.append(name)
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(sdf)} rows)")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            failed.append(name)
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            continue
        problems = compare(name, sdf, odf)
        if problems:
            failed.append(name)
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"ok   {name}: {len(sdf)} rows match")
    spark.stop()
    print(f"\n{len(failed)} failures: {failed}" if failed else "\nall queries match")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
