"""Local replica of the driver's correctness gate: run each registered
Spark query and its DuckDB oracle side by side, compare row count, column
names and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        dt = str(df[c].dtype)
        if "float" in dt:
            df[c] = df[c].round(6).astype("float64")
            df[c] = df[c].map(lambda v: None if pd.isna(v) else v).astype(str)
        elif "int" in dt:
            df[c] = df[c].astype("int64")
        elif dt == "bool":
            df[c] = df[c].astype("int64")
        else:
            df[c] = df[c].map(lambda v: None if pd.isna(v) else str(v)).astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
        __file__))))
    import __spark_entry__ as entrymod
    from stanza_spark.session import get_spark

    spark = get_spark("check-oracles", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if only:
        # allow naming rotated (pytest-parity) gates for quick iteration
        queries = {**queries, **entrymod.parity_queries()}
        oracles = {**oracles, **entrymod.parity_oracle_sql()}
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"  {name:24s} rows={len(sdf):6d}  (no oracle — rows-only) "
                  f"[{time.time()-t0:.1f}s]")
            if len(sdf) == 0:
                failures.append((name, "0 rows"))
            continue
        odf = con.execute(oracles[name]).fetchdf()
        a, b = normalize(sdf), normalize(odf)
        status = "OK"
        if list(a.columns) != list(b.columns):
            status = f"SCHEMA {list(a.columns)} vs {list(b.columns)}"
        elif len(a) != len(b):
            status = f"ROWS {len(a)} vs {len(b)}"
        elif not a.equals(b):
            neq = (a != b).any(axis=1)
            status = "VALUES"
            print(a[neq].head(4))
            print(b[neq].head(4))
        print(f"  {name:24s} rows={len(a):6d}  {status} [{time.time()-t0:.1f}s]")
        if status != "OK":
            failures.append((name, status))

    print()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all gates OK")


if __name__ == "__main__":
    main()
