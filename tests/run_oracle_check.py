"""Self-check harness mimicking the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB at sf0.01, compares row count, column names, and
order-insensitive values (columns sorted by name, rows sorted,
floats rounded to 9 dp before hashing).

Usage: python tests/run_oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
import georip_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
        elif np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
        return problems
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if len(a) == len(b):
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=1e-9, rtol=0)
        except AssertionError as e:
            problems.append("values differ: " + str(e).split("\n")[0])
            # show a diff sample
            neq = (a != b) & ~(a.isna() & b.isna())
            if neq.any().any():
                rows = neq.any(axis=1)
                problems.append(
                    "sample spark:\n" + a[rows].head(3).to_string()
                    + "\nsample duck:\n" + b[rows].head(3).to_string()
                )
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = georip_spark.get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failed.append(name)
            continue
        t1 = time.time()
        if name not in osql:
            print(f"SKIP  {name}: no oracle (rows={len(spark_pdf)}, {t1-t0:.1f}s)")
            continue
        try:
            duck_pdf = con.execute(osql[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failed.append(name)
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            print(f"FAIL  {name} ({t1-t0:.1f}s):")
            for p in problems:
                print("      " + p.replace("\n", "\n      "))
            failed.append(name)
        else:
            print(f"OK    {name}: rows={len(spark_pdf)} ({t1-t0:.1f}s)")
    print()
    if failed:
        print("FAILED:", ", ".join(failed))
        sys.exit(1)
    print("ALL QUERIES MATCH ORACLE")


if __name__ == "__main__":
    main()
