"""Local replica of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at sf0.01, compare row counts + sorted values.

Usage: python tools/check_parity.py [name ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Spark's Python workers import the package from their working directory
os.chdir(REPO)

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> int:
    import __spark_entry__ as entry

    from ocrd_tesserocr_spark.session import get_spark

    names = sys.argv[1:]
    qs = entry.queries()
    oracles = entry.oracle_sql()
    spark = get_spark("local[8]", 8, app_name="parity")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    failures = []
    for name, fn in qs.items():
        if names and name not in names:
            continue
        sdf = fn(spark, SF_DIR)
        spdf = sdf.toPandas()
        if name not in oracles:
            print(f"{name}: rows-only ({len(spdf)} rows)")
            if len(spdf) == 0 and name != "_allow_empty":
                print(f"  WARNING: empty result")
            continue
        ddf = con.sql(oracles[name]).df()
        a, b = normalize(spdf), normalize(ddf)
        status = "OK"
        if list(a.columns) != list(b.columns):
            status = f"SCHEMA MISMATCH spark={list(a.columns)} duck={list(b.columns)}"
        elif [d.kind for d in a.dtypes] != [d.kind for d in b.dtypes]:
            # the driver hashes byte representations: an int64 Spark column vs
            # a float64/object DuckDB column is a hash mismatch even at exact
            # value parity (e.g. HUGEINT count_if without ::BIGINT)
            status = (
                "DTYPE MISMATCH spark="
                + str({c: str(d) for c, d in zip(a.columns, a.dtypes)})
                + " duck="
                + str({c: str(d) for c, d in zip(b.columns, b.dtypes)})
            )
        elif len(a) != len(b):
            status = f"ROWCOUNT MISMATCH spark={len(a)} duck={len(b)}"
        else:
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)
            except AssertionError as e:
                status = "VALUE MISMATCH: " + str(e).split("\n")[0]
                # show a sample diff
                neq = (a != b) & ~(a.isna() & b.isna())
                rows = neq.any(axis=1)
                print(a[rows].head(3))
                print(b[rows].head(3))
        print(f"{name}: {status} ({len(spdf)} rows)")
        if status != "OK":
            failures.append(name)
    spark.stop()
    if failures:
        print("FAILED:", failures)
        return 1
    print("ALL OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
