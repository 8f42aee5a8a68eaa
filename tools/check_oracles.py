#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every queries()
entry against its oracle_sql() in DuckDB at a given sf dir, compare
row count, schema width, and order-insensitive value frame."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return df


def main(sf_dir: str, only: list[str]):
    from gdal_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = E.queries()
    oracles = E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error {type(ex).__name__}: {str(ex)[:200]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok(rows-only) {name}: {len(sdf)} rows")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error {str(ex)[:200]}")
            failures += 1
            continue
        a, b = norm(sdf), norm(odf)
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
            failures += 1
            continue
        if len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
            failures += 1
            continue
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, rtol=0, atol=0)
            print(f"OK   {name}: {len(a)} rows")
        except AssertionError as ex:
            print(f"FAIL {name}: value mismatch: {str(ex)[:300]}")
            failures += 1
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    main(sf, sys.argv[2:])
