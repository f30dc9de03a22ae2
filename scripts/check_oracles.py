"""Mimic the driver's correctness gate: run every queries() entry on
Spark AND its oracle_sql() in DuckDB at the given sf dir; compare row
count, column names, and order-insensitive values."""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entry_mod
from arcane_stream_sqlserver_change_tracking_spark.session import build_session

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> None:
    spark = build_session(cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"create view {t} as select * from '{p}'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, SF_DIR)
            got = sdf.toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            continue
        dt = time.monotonic() - t0
        sql = oracles.get(name)
        if sql is None:
            print(f"rows-only  {name}: {len(got)} rows  ({dt:.1f}s)")
            continue
        try:
            want = con.execute(sql).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            continue
        if len(got) != len(want):
            failures.append(name)
            print(f"FAIL  {name}: rowcount {len(got)} vs {len(want)}")
            continue
        if sorted(map(str.lower, got.columns)) != sorted(map(str.lower, want.columns)):
            failures.append(name)
            print(f"FAIL  {name}: columns {sorted(got.columns)} vs {sorted(want.columns)}")
            continue
        want.columns = [c for c in want.columns]
        g, w = canon(got), canon(want)
        w.columns = g.columns
        try:
            pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=False, rtol=0, atol=0)
            print(f"OK    {name}: {len(got)} rows  ({dt:.1f}s)")
        except AssertionError as e:
            failures.append(name)
            print(f"FAIL  {name}: value mismatch: {str(e)[:400]}")
    print("\n==>", "ALL OK" if not failures else f"FAILURES: {failures}")
    spark.stop()


if __name__ == "__main__":
    main()
