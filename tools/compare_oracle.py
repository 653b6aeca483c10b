"""Local stand-in for the driver's correctness gate: run each queries()
entry in Spark and its oracle_sql() in DuckDB at sf0.01, compare row
count, column names, and order-insensitive values."""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from entity_deduplication_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype) == "object":
            # decimals and similar -> canonical string
            df[c] = df[c].map(lambda v: None if v is None else str(v))
        elif "float" in str(df[c].dtype):
            pass  # exact float comparison — both sides must agree bitwise
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype(str)
        elif "int" in str(df[c].dtype).lower():
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None):
    spark = get_spark(app_name="oracle-compare", cores=8, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = sorted(set(only or ()) - set(qs))
    for name in failures:
        print(f"FAIL  {name}: no such query")
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            ours = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(ours)} rows  {time.time()-t0:.1f}s")
            continue
        try:
            ref = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        a, b = normalize(ours), normalize(ref)
        status = "ok"
        if list(a.columns) != list(b.columns):
            status = f"SCHEMA MISMATCH {list(a.columns)} vs {list(b.columns)}"
        elif len(a) != len(b):
            status = f"ROWCOUNT {len(a)} vs {len(b)}"
        elif not a.equals(b):
            diff = (a != b) & ~(a.isna() & b.isna())
            ncell = int(diff.to_numpy().sum())
            status = f"VALUES differ in {ncell} cells"
            mism = diff.any(axis=1)
            print("  ours:\n", a[mism].head(3))
            print("  ref :\n", b[mism].head(3))
        if status != "ok":
            failures.append(name)
            print(f"FAIL  {name}: {status}")
        else:
            print(f"PASS  {name}: {len(a)} rows  {time.time()-t0:.1f}s")
    print("\n%d failures: %s" % (len(failures), failures))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    if args and os.path.isdir(args[0]):
        sys.exit(main(args[0], only=args[1:] or None))
    sys.exit(main(only=args or None))
