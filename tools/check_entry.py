"""Local replica of the driver's correctness check: run each
__spark_entry__.queries() entry on Spark and its oracle_sql() on DuckDB at
sf0.01, compare row counts, column names, and order-insensitive values.

Usage: python tools/check_entry.py [sf_dir] [only_query_substr]
"""

from __future__ import annotations

import os
import sys
import time

# this checkout's root, so a copy of the repo checks its own code
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as entrymod


def norm(v):
    if isinstance(v, float):
        return round(v, 6)
    return v


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2] if len(sys.argv) > 2 else ""
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in entrymod.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    print("== entry() smoke ==")
    edf = entrymod.entry(spark)
    rows = edf.collect()
    print(f"entry rows={len(rows)} cols={edf.columns[:6]}...")
    assert len(rows) > 0

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and only not in name:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(norm(v) for v in r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error {e}")
            failed.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ROWS {name}: {len(srows)} rows (no oracle) [{dt:.1f}s]")
            continue
        try:
            ddf = con.sql(oracles[name])
            dcols = [c.lower() for c in ddf.columns]
            drows = [tuple(norm(v) for v in r) for r in ddf.fetchall()]
        except Exception as e:
            print(f"FAIL {name}: duckdb error {e}")
            failed.append(name)
            continue
        ok_cols = [c.lower() for c in scols] == dcols
        ok_rows = sorted(map(str, srows)) == sorted(map(str, drows))
        status = "OK  " if (ok_cols and ok_rows) else "FAIL"
        print(f"{status} {name}: spark={len(srows)} duck={len(drows)} cols={'=' if ok_cols else f'{scols} vs {dcols}'} [{dt:.1f}s]")
        if not (ok_cols and ok_rows):
            failed.append(name)
            print(f"     spark: {sorted(map(str, srows))[:4]}")
            print(f"     duck : {sorted(map(str, drows))[:4]}")
    print(f"\n{len(failed)} failures: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
