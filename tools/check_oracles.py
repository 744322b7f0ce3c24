"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() in DuckDB at a given SF, compare row count,
column names, and order-insensitive exact values.

Each entry also runs on an empty Spark cache and must leave it empty: an
entry whose result still holds a cached frame prints `PINNED <name>` and
counts as a failure (an operator that did not release a pin).

Usage: python tools/check_oracles.py [sf_dir] [query_name ...]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df):
    """Sort columns by name, canonicalize values, sort rows."""
    import math

    cols = sorted(df.columns)
    df = df[cols]
    rows = []
    for t in df.itertuples(index=False):
        row = []
        for v in t:
            if isinstance(v, float):
                if math.isnan(v):
                    row.append("NaN")
                else:
                    row.append(repr(v))
            else:
                row.append(repr(v))
        rows.append(tuple(row))
    rows.sort()
    return cols, rows


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entry.queries()
    os_ = entry.oracle_sql()
    cache = spark._jsparkSession.sharedState().cacheManager()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            continue
        if not cache.isEmpty():
            failures.append(name)
            print(f"PINNED {name}: a cached frame outlived the entry")
            continue
        sql = os_.get(name)
        if sql is None:
            print(f"SKIP {name}: no oracle (rows={len(sdf)})")
            continue
        try:
            odf = con.execute(sql).fetch_df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            continue
        scols, srows = normalize(sdf)
        ocols, orows = normalize(odf)
        dt = time.time() - t0
        if scols != ocols:
            failures.append(name)
            print(f"FAIL {name}: columns {scols} vs {ocols}")
        elif len(srows) != len(orows):
            failures.append(name)
            print(f"FAIL {name}: rows {len(srows)} vs {len(orows)}")
            _diff(srows, orows)
        elif srows != orows:
            failures.append(name)
            print(f"FAIL {name}: value mismatch ({len(srows)} rows)")
            _diff(srows, orows)
        else:
            print(f"OK   {name}: {len(srows)} rows, cols={scols} [{dt:.1f}s]")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


def _diff(srows, orows, k=3):
    ss, oo = set(srows), set(orows)
    for r in list(ss - oo)[:k]:
        print(f"  spark-only: {r}")
    for r in list(oo - ss)[:k]:
        print(f"  oracle-only: {r}")


if __name__ == "__main__":
    main()
