"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at the
same sf, compare row count + column names + order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from autoextract.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(bool(v)).lower()
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(norm_cell(r[i]) for i in order) for r in rows
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(parallelism=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:200]}")
            failures += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:200]}")
            failures += 1
            continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns {sorted(scols)} vs {sorted(dcols)}")
            failures += 1
            continue
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(drows)}")
            failures += 1
            continue
        a = norm_rows(scols, [[r[c] for c in scols] for r in srows])
        b = norm_rows(dcols, drows)
        if a != b:
            bad = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
            print(f"FAIL {name}: value mismatch at sorted-row {bad}:")
            print("  spark :", a[bad])
            print("  duckdb:", b[bad])
            failures += 1
            continue
        print(f"ok   {name}: {len(srows)} rows match")
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
