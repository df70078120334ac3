"""Local mirror of the driver's correctness harness: run every
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf directory, compare row count + column names +
order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [only_query ...]

Runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the machine's core count).
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{sf}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR {e}"))
            print(f"FAIL {name}: spark error {str(e)[:200]}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            if len(srows) == 0:
                failures.append((name, "0 rows (rows-only check)"))
            continue
        try:
            res = con.sql(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR {e}"))
            print(f"FAIL {name}: oracle error {str(e)[:200]}")
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} != {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} != {len(orows)}")
        if not problems:
            a = normalize(srows, scols)
            b = normalize(orows, ocols)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {'; '.join(p[:300] for p in problems)}")
        else:
            print(f"ok   {name}: {len(srows)} rows match ({time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures")
    for n, p in failures:
        print(" -", n, ":", p[:300])
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
