"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, sorted column
names, and an order-insensitive exact value comparison (full-precision
repr, so any float drift that would break the driver's value-hash shows up
here first).

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb

sys.path.insert(0, ".")

from firepit_spark.functions import release  # noqa: E402

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def canon_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_cell(r[i]) for i in order) for r in rows]
    return sorted(out)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    # Deliberately a VANILLA session (not build_spark): the driver's harness
    # supplies its own SparkSession, so queries() must be self-contained.
    # Round-1 lesson: build_spark here masked a nanosAsLong dependency that
    # failed 7 queries under the driver (CORRECTNESS_r01.json).
    import os

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    spark = (
        SparkSession.builder.appName("correctness")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata is a single file; Spark-written tables (e.g. the
        # make_scale_data.py sf1 point) are directories of part files
        path = f"{sf_dir}/{t}.parquet"
        pattern = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{pattern}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = [c.lower() for c in sdf.columns]
            srows = sdf.collect()
            release()  # free pinned operator caches before the next slot
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0].lower() for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
        if not problems:
            a = canon_rows(scols, [tuple(r) for r in srows])
            b = canon_rows(ocols, orows)
            if a != b:
                ndiff = sum(1 for x, y in zip(a, b) if x != y)
                problems.append(f"values differ ({ndiff} of {len(a)} rows)")
                for x, y in list(zip(a, b))[:2000]:
                    if x != y:
                        problems.append(f"  spark : {x}")
                        problems.append(f"  oracle: {y}")
                        break
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems[:4]))
            failures.append(name)
        else:
            print(f"OK   {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all green")


if __name__ == "__main__":
    main()
