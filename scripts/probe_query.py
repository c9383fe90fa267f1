"""Isolated per-query timing probe (optimization guide §1.4).

Times declared queries with the noop sink in ONE fresh session,
releasing operator-attached persists after every sample so each sample
computes from the parquet inputs. Prints per-query sample lists +
medians as JSON.

Usage: python scripts/probe_query.py <sf_dir> <query> [query ...]
       [--runs N] [--explain]
"""

from __future__ import annotations

import json
import statistics
import sys
import time

sys.path.insert(0, ".")

from firepit_spark.functions import release  # noqa: E402


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 5
    for a in sys.argv[1:]:
        if a.startswith("--runs="):
            runs = int(a.split("=", 1)[1])
    do_explain = "--explain" in sys.argv
    sf_dir, names = args[0], args[1:]

    import os

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    spark = (
        SparkSession.builder.appName("probe")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        # mirror build_spark (bench.py's session): cached plans coalesce
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    out = {}
    for name in names:
        fn = qs[name]
        samples = []
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"{name} sample {i}")
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.monotonic() - t0, 3))
            release()
        out[name] = {"samples": samples, "median": statistics.median(samples)}
        if do_explain:
            df = fn(spark, sf_dir)
            print(f"=== {name} executed plan ===", file=sys.stderr)
            df.write.format("noop").mode("overwrite").save()
            print(
                df._jdf.queryExecution().executedPlan().toString()[:20000],
                file=sys.stderr,
            )
            release()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
