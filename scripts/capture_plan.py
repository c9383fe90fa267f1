"""Capture ``explain("formatted")`` for declared queries into files.

Usage: python scripts/capture_plan.py <sf_dir> <out_dir> <query> [query ...]

Writes ``<out_dir>/<query>.txt`` with the formatted physical plan (the
pre-execution AQE plan — the same artifact the r13 ``plans/`` captures
hold, so before/after diffs stay comparable).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")


def main():
    sf_dir, out_dir, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    spark = (
        SparkSession.builder.appName("capture_plan")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    from firepit_spark.functions import release

    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(plan)
        release()
        print(f"wrote {out_dir}/{name}.txt", file=sys.stderr)


if __name__ == "__main__":
    main()
