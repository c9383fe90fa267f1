"""Plan doctor (functions/doctor.py): scale red-flag detection."""

import pytest
from pyspark.sql import functions as F


def test_clean_plan_passes(spark):
    from firepit_spark.functions.doctor import assert_scaleworthy, plan_report

    a = spark.range(1000).withColumn("k", F.col("id") % 10)
    b = spark.createDataFrame([(i, f"n{i}") for i in range(10)], ["k", "name"])
    df = a.join(F.broadcast(b), "k").groupBy("name").count()
    rep = assert_scaleworthy(df)
    assert rep.broadcasts >= 1
    assert rep.python_row_udfs == 0 and rep.cartesians == 0
    # logical-plan mode works without physical planning
    assert plan_report(df, executed=False) is not None


def test_detects_row_python_udf(spark):
    from pyspark.sql.types import LongType

    from firepit_spark.functions.doctor import assert_scaleworthy, plan_report

    slow = F.udf(lambda x: x + 1, LongType())
    df = spark.range(100).select(slow("id").alias("y"))
    rep = plan_report(df)
    assert rep.python_row_udfs >= 1
    with pytest.raises(AssertionError, match="row-at-a-time"):
        assert_scaleworthy(df)


def test_detects_cartesian(spark):
    from firepit_spark.functions.doctor import assert_scaleworthy, plan_report

    a, b = spark.range(50), spark.range(50).withColumnRenamed("id", "id2")
    df = a.crossJoin(b)
    rep = plan_report(df)
    assert rep.cartesians + rep.bnl_joins >= 1
    if rep.cartesians:
        with pytest.raises(AssertionError, match="Cartesian"):
            assert_scaleworthy(df)


def test_repo_operators_are_scaleworthy(spark, tmp_path):
    """The engine's own hot-path operators must pass their own doctor."""
    from firepit_spark.functions import dedup as dd
    from firepit_spark.functions import similarity as sim
    from firepit_spark.functions.doctor import assert_scaleworthy

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 3}") for i in range(30)],
        "doc_id long, text string",
    )
    assert_scaleworthy(dd.ngram_jaccard_pairs(docs, k=2, threshold=0.1))
    vecs = spark.createDataFrame(
        [(i, [float(i % 5), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    assert_scaleworthy(
        sim.semantic_dedup(vecs, centroids=[[1.0, 0.0]], threshold=0.99)
    )
    # substring-level dedup: detection and surgery both stay clean
    spans = dd.duplicate_spans(docs, k=2, min_tokens=3)
    assert_scaleworthy(spans)
    assert_scaleworthy(dd.remove_duplicate_spans(docs, spans))
    # keep-first global span removal (r13)
    assert_scaleworthy(dd.dedup_spans(docs, n=3))


def test_all_gated_queries_scaleworthy(spark):
    """CI-grade sweep: every non-STIX driver-gate query plan must be free
    of the certain scale killers (row-at-a-time Python, non-broadcast
    cartesians). STIX entries (q54+) ingest a warehouse on invocation and
    are plan-audited separately in BASELINE.md."""
    import __spark_entry__ as entry
    from firepit_spark.functions import release
    from firepit_spark.functions.doctor import assert_scaleworthy

    sf_dir = "/root/testdata/sf0.001"
    skipped = []
    stix_slots = ("q54", "q55", "q56", "q57", "q58", "q59")
    for name, fn in sorted(entry.queries().items()):
        if name.startswith(stix_slots):
            skipped.append(name)
            continue
        df = fn(spark, sf_dir)
        try:
            assert_scaleworthy(df)
        finally:
            release(df)
    # exactly the six STIX warehouse queries are exempt
    assert len(skipped) == 6, skipped


def test_detects_global_window(spark):
    from pyspark.sql import Window

    from firepit_spark.functions.doctor import plan_report

    df = spark.range(100).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    rep = plan_report(df)
    assert rep.global_windows == 1
    assert any("un-partitioned Window" in m for _, m in rep.findings)
    # a partitioned window does not trip the rule
    ok = spark.range(100).withColumn(
        "rn", F.row_number().over(Window.partitionBy(F.col("id") % 5).orderBy("id"))
    )
    assert plan_report(ok).global_windows == 0
