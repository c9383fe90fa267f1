"""The expectation helpers agree with the program on a tiny warehouse."""

import random

import pytest

from perfbench import expect, gen, hunt


def test_like():
    assert expect.like("http://site1.example/h/page1", "%://site1.example/%")
    assert not expect.like("http://site11.example/h/page1", "%://site1.example/%")
    assert expect.like("10.0.3.15", "%.1_")
    assert not expect.like("10.0.3.105", "%.1_")


def test_ips_in_and_sorted_page():
    recs = [
        {"src": "10.1.0.5", "dst": "172.16.0.1", "sport": 3},
        {"src": "10.2.0.5", "dst": "10.1.9.9", "sport": 1},
    ]
    assert expect.ips_in(recs, "10.1.0.0/16") == {"10.1.0.5", "10.1.9.9"}
    assert expect.sorted_page(recs, "sport", True, 0, 1) == [3]


def test_canon_rows_ignores_column_and_row_order():
    a = expect.canon_rows(["b", "a"], [(1, 0.1 + 0.2), (2, 1.0)])
    b = expect.canon_rows(["a", "b"], [(1.0, 2), (0.30000000000000004, 1)])
    assert a == b


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_round_expectations_match_a_tiny_warehouse(spark, tmp_path, monkeypatch):
    """Every check of two hunt rounds passes on a warehouse loaded from the
    same records the expectations are computed from."""
    import os
    import time

    from firepit_spark.storage import SparkStorage

    monkeypatch.setenv("TZ", "UTC")
    time.tzset()
    records = gen.observation_records(random.Random(11), 300, "h")
    st = SparkStorage(str(tmp_path / "wh"), spark=spark)
    st.cache(hunt.QID, gen.bundle(records, "tiny"))
    problems = []
    for r in range(2):
        for kind, fn, check in hunt.round_ops(st, records, random.Random(f"t-{r}")):
            problem = check(fn())
            if problem:
                problems.append((kind, problem))
    assert problems == []
    assert os.path.isdir(tmp_path / "wh" / "tables" / "url")
