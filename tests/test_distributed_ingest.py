"""Distributed + streaming ingest must match the driver-side path exactly."""

import json

from firepit_spark.storage import SparkStorage
from firepit_spark.sources.bundles import cache_distributed
from tests.conftest import distinct_urls, make_bundle


def _url_rows(st):
    return sorted(
        (r["id"], r["value"]) for r in st.get_df("url").collect()
    )


def test_distributed_matches_driver(spark, tmp_path):
    bundle = make_bundle(50)

    driver_st = SparkStorage(str(tmp_path / "wh_driver"), spark=spark)
    driver_st.cache("q1", bundle)  # no defensive copy — see below

    # flatten() is non-mutating (r7), so the bundle SURVIVES cache and can
    # be serialized AFTERWARDS to feed cache_distributed identically — the
    # round-6 gotcha (gutted observations -> only identity/observed-data
    # tables) is now impossible by construction
    bundle_path = tmp_path / "b.json"
    bundle_path.write_text(json.dumps(bundle))

    dist_st = SparkStorage(str(tmp_path / "wh_dist"), spark=spark)
    cache_distributed(dist_st, "q1", str(bundle_path))

    assert sorted(dist_st.tables()) == sorted(driver_st.tables())
    assert _url_rows(dist_st) == _url_rows(driver_st)
    nt_a = {r["id"]: r["dst_port"] for r in dist_st.get_df("network-traffic").collect()}
    nt_b = {r["id"]: r["dst_port"] for r in driver_st.get_df("network-traffic").collect()}
    assert nt_a == nt_b
    # observation metadata incl. parsed timestamps
    od = dist_st.get_df("observed-data")
    assert dict(od.dtypes)["first_observed"] == "timestamp"
    assert od.count() == 50
    # extract works identically on top
    dist_st.extract("urls", "url", "q1", "[url:value LIKE '%page/1%']")
    driver_st.extract("urls", "url", "q1", "[url:value LIKE '%page/1%']")
    assert dist_st.count("urls") == driver_st.count("urls")


def test_streaming_ingest(spark, tmp_path):
    from firepit_spark.streaming.ingest import stream_bundles

    indir = tmp_path / "incoming"
    indir.mkdir()
    st = SparkStorage(str(tmp_path / "wh_stream"), spark=spark)

    (indir / "b1.json").write_text(json.dumps(make_bundle(30)))
    q = stream_bundles(
        st, str(indir), checkpoint_dir=str(tmp_path / "ckpt"), query_id="s1"
    )
    try:
        q.processAllAvailable()
        n1 = st.count("observed-data")
        assert n1 == 30
        # drop a second file; ids overlap -> upsert keeps table deduped
        (indir / "b2.json").write_text(json.dumps(make_bundle(40)))
        q.processAllAvailable()
        assert st.count("observed-data") == 40
        assert st.count("url") == distinct_urls(40)
    finally:
        q.stop()


def test_ingest_dataframe_widens_narrow_numerics(spark, tmp_path):
    """An engine-built frame with INT/FLOAT columns must merge with
    driver-ingested batches (python ints land as BIGINT; parquet schema
    merge refuses INT-vs-BIGINT across batch partitions)."""
    from pyspark.sql import functions as F

    from firepit_spark.storage import SparkStorage

    st = SparkStorage(str(tmp_path / "wh_widen"), spark=spark)
    # driver path first: python int -> BIGINT column
    st.cache("q1", {"type": "bundle", "id": "bundle--w", "objects": [
        {"type": "identity", "id": "identity--1", "name": "t"},
        {"type": "observed-data", "id": "observed-data--1",
         "created_by_ref": "identity--1",
         "first_observed": "2020-01-01T00:00:00Z",
         "last_observed": "2020-01-01T00:00:00Z", "number_observed": 2,
         "objects": {"0": {"type": "network-traffic", "src_port": 80,
                           "dst_port": 443, "protocols": ["tcp"]}}}]})
    # engine path second: int literals -> IntegerType before normalization
    eng = spark.range(1).select(
        F.lit("network-traffic--e1").alias("id"),
        F.lit(1234).cast("int").alias("src_port"),
        F.lit(53).cast("int").alias("dst_port"),
        F.lit(0.5).cast("float").alias("x_score"),
    )
    st.ingest_dataframe("network-traffic", eng, "q2")
    got = st.table_df("network-traffic")
    dtypes = dict(got.dtypes)
    assert dtypes["src_port"] == "bigint" and dtypes["x_score"] == "double"
    assert got.count() == 2  # both batches readable through the merge


def test_streaming_ingest_replay_idempotent(spark, tmp_path):
    """Commit-marker replay drill for stream_bundles (same harness as the
    bloom-dedup and rollup drills): delete the checkpoint's commit marker
    so the restarted query re-runs batch 0 — the deterministic-SCO-id
    upsert merge must leave every warehouse table row-identical
    (at-least-once delivery becomes effectively exactly-once ingest)."""
    import os

    from firepit_spark.streaming.ingest import stream_bundles

    indir = tmp_path / "incoming"
    indir.mkdir()
    st = SparkStorage(str(tmp_path / "wh_replay"), spark=spark)
    ckpt = str(tmp_path / "ckpt")

    (indir / "b1.json").write_text(json.dumps(make_bundle(25)))

    def start():
        return stream_bundles(st, str(indir), checkpoint_dir=ckpt, query_id="s1")

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def snapshot():
        out = {}
        for t in sorted(st.tables()):
            df = st.get_df(t)
            out[t] = sorted(
                tuple(str(v) for v in row) for row in df.collect()
            )
        return out

    first = snapshot()
    assert first["observed-data"] and first["url"]

    # simulate a crash after the sink write but before the commit marker
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert snapshot() == first


def test_streaming_ingest_backpressure(spark, tmp_path):
    """max_files_per_trigger bounds each micro-batch to N bundle files (the
    restart-backlog backpressure knob): three files at 1/trigger take >= 3
    batches and the warehouse still converges to the same state."""
    from firepit_spark.streaming.ingest import stream_bundles

    indir = tmp_path / "incoming"
    indir.mkdir()
    st = SparkStorage(str(tmp_path / "wh_bp"), spark=spark)
    for i, n in enumerate((10, 20, 30)):
        (indir / f"b{i}.json").write_text(json.dumps(make_bundle(n)))
    q = stream_bundles(
        st, str(indir), checkpoint_dir=str(tmp_path / "ckpt"),
        query_id="bp", max_files_per_trigger=1,
    )
    try:
        q.processAllAvailable()
        batches = len(q.recentProgress)
    finally:
        q.stop()
    assert batches >= 3  # one file per micro-batch, not one giant batch
    assert st.count("observed-data") == 30  # ids overlap; upsert dedups


def test_cache_stores_offset_timestamps_as_utc_under_any_local_tz(
    spark, tmp_path, monkeypatch
):
    """The driver-side path types timestamps the way the distributed path
    does (JVM-side, session time zone UTC), not through the Python
    process's local time zone; mixed bool/str columns store JSON text."""
    import time

    from pyspark.sql import functions as F

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        st = SparkStorage(str(tmp_path / "wh_tz"), spark=spark)
        st.cache("q1", {"type": "bundle", "id": "bundle--tz", "objects": [
            {"type": "observed-data", "id": "observed-data--tz1",
             "first_observed": "2020-01-01T05:00:00+02:00",
             "last_observed": "2020-01-01T05:00:00+02:00", "number_observed": 1,
             "objects": {"0": {"type": "url", "value": "http://a/", "x_m": True},
                         "1": {"type": "url", "value": "http://b/", "x_m": "b"},
                         "2": {"type": "user-account", "user_id": "u1",
                               "account_last_login": "2020-01-01T05:00:00+02:00"}}}]})

        def as_text(table, col):
            df = st.get_df(table)
            return df.select(F.col(col).cast("string")).first()[0]

        assert as_text("observed-data", "first_observed") == "2020-01-01 03:00:00"
        assert as_text("user-account", "account_last_login") == "2020-01-01 03:00:00"
        # a write-back of looked-up rows (naive local datetimes) keeps it
        st.extract("users", "user-account", "q1", "")
        st.reassign("users", [dict(r, x_note="seen") for r in st.lookup("users")])
        assert as_text("user-account", "x_note") == "seen"
        assert as_text("user-account", "account_last_login") == "2020-01-01 03:00:00"
        mixed = {r["value"]: r["x_m"] for r in st.get_df("url").collect()}
        assert mixed == {"http://a/": "true", "http://b/": "b"}
    finally:
        monkeypatch.undo()
        time.tzset()


def test_cache_distributed_rejects_files_without_objects(spark, tmp_path):
    import pytest

    path = tmp_path / "empty.json"
    path.write_text(json.dumps({"type": "bundle", "id": "bundle--empty"}))
    st = SparkStorage(str(tmp_path / "wh_empty"), spark=spark)
    with pytest.raises(ValueError, match="not a STIX bundle"):
        cache_distributed(st, "q1", str(path))
    assert st.tables() == []


def test_ingest_jobs_carry_the_callers_job_group(spark, tmp_path):
    """Every Spark job of an ingest call runs under the caller's job group,
    including those submitted from the per-type merge pool."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bundle = make_bundle(10)
    path = tmp_path / "b.json"
    path.write_text(json.dumps(bundle))
    st = SparkStorage(str(tmp_path / "wh_groups"), spark=spark)

    def ungrouped():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup(None))

    before = ungrouped()
    try:
        sc.setJobGroup("fp-ingest-cache", "cache")
        st.cache("q1", bundle)
        sc.setJobGroup("fp-ingest-dist", "cache_distributed")
        cache_distributed(st, "q2", str(path))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert ungrouped() - before == set()
    assert tracker.getJobIdsForGroup("fp-ingest-cache")
    assert tracker.getJobIdsForGroup("fp-ingest-dist")
