"""Batch curation expressions lifted onto Structured Streaming unchanged."""

import json


def _write_events(path, rows):
    with open(path, "w") as fp:
        for r in rows:
            fp.write(json.dumps(r) + "\n")


def test_stream_quality_gate_and_token_ids(spark, tmp_path):
    """The r8 curation expressions are pure map-only column arithmetic, so
    they lift onto Structured Streaming unchanged: gopher_quality_stats
    columns selected on a stream match the batch op row-for-row, and
    hash_token_ids is content-addressed, so stream ids == batch ids."""
    from pyspark.sql import functions as F

    from firepit_spark.functions import pipeline as pl
    from firepit_spark.functions import text as tx

    rows = [
        {"doc_id": 0, "text": "the cat and the dog have been to town"},
        {"doc_id": 1, "text": "- bullet\n- bullet\nend..."},
        {"doc_id": 2, "text": "### symbols everywhere ###"},
    ]
    indir = tmp_path / "qdocs"
    indir.mkdir()
    _write_events(indir / "a.json", rows)

    batch_df = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], "doc_id long, text string"
    )
    stream = spark.readStream.schema("doc_id long, text string").json(str(indir))
    streamed = tx.gopher_quality_stats(stream).withColumn(
        "ids", pl.hash_token_ids(F.col("doc_id").cast("string"), 99)
    )
    q = (
        streamed.writeStream.format("memory")
        .queryName("quality_t")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["doc_id"]: r.asDict()
            for r in spark.sql("select * from quality_t").collect()
        }
    finally:
        q.stop()
    want = {
        r["doc_id"]: r.asDict()
        for r in tx.gopher_quality_stats(batch_df)
        .withColumn("ids", pl.hash_token_ids(F.col("doc_id").cast("string"), 99))
        .collect()
    }
    assert got == want


def test_stream_url_curation_lift(spark, tmp_path):
    """The web-curation expressions (parse_urls / registered_domain /
    url_normalize) are pure map-only column arithmetic, so a readStream of
    crawl records canonicalizes identically to the batch op row-for-row —
    the shape of a streaming ingest that dedups on url_norm downstream."""
    from firepit_spark.functions import web as wb

    rows = [
        {"doc_id": 0, "url": "HTTPS://WWW.Example.CO.uk:443/a?b=2&utm_s=x&a=1#f"},
        {"doc_id": 1, "url": "http://blog.sample.net:8080/p?gclid=z"},
        {"doc_id": 2, "url": "not a url"},
    ]
    indir = tmp_path / "urls"
    indir.mkdir()
    _write_events(indir / "a.json", rows)

    batch_df = spark.createDataFrame(
        [(r["doc_id"], r["url"]) for r in rows], "doc_id long, url string"
    )
    stream = spark.readStream.schema("doc_id long, url string").json(str(indir))
    q = (
        wb.parse_urls(stream)
        .writeStream.format("memory")
        .queryName("url_t")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["doc_id"]: r.asDict()
            for r in spark.sql("select * from url_t").collect()
        }
    finally:
        q.stop()
    want = {r["doc_id"]: r.asDict() for r in wb.parse_urls(batch_df).collect()}
    assert got == want
    assert got[2]["url_norm"] is None
