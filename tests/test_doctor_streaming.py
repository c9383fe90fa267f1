"""Streaming plan doctor (doctor.stream_report / assert_stream_safe):
state-hygiene rules over UNSTARTED streaming plans."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from firepit_spark.functions.doctor import (
    RED,
    YELLOW,
    assert_stream_safe,
    stream_report,
)


@pytest.fixture()
def stream(spark, tmp_path):
    indir = tmp_path / "in"
    indir.mkdir()
    with open(indir / "a.json", "w") as fp:
        fp.write(
            json.dumps(
                {"src": "a", "ts": "2020-01-01T00:00:00", "text": "x",
                 "first_observed": "2020-01-01T00:00:00",
                 "number_observed": 1}
            )
            + "\n"
        )
    schema = (
        "src string, ts timestamp, text string, "
        "first_observed timestamp, number_observed long"
    )
    return spark.readStream.schema(schema).json(str(indir))


def test_stateful_eviction_rules(stream):
    """Watermarked dedup/aggregation and state with a timeout evict; keyed
    state with neither is a yellow key-cardinality finding, not a red."""
    import pandas as pd

    wm = stream.withWatermark("ts", "1 minute")
    rep = assert_stream_safe(wm.dropDuplicatesWithinWatermark(["src"]))
    assert rep.watermarks == 1 and rep.unevicted_state_ops == 0
    rep = assert_stream_safe(wm.groupBy(F.window("ts", "5 minutes")).count())
    assert rep.stateful_ops >= 1 and rep.unevicted_state_ops == 0

    def count_rows(key, pdfs, state):
        yield pd.DataFrame({"src": [key[0]], "n": [sum(len(p) for p in pdfs)]})

    def keyed_state(timeout):
        return stream.groupBy("src").applyInPandasWithState(
            count_rows, "src string, n long", "n long", "update", timeout
        )

    rep = assert_stream_safe(keyed_state("ProcessingTimeTimeout"))
    assert rep.stateful_ops == 1 and rep.unevicted_state_ops == 0
    for lifetime in (keyed_state("NoTimeout"), stream.groupBy("src").count()):
        rep = assert_stream_safe(lifetime)
        assert rep.unevicted_state_ops == 1
        assert any(s == YELLOW and "key cardinality" in m for s, m in rep.findings)


def test_unwatermarked_dropduplicates_is_red(stream):
    bad = stream.dropDuplicates(["src"])
    rep = stream_report(bad)
    assert any(
        s == RED and "dropDuplicatesWithinWatermark" in m
        for s, m in rep.findings
    )
    with pytest.raises(AssertionError, match="not state-safe"):
        assert_stream_safe(bad)


def test_stream_stream_join_rules(spark, stream):
    right = stream.select(F.col("src"), F.col("ts").alias("rts"))
    # no watermarks at all -> red
    rep = stream_report(stream.join(right, "src"))
    assert any(s == RED and "watermark" in m for s, m in rep.findings)
    # watermarks present but an equi-only condition (no event-time
    # bound) -> state still unbounded -> red
    l = stream.withWatermark("ts", "1 minute")
    r = right.withWatermark("rts", "1 minute")
    rep = stream_report(l.join(r, "src"))
    assert any(s == RED and "event-time bound" in m for s, m in rep.findings)
    # time-range condition -> clean
    good = l.alias("l").join(
        r.alias("r"),
        F.expr(
            "l.src = r.src and rts between ts and ts + interval 5 minutes"
        ),
    )
    rep = assert_stream_safe(good)
    assert rep.stream_stream_joins == 1 and not rep.findings
    # adversarial column NAME containing "-T" (prints as `x-Ty#N`) must
    # NOT pass for a watermark delay marker (`#N-TDDDDms`): the join is
    # still equi-only, so the red finding must fire
    l_adv = l.withColumnRenamed("src", "x-Ty")
    rep = stream_report(l_adv.join(r, F.col("`x-Ty`") == F.col("src")))
    assert any(s == RED and "event-time bound" in m for s, m in rep.findings)


def test_unbroadcast_static_join_is_flagged(spark, stream):
    dim = spark.createDataFrame([("a", 1)], "src string, d int")
    rep = assert_stream_safe(stream.join(dim, "src"))  # yellow, not red
    assert rep.unbroadcast_static_joins == 1
    rep = assert_stream_safe(stream.join(F.broadcast(dim), "src"))
    assert rep.unbroadcast_static_joins == 0


def test_batch_frame_is_rejected(spark):
    df = spark.range(3)
    with pytest.raises(ValueError, match="streaming"):
        stream_report(df)
