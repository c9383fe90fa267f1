"""Metric arithmetic, the percentile rule, trace reduction and names."""

import json
import os
import re

import pytest

from perfbench import core, trace
from perfbench.run import ROOT, WORKLOADS


def test_nearest_rank():
    xs = list(range(1, 101))
    assert core.nearest_rank(xs, 0.5) == 50
    assert core.nearest_rank(xs, 0.9) == 90
    assert core.nearest_rank([3.0], 0.9) == 3.0


def test_percentile_needs_ten_samples_beyond():
    assert core.beyond(100, 0.9) == 10
    assert core.percentile_valid(100, 0.9)
    assert not core.percentile_valid(99, 0.9)
    assert core.percentile_valid(20, 0.5)
    assert not core.percentile_valid(19, 0.5)
    assert not core.percentile_valid(0, 0.5)


def test_geomean_weighs_each_value_equally():
    assert core.geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert core.geomean([0.1, 3.0]) == core.geomean([3.0, 0.1])


def test_failed_ops_count_against_ok_frac_not_latency():
    ops = core.OpLog(log=open(os.devnull, "w"))
    ops.timed = True
    ops.run("a", lambda: 1, lambda v: None)
    ops.run("a", lambda: 1 / 0)
    ops.run("b", lambda: 2, lambda v: "wrong")
    m = ops.end_to_end(loop_seconds=1.0, setup_s=0.5, rss_mb=1.0)
    assert m["ok_op_frac"][0] == pytest.approx(1 / 3)
    assert m["ops_per_s"][0] == 1.0
    assert [f["error"] for f in ops.failures()] == ["ZeroDivisionError", "mismatch"]
    line = core.result_line(ops, m)
    assert (line["attempted"], line["failed"], line["correct"]) == (3, 2, False)


def test_error_class_reads_spark_error_class():
    e = RuntimeError("[FAILED_READ_FILE.FILE_NOT_EXIST] Encountered error")
    assert core.error_class(e) == "RuntimeError:FAILED_READ_FILE.FILE_NOT_EXIST"


def test_self_time_subtracts_union_of_children():
    tr = trace.Tracer()
    tr.spans = [
        ["outer", 0.0, 10.0, None, None],
        ["child", 1.0, 4.0, 0, None],
        ["child", 3.0, 5.0, 0, None],  # overlaps the first child
        ["child", 8.0, 12.0, 0, None],  # clipped to the parent
    ]
    st = tr.self_times()
    assert st["outer"] == (pytest.approx(10.0 - 4.0 - 2.0), 1)
    assert st["child"][1] == 3


def test_spark_events_attributed_by_op_window():
    ops = [["a", 10.0, 12.0], ["b", 20.0, 21.0]]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 10500},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 11500},
        {"Event": "SparkListenerTaskEnd", "Task Info": {"Launch Time": 10600},
         "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 3e8,
                          "JVM GC Time": 10, "Memory Bytes Spilled": 5,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 15000},
    ]
    per = trace.spark_by_op(events, ops)
    assert per[0]["jobs"] == 1 and per[0]["tasks"] == 1
    assert per[0]["driver_gap_s"] == pytest.approx(1.0)
    assert per[0]["executor_cpu_s"] == pytest.approx(0.3)
    assert per[0]["shuffle_write_bytes"] == 7 and per[0]["spill_bytes"] == 5
    assert per[1]["jobs"] == 0 and per[1]["driver_gap_s"] == pytest.approx(1.0)
    totals, by_kind = trace.spark_metrics(per, ops, {0, 1})
    assert totals["spark.jobs"] == (1, "count") and set(by_kind) == {"a", "b"}


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fp:
        return json.load(fp)


def test_metric_names_and_units():
    b = _bench()
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in b[k]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(m["bound"] <= 0.25 for m in b["end_to_end"])
    assert "setup_s" in [m["name"] for m in b["end_to_end"]]
    assert {w["name"] for w in b["workloads"]} <= set(WORKLOADS)


def test_declared_metrics_are_produced():
    b = _bench()
    e2e = {m["name"] for m in b["end_to_end"]}
    layer = {m["name"] for m in b["per_layer"]}
    assert e2e <= set(core.OpLog().end_to_end(1.0, 1.0, 1.0))
    assert set(trace.layer_metrics(trace.Tracer())) <= layer
    assert set(trace.spark_metrics([], [], set())[0]) <= layer
