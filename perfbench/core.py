"""Op bookkeeping and the end-to-end metric arithmetic shared by workloads."""

from __future__ import annotations

import math
import os
import re
import statistics
import sys
import time
import traceback

_ERROR_CLASS = re.compile(r"\[([A-Z][A-Z_]+(?:\.[A-Z][A-Z_]+)?)\]")


def nearest_rank(values, q: float) -> float:
    """The ``q`` quantile (0 < q <= 1) by the nearest-rank rule."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q`` quantile."""
    return n - max(1, math.ceil(q * n))


def percentile_valid(n: int, q: float, min_beyond: int = 10) -> bool:
    """A percentile is only reported as such when at least ``min_beyond``
    samples lie beyond it (so p90 needs >= 100 samples)."""
    return n > 0 and beyond(n, q) >= min_beyond


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def error_class(exc: BaseException) -> str:
    """Exception class, plus Spark's error class when the message has one."""
    m = _ERROR_CLASS.search(str(exc))
    return type(exc).__name__ + (f":{m.group(1)}" if m else "")


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fp:
            for line in fp:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def warehouse_metrics(warehouse: str, input_bytes: int) -> dict:
    """Bytes on disk at the end of a run, whole and for the two tables
    behind the observation join."""
    total = dir_bytes(warehouse)
    obs = sum(
        dir_bytes(os.path.join(warehouse, "tables", t)) for t in ("__contains", "observed-data")
    )
    return {
        "stored_bytes_per_input_byte": (total / input_bytes, "ratio"),
        "storage.bytes": (total, "bytes"),
        "storage.obs_tables_bytes": (obs, "bytes"),
    }


def mismatch(got, want):
    """None when equal, else a short description for the failure log."""
    if got == want:
        return None
    g, w = repr(got), repr(want)
    return f"got {g[:200]}, want {w[:200]}"


def batches_max(warehouse: str) -> int:
    """Largest number of LSM batch directories of any warehouse table."""
    from firepit_spark.storage import BATCH_PREFIX

    tables = os.path.join(warehouse, "tables")
    best = 0
    for t in os.listdir(tables):
        p = os.path.join(tables, t)
        if os.path.isdir(p):
            best = max(best, sum(d.startswith(BATCH_PREFIX) for d in os.listdir(p)))
    return best


class Op:
    __slots__ = ("kind", "start", "end", "ok", "error", "timed")

    def __init__(self, kind, start, end, ok, error, timed):
        self.kind, self.start, self.end = kind, start, end
        self.ok, self.error, self.timed = ok, error, timed

    @property
    def seconds(self) -> float:
        return self.end - self.start


class OpLog:
    """Runs ops one at a time (one client, closed loop), checks each result
    and keeps the record. A raised exception or a failed check is a failed
    op; the run goes on."""

    def __init__(self, tracer=None, log=sys.stderr):
        self.ops: list[Op] = []
        self.tracer = tracer
        self.log = log
        self.timed = False

    def run(self, kind: str, fn, check=None):
        """Time ``fn()``; then ``check(result)`` returns None or a problem
        text. Returns the result, or None when the op failed."""
        if self.tracer:
            self.tracer.begin_op(kind)
        start = time.time()
        try:
            result = fn()
        except Exception as e:  # an op failure is data, the loop continues
            end = time.time()
            self._end_trace()
            self._record(kind, start, end, error_class(e))
            print(f"op {kind} raised:", file=self.log)
            traceback.print_exc(file=self.log)
            return None
        end = time.time()
        self._end_trace()
        try:
            problem = check(result) if check else None
        except Exception as e:
            problem = f"check raised {error_class(e)}"
        self._record(kind, start, end, None if problem is None else "mismatch")
        if problem is not None:
            print(f"op {kind} result mismatch: {problem}", file=self.log)
            return None
        return result

    def _end_trace(self):
        if self.tracer:
            self.tracer.end_op()

    def _record(self, kind, start, end, error):
        self.ops.append(Op(kind, start, end, error is None, error, self.timed))

    # ------------------------------------------------------------ reports

    def timed_ops(self) -> list:
        return [o for o in self.ops if o.timed]

    def failures(self) -> list:
        return [
            {"op": o.kind, "error": o.error, "timed": o.timed, "at_s": round(o.start, 3)}
            for o in self.ops
            if not o.ok
        ]

    def end_to_end(self, loop_seconds: float, setup_s: float, rss_mb: float) -> dict:
        """Every end-to-end metric. Latency percentiles are over the ops
        that returned a correct result; failures count in ``ok_op_frac``."""
        timed = self.timed_ops()
        good = [o for o in timed if o.ok]
        lat = [o.seconds for o in good] or [loop_seconds]
        kinds = {}
        for o in good:
            kinds.setdefault(o.kind, []).append(o.seconds)
        return {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (len(good) / loop_seconds, "1/s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_p90_s": (nearest_rank(lat, 0.9), "s"),
            "op_geomean_s": (
                geomean([statistics.median(v) for v in kinds.values()] or [loop_seconds]),
                "s",
            ),
            "ok_op_frac": (
                sum(o.ok for o in self.ops) / max(1, len(self.ops)),
                "ratio",
            ),
            "peak_rss_mb": (rss_mb, "MB"),
        }

    def kind_table(self) -> dict:
        """Per op kind: count, failures, median and max seconds."""
        out = {}
        for o in self.timed_ops():
            d = out.setdefault(o.kind, {"n": 0, "failed": 0, "secs": []})
            d["n"] += 1
            d["failed"] += not o.ok
            d["secs"].append(o.seconds)
        return {
            k: {
                "n": d["n"],
                "failed": d["failed"],
                "median_s": round(statistics.median(d["secs"]), 4),
                "max_s": round(max(d["secs"]), 4),
            }
            for k, d in out.items()
        }


def result_line(ops: OpLog, metrics: dict) -> dict:
    """The benchmark's last stdout line."""
    attempted = len(ops.ops)
    failed = sum(not o.ok for o in ops.ops)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": float(v), "unit": unit} for name, (v, unit) in metrics.items()
        },
    }
