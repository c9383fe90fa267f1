"""Spans around the program's public functions, and Spark's own metrics.

The benchmark records spans from its own files: ``install`` replaces public
functions and methods of each firepit_spark module with wrappers that note
name, start, end, parent span and op id. Calls made through the module
attribute (including the library's internal calls such as ``cache`` ->
``flatten``) are seen; nothing inside the program changes. Spans stay in
memory and are reduced when the run ends.

Spark metrics come from the event log (``spark.eventLog.enabled``), read
after the session stops. Jobs, stages and tasks are attributed to the op
whose wall-clock window holds their submission or launch time: the loop has
one client, and the program's thread pools do not carry job-group
properties, so time windows are the attribution that always holds.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time

CODEGEN_MARK = b"Code grows beyond 64 KB"


class Tracer:
    def __init__(self, stderr_path: str | None = None):
        self.spans: list = []  # [name, start, end, parent, op]
        self.ops: list = []  # [kind, start, end]
        self.op: int | None = None
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list = []
        self._lock = threading.Lock()
        self._stderr_path = stderr_path
        self._stderr_pos = 0
        self.codegen_by_op: dict = {}

    # ---------------------------------------------------------------- ops

    def begin_op(self, kind: str):
        self._scan_codegen()
        self.ops.append([kind, time.time(), None])
        self.op = len(self.ops) - 1

    def end_op(self):
        self.ops[self.op][2] = time.time()
        self.codegen_by_op[self.op] = self._scan_codegen()
        self.op = None

    def _scan_codegen(self) -> int:
        if not self._stderr_path:
            return 0
        try:
            with open(self._stderr_path, "rb") as fp:
                fp.seek(self._stderr_pos)
                data = fp.read()
        except OSError:
            return 0
        self._stderr_pos += len(data)
        return data.count(CODEGEN_MARK)

    # -------------------------------------------------------------- spans

    def _stack(self) -> list:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, fn, name):
        """``fn`` wrapped in a span; ``name`` is a string or a function of
        the call's arguments."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            stack = tracer._stack()
            # a pool thread's first span hangs under the span the main
            # thread has open (the call that started the pool)
            parent = stack[-1] if stack else (
                tracer._main_stack[-1] if tracer._main_stack else None
            )
            with tracer._lock:
                idx = len(tracer.spans)
                tracer.spans.append([label, time.time(), None, parent, tracer.op])
            stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                tracer.spans[idx][2] = time.time()

        return traced

    def patch(self, owner, attr: str, name):
        setattr(owner, attr, self.wrap(getattr(owner, attr), name))

    # ---------------------------------------------------------- reduction

    def self_times(self) -> dict:
        """name -> (total self seconds, span count). Self time is a span's
        duration minus the union of its children's intervals."""
        children: dict = {}
        for i, s in enumerate(self.spans):
            if s[3] is not None:
                children.setdefault(s[3], []).append(i)
        out: dict = {}
        for i, (name, start, end, _p, _op) in enumerate(self.spans):
            if end is None:
                continue
            ivs = sorted(
                (max(start, self.spans[c][1]), min(end, self.spans[c][2] or end))
                for c in children.get(i, ())
            )
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in ivs:
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            tot, n = out.get(name, (0.0, 0))
            out[name] = (tot + (end - start) - covered, n + 1)
        return out


def install(tracer: Tracer):
    """Wrap the public entry points of every layer the workloads reach."""
    import firepit_spark.deref as deref_mod
    import firepit_spark.flatten as flatten_mod
    import firepit_spark.session as session_mod
    import firepit_spark.sources.bundles as bundles_mod
    import firepit_spark.sources.logs as logs_mod
    import firepit_spark.storage as storage_mod

    def log_kind(storage, df, *a, **kw):
        return "logs.convert_log." + ("windows" if "EventID" in df.columns else "zeek")

    tracer.patch(session_mod, "build_spark", "session.build")
    tracer.patch(flatten_mod, "flatten", "flatten.flatten")
    for f in ("read_bundle_objects", "ingest_flat", "cache_distributed"):
        tracer.patch(bundles_mod, f, f"bundles.{f}")
    tracer.patch(logs_mod, "convert_log", log_kind)
    for m in STORAGE_METHODS:
        tracer.patch(storage_mod.SparkStorage, m, f"storage.{m}")
    # names the storage module bound at import time
    tracer.patch(storage_mod, "compile_pattern", "patterns.compile_pattern")
    tracer.patch(storage_mod, "auto_aggs", "props.auto_aggs")
    tracer.patch(deref_mod.DerefPlanner, "deref", "deref.deref")
    tracer.patch(deref_mod.DerefPlanner, "deref_path", "deref.deref_path")


STORAGE_METHODS = (
    "ingest_dataframe", "cache", "extract", "filter", "group",
    "assign", "lookup", "values", "count", "value_counts", "number_observed",
    "summary", "timestamped",
)

# per-layer metric -> span name whose self time it sums
SPAN_METRICS = {
    "session.build_s": "session.build",
    "flatten.flatten_s": "flatten.flatten",
    "bundles.read_bundle_objects_s": "bundles.read_bundle_objects",
    "bundles.ingest_flat_s": "bundles.ingest_flat",
    "bundles.cache_distributed_s": "bundles.cache_distributed",
    "logs.convert_log.zeek_s": "logs.convert_log.zeek",
    "logs.convert_log.windows_s": "logs.convert_log.windows",
    **{f"storage.{m}_s": f"storage.{m}" for m in STORAGE_METHODS},
    "patterns.compile_pattern_s": "patterns.compile_pattern",
    "deref.deref_s": "deref.deref",
    "deref.deref_path_s": "deref.deref_path",
    "props.auto_aggs_s": "props.auto_aggs",
}
COUNT_METRICS = {
    "patterns.compile_pattern_count": "patterns.compile_pattern",
}


def layer_metrics(tracer: Tracer) -> dict:
    st = tracer.self_times()
    out = {m: (st.get(s, (0.0, 0))[0], "s") for m, s in SPAN_METRICS.items()}
    out.update({m: (st.get(s, (0.0, 0))[1], "count") for m, s in COUNT_METRICS.items()})
    out["spark.codegen_fallbacks"] = (sum(tracer.codegen_by_op.values()), "count")
    out["trace.spans"] = (len(tracer.spans), "count")
    return out


# ------------------------------------------------------------ event log


def read_event_log(log_dir: str) -> list:
    """Every event under ``log_dir`` (a single file per application, or
    Spark's rolling ``eventlog_v2_*`` directory of event files)."""
    events = []
    paths = sorted(
        os.path.join(root, f) for root, _d, files in os.walk(log_dir) for f in files
        if not f.startswith("appstatus")
    )
    for path in paths:
        with open(path) as fp:
            for line in fp:
                try:
                    events.append(json.loads(line))
                except ValueError:
                    continue  # a torn last line of an unfinished log
    return events


SPARK_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "driver_gap_s",
)


def spark_by_op(events: list, ops: list) -> list:
    """Per op (``[kind, start, end]`` in epoch seconds): Spark counters
    from the events whose time falls in the op's window."""
    per = [dict.fromkeys(SPARK_KEYS, 0.0) for _ in ops]
    jobs = {}
    starts = sorted((o[1], i) for i, o in enumerate(ops))
    keys = [s for s, _ in starts]

    def owner(t_ms):
        import bisect

        t = t_ms / 1000.0
        j = bisect.bisect_right(keys, t) - 1
        if j < 0:
            return None
        i = starts[j][1]
        return i if ops[i][2] is not None and t <= ops[i][2] else None

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = [ev.get("Submission Time"), None]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]][1] = ev.get("Completion Time")
        elif kind == "SparkListenerStageCompleted":
            t = ev["Stage Info"].get("Submission Time")
            i = owner(t) if t else None
            if i is not None:
                per[i]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            i = owner(info.get("Launch Time", 0))
            if i is None:
                continue
            p = per[i]
            p["tasks"] += 1
            p["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            p["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            p["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics", {})
            p["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            p["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            p["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    intervals = [[] for _ in ops]
    for sub, done in jobs.values():
        i = owner(sub) if sub else None
        if i is None:
            continue
        per[i]["jobs"] += 1
        lo, hi = sub / 1e3, (done / 1e3 if done else ops[i][2])
        intervals[i].append((max(lo, ops[i][1]), min(hi, ops[i][2])))
    for i, o in enumerate(ops):
        if o[2] is None:
            continue
        busy, cur = 0.0, None
        for a, b in sorted(intervals[i]):
            if cur is None or a > cur[1]:
                if cur:
                    busy += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            busy += cur[1] - cur[0]
        per[i]["driver_gap_s"] = max(0.0, (o[2] - o[1]) - busy)
    return per


def spark_metrics(per: list, ops: list, timed_idx: set) -> tuple:
    """(totals over the timed ops as metrics, per-op-kind table)."""
    totals = dict.fromkeys(SPARK_KEYS, 0.0)
    by_kind: dict = {}
    for i, p in enumerate(per):
        if i not in timed_idx:
            continue
        k = by_kind.setdefault(ops[i][0], dict.fromkeys(SPARK_KEYS, 0.0))
        for key, v in p.items():
            totals[key] += v
            k[key] += v
    units = {
        "jobs": "count", "stages": "count", "tasks": "count",
        "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
        "spill_bytes": "bytes",
    }
    metrics = {f"spark.{k}": (v, units.get(k, "s")) for k, v in totals.items()}
    return metrics, by_kind
