"""firepit_spark benchmark: one workload, one process, one client.

    python3 perfbench/run.py --workload hunt --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The program is imported from that
checkout; inputs are generated from ``--seed`` under ``.perfbench_run/``,
which also receives the warehouse, Spark's scratch files, the captured
stderr and one report per run (``.perfbench_run/reports/``). The last line
on stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics from spans around the program's public functions and
Spark's event log. Workloads and metrics are described in
``perfbench/WORKLOADS.md``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# ``ingest`` is not in BENCHMARK.json: see ingest.py
WORKLOADS = ("hunt", "library", "ingest")


class Context:
    """What a workload needs: its seed, run length, scratch directories,
    the op log, and (in a traced run) the tracer."""

    def __init__(self, workload, seed, seconds, trace, run_dir, stderr_path):
        from perfbench.core import OpLog
        from perfbench.trace import Tracer

        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.warehouse = os.path.join(run_dir, "warehouse")
        self.tracer = Tracer(stderr_path) if trace else None
        self.ops = OpLog(self.tracer)
        self.spark = None
        self.extra: dict = {}  # workload-specific per-layer metrics
        self.report: dict = {}

    def start_spark(self):
        import firepit_spark.session as session_mod

        self.spark = session_mod.build_spark(f"perfbench-{self.workload}")
        return self.spark

    def _gateway_proc(self):
        return getattr(self.spark.sparkContext._gateway, "proc", None)

    def jvm_pid(self) -> int | None:
        proc = self._gateway_proc()
        return proc.pid if proc else None

    def stop_spark(self):
        """Stop the session, then end the gateway JVM (it exits when its
        stdin closes) and wait for it."""
        proc = self._gateway_proc()
        self.spark.stop()
        self.spark = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def prepare_environment(run_dir: str, trace: bool) -> None:
    """Keep every file the run writes inside ``run_dir`` and make the
    checkout's sources importable by Spark's Python workers."""
    import tempfile

    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "spark-local"), os.path.join(run_dir, "eventlog")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ.pop("SPARK_MASTER", None)
    args = [
        "--conf", f"spark.local.dir={os.path.join(run_dir, 'spark-local')}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
        # the heap starts at its 2 GB maximum: a heap that grows on demand
        # grows at GC-timing-dependent moments, which made the JVM's peak
        # RSS bimodal (1.25 or 1.6 GB) between runs of one workload
        "--driver-java-options", f"-Xms2g -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    ]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(run_dir, 'eventlog')}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"


def declared(kind: str) -> list:
    """(name, unit) of the metrics BENCHMARK.json declares, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fp:
        return [(m["name"], m["unit"]) for m in json.load(fp)[kind]]


def select(metrics: dict, kind: str) -> dict:
    """Exactly the declared metrics; a layer a workload never reaches
    reads 0."""
    return {name: (metrics.get(name, (0.0, unit))[0], unit) for name, unit in declared(kind)}


def per_layer(ctx: Context, e2e: dict) -> dict:
    from perfbench import trace

    tr = ctx.tracer
    metrics = trace.layer_metrics(tr)
    timed = {i for i, op in enumerate(ctx.ops.ops) if op.timed}
    per = trace.spark_by_op(trace.read_event_log(os.path.join(ctx.run_dir, "eventlog")), tr.ops)
    spark_totals, by_kind = trace.spark_metrics(per, tr.ops, timed)
    metrics.update(spark_totals)
    metrics.update(ctx.extra)
    # the traced run's own end-to-end figures; against an untraced run's
    # they give the tracing overhead (see reports/*.json)
    for name in ("ops_per_s", "op_p50_s", "op_p90_s", "op_geomean_s"):
        metrics[f"trace.{name}"] = e2e[name]
    ctx.report["spark_by_kind"] = {
        k: {m: round(v, 4) for m, v in d.items()} for k, d in by_kind.items()
    }
    ctx.report["layer_self_s"] = {
        k: [round(v, 4), n] for k, (v, n) in sorted(tr.self_times().items())
    }
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "firepit_spark", "storage.py")):
        print("firepit_spark sources not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    base = os.path.join(ROOT, ".perfbench_run")
    run_dir = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    reports = os.path.join(base, "reports")
    os.makedirs(run_dir, exist_ok=True)
    os.makedirs(reports, exist_ok=True)
    prepare_environment(run_dir, bool(args.trace))

    # Spark's and the program's chatter goes to a file; the codegen-fallback
    # counter reads it. The result line goes to the saved stdout.
    stderr_path = os.path.join(run_dir, "stderr.log")
    out_fd, err_fd = os.dup(1), os.dup(2)
    log_fd = os.open(stderr_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    sys.stdout.flush()
    sys.stderr.flush()
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)
    real_err = os.fdopen(err_fd, "w")

    ctx = None
    try:
        from perfbench import core, trace

        ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace), run_dir, stderr_path)
        if ctx.tracer:
            trace.install(ctx.tracer)
        module = importlib.import_module(f"perfbench.{args.workload}")
        setup_s, loop_s = module.run(ctx)
        rss_kb = {"python": core.vm_hwm_kb(os.getpid()), "jvm": core.vm_hwm_kb(ctx.jvm_pid() or 0)}
        rss_mb = sum(rss_kb.values()) / 1024
        ctx.stop_spark()
        e2e = {**ctx.ops.end_to_end(loop_s, setup_s, rss_mb), **ctx.extra}
        if ctx.tracer:
            metrics = select(per_layer(ctx, e2e), "per_layer")
        else:
            metrics = select(e2e, "end_to_end")
        result = core.result_line(ctx.ops, metrics)
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "loop_s": round(loop_s, 4),
            "timed_ops": len(ctx.ops.timed_ops()),
            "p90_valid": core.percentile_valid(len(ctx.ops.timed_ops()), 0.9),
            "kinds": ctx.ops.kind_table(), "failures": ctx.ops.failures(),
            "ops": [[o.kind, o.timed, round(o.seconds, 4), o.ok] for o in ctx.ops.ops],
            "rss_mb": {k: round(v / 1024, 1) for k, v in rss_kb.items()},
            "result": result, **ctx.report,
        }
        with open(os.path.join(reports, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fp:
            json.dump(report, fp, indent=1, default=str)
        for f in report["failures"]:
            print(f"failed op: {f['op']} ({f['error']})", file=real_err)
    except BaseException:
        real_err.write(f"benchmark error; log in {stderr_path}\n")
        traceback.print_exc(file=real_err)
        real_err.flush()
        if ctx is not None and ctx.spark is not None:
            ctx.stop_spark()
        return 1
    finally:
        real_err.flush()
    shutil.rmtree(run_dir, ignore_errors=True)
    os.write(out_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
