"""``ingest``: incremental writes into one warehouse, each read back.

Writes cycle through a bundle file (``cache_distributed``), a bundle dict
(``SparkStorage.cache``) and a zeek conn JSON-lines frame (``convert_log``).
After every write one read op runs: ``extract`` on that write's query id,
then ``count``. The warehouse starts empty and receives enough writes that
the ``__queries`` tag table crosses ``auto_compact_batches`` during the run,
so auto-compaction runs while the ingest thread pools append.

Not a workload of ``BENCHMARK.json``: while the auto-compaction race is
open, its fifth write fails in every run, so it reports ``correct: false``.
Run it by name to see the race (``WORKLOADS.md``). ``Writer`` also makes
the write legs of the traced ``hunt`` and ``library`` runs.
"""

from __future__ import annotations

import os
import random
import time

import firepit_spark.sources.bundles as bundles
import firepit_spark.sources.logs as logs
import firepit_spark.storage as storage_mod

from perfbench import gen
from perfbench.core import batches_max, mismatch, warehouse_metrics

BUNDLE_OBS = 250
ZEEK_ROWS = 1000
SYSMON_ROWS = 200
WRITES = ("bundle_file", "bundle_dict", "zeek")
# each bundle write adds 8 batches to __queries and each zeek write 3, so
# the fifth write takes the table past auto_compact_batches (32)
MIN_WRITES = 5
LOG_TYPES = {"network-traffic", "ipv4-addr", "observed-data", "__contains"}


class Writer:
    """Makes write ``w``'s input (outside the op's timing) and its ops."""

    def __init__(self, ctx, st):
        self.ctx, self.st, self.spark = ctx, st, st.spark
        self.in_bytes = 0
        self.obs = self.obs_s = self.rows = self.rows_s = 0.0
        self.batches_seen = 0
        self.gen_s = 0.0  # input generation, kept out of the loop's wall

    def write(self, w: int, kind: str):
        ctx, st = self.ctx, self.st
        rng = random.Random(f"{ctx.seed}-w{w}")
        qid, tag = f"w{w}", f"w{w}"
        path = os.path.join(ctx.data_dir, f"{qid}.json")
        os.makedirs(ctx.data_dir, exist_ok=True)
        t_gen = time.time()
        if kind in ("bundle_file", "bundle_dict"):
            records = gen.observation_records(rng, BUNDLE_OBS, tag)
            doc = gen.bundle(records, f"{ctx.seed}-{qid}")
            self.in_bytes += gen.write_json(path, doc)
            if kind == "bundle_file":
                fn = lambda: bundles.cache_distributed(st, qid, path)  # noqa: E731
            else:
                fn = lambda: st.cache(qid, doc)  # noqa: E731
            self.gen_s += time.time() - t_gen
            t = time.time()
            ctx.ops.run(kind, fn)
            if self._last_ok():
                self.obs += BUNDLE_OBS
                self.obs_s += time.time() - t
            self.read(qid, "url", len({r["url"] for r in records}))
        else:
            rows = (gen.zeek_rows if kind == "zeek" else gen.sysmon_rows)(
                rng, ZEEK_ROWS if kind == "zeek" else SYSMON_ROWS, tag
            )
            self.in_bytes += gen.write_jsonl(path, rows)
            if kind == "zeek":
                want, read_type, n = LOG_TYPES, "network-traffic", len(rows)
            else:
                want = LOG_TYPES | {"process", "x-oca-event"}
                read_type = "process"
                n = len({r["ProcessGuid"] for r in rows} | {r.get("ParentProcessGuid") for r in rows} - {None})
            self.gen_s += time.time() - t_gen
            t = time.time()
            ctx.ops.run(
                kind,
                lambda: logs.convert_log(st, self.spark.read.json(path), query_id=qid),
                lambda types: None if want <= set(types) else f"types {sorted(types)}",
            )
            if self._last_ok():
                self.rows += len(rows)
                self.rows_s += time.time() - t
            self.read(qid, read_type, n)

    def obs_per_s(self) -> float:
        return self.obs / self.obs_s if self.obs_s else 0.0

    def rows_per_s(self) -> float:
        return self.rows / self.rows_s if self.rows_s else 0.0

    def _last_ok(self) -> bool:
        return self.ctx.ops.ops[-1].ok

    def read(self, qid: str, sco_type: str, expected: int):
        self.batches_seen = max(self.batches_seen, batches_max(self.ctx.warehouse))

        def op():
            self.st.extract("recent", sco_type, qid, "")
            return self.st.count("recent")

        self.ctx.ops.run("read", op, lambda n: mismatch(n, expected))


def run(ctx):
    t_setup = time.time()
    spark = ctx.start_spark()
    st = storage_mod.SparkStorage(ctx.warehouse, spark=spark)
    writer = Writer(ctx, st)
    w = 0
    setup_s = time.time() - t_setup

    ctx.ops.timed = True
    t_loop, gen0 = time.time(), writer.gen_s
    while w < MIN_WRITES or time.time() - t_loop - (writer.gen_s - gen0) < ctx.seconds:
        writer.write(w, WRITES[w % len(WRITES)])
        w += 1
    loop_s = time.time() - t_loop - (writer.gen_s - gen0)
    ctx.ops.timed = False

    ctx.extra.update(warehouse_metrics(ctx.warehouse, writer.in_bytes))
    ctx.extra.update(
        {
            "ingest_obs_per_s": (writer.obs_per_s(), "obs/s"),
            "logs.zeek_rows_per_s": (writer.rows_per_s(), "rows/s"),
            "storage.batches_max": (writer.batches_seen, "count"),
        }
    )
    ctx.report["input"] = {
        "writes": w, "bundle_obs": BUNDLE_OBS, "zeek_rows": ZEEK_ROWS,
        "bytes": writer.in_bytes,
    }
    return setup_s, loop_s
