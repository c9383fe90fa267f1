"""``hunt``: the paper's session over a bulk-loaded warehouse.

One ``cache_distributed`` call loads every bundle file, then rounds of
dependent ops run over named views: pattern extracts (LIKE, ISSUBSET,
= with START/STOP), a filter over a view, a group by a dereferenced ref
path, the observation aggregates on one shared view, a two-hop ``values``,
and a sort ``assign`` read back one ``lookup`` page. Each op includes the
call that makes Spark do its work, and each result is checked against the
generator's records.
"""

from __future__ import annotations

import random
import time
from collections import Counter
from datetime import timedelta

import firepit_spark.sources.bundles as bundles
import firepit_spark.storage as storage_mod

from perfbench import expect, gen
from perfbench.core import batches_max, mismatch, warehouse_metrics

N_OBS = 2000
N_FILES = 8
QID = "hunt"
PAGE = 20
# warm rounds measured 9 s, 7 s, 6.3 s, 6.3 s: one warm-up round leaves the
# timed rounds within ~10 % of flat, which is what the run budget allows
WARMUP_ROUNDS = 1


def round_ops(st, records, rnd: random.Random):
    """The ops of one round as (kind, fn, check) in dependency order."""
    site = rnd.randrange(12)
    like = f"%://site{site}.example/%"
    url_recs = [r for r in records if expect.like(r["url"], like)]
    a = rnd.randrange(4)
    cidr = f"10.{a}.0.0/16"
    ips = expect.ips_in(records, cidr)
    digit = rnd.randrange(1, 10)
    ip_like = f"%.{digit}_"
    port = gen.DST_PORTS[rnd.randrange(3)]
    start = gen.BASE_TIME + timedelta(seconds=rnd.randrange(0, 20 * 3600))
    stop = start + timedelta(hours=4)
    t0, t1 = gen.stix_ts(start), gen.stix_ts(stop)
    window = expect.traffic_in_window(records, port, t0, t1)
    proc = gen.PROC_NAMES[rnd.randrange(8)]
    offset = rnd.randrange(max(1, len(window) - PAGE))

    def extract_like():
        st.extract("urls", "url", QID, f"[url:value LIKE '{like}']")
        return set(st.values("url:value", "urls"))

    def extract_cidr():
        st.extract("ips", "ipv4-addr", QID, f"[ipv4-addr:value ISSUBSET '{cidr}']")
        return st.count("ips")

    def extract_time():
        st.extract(
            "flows", "network-traffic", QID,
            f"[network-traffic:dst_port = {port}] START t'{t0}' STOP t'{t1}'",
            honor_qualifiers=True,
        )
        return st.count("flows")

    def filter_view():
        st.filter("ips_f", "ipv4-addr", "ips", f"[ipv4-addr:value LIKE '{ip_like}']")
        return set(st.values("ipv4-addr:value", "ips_f"))

    def group():
        st.group("by_dst", "flows", by="dst_ref.value")
        return [r["dst_ref.value"] for r in st.lookup("by_dst")]

    def value_counts():
        return Counter({r["url:value"]: r["count"] for r in st.value_counts("urls", "url:value")})

    def number_observed():
        return st.number_observed("urls", "url:value")

    def summary():
        return st.summary("urls")

    def timestamped():
        rows = st.timestamped("urls", path="url:value")
        return Counter((r["first_observed"], r["url:value"]) for r in rows)

    def values_2hop():
        st.extract("procs", "process", QID, f"[process:name = '{proc}']")
        return Counter(st.values("process:binary_ref.parent_directory_ref.path", "procs"))

    def assign_lookup():
        st.assign("flows_by_port", "flows", op="sort", by="src_port", ascending=False)
        page = st.lookup("flows_by_port", cols=["src_port"], limit=PAGE, offset=offset)
        return [r["src_port"] for r in page]

    dsts = sorted({r["dst"] for r in window})
    return [
        ("extract_like", extract_like, lambda v: mismatch(v, {r["url"] for r in url_recs})),
        ("extract_cidr", extract_cidr, lambda v: mismatch(v, len(ips))),
        ("extract_time", extract_time, lambda v: mismatch(v, len(window))),
        ("filter", filter_view, lambda v: mismatch(v, {i for i in ips if expect.like(i, ip_like)})),
        ("group", group, lambda v: mismatch(sorted(v), dsts)),
        ("value_counts", value_counts, lambda v: mismatch(v, expect.value_counts(url_recs))),
        ("number_observed", number_observed, lambda v: mismatch(v, expect.number_observed(url_recs))),
        ("summary", summary, lambda v: mismatch(v, expect.summary(url_recs))),
        ("timestamped", timestamped, lambda v: mismatch(v, expect.timestamped(url_recs))),
        ("values_2hop", values_2hop, lambda v: mismatch(v, expect.process_dirs(records, proc))),
        ("assign_lookup", assign_lookup,
         lambda v: mismatch(v, expect.sorted_page(window, "sport", True, offset, PAGE))),
    ]


def run_round(ctx, st, records, r: int) -> float:
    t = time.time()
    for kind, fn, check in round_ops(st, records, random.Random(f"{ctx.seed}-{r}")):
        ctx.ops.run(kind, fn, check)
    return time.time() - t


def run(ctx):
    paths, records, in_bytes = gen.hunt_inputs(ctx.seed, ctx.data_dir, N_OBS, N_FILES)
    t_setup = time.time()
    spark = ctx.start_spark()
    st = storage_mod.SparkStorage(ctx.warehouse, spark=spark)
    urls = {r["url"] for r in records}
    t = time.time()
    ctx.ops.run(
        "bulk_load",
        lambda: bundles.cache_distributed(st, QID, paths),
        lambda _: mismatch(st.count("url"), len(urls)),
    )
    load_s = time.time() - t
    times = [run_round(ctx, st, records, r) for r in range(WARMUP_ROUNDS)]
    r = WARMUP_ROUNDS
    setup_s = time.time() - t_setup

    ctx.ops.timed = True
    t_loop = time.time()
    while time.time() - t_loop < ctx.seconds:
        run_round(ctx, st, records, r)
        r += 1
    loop_s = time.time() - t_loop
    ctx.ops.timed = False
    ctx.extra.update(warehouse_metrics(ctx.warehouse, in_bytes))
    ctx.extra.update(
        {
            "ingest_obs_per_s": (N_OBS / load_s, "obs/s"),
            "storage.batches_max": (batches_max(ctx.warehouse), "count"),
        }
    )
    ctx.report.update(
        {"input": {"observations": N_OBS, "files": N_FILES, "bytes": in_bytes},
         "warmup_rounds": times, "load_s": round(load_s, 3)}
    )
    # after the warehouse figures above, which describe the bulk load
    if ctx.tracer:
        # the session adds a bundle dict (the driver-side flatten path) and
        # a zeek log, each read back; __queries stays under
        # auto_compact_batches, so this leg does not compact
        from perfbench.ingest import Writer

        writer = Writer(ctx, st)
        writer.write(0, "bundle_dict")
        writer.write(1, "zeek")
        ctx.extra.update(
            {
                "logs.zeek_rows_per_s": (writer.rows_per_s(), "rows/s"),
                "storage.batches_max": (batches_max(ctx.warehouse), "count"),
            }
        )
    return setup_s, loop_s
