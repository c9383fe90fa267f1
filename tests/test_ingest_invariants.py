"""Ingest invariants (Hypothesis): the driver-side ``cache`` and the
distributed ``cache_distributed`` store the same warehouse, ``compact()``
changes no result, and splitting one bundle into k ingest calls in any
order stores the same warehouse as one call.

The generator keeps the merge rules order-free on purpose: every SCO's
non-id props are a function of its id, and each observed-data lands in
exactly one split (latest-non-null and DO NOTHING are order-dependent by
design). Each ingest call must add exactly one ``__queries`` batch.
"""

import json
import os
import shutil
import tempfile
import uuid

from hypothesis import HealthCheck, given, settings, strategies as st

from firepit_spark.sources.bundles import cache_distributed
from firepit_spark.sources.logs import convert_log
from firepit_spark.storage import QUERIES, SparkStorage

N_SCO = 6
IDENTITY = {
    "type": "identity",
    "spec_version": "2.1",
    "id": "identity--b1e2c3d4-3333-4222-8333-944444444444",
    "name": "invariants",
    "identity_class": "program",
}
TIMES = [
    "2020-01-01T00:00:00Z",
    "2020-01-01T05:00:00+02:00",
    "2020-01-02T12:30:00.250Z",
    "2019-12-31T23:59:59-05:00",
]


def _sid(otype: str, k: int) -> str:
    return f"{otype}--{uuid.uuid5(uuid.NAMESPACE_URL, f'{otype}/{k}')}"


def _sco(otype: str, k: int) -> dict:
    """SCO ``k`` of ``otype``; every prop is a function of ``k``."""
    obj = {"type": otype, "spec_version": "2.1", "id": _sid(otype, k)}
    if otype == "ipv4-addr":
        obj["value"] = f"10.0.0.{k}"
    elif otype == "url":
        obj.update(
            value=f"http://h{k}.example/p",
            x_flag=bool(k % 2),
            x_score=k * 0.5 if k % 3 else k,  # int/float mix -> double
            x_mixed=True if k % 2 else f"s{k}",  # bool/str mix -> string
            x_tags=[f"t{k}", f"t{k + 1}"],
        )
    else:  # network-traffic
        obj.update(
            src_ref=_sid("ipv4-addr", k),
            dst_ref=_sid("ipv4-addr", (k + 1) % N_SCO),
            dst_port=80 + k,
            protocols=["ipv4", "tcp"],
        )
        if k % 2 == 0:
            obj["extensions"] = {"http-request-ext": {"request_method": "GET"}}
    return obj


def _refs(obj: dict) -> list:
    """SCO ids ``obj`` points at (network-traffic -> its addresses)."""
    return [v for k, v in obj.items() if k.endswith("_ref")]


@st.composite
def splits(draw):
    """(observations, k, chunk of each observation, ingest order)."""
    n_obs = draw(st.integers(1, 5))
    scos = st.tuples(
        st.sampled_from(["ipv4-addr", "url", "network-traffic"]),
        st.integers(0, N_SCO - 1),
    )
    observations = []
    for i in range(n_obs):
        first = draw(st.sampled_from(TIMES))
        observations.append({
            "type": "observed-data",
            "spec_version": "2.1",
            "id": _sid("observed-data", i),
            "created_by_ref": IDENTITY["id"],
            "created": first,
            "modified": first,
            "first_observed": first,
            "last_observed": draw(st.sampled_from(TIMES)),
            "number_observed": draw(st.integers(1, 3)),
            "object_refs": sorted(
                {_sid(t, k) for t, k in draw(st.lists(scos, min_size=1, max_size=4))}
            ),
        })
    k = draw(st.integers(2, 3))
    chunk = [draw(st.integers(0, k - 1)) for _ in observations]
    order = draw(st.permutations(range(k)))
    return observations, k, chunk, order


def _bundle(observations: list) -> dict:
    """The observations plus every SCO they reach, once each."""
    by_id = {
        _sid(t, k): _sco(t, k)
        for t in ("ipv4-addr", "url", "network-traffic")
        for k in range(N_SCO)
    }
    reached, todo = {}, [r for o in observations for r in o["object_refs"]]
    while todo:
        sid = todo.pop()
        if sid not in reached:
            reached[sid] = by_id[sid]
            todo.extend(_refs(by_id[sid]))
    objects = [IDENTITY] + observations + [reached[s] for s in sorted(reached)]
    return {"type": "bundle", "id": "bundle--invariants", "objects": objects}


def _snapshot(store: SparkStorage) -> dict:
    """table -> (sorted dtypes, sorted rows rendered as text)."""
    store._df_cache.clear()
    out = {}
    for name in sorted(os.listdir(store.tables_dir)):
        df = store.table_df(name)
        cols = sorted(df.columns)
        rows = sorted(
            tuple(str(v) for v in r) for r in df.select(*[f"`{c}`" for c in cols]).collect()
        )
        out[name] = (sorted(df.dtypes), rows)
    return out


def _query_batches(store: SparkStorage) -> int:
    return len(store._batch_numbers(store._table_path(QUERIES)))


@settings(
    max_examples=3,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(case=splits())
def test_ingest_invariants(spark, case):
    observations, k, chunk, order = case
    bundle = _bundle(observations)
    root = tempfile.mkdtemp(prefix="fp_invariants_")
    try:
        one = SparkStorage(os.path.join(root, "one"), spark=spark)
        one.cache("q1", bundle)
        assert _query_batches(one) == 1
        want = _snapshot(one)

        # cache == cache_distributed
        path = os.path.join(root, "bundle.json")
        with open(path, "w") as fp:
            json.dump(bundle, fp)
        dist = SparkStorage(os.path.join(root, "dist"), spark=spark)
        cache_distributed(dist, "q1", path)
        assert _query_batches(dist) == 1
        assert _snapshot(dist) == want

        # one bundle split into k calls, in any order
        split = SparkStorage(os.path.join(root, "split"), spark=spark)
        for n, part in enumerate(order, 1):
            split.cache(
                "q1", _bundle([o for o, c in zip(observations, chunk) if c == part])
            )
            assert _query_batches(split) == n
        assert _snapshot(split) == want

        # compact() changes no result
        split.compact()
        assert _snapshot(split) == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_convert_log_adds_one_query_batch(spark, tmp_path):
    rows = [
        (1600000000.5, "192.168.1.10", 49152, "10.0.0.5", 443, "tcp", 1200, 4096),
        (1600000003.0, "192.168.1.10", 49154, "10.0.0.9", 80, "tcp", 10, 20),
    ]
    df = spark.createDataFrame(
        rows,
        "ts double, `id.orig_h` string, `id.orig_p` int, `id.resp_h` string, "
        "`id.resp_p` int, proto string, orig_ip_bytes long, resp_ip_bytes long",
    )
    store = SparkStorage(str(tmp_path / "wh"), spark=spark)
    types = convert_log(store, df, query_id="zeek1")
    assert {"ipv4-addr", "network-traffic", "observed-data"} <= set(types)
    assert _query_batches(store) == 1
    tagged = store.table_df(QUERIES).filter("query_id = 'zeek1'").count()
    assert tagged == sum(store.count(t) for t in types if not t.startswith("__"))
