"""End-to-end storage tests over the synthesized bundle (modeled on the
reference's test strategy, SURVEY.md §5)."""

from firepit_spark.query import (
    Aggregation,
    BinnedColumn,
    Filter,
    Group,
    Limit,
    Order,
    Predicate,
    Projection,
    Query,
)

from tests.conftest import count_jobs, distinct_urls, url_occurrences

# bundle facts (see tests/conftest.py): 100 obs, 90 url occurrences over
# distinct_urls() values, 14 user logins, dst 192.168.x, src 10.0.x


def test_tables_and_types(store):
    assert "ipv4-addr" in store.types()
    assert "network-traffic" in store.types()
    assert "observed-data" in store.tables()
    assert store.table_type("url") == "url"


def test_dedup_on_ingest(store):
    # urls repeat across observations and collapse to one row per value
    assert store.count("url") == distinct_urls()
    # every observation row survives
    assert store.count("observed-data") == 100


def test_extract_like(store):
    store.extract("urls", "url", "q1", "[url:value LIKE '%page/1']")
    values = store.values("url:value", "urls")
    assert values and all(v.endswith("page/1") for v in values)


def test_extract_no_pattern(store):
    store.extract("all_urls", "url", "q1", "")
    assert store.count("all_urls") == distinct_urls()


def test_extract_issubset(store):
    store.extract("dsts", "ipv4-addr", "q1", "[ipv4-addr:value ISSUBSET '192.168.0.0/16']")
    vals = store.values("ipv4-addr:value", "dsts")
    assert vals and all(v.startswith("192.168.") for v in vals)


def test_filter_view(store):
    store.extract("urls", "url", "q1", "")
    store.filter("p1", "url", "urls", "[url:value LIKE '%page/1%']")
    assert 0 < store.count("p1") < store.count("urls")


def test_views_live_dependency(store):
    """Redefining a base view changes dependents (reference behavior at
    tests/test_storage.py:84-91)."""
    store.extract("urls", "url", "q1", "")
    store.assign("sorted_urls", "urls", op="sort", by="url:value")
    n_before = store.count("sorted_urls")
    store.extract("urls", "url", "q1", "[url:value LIKE '%page/1%']")
    assert store.count("sorted_urls") == store.count("urls") < n_before


def test_self_redefinition_snapshot(store):
    store.extract("urls", "url", "q1", "")
    store.filter("urls", "url", "urls", "[url:value LIKE '%page/2%']")
    vals = store.values("url:value", "urls")
    assert vals and all("page/2" in v for v in vals)


def test_lookup_deref(store):
    store.extract("conns", "network-traffic", "q1", "")
    rows = store.lookup("conns", limit=5)
    assert len(rows) == 5
    sample = rows[0]
    assert "src_ref.value" in sample and "dst_ref.value" in sample
    assert sample["type"] == "network-traffic"


def test_view_spec_rebuilds_live_across_processes(store):
    """A materialized view re-registers LIVE from its persisted recipe in a
    new storage instance, so later table updates flow through (reference
    views are DB views and behave this way; the parquet snapshot is only a
    fallback for closure-only definitions)."""
    import copy

    from firepit_spark.storage import SparkStorage
    from tests.conftest import make_bundle

    store.extract("urls", "url", "q1", "[url:value LIKE '%page/1%']")
    store.materialize("urls")
    n_before = store.count("urls")

    # a second batch lands AFTER materialization
    st2 = SparkStorage(store.path, spark=store.spark)
    st2.cache("q1", copy.deepcopy(make_bundle(100)))  # same ids, no-op
    extra = {
        "type": "bundle",
        "id": "bundle--extra",
        "objects": [
            {"type": "identity", "id": "identity--9", "name": "x"},
            {
                "type": "observed-data",
                "id": "observed-data--extra1",
                "created_by_ref": "identity--9",
                "first_observed": "2024-05-02T00:00:00Z",
                "last_observed": "2024-05-02T00:00:00Z",
                "number_observed": 1,
                "objects": {"0": {"type": "url", "value": "http://new.example.com/page/1"}},
            },
        ],
    }
    st2.cache("q1", extra)
    assert st2.count("urls") == n_before + 1  # live rebuild, not stale snapshot
    # paged lookup over a multi-batch store equals the unbounded lookup
    import copy

    from tests.conftest import make_bundle

    # second batch so the store spans multiple ingests (upsert-merged)
    store.cache("q2", copy.deepcopy(make_bundle(40)))
    store.extract("conns", "network-traffic", "q1", "")
    store.assign("conns_sorted", "conns", op="sort", by="network-traffic:src_port")
    full = store.lookup("conns_sorted")
    total = store.count("conns_sorted")
    assert len(full) == total
    page_size = 7
    paged = []
    for off in range(0, total, page_size):
        paged.extend(store.lookup("conns_sorted", limit=page_size, offset=off))
    assert len(paged) == total
    assert {r["id"] for r in paged} == {r["id"] for r in full}


def test_lookup_iter_streams(store):
    """lookup_iter yields the same rows as lookup without materializing."""
    store.extract("urls", "url", "q1", "")
    eager = store.lookup("urls")
    streamed = list(store.lookup_iter("urls"))
    assert len(streamed) == len(eager)
    assert {r["id"] for r in streamed} == {r["id"] for r in eager}
    assert all(r["type"] == "url" for r in streamed)


def test_values_via_deref(store):
    store.extract("conns", "network-traffic", "q1", "")
    vals = store.values("network-traffic:dst_ref.value", "conns")
    assert vals and all(v.startswith("192.168.") for v in vals)


def test_merge_views(store):
    store.extract("p1", "url", "q1", "[url:value LIKE '%page/1']")
    store.extract("p2", "url", "q1", "[url:value LIKE '%page/2']")
    store.merge("both", ["p1", "p2"])
    assert store.count("both") == store.count("p1") + store.count("p2")


def test_join_views(store):
    store.extract("conns", "network-traffic", "q1", "")
    store.extract("ips", "ipv4-addr", "q1", "")
    store.join("j", "conns", "dst_ref", "ips", "id")
    assert store.count("j") == store.count("conns")


def test_group_auto_agg(store):
    store.extract("conns", "network-traffic", "q1", "")
    store.group("by_dport", "conns", "network-traffic:dst_port")
    rows = store.lookup("by_dport")
    cols = set(rows[0].keys())
    assert "dst_port" in cols
    assert "unique_src_port" in cols  # NUNIQUE inference for ports


def test_group_explicit_aggs(store):
    store.extract("urls2", "url", "q1", "")
    store.group("g", "urls2", "url:value", aggs=[("COUNT", "id", "n")])
    rows = store.lookup("g")
    assert all(r["n"] >= 1 for r in rows)


def test_assign_sort_limit(store):
    store.extract("urls", "url", "q1", "")
    store.assign("top", "urls", op="sort", by="url:value", ascending=False, limit=3)
    rows = store.lookup("top")
    assert len(rows) == 3
    vals = [r["value"] for r in rows]
    assert vals == sorted(vals, reverse=True)


def test_summary_and_number_observed(store):
    store.extract("urls", "url", "q1", "")
    s = store.summary("urls")
    assert s["first_observed"] is not None
    assert s["number_observed"] > 0
    total = store.number_observed("urls", "url:value")
    assert total == s["number_observed"]


def test_value_counts(store):
    store.extract("accts", "user-account", "q1", "")
    counts = store.value_counts("accts", "user-account:account_login")
    assert sum(c["count"] for c in counts) == 100  # every obs has one account
    assert len(counts) == 14


def test_timestamped(store):
    store.extract("urls", "url", "q1", "")
    rows = store.timestamped("urls")
    assert len(rows) == url_occurrences()  # one per containing observation
    assert "first_observed" in rows[0]


def test_assign_query_dsl(store):
    q = Query("network-traffic")
    q.append(Filter([Predicate("dst_port", "IN", [22, 443])]))
    q.append(Projection(["id", "dst_port"]))
    store.assign_query("well_known", q)
    rows = store.lookup("well_known", cols=["id", "dst_port"])
    assert rows and all(r["dst_port"] in (22, 443) for r in rows)


def test_assign_query_auto_agg_group(store):
    q = Query("network-traffic")
    q.append(Group(["dst_port"]))
    store.assign_query("by_port", q)
    rows = store.lookup("by_port")
    assert "unique_src_port" in rows[0]


def test_time_binning(store):
    store.extract("od", "observed-data", "q1", "")
    q = Query("od")
    q.append(Group([BinnedColumn("first_observed", 2, "m", alias="bucket")]))
    q.append(Aggregation([("SUM", "number_observed", "total")]))
    q.append(Order(["bucket"]))
    rows = store.run_query(q)
    assert len(rows) == 3  # 5-minute span / 2-minute bins
    assert sum(r["total"] for r in rows) == sum(1 + (i % 3) for i in range(100))


def test_load_and_reassign(store):
    objs = [
        {"type": "x-note", "id": "x-note--1", "label": "a"},
        {"type": "x-note", "id": "x-note--2", "label": "b"},
    ]
    store.load("notes", objs, sco_type="x-note", query_id="q9")
    assert store.count("notes") == 2
    store.reassign("notes", [{"type": "x-note", "id": "x-note--1", "label": "z"}])
    labels = {r["label"] for r in store.lookup("notes")}
    assert labels == {"z", "b"}


def test_load_strings(store):
    store.load("just_urls", ["http://x/1", "http://x/2"], sco_type="url", query_id="q8")
    assert sorted(store.values("url:value", "just_urls")) == ["http://x/1", "http://x/2"]


def test_rename_remove_appdata(store):
    store.extract("urls", "url", "q1", "")
    store.set_appdata("urls", '{"k": 1}')
    store.rename_view("urls", "urls2")
    assert store.get_appdata("urls2") == '{"k": 1}'
    assert "urls" not in store.views()
    store.remove_view("urls2")
    assert "urls2" not in store.views()


def test_query_id_isolation(store, bundle):
    import copy

    extra = copy.deepcopy(bundle)
    # retag a second batch: same objects under another query id
    store.cache("q2", extra)
    store.extract("urls_q2", "url", "q2", "")
    store.extract("urls_q1", "url", "q1", "")
    assert store.count("urls_q2") == store.count("urls_q1") == distinct_urls()
    # dedup survived the double ingest
    assert store.count("url") == distinct_urls()


def test_load_predereffed_csv_rows(spark, tmp_path):
    """Pre-deref'ed dot-keyed rows (the reference's test_procs.csv scenario,
    reference tests/test_storage.py:119-136) load as-is and lookup returns
    the dotted columns."""
    from firepit_spark.storage import SparkStorage

    st = SparkStorage(str(tmp_path / "wh"), spark=spark)
    rows = [
        {
            "type": "process", "id": "process--aaa_0", "pid": 864, "name": "reg.exe",
            "parent_ref.type": "process", "parent_ref.id": "process--aaa_3",
            "parent_ref.pid": 3140, "parent_ref.command_line": "cmd.exe /c x",
            "binary_ref.parent_directory_ref.path": "C:\\Windows\\System32",
            "first_observed": "2017-05-01T20:20:39.851Z", "number_observed": 1,
        },
        {
            "type": "process", "id": "process--bbb_0", "pid": 123, "name": "calc.exe",
            "parent_ref.type": "process", "parent_ref.id": "process--bbb_3",
            "parent_ref.pid": 99, "parent_ref.command_line": "explorer.exe",
            "binary_ref.parent_directory_ref.path": "C:\\Windows",
            "first_observed": "2017-05-01T20:20:42.959Z", "number_observed": 1,
        },
    ]
    assert st.load("test_procs", rows) == "process"
    out = st.lookup("test_procs")
    assert len(out) == 2
    r = next(x for x in out if x["pid"] == 864)
    assert r["parent_ref.command_line"] == "cmd.exe /c x"
    assert r["binary_ref.parent_directory_ref.path"] == "C:\\Windows\\System32"
    ids = {x["id"] for x in out}
    assert ids == {"process--aaa_0", "process--bbb_0"}


def test_reflist_path_values(spark, tmp_path):
    """_refs list paths resolve through the __reflist double hop
    (J3 parity: firepit/sqlstorage.py:107-140)."""
    from firepit_spark.storage import SparkStorage

    st = SparkStorage(str(tmp_path / "wh"), spark=spark)
    bundle = {"type": "bundle", "id": "bundle--x", "objects": [
        {"type": "identity", "id": "identity--1", "name": "t"},
        {"type": "observed-data", "id": "observed-data--1",
         "created_by_ref": "identity--1",
         "first_observed": "2020-01-01T00:00:00Z",
         "last_observed": "2020-01-01T00:00:00Z", "number_observed": 1,
         "objects": {
             "0": {"type": "domain-name", "value": "ex.org",
                   "resolves_to_refs": ["1", "2"]},
             "1": {"type": "ipv4-addr", "value": "10.0.0.1"},
             "2": {"type": "ipv4-addr", "value": "10.0.0.2"}}}]}
    st.cache("q1", [bundle])
    st.extract("doms", "domain-name", "q1", "")
    vals = st.values("domain-name:resolves_to_refs.value", "doms")
    assert sorted(vals) == ["10.0.0.1", "10.0.0.2"]
    # plain column and single-_ref paths still work
    assert st.values("domain-name:value", "doms") == ["ex.org"]


def test_multi_ref_hop_path_values(spark, tmp_path):
    """Two chained plain ``_ref`` hops (process→file→directory) resolve via
    successive broadcast joins (J3 parity: get_path_joins,
    firepit/sqlstorage.py:107-140). Regression: the per-hop join alias
    contains dots and used to be misread as struct access on hop 2."""
    from firepit_spark.storage import SparkStorage

    st = SparkStorage(str(tmp_path / "wh"), spark=spark)
    bundle = {"type": "bundle", "id": "bundle--y", "objects": [
        {"type": "identity", "id": "identity--1", "name": "t"},
        {"type": "observed-data", "id": "observed-data--1",
         "created_by_ref": "identity--1",
         "first_observed": "2020-01-01T00:00:00Z",
         "last_observed": "2020-01-01T00:00:00Z", "number_observed": 1,
         "objects": {
             "0": {"type": "directory", "path": "/usr/bin"},
             "1": {"type": "file", "name": "nc", "parent_directory_ref": "0"},
             "2": {"type": "process", "name": "nc -l", "pid": 7,
                   "binary_ref": "1"}}}]}
    st.cache("q1", [bundle])
    st.extract("procs", "process", "q1", "")
    path = "process:binary_ref.parent_directory_ref.path"
    assert st.values(path, "procs") == ["/usr/bin"]
    # DataFrame core exposes the resolved dotted column, no stray join ids
    df = st.values_df(path, "procs")
    assert df.columns == ["binary_ref.parent_directory_ref.path"]


def test_obs_counts_over_ref_paths(spark, tmp_path):
    """value_counts / number_observed accept deref'ed and reflist paths."""
    from firepit_spark.storage import SparkStorage

    st = SparkStorage(str(tmp_path / "wh"), spark=spark)
    bundle = {"type": "bundle", "id": "bundle--x", "objects": [
        {"type": "identity", "id": "identity--1", "name": "t"},
        {"type": "observed-data", "id": "observed-data--1",
         "created_by_ref": "identity--1",
         "first_observed": "2020-01-01T00:00:00Z",
         "last_observed": "2020-01-01T00:00:00Z", "number_observed": 3,
         "objects": {
             "0": {"type": "network-traffic", "src_ref": "1", "dst_port": 80,
                   "protocols": ["tcp"]},
             "1": {"type": "ipv4-addr", "value": "10.0.0.1"}}}]}
    st.cache("q1", [bundle])
    st.extract("conns", "network-traffic", "q1", "")
    # deref path through src_ref
    vc = st.value_counts("conns", "network-traffic:src_ref.value")
    # the value column keys on the FULL path, as the reference labels it
    assert vc == [{"network-traffic:src_ref.value": "10.0.0.1",
                   "count": 1}]
    n = st.number_observed("conns", "network-traffic:src_ref.value", "10.0.0.1")
    assert n == 3


def test_group_by_reflist_path(spark, tmp_path):
    from firepit_spark.storage import SparkStorage

    st = SparkStorage(str(tmp_path / "wh"), spark=spark)
    bundle = {"type": "bundle", "id": "bundle--x", "objects": [
        {"type": "identity", "id": "identity--1", "name": "t"},
        {"type": "observed-data", "id": "observed-data--1",
         "created_by_ref": "identity--1",
         "first_observed": "2020-01-01T00:00:00Z",
         "last_observed": "2020-01-01T00:00:00Z", "number_observed": 1,
         "objects": {
             "0": {"type": "domain-name", "value": "a.org",
                   "resolves_to_refs": ["2", "3"]},
             "1": {"type": "domain-name", "value": "b.org",
                   "resolves_to_refs": ["2"]},
             "2": {"type": "ipv4-addr", "value": "10.0.0.1"},
             "3": {"type": "ipv4-addr", "value": "10.0.0.2"}}}]}
    st.cache("q1", [bundle])
    st.extract("doms", "domain-name", "q1", "")
    st.group("by_ip", "doms", "domain-name:resolves_to_refs.value")
    rows = st.lookup("by_ip")
    counts = {r["resolves_to_refs.value"]: r for r in rows}
    assert set(counts) == {"10.0.0.1", "10.0.0.2"}
    # 10.0.0.1 resolves from both domains
    assert counts["10.0.0.1"]["unique_value"] == 2
    assert counts["10.0.0.2"]["unique_value"] == 1


def test_sorted_view_order_survives_lookup_deref(spark, tmp_path):
    """Sorted views re-apply their order at lookup even though auto-deref
    adds joins (the reference scrapes ORDER BY from viewdef text;
    firepit/sqlstorage.py:607-621)."""
    from firepit_spark.storage import SparkStorage

    st = SparkStorage(str(tmp_path / "wh"), spark=spark)
    objs = {str(i): {"type": "network-traffic", "src_ref": "9",
                     "dst_port": 100 - i, "protocols": ["tcp"],
                     "src_port": 1000 + i} for i in range(8)}
    objs["9"] = {"type": "ipv4-addr", "value": "10.9.9.9"}
    st.cache("q1", [{"type": "bundle", "id": "bundle--x", "objects": [
        {"type": "identity", "id": "identity--1", "name": "t"},
        {"type": "observed-data", "id": "observed-data--1",
         "created_by_ref": "identity--1",
         "first_observed": "2020-01-01T00:00:00Z",
         "last_observed": "2020-01-01T00:00:00Z", "number_observed": 1,
         "objects": objs}]}])
    st.extract("conns", "network-traffic", "q1", "")
    st.assign("by_port", "conns", op="sort", by="dst_port", ascending=False)
    rows = st.lookup("by_port")
    ports = [r["dst_port"] for r in rows]
    assert ports == sorted(ports, reverse=True)
    # deref columns present alongside the preserved order
    assert rows[0]["src_ref.value"] == "10.9.9.9"


def test_relationship_objects_ingest(spark, tmp_path):
    """STIX relationship SDOs land in their own table and keep
    source_ref/target_ref (deref leaves them untyped, like the reference)."""
    from firepit_spark.storage import SparkStorage

    st = SparkStorage(str(tmp_path / "wh"), spark=spark)
    st.cache("q1", [{"type": "bundle", "id": "bundle--x", "objects": [
        {"type": "identity", "id": "identity--1", "name": "t"},
        {"type": "relationship", "id": "relationship--1",
         "relationship_type": "resolves-to",
         "source_ref": "domain-name--aaa", "target_ref": "ipv4-addr--bbb",
         "created": "2020-01-01T00:00:00Z"}]}])
    assert "relationship" in st.tables()
    rows = st.lookup("relationship")
    assert rows[0]["relationship_type"] == "resolves-to"
    assert rows[0]["source_ref"] == "domain-name--aaa"
    assert rows[0]["target_ref"] == "ipv4-addr--bbb"


def test_enrich_dataframe(spark, tmp_path):
    from firepit_spark.storage import SparkStorage
    from pyspark.sql import functions as F

    st = SparkStorage(str(tmp_path / "wh"), spark=spark)
    st.load("u", [{"type": "url", "value": "http://a/1"},
                  {"type": "url", "value": "http://a/2"}])
    base = st.table_df("url").select("id", "value")
    # distributed enrichment: derive a column on executors, write back
    enriched = base.withColumn("x_len", F.length("value")).drop("value")
    st.enrich("url", enriched)
    rows = {r["value"]: r["x_len"] for r in st.table_df("url").collect()}
    assert rows == {"http://a/1": 10, "http://a/2": 10}
    # existing columns survive (latest-non-null merge)
    assert st.count("url") == 2


def test_feature_type():
    from firepit_spark.props import feature_type

    assert feature_type("first_observed") == "timestamp"
    assert feature_type("network-traffic:src_port", "int") == "categorical"
    assert feature_type("process:pid", "bigint") == "categorical"
    assert feature_type("src_byte_count", "bigint") == "numerical"
    assert feature_type("value", "double") == "numerical"
    assert feature_type("url:value", "string") == "categorical"


def test_lifecycle_finish_compacts_batches(store):
    """finish() (parity: sqlstorage.py:824) folds multi-batch tables into
    one partition — the Spark analog of the reference's post-load index."""
    import os

    store.load("extra", [{"type": "url", "value": "http://later/1"}])
    url_path = store._table_path("url")
    assert len(store._batch_numbers(url_path)) >= 1
    before = store.count("url")
    store.finish()
    assert all(
        len(store._batch_numbers(store._table_path(t))) <= 1
        for t in os.listdir(store.tables_dir)
        if os.path.isdir(store._table_path(t))
    )
    assert store.count("url") == before  # compaction preserves merged state


def test_lifecycle_delete_wipes_store(store):
    """delete() (parity: sqlstorage.py:731) removes ALL data in the store."""
    import os

    import pytest

    from firepit_spark.exceptions import UnknownViewname

    assert store.count("url") > 0
    store.delete()
    assert os.listdir(store.tables_dir) == []  # empty-but-valid warehouse
    assert store.tables() == []
    with pytest.raises(UnknownViewname):
        store.get_df("url")


def test_lifecycle_close_keeps_shared_session(store, spark):
    """close() (parity: sqlstorage.py:160) drops caches but must not stop a
    caller-supplied SparkSession; the on-disk warehouse reopens cleanly."""
    from firepit_spark.storage import SparkStorage

    n = store.count("url")
    store.close()
    store.close()  # idempotent
    assert spark.range(1).count() == 1  # shared session survives
    reopened = SparkStorage(store.path, spark=spark)
    assert reopened.count("url") == n


def test_props_metadata_shims():
    """Reference-named helpers kept for migrating callers
    (firepit/props.py:324-359)."""
    from firepit_spark.props import get_last, path_metadata, prop_metadata

    assert get_last("network-traffic:src_ref.value") == "value"
    assert path_metadata("observed-data:first_observed")["ftype"] == "timestamp"
    assert path_metadata("network-traffic:src_port") == {
        "dtype": "int", "ftype": "categorical"
    }
    assert prop_metadata("network-traffic", "dst_ref.value")["ftype"] == "categorical"
    assert path_metadata("observed-data:number_observed") == {
        "dtype": "int", "ftype": "numerical"
    }


def test_upsert_and_path_joins_shims(spark, tmp_path):
    from firepit_spark.storage import SparkStorage

    st = SparkStorage(str(tmp_path / "wh_shim"), spark=spark)
    st.upsert_many(
        None,
        "ipv4-addr",
        [{"id": f"ipv4-addr--u{i}", "value": f"10.9.0.{i}"} for i in range(3)],
        "qshim",
    )
    st.upsert(None, "ipv4-addr", {"id": "ipv4-addr--u0", "value": "10.9.0.0"}, "qshim2")
    vals = {r["value"] for r in st.values_df("ipv4-addr:value", "ipv4-addr").collect()}
    assert {"10.9.0.0", "10.9.0.1", "10.9.0.2"} <= vals
    assert st.count("ipv4-addr") == 3  # id conflict merged, not duplicated

    # plain column: no joins; ref path: link tuples
    assert st.path_joins(None, "network-traffic", "src_port") == []
    links = st.path_joins(None, "network-traffic", "src_ref.value")
    assert links and links[0][0] == "rel" and links[-1][0] == "node"


def test_reference_compat_helpers(spark, tmp_path):
    """Module-level reference-compat names: auto_deref/auto_deref_cached
    (firepit/deref.py:73-106), json_normalize (firepit/raft.py:77),
    get_path_joins (firepit/sqlstorage.py:107-140)."""
    from firepit_spark.deref import auto_deref, auto_deref_cached
    from firepit_spark.flatten import json_normalize, normalize_obj
    from firepit_spark.storage import SparkStorage, get_path_joins

    st = SparkStorage(str(tmp_path / "wh_compat"), spark=spark)
    st.cache("q1", {"type": "bundle", "id": "bundle--c", "objects": [
        {"type": "identity", "id": "identity--1", "name": "t"},
        {"type": "observed-data", "id": "observed-data--1",
         "created_by_ref": "identity--1",
         "first_observed": "2020-01-01T00:00:00Z",
         "last_observed": "2020-01-01T00:00:00Z", "number_observed": 1,
         "objects": {
             "0": {"type": "ipv4-addr", "value": "10.0.0.1"},
             "1": {"type": "ipv4-addr", "value": "10.0.0.2"},
             "2": {"type": "network-traffic", "src_ref": "0", "dst_ref": "1",
                   "src_port": 1234, "dst_port": 80, "protocols": ["tcp"]},
         }}]})
    st.extract("conns", "network-traffic", "q1", "")
    dfd = auto_deref(st, "conns")
    assert "src_ref.value" in dfd.columns and "dst_ref.value" in dfd.columns
    row = dfd.select("`src_ref.value`", "`dst_ref.value`").collect()[0]
    assert (row[0], row[1]) == ("10.0.0.1", "10.0.0.2")
    dfd2 = auto_deref_cached("conns", st._resolve("conns"), st)
    assert sorted(dfd2.columns) == sorted(dfd.columns)
    # paths= pruning mirrors the reference's selective deref
    only_src = auto_deref(st, "conns", paths=["src_ref.value"])
    assert "src_ref.value" in only_src.columns
    assert "dst_ref.value" not in only_src.columns

    assert json_normalize({"type": "file", "hashes": {"SHA-1": "x"}}) == \
        normalize_obj({"type": "file", "hashes": {"SHA-1": "x"}})

    # reference contract: (joins, target_table, target_column) triple
    # (firepit/sqlstorage.py:107-140)
    joins, tt, tc = get_path_joins("conns", "network-traffic", "src_port")
    assert joins == [] and tt == "conns" and tc == "src_port"
    joins, tt, tc = get_path_joins("conns", "network-traffic", "src_ref.value")
    assert len(joins) == 1 and joins[0].name == "ipv4-addr"
    assert joins[0].how == "LEFT OUTER" and joins[0].lhs == "conns"
    assert joins[0].alias == "src" and (tt, tc) == ("src", "value")


def test_observation_stats_fused_matches_separate_ops(spark, tmp_path):
    """observation_stats_df (one triple join + one groupBy) must equal
    value_counts_df joined with number_observed_df."""
    from firepit_spark.storage import SparkStorage

    st = SparkStorage(str(tmp_path / "wh_fused"), spark=spark)
    objs = [{"type": "identity", "id": "identity--1", "name": "t"}]
    for i in range(6):
        objs.append({
            "type": "observed-data", "id": f"observed-data--{i}",
            "created_by_ref": "identity--1",
            "first_observed": f"2020-01-01T00:0{i}:00Z",
            "last_observed": f"2020-01-01T00:0{i}:00Z",
            "number_observed": 1 + i % 3,
            "objects": {"0": {"type": "url", "value": f"http://x/{i % 2}"}},
        })
    st.cache("q1", {"type": "bundle", "id": "bundle--f", "objects": objs})
    st.extract("urls", "url", "q1", "")
    fused = {(r["value"], r["count"], r["number_observed"])
             for r in st.observation_stats_df("urls", "url:value").collect()}
    counts = st.value_counts_df("urls", "url:value")
    nobs = st.number_observed_df("urls", "url:value")
    sep = {(r["value"], r["count"], r["number_observed"])
           for r in counts.join(nobs, "value").collect()}
    assert fused == sep and len(fused) == 2


def test_obs_ops_on_view_with_reserved_prefix_column(spark, tmp_path):
    """A view column named like the memo's ``__fp_obs_`` prefix takes the
    uncached path instead of colliding with the prefixed observed-data
    columns (ambiguous reference)."""
    from firepit_spark.storage import SparkStorage

    st = SparkStorage(str(tmp_path / "wh_prefix"), spark=spark)
    objs = [{"type": "identity", "id": "identity--1", "name": "t"}]
    for i in range(4):
        objs.append({
            "type": "observed-data", "id": f"observed-data--{i}",
            "created_by_ref": "identity--1",
            "first_observed": f"2020-01-01T00:0{i}:00Z",
            "last_observed": f"2020-01-01T00:0{i}:00Z",
            "number_observed": 1 + i % 3,
            "objects": {"0": {"type": "url", "value": f"http://x/{i % 2}",
                              "__fp_obs_number_observed": f"tag{i % 2}"}},
        })
    st.cache("q1", {"type": "bundle", "id": "bundle--p", "objects": objs})
    st.extract("urls", "url", "q1", "")
    path = "url:__fp_obs_number_observed"
    counts = sorted((r[path], r["count"]) for r in st.value_counts("urls", path))
    assert counts == [("tag0", 2), ("tag1", 2)]
    assert st.number_observed("urls", "url:value") == 7
    assert st.summary("urls")["number_observed"] == 7


def test_concurrent_ingest_across_auto_compaction(spark, tmp_path):
    """Appends racing an auto-compaction of the same table are neither
    deleted by its reset nor read half-compacted."""
    import threading

    from firepit_spark.storage import SparkStorage

    st = SparkStorage(str(tmp_path / "wh_race"), spark=spark)
    st.auto_compact_batches = 2
    n_threads, n_batches, n_rows = 2, 4, 5
    errors = []

    def ingest(t):
        try:
            for b in range(n_batches):
                rows = [
                    (f"url--{t}-{b}-{i}", f"http://t{t}/{b}/{i}")
                    for i in range(n_rows)
                ]
                st.ingest_dataframe(
                    "url", spark.createDataFrame(rows, "id string, value string")
                )
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=ingest, args=(t,)) for t in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    st._df_cache.clear()
    assert st.count("url") == n_threads * n_batches * n_rows
    assert st.table_df("url").select("id").distinct().count() == (
        n_threads * n_batches * n_rows
    )


# -- observation memo, START/STOP filter, list reads, batch reads --------

def _url_obs(n_obs: int = 100) -> list:
    """(first_observed, number_observed, url) per url-bearing observation
    of the conftest bundle."""
    from tests.conftest import make_bundle

    out = []
    for o in make_bundle(n_obs)["objects"]:
        if o["type"] != "observed-data":
            continue
        for sco in o["objects"].values():
            if sco["type"] == "url":
                out.append((o["first_observed"], o["number_observed"], sco["value"]))
    return out


def _spark_ts(stix: str):
    """A STIX timestamp as PySpark hands a TIMESTAMP back (naive local)."""
    from datetime import datetime

    return datetime.fromtimestamp(
        datetime.fromisoformat(stix.replace("Z", "+00:00")).timestamp()
    )


def test_obs_family_reuses_pinned_view_frame(spark, store):
    """After value_counts builds the view's pinned triple join, summary,
    number_observed and timestamped scan it from memory instead of
    re-running view ⋈ __contains ⋈ observed-data."""
    from collections import Counter

    obs = _url_obs()
    store.extract("urls", "url", "q1", "")
    counts = store.value_counts("urls", "url:value")
    assert {r["url:value"]: r["count"] for r in counts} == Counter(u for _, _, u in obs)

    out = {}
    jobs = {
        "summary": count_jobs(spark, lambda: out.update(s=store.summary("urls"))),
        "number_observed": count_jobs(
            spark, lambda: out.update(n=store.number_observed("urls", "url:value"))
        ),
        "timestamped": count_jobs(
            spark, lambda: out.update(t=store.timestamped("urls", path="url:value"))
        ),
    }
    assert jobs["summary"] <= 2, jobs
    assert jobs["number_observed"] <= 2, jobs
    assert jobs["timestamped"] <= 3, jobs

    total = sum(n for _, n, _ in obs)
    assert out["n"] == total
    assert out["s"] == {
        "first_observed": _spark_ts(min(f for f, _, _ in obs)),
        "last_observed": _spark_ts(max(f for f, _, _ in obs)),
        "number_observed": total,
    }
    assert Counter((r["first_observed"], r["url:value"]) for r in out["t"]) == Counter(
        (_spark_ts(f), u) for f, _, u in obs
    )
    df = store.summary_df("urls")
    df.collect()
    assert "InMemoryTableScan" in df._jdf.queryExecution().executedPlan().toString()


def test_obs_memo_unpersists_on_invalidation(spark, store):
    """A table write and a view redefinition each unpersist the pinned
    frame they drop, the aggregates see the new rows, and release()
    leaves the CacheManager empty."""
    from firepit_spark.functions import release

    cm = spark._jsparkSession.sharedState().cacheManager()
    obs = _url_obs()
    store.extract("urls", "url", "q1", "[url:value LIKE '%page/1']")
    page1 = sum(n for _, n, u in obs if u.endswith("page/1"))
    assert store.number_observed("urls", "url:value") == page1
    first = store._obs_frames["urls"]
    assert first.is_cached

    store.cache("q1", {"type": "bundle", "id": "bundle--more", "objects": [
        {"type": "identity", "id": "identity--9", "name": "x"},
        {"type": "observed-data", "id": "observed-data--more",
         "created_by_ref": "identity--9",
         "first_observed": "2024-05-02T00:00:00Z",
         "last_observed": "2024-05-02T00:00:00Z", "number_observed": 5,
         "objects": {"0": {"type": "url", "value": "http://new.example.com/page/1"}}},
    ]})
    assert not first.is_cached
    assert store.number_observed("urls", "url:value") == page1 + 5
    second = store._obs_frames["urls"]
    assert second.is_cached and second is not first

    store.extract("urls", "url", "q1", "[url:value LIKE '%page/2']")
    assert not second.is_cached
    page2 = sum(n for _, n, u in obs if u.endswith("page/2"))
    assert store.summary("urls")["number_observed"] == page2

    release()
    assert cm.isEmpty()
    # a released frame is rebuilt and pinned again on its next use
    assert store.number_observed("urls", "url:value") == page2
    assert store._obs_frames["urls"].is_cached
    release()
    assert cm.isEmpty()


def test_time_filter_returns_each_sco_once_without_sort_merge(spark, tmp_path):
    """START/STOP keeps an SCO contained in several in-window observations
    exactly once, and plans the window as broadcast semi joins. At 2,000
    observations an inner join of __contains with the windowed
    observations is estimated past the broadcast threshold and planned
    as a sort-merge join."""
    from firepit_spark.storage import SparkStorage
    from tests.conftest import make_bundle

    n_obs = 2000
    store = SparkStorage(str(tmp_path / "wh_window"), spark=spark)
    store.cache("q1", make_bundle(n_obs))
    window = ("2024-05-01T12:00:00Z", "2024-05-01T12:02:00Z")
    lo, hi = (_spark_ts(t) for t in window)
    inside = [u for f, _, u in _url_obs(n_obs) if lo <= _spark_ts(f) <= hi]
    assert len(inside) > len(set(inside))  # some url repeats in the window
    store.extract(
        "recent", "url", "q1",
        f"[url:value LIKE 'http://%'] START t'{window[0]}' STOP t'{window[1]}'",
        honor_qualifiers=True,
    )
    plan = store._resolve("recent")._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    vals = store.values("url:value", "recent")
    assert sorted(vals) == sorted(set(inside))


def test_list_reads_match_streamed_rows(store):
    """values and lookup (one collect) return the rows lookup_iter streams,
    in the same order for a sorted view."""
    store.extract("conns", "network-traffic", "q1", "")
    store.assign("by_sport", "conns", op="sort", by="network-traffic:src_port",
                 ascending=False)
    rows = store.lookup("by_sport")
    assert rows == list(store.lookup_iter("by_sport"))
    ports = [r["src_port"] for r in rows]
    assert ports == sorted(ports, reverse=True) and len(ports) == 100
    assert store.values("network-traffic:src_port", "by_sport") == ports


def test_multi_batch_edge_table_reads_merge(spark, tmp_path):
    """A two-batch __contains, read through its batch dirs, merges to the
    same rows as its one-batch compaction."""
    import copy
    import os

    from firepit_spark.storage import CONTAINS, SparkStorage
    from tests.conftest import make_bundle

    st = SparkStorage(str(tmp_path / "wh_batches"), spark=spark)
    st.cache("q1", copy.deepcopy(make_bundle(30)))
    st.cache("q2", copy.deepcopy(make_bundle(60)))
    assert len(st._batch_numbers(os.path.join(st.tables_dir, CONTAINS))) == 2
    edges = st.table_df(CONTAINS)
    assert "_fp_batch" not in edges.columns
    merged = sorted(map(tuple, edges.collect()))
    st.compact(CONTAINS)
    st._df_cache.clear()
    assert sorted(map(tuple, st.table_df(CONTAINS).collect())) == merged
    assert len(merged) == len(set(merged))
