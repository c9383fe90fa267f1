"""Spark-native log -> STIX conversion (sources/logs.py)."""

import json
from collections import Counter

import pytest
from pyspark.sql import functions as F

from firepit_spark.identifiers import ID_PROPS, makeid
from firepit_spark.sources.logs import (
    convert_log,
    detect_mapping,
    expand_reg_hive,
    to_wide,
    wide_to_scos,
    windows_to_scos,
)
from firepit_spark.storage import SparkStorage

ZEEK_ROWS = [
    # ts, orig_h, orig_p, resp_h, resp_p, proto, orig_ip_bytes, resp_ip_bytes
    (1600000000.5, "192.168.1.10", 49152, "10.0.0.5", 443, "tcp", 1200, 4096),
    (1600000001.0, "192.168.1.11", 49153, "10.0.0.5", 443, "tcp", 800, 2048),
    (1600000002.0, "2001:db8::1", 5353, "ff02::fb", 5353, "udp", 100, 0),
    # duplicate of row 0's src addr -> id-merge should dedup the ipv4 row
    (1600000003.0, "192.168.1.10", 49154, "10.0.0.9", 80, "tcp", 10, 20),
]
ZEEK_SCHEMA = (
    "ts double, `id.orig_h` string, `id.orig_p` int, `id.resp_h` string, "
    "`id.resp_p` int, proto string, orig_ip_bytes long, resp_ip_bytes long"
)


@pytest.fixture
def zeek_df(spark):
    return spark.createDataFrame(ZEEK_ROWS, ZEEK_SCHEMA)


def test_detect_mapping(zeek_df):
    assert detect_mapping(zeek_df.columns) == "zeek_conn_csv"
    assert detect_mapping(["id_orig_h", "query", "ts"]) == "zeek_dns_json"
    assert detect_mapping(["EventID", "TimeCreated"]) == "windows_events"
    assert detect_mapping(["foo"]) is None


def test_wide_and_split(zeek_df):
    from firepit_spark.sources.logs import ZEEK_CONN_CSV

    wide = to_wide(zeek_df, ZEEK_CONN_CSV)
    assert "network-traffic:src_ref.value" in wide.columns
    assert "first_observed" in wide.columns
    scos = wide_to_scos(wide)
    assert set(scos) >= {"network-traffic", "ipv4-addr", "ipv6-addr",
                         "observed-data", "__contains"}
    # ipv4 side: 4 distinct v4 source/dest addrs appear across rows
    v4 = {r["value"] for r in scos["ipv4-addr"].collect()}
    assert v4 == {"192.168.1.10", "192.168.1.11", "10.0.0.5", "10.0.0.9"}
    v6 = {r["value"] for r in scos["ipv6-addr"].collect()}
    assert v6 == {"2001:db8::1", "ff02::fb"}
    # deterministic ids match the python makeid
    row = scos["ipv4-addr"].filter(F.col("value") == "10.0.0.5").first()
    assert row["id"] == makeid({"type": "ipv4-addr", "value": "10.0.0.5"})
    # network-traffic refs point at minted addr ids
    nt = scos["network-traffic"].filter(F.col("src_port") == 49152).first()
    assert nt["src_ref"] == makeid({"type": "ipv4-addr", "value": "192.168.1.10"})
    assert nt["dst_ref"] == makeid({"type": "ipv4-addr", "value": "10.0.0.5"})
    assert nt["protocols"] == ["tcp"]


def test_network_traffic_id_parity(zeek_df):
    """The JVM-minted network-traffic id must equal makeid over the resolved
    contributing props (ports, protocols, ref target ids)."""
    from firepit_spark.sources.logs import ZEEK_CONN_CSV

    scos = wide_to_scos(to_wide(zeek_df, ZEEK_CONN_CSV))
    nt = scos["network-traffic"].filter(F.col("src_port") == 49152).first()
    sco = {
        "type": "network-traffic",
        "src_ref": makeid({"type": "ipv4-addr", "value": "192.168.1.10"}),
        "dst_ref": makeid({"type": "ipv4-addr", "value": "10.0.0.5"}),
        "src_port": 49152,
        "dst_port": 443,
        "protocols": ["tcp"],
    }
    assert nt["id"] == makeid(sco)


def test_convert_log_ingests(spark, tmp_path, zeek_df):
    store = SparkStorage(str(tmp_path / "wh"), spark=spark)
    types = convert_log(store, zeek_df, query_id="zeek1")
    assert "network-traffic" in types
    assert store.count("network-traffic") == 4
    assert store.count("ipv4-addr") == 4  # merged duplicate 192.168.1.10
    assert store.count("ipv6-addr") == 2
    assert store.count("observed-data") == 4
    # every network-traffic row is reachable from an observation
    edges = store.table_df("__contains")
    nt_edges = edges.filter(F.col("target_ref").startswith("network-traffic--"))
    assert nt_edges.count() == 4


def test_expand_reg_hive(spark):
    df = spark.createDataFrame(
        [("HKLM\\SOFTWARE\\x",), ("HKCU\\y",), ("other",)], "key string"
    )
    got = [r[0] for r in df.select(expand_reg_hive(F.col("key"))).collect()]
    assert got == [
        "HKEY_LOCAL_MACHINE\\SOFTWARE\\x",
        "HKEY_CURRENT_USER\\y",
        "other",
    ]


def test_isc_honeypot_mapping(spark, tmp_path):
    from firepit_spark.sources.logs import convert_log

    df = spark.createDataFrame(
        [("http://bad/1", "curl/7.1", "1.2.3.4", "2020-01-01", "10:00:00"),
         ("http://bad/2", "wget", "5.6.7.8", "2020-01-01", "11:00:00")],
        "url string, user_agent string, source string, date string, time string",
    )
    store = SparkStorage(str(tmp_path / "wh"), spark=spark)
    types = convert_log(store, df, query_id="isc1")  # auto-detected
    assert "url" in types and "network-traffic" in types
    nt = store.table_df("network-traffic").collect()
    assert all(r["dst_port"] == 80 and r["src_port"] == 0 for r in nt)
    assert all(r["protocols"] == ["tcp"] for r in nt)
    dst = {r["value"] for r in store.table_df("ipv4-addr").collect()}
    assert "127.0.0.1" in dst and "1.2.3.4" in dst
    summ = store.summary("url")
    assert str(summ["first_observed"]).startswith("2020-01-01 10:00:00")


def test_flat_json_mapping(spark, tmp_path):
    from firepit_spark.sources.logs import convert_flat_json

    df = spark.createDataFrame(
        [("user-account", "alice", "2020-02-01T00:00:00Z"),
         ("user-account", "bob", "2020-02-02T00:00:00Z")],
        "type string, user_id string, account_created string",
    )
    store = SparkStorage(str(tmp_path / "wh"), spark=spark)
    types = convert_flat_json(store, df, query_id="fj1")
    assert "user-account" in types
    rows = store.table_df("user-account").collect()
    assert {r["user_id"] for r in rows} == {"alice", "bob"}
    # known-timestamp column doubled as first/last observed
    summ = store.summary("user-account")
    assert str(summ["first_observed"]).startswith("2020-02-01")
    assert str(summ["last_observed"]).startswith("2020-02-02")


def test_windows_event_cross_links(spark, tmp_path):
    """x-oca-event rows reference sibling SCOs from the same log row
    (parity: the dict2observation fix-up, firepit/woodchipper.py:265-287)."""
    from firepit_spark.sources.logs import convert_log

    df = spark.createDataFrame(
        [("2021-03-01T10:00:00Z", "Security", "4688", 4688, "HOST-1", 512,
          400, "{abc-123}", "{par-99}", "C:\\w\\cmd.exe", "C:\\w\\pwsh.exe",
          "alice")],
        "TimeCreated string, Channel string, SourceName string, EventID int, "
        "Hostname string, NewProcessId int, ProcessId int, ProcessGuid string, "
        "ParentProcessGuid string, NewProcessName string, "
        "ParentProcessName string, SubjectUserName string",
    )
    store = SparkStorage(str(tmp_path / "wh"), spark=spark)
    types = convert_log(store, df, query_id="win1")
    assert {"x-oca-event", "x-oca-asset", "process", "user-account",
            "file", "directory"} <= set(types)
    ev = store.table_df("x-oca-event").first()
    procs = {r["x_unique_id"]: r for r in store.table_df("process").collect()}
    asset = store.table_df("x-oca-asset").first()
    child, parent = procs["{abc-123}"], procs["{par-99}"]
    assert ev["process_ref"] == child["id"]
    assert ev["parent_process_ref"] == parent["id"]
    assert ev["host_ref"] == asset["id"]
    assert ev["code"] == 4688 and ev["module"] == "Security"
    assert ev["action"] == "A new process has been created"
    # 4688: NewProcessId is the child pid, ProcessId the parent's
    # (reference windows_mapping[4688], firepit/woodchipper.py:501-511)
    assert child["pid"] == 512 and child["name"] == "cmd.exe"
    assert child["parent_ref"] == parent["id"]
    assert parent["pid"] == 400 and parent["name"] == "pwsh.exe"
    user = store.table_df("user-account").first()
    assert user["user_id"] == "alice" and child["creator_user_ref"] == user["id"]
    # lookup auto-derefs the event's refs
    row = store.lookup("x-oca-event")[0]
    assert row["host_ref.hostname"] == "HOST-1"


def sysmon_matrix_df(spark):
    """One row per Sysmon EventID shape the converter maps."""
    schema = (
        "EventID int, UtcTime string, TimeCreated string, Channel string, "
        "SourceName string, Hostname string, Image string, ProcessId int, "
        "ProcessGuid string, CommandLine string, ParentImage string, "
        "ParentProcessId int, ParentProcessGuid string, ParentCommandLine "
        "string, User string, Hashes string, SourceIp string, DestinationIp "
        "string, SourcePort int, DestinationPort int, Protocol string, "
        "ImageLoaded string, TargetFilename string, TargetObject string, "
        "QueryName string, QueryResults string, Message string, Hash string"
    )
    base = {k.split(" ")[0]: None for k in schema.split(", ")}

    def row(**kw):
        return {**base, **kw, "UtcTime": "2021-05-01 10:00:00",
                "Hostname": "WS01", "Channel": "Sysmon"}

    rows = [
        row(EventID=1, Image="C:\\Windows\\System32\\cmd.exe", ProcessId=100,
            ProcessGuid="{g1}", CommandLine="cmd /c dir",
            ParentImage="C:\\Windows\\explorer.exe", ParentProcessId=50,
            ParentProcessGuid="{g0}", ParentCommandLine="explorer",
            User="DOM\\alice", Hashes="SHA1=AB12,MD5=CD34,SHA256=EF56"),
        row(EventID=3, Image="C:\\Windows\\System32\\cmd.exe", ProcessId=100,
            ProcessGuid="{g1}", SourceIp="10.0.0.1", DestinationIp="8.8.8.8",
            SourcePort=5000, DestinationPort=53, Protocol="udp"),
        row(EventID=5, Image="C:\\Windows\\System32\\cmd.exe", ProcessId=100,
            ProcessGuid="{g1}"),
        row(EventID=7, Image="C:\\Windows\\System32\\cmd.exe", ProcessId=100,
            ProcessGuid="{g1}", CommandLine="cmd /c dir",
            ImageLoaded="C:\\Windows\\System32\\kernel32.dll",
            Hashes="MD5=AA11"),
        row(EventID=6, ImageLoaded="C:\\drivers\\bad.sys", Hashes="MD5=DD55"),
        row(EventID=11, Image="C:\\w\\writer.exe", ProcessId=200,
            ProcessGuid="{g2}", TargetFilename="C:\\Users\\bob\\evil.exe"),
        row(EventID=15, Image="C:\\w\\writer.exe", ProcessId=200,
            ProcessGuid="{g2}", TargetFilename="C:\\Users\\bob\\stream.txt",
            Hash="SHA256=EE66"),
        row(EventID=13, Image="C:\\w\\reg.exe", ProcessId=300,
            ProcessGuid="{g3}", TargetObject="HKLM\\SOFTWARE\\Run\\Updater",
            Message='Registry value set: EventType: SetValue ... '
                    'Details: DWORD (0x00000001)"'),
        row(EventID=22, QueryName="evil.example.com",
            QueryResults="type: 5 alias;93.184.216.34;"),
    ]
    return spark.createDataFrame(rows, schema)


def test_sysmon_event_matrix(spark, tmp_path):
    """Per-EventID mapping breadth (parity: firepit/woodchipper.py:432-523
    windows_mapping + SdsMapper:575-646): process create with parent/binary/
    user refs, network connect with reflist edge, image load, file create,
    registry value set from TargetObject+Message, DNS query resolution."""
    store = SparkStorage(str(tmp_path / "wh"), spark=spark)
    types = convert_log(store, sysmon_matrix_df(spark), query_id="sys1")
    assert {"process", "file", "directory", "network-traffic", "ipv4-addr",
            "domain-name", "windows-registry-key", "user-account",
            "x-oca-event", "x-oca-asset", "observed-data", "__contains",
            "__reflist", "artifact"} <= set(types)
    # only observed types create tables: the fixture has no MAC or v6
    # addresses, so the address guess-ladder's empty frames are skipped
    assert "mac-addr" not in types and "ipv6-addr" not in types

    procs = {r["x_unique_id"]: r for r in store.table_df("process").collect()}
    assert set(procs) == {"{g0}", "{g1}", "{g2}", "{g3}"}
    g1 = procs["{g1}"]
    assert g1["pid"] == 100 and g1["name"] == "cmd.exe"
    assert g1["parent_ref"] == procs["{g0}"]["id"]
    assert g1["created"] is not None  # event 1 maps UtcTime -> process:created

    file_rows = store.table_df("file").collect()
    files = {}
    for r in file_rows:
        files.setdefault(r["name"], []).append(r)
    assert {"cmd.exe", "explorer.exe", "kernel32.dll", "evil.exe",
            "writer.exe", "reg.exe", "bad.sys", "stream.txt"} <= set(files)
    # event 1 carries Hashes, so its cmd.exe file node has a hash-bearing id
    # distinct from the hashless nodes of events 3/5/7 (makeid parity: a
    # hashes contribution changes the uuid5)
    assert any(r["hashes.MD5"] == "CD34" for r in files["cmd.exe"])
    assert any(r["hashes.MD5"] == "AA11" for r in files["kernel32.dll"])
    # event 6 (driver load) files via ImageLoaded; event 15 carries its
    # hash in `Hash` (not `Hashes`)
    assert any(r["hashes.MD5"] == "DD55" for r in files["bad.sys"])
    assert any(r["hashes.'SHA-256'"] == "EE66" for r in files["stream.txt"])
    assert g1["binary_ref"] in {r["id"] for r in files["cmd.exe"]}
    dirs = {r["path"] for r in store.table_df("directory").collect()}
    assert {"C:\\Windows\\System32", "C:\\Windows", "C:\\Users\\bob"} <= dirs

    nt = store.table_df("network-traffic").first()
    assert nt["src_port"] == 5000 and nt["dst_port"] == 53
    assert nt["protocols"] == ["udp"]
    addrs = {r["value"] for r in store.table_df("ipv4-addr").collect()}
    assert {"10.0.0.1", "8.8.8.8", "93.184.216.34"} <= addrs

    refl = store.table_df("__reflist").collect()
    by_name = {}
    for r in refl:
        by_name.setdefault(r["ref_name"], []).append(r)
    assert by_name["opened_connection_refs"][0]["source_ref"] == g1["id"]
    assert by_name["opened_connection_refs"][0]["target_ref"] == nt["id"]
    dn = store.table_df("domain-name").first()
    assert dn["value"] == "evil.example.com"
    assert by_name["resolves_to_refs"][0]["source_ref"] == dn["id"]

    reg = store.table_df("windows-registry-key").first()
    assert reg["key"] == "HKEY_LOCAL_MACHINE\\SOFTWARE\\Run"
    assert reg["values"] == ['{"name":"Updater"}']
    ev13 = [r for r in store.table_df("x-oca-event").collect() if r["code"] == 13]
    assert ev13[0]["action"] == "Registry Value Set - SetValue"
    ev7 = [r for r in store.table_df("x-oca-event").collect() if r["code"] == 7]
    assert ev7[0]["file_ref"] in {r["id"] for r in files["kernel32.dll"]}
    ev1 = [r for r in store.table_df("x-oca-event").collect() if r["code"] == 1]
    assert ev1[0]["action"] == "Process Creation"
    # every contains edge resolves to a real observation (the persisted-wide
    # contract: random obs ids are minted exactly once)
    obs_ids = {r["id"] for r in store.table_df("observed-data").collect()}
    edge_srcs = {r["source_ref"] for r in store.table_df("__contains").collect()}
    assert edge_srcs <= obs_ids


def test_windows_registry_details_values(spark, tmp_path):
    """Outside event 13, an SDS ``Details: DWORD|QWORD <data>`` message
    gives the registry key one value with ``data`` and ``data_type``; any
    other Details payload gives none."""
    df = spark.createDataFrame(
        [
            (4657, 'Set: EventType: SetValue Details: DWORD (0x00000001)" tail'),
            (4657, "Details: QWORD 0x10"),
            (4657, 'Details: Binary data "x" Details: DWORD 7'),
        ],
        "EventID int, Message string",
    )
    store = SparkStorage(str(tmp_path / "wh"), spark=spark)
    convert_log(store, df, query_id="details")
    values = sorted(
        (json.loads(r["values"][0])
         for r in store.table_df("windows-registry-key").collect()),
        key=lambda v: v["data_type"],
    )
    assert values == [
        {"data": "(0x00000001)", "data_type": "DWORD"},
        {"data": "0x10", "data_type": "QWORD"},
    ]


def test_windows_details_regexps_bound_once(spark):
    """Each Message ``Details:`` regexp and the registry key split appear
    once in the persisted wide plan, not once per place that reads them."""
    conf = "spark.sql.debug.maxToStringFields"
    saved = spark.conf.get(conf, None)
    spark.conf.set(conf, "100000")
    frames = windows_to_scos(sysmon_matrix_df(spark))
    try:
        reg = frames["windows-registry-key"]
        plan = reg._jdf.queryExecution().optimizedPlan().toString()
    finally:
        frames.release()
        if saved is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, saved)
    for regexp in (
        'Details: ([^"]*)',
        "^(DWORD|QWORD)",
        r"^(?:DWORD|QWORD)\s+(\S+)",
        r"^(.*)[\\][^\\]*$",
    ):
        assert plan.count(regexp) == 1, regexp


def test_windows_double_pid(spark, tmp_path):
    """A numeric column that ``spark.read.json`` types as double (a JSON
    ``400.0``) casts to long from its own type, not via its string form."""
    path = tmp_path / "events.json"
    path.write_text(json.dumps({
        "EventID": 1, "UtcTime": "2021-05-01 10:00:00", "ProcessGuid": "{d1}",
        "Image": "C:\\w\\cmd.exe", "ProcessId": 400.0,
        "ParentProcessGuid": "{d0}", "ParentProcessId": 4.0,
    }) + "\n")
    df = spark.read.json(str(path))
    assert dict(df.dtypes)["ProcessId"] == "double"
    store = SparkStorage(str(tmp_path / "wh"), spark=spark)
    convert_log(store, df, query_id="dbl")
    pids = {r["x_unique_id"]: r["pid"] for r in store.table_df("process").collect()}
    assert pids == {"{d1}": 400, "{d0}": 4}


def test_convert_log_without_codegen_fallback(spark, tmp_path, zeek_df):
    """Both converters compile whole-stage codegen: with the interpreted
    fallback switched off, a generated method over 64 KB fails the call."""
    conf = "spark.sql.codegen.fallback"
    saved = spark.conf.get(conf, None)
    spark.conf.set(conf, "false")
    try:
        store = SparkStorage(str(tmp_path / "wh"), spark=spark)
        assert "process" in convert_log(store, sysmon_matrix_df(spark), query_id="w")
        assert "network-traffic" in convert_log(store, zeek_df, query_id="z")
    finally:
        if saved is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, saved)


def test_windows_id_parity_and_links(spark, tmp_path):
    """Every deterministic Windows SCO id equals makeid over the stored
    row's contributing props, every ``__contains`` target is a stored row,
    and each event is contained exactly once."""
    store = SparkStorage(str(tmp_path / "wh"), spark=spark)
    types = convert_log(store, sysmon_matrix_df(spark), query_id="sys1")
    for otype in ("file", "directory", "process", "network-traffic",
                  "user-account", "x-oca-asset"):
        for r in store.table_df(otype).collect():
            sco = {"type": otype}
            for prop in ID_PROPS[otype]:
                if r.asDict().get(prop) is not None:
                    sco[prop] = r[prop]
            if otype == "file":
                sco["hashes"] = {
                    k: r[f"hashes.{k}"]
                    for k in ("MD5", "'SHA-1'", "'SHA-256'")
                    if r[f"hashes.{k}"] is not None
                }
            assert r["id"] == makeid(sco), sco

    stored = set()
    for t in types:
        if not t.startswith("__") and t != "observed-data":
            stored |= {r["id"] for r in store.table_df(t).select("id").collect()}
    targets = Counter(r["target_ref"] for r in store.table_df("__contains").collect())
    assert set(targets) <= stored
    events = {r["id"] for r in store.table_df("x-oca-event").collect()}
    assert len(events) == 9
    assert all(targets[e] == 1 for e in events)
