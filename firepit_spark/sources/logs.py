"""Spark-native log -> STIX conversion.

Reference parity: firepit/woodchipper.py (CSV/JSON/Zeek/Sysmon log readers,
per-format mapping tables, dict2observation). The reference converts one log
row at a time into an observed-data JSON bundle on the driver, then re-ingests
that bundle. This rebuild keeps the *mapping tables* idea but runs the whole
conversion as column expressions on a DataFrame: one ``select`` produces a
"wide observation" (one column per STIX path), and a second pass splits the
wide frame into per-type SCO DataFrames with JVM-minted deterministic ids
(functions/ids.py) plus the ``observed-data`` and ``__contains`` rows.

The conversion is map-only (no shuffle); the only wide operations happen in
``ingest_dataframe``'s id-merge, keyed on uuid5 ids (uniform, no skew). At
100 TB the input arrives as many log files, so parallelism comes from the
file listing, and every expression here stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from firepit_spark.functions.ids import (
    sco_id_col,
    sco_id_from_hex,
    sco_id_hex_col,
    uuid5_from_hex,
)
from firepit_spark.identifiers import ID_PROPS
from firepit_spark.timestamp import TIMESTAMP_PROPS

# integer-typed STIX props seen in log sources (parity:
# firepit/woodchipper.py INTEGER_PROPS + firepit/sqlstorage.py:89-104)
INTEGER_PROPS = {
    "src_port",
    "dst_port",
    "src_byte_count",
    "dst_byte_count",
    "src_packets",
    "dst_packets",
    "number_observed",
    "pid",
    "number",
    "code",
    "size",
}

V4_RE = r"^([0-9]{1,3}\.){3}[0-9]{1,3}$"
MAC_RE = r"^([0-9a-fA-F]{2}:){5}[0-9a-fA-F]{2}$"

# Windows registry hive abbreviation expansion (parity:
# firepit/woodchipper.py:45-53,96-101)
REG_HIVE_MAP = {
    "HKLM": "HKEY_LOCAL_MACHINE",
    "HKCR": "HKEY_CLASSES_ROOT",
    "HKCU": "HKEY_CURRENT_USER",
    "HKU": "HKEY_USERS",
    "HKCC": "HKEY_CURRENT_CONFIG",
}


def expand_reg_hive(col: Column) -> Column:
    """HKLM\\... -> HKEY_LOCAL_MACHINE\\... (longest abbrev first)."""
    out = col
    for abbrev, full in sorted(REG_HIVE_MAP.items(), key=lambda kv: -len(kv[0])):
        out = F.when(
            col.startswith(abbrev + "\\"),
            F.concat(F.lit(full), col.substr(F.lit(len(abbrev) + 1), F.length(col))),
        ).otherwise(out)
    return out


def from_unix_time(col: Column) -> Column:
    """Epoch seconds (possibly fractional) -> timestamp."""
    return F.timestamp_seconds(col.cast("double"))


# ---------------------------------------------------------------- mappings
# A mapping maps log column -> STIX path, a list of paths (same value into
# each), or (path, fn) where fn transforms the source Column.
# Paths: "first_observed"/"last_observed" (observation props) or
# "<sco-type>:<prop>" with "<rname>.value" reference shorthand.

ZEEK_CONN_CSV = {
    "ts": (["first_observed", "last_observed"], from_unix_time),
    "id.orig_h": "network-traffic:src_ref.value",
    "id.orig_p": "network-traffic:src_port",
    "orig_ip_bytes": "network-traffic:src_byte_count",
    "orig_pkts": "network-traffic:src_packets",
    "id.resp_h": "network-traffic:dst_ref.value",
    "id.resp_p": "network-traffic:dst_port",
    "resp_ip_bytes": "network-traffic:dst_byte_count",
    "resp_pkts": "network-traffic:dst_packets",
    "proto": "network-traffic:protocols",
}

ZEEK_CONN_JSON = {
    "ts": (["first_observed", "last_observed"], from_unix_time),
    "id_orig_h": "network-traffic:src_ref.value",
    "id_orig_p": "network-traffic:src_port",
    "id_resp_h": "network-traffic:dst_ref.value",
    "id_resp_p": "network-traffic:dst_port",
    "proto": "network-traffic:protocols",
    "orig_ip_bytes": "network-traffic:src_byte_count",
    "resp_ip_bytes": "network-traffic:dst_byte_count",
    "orig_pkts": "network-traffic:src_packets",
    "resp_pkts": "network-traffic:dst_packets",
}

ZEEK_DNS_JSON = {
    "ts": (["first_observed", "last_observed"], from_unix_time),
    "id_orig_h": "network-traffic:src_ref.value",
    "id_orig_p": "network-traffic:src_port",
    "id_resp_h": "network-traffic:dst_ref.value",
    "id_resp_p": "network-traffic:dst_port",
    "proto": "network-traffic:protocols",
    "query": "domain-name:value",
}

# well-known Windows/Sysmon event ids -> action names (public event catalog;
# parity: firepit/woodchipper.py:402-425 windows_events, plus the security-
# log 46xx names the reference leaves unnamed)
WINDOWS_EVENT_NAMES = {
    1: "Process Creation",
    2: "Process Changed a file creation time",
    3: "Network Connection",
    4: "Sysmon Service State Change",
    5: "Process Terminated",
    6: "Driver Loaded",
    7: "Image Loaded",
    8: "Create Remote Thread",
    9: "Raw File Access Read",
    10: "Process Access",
    11: "File Create",
    12: "Registry Create and Delete",
    13: "Registry Value Set",
    14: "Registry Key and Value Rename",
    15: "File Create Stream Hash",
    16: "Sysmon Config Change",
    17: "Pipe Event Created",
    18: "Pipe Event Connected",
    19: "WMI EventFilter activity",
    20: "WMI EventConsumer activity",
    21: "WMI EventConsumerToFilter activity",
    22: "DNS Query",
    255: "Sysmon error",
    4624: "An account was successfully logged on",
    4625: "An account failed to log on",
    4688: "A new process has been created",
    4689: "A process has exited",
    4720: "A user account was created",
}

# Message EventType -> event id (Security-Datasets logs; parity:
# firepit/woodchipper.py:615-622 SdsMapper.event_types)
SDS_EVENT_TYPES = {
    "SetValue": 13,
    "DeleteValue": 12,
    "CreateKey": 12,
    "DeleteKey": 12,
    "CreatePipe": 17,
    "ConnectPipe": 18,
}

# file-centric event ids whose x-oca-event carries a file_ref (parity:
# firepit/woodchipper.py:331-332 is_file_event): 6 driver / 7 image load
# via ImageLoaded, 11 create / 15 stream hash via TargetFilename
LOADED_FILE_EVENTS = (6, 7)
TARGET_FILE_EVENTS = (11, 15)


def _proto_names() -> dict:
    """IP protocol number -> lowercase name (parity:
    firepit/woodchipper.py:319-328 PROTO_TABLE, same stdlib source)."""
    import socket

    return {
        num: name[8:].lower()
        for name, num in vars(socket).items()
        if name.startswith("IPPROTO")
    }

# ISC honeypot web logs (parity: firepit/woodchipper.py:723-746). The
# reference back-fills missing ports/dest/proto with fixed values and glues
# date+time into a timestamp; here those are column expressions.
ISC_HONEYPOT = {
    "url": "url:value",
    "source": "network-traffic:src_ref.value",
    "__ts": (
        ["first_observed", "last_observed"],
        lambda _ignored: F.to_timestamp(
            F.concat(F.col("date"), F.lit("T"), F.col("time"), F.lit(".000Z"))
        ),
    ),
    "__sport": ("network-traffic:src_port", lambda _ignored: F.lit(0)),
    "__dport": ("network-traffic:dst_port", lambda _ignored: F.lit(80)),
    "__dest": (
        "network-traffic:dst_ref.value",
        lambda _ignored: F.lit("127.0.0.1"),
    ),
    "__proto": (
        "network-traffic:protocols",
        lambda _ignored: F.array(F.lit("tcp")),
    ),
}

MAPPINGS = {
    "zeek_conn_csv": ZEEK_CONN_CSV,
    "zeek_conn_json": ZEEK_CONN_JSON,
    "zeek_dns_json": ZEEK_DNS_JSON,
    # windows_events routes to the node-graph engine (windows_to_scos),
    # not the flat path mapper
    "isc_honeypot": ISC_HONEYPOT,
}


def flat_json_mapping(columns, otype: str) -> dict:
    """Generic flat-JSON mapping (parity: FlatJsonMapper,
    firepit/woodchipper.py:750-775): every column maps to ``otype:<col>``,
    observation props pass through, and the first known-timestamp column
    doubles as first/last_observed when those are absent."""
    obs_props = {"first_observed", "last_observed", "number_observed"}
    mapping: dict = {}
    ts_fallback = None
    for c in columns:
        if c == "type":
            continue
        if c in obs_props:
            mapping[c] = c
        else:
            mapping[c] = f"{otype}:{c}"
            if c in TIMESTAMP_PROPS and ts_fallback is None:
                ts_fallback = c
    if ts_fallback and "first_observed" not in mapping.values():
        mapping[ts_fallback] = [
            f"{otype}:{ts_fallback}",
            "first_observed",
            "last_observed",
        ]
    return mapping


def detect_mapping(columns) -> str | None:
    """Column-header mapping detection (the Spark analog of the reference's
    per-row Mapper.detect, firepit/woodchipper.py:647-678: a file's schema is
    uniform, so detection is per-DataFrame)."""
    cols = set(columns)
    if "id.orig_h" in cols:
        return "zeek_conn_csv"
    if "id_orig_h" in cols:
        return "zeek_dns_json" if "query" in cols else "zeek_conn_json"
    if "EventID" in cols:
        return "windows_events"
    if {"url", "user_agent", "source"} <= cols:
        return "isc_honeypot"
    return None


def to_wide(df: DataFrame, mapping: dict) -> DataFrame:
    """Log rows -> one column per mapped STIX path (map-only select).

    Keys starting with ``__`` are synthetic: they need not exist in the
    input, and their transform builds the value from literals or other
    columns (the ISC mapping's made-up ports, firepit/woodchipper.py:740-744).
    """
    exprs = []
    for log_col, target in mapping.items():
        synthetic = log_col.startswith("__")
        if not synthetic and log_col not in df.columns:
            continue
        fn = None
        if isinstance(target, tuple):
            target, fn = target
        paths = target if isinstance(target, list) else [target]
        src = F.lit(None) if synthetic else F.col(f"`{log_col}`")
        col = fn(src) if fn else src
        for path in paths:
            prop = path.rsplit(":", 1)[-1].rsplit(".", 1)[-1]
            out = col
            if fn is None:
                # default coercions only apply to raw columns — a custom
                # transform already produced the final value/type
                if prop in TIMESTAMP_PROPS:
                    out = F.to_timestamp(col)
                elif prop in INTEGER_PROPS:
                    out = col.cast("long")
                elif prop == "protocols":
                    out = F.array(F.lower(col.cast("string")))
                elif prop == "key":
                    out = expand_reg_hive(col)
            exprs.append(out.alias(path))
    if not exprs:
        raise ValueError("mapping matched no columns")
    return df.select(*exprs)


def _kind(path_prop: str, dtype) -> str:
    if path_prop == "protocols":
        return "str_list"
    if path_prop in INTEGER_PROPS or dtype.simpleString() in ("bigint", "int", "long"):
        return "int"
    return "str"


def _addr_cases(v: Column) -> list:
    """Ordered per-row ref-target type guesses for an address-valued ref
    column (parity: guess_ref_type, firepit/woodchipper.py:56-68): dotted
    quad -> ipv4-addr, colon-hex MAC -> mac-addr, other ':' -> ipv6-addr,
    else domain-name."""
    return [
        ("mac-addr", v.rlike(MAC_RE)),
        ("ipv4-addr", v.rlike(V4_RE)),
        ("ipv6-addr", v.contains(":")),
        ("domain-name", F.lit(True)),
    ]


def _addr_ladder_from_hex(v: Column, cases: list, hex_col: Column) -> Column:
    """Guess-ladder id column assembled from a pre-bound uuid5 digest.

    All four guesses share ONE uuid5 — the canonical JSON is
    {"value": ...} regardless of the guessed type, only the ``<type>--``
    prefix differs — so the ladder is four cheap concats over the same
    digest attribute instead of four full sha1+escape trees (the old
    inline form carried ~24 copies of the JSON tree per id column and
    blew the ingest stage out of whole-stage codegen; r13-opt). Identical
    values: the old per-guess sco_id_col's random-uuid fallback was dead
    code under the outer isNotNull guard."""
    u = uuid5_from_hex(hex_col)
    id_col = None
    for otype, cond in reversed(cases):
        this = F.concat(F.lit(f"{otype}--"), u)
        id_col = this if id_col is None else F.when(cond, this).otherwise(id_col)
    return F.when(v.isNotNull(), id_col)


class ScoFrames(dict):
    """``{otype: DataFrame}`` plus the persisted wide-frame handle backing
    the per-type projections.

    The wide frame is persisted because the observation ids (and SCO ids of
    types with no contributing props) are ``uuid()`` — nondeterministic
    expressions that would re-evaluate to DIFFERENT values in each output
    frame's job, silently breaking ``__contains``/ref consistency. The
    cache pins one evaluation; call :meth:`release` after ingesting.
    """

    def __init__(self, frames: dict, cache: DataFrame | None = None):
        super().__init__(frames)
        self._cache = cache

    def release(self):
        if self._cache is not None:
            self._cache.unpersist()
            self._cache = None


def wide_to_scos(wide: DataFrame, identity_id: str | None = None) -> "ScoFrames":
    """Wide observation frame -> {otype: DataFrame} including the
    ``observed-data`` table and ``__contains`` edges.

    Every output frame is a projection of ``wide`` (no shuffle); SCO ids are
    deterministic uuid5 columns so re-ingesting the same log is idempotent
    under the storage's id-merge.
    """
    paths = wide.columns
    obs_props = [p for p in paths if ":" not in p]
    by_type: dict[str, dict] = {}
    ref_cols: dict[str, tuple] = {}  # path -> (src type, ref name)
    for p in paths:
        if ":" not in p:
            continue
        otype, rest = p.split(":", 1)
        if rest.endswith(".value") and rest.count(".") == 1:
            rname = rest[: -len(".value")]
            if rname.endswith("_ref"):
                ref_cols[p] = (otype, rname)
                continue
        by_type.setdefault(otype, {})[rest] = p

    # r13-opt: every uuid5 id expression (sha1 over canonical JSON with 8
    # regexp escapes per string prop, 4-way guess-ladder CASE per ref
    # path) is bound as a CONCRETE COLUMN of the persisted wide frame
    # instead of being re-embedded in every consumer projection. Before,
    # each per-type frame / ref frame / __contains edge / x-oca-event
    # cross-link carried its own copy of these trees (~178 KB optimized
    # plan for a 10-column zeek frame), and every ingest write job paid
    # seconds of planning + whole-stage-codegen compile for 400 rows —
    # and at scale re-ran the sha1+escape kernel once per consumer.
    # Bound once: the kernels run once per row at cache materialization
    # and every consumer reads an 8-byte-pointer attribute. This also
    # closes the uuid() consistency hazard for types with no
    # id-contributing props: their random ids are now pinned by the same
    # cache that already pinned __obs_id.
    # The uuid5 digests (sha1 over canonical JSON with 8 regexp escapes
    # per string prop) are bound FIRST as their own columns, and the id
    # columns assemble uuids from the digest ATTRIBUTES: uuid5_from_hex
    # references its digest six times and the guess ladder four more, so
    # inlining the digest tree at every reference made ONE bound id
    # column ~24 JSON-tree copies of generated code — the stacked id
    # projection blew Janino's 64 KB method limit and the whole ingest
    # stage fell back out of whole-stage codegen (observed live on the
    # q55/q56 fixture build; r13-opt). Staged, each projection compiles
    # and every digest kernel runs once per row. The staging columns are
    # dropped before the persist so the cache holds only real columns;
    # the multi-referenced digest aliases survive CollapseProject, so
    # the stages stay separate projections in the optimized plan.
    addr_id_name: dict[str, str] = {}
    addr_filters: dict[str, dict] = {}
    addr_hex_cols: dict[str, Column] = {}
    for i, path in enumerate(ref_cols):
        v = F.col(f"`{path}`").cast("string")
        addr_id_name[path] = f"__addr_id_{i}"
        addr_filters[path] = dict(_addr_cases(v))
        addr_hex_cols[f"__ah_{i}"] = sco_id_hex_col({"value": (v, "str")})
    wide = wide.withColumns(addr_hex_cols)
    id_cols: dict[str, Column] = {"__obs_id": F.concat(
        F.lit("observed-data--"), F.expr("uuid()")
    )}
    for i, path in enumerate(ref_cols):
        v = F.col(f"`{path}`").cast("string")
        id_cols[addr_id_name[path]] = _addr_ladder_from_hex(
            v, _addr_cases(v), F.col(f"__ah_{i}")
        )
    wide = wide.withColumns(id_cols)
    addr_ids: dict[str, Column] = {
        p: F.col(n) for p, n in addr_id_name.items()
    }

    # 2a. per-type id digests (referencing the addr id ATTRIBUTES), then
    # the id columns over the digest attributes, then persist once
    type_contrib: dict[str, dict | None] = {}
    type_hex_cols: dict[str, Column] = {}
    type_hex_name: dict[str, str] = {}
    for j, (otype, props) in enumerate(by_type.items()):
        id_contrib = {}
        for prop, path in props.items():
            if prop in ID_PROPS.get(otype, ()):
                dtype = wide.schema[path].dataType
                id_contrib[prop] = (F.col(f"`{path}`"), _kind(prop, dtype))
        # refs contribute the referenced object's id (parity: makeid resolves
        # _ref props to target ids, identifiers.py:126-131)
        for path, (ref_otype, rname) in ref_cols.items():
            if ref_otype == otype and rname in ID_PROPS.get(otype, ()):
                id_contrib[rname] = (addr_ids[path], "str")
        type_contrib[otype] = id_contrib or None
        if id_contrib:
            type_hex_name[otype] = f"__th_{j}"
            type_hex_cols[f"__th_{j}"] = sco_id_hex_col(id_contrib)
    wide = wide.withColumns(type_hex_cols)
    type_id_name = {
        otype: f"__tid_{i}" for i, otype in enumerate(type_contrib)
    }
    tid_cols: dict[str, Column] = {}
    for otype, contrib in type_contrib.items():
        if contrib is not None:
            tid_cols[type_id_name[otype]] = sco_id_from_hex(
                otype, contrib, F.col(type_hex_name[otype])
            )
        else:
            tid_cols[type_id_name[otype]] = F.concat(
                F.lit(f"{otype}--"), F.expr("uuid()")
            )
    wide = wide.withColumns(tid_cols).drop(
        *addr_hex_cols, *type_hex_cols
    ).persist()

    out: dict[str, DataFrame] = {}

    # 1. referenced address/domain objects, split per guessed type
    # (first matching case wins, so each row lands in exactly one table).
    # Under the first-match filter the bound guess-ladder column equals
    # the per-type id expression it replaced (same branch evaluates).
    for path, (otype, rname) in ref_cols.items():
        v = F.col(f"`{path}`").cast("string")
        seen = None
        for ref_type, cond in addr_filters[path].items():
            eff = cond if seen is None else cond & ~seen
            seen = cond if seen is None else (seen | cond)
            part = wide.filter(v.isNotNull() & eff).select(
                addr_ids[path].alias("id"),
                v.alias("value"),
                F.col("__obs_id"),
            )
            out[ref_type] = (
                part if ref_type not in out else out[ref_type].unionByName(part)
            )

    # 2b. per-type frames read the bound id/ref attributes
    type_exprs: dict[str, tuple] = {}  # otype -> (id_col, any_set, cols)
    for otype, props in by_type.items():
        id_col = F.col(type_id_name[otype])
        cols = [id_col.alias("id")]
        any_set = None
        for prop, path in props.items():
            cols.append(F.col(f"`{path}`").alias(prop))
            nn = F.col(f"`{path}`").isNotNull()
            any_set = nn if any_set is None else (any_set | nn)
        for path, (ref_otype, rname) in ref_cols.items():
            if ref_otype == otype:
                cols.append(addr_ids[path].alias(rname))
                nn = F.col(f"`{path}`").isNotNull()
                any_set = nn if any_set is None else (any_set | nn)
        type_exprs[otype] = (id_col, any_set, cols)

    # cross-link the event record to its sibling SCOs from the same log row
    # (parity: the x-oca-event fix-up in dict2observation,
    # firepit/woodchipper.py:265-287)
    if "x-oca-event" in type_exprs:
        _, ev_any, ev_cols = type_exprs["x-oca-event"]
        links = {
            "process": "process_ref",
            "x-oca-asset": "host_ref",
            "network-traffic": "network_ref",
            "domain-name": "domain_ref",
        }
        for t, rname in links.items():
            if t in type_exprs:
                t_id, t_any, _ = type_exprs[t]
                ref = t_id if t_any is None else F.when(t_any, t_id)
                ev_cols.append(ref.alias(rname))

    for otype, (id_col, any_set, cols) in type_exprs.items():
        df = wide.select(*cols, F.col("__obs_id"))
        if any_set is not None:
            df = wide.filter(any_set).select(*cols, F.col("__obs_id"))
        out[otype] = df

    # 3. observed-data
    obs_cols = [F.col("__obs_id").alias("id")] + [
        F.col(f"`{p}`").alias(p) for p in obs_props
    ]
    obs = wide.select(*obs_cols).withColumn("number_observed", F.lit(1))
    if identity_id:
        obs = obs.withColumn("created_by_ref", F.lit(identity_id))
    out["observed-data"] = obs

    # 4. __contains edges (observation -> each contained SCO)
    contains = None
    for otype, df in out.items():
        if otype == "observed-data":
            continue
        edge = df.select(
            F.col("__obs_id").alias("source_ref"), F.col("id").alias("target_ref")
        )
        contains = edge if contains is None else contains.unionByName(edge)
    if contains is not None:
        out["__contains"] = contains

    return ScoFrames(
        {
            k: (v.drop("__obs_id") if "__obs_id" in v.columns else v)
            for k, v in out.items()
        },
        cache=wide,
    )


# ------------------------------------------------------- windows/sysmon
#
# Per-EventID node graph (parity: firepit/woodchipper.py:432-523
# windows_mapping merged over SdsMapper.common_mapping:598-614, with the
# split_image/split_file_path/split_reg_key_value helpers:361-400 and the
# SdsMapper message enhancement:575-595). The reference converts row dicts
# on the driver; here every per-EventID rule is a CASE column expression, so
# the whole conversion is one map-only select in whole-stage codegen.


def _basename_col(col: Column) -> Column:
    return F.regexp_extract(col, r"([^\\/]*)$", 1)


def _dirname_col(col: Column) -> Column:
    # like ntpath.dirname: "" when the path has no separator
    return F.regexp_extract(col, r"^(.*)[\\/][^\\/]*$", 1)


def _hash_part(col: Column, tag: str) -> Column:
    """One hash from a Sysmon 'SHA1=..,MD5=..,SHA256=..' string."""
    return F.nullif(F.regexp_extract(col, tag + r"=([0-9A-Fa-f]+)", 1), F.lit(""))


def _hashes_json(md5: Column, sha1: Column, sha256: Column) -> Column:
    """Pre-rendered canonical-JSON hashes fragment in the reference's
    preference order (identifiers.HASH_PREFERENCE: MD5 first)."""
    return (
        F.when(md5.isNotNull(), F.concat(F.lit('{"MD5":"'), md5, F.lit('"}')))
        .when(sha1.isNotNull(), F.concat(F.lit('{"SHA-1":"'), sha1, F.lit('"}')))
        .when(sha256.isNotNull(), F.concat(F.lit('{"SHA-256":"'), sha256, F.lit('"}')))
    )


def _addr_guess_id(v: Column) -> tuple:
    """(id column, ordered [(type, filter)]) for an address-valued string
    (same guess ladder as _addr_split)."""
    cases = [
        ("mac-addr", v.rlike(MAC_RE)),
        ("ipv4-addr", v.rlike(V4_RE)),
        ("ipv6-addr", v.contains(":")),
        ("domain-name", F.lit(True)),
    ]
    id_col = None
    for otype, cond in reversed(cases):
        this = sco_id_col(otype, {"value": (v, "str")})
        id_col = this if id_col is None else F.when(cond, this).otherwise(id_col)
    return F.when(v.isNotNull(), id_col), cases


def windows_to_scos(df: DataFrame, identity_id: str | None = None) -> dict:
    """Windows/Sysmon event log -> {otype: DataFrame} node graph.

    Builds the process (with parent/binary/user refs), file+directory,
    network-traffic (+ ``opened_connection_refs`` reflist edge), registry,
    DNS, event/asset/artifact nodes the reference's per-EventID matrix
    produces, as pure column expressions over one wide projection.
    """
    have = set(df.columns)

    def src(name: str) -> Column:
        if name in have:
            return F.col(f"`{name}`").cast("string")
        return F.lit(None).cast("string")

    eid = src("EventID").cast("int")

    def by_event(spec: dict, default: Column | None = None) -> Column:
        out = default if default is not None else F.lit(None).cast("string")
        for ids, c in spec.items():
            ids = ids if isinstance(ids, tuple) else (ids,)
            out = F.when(eid.isin(*ids) & c.isNotNull(), c).otherwise(out)
        return out

    msg = src("Message")
    ts = F.to_timestamp(F.coalesce(src("UtcTime"), src("TimeCreated"), src("@timestamp")))

    # --- process + parent (events 1 Sysmon, 4688 Security; common fallback)
    image = by_event(
        {(1, 3, 5, 7, 10, 11, 12, 13): src("Image"), 4688: src("NewProcessName")},
        default=F.coalesce(src("Application"), src("ProcessName")),
    )
    pid = by_event({4688: src("NewProcessId")}, default=src("ProcessId")).cast("long")
    guid = src("ProcessGuid")
    cmdline = by_event({(1, 7, 4688): src("CommandLine")})
    created = F.when(eid == 1, ts)
    p_image = by_event({1: src("ParentImage"), 4688: src("ParentProcessName")})
    p_pid = by_event({1: src("ParentProcessId"), 4688: src("ProcessId")}).cast("long")
    p_guid = by_event({(1, 4688): src("ParentProcessGuid")})
    p_cmdline = by_event({1: src("ParentCommandLine")})

    # user (1: User, 4688: SubjectUserName; else the SdsMapper
    # TargetUserName/SubjectUserName fallback, '-' meaning none)
    user_raw = F.coalesce(
        by_event({1: src("User"), 4688: src("SubjectUserName")}),
        src("TargetUserName"),
        src("SubjectUserName"),
    )
    user_id = F.when(user_raw != "-", user_raw)

    # --- network connection (3 Sysmon, 5156 Security firewall)
    proto_num = src("Protocol")
    proto_named = F.lit(None).cast("string")
    for num, name in sorted(_proto_names().items()):
        proto_named = F.when(proto_num == str(num), F.lit(name)).otherwise(proto_named)
    protocol = F.lower(
        by_event({3: src("Protocol"), 5156: F.coalesce(proto_named, proto_num)})
    )
    src_ip = by_event({3: src("SourceIp"), 5156: src("SourceAddress")})
    dst_ip = by_event({3: src("DestinationIp"), 5156: src("DestAddress")})
    src_port = F.when(eid.isin(3, 5156), src("SourcePort")).cast("long")
    dst_port = by_event({3: src("DestinationPort"), 5156: src("DestPort")}).cast("long")

    # --- files: process image, parent image, loaded image (7), created (11)
    img_hashes = F.when(eid == 1, src("Hashes"))
    loaded_hashes = F.when(eid.isin(*LOADED_FILE_EVENTS), src("Hashes"))
    loaded_image = F.when(eid.isin(*LOADED_FILE_EVENTS), src("ImageLoaded"))
    target_file = F.when(eid.isin(*TARGET_FILE_EVENTS), src("TargetFilename"))
    # Sysmon 15 carries its hash in `Hash` (not `Hashes`)
    target_hashes = F.when(eid == 15, F.coalesce(src("Hash"), src("Hashes")))

    # --- registry (12 create/delete: whole key; 13 set: key \ value name;
    # SDS 'Details: DWORD (...)' message carries the value payload)
    tobj = src("TargetObject")
    reg_key = expand_reg_hive(
        by_event({12: tobj, 13: F.regexp_extract(tobj, r"^(.*)[\\][^\\]*$", 1)})
    )
    details = F.nullif(F.regexp_extract(msg, r'Details: ([^"]*)', 1), F.lit(""))
    details_type = F.nullif(F.regexp_extract(details, r"^(DWORD|QWORD)", 1), F.lit(""))
    details_data = F.regexp_extract(details, r"^(?:DWORD|QWORD)\s+(\S+)", 1)
    reg_values = F.when(
        eid == 13,
        F.array(F.to_json(F.struct(_basename_col(tobj).alias("name")))),
    ).otherwise(
        F.when(
            details_type.isNotNull(),
            F.array(
                F.to_json(
                    F.struct(
                        details_data.alias("data"), details_type.alias("data_type")
                    )
                )
            ),
        )
    )

    # --- DNS (Sysmon 22, DNS-Client 3018)
    qname = F.when(eid.isin(22, 3018), src("QueryName"))
    qip = F.nullif(
        F.regexp_extract(src("QueryResults"), r"((?:[0-9]{1,3}\.){3}[0-9]{1,3})", 1),
        F.lit(""),
    )

    # --- event action: EventType-derived beats Message prefix beats the
    # event-id catalog (the reference's last-write-wins dict order)
    etype = F.nullif(F.regexp_extract(msg, r"EventType: (\w+)", 1), F.lit(""))
    etype_action = F.lit(None).cast("string")
    for ename, code in SDS_EVENT_TYPES.items():
        etype_action = F.when(
            etype == ename, F.lit(f"{WINDOWS_EVENT_NAMES[code]} - {ename}")
        ).otherwise(etype_action)
    prefix_action = F.nullif(F.regexp_extract(msg, r"^([^:.]*)", 1), F.lit(""))
    table_action = F.lit(None).cast("string")
    for code, name in WINDOWS_EVENT_NAMES.items():
        table_action = F.when(eid == code, F.lit(name)).otherwise(table_action)
    action = F.coalesce(etype_action, prefix_action, table_action)

    # node ids with a RANDOM fallback must be materialized inside the
    # persisted wide frame — a uuid() evaluated per output projection would
    # mint a different id in each frame and break ref/edge consistency
    pproc_any_src = (
        p_image.isNotNull()
        | p_pid.isNotNull()
        | p_guid.isNotNull()
        | p_cmdline.isNotNull()
    )
    reg_any_src = reg_key.isNotNull() | reg_values.isNotNull()

    wide = df.select(
        eid.alias("eid"),
        ts.alias("ts"),
        sco_id_col("process", {"x_unique_id": (guid, "str")}).alias("proc_id"),
        F.when(
            pproc_any_src, sco_id_col("process", {"x_unique_id": (p_guid, "str")})
        ).alias("pproc_id"),
        F.when(
            reg_any_src, F.concat(F.lit("windows-registry-key--"), F.expr("uuid()"))
        ).alias("reg_id"),
        src("Channel").alias("module"),
        src("SourceName").alias("provider"),
        F.when(src("Category").isNotNull(), F.array(src("Category"))).alias("category"),
        action.alias("action"),
        F.when(msg.isNotNull(), F.base64(F.encode(msg, "UTF-8"))).alias("payload_bin"),
        src("Hostname").alias("hostname"),
        image.alias("image"),
        pid.alias("pid"),
        guid.alias("guid"),
        cmdline.alias("cmdline"),
        created.alias("created"),
        p_image.alias("p_image"),
        p_pid.alias("p_pid"),
        p_guid.alias("p_guid"),
        p_cmdline.alias("p_cmdline"),
        user_id.alias("user_id"),
        protocol.alias("protocol"),
        src_ip.alias("src_ip"),
        dst_ip.alias("dst_ip"),
        src_port.alias("src_port"),
        dst_port.alias("dst_port"),
        img_hashes.alias("img_hashes"),
        loaded_hashes.alias("loaded_hashes"),
        loaded_image.alias("loaded_image"),
        target_file.alias("target_file"),
        target_hashes.alias("target_hashes"),
        reg_key.alias("reg_key"),
        reg_values.alias("reg_values"),
        qname.alias("qname"),
        qip.alias("qip"),
    ).withColumn(
        "__obs_id", F.concat(F.lit("observed-data--"), F.expr("uuid()"))
    ).persist()

    c = F.col
    out: dict[str, DataFrame] = {}
    contains: list = []

    def emit(otype: str, presence: Column, cols: list):
        frame = wide.filter(presence).select(*cols, c("__obs_id"))
        out[otype] = (
            frame
            if otype not in out
            else out[otype].unionByName(frame, allowMissingColumns=True)
        )

    # file + directory nodes: (name, dir, hashes-json, presence)
    def file_node(path_col: Column, hashes_str: Column | None):
        name = _basename_col(path_col)
        dirp = _dirname_col(path_col)
        if hashes_str is not None:
            hj = _hashes_json(
                _hash_part(hashes_str, "MD5"),
                _hash_part(hashes_str, "SHA1"),
                _hash_part(hashes_str, "SHA256"),
            )
        else:
            hj = F.lit(None).cast("string")
        dir_id = F.when(
            path_col.isNotNull(), sco_id_col("directory", {"path": (dirp, "str")})
        )
        file_id = F.when(
            path_col.isNotNull(),
            sco_id_col(
                "file",
                {
                    "name": (name, "str"),
                    "hashes": (hj, "raw"),
                    "parent_directory_ref": (dir_id, "str"),
                },
            ),
        )
        return name, dirp, hj, dir_id, file_id

    img_name, img_dir, img_hj, img_dir_id, img_file_id = file_node(
        c("image"), c("img_hashes")
    )
    p_name, p_dir, _, p_dir_id, p_file_id = file_node(c("p_image"), None)
    l_name, l_dir, l_hj, l_dir_id, l_file_id = file_node(
        c("loaded_image"), c("loaded_hashes")
    )
    t_name, t_dir, t_hj, t_dir_id, t_file_id = file_node(
        c("target_file"), c("target_hashes")
    )

    proc_id = c("proc_id")
    pproc_any = (
        c("p_image").isNotNull()
        | c("p_pid").isNotNull()
        | c("p_guid").isNotNull()
        | c("p_cmdline").isNotNull()
    )
    pproc_id = c("pproc_id")
    user_sco_id = F.when(
        c("user_id").isNotNull(),
        sco_id_col("user-account", {"user_id": (c("user_id"), "str")}),
    )
    asset_id = F.when(
        c("hostname").isNotNull(),
        sco_id_col("x-oca-asset", {"hostname": (c("hostname"), "str")}),
    )
    src_addr_id, _ = _addr_guess_id(c("src_ip"))
    dst_addr_id, _ = _addr_guess_id(c("dst_ip"))
    qip_id, _ = _addr_guess_id(c("qip"))
    nt_any = (
        c("src_ip").isNotNull()
        | c("dst_ip").isNotNull()
        | c("src_port").isNotNull()
        | c("dst_port").isNotNull()
    )
    protocols = F.when(c("protocol").isNotNull(), F.array(c("protocol")))
    nt_id = F.when(
        nt_any,
        sco_id_col(
            "network-traffic",
            {
                "src_ref": (src_addr_id, "str"),
                "dst_ref": (dst_addr_id, "str"),
                "src_port": (c("src_port"), "int"),
                "dst_port": (c("dst_port"), "int"),
                "protocols": (protocols, "str_list"),
            },
        ),
    )
    dns_id = F.when(
        c("qname").isNotNull(),
        sco_id_col("domain-name", {"value": (c("qname"), "str")}),
    )
    # windows-registry-key has no contributing props (the reference's
    # ID_PROPS carries the 'windows-registry-keys' typo, so makeid falls
    # back to uuid4 — firepit/stix21.py:28): random id, reference parity
    reg_any = c("reg_key").isNotNull() | c("reg_values").isNotNull()
    reg_id = c("reg_id")
    artifact_id = F.when(
        c("payload_bin").isNotNull(),
        sco_id_col("artifact", {"payload_bin": (c("payload_bin"), "str")}),
    )
    proc_any = (
        c("pid").isNotNull()
        | c("guid").isNotNull()
        | c("image").isNotNull()
        | c("cmdline").isNotNull()
    )

    # x-oca-event links (parity: dict2observation fix-up,
    # firepit/woodchipper.py:248-287; file_ref only for file-centric events)
    file_ref = F.when(c("eid").isin(*LOADED_FILE_EVENTS), l_file_id).when(
        c("eid").isin(*TARGET_FILE_EVENTS), t_file_id
    )
    emit(
        "x-oca-event",
        c("eid").isNotNull(),
        [
            F.concat(F.lit("x-oca-event--"), F.expr("uuid()")).alias("id"),
            c("eid").alias("code"),
            c("action").alias("action"),
            c("module").alias("module"),
            c("provider").alias("provider"),
            c("category").alias("category"),
            F.when(proc_any, proc_id).alias("process_ref"),
            pproc_id.alias("parent_process_ref"),
            nt_id.alias("network_ref"),
            dns_id.alias("domain_ref"),
            asset_id.alias("host_ref"),
            file_ref.alias("file_ref"),
        ],
    )
    emit(
        "x-oca-asset",
        c("hostname").isNotNull(),
        [asset_id.alias("id"), c("hostname").alias("hostname")],
    )
    emit(
        "artifact",
        c("payload_bin").isNotNull(),
        [artifact_id.alias("id"), c("payload_bin").alias("payload_bin")],
    )
    emit(
        "process",
        proc_any,
        [
            proc_id.alias("id"),
            c("pid").alias("pid"),
            c("guid").alias("x_unique_id"),
            img_name.alias("name"),
            c("cmdline").alias("command_line"),
            c("created").alias("created"),
            img_file_id.alias("binary_ref"),
            pproc_id.alias("parent_ref"),
            user_sco_id.alias("creator_user_ref"),
        ],
    )
    emit(
        "process",
        pproc_any,
        [
            pproc_id.alias("id"),
            c("p_pid").alias("pid"),
            c("p_guid").alias("x_unique_id"),
            p_name.alias("name"),
            c("p_cmdline").alias("command_line"),
            p_file_id.alias("binary_ref"),
        ],
    )
    for path_col, hashes_col, name, dirp, hj, dir_id, file_id in (
        ("image", "img_hashes", img_name, img_dir, img_hj, img_dir_id, img_file_id),
        ("p_image", None, p_name, p_dir, None, p_dir_id, p_file_id),
        ("loaded_image", "loaded_hashes", l_name, l_dir, l_hj, l_dir_id, l_file_id),
        ("target_file", "target_hashes", t_name, t_dir, t_hj, t_dir_id, t_file_id),
    ):
        present = c(path_col).isNotNull()
        file_cols = [
            file_id.alias("id"),
            name.alias("name"),
            dir_id.alias("parent_directory_ref"),
        ]
        if hj is not None:
            src_hashes = c(hashes_col)
            file_cols += [
                _hash_part(src_hashes, "MD5").alias("hashes.MD5"),
                _hash_part(src_hashes, "SHA1").alias("hashes.'SHA-1'"),
                _hash_part(src_hashes, "SHA256").alias("hashes.'SHA-256'"),
            ]
        emit("file", present, file_cols)
        emit("directory", present, [dir_id.alias("id"), dirp.alias("path")])
    emit(
        "user-account",
        c("user_id").isNotNull(),
        [user_sco_id.alias("id"), c("user_id").alias("user_id")],
    )
    # address nodes split per guessed type, first match wins
    for ip_col, addr_id in (("src_ip", src_addr_id), ("dst_ip", dst_addr_id), ("qip", qip_id)):
        v = c(ip_col)
        seen = None
        for ref_type, cond_builder in _addr_guess_id(v)[1]:
            cond = cond_builder
            eff = cond if seen is None else cond & ~seen
            seen = cond if seen is None else (seen | cond)
            emit(
                ref_type,
                v.isNotNull() & eff,
                [
                    sco_id_col(ref_type, {"value": (v, "str")}).alias("id"),
                    v.alias("value"),
                ],
            )
    emit(
        "network-traffic",
        nt_any,
        [
            nt_id.alias("id"),
            src_addr_id.alias("src_ref"),
            dst_addr_id.alias("dst_ref"),
            c("src_port").alias("src_port"),
            c("dst_port").alias("dst_port"),
            protocols.alias("protocols"),
        ],
    )
    emit(
        "domain-name",
        c("qname").isNotNull(),
        [dns_id.alias("id"), c("qname").alias("value")],
    )
    emit(
        "windows-registry-key",
        reg_any,
        [
            reg_id.alias("id"),
            c("reg_key").alias("key"),
            c("reg_values").alias("values"),
        ],
    )

    # observed-data + containment edges
    obs_cols = [
        c("__obs_id").alias("id"),
        c("ts").alias("first_observed"),
        c("ts").alias("last_observed"),
        F.lit(1).alias("number_observed"),
    ]
    if identity_id:
        obs_cols.append(F.lit(identity_id).alias("created_by_ref"))
    out["observed-data"] = wide.select(*obs_cols)

    for otype, frame in list(out.items()):
        if otype == "observed-data":
            continue
        contains.append(
            frame.select(
                c("__obs_id").alias("source_ref"), c("id").alias("target_ref")
            )
        )
    edges = contains[0]
    for e in contains[1:]:
        edges = edges.unionByName(e)
    out["__contains"] = edges

    # reflist edges: process -> network-traffic, domain-name -> resolved ip
    conn = wide.filter(nt_any & proc_any).select(
        F.lit("opened_connection_refs").alias("ref_name"),
        proc_id.alias("source_ref"),
        nt_id.alias("target_ref"),
    )
    resolved = wide.filter(c("qname").isNotNull() & c("qip").isNotNull()).select(
        F.lit("resolves_to_refs").alias("ref_name"),
        dns_id.alias("source_ref"),
        qip_id.alias("target_ref"),
    )
    out["__reflist"] = conn.unionByName(resolved)

    return ScoFrames(
        {
            k: (v.drop("__obs_id") if "__obs_id" in v.columns else v)
            for k, v in out.items()
        },
        cache=wide,
    )


def convert_flat_json(
    storage,
    df: DataFrame,
    otype: str | None = None,
    query_id: str | None = None,
    identity_id: str | None = None,
):
    """Generic flat-JSON ingest: rows are single-SCO events whose columns
    are the SCO's properties (parity: FlatJsonMapper,
    firepit/woodchipper.py:750-775). ``otype`` defaults to the constant
    ``type`` column value."""
    if otype is None:
        if "type" not in df.columns:
            raise ValueError("flat JSON needs a 'type' column or explicit otype")
        types = [r[0] for r in df.select("type").distinct().limit(2).collect()]
        if len(types) != 1:
            raise ValueError(f"expected one event type per frame, got {types}")
        otype = types[0]
    mapping = flat_json_mapping([c for c in df.columns if c != "type"], otype)
    return convert_log(
        storage, df.drop("type"), mapping=mapping, query_id=query_id,
        identity_id=identity_id,
    )


def convert_log(
    storage,
    df: DataFrame,
    mapping: str | dict | None = None,
    query_id: str | None = None,
    identity_id: str | None = None,
):
    """Convert + ingest a log DataFrame (the ``woodchipper.convert`` +
    ``cache`` pipeline as one distributed pass)."""
    if mapping is None:
        mapping = detect_mapping(df.columns)
        if mapping is None:
            raise ValueError(f"cannot detect log format from columns {df.columns}")
    if mapping == "windows_events":
        scos = windows_to_scos(df, identity_id=identity_id)
    else:
        if isinstance(mapping, str):
            mapping = MAPPINGS[mapping]
        wide = to_wide(df, mapping)
        scos = wide_to_scos(wide, identity_id=identity_id)
    try:
        # only observed types get tables (reference parity); each probe is
        # a limit-1 scan over the persisted wide frame — cheap
        return storage._ingest_frames(scos, query_id, skip_empty=True)
    finally:
        scos.release()
