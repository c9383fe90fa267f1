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

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from firepit_spark.functions.ids import sco_id_from_hex, sco_id_hex_col, uuid5_from_hex
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


def _addr_ladder_from_hex(v: Column, hex_col: Column) -> Column:
    """Guess-ladder id column assembled from a pre-bound uuid5 digest.

    All four guesses share ONE uuid5 — the canonical JSON is
    {"value": ...} regardless of the guessed type, only the ``<type>--``
    prefix differs — so the ladder is four cheap concats over the same
    digest attribute."""
    u = uuid5_from_hex(hex_col)
    id_col = None
    for otype, cond in reversed(_addr_cases(v)):
        this = F.concat(F.lit(f"{otype}--"), u)
        id_col = this if id_col is None else F.when(cond, this).otherwise(id_col)
    return F.when(v.isNotNull(), id_col)


def _bind_ids(wide: DataFrame, specs: dict) -> DataFrame:
    """Bind one wave of SCO id columns onto ``wide``.

    ``specs`` maps an id column name to ``(otype, props, guard)``: ``props``
    as in :func:`sco_id_hex_col` (empty for a random ``uuid()`` id),
    ``otype`` ``None`` for the address guess ladder over ``props["value"]``,
    and the id is null wherever ``guard`` (if not ``None``) is false. Each
    uuid5 digest is bound as its own column first and the id is assembled
    from the digest attribute: inlined, the sha1 + canonical-JSON tree is
    copied into every one of the ~10 places an id refers to its digest,
    which overflows Janino's 64 KB method limit and drops the stage out of
    whole-stage codegen. A later wave may refer to an earlier wave's ids.
    """
    digests = {f"__h_{n}": sco_id_hex_col(p) for n, (_, p, _) in specs.items() if p}
    wide = wide.withColumns(digests)
    ids = {}
    for name, (otype, props, guard) in specs.items():
        digest = F.col(f"__h_{name}")
        if otype is None:
            v = props["value"][0]
            id_col = _addr_ladder_from_hex(v, digest)
        elif props:
            id_col = sco_id_from_hex(otype, props, digest)
        else:
            id_col = F.concat(F.lit(f"{otype}--"), F.expr("uuid()"))
        ids[name] = id_col if guard is None else F.when(guard, id_col)
    return wide.withColumns(ids).drop(*digests)


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


def _addr_parts(v: Column, id_name: str) -> list:
    """Parts (see :func:`_sco_frames`) of the address objects behind one
    bound guess ladder, split per guessed type: the first matching case
    wins, so each row lands in exactly one table."""
    parts, seen = [], None
    for otype, cond in _addr_cases(v):
        eff = cond if seen is None else cond & ~seen
        seen = cond if seen is None else (seen | cond)
        parts.append((otype, id_name, [v.alias("value")], v.isNotNull() & eff))
    return parts


def _sco_frames(wide: DataFrame, parts: list, extra: dict) -> ScoFrames:
    """Project the persisted ``wide`` into per-type frames and ``__contains``.

    ``parts`` lists ``(otype, id column, columns, condition)``; each part
    selects the rows where its bound id is set (or ``condition`` holds),
    and the parts of one type are unioned. ``__contains`` is one projection
    too: each row's observation contains every non-null bound id."""
    out: dict[str, DataFrame] = {}
    for otype, id_name, cols, cond in parts:
        rows = F.col(id_name).isNotNull() if cond is None else cond
        frame = wide.filter(rows).select(F.col(id_name).alias("id"), *cols)
        out[otype] = (
            frame
            if otype not in out
            else out[otype].unionByName(frame, allowMissingColumns=True)
        )
    ids = list(dict.fromkeys(id_name for _, id_name, _, _ in parts))
    if ids:
        edges = wide.select(
            F.col("__obs_id").alias("source_ref"),
            F.explode(F.array(*ids)).alias("target_ref"),
        )
        out["__contains"] = edges.filter(F.col("target_ref").isNotNull())
    return ScoFrames({**out, **extra}, cache=wide)


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

    def col(path: str) -> Column:
        return F.col(f"`{path}`")

    # wave 1: observation ids and the referenced addresses' guess ladders;
    # wave 2: one id per type, a ref contributing its target's id (parity:
    # makeid resolves _ref props to target ids, identifiers.py:126-131),
    # null on rows that set none of the type's paths
    addr_ids = {path: f"__addr_id_{i}" for i, path in enumerate(ref_cols)}
    wave1 = {"__obs_id": ("observed-data", {}, None)}
    for path, name in addr_ids.items():
        wave1[name] = (None, {"value": (col(path).cast("string"), "str")}, None)
    wide = _bind_ids(wide, wave1)
    type_ids: dict[str, str] = {}
    type_cols: dict[str, list] = {}
    wave2 = {}
    for j, (otype, props) in enumerate(by_type.items()):
        contrib, present = {}, list(props.values())
        cols = [col(path).alias(prop) for prop, path in props.items()]
        for prop, path in props.items():
            if prop in ID_PROPS.get(otype, ()):
                contrib[prop] = (col(path), _kind(prop, wide.schema[path].dataType))
        for path, (ref_otype, rname) in ref_cols.items():
            if ref_otype == otype:
                present.append(path)
                cols.append(F.col(addr_ids[path]).alias(rname))
                if rname in ID_PROPS.get(otype, ()):
                    contrib[rname] = (F.col(addr_ids[path]), "str")
        type_ids[otype], type_cols[otype] = f"__tid_{j}", cols
        guard = reduce(Column.__or__, [col(p).isNotNull() for p in present])
        wave2[type_ids[otype]] = (otype, contrib, guard)
    wide = _bind_ids(wide, wave2).persist()

    parts = []
    for path, name in addr_ids.items():
        parts += _addr_parts(col(path).cast("string"), name)
    # cross-link the event record to its sibling SCOs from the same log row
    # (parity: the x-oca-event fix-up in dict2observation,
    # firepit/woodchipper.py:265-287)
    if "x-oca-event" in type_cols:
        links = {
            "process": "process_ref",
            "x-oca-asset": "host_ref",
            "network-traffic": "network_ref",
            "domain-name": "domain_ref",
        }
        for t, rname in links.items():
            if t in type_ids:
                type_cols["x-oca-event"].append(F.col(type_ids[t]).alias(rname))
    parts += [(t, type_ids[t], cols, None) for t, cols in type_cols.items()]

    obs = wide.select(
        F.col("__obs_id").alias("id"), *[col(p).alias(p) for p in obs_props]
    ).withColumn("number_observed", F.lit(1))
    if identity_id:
        obs = obs.withColumn("created_by_ref", F.lit(identity_id))
    return _sco_frames(wide, parts, {"observed-data": obs})


# ------------------------------------------------------- windows/sysmon
#
# Per-EventID node graph (parity: firepit/woodchipper.py:432-523
# windows_mapping merged over SdsMapper.common_mapping:598-614, with the
# split_image/split_file_path/split_reg_key_value helpers:361-400 and the
# SdsMapper message enhancement:575-595). Every per-EventID rule is a column
# expression and every node id is bound once in the persisted wide frame
# (_bind_ids), so the frame's one stage compiles in whole-stage codegen and
# each output frame is a plain projection of it.


def _basename_col(col: Column) -> Column:
    return F.regexp_extract(col, r"([^\\/]*)$", 1)


def _dirname_col(col: Column) -> Column:
    # like ntpath.dirname: "" when the path has no separator
    return F.regexp_extract(col, r"^(.*)[\\/][^\\/]*$", 1)


def _hash_part(col: Column, tag: str) -> Column:
    """One hash from a Sysmon 'SHA1=..,MD5=..,SHA256=..' string."""
    return F.nullif(F.regexp_extract(col, tag + r"=([0-9A-Fa-f]+)", 1), F.lit(""))


def _lookup(table: dict, key: Column) -> Column:
    """``table[key]`` as a column, null for a key not in ``table``."""
    return F.create_map(*[F.lit(x) for kv in table.items() for x in kv])[key]


# Sysmon hash tag -> STIX hashes key, in the reference's id preference
# order (identifiers.HASH_PREFERENCE: MD5 first)
HASH_TAGS = {"MD5": "MD5", "SHA1": "'SHA-1'", "SHA256": "'SHA-256'"}


def _hashes_map(f: str) -> Column:
    """The id-contributing ``hashes`` of file ``f``: the first hash present
    in preference order."""
    out = None
    for tag, key in HASH_TAGS.items():
        h = F.col(f"{f}_{tag}")
        this = F.create_map(F.lit(key.strip("'")), h)
        present = h.isNotNull()
        out = F.when(present, this) if out is None else out.when(present, this)
    return out


def windows_to_scos(df: DataFrame, identity_id: str | None = None) -> "ScoFrames":
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

    def num(name: str) -> Column:
        # cast from the column's own type: the string form of a JSON
        # double ("400.0") is not a valid long
        col = F.col(f"`{name}`") if name in have else F.lit(None)
        return col.cast("long")

    eid = num("EventID").cast("int")

    def by_event(spec: dict, default: Column | None = None) -> Column:
        out = default if default is not None else F.lit(None)
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
    pid = by_event({4688: num("NewProcessId")}, default=num("ProcessId"))
    cmdline = by_event({(1, 7, 4688): src("CommandLine")})
    p_image = by_event({1: src("ParentImage"), 4688: src("ParentProcessName")})
    p_pid = by_event({1: num("ParentProcessId"), 4688: num("ProcessId")})
    p_guid = by_event({(1, 4688): src("ParentProcessGuid")})
    p_cmdline = by_event({1: src("ParentCommandLine")})

    # user (1: User, 4688: SubjectUserName; else the SdsMapper
    # TargetUserName/SubjectUserName fallback, '-' meaning none)
    user_raw = F.coalesce(
        by_event({1: src("User"), 4688: src("SubjectUserName")}),
        src("TargetUserName"),
        src("SubjectUserName"),
    )

    # --- network connection (3 Sysmon, 5156 Security firewall)
    proto_num = src("Protocol")
    proto_names = {str(n): name for n, name in _proto_names().items()}
    proto_named = _lookup(proto_names, proto_num)
    protocol = F.lower(
        by_event({3: src("Protocol"), 5156: F.coalesce(proto_named, proto_num)})
    )

    # --- files: process image, parent image, loaded image (6, 7), created
    # (11, 15); prefix -> (path, Sysmon hashes string)
    files = {
        "img": (image, F.when(eid == 1, src("Hashes"))),
        "p": (p_image, None),
        "l": (
            F.when(eid.isin(*LOADED_FILE_EVENTS), src("ImageLoaded")),
            F.when(eid.isin(*LOADED_FILE_EVENTS), src("Hashes")),
        ),
        # Sysmon 15 carries its hash in `Hash` (not `Hashes`)
        "t": (
            F.when(eid.isin(*TARGET_FILE_EVENTS), src("TargetFilename")),
            F.when(eid == 15, F.coalesce(src("Hash"), src("Hashes"))),
        ),
    }
    file_cols = []
    for f, (path, hashes) in files.items():
        file_cols += [
            path.alias(f"{f}_path"),
            _basename_col(path).alias(f"{f}_name"),
            _dirname_col(path).alias(f"{f}_dir"),
        ]
        if hashes is not None:
            file_cols += [
                _hash_part(hashes, tag).alias(f"{f}_{tag}") for tag in HASH_TAGS
            ]

    # --- registry (12 create/delete: whole key; 13 set: key \ value name;
    # SDS 'Details: DWORD (...)' message carries the value payload). The key
    # string and the Details payload are bound in narrow selects ahead of
    # the wide one: inlined, every regexp is copied into each place that
    # reads it (nullif twice, expand_reg_hive once per hive).
    tobj = src("TargetObject")
    staged = df.withColumns(
        {
            "__reg_key": F.when(eid == 12, tobj).when(
                eid == 13, F.regexp_extract(tobj, r"^(.*)[\\][^\\]*$", 1)
            ),
            "__details": F.nullif(
                F.regexp_extract(msg, r'Details: ([^"]*)', 1), F.lit("")
            ),
        }
    )
    details = F.col("__details")
    staged = staged.withColumns(
        {
            "__details_type": F.nullif(
                F.regexp_extract(details, r"^(DWORD|QWORD)", 1), F.lit("")
            ),
            "__details_data": F.regexp_extract(
                details, r"^(?:DWORD|QWORD)\s+(\S+)", 1
            ),
        }
    )
    reg_key = expand_reg_hive(F.col("__reg_key"))
    details_type = F.col("__details_type")
    details_data = F.col("__details_data")
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
    etype_names = {
        e: f"{WINDOWS_EVENT_NAMES[code]} - {e}" for e, code in SDS_EVENT_TYPES.items()
    }
    prefix_action = F.nullif(F.regexp_extract(msg, r"^([^:.]*)", 1), F.lit(""))
    action = F.coalesce(
        _lookup(etype_names, etype), prefix_action, _lookup(WINDOWS_EVENT_NAMES, eid)
    )

    wide = staged.select(
        eid.alias("eid"),
        ts.alias("ts"),
        src("Channel").alias("module"),
        src("SourceName").alias("provider"),
        F.when(src("Category").isNotNull(), F.array(src("Category"))).alias("category"),
        action.alias("action"),
        F.when(msg.isNotNull(), F.base64(F.encode(msg, "UTF-8"))).alias("payload_bin"),
        src("Hostname").alias("hostname"),
        pid.alias("pid"),
        src("ProcessGuid").alias("guid"),
        cmdline.alias("cmdline"),
        F.when(eid == 1, ts).alias("created"),
        p_pid.alias("p_pid"),
        p_guid.alias("p_guid"),
        p_cmdline.alias("p_cmdline"),
        F.when(user_raw != "-", user_raw).alias("user_id"),
        protocol.alias("protocol"),
        by_event({3: src("SourceIp"), 5156: src("SourceAddress")}).alias("src_ip"),
        by_event({3: src("DestinationIp"), 5156: src("DestAddress")}).alias("dst_ip"),
        F.when(eid.isin(3, 5156), num("SourcePort")).alias("src_port"),
        by_event({3: num("DestinationPort"), 5156: num("DestPort")}).alias("dst_port"),
        *file_cols,
        reg_key.alias("reg_key"),
        reg_values.alias("reg_values"),
        qname.alias("qname"),
        qip.alias("qip"),
    )

    # node ids, bound in the persisted wide frame (the random ones must be:
    # a uuid() evaluated per output projection would differ per frame)
    c = F.col

    def any_set(*names: str) -> Column:
        return reduce(Column.__or__, [c(n).isNotNull() for n in names])

    def keyed(otype: str, prop: str, name: str) -> tuple:
        return otype, {prop: (c(name), "str")}, c(name).isNotNull()

    wave1 = {
        "__obs_id": ("observed-data", {}, None),
        "event_id": ("x-oca-event", {}, c("eid").isNotNull()),
        # windows-registry-key has no contributing props (the reference's
        # ID_PROPS carries the 'windows-registry-keys' typo, so makeid
        # falls back to uuid4 — firepit/stix21.py:28): random id, parity
        "reg_id": ("windows-registry-key", {}, any_set("reg_key", "reg_values")),
        "proc_id": (
            "process",
            {"x_unique_id": (c("guid"), "str")},
            any_set("pid", "guid", "img_path", "cmdline"),
        ),
        "pproc_id": (
            "process",
            {"x_unique_id": (c("p_guid"), "str")},
            any_set("p_pid", "p_guid", "p_path", "p_cmdline"),
        ),
        "user_ref": keyed("user-account", "user_id", "user_id"),
        "asset_id": keyed("x-oca-asset", "hostname", "hostname"),
        "dns_id": keyed("domain-name", "value", "qname"),
        "artifact_id": keyed("artifact", "payload_bin", "payload_bin"),
    }
    for f in files:
        wave1[f"{f}_dir_id"] = keyed("directory", "path", f"{f}_dir")
    for ip in ("src_ip", "dst_ip", "qip"):
        wave1[f"{ip}_id"] = (None, {"value": (c(ip), "str")}, None)
    wide = _bind_ids(wide, wave1)

    protocols = F.when(c("protocol").isNotNull(), F.array(c("protocol")))
    nt_props = {
        "src_ref": (c("src_ip_id"), "str"),
        "dst_ref": (c("dst_ip_id"), "str"),
        "src_port": (c("src_port"), "int"),
        "dst_port": (c("dst_port"), "int"),
        "protocols": (protocols, "str_list"),
    }
    wave2 = {
        "nt_id": (
            "network-traffic",
            nt_props,
            any_set("src_ip", "dst_ip", "src_port", "dst_port"),
        )
    }
    for f, (_, hashes) in files.items():
        props = {
            "name": (c(f"{f}_name"), "str"),
            "parent_directory_ref": (c(f"{f}_dir_id"), "str"),
        }
        if hashes is not None:
            props["hashes"] = (_hashes_map(f), "map")
        wave2[f"{f}_file_id"] = ("file", props, c(f"{f}_path").isNotNull())
    wide = _bind_ids(wide, wave2).persist()

    parts = []

    def emit(otype: str, id_name: str, *cols: Column):
        parts.append((otype, id_name, list(cols), None))

    # x-oca-event links (parity: dict2observation fix-up,
    # firepit/woodchipper.py:248-287; file_ref only for the file-centric
    # events, the only ones that set a loaded or target file)
    emit(
        "x-oca-event",
        "event_id",
        c("eid").alias("code"),
        c("action"),
        c("module"),
        c("provider"),
        c("category"),
        c("proc_id").alias("process_ref"),
        c("pproc_id").alias("parent_process_ref"),
        c("nt_id").alias("network_ref"),
        c("dns_id").alias("domain_ref"),
        c("asset_id").alias("host_ref"),
        F.coalesce(c("l_file_id"), c("t_file_id")).alias("file_ref"),
    )
    emit("x-oca-asset", "asset_id", c("hostname"))
    emit("artifact", "artifact_id", c("payload_bin"))
    emit(
        "process",
        "proc_id",
        c("pid"),
        c("guid").alias("x_unique_id"),
        c("img_name").alias("name"),
        c("cmdline").alias("command_line"),
        c("created"),
        c("img_file_id").alias("binary_ref"),
        c("pproc_id").alias("parent_ref"),
        c("user_ref").alias("creator_user_ref"),
    )
    emit(
        "process",
        "pproc_id",
        c("p_pid").alias("pid"),
        c("p_guid").alias("x_unique_id"),
        c("p_name").alias("name"),
        c("p_cmdline").alias("command_line"),
        c("p_file_id").alias("binary_ref"),
    )
    for f, (_, hashes) in files.items():
        hash_cols = [
            c(f"{f}_{tag}").alias(f"hashes.{key}") for tag, key in HASH_TAGS.items()
        ]
        emit(
            "file",
            f"{f}_file_id",
            c(f"{f}_name").alias("name"),
            c(f"{f}_dir_id").alias("parent_directory_ref"),
            *(hash_cols if hashes is not None else []),
        )
        emit("directory", f"{f}_dir_id", c(f"{f}_dir").alias("path"))
    emit("user-account", "user_ref", c("user_id"))
    for ip in ("src_ip", "dst_ip", "qip"):
        parts += _addr_parts(c(ip), f"{ip}_id")
    emit(
        "network-traffic",
        "nt_id",
        c("src_ip_id").alias("src_ref"),
        c("dst_ip_id").alias("dst_ref"),
        c("src_port"),
        c("dst_port"),
        protocols.alias("protocols"),
    )
    emit("domain-name", "dns_id", c("qname").alias("value"))
    emit(
        "windows-registry-key",
        "reg_id",
        c("reg_key").alias("key"),
        c("reg_values").alias("values"),
    )

    obs_cols = [
        c("__obs_id").alias("id"),
        c("ts").alias("first_observed"),
        c("ts").alias("last_observed"),
        F.lit(1).alias("number_observed"),
    ]
    if identity_id:
        obs_cols.append(F.lit(identity_id).alias("created_by_ref"))

    # reflist edges: process -> network-traffic, domain-name -> resolved ip
    def reflist(name: str, source: str, target: str) -> DataFrame:
        return wide.filter(any_set(source) & any_set(target)).select(
            F.lit(name).alias("ref_name"),
            c(source).alias("source_ref"),
            c(target).alias("target_ref"),
        )

    return _sco_frames(
        wide,
        parts,
        {
            "observed-data": wide.select(*obs_cols),
            "__reflist": reflist("opened_connection_refs", "proc_id", "nt_id")
            .unionByName(reflist("resolves_to_refs", "dns_id", "qip_id")),
        },
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
