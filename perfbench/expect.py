"""Expected op results, computed from the generator's own records.

Nothing here reads the warehouse: each helper re-derives an answer from
the records a generator returned, so a wrong answer from the program cannot
also be the benchmark's expectation.
"""

from __future__ import annotations

import ipaddress
import re
from collections import Counter
from datetime import datetime


def like(value: str, pattern: str) -> bool:
    """SQL LIKE with ``%`` and ``_`` (no escapes)."""
    rx = "".join(
        ".*" if c == "%" else "." if c == "_" else re.escape(c) for c in pattern
    )
    return re.fullmatch(rx, value, flags=re.S) is not None


def parse_ts(s: str) -> datetime:
    """STIX timestamp string -> naive UTC datetime (how Spark returns it)."""
    return datetime.strptime(s.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")


def urls_like(records, pattern: str) -> set:
    return {r["url"] for r in records if like(r["url"], pattern)}


def ips_in(records, cidr: str) -> set:
    net = ipaddress.ip_network(cidr)
    return {
        ip
        for r in records
        for ip in (r["src"], r["dst"])
        if ipaddress.ip_address(ip) in net
    }


def traffic_in_window(records, dport: int, start: str, stop: str) -> list:
    """Records whose traffic has ``dport`` and whose observation overlaps
    [start, stop] (START/STOP honoured). Every record's traffic is a
    distinct SCO, so one record is one expected row."""
    lo, hi = parse_ts(start), parse_ts(stop)
    return [
        r
        for r in records
        if r["dport"] == dport and parse_ts(r["last"]) >= lo and parse_ts(r["first"]) <= hi
    ]


def value_counts(records) -> Counter:
    """Observations per url value (one (url, observation) pair each)."""
    return Counter(r["url"] for r in records)


def number_observed(records) -> int:
    return sum(r["n"] for r in records)


def summary(records) -> dict:
    return {
        "first_observed": min(parse_ts(r["first"]) for r in records),
        "last_observed": max(parse_ts(r["last"]) for r in records),
        "number_observed": sum(r["n"] for r in records),
    }


def timestamped(records) -> Counter:
    return Counter((parse_ts(r["first"]), r["url"]) for r in records)


def process_dirs(records, proc: str) -> Counter:
    """``process:binary_ref.parent_directory_ref.path`` per process row."""
    return Counter(r["dir"] for r in records if r["proc"] == proc)


def sorted_page(records, key: str, descending: bool, offset: int, limit: int) -> list:
    vals = sorted((r[key] for r in records), reverse=descending)
    return vals[offset:offset + limit]


# --------------------------------------------------------------- library


def canon_cell(v):
    """Comparable form of one cell: floats to 9 significant digits (the two
    engines may sum in different orders), timestamps as ISO text."""
    if v is None:
        return None
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon_cell(x) for x in v)
    return v


def canon_rows(columns, rows) -> list:
    """Rows as tuples ordered by column name, then sorted; comparable
    across engines whatever their column and row order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    out = [tuple(canon_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)
