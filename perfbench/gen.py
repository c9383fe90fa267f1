"""Seeded input generators for the workloads.

Every generator is a pure function of its seed (and size arguments): the
same seed gives byte-identical files. Each generator returns, next to the
files or objects it writes, the plain records the inputs were made from, so
the expected results of every op can be computed in Python without asking
the program (see ``expect.py``).
"""

from __future__ import annotations

import bisect
import json
import os
import random
import uuid
from datetime import datetime, timedelta

BASE_TIME = datetime(2024, 5, 1)
IDENTITY_ID = "identity--5f1a2b3c-0000-4000-8000-00000000aaaa"
DST_PORTS = [443, 80, 22, 53, 8080, 3389, 445, 25]
PROC_NAMES = [f"proc{i:02d}" for i in range(24)]
FILE_NAMES = [f"tool{i:02d}.bin" for i in range(48)]
VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "customer vector the a of to in is for on with log alert host user net "
    "file proc dns mail auth http"
).split()


class Zipf:
    """Seeded Zipf(s) sampler over ``range(n)`` (rank 0 most frequent)."""

    def __init__(self, n: int, s: float = 1.1):
        total, self._cum = 0.0, []
        for k in range(1, n + 1):
            total += 1.0 / k**s
            self._cum.append(total)
        self._total = total

    def draw(self, rng: random.Random) -> int:
        return bisect.bisect_left(self._cum, rng.random() * self._total)


def stix_ts(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def _uuid(rng: random.Random) -> str:
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


def directory_of(file_name: str) -> str:
    """A file name always lives in the same directory, so merging file rows
    by id never changes the two-hop path a process resolves to."""
    return f"/opt/app{int(file_name[4:6]) % 8}/bin"


# ------------------------------------------------------------------ STIX


def observation_records(rng: random.Random, n: int, tag: str, first_port: int = 10000):
    """``n`` observation records with Zipf-skewed values.

    ``tag`` is part of every url and source address, so records made with
    different tags share no url or source address. Source ports are unique
    per record, which makes every network-traffic SCO (and so every
    observation's traffic) distinct.
    """
    urls = Zipf(400)
    srcs, dsts = Zipf(600), Zipf(300)
    ports, procs, files = Zipf(len(DST_PORTS)), Zipf(len(PROC_NAMES)), Zipf(len(FILE_NAMES))
    out = []
    for i in range(n):
        first = BASE_TIME + timedelta(
            seconds=rng.randrange(86400), milliseconds=rng.randrange(1000)
        )
        last = first + timedelta(seconds=rng.randrange(120))
        u, s, d = urls.draw(rng), srcs.draw(rng), dsts.draw(rng)
        fname = FILE_NAMES[files.draw(rng)]
        out.append(
            {
                "obs_id": "observed-data--" + _uuid(rng),
                "first": stix_ts(first),
                "last": stix_ts(last),
                "n": 1 + rng.randrange(5),
                "src": f"10.{s % 4}.{tag_octet(tag)}.{s // 4 % 250 + 1}",
                "dst": f"172.16.{d // 250}.{d % 250 + 1}",
                "sport": first_port + i,
                "dport": DST_PORTS[ports.draw(rng)],
                "url": f"http://site{u % 40}.example/{tag}/page{u}",
                "proc": PROC_NAMES[procs.draw(rng)],
                "pid": 1000 + rng.randrange(30000),
                "puid": f"{tag}-{i}",
                "file": fname,
                "dir": directory_of(fname),
            }
        )
    return out


def tag_octet(tag: str) -> int:
    return sum(ord(c) * (i + 1) for i, c in enumerate(tag)) % 250


def observation(rec: dict) -> dict:
    """STIX 2.0 observed-data object with 7 SCOs for one record."""
    return {
        "type": "observed-data",
        "id": rec["obs_id"],
        "created_by_ref": IDENTITY_ID,
        "created": rec["first"],
        "modified": rec["first"],
        "first_observed": rec["first"],
        "last_observed": rec["last"],
        "number_observed": rec["n"],
        "objects": {
            "0": {"type": "ipv4-addr", "value": rec["src"]},
            "1": {"type": "ipv4-addr", "value": rec["dst"]},
            "2": {
                "type": "network-traffic",
                "src_ref": "0",
                "dst_ref": "1",
                "src_port": rec["sport"],
                "dst_port": rec["dport"],
                "protocols": ["tcp"],
            },
            "3": {"type": "url", "value": rec["url"]},
            "4": {"type": "directory", "path": rec["dir"]},
            "5": {"type": "file", "name": rec["file"], "parent_directory_ref": "4"},
            "6": {
                "type": "process",
                "name": rec["proc"],
                "pid": rec["pid"],
                "x_unique_id": rec["puid"],
                "binary_ref": "5",
            },
        },
    }


def bundle(records: list, bundle_id: str) -> dict:
    identity = {
        "type": "identity",
        "id": IDENTITY_ID,
        "identity_class": "program",
        "name": "perfbench",
        "created": "2024-05-01T00:00:00.000Z",
        "modified": "2024-05-01T00:00:00.000Z",
    }
    return {
        "type": "bundle",
        "id": "bundle--" + bundle_id,
        "objects": [identity] + [observation(r) for r in records],
    }


def write_json(path: str, obj) -> int:
    data = json.dumps(obj, separators=(",", ":")).encode()
    with open(path, "wb") as fp:
        fp.write(data)
    return len(data)


def hunt_inputs(seed: int, out_dir: str, n_obs: int, n_files: int):
    """Bundle files for the bulk load; returns (paths, records, bytes)."""
    rng = random.Random(seed)
    records = observation_records(rng, n_obs, "h")
    os.makedirs(out_dir, exist_ok=True)
    paths, nbytes = [], 0
    per = -(-n_obs // n_files)
    for k in range(n_files):
        path = os.path.join(out_dir, f"bundle{k}.json")
        nbytes += write_json(path, bundle(records[k * per:(k + 1) * per], f"{seed}-{k}"))
        paths.append(path)
    return paths, records, nbytes


# ------------------------------------------------------------------ logs


def zeek_rows(rng: random.Random, n: int, tag: str) -> list:
    """zeek conn.log JSON-lines rows; (source address, source port) is
    unique per row, so each row makes a distinct network-traffic SCO."""
    octet = tag_octet(tag)
    return [
        {
            "ts": 1714521600.0 + rng.randrange(86400) + rng.randrange(1000) / 1000,
            "uid": f"C{tag}{i}",
            "id_orig_h": f"10.{octet}.{i // 60000}.{i % 200 + 1}",
            "id_orig_p": 1024 + i % 60000,
            "id_resp_h": f"172.20.{rng.randrange(4)}.{rng.randrange(1, 250)}",
            "id_resp_p": DST_PORTS[rng.randrange(len(DST_PORTS))],
            "proto": "tcp",
            "orig_ip_bytes": rng.randrange(40, 20000),
            "resp_ip_bytes": rng.randrange(40, 200000),
            "orig_pkts": rng.randrange(1, 50),
            "resp_pkts": rng.randrange(1, 80),
        }
        for i in range(n)
    ]


def sysmon_rows(rng: random.Random, n: int, tag: str) -> list:
    """Sysmon-shaped events: process creations (EventID 1) and the network
    connections those processes open (EventID 3), one ProcessGuid each."""
    rows = []
    for i in range(n):
        guid = f"{{{tag}-{i // 2}}}"
        image = f"C:\\Program Files\\app{i % 7}\\{PROC_NAMES[i % 24]}.exe"
        base = {
            "UtcTime": "2024-05-01 10:00:00.000",
            "Channel": "Microsoft-Windows-Sysmon/Operational",
            "Hostname": f"ws{rng.randrange(20):02d}",
            "Image": image,
            "ProcessId": 2000 + i // 2,
            "ProcessGuid": guid,
        }
        if i % 2 == 0:
            base.update(
                EventID=1,
                CommandLine=f"{PROC_NAMES[i % 24]}.exe --run {rng.randrange(100)}",
                ParentImage="C:\\Windows\\explorer.exe",
                ParentProcessId=400,
                ParentProcessGuid=f"{{{tag}-parent}}",
                User="CORP\\analyst",
                Hashes=f"MD5={rng.getrandbits(64):016X},SHA256={rng.getrandbits(128):032X}",
            )
        else:
            base.update(
                EventID=3,
                SourceIp=f"10.9.{rng.randrange(250)}.{rng.randrange(1, 250)}",
                SourcePort=49152 + i,
                DestinationIp=f"93.184.{rng.randrange(250)}.{rng.randrange(1, 250)}",
                DestinationPort=443,
                Protocol="tcp",
            )
        rows.append(base)
    return rows


def write_jsonl(path: str, rows: list) -> int:
    data = "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in rows).encode()
    with open(path, "wb") as fp:
        fp.write(data)
    return len(data)


# --------------------------------------------------------------- library


def library_tables(seed: int, out_dir: str, n_events: int, n_docs: int) -> dict:
    """``events`` and ``documents`` parquet tables in the shape the operator
    library's slots read; returns {table: rows}."""
    import pandas as pd

    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    # distinct, increasing microsecond timestamps: ties would make window
    # orderings (sessionize, chain ancestry) ambiguous between engines
    offsets = sorted(rng.sample(range(30 * 86400 * 1000), n_events))
    etypes = ["view", "click", "purchase", "signup", "error"]
    events = pd.DataFrame(
        {
            "event_id": list(range(n_events)),
            "ts": [BASE_TIME + timedelta(milliseconds=o, microseconds=rng.randrange(1000))
                   for o in offsets],
            "user_id": [rng.randrange(300) for _ in range(n_events)],
            "event_type": [etypes[rng.randrange(5)] for _ in range(n_events)],
            "value": [round(rng.random() * 200, 2) for _ in range(n_events)],
            "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(n_events)],
        }
    )
    events["ts"] = events["ts"].astype("datetime64[us]")
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.15:
            # near-duplicate of an earlier document: one word replaced
            words = texts[rng.randrange(i)].split()
            words[rng.randrange(len(words))] = VOCAB[rng.randrange(len(VOCAB))]
        else:
            words = [VOCAB[rng.randrange(len(VOCAB))] for _ in range(rng.randrange(15, 70))]
        texts.append(" ".join(words))
    langs = ["en", "en", "en", "de", "fr", "es", "zh"]
    documents = pd.DataFrame(
        {
            "doc_id": list(range(n_docs)),
            "text": texts,
            "lang": [langs[rng.randrange(len(langs))] for _ in range(n_docs)],
            "source": [f"src{rng.randrange(20)}" for _ in range(n_docs)],
            "n_chars": [len(t) for t in texts],
        }
    )
    for name, df in (("events", events), ("documents", documents)):
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {"events": n_events, "documents": n_docs}
