"""CDX(J) crawl-index source + SURT URL keys + record-range WARC fetch.

CommonCrawl publishes, next to every crawl's WARC files, a CDX-J INDEX:
one line per capture, ``<urlkey> <timestamp14> <json>`` where the JSON
carries the original url, mime, HTTP status, content digest, and — the
part that matters at 100 TB — the ``filename``/``offset``/``length`` of
the capture's own gzip member inside its WARC file. The index is what
turns "scan 64 000 archives" into "fetch exactly the records this query
needs":

* :func:`read_cdx` — parse index lines into typed columns, entirely in
  Catalyst (``text`` scan → split + ``from_json``), with the same
  clean/quarantine split as ``read_jsonl_corpus``.
* :func:`surt_key_expr` / :func:`surt_key` — the Sort-friendly URI
  Reordering Transform that CDX lines are keyed by (scheme/userinfo
  dropped, host lowercased/www-stripped/REVERSED comma-joined, default
  port dropped, query params SORTED), as a pure-Catalyst expression —
  codegen-eligible, no Python, so computing keys for a trillion URLs is
  a map-only JVM pass. A pure-python twin (:func:`surt_key_py`)
  differential-tests it.
* :func:`fetch_warc_records` — given index rows, read ONLY the byte
  ranges they name: repartition by archive file (co-locates seeks, one
  open handle per file per task), ``seek(offset); read(length)``,
  gunzip the single member, parse the single record through the same
  kernel as :func:`firepit_spark.sources.warc.read_warc`. This is the
  offset-split input path the full-file reader deliberately skips —
  record-level parallelism WITHIN an archive, driven by the index
  instead of a speculative scan, with filter pushdown for free (filter
  the index frame, which is thousands of times smaller than the data).

Openers: local/NFS paths use plain ``open`` executor-side (no JVM
gateway exists inside Arrow workers — the Hadoop FileSystem API is a
driver-only facility). An ``opener`` callable can be injected for
object stores; it must return a file-like with ``seek``/``read``.

The reference engine has no web-archive surface; LLM-pipeline family
(siblings: sources/warc.py, functions/web.py, functions/robots.py).
"""

from __future__ import annotations

import json
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, functions as F

from firepit_spark.sources.warc import WARC_SCHEMA, _record_row, parse_warc_records

#: JSON block schema of a CDX-J line (CommonCrawl field set)
CDX_JSON_SCHEMA = (
    "url STRING, mime STRING, `mime-detected` STRING, status STRING, "
    "digest STRING, length STRING, offset STRING, filename STRING, "
    "languages STRING, encoding STRING, `redirect` STRING"
)

_DEFAULT_PORTS = {"http": "80", "https": "443"}


# ------------------------------------------------------------------ SURT


def surt_key_expr(col):
    """SURT urlkey as a pure-Catalyst expression (see module docstring
    for the canonicalization subset; the python twin is the test
    oracle). NULL-safe: non-URLs (no ``://``) come back NULL."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(F.trim(c))
    scheme = F.regexp_extract(c, r"^([a-z][a-z0-9+.-]*)://", 1)
    rest = F.regexp_replace(c, r"^[a-z][a-z0-9+.-]*://", "")
    rest = F.regexp_replace(rest, r"^[^/@?#]*@", "")  # userinfo
    authority = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    pathq = F.substring(rest, F.length(authority) + 1, F.lit(1 << 20))
    host = F.regexp_extract(authority, r"^([^:]*)", 1)
    # everything after the FIRST colon, numeric or not — exactly the
    # python twin's authority.partition(":") (non-numeric "ports" are
    # kept, so ftp://h:x/ and http://h:8o80/ agree between engines)
    port = F.regexp_extract(authority, r"^[^:]*:(.*)$", 1)
    host = F.regexp_replace(host, r"^www\d*\.", "")
    rev_host = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    # default-port drop is scheme-gated like _DEFAULT_PORTS.get(scheme,
    # ""): only http:80 / https:443 vanish — ftp://h:80/ keeps its port
    default_port = F.when(scheme == "https", F.lit("443")).when(
        scheme == "http", F.lit("80")
    ).otherwise(F.lit(""))
    port_part = F.when(
        (port == "") | (port == default_port), F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_extract(pathq, r"^([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(pathq, r"\?([^#]*)", 1)
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    q_part = F.when(query == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), sorted_q)
    )
    key = F.concat(rev_host, port_part, F.lit(")"), path, q_part)
    return F.when(scheme != "", key)


def surt_key(df: DataFrame, url_col: str = "url",
             out_col: str = "urlkey") -> DataFrame:
    """Append the SURT key column — map-only, JVM-side."""
    return df.withColumn(out_col, surt_key_expr(url_col))


def surt_key_py(url: str) -> str | None:
    """Independent pure-python twin of :func:`surt_key_expr` (same
    canonicalization subset, dict/loop code) — the differential oracle."""
    u = (url or "").strip().lower()
    i = u.find("://")
    if i <= 0 or not u[0].isalpha():
        return None
    scheme, rest = u[:i], u[i + 3:]
    at = rest.find("@")
    if at != -1 and at < min(
        x for x in (rest.find("/"), rest.find("?"), rest.find("#"),
                    len(rest)) if x != -1
    ):
        rest = rest[at + 1:]
    end = len(rest)
    for ch in "/?#":
        j = rest.find(ch)
        if j != -1:
            end = min(end, j)
    authority, pathq = rest[:end], rest[end:]
    host, _, port = authority.partition(":")
    import re

    host = re.sub(r"^www\d*\.", "", host)
    rev = ",".join(reversed(host.split(".")))
    if port and port != _DEFAULT_PORTS.get(scheme, ""):
        rev += ":" + port
    path = pathq.split("?", 1)[0].split("#", 1)[0] or "/"
    query = ""
    if "?" in pathq:
        query = pathq.split("?", 1)[1].split("#", 1)[0]
    out = rev + ")" + path
    if query:
        out += "?" + "&".join(sorted(query.split("&")))
    return out


# ------------------------------------------------------------- CDX lines


def read_cdx(spark, path: str) -> tuple:
    """(clean, quarantine) from CDX-J index file(s): one row per capture
    with ``urlkey, ts, url, mime, status, digest, filename, offset,
    length``. Pure Catalyst (text scan → two splits → from_json →
    casts); lines whose JSON fails to parse, or that lack the three
    fetch coordinates, land in quarantine with a reason. The index for
    a whole CC crawl is ~200 GB vs ~90 TB of WARC — filters on THIS
    frame are how a 100 TB job avoids touching 99% of the archive."""
    raw = spark.read.text(path).select(F.col("value").alias("raw"))
    return parse_cdx_lines(raw)


def parse_cdx_lines(raw: DataFrame, raw_col: str = "raw") -> tuple:
    """The frame-level CDX-J parser :func:`read_cdx` wraps — exposed so
    synthesized lines (tests, the driver gate) ride the exact
    production path. Pure Catalyst."""
    from firepit_spark.sources.corpus import _CORRUPT

    raw = raw.select(F.col(raw_col).alias("raw"))
    raw = raw.filter(F.trim("raw") != "")
    parts = F.split(F.col("raw"), " ", 3)
    parsed = raw.select(
        "raw",
        F.element_at(parts, 1).alias("urlkey"),
        F.element_at(parts, 2).alias("ts"),
        F.from_json(
            F.element_at(parts, 3),
            CDX_JSON_SCHEMA + f", {_CORRUPT} STRING",
            {"columnNameOfCorruptRecord": _CORRUPT},
        ).alias("j"),
    )
    # PERMISSIVE from_json yields a struct of NULLs (not a NULL struct)
    # for malformed JSON; the corrupt-record sidecar is the reliable
    # parse-failure signal (same formulation as read_jsonl_corpus)
    # try_cast, not cast: under ANSI (Spark 4's default) a malformed
    # number in a crawl index line must QUARANTINE, not fail the task
    parse_ok = F.col(f"j.{_CORRUPT}").isNull()
    ok = (
        parse_ok
        & F.col("j.filename").isNotNull()
        & F.col("j.offset").try_cast("long").isNotNull()
        & F.col("j.length").try_cast("long").isNotNull()
    )
    clean = parsed.filter(ok).select(
        "urlkey", "ts",
        F.col("j.url").alias("url"),
        F.col("j.mime").alias("mime"),
        F.col("j.status").try_cast("int").alias("status"),
        F.col("j.digest").alias("digest"),
        F.col("j.filename").alias("filename"),
        F.col("j.offset").try_cast("long").alias("offset"),
        F.col("j.length").try_cast("long").alias("length"),
    )
    quarantine = parsed.filter(~ok).select(
        "raw",
        F.when(~parse_ok, F.lit("parse_error"))
        .otherwise(F.lit("missing_fetch_coordinates"))
        .alias("reason"),
    )
    return clean, quarantine


def cdx_lines_for(records: list, filename: str, compress: bool = True) -> list:
    """Fixture twin: the CDX-J index lines for :func:`firepit_spark.
    sources.warc.warc_encode` output — offsets/lengths computed from the
    same per-record gzip framing the writer emits, urlkey via
    :func:`surt_key_py`."""
    import gzip as _gzip

    from firepit_spark.sources.warc import warc_record_bytes

    lines, off = [], 0
    for headers, block in records:
        rec = warc_record_bytes(headers, block)
        blob = _gzip.compress(rec, mtime=0) if compress else rec
        uri = headers.get("WARC-Target-URI")
        if uri:
            meta = {
                "url": uri,
                "mime": headers.get("Content-Type", ""),
                "status": "200",
                "digest": "sha1:%08x" % (zlib.crc32(block) & 0xFFFFFFFF),
                "length": str(len(blob)),
                "offset": str(off),
                "filename": filename,
            }
            ts = headers.get("WARC-Date", "2024-01-01T00:00:00Z")
            ts14 = "".join(ch for ch in ts if ch.isdigit())[:14]
            lines.append(
                f"{surt_key_py(uri)} {ts14} {json.dumps(meta)}"
            )
        off += len(blob)
    return lines


def read_cluster_idx(spark, path: str) -> DataFrame:
    """The SECONDARY index (``cluster.idx``): CC splits each crawl's
    CDX into ~300 gzipped shards and publishes one tab-separated line
    per compressed BLOCK — ``<first urlkey> <ts>\\t<cdx shard>\\t
    <offset>\\t<length>\\t<cluster no>`` — i.e. an index OF the index,
    small enough to broadcast (~200 MB). Pure Catalyst parse."""
    parts = F.split(F.col("value"), "\t")
    key_ts = F.split(F.element_at(parts, 1), " ")
    return (
        spark.read.text(path)
        .filter(F.trim("value") != "")
        .select(
            F.element_at(key_ts, 1).alias("first_urlkey"),
            F.element_at(key_ts, 2).alias("ts"),
            F.element_at(parts, 2).alias("cdx_file"),
            F.element_at(parts, 3).try_cast("long").alias("offset"),
            F.element_at(parts, 4).try_cast("long").alias("length"),
        )
    )


def cdx_blocks_for_prefix(cluster_rows: list, prefix: str) -> list:
    """Driver-side block lookup over COLLECTED cluster.idx rows (sorted
    by urlkey — that is the file's contract): the CDX blocks that can
    contain keys with ``prefix``. Standard sorted-run logic: a block
    covers [its first_urlkey, next block's first_urlkey), so the match
    starts at the last block whose first key is <= prefix and ends
    before the first block whose first key no longer shares it. Returns
    ``(cdx_file, offset, length)`` triples — typically a handful out of
    hundreds of thousands, which is what makes single-URL/domain lookups
    on a 100 TB crawl interactive."""
    import bisect

    rows = sorted(cluster_rows, key=lambda r: (r[0], r[1]))
    keys = [r[0] for r in rows]
    # the block BEFORE the insertion point of `prefix` may contain it...
    lo = max(bisect.bisect_right(keys, prefix) - 1, 0)
    # ...and every block whose first key is still within the prefix
    # range (all extensions of `prefix` sort below prefix+U+10FFFF)
    hi = max(bisect.bisect_left(keys, prefix + "\U0010ffff"), lo + 1)
    return [(r[2], r[3], r[4]) for r in rows[lo:hi]]


def dedup_by_digest(cdx: DataFrame,
                    order_cols: tuple = ("ts", "urlkey", "filename",
                                         "offset")) -> DataFrame:
    """One capture per content digest — the standard pre-fetch dedup of
    CC processing (the index names every duplicate capture of the same
    bytes; fetching one is enough). Deterministic keeper: the struct-min
    over ``order_cols`` (earliest timestamp first by default). Shape: a
    single groupBy with MAP-SIDE-COMBINED ``min(struct(...))`` — no
    window sort, the shuffle carries one candidate row per (partition,
    digest). Run BEFORE :func:`fetch_warc_records`: dropping dupes on
    the index frame is thousands of times cheaper than after fetch.

    Captures with a NULL digest pass through untouched: the clean split
    does not require a digest, and grouping NULLs would collapse every
    digest-less capture into one keeper (Spark's groupBy puts all NULL
    keys in a single group)."""
    cols = cdx.columns
    ordered = [c for c in order_cols if c in cols] + [
        c for c in cols if c not in order_cols
    ]
    with_digest = cdx.filter(F.col("digest").isNotNull())
    best = with_digest.groupBy("digest").agg(
        F.min(F.struct(*[F.col(c) for c in ordered])).alias("__b")
    )
    deduped = best.select([F.col(f"__b.{c}").alias(c) for c in cols])
    return cdx.filter(F.col("digest").isNull()).unionByName(deduped)


# ------------------------------------------------------- range fetching


def _local_opener(filename: str):
    return open(filename[7:] if filename.startswith("file://") else filename,
                "rb")


def fetch_warc_records(
    cdx: DataFrame,
    base_dir: str = "",
    opener=None,
    keep_payload: bool = True,
) -> DataFrame:
    """Fetch EXACTLY the WARC records an index frame names: repartition
    by archive file (one open handle per file per task, seeks in offset
    order within each partition), read each record's own gzip member by
    ``(offset, length)``, decompress, parse. Output matches
    :data:`~firepit_spark.sources.warc.WARC_SCHEMA`; a record whose
    range fails to fetch/parse quarantines alone (``err``). ``opener``
    defaults to local ``open`` — inject a range-GET opener for object
    stores."""
    import pandas as pd

    open_fn = opener or _local_opener
    cols = [f.split()[0] for f in WARC_SCHEMA.split(", ")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        handles: dict = {}

        def handle(fname: str):
            if fname not in handles:
                handles[fname] = open_fn(
                    base_dir + fname if base_dir else fname
                )
            return handles[fname]

        try:
            for pdf in batches:
                pdf = pdf.sort_values(["filename", "offset"])
                rows = []
                for fname, off, length in zip(
                    pdf["filename"], pdf["offset"], pdf["length"]
                ):
                    try:
                        fh = handle(str(fname))
                        fh.seek(int(off))
                        blob = fh.read(int(length))
                        if blob[:2] == b"\x1f\x8b":
                            blob = zlib.decompress(blob, wbits=31)
                        recs = list(parse_warc_records(blob))
                        if len(recs) != 1:
                            raise ValueError(
                                f"range holds {len(recs)} records, want 1"
                            )
                        rows.append(
                            _record_row(str(fname), int(off), recs[0],
                                        keep_payload)
                        )
                    except Exception as exc:  # noqa: BLE001 — per-record
                        rows.append(
                            (str(fname), int(off), None, None, None, None,
                             None, None, None, None, None, str(exc)[:200])
                        )
                yield pd.DataFrame(rows, columns=cols)
        finally:
            for fh in handles.values():
                try:
                    fh.close()
                except Exception:  # noqa: BLE001
                    pass

    # range partition on (filename, offset), not hash on filename: hash
    # would land EVERY range of a hot archive on one task (a whole-crawl
    # fetch has ~60k files but a single-domain fetch may hit a handful);
    # range keeps adjacent offsets together (sequential-ish seeks, one
    # handle) while still splitting a dominant file across tasks
    plan = cdx.select("filename", "offset", "length").repartitionByRange(
        F.col("filename"), F.col("offset")
    )
    return plan.mapInPandas(run, schema=WARC_SCHEMA)


# ---------------------------------------------------------- crawl diffing


def latest_capture_per_urlkey(cdx: DataFrame) -> DataFrame:
    """One row per urlkey — the LATEST capture (max timestamp; ties
    break on the remaining columns for determinism). Same map-side-
    combined max(struct) shape as :func:`dedup_by_digest`: the shuffle
    carries one candidate row per (partition, urlkey), never payloads.

    Captures with a NULL urlkey pass through untouched, mirroring
    :func:`dedup_by_digest`'s NULL-digest rule: Spark's groupBy puts
    every NULL key in ONE group, which would collapse all urlkey-less
    captures into a single arbitrary keeper."""
    cols = cdx.columns
    ordered = [c for c in ("ts", "digest", "filename", "offset")
               if c in cols] + [
        c for c in cols if c not in ("ts", "digest", "filename", "offset")
    ]
    keyed = cdx.filter(F.col("urlkey").isNotNull())
    best = keyed.groupBy("urlkey").agg(
        F.max(F.struct(*[F.col(c) for c in ordered])).alias("__b")
    )
    latest = best.select([F.col(f"__b.{c}").alias(c) for c in cols])
    return cdx.filter(F.col("urlkey").isNull()).unionByName(latest)


def cdx_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Incremental-crawl diff of two CDX index generations: one row per
    urlkey seen in either crawl with ``status`` ∈ ``new`` (urlkey only
    in the new index), ``gone`` (only in the old), ``changed`` (both,
    content digest differs), ``unchanged`` (both, same digest) — plus
    the old/new digests and the NEW capture's fetch coordinates
    (``filename``/``offset``/``length``, NULL for ``gone``).

    This is how a 100 TB corpus refreshes INCREMENTALLY: diff the two
    ~200 GB indexes, then ``.filter("status IN ('new','changed')")`` →
    :func:`fetch_warc_records` — the job fetches only the captures
    whose bytes actually moved instead of re-reading ~90 TB of archive.
    Plan: each side collapses to its latest capture per urlkey
    (map-side-combined max(struct)), then ONE full-outer equi-join on
    urlkey — the only shuffles carry index rows, never payloads, and
    both sides shuffle on the same key so the join co-locates.

    Captures with a NULL urlkey are EXCLUDED from the diff: the diff
    is keyed on urlkey, and a full-outer equi-join never matches NULL
    keys, so a urlkey-less capture present in both generations would
    otherwise report as both ``new`` and ``gone``. Keyless rows can't
    be correlated across crawls — filter them out up front."""
    old = old.filter(F.col("urlkey").isNotNull())
    new = new.filter(F.col("urlkey").isNotNull())
    o = latest_capture_per_urlkey(old).select(
        F.col("urlkey").alias("__o_key"),
        F.col("digest").alias("old_digest"),
    )
    n = latest_capture_per_urlkey(new).select(
        F.col("urlkey").alias("__n_key"),
        F.col("digest").alias("new_digest"),
        "filename", "offset", "length",
    )
    joined = o.join(n, F.col("__o_key") == F.col("__n_key"), "full_outer")
    status = (
        F.when(F.col("__o_key").isNull(), F.lit("new"))
        .when(F.col("__n_key").isNull(), F.lit("gone"))
        .when(
            F.col("old_digest").eqNullSafe(F.col("new_digest")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        F.coalesce(F.col("__n_key"), F.col("__o_key")).alias("urlkey"),
        status.alias("status"),
        "old_digest", "new_digest", "filename", "offset", "length",
    )
