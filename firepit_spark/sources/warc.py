"""WARC / WET web-archive source (ISO 28500, the CommonCrawl layout).

The last missing piece of the end-to-end web-corpus pipeline: crawls
arrive as ``.warc.gz`` files (raw captures: ``request`` / ``response`` /
``warcinfo`` records whose blocks are HTTP messages) or ``.wet.gz``
files (``conversion`` records whose blocks are pre-extracted text).
Downstream, :mod:`firepit_spark.functions.html` strips markup,
:mod:`~firepit_spark.functions.robots` applies crawl governance,
:mod:`~firepit_spark.functions.web` curates URLs and
:mod:`~firepit_spark.functions.dedup` deduplicates — this module turns
archive bytes into the (uri, payload) rows they all consume.

Format facts this reader is built on:

* a ``.warc.gz`` is a CONCATENATION of gzip members, one member per
  record (the spec's recommended layout and what CommonCrawl ships) —
  so records are recoverable member-by-member and one corrupt member
  quarantines alone instead of poisoning the file,
* each record is ``WARC/1.x`` + CRLF header lines + ``\\r\\n\\r\\n`` +
  exactly ``Content-Length`` block bytes + ``\\r\\n\\r\\n``,
* a ``response`` record's block is a raw HTTP response — status line,
  headers, and a payload that may be ``Transfer-Encoding: chunked``
  exactly as captured on the wire (this reader de-chunks).

Scale shape: :func:`read_warc` maps over ``binaryFile`` rows — ONE TASK
PER ARCHIVE FILE, which is precisely the unit CommonCrawl publishes
(~1 GB gzip per file, ~64k files per crawl): a 1000-executor cluster
processes 1000 archives at a time with zero shuffle, and only the rows
a downstream query keeps ever leave the scan stage. Records that fail
to parse quarantine PER GZIP MEMBER (``err`` column) — the rest of the
file still loads. Offset-splitting a single archive needs a
member-boundary index: that path lives in
:mod:`firepit_spark.sources.cdx` (CDX-J index parse + SURT keys +
``fetch_warc_records`` range reads); this reader stays index-free for
the scan-everything case, where file-granularity parallelism already
saturates any realistic cluster.

The write side (:func:`write_warc_shards`) closes the loop: one
``.warc.gz`` shard per partition (conversion/WET records, one gzip
member each) plus a CDX-J sidecar per shard, so an exported corpus is
immediately range-fetchable through the same index machinery that reads
CommonCrawl itself. The WAT leg (:func:`wat_metadata` /
:func:`write_wat_shards` / :func:`wat_links`) completes the
WARC/WET/WAT artifact family: per-record JSON envelopes carrying the
headers, title and outlinks, so link-graph consumers never re-parse
the HTML.

The reference engine has no web-archive surface; LLM-pipeline family
(the brief's training-data sources). Fixture writer
(:func:`warc_encode`) and reader are twins, and the reader is
additionally pinned on hand-assembled spec bytes in tests/test_warc.py.
"""

from __future__ import annotations

import gzip
import io
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, functions as F

#: output schema of :func:`read_warc` / :func:`parse_warc_members`
WARC_SCHEMA = (
    "warc_file string, member_offset long, warc_type string, "
    "record_id string, warc_date string, target_uri string, "
    "content_type string, content_length long, http_status int, "
    "http_content_type string, payload binary, err string"
)
_WARC_COLS = [f.split()[0] for f in WARC_SCHEMA.split(", ")]


# ----------------------------------------------------------------- write


def warc_record_bytes(
    headers: dict, block: bytes, version: str = "WARC/1.0"
) -> bytes:
    """One serialized WARC record: version line, header lines, computed
    ``Content-Length``, the block, and the two-CRLF record terminator."""
    lines = [version.encode("ascii")]
    for k, v in headers.items():
        lines.append(f"{k}: {v}".encode("utf-8"))
    lines.append(f"Content-Length: {len(block)}".encode("ascii"))
    return b"\r\n".join(lines) + b"\r\n\r\n" + block + b"\r\n\r\n"


def warc_encode(records: list, compress: bool = True) -> bytes:
    """``[(headers, block), ...]`` → archive bytes. ``compress=True``
    writes one gzip member PER RECORD (the spec-recommended and
    CommonCrawl layout; mtime pinned to 0 so fixture bytes are
    deterministic); ``False`` writes a plain ``.warc``."""
    out = []
    for headers, block in records:
        rec = warc_record_bytes(headers, block)
        out.append(gzip.compress(rec, mtime=0) if compress else rec)
    return b"".join(out)


def http_response_bytes(
    payload: bytes,
    status: int = 200,
    content_type: str = "text/html",
    chunked: bool = False,
    chunk_size: int = 7,
    gzip_body: bool = False,
) -> bytes:
    """A raw HTTP/1.1 response block for a ``response`` record —
    optionally ``Transfer-Encoding: chunked`` and/or
    ``Content-Encoding: gzip`` the way live captures often are (gzip
    applies first, chunking frames the compressed bytes, mirroring the
    wire)."""
    reason = {200: "OK", 301: "Moved Permanently", 404: "Not Found"}.get(
        status, "Status"
    )
    head = [f"HTTP/1.1 {status} {reason}", f"Content-Type: {content_type}"]
    if gzip_body:
        head.append("Content-Encoding: gzip")
        payload = gzip.compress(payload, mtime=0)
    if chunked:
        head.append("Transfer-Encoding: chunked")
        chunks = [
            payload[i:i + chunk_size]
            for i in range(0, len(payload), chunk_size)
        ]
        body = b"".join(
            b"%x\r\n%s\r\n" % (len(c), c) for c in chunks
        ) + b"0\r\n\r\n"
    else:
        head.append(f"Content-Length: {len(payload)}")
        body = payload
    return "\r\n".join(head).encode("ascii") + b"\r\n\r\n" + body


# ----------------------------------------------------------------- parse


def split_gzip_members(data: bytes) -> Iterator[tuple]:
    """Yield ``(byte_offset, decompressed_bytes)`` per gzip member of a
    multi-member stream. Raises ValueError at the offset of the first
    undecodable member (callers quarantine from there). Input is fed
    in bounded chunks through a zero-copy memoryview: handing the whole
    tail to each member's decompressor would make zlib COPY the
    remainder into ``unused_data`` once per member — O(members x bytes)
    on a 1 GB archive with ~50k members; chunking caps every copy at
    the chunk size, so the walk is O(bytes)."""
    chunk_size = 1 << 20
    view = memoryview(data)
    pos, n = 0, len(data)
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        out: list = []
        fed = pos
        try:
            while not d.eof and fed < n:
                chunk = view[fed:fed + chunk_size]
                out.append(d.decompress(chunk))
                fed += len(chunk)
        except zlib.error as exc:
            raise ValueError(f"bad gzip member at offset {pos}: {exc}")
        if not d.eof:
            raise ValueError(f"truncated gzip member at offset {pos}")
        yield pos, b"".join(out)
        pos = fed - len(d.unused_data)


def parse_warc_records(data: bytes) -> Iterator[dict]:
    """Yield ``{offset, version, headers, block}`` per record of an
    UNCOMPRESSED WARC stream (header keys lowercased). Raises
    ValueError at the first malformed record — resync past a record
    with a wrong Content-Length is guesswork, so the caller quarantines
    the remainder of the member instead."""
    pos, n = 0, len(data)
    while pos < n:
        while pos < n and data[pos] in (0x0D, 0x0A):
            pos += 1  # inter-record CRLF padding
        if pos >= n:
            return
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            raise ValueError(f"unterminated record header at offset {pos}")
        lines = data[pos:head_end].decode("utf-8", "replace").split("\r\n")
        version = lines[0].strip()
        if not version.startswith("WARC/"):
            raise ValueError(
                f"not a WARC record at offset {pos}: {lines[0][:24]!r}"
            )
        headers: dict = {}
        for ln in lines[1:]:
            k, sep, v = ln.partition(":")
            if sep:
                headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError(f"missing/bad Content-Length at offset {pos}")
        block = data[head_end + 4:head_end + 4 + clen]
        if len(block) < clen:
            raise ValueError(f"truncated record block at offset {pos}")
        yield {
            "offset": pos, "version": version,
            "headers": headers, "block": block,
        }
        pos = head_end + 4 + clen


def _dechunk(body: bytes) -> bytes:
    """Decode a Transfer-Encoding: chunked HTTP body."""
    out, pos = [], 0
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("chunked body: missing size line")
        size_token = body[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_token, 16)
        except ValueError:
            raise ValueError(f"chunked body: bad size {size_token[:12]!r}")
        if size == 0:
            return b"".join(out)
        chunk = body[eol + 2:eol + 2 + size]
        if len(chunk) < size:
            raise ValueError("chunked body: truncated chunk")
        out.append(chunk)
        pos = eol + 2 + size + 2  # skip chunk CRLF


def parse_http_response(block: bytes) -> tuple:
    """``(status, headers, payload)`` from a response record's block —
    headers lowercased, chunked transfer-encoding de-chunked, then
    ``Content-Encoding: gzip/deflate`` decompressed (the order the wire
    applies them in reverse; both are routine in live captures)."""
    sep = block.find(b"\r\n\r\n")
    if sep < 0:
        raise ValueError("HTTP response: no header terminator")
    lines = block[:sep].decode("iso-8859-1").split("\r\n")
    parts = lines[0].split(None, 2)
    if len(parts) < 2 or not parts[0].startswith("HTTP/"):
        raise ValueError(f"not an HTTP response: {lines[0][:24]!r}")
    try:
        status = int(parts[1])
    except ValueError:
        raise ValueError(f"bad HTTP status {parts[1][:12]!r}")
    headers: dict = {}
    for ln in lines[1:]:
        k, sep_, v = ln.partition(":")
        if sep_:
            headers[k.strip().lower()] = v.strip()
    payload = block[sep + 4:]
    if "chunked" in headers.get("transfer-encoding", "").lower():
        payload = _dechunk(payload)
    enc = headers.get("content-encoding", "").lower()
    if enc in ("gzip", "x-gzip"):
        try:
            payload = gzip.decompress(payload)
        except Exception as exc:  # OSError/EOFError/zlib.error
            raise ValueError(f"bad gzip content-encoding: {exc}")
    elif enc == "deflate":
        try:  # RFC 9110 says zlib-wrapped; raw-deflate senders exist
            payload = zlib.decompress(payload)
        except zlib.error:
            try:
                payload = zlib.decompress(payload, wbits=-15)
            except zlib.error as exc:
                raise ValueError(f"bad deflate content-encoding: {exc}")
    elif enc and enc != "identity":
        raise ValueError(f"unsupported content-encoding {enc[:16]!r}")
    return status, headers, payload


def decode_html_bytes(raw: bytes, content_type: str) -> str:
    """Decode an HTML payload with the crawl-world charset priority:
    BOM > Content-Type ``charset=`` parameter > UTF-8. Unknown charset
    names fall back rather than quarantine (``replace`` already bounds
    the damage, and mislabeled pages are routine)."""
    import codecs
    import re as _re

    if raw[:3] == b"\xef\xbb\xbf":
        return raw[3:].decode("utf-8", "replace")
    if raw[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return raw.decode("utf-16", "replace")
    m = _re.search(r"charset=[\"']?([\w.:-]+)", content_type or "")
    if m:
        try:
            return raw.decode(codecs.lookup(m.group(1)).name, "replace")
        except LookupError:
            pass
    return raw.decode("utf-8", "replace")


def _record_row(fname: str, offset: int, rec: dict, keep_payload: bool):
    """One WARC record dict → a WARC_SCHEMA row tuple."""
    h = rec["headers"]
    wtype = (h.get("warc-type") or "").lower() or None
    status, http_ct, payload = None, None, rec["block"]
    if wtype in ("response", "request") and payload[:5] in (
        b"HTTP/", b"GET /", b"POST ", b"HEAD "
    ):
        if wtype == "response":
            try:
                status, hh, payload = parse_http_response(rec["block"])
                http_ct = hh.get("content-type")
            except ValueError as exc:
                return (
                    fname, offset, wtype, h.get("warc-record-id"),
                    h.get("warc-date"), h.get("warc-target-uri"),
                    h.get("content-type"),
                    int(h.get("content-length", 0)), None, None, None,
                    f"http: {exc}",
                )
    return (
        fname, offset, wtype, h.get("warc-record-id"), h.get("warc-date"),
        h.get("warc-target-uri"), h.get("content-type"),
        int(h.get("content-length", 0)), status, http_ct,
        bytes(payload) if keep_payload else None, None,
    )


def warc_rows(fname: str, content: bytes, keep_payload: bool = True) -> list:
    """All WARC_SCHEMA rows of one archive file (gzip or plain),
    quarantining per gzip member: a member whose bytes or records fail
    to parse contributes one ``err`` row at its offset and the walk
    continues with the next member (plain files can't resync, so the
    remainder quarantines as one row)."""
    rows: list = []
    if content[:2] == b"\x1f\x8b":
        members = split_gzip_members(content)
    else:
        members = iter([(0, bytes(content))])
    while True:
        try:
            off, raw = next(members)
        except StopIteration:
            return rows
        except ValueError as exc:  # gzip stream damage: cannot resync
            rows.append(
                (fname, None, None, None, None, None, None, None, None,
                 None, None, str(exc)[:200])
            )
            return rows
        try:
            for rec in parse_warc_records(raw):
                rows.append(
                    _record_row(fname, off + rec["offset"], rec,
                                keep_payload)
                )
        except ValueError as exc:
            rows.append(
                (fname, off, None, None, None, None, None, None, None,
                 None, None, str(exc)[:200])
            )


def extract_record_text(wtype, http_ct, payload,
                        main_content: bool = False) -> tuple:
    """(text, err) for one record: ``conversion`` (WET) payloads decode
    UTF-8 verbatim; HTML/XML ``response`` payloads decode by
    BOM > declared charset > UTF-8 and go through the fidelity parser
    (or the boilerplate filter with ``main_content``); everything else
    is NULL with a reason. Shared by :func:`warc_text` and the fused
    ``extract_text=`` scan path — one implementation, byte-identical
    output either way."""
    from firepit_spark.functions.html import extract_main_text, html_to_text

    if payload is None:
        return None, "no payload"
    try:
        if wtype == "conversion":
            return bytes(payload).decode("utf-8", "replace"), None
        if wtype == "response":
            ct = (http_ct or "").lower()
            if "html" not in ct and "xml" not in ct:
                return None, f"non-html response ({ct or 'no type'})"
            html = decode_html_bytes(bytes(payload), ct)
            return (
                extract_main_text(html)
                if main_content
                else html_to_text(html)
            ), None
        return None, f"no text extractor for {wtype or 'unknown'}"
    except Exception as exc:  # noqa: BLE001 — per-row quarantine
        return None, str(exc)[:200]


def parse_warc_members(
    df: DataFrame,
    file_col: str = "warc_file",
    content_col: str = "content",
    keep_payload: bool = True,
    extract_text: bool = False,
    main_content: bool = False,
) -> DataFrame:
    """Distributed record parse of a ``(file, archive_bytes)`` frame —
    the kernel :func:`read_warc` runs over ``binaryFile`` rows, exposed
    separately so synthesized archives (tests, the driver gate) ride
    the exact production path. Map-only Arrow batches; one output row
    per record (or per quarantined member).

    ``extract_text=True`` FUSES text extraction into the same Python
    pass, appending ``text``/``text_err`` columns: the composed
    ``warc_text(read_warc(...))`` ships every payload byte across the
    Arrow boundary four times (JVM→py→JVM→py→JVM); fused it crosses
    once — and with ``keep_payload=False`` the payload bytes never
    leave the Python worker at all, the right scan for the curation
    funnel at 100 TB. Output is byte-identical to composing
    :func:`warc_text` (same kernel via
    :func:`extract_record_text`)."""
    import pandas as pd

    out_cols = list(_WARC_COLS)
    schema = WARC_SCHEMA
    if extract_text:
        out_cols += ["text", "text_err"]
        schema = WARC_SCHEMA + ", text string, text_err string"
    i_type = _WARC_COLS.index("warc_type")
    i_ct = _WARC_COLS.index("http_content_type")
    i_payload = _WARC_COLS.index("payload")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list = []
            for fname, content in zip(pdf[file_col], pdf[content_col]):
                if content is None:
                    continue
                if not extract_text:
                    rows.extend(
                        warc_rows(str(fname), bytes(content), keep_payload)
                    )
                    continue
                # text needs the payload transiently even when the
                # caller drops it from the output
                for row in warc_rows(str(fname), bytes(content), True):
                    text, terr = extract_record_text(
                        row[i_type], row[i_ct], row[i_payload],
                        main_content,
                    )
                    if not keep_payload:
                        row = row[:i_payload] + (None,) + row[i_payload + 1:]
                    rows.append(row + (text, terr))
            yield pd.DataFrame(rows, columns=out_cols)

    return df.mapInPandas(run, schema=schema)


def read_warc(
    spark,
    path: str,
    keep_payload: bool = True,
    path_glob: str | None = None,
    extract_text: bool = False,
    main_content: bool = False,
) -> DataFrame:
    """WARC/WET records from archive files under ``path`` — one task
    per file (the CommonCrawl unit; see the module docstring for why
    that is the right 100 TB shape), per-member quarantine in the
    ``err`` column. ``keep_payload=False`` drops payload bytes at the
    source for header-only accounting scans. ``extract_text=True``
    fuses :func:`warc_text` into the scan pass (see
    :func:`parse_warc_members`) — combine with ``keep_payload=False``
    for the funnel-optimal scan where payload bytes never cross the
    Arrow boundary."""
    reader = spark.read.format("binaryFile")
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    binary = reader.load(path).select(
        F.col("path").alias("warc_file"), "content"
    )
    return parse_warc_members(binary, keep_payload=keep_payload,
                              extract_text=extract_text,
                              main_content=main_content)


def stream_warc(
    spark,
    path: str,
    keep_payload: bool = True,
    path_glob: str | None = None,
    max_files_per_trigger: int | None = None,
    extract_text: bool = False,
    main_content: bool = False,
) -> DataFrame:
    """Structured-Streaming twin of :func:`read_warc`: watch ``path``
    for newly landed archive files (the shape of a live crawl dropping
    ``.warc.gz`` shards) and emit parsed records per micro-batch —
    same schema, same per-member quarantine, STATELESS (map-only, so
    nothing for the streaming doctor to flag and exactly-once comes
    free from the file source's tracked-files log).
    ``max_files_per_trigger`` paces ingest (one ~1 GB archive is
    already a healthy task). ``extract_text=True`` fuses text
    extraction into the same Python pass exactly as in
    :func:`read_warc` — with ``keep_payload=False`` the streaming
    funnel's payload bytes never cross the Arrow boundary."""
    reader = spark.readStream.format("binaryFile").schema(
        "path string, modificationTime timestamp, length long, "
        "content binary"
    )
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    binary = reader.load(path).select(
        F.col("path").alias("warc_file"), "content"
    )
    return parse_warc_members(binary, keep_payload=keep_payload,
                              extract_text=extract_text,
                              main_content=main_content)


def write_warc_shards(
    df: DataFrame,
    out_dir: str,
    uri_col: str = "uri",
    text_col: str = "text",
    date_col: str | None = None,
    prefix: str = "part",
    compress: bool = True,
    cdx_sidecar: bool = True,
    warcinfo_fields: dict | None = None,
    record_type: str = "conversion",
    payload_content_type: str = "text/plain",
    ext: str | None = None,
) -> DataFrame:
    """Export a (uri, text) corpus as WET-style archive shards: each
    partition writes ONE ``<prefix>-<partition:05d>.warc.gz`` under
    ``out_dir`` (one ``conversion`` record per row, one gzip member per
    record — the exact layout :func:`read_warc` and the CDX range
    fetcher consume) plus, with ``cdx_sidecar``, a ``.cdx`` index twin
    whose offsets make every record individually fetchable.
    ``warcinfo_fields`` (e.g. ``{"software": "...", "description":
    "..."}``) prepends the conventional ``warcinfo`` record each shard
    of a real crawl distribution opens with — it carries no Target-URI,
    so the sidecar skips it and ``n_records`` still counts data rows.
    Returns the manifest frame ``(shard, n_records, archive_bytes)`` —
    the WRITE happens when the manifest is acted on, exactly like any
    Spark sink.

    Scale/robustness notes: shard names are derived from partition ids,
    so a task retry overwrites its own shard (idempotent via
    write-to-temp + atomic rename); rows with NULL uri or text are
    skipped and counted via the manifest delta rather than poisoning an
    archive. Local/NFS ``out_dir`` only (executor-side python ``open`` —
    the JVM committer machinery isn't reachable from Arrow workers);
    object-store export goes through a mounted path, or a manifest-
    driven uploader — the manifest names every shard file, so a bounded
    driver-side loop ships them with any client at hand::

        for m in write_warc_shards(df, out).collect():   # bounded: one
            upload(f"{out}/{m['shard']}", bucket)        # row per shard
            upload(f"{out}/{m['shard']}.cdx", bucket)

    (reading exported shards back from the object store needs no upload
    symmetry: ``fetch_warc_records`` with a range-GET ``opener`` reads
    them in place.)"""
    import os
    import uuid

    import pandas as pd

    from pyspark import TaskContext

    cols = [uri_col, text_col] + ([date_col] if date_col else [])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        records: list = []
        for pdf in batches:
            dates = pdf[date_col] if date_col else [None] * len(pdf)
            for uri, text, date in zip(pdf[uri_col], pdf[text_col], dates):
                if uri is None or text is None:
                    continue
                headers = {
                    "WARC-Type": record_type,
                    "WARC-Target-URI": str(uri),
                    "Content-Type": payload_content_type,
                }
                if date_col and date is not None:
                    headers["WARC-Date"] = str(date)
                records.append((headers, str(text).encode("utf-8")))
        if not records:
            yield pd.DataFrame(
                {"shard": [], "n_records": [], "archive_bytes": []}
            ).astype({"shard": str, "n_records": "int64",
                      "archive_bytes": "int64"})
            return
        n_data = len(records)
        if warcinfo_fields:
            info = "".join(
                f"{k}: {v}\r\n" for k, v in warcinfo_fields.items()
            ).encode("utf-8")
            records.insert(
                0,
                ({"WARC-Type": "warcinfo",
                  "Content-Type": "application/warc-fields"}, info),
            )
        suffix = ext if ext is not None else (
            ".warc.gz" if compress else ".warc"
        )
        shard = f"{prefix}-{pid:05d}{suffix}"
        blob = warc_encode(records, compress=compress)
        tmp = os.path.join(out_dir, f".{shard}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(blob)
        os.replace(tmp, os.path.join(out_dir, shard))
        if cdx_sidecar:
            from firepit_spark.sources.cdx import cdx_lines_for

            lines = cdx_lines_for(records, shard, compress=compress)
            tmp = os.path.join(out_dir, f".{shard}.cdx.tmp")
            with open(tmp, "w") as fh:
                fh.write("\n".join(lines) + "\n")
            os.replace(tmp, os.path.join(out_dir, shard + ".cdx"))
        yield pd.DataFrame(
            {"shard": [shard], "n_records": [n_data],
             "archive_bytes": [len(blob)]}
        )

    return df.select(*cols).mapInPandas(
        run, schema="shard string, n_records long, archive_bytes long"
    )


def warc_text(
    df: DataFrame,
    out_col: str = "text",
    main_content: bool = False,
) -> DataFrame:
    """Extracted text per record of a :func:`read_warc` frame:
    ``conversion`` (WET) payloads decode as UTF-8 verbatim (the WET
    spec's encoding); ``response`` payloads whose Content-Type says
    HTML decode via BOM > declared charset > UTF-8 and go through the
    fidelity parser (:func:`firepit_spark.functions.html.html_to_text`,
    or the boilerplate filter with ``main_content=True``); everything
    else stays NULL with a reason in ``<out_col>_err``. Map-only Arrow
    batches — the html/robots/dedup stages downstream never see raw
    archive bytes."""
    import pandas as pd

    from pyspark.sql.types import StringType, StructField, StructType

    fields = list(df.schema.fields)
    if any(f.name == out_col for f in fields):
        raise ValueError(f"out_col {out_col!r} already exists")
    err_col = f"{out_col}_err"
    schema = StructType(
        fields + [StructField(out_col, StringType()),
                  StructField(err_col, StringType())]
    )
    cols = [f.name for f in fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pairs = [
                extract_record_text(t, ct, p, main_content)
                for t, ct, p in zip(
                    pdf["warc_type"], pdf["http_content_type"],
                    pdf["payload"],
                )
            ]
            pdf = pdf.copy()
            pdf[out_col] = [p[0] for p in pairs]
            pdf[err_col] = [p[1] for p in pairs]
            yield pdf[cols + [out_col, err_col]]

    return df.mapInPandas(run, schema=schema)


# ------------------------------------------------------------------- WAT
#
# CommonCrawl ships three artifacts per crawl: WARC (raw captures), WET
# (extracted text — write_warc_shards' default output) and WAT (one
# `metadata` record per capture whose JSON payload carries the WARC
# headers, the HTTP response line, and the HTML metadata: title and the
# full outlink list). WAT is how link-graph consumers avoid re-parsing
# 90 TB of HTML; emitting and reading it closes the artifact family.


def wat_metadata(
    df: DataFrame,
    out_col: str = "wat",
) -> DataFrame:
    """Per-record WAT JSON for a :func:`read_warc` frame: input columns
    + ``out_col`` (the envelope string) and ``<out_col>_err``. HTML
    ``response`` payloads contribute Head/Title and the Links array
    (same extractor as :func:`firepit_spark.functions.html.
    html_outlinks`, charset-decoded like :func:`warc_text`); every
    other record type still gets its WARC-header envelope — WAT covers
    the whole archive, not just pages. Map-only Arrow; a record whose
    HTML fails to parse quarantines alone."""
    import json as _json

    import pandas as pd

    from pyspark.sql.types import StringType, StructField, StructType

    from firepit_spark.functions.html import extract_links, extract_title

    fields = list(df.schema.fields)
    if any(f.name == out_col for f in fields):
        raise ValueError(f"out_col {out_col!r} already exists")
    err_col = f"{out_col}_err"
    schema = StructType(
        fields + [StructField(out_col, StringType()),
                  StructField(err_col, StringType())]
    )
    cols = [f.name for f in fields]

    def one(row: dict) -> tuple:
        try:
            header_md = {
                k: v
                for k, v in (
                    ("WARC-Type", row["warc_type"]),
                    ("WARC-Target-URI", row["target_uri"]),
                    ("WARC-Date", row["warc_date"]),
                    ("WARC-Record-ID", row["record_id"]),
                    ("Content-Type", row["content_type"]),
                    ("Content-Length", row["content_length"]),
                )
                if v is not None
            }
            payload_md: dict = {}
            # st == st rejects NaN: an Arrow batch mixing NULL and
            # non-NULL http_status arrives as float64, so a NULL is NaN
            # here — which passes an `is not None` check but blows up
            # int(); the record must still get its header envelope
            st = row["http_status"]
            if row["warc_type"] == "response" and st is not None and st == st:
                resp: dict = {
                    "Response-Message": {"Status": int(st)},
                }
                ct = (row["http_content_type"] or "").lower()
                raw = row["payload"]
                if raw is not None and ("html" in ct or "xml" in ct):
                    html = decode_html_bytes(bytes(raw), ct)
                    html_md: dict = {}
                    title = extract_title(html)
                    if title:
                        html_md["Head"] = {"Title": title}
                    links = extract_links(html)
                    if links:
                        html_md["Links"] = [
                            {"path": "A@/href", "url": u} for u in links
                        ]
                    if html_md:
                        resp["HTML-Metadata"] = html_md
                payload_md["HTTP-Response-Metadata"] = resp
            env = {"Envelope": {
                "Format": "WARC",
                "WARC-Header-Metadata": header_md,
                **({"Payload-Metadata": payload_md} if payload_md else {}),
            }}
            return _json.dumps(env, separators=(",", ":")), None
        except Exception as exc:  # noqa: BLE001 — per-row quarantine
            return None, str(exc)[:200]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pairs = [
                one(dict(zip(pdf.columns, tup)))
                for tup in pdf.itertuples(index=False)
            ]
            pdf = pdf.copy()
            pdf[out_col] = [p[0] for p in pairs]
            pdf[err_col] = [p[1] for p in pairs]
            yield pdf[cols + [out_col, err_col]]

    return df.mapInPandas(run, schema=schema)


def write_wat_shards(
    df: DataFrame,
    out_dir: str,
    uri_col: str = "target_uri",
    wat_col: str = "wat",
    date_col: str | None = None,
    prefix: str = "part",
    compress: bool = True,
    warcinfo_fields: dict | None = None,
) -> DataFrame:
    """Export :func:`wat_metadata` output as WAT shards: ``metadata``
    records with ``application/json`` payloads in
    ``<prefix>-<partition:05d>.warc.wat.gz`` files (the CommonCrawl
    naming), CDX sidecars included — a WAT shard is a valid WARC, so it
    reads back through :func:`read_warc` / ``fetch_warc_records`` and
    :func:`wat_links` unpacks it JVM-side. Same manifest contract and
    scale notes as :func:`write_warc_shards`."""
    return write_warc_shards(
        df, out_dir, uri_col=uri_col, text_col=wat_col,
        date_col=date_col, prefix=prefix, compress=compress,
        warcinfo_fields=warcinfo_fields,
        record_type="metadata",
        payload_content_type="application/json",
        ext=".warc.wat.gz" if compress else ".warc.wat",
    )


#: just enough of the envelope for link/title consumers — from_json
#: ignores the rest, so the full WAT round-trips through this pruned view
WAT_ENVELOPE_SCHEMA = (
    "Envelope STRUCT<"
    "`WARC-Header-Metadata` STRUCT<"
    "`WARC-Target-URI` STRING, `WARC-Type` STRING>, "
    "`Payload-Metadata` STRUCT<"
    "`HTTP-Response-Metadata` STRUCT<"
    "`HTML-Metadata` STRUCT<"
    "`Head` STRUCT<`Title` STRING>, "
    "`Links` ARRAY<STRUCT<path STRING, url STRING>>>>>>"
)


def wat_links(
    df: DataFrame,
    payload_col: str = "payload",
) -> DataFrame:
    """(src_uri, title, href) per outlink from a read-back WAT frame —
    PURE Catalyst (``from_json`` on the JSON payload + one explode, no
    Python), which is the point of WAT: the link graph of a whole crawl
    without touching the HTML again. Feed the result straight into
    :func:`firepit_spark.functions.html.host_graph_edges` via
    ``url_host``."""
    env = F.from_json(
        F.col(payload_col).cast("string"), WAT_ENVELOPE_SCHEMA
    )
    meta = env["Envelope"]
    html_md = meta["Payload-Metadata"]["HTTP-Response-Metadata"]["HTML-Metadata"]
    return (
        df.select(
            meta["WARC-Header-Metadata"]["WARC-Target-URI"].alias("src_uri"),
            html_md["Head"]["Title"].alias("title"),
            F.explode(html_md["Links"]).alias("__l"),
        )
        .select("src_uri", "title", F.col("__l.url").alias("href"))
        .filter(F.col("href").isNotNull())
    )
