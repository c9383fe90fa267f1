"""STIX bundle ingest: the one typing pipeline every ingest call shares.

A flattened record is typed in exactly one place, :func:`encode_records`:
values are canonicalized (dicts -> sort_keys JSON text, list elements ->
strings, datetimes -> UTC ISO text), serialized to one JSON text per
record, and their column kinds ({bool,int,float,list,str}) collected per
type. The kinds become an explicit schema (:func:`_type_schema`) and each
type is parsed with one JVM-side ``from_json`` scan; ``ingest_dataframe``'s
normalization then types timestamps and widens numerics. No
``spark.read.json`` schema inference anywhere.

Two producers feed the same ``(otype, record-json)`` flat frame:

- :func:`cache_distributed` (the 100 TB path): bundle files are read whole
  by executors, one task per file, and each observation is flattened
  *where it is read* via ``mapInPandas``; each partition emits its kind
  fragments alongside the records and the driver merges them.
- :func:`ingest_records` (``SparkStorage.cache``/``load``/``upsert_many``/
  ``reassign``): the driver already holds its records, so it encodes them
  itself and passes the kinds in, skipping the fragment collect.

Pipeline shape:
  read bundles -> explode objects -> mapInPandas(flatten + encode) ->
  (type, json) rows -> per-type from_json(explicit schema) -> upsert merge

Shuffle analysis: the only wide operations are the per-type upsert
groupBy(id) and the final merge join — both keyed on the deterministic SCO
id, which is uniformly distributed (uuid5), so no skew. Flattening is
map-only; fragment collection moves only (types x columns) metadata to the
driver, never object data.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from firepit_spark.flatten import flatten

_FLAT_SCHEMA = StructType(
    [StructField("otype", StringType()), StructField("record", StringType())]
)
_OBJECT_SCHEMA = StructType([StructField("value", StringType())])

# in-band marker for per-partition schema fragments ("\x00" can never be a
# STIX type name, which the validators restrict to [a-z0-9-])
SCHEMA_MARKER = "\x00schema"


def _kind(v) -> str:
    """Python-value kind tag, the input of the :func:`_type_schema` lattice."""
    if isinstance(v, bool):  # bool before int: bool is an int subclass
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, list):
        return "list"
    return "str"


def _canonicalize(rec: dict) -> dict:
    """Pre-serialize dicts to sort_keys JSON text and list elements to
    strings, so the ``from_json`` parse is lossless. Datetimes (a record
    read back through ``lookup``) become UTC ISO text; a naive one is local
    time, as PySpark hands it out."""
    out = {}
    for k, v in rec.items():
        if isinstance(v, dict):
            out[k] = json.dumps(v, sort_keys=True)
        elif isinstance(v, list):
            out[k] = [
                x if isinstance(x, str) else json.dumps(x, sort_keys=True)
                for x in v
            ]
        elif isinstance(v, datetime):
            out[k] = v.astimezone(timezone.utc).isoformat()
        else:
            out[k] = v
    return out


def encode_records(records) -> tuple[list, list, dict]:
    """Flattened records -> (otype per record, record JSON per record,
    ``{otype: {column: kinds}}``). The only place a record is typed: the
    executor kernel and the driver-side ingest both call it."""
    otypes, texts = [], []
    kinds: dict[str, dict[str, set]] = {}
    for rec in records:
        canon = _canonicalize(rec)
        t = canon["type"]
        kmap = kinds.setdefault(t, {})
        for k, v in canon.items():
            if k == "type":
                continue
            s = kmap.setdefault(k, set())
            if v is not None:
                s.add(_kind(v))
        otypes.append(t)
        texts.append(json.dumps(canon, default=str))
    return otypes, texts, kinds


def explode_bundles(texts: DataFrame) -> DataFrame:
    """Whole bundle texts (a ``value`` column) -> one row per object's
    JSON text."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for text in pdf["value"]:
                bundle = json.loads(text)
                out.extend(json.dumps(o) for o in bundle.get("objects", []))
            yield pd.DataFrame({"value": out})

    return texts.mapInPandas(run, schema=_OBJECT_SCHEMA)


def read_bundle_objects(spark: SparkSession, paths) -> DataFrame:
    """One row per STIX object (as a JSON string) from bundle file(s).

    Each file is read whole as one task — ingest parallelism comes from
    the number of files, which is how 100 TB arrives in practice (many
    bundle files on object storage) — and objects reach ``flatten`` as
    written, with no schema inference over the bundles.
    """
    return explode_bundles(spark.read.text(paths, wholetext=True))


def flatten_objects(objects_df: DataFrame) -> DataFrame:
    """(json string) rows -> (otype, flattened record json) rows, plus one
    ``SCHEMA_MARKER`` row per (partition-batch, type) carrying the observed
    column kinds. Arrow-batched: each worker flattens and encodes its
    partition's observations."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_t, out_r, kinds = encode_records(
                rec for raw in pdf["value"] for rec in flatten(json.loads(raw))
            )
            for t, cols in kinds.items():
                out_t.append(SCHEMA_MARKER)
                out_r.append(
                    json.dumps(
                        {"otype": t, "cols": {c: sorted(ks) for c, ks in cols.items()}}
                    )
                )
            yield pd.DataFrame({"otype": out_t, "record": out_r})

    return objects_df.mapInPandas(run, schema=_FLAT_SCHEMA)


def _merge_fragments(frag_rows) -> dict:
    """Merge per-partition kind fragments -> {otype: {col: set(kinds)}}."""
    merged: dict[str, dict[str, set]] = {}
    for raw in frag_rows:
        d = json.loads(raw)
        cols = merged.setdefault(d["otype"], {})
        for c, ks in d["cols"].items():
            cols.setdefault(c, set()).update(ks)
    return merged


def _type_schema(cols: dict) -> StructType:
    """Kind sets -> Spark schema (timestamp props stay strings here —
    ingest_dataframe's normalization converts them)."""
    fields = []
    for c in sorted(cols):
        ks = cols[c]
        if ks == {"bool"}:
            t = BooleanType()
        elif ks == {"int"}:
            t = LongType()
        elif ks and ks <= {"int", "float"}:
            t = DoubleType()
        elif ks == {"list"}:
            t = ArrayType(StringType())
        else:
            # mixed kinds / all-null / text: from_json renders any token as
            # its JSON text when the target is string (numbers, booleans,
            # objects and arrays all arrive as raw text, not null)
            t = StringType()
        fields.append(StructField(c, t))
    return StructType(fields)


def ingest_flat(
    storage, flat: DataFrame, query_id: str | None, kinds: dict | None = None
) -> list:
    """Merge a ``flatten_objects``-shaped frame into the warehouse as one
    ingest call: one ``from_json`` parse per type, the types merged
    concurrently, one ``__queries`` batch. Returns the ingested types.

    Shared by batch (:func:`cache_distributed`), streaming
    (streaming/ingest.py) and the driver-side :func:`ingest_records`,
    which passes its ``kinds`` in; otherwise they are collected from the
    frame's ``SCHEMA_MARKER`` rows.
    """
    flat = flat.persist()
    try:
        if kinds is None:
            kinds = _merge_fragments(
                r[0]
                for r in flat.filter(F.col("otype") == SCHEMA_MARKER)
                .select("record")
                .collect()
            )
        frames = {
            otype: flat.filter(F.col("otype") == otype)
            .select(F.from_json("record", _type_schema(cols)).alias("r"))
            .select("r.*")
            for otype, cols in sorted(kinds.items())
            if cols
        }
        return storage._ingest_frames(frames, query_id)
    finally:
        flat.unpersist()


def ingest_records(storage, records, query_id: str | None) -> list:
    """Driver-side entry to :func:`ingest_flat`: flattened record dicts ->
    the same flat frame the executor kernel emits, kinds passed in."""
    otypes, texts, kinds = encode_records(records)
    flat = storage.spark.createDataFrame(
        pd.DataFrame({"otype": otypes, "record": texts}, dtype=object),
        schema=_FLAT_SCHEMA,
    )
    return ingest_flat(storage, flat, query_id, kinds)


def cache_distributed(storage, query_id: str, paths, repartition: int | None = None):
    """Distributed equivalent of ``storage.cache`` for large bundle sets."""
    objects = read_bundle_objects(storage.spark, paths)
    if repartition:
        objects = objects.repartition(repartition)
    if not ingest_flat(storage, flatten_objects(objects), str(query_id)):
        raise ValueError(f"not a STIX bundle: no objects in {paths}")
