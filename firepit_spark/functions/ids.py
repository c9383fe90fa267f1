"""JVM-side deterministic STIX id minting.

The driver-side ingest mints ids with :func:`firepit_spark.identifiers.makeid`
(pure python, reference parity with firepit/stix21.py:53-106). For
column-shaped ingest (log conversion, CSV load) running that per-row in
Python would put a Python UDF in the hot path; uuid5 is merely
``SHA1(namespace || name)`` with version/variant bits patched in, so the
whole computation is expressible with Spark built-ins (``sha1``,
``substring``, ``conv``) and stays inside whole-stage codegen.

``uuid5_col`` is bit-identical to ``uuid.uuid5`` (tested against it), and
``sco_id_col`` reproduces ``makeid``'s canonical-JSON contract for
column-valued contributing properties.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from firepit_spark.identifiers import ID_NAMESPACE, ID_PROPS

_NS_BYTES = ID_NAMESPACE.bytes


def uuid5_hex_col(name: Column, namespace_bytes: bytes = _NS_BYTES) -> Column:
    """The 40-char lowercase SHA1 hex digest a uuid5 is sliced from.

    Exposed separately so callers that mint MANY ids per row (the wide
    log-ingest frames) can bind this digest as a concrete column and
    assemble the uuid from the attribute: :func:`uuid5_from_hex`
    references its input six times, and inlining the whole
    sha1+canonical-JSON tree at each reference multiplied generated-code
    size ~6x per id column (with the 4-way address guess ladder on top,
    the bound-id ingest projection blew Janino's 64 KB method limit and
    the stage fell out of whole-stage codegen entirely — r13-opt).
    """
    return F.sha1(F.concat(F.lit(namespace_bytes), F.encode(name, "UTF-8")))


def uuid5_from_hex(h: Column) -> Column:
    """Assemble the RFC-4122 uuid5 string from its SHA1 hex digest: slice
    the digest and patch the version nibble to 5 and the variant bits to
    10xx. Cheap (substrings + one translate); reference ``h`` as a bound
    attribute when the digest expression is expensive."""
    # variant nibble: (x & 0x3) | 0x8 for a hex digit x
    variant = F.translate(F.substring(h, 17, 1), "0123456789abcdef", "89ab" * 4)
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit("5"), F.substring(h, 14, 3)),
        F.concat(variant, F.substring(h, 18, 3)),
        F.substring(h, 21, 12),
    )


def uuid5_col(name: Column, namespace_bytes: bytes = _NS_BYTES) -> Column:
    """RFC-4122 uuid5 of a string column, computed entirely JVM-side.

    uuid5 = SHA1(namespace_bytes + utf8(name))[:16] with the version nibble
    forced to 5 and the variant bits to 10xx; sha1() gives the lowercase hex
    digest, so the uuid is assembled by slicing it and patching two nibbles.
    """
    return uuid5_from_hex(uuid5_hex_col(name, namespace_bytes))


def _typed(col: Column, kind: str) -> Column:
    if kind == "int":
        return col.cast("long")
    if kind == "str":
        return col.cast("string")
    if kind == "str_list":
        # null elements render as nothing, e.g. protocols: ["tcp"]
        return F.array_compact(col)
    return col  # "map": a JSON sub-object, e.g. hashes: {"MD5": ...}


def canonical_json_col(props: dict) -> Column:
    """Canonical JSON object over column-valued properties.

    ``props`` maps property name -> (Column, kind) with kind in
    {"str", "int", "str_list", "map"}. Keys are emitted sorted and
    null-valued properties are skipped, matching identifiers._canonical_json:
    ``to_json`` writes compact JSON and escapes as json.dumps does (quote,
    backslash, the short control escapes), and the ujson ``\\/`` slash
    escape is added. Other control characters (< 0x20) are not expected in
    id-contributing values and are outside the parity fuzz test's domain.
    """
    obj = F.struct(*[_typed(*props[key]).alias(key) for key in sorted(props)])
    return F.regexp_replace(
        F.to_json(obj, {"ignoreNullFields": "true"}), "/", "\\\\/"
    )


def sco_id_hex_col(props: dict) -> Column:
    """SHA1 hex digest of the id namespace + canonical JSON of ``props``
    — the expensive half of :func:`sco_id_col`, exposed so wide ingest
    frames can bind it as a column and assemble ids from the attribute
    (:func:`sco_id_from_hex`)."""
    return uuid5_hex_col(canonical_json_col(props))


def sco_id_from_hex(sco_type: str, props: dict, hex_col: Column) -> Column:
    """``<type>--uuid5`` id from a pre-bound digest column. ``props`` is
    still needed for the any-property-set guard (null-valued contributing
    props fall back to a random id, parity firepit/stix21.py:100-106);
    pass the same dict the digest was built from."""
    unknown = set(props) - set(ID_PROPS.get(sco_type, props))
    if unknown:
        raise ValueError(f"non-contributing props for {sco_type}: {sorted(unknown)}")
    any_set = None
    for col, _ in props.values():
        any_set = col.isNotNull() if any_set is None else (any_set | col.isNotNull())
    det = F.concat(F.lit(f"{sco_type}--"), uuid5_from_hex(hex_col))
    rand = F.concat(F.lit(f"{sco_type}--"), F.expr("uuid()"))
    if any_set is None:
        return rand
    return F.when(any_set, det).otherwise(rand)


def sco_id_col(sco_type: str, props: dict) -> Column:
    """``<type>--uuid5(...)`` id column, random uuid when no contributing
    property is set (parity: firepit/stix21.py:100-106).

    ``props`` as in :func:`canonical_json_col`; callers pass only
    id-contributing properties (see identifiers.ID_PROPS).
    """
    return sco_id_from_hex(sco_type, props, sco_id_hex_col(props))
