"""Flattening of STIX observed-data graphs into per-type flat records.

Behavior-parity with the reference's raft module (firepit/raft.py:77-348):
nested dicts become dotted column names (with STIX's single-quote rule for
hyphenated keys), STIX 2.0 index references are rewritten to deterministic
2.1-style ids, containment and reference-list edges are emitted as
``__contains`` / ``__reflist`` rows, and "root" objects get
``x_firepit_rank`` via the same src/dst + same-type-tree heuristics.

Everything here is pure-Python per-observation logic and types nothing:
``SparkStorage.cache`` applies it on the driver and ``cache_distributed``
inside ``mapInPandas``, and both hand the flat records to the one typing
pipeline in sources/bundles.py (``encode_records`` -> ``ingest_flat``).
"""

from __future__ import annotations

import copy
from collections import defaultdict

from firepit_spark.identifiers import makeid

CONTAINS = "__contains"
REFLIST = "__reflist"


def normalize_obj(
    d: dict, prefix: str = "", sep: str = ".", flat_lists: bool = False
) -> dict:
    """Flatten nested dicts to dotted keys (parity: firepit/raft.py:77-100).

    STIX quirks preserved: hyphenated key parts get single quotes
    (``hashes.'SHA-1'``), ``extensions`` always recurses, but custom
    ``x-*`` SCO types do not recurse into their nested dicts. With
    ``flat_lists=True``, list values explode to indexed keys
    (``protocols[0]``, ``protocols[1]``, …) exactly like the
    reference; the default keeps lists opaque (the only mode the
    reference's own callers use).
    """
    out = {}
    otype = d.get("type", "")
    for key, value in d.items():
        if "-" in key:
            if ":" in key:
                head, _, path = key.rpartition(":")
                parts = path.split(".")
                key = f"{head}:" + ".".join(
                    f"'{p}'" if "-" in p else p for p in parts
                )
            else:
                key = f"'{key}'"
        if prefix:
            key = f"{prefix}{sep}{key}"
        custom = isinstance(otype, str) and otype.startswith("x-")
        if key.rpartition(sep)[2] == "extensions" or (
            isinstance(value, dict) and not custom
        ):
            out.update(normalize_obj(value, key, sep, flat_lists))
        elif flat_lists and isinstance(value, list):
            for i, item in enumerate(value):
                out[f"{key}[{i}]"] = item
        else:
            out[key] = value
    return out


def upgrade_2021(obs: dict) -> list:
    """Convert a 2.0 observation + embedded objects map to 2.1 shape
    (parity: firepit/raft.py:103-150)."""
    results = [obs]
    scos = obs.get("objects")
    if scos is None:
        return results
    ref_map, object_refs = {}, set()
    for idx, sco in scos.items():
        sid = makeid(sco)
        sco["id"] = sid
        ref_map[idx] = sid
        object_refs.add(sid)
        sco["spec_version"] = "2.1"
        if "binary_ref" in sco:
            sco["image_ref"] = sco.pop("binary_ref")
        results.append(sco)
    for obj in results:
        if obj["type"] == "relationship":
            continue
        for prop, val in list(obj.items()):
            if prop.endswith("_ref"):
                if isinstance(val, str) and val.isdigit():
                    # guard: a malformed bundle can reference a nonexistent
                    # object index — drop the dangling ref instead of raising
                    if val in ref_map:
                        obj[prop] = ref_map[val]
                    else:
                        del obj[prop]
            elif prop.endswith("_refs"):
                vals = val if isinstance(val, list) else [val]
                refs = [
                    ref_map[v]
                    for v in vals
                    if isinstance(v, str) and v.isdigit() and v in ref_map
                ]
                if refs:
                    obj[prop] = refs
                else:
                    del obj[prop]
    del obs["objects"]
    obs["object_refs"] = list(object_refs)
    obs["spec_version"] = "2.1"
    return results


def flatten_21(obj: dict) -> list:
    """Flatten a STIX 2.1 object (parity: firepit/raft.py:161-210)."""
    results = []
    oid = str(obj["id"])
    obj["id"] = oid
    otype = obj["type"]
    if otype == "identity":
        return [obj]
    if otype == "observed-data":
        for ref in obj.get("object_refs", []):
            results.append(
                {"type": CONTAINS, "source_ref": oid, "target_ref": str(ref)}
            )
        obj.pop("object_refs", None)
        results.append(normalize_obj(obj))
        return results
    ref_list_props = []
    for prop, val in obj.items():
        if prop.endswith("_ref"):
            obj[prop] = str(val)
        elif prop.endswith("_refs"):
            vals = val if isinstance(val, list) else [val]
            for ref in vals:
                ref = str(ref)
                if ref != oid:
                    results.append(
                        {
                            "type": REFLIST,
                            "ref_name": prop,
                            "source_ref": oid,
                            "target_ref": ref,
                        }
                    )
            ref_list_props.append(prop)
    for prop in ref_list_props:
        del obj[prop]
    results.append(normalize_obj(obj))
    return results


def _mark_subtree(scos: dict, key, reffed: set):
    """Mark ``key`` and everything it references as non-root
    (parity: firepit/raft.py:337-348)."""
    reffed.add(key)
    for prop, val in scos[key].items():
        if prop.endswith("_ref"):
            if val in scos and val != key:
                _mark_subtree(scos, val, reffed)
        elif prop.endswith("_refs"):
            for ref in val:
                if ref in scos and ref != key:
                    _mark_subtree(scos, ref, reffed)


def flatten(obs: dict) -> list:
    """Flatten one observed-data SDO (2.0 or 2.1) into standalone records
    (parity: firepit/raft.py:213-334).

    Returns a list of flat dicts: the SCOs (with deterministic ids), the
    observation itself, plus ``__contains`` / ``__reflist`` edge rows.
    Root SCOs of each observation are marked through ``x_firepit_rank`` on
    their containment edge.

    Non-mutating: the input is deep-copied up front, so a bundle survives
    ``cache`` and can feed ``cache_distributed`` identically afterwards.
    (The reference's raft.py:213-334 mutates in place — ``del
    obs["objects"]`` plus ref rewrites — an API landmine deliberately NOT
    carried over; strings are shared by deepcopy, so large payload_bin
    values are not duplicated.)
    """
    obs = copy.deepcopy(obs)
    if obs.get("spec_version", "2.0") == "2.1" or "object_refs" in obs:
        return flatten_21(obs)
    if "objects" not in obs:
        return [obs]

    scos = obs["objects"]
    ref_map, results = {}, []
    prefs = defaultdict(list)  # per-type root preference order
    reffed = set()  # indexes known not to be roots

    for idx, orig in scos.items():
        flat = normalize_obj(orig)
        prefs[flat["type"]].append(idx)
        sid = makeid(orig, obs)
        orig["id"] = sid
        flat["id"] = sid
        ref_map[idx] = sid

        ref_list_props = []
        for prop, val in flat.items():
            if prop.endswith("_ref"):
                if val in scos and val != idx:
                    if scos[idx]["type"] == scos[val]["type"]:
                        # same-type chain (process trees): only the top is root
                        _mark_subtree(scos, val, reffed)
                    elif scos[val]["type"].endswith("-addr"):
                        if "dst_" in prop:
                            # src/dst pairs: src address is the root
                            reffed.add(val)
                        elif prop.endswith("src_ref"):
                            prefs[scos[val]["type"]].insert(0, val)
                    elif val in reffed:
                        reffed.add(idx)
            elif prop.endswith("_refs"):
                vals = val if isinstance(val, list) else [val]
                for ref in vals:
                    if ref in scos and ref != idx:
                        results.append(
                            {
                                "type": REFLIST,
                                "ref_name": prop,
                                "source_ref": idx,  # index; remapped below
                                "target_ref": ref,
                            }
                        )
                        if scos[idx]["type"] == scos[ref]["type"]:
                            reffed.add(ref)
                ref_list_props.append(prop)
        for prop in ref_list_props:
            del flat[prop]

        results.append(
            {"type": CONTAINS, "source_ref": obs["id"], "target_ref": sid}
        )
        results.append(flat)

    # second pass: rewrite 2.0 index refs to ids, drop unresolvable refs
    drop_rows = []
    for obj in results:
        if obj["type"] in (CONTAINS, "relationship"):
            continue
        dangling = []
        for prop, val in obj.items():
            if prop.endswith("_ref"):
                if val in ref_map:
                    obj[prop] = ref_map[val]
                else:
                    dangling.append(prop)
        if obj["type"] == REFLIST and dangling:
            # an edge row with an unresolvable endpoint is malformed —
            # drop the whole row rather than ingest a partial edge
            drop_rows.append(id(obj))
            continue
        for prop in dangling:
            del obj[prop]

        # root-ranking (parity with the prefs walk at firepit/raft.py:298-329)
        key = next((i for i, s in ref_map.items() if s == obj.get("id")), None)
        if key is not None and key not in reffed:
            otype = obj["type"]
            if otype not in prefs:
                _set_rank(results, scos[key]["id"])
            else:
                for i in prefs[otype]:
                    if i in reffed:
                        continue
                    if i == key:
                        _set_rank(results, scos[key]["id"])
                    break

    if drop_rows:
        results = [r for r in results if id(r) not in drop_rows]
    del obs["objects"]
    results.append(normalize_obj(obs))
    return results


def _set_rank(results: list, sco_id: str, rank: int = 1):
    for rec in results:
        if rec["type"] == CONTAINS and rec["target_ref"] == sco_id:
            rec["x_firepit_rank"] = rank


def get_objects(source, types=None):
    """Yield STIX objects from a bundle dict, JSON file path, http(s) URL,
    or file-like (parity: firepit/raft.py:54-68; URL fetch is driver-side
    stdlib like the reference's — bulk distributed reads go through
    spark.read / sources.bundles instead)."""
    import json

    if isinstance(source, dict):
        yield from (
            o
            for o in source.get("objects", [])
            if not types or o.get("type") in types
        )
        return
    if hasattr(source, "read"):
        bundle = json.load(source)
    elif isinstance(source, str) and source.startswith(("http://", "https://")):
        from urllib.request import urlopen

        with urlopen(source) as resp:
            bundle = json.load(resp)
    else:
        with open(source) as fp:
            bundle = json.load(fp)
    if bundle.get("type") != "bundle":
        bundle = {}
    for obj in bundle.get("objects", []):
        if not types or obj.get("type") in types:
            yield obj


# reference-compat name (firepit/raft.py:77): same flattening rules,
# including flat_lists=True's indexed list keys (key[i] per element) —
# the reference's own callers always pass False, but API parity means a
# user's direct call behaves identically
def json_normalize(d: dict, prefix: str = "", sep: str = ".", flat_lists: bool = False) -> dict:
    return normalize_obj(d, prefix=prefix, sep=sep, flat_lists=flat_lists)
