"""Every module under ``firepit_spark/`` is reached from an entry point.

The keep rule: library code stays when a driver slot
(``__spark_entry__.py``), the CLI, the storage layer, ``bench.py`` or the
benchmark (``perfbench/``) reaches it. This walks ``import`` / ``from``
statements (module level and inside functions) with ``ast`` from those
roots, so a module that only tests import fails here. No Spark is needed.
"""

from __future__ import annotations

import ast
import json
import re
from functools import lru_cache
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "firepit_spark"

ROOTS = [
    ROOT / "__spark_entry__.py",
    ROOT / PKG / "cli.py",
    ROOT / PKG / "storage.py",
    ROOT / "bench.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
]

# reached by no entry point, kept on purpose
ALLOWED_UNREACHED = {
    f"{PKG}.functions.doctor": "test-side plan checker (batch and streaming)",
    f"{PKG}.streaming.ingest": "STIX bundle stream ingest, kept as a library op",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


@lru_cache(maxsize=None)
def _local_modules() -> dict[str, Path]:
    found = {}
    for top in (PKG, "perfbench"):
        for path in (ROOT / top).rglob("*.py"):
            if "tests" not in path.relative_to(ROOT).parts:
                found[_module_name(path)] = path
    for path in ROOTS:
        found.setdefault(_module_name(path), path)
    return found


def _import_nodes(tree: ast.Module):
    """``import`` statements at any depth (function bodies, try, if),
    visiting statement lists only: expressions cannot hold an import."""
    stack = [tree]
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            yield node
        for field in ("body", "orelse", "finalbody", "handlers", "cases"):
            stack.extend(getattr(node, field, None) or ())


def _imported(name: str, path: Path, modules: dict[str, Path]) -> set[str]:
    """Local modules ``path`` imports: each target, its parent packages,
    and ``pkg.name`` for ``from pkg import name`` when that is a module."""
    is_pkg = path.name == "__init__.py"
    targets = set()
    for node in _import_nodes(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = name.split(".")
                anchor = anchor[: len(anchor) - node.level + is_pkg]
                base = ".".join(anchor + ([base] if base else []))
            targets.add(base)
            targets.update(f"{base}.{a.name}" for a in node.names)
    out = set()
    for target in targets:
        parts = target.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in modules:
                out.add(prefix)
    return out


@lru_cache(maxsize=None)
def reached_modules() -> frozenset[str]:
    modules = _local_modules()
    todo = [_module_name(p) for p in ROOTS]
    seen = set(todo)
    while todo:
        name = todo.pop()
        for dep in _imported(name, modules[name], modules) - seen:
            seen.add(dep)
            todo.append(dep)
    return frozenset(seen)


def test_every_library_module_is_reached():
    reached = set(reached_modules()) | set(ALLOWED_UNREACHED)
    # a package counts as reached when a module under it is
    for name in list(reached):
        parts = name.split(".")
        reached.update(".".join(parts[:i]) for i in range(1, len(parts)))
    library = {n for n in _local_modules() if n.split(".")[0] == PKG}
    unreached = sorted(library - reached)
    assert not unreached, (
        f"{len(unreached)} module(s) under {PKG}/ are reached by no entry "
        f"point; delete them or wire them in: {unreached}"
    )


def test_allowlist_is_current():
    modules = _local_modules()
    reached = reached_modules()
    for name in ALLOWED_UNREACHED:
        assert name in modules, f"allowlisted {name} no longer exists"
        assert name not in reached, f"allowlisted {name} is now reached"


def test_slot_registry_matches_gate():
    """``queries()``, ``oracle_sql()`` and the newest correctness record
    name the same slots, so the local sweeps run only what the gate
    checks."""
    import __spark_entry__ as entry

    records = {
        int(re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name).group(1)): p
        for p in ROOT.glob("CORRECTNESS_r*.json")
    }
    gated = set(json.loads(records[max(records)].read_text()))
    assert set(entry.queries()) == set(entry.oracle_sql()) == gated
