"""Every module of the package is reached from a KG entry point.

An AST import walk (function-level imports included) starts from the
modules a user or the benchmark drives the KG system through and follows
every ``softcite_kb_spark`` import, plus the ``__init__`` of each package
on the way. A module it never reaches is code no KG entry point can run.

``NOT_YET_REMOVED`` names the unreached modules that are still kept
because the ``__spark_entry__`` query contract and their own tests use
them; they go in later changes, a few at a time. The walk must find
exactly that set unreached: a newly unreached module fails, and so does a
listed module that is deleted or becomes reached until it leaves the list.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = "softcite_kb_spark"
ROOT = Path(__file__).resolve().parents[1] / PKG

ENTRY_POINTS = [
    "plans.pipeline",
    "plans.incremental",
    "queries.api_queries",
    "kb.indexing",
    "streaming.ingest",
    "cli",
    "datagen",
    "__main__",
    "materialize",
    "session",
]

NOT_YET_REMOVED = {
    "functions.skew",
    "operators.graph",
    "operators.multimodal",
    "operators.sampling",
    "operators.similarity",
    "operators.temporal",
    "plans.corpus",
}


def _modules() -> dict[str, Path]:
    mods = {}
    for path in ROOT.rglob("*.py"):
        parts = list(path.relative_to(ROOT.parent).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = path
    return mods


def _imports(name: str, path: Path, mods: dict[str, Path]) -> set[str]:
    is_pkg = path.name == "__init__.py"
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = name.split(".")
                base = base[: len(base) - node.level + is_pkg]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module
            found.add(mod)
            found.update(f"{mod}.{a.name}" for a in node.names)
    return {m for m in found if m in mods}


def _reached(mods: dict[str, Path]) -> set[str]:
    seen: set[str] = set()
    todo = [f"{PKG}.{e}" for e in ENTRY_POINTS]
    while todo:
        name = todo.pop()
        if name in seen or name not in mods:
            continue
        seen.add(name)
        parts = name.split(".")
        todo.extend(".".join(parts[:i]) for i in range(1, len(parts)))
        todo.extend(_imports(name, mods[name], mods))
    return seen


def test_every_module_reached_from_a_kg_entry_point():
    mods = _modules()
    missing = [e for e in ENTRY_POINTS if f"{PKG}.{e}" not in mods]
    assert not missing, f"entry points not in the package: {missing}"
    pending = {f"{PKG}.{m}" for m in NOT_YET_REMOVED}
    unreached = sorted(set(mods) - _reached(mods) - pending)
    report = "\n".join(
        f"  {m} ({len(mods[m].read_text().splitlines())} lines)"
        for m in unreached
    )
    assert not unreached, (
        f"{len(unreached)} module(s) no KG entry point imports:\n{report}"
    )
    stale = sorted(m for m in pending if m not in mods or m in _reached(mods))
    assert not stale, (
        f"NOT_YET_REMOVED names deleted or reached modules: {stale}")
