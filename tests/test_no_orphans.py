"""Orphan guard: no package code that only tests reach.

Production roots are the query registry (``plans/registry.py`` and every
``plans/queries_*.py`` it imports), ``plans/pipeline.py``, ``__main__.py``,
``session.py``, ``plans/contract.py`` (the oracle gate), ``bench.py``,
``__spark_entry__.py`` and ``tools/*.py``. Two static checks over the AST,
no Spark session:

* every package module is imported, transitively, from a root;
* every top-level def in ``operators/``, ``sources/``, ``streaming/`` and
  ``functions/`` is named outside its own body somewhere in the reached
  code. A def named only inside another unreached def is unreached too,
  so the scan repeats until no new name drops out.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG_NAME = "etl_building_inspector_spark"
PKG = REPO / PKG_NAME
SCANNED = ("operators", "sources", "streaming", "functions")

# Helpers that no production code names but are kept on purpose, each
# with tests of its own (none today). Delete an entry with its def; an
# entry that gains a caller fails the test below.
KNOWN_UNREACHED: set[str] = set()


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in sorted(PKG.rglob("*.py"))}


def _roots() -> list[Path]:
    plans = PKG / "plans"
    roots = [
        plans / "registry.py",
        plans / "pipeline.py",
        plans / "contract.py",
        PKG / "__main__.py",
        PKG / "session.py",
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
    ]
    roots += sorted(plans.glob("queries_*.py"))
    roots += sorted((REPO / "tools").glob("*.py"))
    return roots


def _imported(path: Path, tree: ast.AST, modules: dict[str, Path]) -> set[str]:
    """Package modules ``tree`` imports, with their parent packages."""
    here = _module_name(path).split(".") if path.is_relative_to(PKG) else []
    if path.name != "__init__.py":
        here = here[:-1]
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = here[: len(here) - node.level + 1]
                base = ".".join(base + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            parts = t.split(".")
            for i in range(1, len(parts) + 1):
                name = ".".join(parts[:i])
                if name in modules:
                    out.add(name)
    return out


def _names(node: ast.AST) -> list[str]:
    out = []
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.append(n.id)
        elif isinstance(n, ast.Attribute):
            out.append(n.attr)
        elif isinstance(n, ast.alias):
            out.append(n.name.rsplit(".", 1)[-1])
            if n.asname:
                out.append(n.asname)
    return out


def scan() -> list[str]:
    """Unreached package modules, then unreached top-level defs."""
    modules = _package_modules()
    roots = _roots()
    trees = {p: ast.parse(p.read_text(), str(p)) for p in {*modules.values(), *roots}}

    seen = {PKG_NAME} | {_module_name(r) for r in roots if r.is_relative_to(PKG)}
    todo = list(roots)
    while todo:
        p = todo.pop()
        for m in _imported(p, trees[p], modules) - seen:
            seen.add(m)
            todo.append(modules[m])

    corpus = {trees[p] for p in roots} | {trees[modules[m]] for m in seen}
    defs = {
        f"{m}.{node.name}": node
        for m in seen
        if m.partition(".")[2].split(".")[0] in SCANNED
        for node in trees[modules[m]].body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    }
    dead: set[str] = set()
    while True:
        skip = {defs[d] for d in dead}
        counts = Counter(
            n for t in corpus for node in t.body if node not in skip for n in _names(node)
        )
        newly = {
            d
            for d, node in defs.items()
            if d not in dead and counts[node.name] == _names(node).count(node.name)
        }
        if not newly:
            return sorted(set(modules) - seen) + sorted(dead)
        dead |= newly


def new_orphans() -> list[str]:
    return [o for o in scan() if o not in KNOWN_UNREACHED]


def test_every_module_and_helper_has_a_production_caller():
    orphans = new_orphans()
    assert not orphans, "reached only by tests (or by nothing):\n" + "\n".join(orphans)


def test_known_unreached_list_is_current():
    assert KNOWN_UNREACHED <= set(scan())


if __name__ == "__main__":
    print("\n".join(new_orphans()))
