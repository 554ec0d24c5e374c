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
  so the scan repeats until no new name drops out. An attribute of a
  name imported from outside the package (``pq.read_table``,
  ``F.col``) names nothing of the package and is not counted.

Two more checks keep the package free of dead names and lone options:

* every import in a package module is read, and no top-level def of the
  module rebinds it;
* every defaulted parameter of a package def is set, by keyword or by
  position, by some call in the production code. A value that no
  caller changes is a constant of the function body, not an option.
"""

from __future__ import annotations

import ast
import math
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

# Defaulted parameters that no production call sets, kept as seams for
# the test named beside each (``module.def.param``, the module relative
# to the package). Like KNOWN_UNREACHED, this map may only shrink:
# delete an entry with its parameter; one that gains a production
# setter fails the test below.
KNOWN_UNSET: dict[str, str] = {
    "operators.dedup.simhash_hamming_pairs.max_bucket_width":
        "tests/test_dedup_caps.py::test_simhash_hamming_cap_and_exact_recall",
    "sources.landing.download.fetch_json":
        "tests/test_landing.py::test_download_idempotent",
    "sources.landing.download_unpaginated.seq_start":
        "tests/test_geojson_sources.py::test_seq_deterministic_across_multifile_landing",
    "sources.landing.fetch_with_retry.backoff_s":
        "tests/test_landing.py::test_retry_then_success",
    "sources.landing.fetch_with_retry.retries":
        "tests/test_landing.py::test_retry_exhaustion",
    "streaming.events.streaming_windowed_counts.window":
        "tests/test_streaming.py::test_streaming_window_counts_match_batch",
}


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


def _foreign(tree: ast.AST) -> set[str]:
    """Names ``tree`` binds by importing from outside the package."""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a for a in node.names if a.name.split(".")[0] != PKG_NAME]
            out |= {a.asname or a.name.split(".")[0] for a in names}
        elif (
            isinstance(node, ast.ImportFrom)
            and not node.level
            and (node.module or "").split(".")[0] != PKG_NAME
        ):
            out |= {a.asname or a.name for a in node.names}
    return out


def _on_foreign(n: ast.AST, foreign: set[str]) -> bool:
    return (
        isinstance(n, ast.Attribute)
        and isinstance(n.value, ast.Name)
        and n.value.id in foreign
    )


def _names(node: ast.AST, foreign: set[str]) -> list[str]:
    out = []
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.append(n.id)
        elif isinstance(n, ast.Attribute) and not _on_foreign(n, foreign):
            out.append(n.attr)
        elif isinstance(n, ast.alias):
            out.append(n.name.rsplit(".", 1)[-1])
            if n.asname:
                out.append(n.asname)
    return out


def _trees() -> dict[Path, ast.Module]:
    return {
        p: ast.parse(p.read_text(), str(p))
        for p in {*_package_modules().values(), *_roots()}
    }


def scan() -> list[str]:
    """Unreached package modules, then unreached top-level defs."""
    modules = _package_modules()
    roots = _roots()
    trees = _trees()
    foreign = {t: _foreign(t) for t in trees.values()}

    seen = {PKG_NAME} | {_module_name(r) for r in roots if r.is_relative_to(PKG)}
    todo = list(roots)
    while todo:
        p = todo.pop()
        for m in _imported(p, trees[p], modules) - seen:
            seen.add(m)
            todo.append(modules[m])

    corpus = {trees[p] for p in roots} | {trees[modules[m]] for m in seen}
    defs = {
        f"{m}.{node.name}": (node, foreign[trees[modules[m]]])
        for m in seen
        if m.partition(".")[2].split(".")[0] in SCANNED
        for node in trees[modules[m]].body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    }
    dead: set[str] = set()
    while True:
        skip = {defs[d][0] for d in dead}
        counts = Counter(
            n
            for t in corpus
            for node in t.body
            if node not in skip
            for n in _names(node, foreign[t])
        )
        newly = {
            d
            for d, (node, fgn) in defs.items()
            if d not in dead and counts[node.name] == _names(node, fgn).count(node.name)
        }
        if not newly:
            return sorted(set(modules) - seen) + sorted(dead)
        dead |= newly


def _defaulted(fn: ast.FunctionDef | ast.AsyncFunctionDef):
    """(name, position or None for keyword-only) of each defaulted
    parameter of ``fn``."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    yield from ((p.arg, i) for i, p in enumerate(pos) if i >= first)
    yield from ((p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d)


def _package_defs(tree: ast.AST, prefix: str, in_class: bool = False):
    """(qualified name, def, leading bound parameters) of every def in
    ``tree``, nested ones included; a method's ``self`` is bound."""
    for node in ast.iter_child_nodes(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            static = any(
                isinstance(d, ast.Name) and d.id == "staticmethod"
                for d in node.decorator_list
            )
            yield f"{prefix}.{node.name}", node, int(in_class and not static)
            yield from _package_defs(node, f"{prefix}.{node.name}")
        elif isinstance(node, ast.ClassDef):
            yield from _package_defs(node, f"{prefix}.{node.name}", True)
        else:
            yield from _package_defs(node, prefix, in_class)


def _calls(tree: ast.AST, foreign: set[str]):
    """(callee name, positional count, keywords or None for ``**``) of
    each call in ``tree``; ``partial(f, ...)`` counts as a call of f."""
    for n in ast.walk(tree):
        if not isinstance(n, ast.Call) or _on_foreign(n.func, foreign):
            continue
        func, args = n.func, n.args
        if isinstance(func, ast.Name) and func.id == "partial" and args:
            func, args = args[0], args[1:]
        name = getattr(func, "id", None) or getattr(func, "attr", None)
        if name:
            starred = any(isinstance(a, ast.Starred) for a in args)
            npos = math.inf if starred else len(args)
            kws = {k.arg for k in n.keywords}
            yield name, npos, None if None in kws else kws


def unset_parameters() -> list[str]:
    """``module.def.param`` of each defaulted package parameter that no
    production call sets (a call is matched to defs by name alone)."""
    trees = _trees()
    calls = [c for t in trees.values() for c in _calls(t, _foreign(t))]
    unset = []
    for m, path in _package_modules().items():
        rel = m.partition(".")[2]
        for qual, fn, bound in _package_defs(trees[path], rel):
            names = {fn.name}
            if fn.name == "__init__":
                names.add(qual.split(".")[-2])
            for param, i in _defaulted(fn):
                if not any(
                    kws is None or param in kws or (i is not None and i - bound < npos)
                    for name, npos, kws in calls
                    if name in names
                ):
                    unset.append(f"{qual}.{param}")
    return sorted(unset)


def unused_imports() -> list[str]:
    """``path:line name`` of each package import that the module never
    reads, or that a top-level def or class of the module rebinds."""
    out = []
    for m, path in sorted(_package_modules().items()):
        tree = ast.parse(path.read_text())
        read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in tree.body:
            if isinstance(node, ast.Assign) and any(
                getattr(t, "id", None) == "__all__" for t in node.targets
            ):
                read |= set(ast.literal_eval(node.value))
        defined = {
            n.name
            for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                bound = [a.asname or a.name.split(".")[0] for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
                bound = [a.asname or a.name for a in node.names]
            else:
                continue
            out += [
                f"{path.relative_to(REPO)}:{node.lineno} {b}"
                for b in bound
                if b not in read or b in defined
            ]
    return out


def new_orphans() -> list[str]:
    return [o for o in scan() if o not in KNOWN_UNREACHED]


def test_every_module_and_helper_has_a_production_caller():
    orphans = new_orphans()
    assert not orphans, "reached only by tests (or by nothing):\n" + "\n".join(orphans)


def test_known_unreached_list_is_current():
    assert KNOWN_UNREACHED <= set(scan())


def test_every_import_is_used():
    unused = unused_imports()
    assert not unused, "unused or shadowed imports:\n" + "\n".join(unused)


def test_every_defaulted_parameter_has_a_production_setter():
    unset = [u for u in unset_parameters() if u not in KNOWN_UNSET]
    assert not unset, "defaulted, but no production call sets it:\n" + "\n".join(unset)


def test_known_unset_map_is_current():
    assert set(KNOWN_UNSET) <= set(unset_parameters())
    for param, test in KNOWN_UNSET.items():
        path, _, name = test.partition("::")
        tree = ast.parse((REPO / path).read_text())
        fns = [n for n in ast.walk(tree) if getattr(n, "name", None) == name]
        assert fns, f"{param}: no {test}"
        assert param.split(".")[-2] in ast.unparse(fns[0]), f"{test} does not call {param}"


if __name__ == "__main__":
    print("\n".join(new_orphans()))
    print("\n".join(unused_imports()))
    print("\n".join(u for u in unset_parameters() if u not in KNOWN_UNSET))
