"""Clone guard: no four-statement window written out in two package
functions.

A window is four consecutive statements of one statement list (a
function body, or the body of an ``if``/``for``/``with``/``try`` inside
one), compared verbatim: the ``ast.dump`` of the four statements, with
no positions. A window that appears in two different functions is a
copy of one idiom, which belongs in one helper that both call. Static
AST scan, no Spark session.

``KNOWN_CLONES`` maps each window that still repeats to the reason it
stays. Like ``KNOWN_UNREACHED`` in ``test_no_orphans.py`` it may only
shrink: a listed window that no longer repeats fails too.
"""

from __future__ import annotations

import ast
import hashlib
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "etl_building_inspector_spark"
WINDOW = 4

# digest of the window -> why it stays (the functions it appears in).
KNOWN_CLONES: dict[str, str] = {
    "dc0a77eb29a6": (
        "queries_core.flagship_enrich / queries_surface6.dq_constraint_checks: "
        "four one-line load_table calls; a helper would be no shorter"
    ),
    "954f003c776c": (
        "queries_spatial.spatial_bbox_intersect_join / "
        "spatial_polygon_intersect_join: part-box centre of the synthetic "
        "fixture; other spatial queries spell it with casts, so a helper "
        "would cover two of its variants"
    ),
    "40f7cf8c22c8": (
        "queries_spatial._diamonds_and_triangles / "
        "spatial_simple_poly_intersect_join: supplier-shape centre and "
        "radius of the synthetic fixture; same variants as above"
    ),
}


def _statement_lists(fn: ast.AST):
    """Every statement list inside ``fn``, nested defs excluded (they
    are scanned as functions of their own)."""
    todo = [fn]
    while todo:
        node = todo.pop()
        for field in ("body", "orelse", "finalbody", "handlers"):
            stmts = getattr(node, field, None)
            if not isinstance(stmts, list) or not stmts:
                continue
            yield stmts
            todo.extend(
                s
                for s in stmts
                if not isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            )


def _functions(tree: ast.AST, prefix: str):
    """(qualified name, def) of every function in ``tree``."""
    todo = [(prefix, tree)]
    while todo:
        qual, node = todo.pop()
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                name = f"{qual}.{child.name}"
                if not isinstance(child, ast.ClassDef):
                    yield name, child
                todo.append((name, child))
            else:
                todo.append((qual, child))


def scan() -> dict[str, list[str]]:
    """Digest of each window found in two or more package functions ->
    ``path:line function`` of each copy."""
    seen: dict[str, dict[str, str]] = defaultdict(dict)
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(REPO)
        module = ".".join(rel.with_suffix("").parts)
        tree = ast.parse(path.read_text(), str(path))
        for qual, fn in _functions(tree, module):
            for stmts in _statement_lists(fn):
                for i in range(len(stmts) - WINDOW + 1):
                    window = stmts[i : i + WINDOW]
                    dump = "\n".join(ast.dump(s) for s in window)
                    key = hashlib.sha1(dump.encode()).hexdigest()[:12]
                    seen[key].setdefault(qual, f"{rel}:{window[0].lineno} {qual}")
    return {k: sorted(v.values()) for k, v in seen.items() if len(v) > 1}


def test_no_new_clones():
    new = {k: v for k, v in scan().items() if k not in KNOWN_CLONES}
    assert not new, "four-statement windows copied across functions:\n" + "\n".join(
        f"{k}: " + "; ".join(v) for k, v in sorted(new.items())
    )


def test_known_clones_list_is_current():
    gone = set(KNOWN_CLONES) - set(scan())
    assert not gone, f"no longer repeated, delete from KNOWN_CLONES: {sorted(gone)}"


if __name__ == "__main__":
    for key, where in sorted(scan().items()):
        print(key, *where, sep="\n  ")
