"""Replication-equivariance check for graph + dedup-cluster queries
on derived fixtures (round 9; cluster family added round 10).

make_scaled_fixture's key-shifted replication makes every copy an
ISOMORPHIC, DISCONNECTED subgraph for key-joined graphs (all join
keys co-shift, so edges never cross copies). That yields an exact
engine-side oracle that needs no DuckDB: per-node results grouped by
copy (node DIV stride), unshifted (node MOD stride), must be
IDENTICAL multisets across all copies; and for structure-LOCAL
measures (k-core number, LPA min-label, triangle counts, degrees)
copy 0 must equal the engine's own output on the UNREPLICATED base
fixture. PageRank is equivariant across copies but NOT equal to base
(the teleport term (1-d)/N sees the 10x node count), so it gets the
cross-copy check only.

CONTENT-keyed graphs (the MinHash-LSH dedup-cluster family, VERDICT
r9 #2) need a refinement: text replicates VERBATIM across copies, so
near-dup pairs DO cross copies -- every surviving band bucket holds
all F copies of its doc-level members, and each derived component is
exactly (doc-level component) x (all copies). Per-copy projections
unshifted are therefore still identical -- but only WITHIN a cohort,
because queries_llm._docs_with_dups also unions synthetic mutated
dups at doc_id + 100000, which occupy their own copy-index range
(mut = id DIV 100000) and whose survivor set under the hot-bucket
cap differs from the base docs'. So the cluster checks compare
per-copy multisets within each (mut) cohort, with component labels
unshifted through the same (mut, copy, local) decomposition. This is
exactly the r8 over-merge class detector: a cap asymmetry or a
copy-merging bug changes some copy's projection and diverges loudly.

dedup_keep_representatives cannot be per-copy equivariant BY DESIGN
(each cross-copy cluster keeps exactly one doc, in copy 0), so it
gets an exact engine-side CONSISTENCY check instead: kept set ==
{docs universe} filtered by dedup_cluster_assign's own component map
(doc untouched by any pair, or doc == its component label). Combined
with the cluster check above, that pins the whole pairs -> CC ->
kept-corpus chain at derived scale with no DuckDB in the loop.

Why this exists: at x10 the iterative DuckDB oracles (k-core peel,
LPA rounds, PageRank fixed point, and the recursive-CTE CC at 10x
pair density) spill hundreds of GB of temp and die on disk -- an
ORACLE-cost limit, not an engine one (the engine finishes each in
well under two minutes). This check keeps the x10 soak meaningful
for the iterative families.

Usage: python tools/equivariance_check.py <derived_dir> <base_dir> [query ...]
Default queries: graph_kcore graph_label_propagation graph_pagerank
                 graph_triangle_count dedup_cluster_assign
                 dedup_cluster_assign_lss dedup_keep_representatives
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# queries_llm._docs_with_dups offsets synthetic mutated dups by this;
# cohort decomposition below requires max derived doc_id < DUP_OFFSET
DUP_OFFSET = 100000

# query -> (id column, equal-to-base?, columns holding NODE-ID-valued
# results that must be unshifted per copy, e.g. LPA's min-label)
CHECKS = {
    "graph_kcore": ("node", True, ()),
    "graph_label_propagation": ("node", True, ("community",)),
    "graph_pagerank": ("node", False, ()),
}

# global-scalar queries: replication multiplies the (copy-local)
# quantity by exactly the factor F, inferred from lineitem row
# counts. The r9 checker carried graph_triangle_count in CHECKS as a
# per-node query; it returns ONE row (n_triangles), so it would have
# crashed if ever invoked -- the scalar law is the correct property.
SCALAR_CHECKS = {
    "graph_triangle_count": ("n_triangles",),
}

# query -> (base table, key column) whose replication stride governs
# that query's node-id space. Strides are computed from the BASE
# fixture exactly like make_scaled_fixture (power of ten above the
# max key), so one checker invocation can mix families whose ids
# shift by DIFFERENT strides (graph = part keys, clusters = doc ids).
STRIDE_SOURCE = {
    "graph_kcore": ("lineitem", "l_partkey"),
    "graph_label_propagation": ("lineitem", "l_partkey"),
    "graph_pagerank": ("lineitem", "l_partkey"),
    "graph_triangle_count": ("lineitem", "l_partkey"),
    "dedup_cluster_assign": ("documents", "doc_id"),
    "dedup_cluster_assign_lss": ("documents", "doc_id"),
    "dedup_cluster_incremental": ("documents", "doc_id"),
}


def _stride_for(base_dir: str, name: str, cache: dict) -> int:
    table, col = STRIDE_SOURCE[name]
    if (table, col) not in cache:
        import pyarrow.parquet as pq

        arr = pq.read_table(
            f"{base_dir}/{table}.parquet", columns=[col]
        )[col]
        m = arr.to_pandas().max()
        s = 10
        while s <= int(m):
            s *= 10
        cache[(table, col)] = s
    return cache[(table, col)]

# content-keyed cluster family: query -> (id column, id-valued cols
# unshifted through the (mut, copy, local) decomposition). No base
# comparison: the hot-bucket cap binds differently at base width w
# vs derived width F*w, so copy-0 is NOT expected to equal base.
CLUSTER_CHECKS = {
    "dedup_cluster_assign": ("doc_id", ("component",)),
    "dedup_cluster_assign_lss": ("doc_id", ("component",)),
    # the incremental merge strategy is held to the same per-copy
    # contract as the batch strategies (r10 session addition)
    "dedup_cluster_incremental": ("doc_id", ("component",)),
}

# kept-corpus consistency: query -> the cluster query whose component
# map defines the expected survivor set over _docs_with_dups
CONSISTENCY_CHECKS = {
    "dedup_keep_representatives": "dedup_cluster_assign",
}

DEFAULT_NAMES = [
    "graph_kcore",
    "graph_label_propagation",
    "graph_pagerank",
    "graph_triangle_count",
    "dedup_cluster_assign",
    "dedup_cluster_assign_lss",
    "dedup_cluster_incremental",
    "dedup_keep_representatives",
]


def _decomp(node: int, stride: int) -> tuple[int, int, int]:
    """(mut cohort, copy index, local id) for a derived doc id that
    may carry the _docs_with_dups +100000 offset."""
    mut, rem = divmod(node, DUP_OFFSET)
    copy, local = divmod(rem, stride)
    return mut, copy, local


def _check_graph(name, rows, stride, spark, base, queries) -> tuple[bool, str]:
    id_col, eq_base, unshift_cols = CHECKS[name]
    cols = [c for c in rows[0].asDict() if c != id_col]
    per_copy: dict[int, Counter] = {}
    for r in rows:
        d = r.asDict()
        copy, local = d[id_col] // stride, d[id_col] % stride
        vals = tuple(
            (d[c] % stride if c in unshift_cols else d[c]) for c in cols
        )
        per_copy.setdefault(copy, Counter())[(local, vals)] += 1
    copies = sorted(per_copy)
    ok = all(per_copy[c] == per_copy[copies[0]] for c in copies[1:])
    msg = f"{len(copies)} copies identical" if ok else "COPIES DIVERGE"
    if not ok:
        a, b = per_copy[copies[0]], per_copy[copies[1]]
        diff = list((a - b).items())[:3] + list((b - a).items())[:3]
        return False, msg + f" e.g. {diff}"
    if eq_base:
        base_rows = queries[name](spark, base).collect()
        base_ms = Counter(
            (r.asDict()[id_col], tuple(r.asDict()[c] for c in cols))
            for r in base_rows
        )
        if base_ms != per_copy[copies[0]]:
            return False, msg + "; COPY-0 != BASE"
        msg += "; copy-0 == base output"
    return True, msg


def _check_cluster(name, rows, stride) -> tuple[bool, str]:
    id_col, unshift_cols = CLUSTER_CHECKS[name]
    cols = [c for c in rows[0].asDict() if c != id_col]
    # cohort (mut) -> copy -> multiset of (local, unshifted vals)
    cohorts: dict[int, dict[int, Counter]] = {}
    max_id = 0
    for r in rows:
        d = r.asDict()
        max_id = max(max_id, d[id_col])
        mut, copy, local = _decomp(d[id_col], stride)
        vals = tuple(
            _decomp(d[c], stride)[0::2] if c in unshift_cols else d[c]
            for c in cols
        )
        cohorts.setdefault(mut, {}).setdefault(copy, Counter())[
            (local, vals)
        ] += 1
    if max_id >= 2 * DUP_OFFSET:
        return False, (
            f"id {max_id} >= 2*{DUP_OFFSET}: cohort decomposition "
            "invalid at this replication factor"
        )
    parts = []
    for mut in sorted(cohorts):
        per_copy = cohorts[mut]
        copies = sorted(per_copy)
        ok = all(per_copy[c] == per_copy[copies[0]] for c in copies[1:])
        if not ok:
            a, b = per_copy[copies[0]], per_copy[copies[1]]
            diff = list((a - b).items())[:3] + list((b - a).items())[:3]
            return False, f"cohort {mut}: COPIES DIVERGE e.g. {diff}"
        parts.append(f"cohort {mut}: {len(copies)} copies identical")
    return True, "; ".join(parts)


def _replication_factor(derived: str, base: str) -> int:
    import pyarrow.parquet as pq

    n_d = pq.ParquetFile(f"{derived}/lineitem.parquet").metadata.num_rows
    n_b = pq.ParquetFile(f"{base}/lineitem.parquet").metadata.num_rows
    assert n_b > 0 and n_d % n_b == 0, (n_d, n_b)
    return n_d // n_b


def _check_scalar(name, rows, spark, base, derived, queries) -> tuple[bool, str]:
    cols = SCALAR_CHECKS[name]
    if len(rows) != 1:
        return False, f"expected 1 scalar row, got {len(rows)}"
    factor = _replication_factor(derived, base)
    base_rows = queries[name](spark, base).collect()
    if len(base_rows) != 1:
        return False, f"base returned {len(base_rows)} rows, expected 1"
    bads = [
        f"{c}: derived={rows[0][c]} != {factor}x base={base_rows[0][c]}"
        for c in cols
        if rows[0][c] != factor * base_rows[0][c]
    ]
    if bads:
        return False, "; ".join(bads)
    return True, f"scalar == {factor}x base ({', '.join(cols)})"


def _check_consistency(name, rows, spark, derived, queries) -> tuple[bool, str]:
    from etl_building_inspector_spark.plans.queries_llm import _docs_with_dups

    cluster_q = CONSISTENCY_CHECKS[name]
    comp = {
        r["doc_id"]: r["component"]
        for r in queries[cluster_q](spark, derived).collect()
    }
    universe = [
        r["doc_id"]
        for r in _docs_with_dups(spark, derived).select("doc_id").collect()
    ]
    expected = {d for d in universe if comp.get(d, d) == d}
    actual = {r["doc_id"] for r in rows}
    if actual == expected:
        return True, (
            f"kept set == cluster-map survivor set "
            f"({len(actual)} of {len(universe)} docs)"
        )
    extra = sorted(actual - expected)[:3]
    missing = sorted(expected - actual)[:3]
    return False, (
        f"KEPT SET MISMATCH vs {cluster_q}: "
        f"extra={extra} missing={missing} "
        f"(|actual|={len(actual)} |expected|={len(expected)})"
    )


def main() -> int:
    derived = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1.0-derived"
    base = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = sys.argv[3:] or DEFAULT_NAMES

    from etl_building_inspector_spark.plans.registry import QUERIES
    from etl_building_inspector_spark.session import get_spark

    spark = get_spark("equivariance-check")
    n_fail = 0
    stride_cache: dict = {}
    for name in names:
        known = (
            name in CHECKS or name in CLUSTER_CHECKS
            or name in CONSISTENCY_CHECKS or name in SCALAR_CHECKS
        )
        if not known:
            print(f"FAIL {name}: no equivariance check registered")
            n_fail += 1
            continue
        rows = QUERIES[name](spark, derived).collect()
        # a total-output regression must FAIL, not crash the checker
        # with IndexError on rows[0] (ADVICE r9)
        if not rows:
            print(f"FAIL {name}: 0 rows on derived fixture")
            n_fail += 1
            continue
        if name in CHECKS:
            stride = _stride_for(base, name, stride_cache)
            ok, msg = _check_graph(name, rows, stride, spark, base, QUERIES)
        elif name in CLUSTER_CHECKS:
            stride = _stride_for(base, name, stride_cache)
            ok, msg = _check_cluster(name, rows, stride)
        elif name in SCALAR_CHECKS:
            ok, msg = _check_scalar(name, rows, spark, base, derived, QUERIES)
        else:
            ok, msg = _check_consistency(name, rows, spark, derived, QUERIES)
        if not ok:
            n_fail += 1
        print(f"{'PASS' if ok else 'FAIL'} {name}: {len(rows)} rows, {msg}")
    print("ALL PASS" if n_fail == 0 else f"{n_fail} FAILURES")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
