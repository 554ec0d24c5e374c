"""Focused value tests for the iterative graph operators in
operators/graph.py: connected_components[_alternating] and
sssp_bounded, whose unit-weight case is the BFS behind
graph_bfs_hops. Each runs through the one round loop, graph._rounds:

  * edges are symmetrized by an explode of two structs (a self-union
    evaluated the upstream edge pipeline twice on first
    materialization);
  * each round's frame is checkpointed lazily, and the round's
    convergence count is the action that materializes it (one action
    per round);
  * the superseded round is freed only after that action;
  * alternating CC carries the previous round's cardinality as a
    scalar instead of recounting.

The hand-built graphs are chosen for the loop's edge cases: chains
longer than the typical near-dup diameter (many rounds, so the
carried-count/lazy-fold path repeats), isolated self-loop nodes (kept
by the node set, absent from the canonical edge set), multi-component
graphs, and ties. The operator-vs-oracle equality at query level is
covered by tests/test_queries_oracle.py; these are the fast
operator-internal pins.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "id_a long, id_b long"
    )


def _cc_expected(pairs):
    """Reference union-find with min-label components."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    return {n: find(n) for n in parent}


CHAIN = [(i, i + 1) for i in range(10, 17)]  # diameter 7 > near-dup 2-3
GRAPH = CHAIN + [(1, 2), (2, 3), (1, 3), (50, 50), (40, 41), (41, 40)]


def test_connected_components_chain_and_selfloop(spark):
    from etl_building_inspector_spark.operators._cache import release_persisted
    from etl_building_inspector_spark.operators.graph import connected_components

    got = {
        r["node"]: r["component"]
        for r in connected_components(_edges(spark, GRAPH)).collect()
    }
    assert got == _cc_expected(GRAPH)
    release_persisted()


def test_connected_components_alternating_matches(spark):
    from etl_building_inspector_spark.operators._cache import release_persisted
    from etl_building_inspector_spark.operators.graph import (
        connected_components_alternating,
    )

    got = {
        r["node"]: r["component"]
        for r in connected_components_alternating(_edges(spark, GRAPH)).collect()
    }
    assert got == _cc_expected(GRAPH)
    release_persisted()


def test_bfs_hops_chain(spark):
    from etl_building_inspector_spark.operators._cache import release_persisted
    from etl_building_inspector_spark.operators.graph import sssp_bounded

    seeds = spark.createDataFrame([(10,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in sssp_bounded(
            _edges(spark, CHAIN), seeds, weight=F.lit(1), max_hops=3
        ).collect()
    }
    # undirected chain from 10: exactly hops 0..3 survive the bound
    assert got == {10: 0, 11: 1, 12: 2, 13: 3}
    release_persisted()


def test_sssp_bounded_two_hop_beats_one(spark):
    from etl_building_inspector_spark.operators._cache import release_persisted
    from etl_building_inspector_spark.operators.graph import sssp_bounded

    # direct edge 1->3 costs 10; path 1->2->3 costs 3; both within bound
    e = spark.createDataFrame(
        [(1, 3, 10), (1, 2, 1), (2, 3, 2)], "id_a long, id_b long, w long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in sssp_bounded(e, seeds, max_hops=3).collect()
    }
    assert got == {1: 0, 2: 1, 3: 3}
    release_persisted()


def test_sssp_converges_before_bound(spark):
    """Early-convergence branch: the improved-count hits zero before
    max_hops and returns the settled distances (the lazy-checkpoint
    fold must still have fully materialized the final state)."""
    from etl_building_inspector_spark.operators._cache import release_persisted
    from etl_building_inspector_spark.operators.graph import sssp_bounded

    e = spark.createDataFrame([(1, 2, 5)], "id_a long, id_b long, w long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in sssp_bounded(e, seeds, max_hops=5).collect()
    }
    assert got == {1: 0, 2: 5}
    release_persisted()
