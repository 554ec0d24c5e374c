"""Bounded graph traversal: BFS hop distance from a seed set.

The frontier/delta-iteration shape — the third iterative-graph pattern
next to min-label CC (diameter rounds, full edge set each round) and
alternating star CC (log rounds, shrinking edges). BFS only ever joins
the CURRENT FRONTIER against the edges: per round the shuffled volume
is O(frontier ∂ edges), not O(all edges), which is what makes k-hop
queries (contamination blast radius, near-dup neighborhoods, related-
document expansion) cheap even on a 100 TB-scale pair graph — the
frontier decays after the first hops in power-law graphs.

Per round: one equi-join (frontier → neighbors) + one left-anti join
(drop already-visited) + a distinct. All shuffles key on node id.
localCheckpoint per round cuts lineage; superseded rounds' blocks are
freed (operators/_cache contract). max_hops bounds state and rounds —
the BFS twin of a watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._cache import (
    free_local_checkpoint,
    track_local_checkpoint,
    track_local_checkpoint_lazy,
    track_persist,
)


def triangle_count(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Global triangle count over an undirected graph, returned as a
    one-row DataFrame (`n_triangles` bigint).

    Scale shape (Schank-Wagner orientation / Suri-Vassilvitskii MR-3):
    orient every undirected edge from its lower-(degree, id) endpoint
    to the higher one. The orientation is acyclic and bounds every
    node's OUT-degree by O(sqrt(m)), so the wedge self-join
    materializes at most O(m^1.5) candidate rows instead of
    sum(deg^2) -- the difference between feasible and not on a
    power-law co-occurrence graph (one hub of degree d contributes
    d^2 wedges unoriented but only O(m) oriented). Each triangle is
    counted exactly once: the acyclic orientation gives it a unique
    source node holding both out-edges. All three joins are equi-joins
    on node ids (shuffle-partitionable, AQE-skew-splittable); the
    closing-edge probe reuses the persisted canonical edge set.
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    e = track_persist(e)
    deg = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    oriented = (
        e.join(deg.select(F.col("n").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("deg").alias("db")), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.col("a"),
            )
            .otherwise(F.col("b"))
            .alias("x"),
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.col("b"),
            )
            .otherwise(F.col("a"))
            .alias("y"),
        )
    )
    oriented = track_persist(oriented)
    e1 = oriented.select(F.col("x"), F.col("y"))
    e2 = oriented.select(F.col("x").alias("x2"), F.col("y").alias("z"))
    wedges = (
        e1.join(e2, F.col("x") == F.col("x2"))
        .filter(F.col("y") < F.col("z"))  # unordered head pair, once
        .select(
            F.least("y", "z").alias("ca"), F.greatest("y", "z").alias("cb")
        )
    )
    closed = wedges.join(
        e, (F.col("ca") == F.col("a")) & (F.col("cb") == F.col("b"))
    )
    return closed.agg(F.count("*").cast("long").alias("n_triangles"))


def local_triangle_counts(
    edges: DataFrame, src: str = "u", dst: str = "v"
) -> DataFrame:
    """Per-vertex triangle counts over an undirected graph: one row
    per vertex with (vertex, degree, n_wedges, n_triangles) -- the
    local clustering coefficient's exact numerator and denominator
    (tri / (deg*(deg-1)/2)), left as integers per the repo's
    rational-output discipline.

    Same Schank-Wagner orientation as triangle_count (out-degree
    bounded by O(sqrt(m)), so the wedge join is O(m^1.5) not
    sum(deg^2)); the only difference is the closing-edge join KEEPS
    the wedge apex so each found triangle can credit all three of its
    vertices (one explode, one count -- still equi-join-only)."""
    e = (
        edges.select(
            F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    e = track_persist(e)
    deg = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    deg = track_persist(deg)
    lower = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        e.join(deg.select(F.col("n").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("deg").alias("db")), "b")
        .select(
            F.when(lower, F.col("a")).otherwise(F.col("b")).alias("x"),
            F.when(lower, F.col("b")).otherwise(F.col("a")).alias("y"),
        )
    )
    oriented = track_persist(oriented)
    e1 = oriented.select("x", "y")
    e2 = oriented.select(F.col("x").alias("x2"), F.col("y").alias("z"))
    wedges = (
        e1.join(e2, F.col("x") == F.col("x2"))
        .filter(F.col("y") < F.col("z"))
        .select(
            "x",
            F.least("y", "z").alias("ca"),
            F.greatest("y", "z").alias("cb"),
        )
    )
    closed = wedges.join(
        e, (F.col("ca") == F.col("a")) & (F.col("cb") == F.col("b"))
    ).select("x", "ca", "cb")
    tri = (
        closed.select(
            F.explode(F.array("x", "ca", "cb")).alias("vertex")
        )
        .groupBy("vertex")
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        deg.select(F.col("n").alias("vertex"), F.col("deg").alias("degree"))
        .join(tri, "vertex", "left")
        .select(
            "vertex",
            F.col("degree").cast("long").alias("degree"),
            F.expr("degree * (degree - 1) DIV 2").alias("n_wedges"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
        )
    )


def pagerank_integer(
    edges: DataFrame,
    src: str = "s",
    dst: str = "d",
    iterations: int = 5,
    scale: int = 10**12,
) -> DataFrame:
    """PageRank with fixed-point INTEGER arithmetic: every rank is a
    bigint in units of 1/scale, every contribution is an integer
    division. Integer addition is associative, so the result is
    bit-identical regardless of partitioning, summation order, or
    engine -- which makes an iterative float-ish algorithm exactly
    oracle-checkable (the DuckDB twin unrolls the same iterations).

    r_0(v)    = scale // n
    r_{t+1}(v)= base + sum_{u->v} (85 * r_t(u)) div (100 * outdeg(u))
    base      = (15 * (scale // n)) // 100

    Dangling nodes (outdeg 0) leak their mass -- documented deviation
    from the stochastic-matrix formulation; fine for relative ranking.

    Scale shape: per iteration one equi-join of ranks onto edges
    (shuffle keyed on src, or map-side if edges are pre-partitioned by
    src and reused across iterations -- the persisted edge set keeps
    its partitioning) plus one partial-aggregated shuffle on dst.
    localCheckpoint per round truncates the 5-deep lineage; superseded
    rounds' blocks are freed. n and base are scalar driver values
    (one count action), not per-row state.
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
        )
        .filter(F.col("s") != F.col("d"))
        .distinct()
    )
    e = track_persist(e)
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .distinct()
    )
    nodes = track_persist(nodes)
    outdeg = e.groupBy("s").agg(F.count("*").alias("od"))
    outdeg = track_persist(outdeg)
    n = nodes.count()
    r0 = scale // n
    base = (15 * r0) // 100
    ranks = track_local_checkpoint(
        nodes.withColumn("r", F.lit(r0).cast("long"))
    )
    for _ in range(iterations):
        contrib = (
            e.join(ranks, e["s"] == ranks["node"])
            .join(outdeg, "s")
            .select(
                F.col("d").alias("node"),
                F.expr("(85 * r) div (100 * od)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        nxt = track_local_checkpoint(
            nodes.join(contrib, "node", "left").select(
                "node",
                (F.lit(base) + F.coalesce(F.col("c"), F.lit(0)))
                .cast("long")
                .alias("r"),
            )
        )
        free_local_checkpoint(ranks)
        ranks = nxt
    return ranks


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_hops: int = 3,
) -> DataFrame:
    """Minimum hop distance (0..max_hops) from any seed node over the
    undirected `edges` graph. Returns (node, hops); nodes further than
    max_hops (or unreachable) are absent. `seeds` must have one
    column; seed nodes get hops=0 whether or not they appear in
    edges."""
    # symmetrize in ONE pass (explode, not self-union): the union form
    # evaluated the upstream edge pipeline twice when `sym` first
    # materializes -- for the near-dup seed graphs that upstream is
    # the minhash pair build, the dominant cost (guide 2.4)
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(src).cast("long").alias("s"),
                    F.col(dst).cast("long").alias("d"),
                ),
                F.struct(
                    F.col(dst).cast("long").alias("s"),
                    F.col(src).cast("long").alias("d"),
                ),
            )
        ).alias("__e")
    ).select(F.col("__e.s").alias("s"), F.col("__e.d").alias("d"))
    sym = track_persist(sym)
    frontier = track_local_checkpoint(
        seeds.select(F.col(seeds.columns[0]).cast("long").alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0).cast("long"))
    )
    visited = frontier
    for h in range(1, max_hops + 1):
        # LAZY checkpoint + the emptiness probe as its materializing
        # action: one job instead of a checkpoint job + a probe job
        # per hop (the count is a full scan by design -- a limit(1)
        # would leave missing partitions; VERDICT r10 #3)
        nxt = track_local_checkpoint_lazy(
            sym.join(frontier, sym["s"] == frontier["node"])
            .select(F.col("d").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(h).cast("long"))
        )
        if nxt.count() == 0:
            free_local_checkpoint(nxt)
            break
        new_visited = track_local_checkpoint(visited.unionByName(nxt))
        # the union is materialized; the per-round pieces are now dead
        free_local_checkpoint(visited)
        if frontier is not visited:
            free_local_checkpoint(frontier)
        free_local_checkpoint(nxt)
        visited = new_visited
        frontier = new_visited.filter(F.col("hops") == h)
    return visited


def sssp_bounded(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    weight: str = "w",
    max_hops: int = 3,
) -> DataFrame:
    """Single-source (multi-seed) shortest path with integer weights,
    bounded to paths of <= max_hops edges: Bellman-Ford as a frontier
    delta iteration. Returns (node, dist) -- the minimum total weight
    over any qualifying path from any seed; unreachable-within-bound
    nodes are absent.

    Per round, only nodes IMPROVED last round join the edges (the
    classic delta optimization): relaxation volume is
    O(frontier ∂ edges), and the frontier shrinks as distances settle.
    All shuffles key on node id; integer weights keep min() exact and
    engine-portable. The hop bound is both the convergence guarantee
    (negative weights impossible here, but cycles are) and the state
    bound -- the SSSP twin of bfs_hops' max_hops.
    """
    # symmetrize in ONE pass (explode, not self-union) -- see bfs_hops
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(src).cast("long").alias("s"),
                    F.col(dst).cast("long").alias("d"),
                    F.col(weight).cast("long").alias("w"),
                ),
                F.struct(
                    F.col(dst).cast("long").alias("s"),
                    F.col(src).cast("long").alias("d"),
                    F.col(weight).cast("long").alias("w"),
                ),
            )
        ).alias("__e")
    ).select(
        F.col("__e.s").alias("s"), F.col("__e.d").alias("d"), F.col("__e.w").alias("w")
    )
    sym = track_persist(sym)
    dist = track_local_checkpoint(
        seeds.select(F.col(seeds.columns[0]).cast("long").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )
    frontier = dist
    # the checkpointed frame behind `dist`: after round 1 `dist` is a
    # select over it, which free_local_checkpoint cannot resolve
    held = dist
    for _ in range(max_hops):
        cand = (
            sym.join(frontier, sym["s"] == frontier["node"])
            .select(F.col("d").alias("node"), (F.col("dist") + F.col("w")).alias("nd"))
            .groupBy("node")
            .agg(F.min("nd").alias("nd"))
        )
        # LAZY checkpoint + the improved-count as its materializing
        # action: one job per round instead of two (the count is a
        # full scan over `merged`, so every partition is cached before
        # the previous round is freed; VERDICT r10 #3)
        merged = track_local_checkpoint_lazy(
            dist.join(cand, "node", "full_outer")
            .select(
                "node",
                F.least(
                    F.coalesce(F.col("dist"), F.lit(2**62)),
                    F.coalesce(F.col("nd"), F.lit(2**62)),
                ).alias("dist"),
                # improved = candidate strictly beats the settled value
                (
                    F.col("nd").isNotNull()
                    & (F.col("nd") < F.coalesce(F.col("dist"), F.lit(2**62)))
                ).alias("improved"),
            )
        )
        n_improved = merged.filter(F.col("improved")).count()
        free_local_checkpoint(held)
        held = merged
        if n_improved == 0:
            return merged.select("node", "dist")
        dist = merged.select("node", "dist")
        frontier = merged.filter(F.col("improved")).select("node", "dist")
    return dist
