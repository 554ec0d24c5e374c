"""Graph algorithms over undirected edge lists: triangle counts, and
the iterative family -- connected components (min-label and
alternating star), incremental CC merge, PageRank and hop-bounded
shortest paths (a BFS is the unit-weight case).

Every iterative algorithm runs through ONE round loop, `_rounds`:

  * each round's frame is localCheckpointed, so plan size stays O(1)
    in rounds instead of growing with the lineage;
  * the round's single full-scan action (a convergence count, or the
    eager checkpoint's own count when the round count is fixed)
    materializes it -- one action per round, no separate checkpoint
    job;
  * only after that action is the superseded round freed: the
    checkpoint handle itself, never a view derived from it (a view
    has no blocks of its own to free). A run holds at most two rounds
    of blocks and returns with exactly one live; release_persisted()
    frees that one after the caller materializes the result
    (operators/_cache contract).

All shuffles key on node id; every relaxation is an equi-join plus an
algebraic min/sum aggregate, and integer arithmetic keeps results
exact and engine-portable (each query has a DuckDB twin).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._cache import (
    free_local_checkpoint,
    track_local_checkpoint,
    track_local_checkpoint_lazy,
    track_persist,
)

# Round cap of both connected-components algorithms; near-dup pair
# graphs converge in a few rounds (see connected_components).
_CC_MAX_ROUNDS = 25


def _symmetric(
    edges: DataFrame, src: Column, dst: Column, *payload: Column
) -> DataFrame:
    """Both directions of every edge as (s, d, *payload), in ONE pass
    over `edges`: an explode of a two-struct array, not a self-union.
    The union form evaluated the upstream edge pipeline twice when the
    result first materialized -- for the near-dup graphs that upstream
    is the minhash pair build, the dominant cost of the query. Same
    multiset of rows; every consumer is order-insensitive (distinct,
    equi-joins, min-aggregates). Payload columns must be aliased."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(src.alias("s"), dst.alias("d"), *payload),
                F.struct(dst.alias("s"), src.alias("d"), *payload),
            )
        ).alias("__e")
    ).select("__e.*")


def _rounds(
    start: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    converged: Callable[[DataFrame, DataFrame], bool] | None = None,
) -> DataFrame:
    """The round loop of every iterative algorithm here: checkpoint
    `start` eagerly, then run up to `max_rounds` rounds of
    `state = step(state)` and return the last state (a checkpoint).

    With `converged`, each round's frame is checkpointed lazily and
    `converged(new, old)` is the round's action: it must begin with a
    full scan of `new` (a count over it or a filter of it), which
    materializes every partition, and it stops the loop by returning
    True. Without it the round count is fixed, and the eager
    checkpoint's own count is the round's action. Either way `old` is
    freed only after the action, so no round reads a freed block."""
    state = track_local_checkpoint(start)
    for _ in range(max_rounds):
        if converged is None:
            nxt, done = track_local_checkpoint(step(state)), False
        else:
            nxt = track_local_checkpoint_lazy(step(state))
            done = converged(nxt, state)
        free_local_checkpoint(state)
        state = nxt
        if done:
            break
    return state


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
    e, deg = _canonical_edges(edges, src, dst)
    return _triangles(e, deg).agg(F.count("*").cast("long").alias("n_triangles"))


def _canonical_edges(
    edges: DataFrame, src: str, dst: str
) -> tuple[DataFrame, DataFrame]:
    """The undirected simple graph of `edges` as persisted distinct
    (a, b) rows with a < b (self-loops dropped), and each node's
    degree in it as (n, deg)."""
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
    return e, deg


def _oriented(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Schank-Wagner orientation of the canonical edges `e`: each edge
    as (x, y) pointing from its lower-(degree, id) endpoint to the
    higher one, persisted for the wedge self-join."""
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
    return track_persist(oriented)


def _triangles(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Every triangle of the canonical edges `e` once, as (x, ca, cb):
    its oriented source x and its other two vertices ca < cb. The
    wedges are pairs of out-edges of x; the closing edge (ca, cb) is
    probed in `e`."""
    oriented = _oriented(e, deg)
    e1 = oriented.select("x", "y")
    e2 = oriented.select(F.col("x").alias("x2"), F.col("y").alias("z"))
    wedges = (
        e1.join(e2, F.col("x") == F.col("x2"))
        .filter(F.col("y") < F.col("z"))  # unordered head pair, once
        .select(
            "x",
            F.least("y", "z").alias("ca"),
            F.greatest("y", "z").alias("cb"),
        )
    )
    return wedges.join(
        e, (F.col("ca") == F.col("a")) & (F.col("cb") == F.col("b"))
    ).select("x", "ca", "cb")


def local_triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over an undirected graph: one row
    per vertex with (vertex, degree, n_wedges, n_triangles) -- the
    local clustering coefficient's exact numerator and denominator
    (tri / (deg*(deg-1)/2)), left as integers per the repo's
    rational-output discipline.

    Same Schank-Wagner orientation as triangle_count (out-degree
    bounded by O(sqrt(m)), so the wedge join is O(m^1.5) not
    sum(deg^2)) and the same triangle rows; each found triangle then
    credits all three of its vertices (one explode, one count -- still
    equi-join-only). The degrees are persisted: the orientation and
    the output both read them."""
    e, deg = _canonical_edges(edges, "u", "v")
    deg = track_persist(deg)
    closed = _triangles(e, deg)
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


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Connected components over an undirected pair graph by min-label
    propagation: every node's label converges to the smallest node id
    reachable from it. Returns (node, component).

    This is the dedup-clustering step that turns near-dup PAIRS (from
    MinHash-LSH / Jaccard / embedding-LSH) into groups: keep
    min(component), drop the rest.

    Scale: each round is one shuffle join (symmetrized edges against
    current labels) plus an algebraic min-aggregate — the classic
    iterative-CC shape (Hash-to-Min, Vassilvitskii et al.); rounds
    needed = graph diameter, and near-dup graphs are shallow (clusters
    are cliques-ish, diameter 2-3). Convergence is a count of changed
    labels -- a scalar aggregate per round, the one legitimate
    driver-side action in an iterative algorithm.
    """
    sym = track_persist(_symmetric(edges, F.col(src), F.col(dst)))
    # NOTE (r10 optimization round, measured and REVERTED): hinting the
    # node-sized sides broadcast per round (the checkpointed labels
    # carry no stats, so the planner can't choose it) A/B'd 0.82-0.97x
    # -- the per-round broadcast build + the node-count job cost more
    # than the AQE-coalesced tiny shuffles they replaced. The shuffle
    # plan stays.

    def step(cur: DataFrame) -> DataFrame:
        labels = cur.select("node", "comp")
        neigh_min = (
            sym.join(labels, sym["d"] == labels["node"])
            .groupBy("s")
            .agg(F.min("comp").alias("nmin"))
        )
        return labels.join(neigh_min, labels["node"] == neigh_min["s"], "left").select(
            "node",
            F.col("comp").alias("old"),
            F.least(F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))).alias(
                "comp"
            ),
        )

    labels = _rounds(
        sym.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node")),
        step,
        _CC_MAX_ROUNDS,
        lambda new, _: new.filter(F.col("comp") != F.col("old")).count() == 0,
    )
    return labels.select("node", F.col("comp").alias("component"))


def connected_components_alternating(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14). Same (node, component=min reachable id) contract as
    connected_components(); different scale profile.

    Why a second algorithm: min-label propagation needs rounds ~ graph
    DIAMETER and re-shuffles the FULL edge set every round — fine for
    shallow near-dup cliques, wrong for long chains (transitive dup
    paths) or high-degree hubs. Large-star/small-star converges in
    O(log n) rounds regardless of diameter, and each round REWRITES
    the edge set toward stars, so the shuffled volume shrinks as it
    converges instead of staying constant.

    Per round, two pure groupBy+join passes over the current edges:
      large-star: every neighbor v > u links to min(N(u) ∪ {u})
      small-star: every neighbor v ≤ u links to min(N⁻(u) ∪ {u})
    Both are map-side-combinable min-aggregates keyed by node — no
    driver-side state beyond the scalar convergence count.
    """
    # checkpoint the edge input ONCE: the node set and the canonical
    # edge set below otherwise each re-evaluate the whole upstream
    # pair pipeline (for the CC consumers, the minhash signature +
    # banded self-join build). Both checkpoints stay tracked until
    # release_persisted(), with the query's other intermediates.
    ein = track_local_checkpoint(
        edges.select(
            F.col(src).cast("long").alias("u"),
            F.col(dst).cast("long").alias("v"),
        )
    )
    nodes = track_local_checkpoint(
        ein.select(F.explode(F.array("u", "v")).alias("node")).distinct()
    )

    def step(cur: DataFrame) -> DataFrame:
        sym = cur.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
            cur.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        # large-star: m(u) = min over N(u) ∪ {u}; attach every LARGER
        # neighbor to it. Keeps hub fan-out bounded: a degree-k node
        # emits k edges total, never k² candidate pairs.
        lmin = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )
        large = (
            sym.join(lmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
        )
        # small-star over the large-star output: m(hi) = min smaller
        # neighbor; re-link every smaller neighbor AND hi itself to m.
        smin = large.groupBy("hi").agg(F.min("lo").alias("m"))
        return (
            large.join(smin, "hi")
            .select(F.col("lo").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .unionByName(smin.select(F.col("hi").alias("a"), F.col("m").alias("b")))
            .select(F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo"))
            .distinct()
        )

    sizes: list[int] = []  # each round's edge count, carried: no recounts

    def converged(new: DataFrame, old: DataFrame) -> bool:
        n = new.count()
        if not sizes:
            sizes.append(old.count())
        # the (distinct, canonical) edge sets are equal: same
        # cardinality and nothing new; the exceptAll probe only runs
        # when the cardinalities tie (i.e. near convergence)
        same = n == sizes[-1] and new.exceptAll(old).limit(1).count() == 0
        sizes.append(n)
        return same

    # canonical orientation (hi, lo), self-loops dropped, NOT deduped:
    # round 1's step reads the start only through min-aggregates and
    # joins and ends in a distinct, so it returns the same edge set as
    # from the deduped start, and the start's checkpoint runs no
    # shuffle. A duplicate left in the start makes round 1's count
    # differ from the start's, so round 1 cannot converge early.
    cur = _rounds(
        ein.filter(F.col("u") != F.col("v")).select(
            F.greatest("u", "v").alias("hi"), F.least("u", "v").alias("lo")
        ),
        step,
        _CC_MAX_ROUNDS,
        converged,
    )
    # converged: `cur` is a forest of stars (hi -> component min).
    # Isolated original nodes (self-loop-only inputs) label themselves.
    return nodes.join(cur, nodes["node"] == cur["hi"], "left").select(
        "node", F.coalesce(F.col("lo"), F.col("node")).alias("component")
    )


def merge_components(
    base_assign: DataFrame,
    delta_edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """INCREMENTAL connected components: refresh a standing component
    assignment with a batch of new edges WITHOUT re-running CC over
    the full graph -- the clustering twin of
    dedup.merge_minhash_band_indexes (indexes arrive in batches; so do
    the near-dup edges they imply).

    `base_assign` is a prior connected_components() output
    (node, component) with min-id labels; `delta_edges` is the new
    pair batch (may touch base nodes, brand-new nodes, or bridge two
    existing components -- the r8 over-merge class this operator must
    get exactly right). Exactness argument: map each delta endpoint
    through the base assignment (identity for unseen nodes) and run
    CC on that REDUCED graph, whose nodes are base component labels
    and new node ids. Merged components of the full graph correspond
    1:1 to components of the reduced graph, and because a base label
    is the min id of its base component, the reduced min-label is the
    global min id -- so relabeling base rows through the reduced
    result reproduces connected_components(base ∪ delta) exactly
    (pinned in tests/test_r10b_properties.py, and at the query level
    dedup_cluster_incremental shares dedup_cluster_assign's
    recursive-CTE rebuild oracle: merge == rebuild).

    Scale: the reduced graph has <= |delta| edges over (touched
    components ∪ new nodes) -- a daily refresh costs CC on the DELTA,
    not the corpus. The relabel is one join keyed on component;
    untouched assignments stream through unchanged. The standing
    assignment is the persisted artifact between runs (bucket it by
    `node` and the probe/relabel joins co-locate).
    """
    m = base_assign.select("node", "component")
    e = delta_edges.select(F.col(src).alias("__u"), F.col(dst).alias("__v"))
    mu = m.select(F.col("node").alias("__u"), F.col("component").alias("__cu"))
    mv = m.select(F.col("node").alias("__v"), F.col("component").alias("__cv"))
    reduced = (
        e.join(mu, "__u", "left")
        .join(mv, "__v", "left")
        .select(
            F.coalesce("__cu", F.col("__u")).alias("s"),
            F.coalesce("__cv", F.col("__v")).alias("d"),
        )
        .filter(F.col("s") != F.col("d"))
        .distinct()
    )
    cc2 = connected_components(reduced, "s", "d")
    lab = cc2.select(
        F.col("node").alias("__old"), F.col("component").alias("__new")
    )
    relabeled = (
        base_assign.join(lab, base_assign["component"] == lab["__old"], "left")
        .select(
            "node",
            F.coalesce("__new", F.col("component")).alias("component"),
        )
    )
    # reduced-graph nodes that are NOT base nodes are the genuinely
    # new ones (a base component LABEL is itself a base node, so the
    # anti-join keeps exactly the new ids)
    new_nodes = cc2.join(m.select("node"), "node", "left_anti").select(
        "node", "component"
    )
    return relabeled.unionByName(new_nodes)


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
    n and base are scalar driver values (one count action), not
    per-row state.
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

    def step(ranks: DataFrame) -> DataFrame:
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
        return nodes.join(contrib, "node", "left").select(
            "node",
            (F.lit(base) + F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("r"),
        )

    return _rounds(nodes.withColumn("r", F.lit(r0).cast("long")), step, iterations)


def sssp_bounded(
    edges: DataFrame,
    seeds: DataFrame,
    weight: str | Column = "w",
    max_hops: int = 3,
) -> DataFrame:
    """Single-source (multi-seed) shortest path with integer weights,
    bounded to paths of <= max_hops edges: Bellman-Ford as a frontier
    delta iteration. Returns (node, dist) -- the minimum total weight
    over any qualifying path from any seed; unreachable-within-bound
    nodes are absent. `weight` is a column name or a Column; with
    F.lit(1) this is a BFS and `dist` is the minimum hop count.
    `seeds` must have one column; seed nodes get dist=0 whether or
    not they appear in edges.

    Per round, only nodes IMPROVED last round join the edges (the
    classic delta optimization): relaxation volume is
    O(frontier ∂ edges), not O(all edges), and the frontier shrinks as
    distances settle -- which is what makes k-hop queries
    (contamination blast radius, near-dup neighborhoods) cheap even on
    a huge pair graph. Integer weights keep min() exact and
    engine-portable. The hop bound is both the convergence guarantee
    (negative weights impossible here, but cycles are) and the state
    bound.
    """
    w = F.col(weight) if isinstance(weight, str) else weight
    sym = track_persist(
        _symmetric(
            edges,
            F.col("id_a").cast("long"),
            F.col("id_b").cast("long"),
            w.cast("long").alias("w"),
        )
    )

    def step(cur: DataFrame) -> DataFrame:
        frontier = cur.filter(F.col("improved")).select("node", "dist")
        cand = (
            sym.join(frontier, sym["s"] == frontier["node"])
            .select(F.col("d").alias("node"), (F.col("dist") + F.col("w")).alias("nd"))
            .groupBy("node")
            .agg(F.min("nd").alias("nd"))
        )
        return (
            cur.select("node", "dist")
            .join(cand, "node", "full_outer")
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

    out = _rounds(
        seeds.select(F.col(seeds.columns[0]).cast("long").alias("node"))
        .distinct()
        .select(
            "node",
            F.lit(0).cast("long").alias("dist"),
            F.lit(True).alias("improved"),
        ),
        step,
        max_hops,
        lambda new, _: new.filter(F.col("improved")).count() == 0,
    )
    return out.select("node", "dist")
