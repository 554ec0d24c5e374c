"""Spatial join: point-in-polygon, partitioned by layer (reference J3,
building-inspector.js:275-325 + geo-indices.js:22-56).

The reference builds a per-layer R-tree of building polygons and probes
each toponym point against its layer's index (bbox prefilter, then
exact test). The Spark-first re-expression:

  * the per-layer index sharding IS an equi-join key -> join on
    layer_id (geo-indices.js:25-36 maps to join-key partitioning);
  * the R-tree bbox prefilter -> a grid-cell equi-join conjunct
    (polygons exploded to covered cells, points to their cell);
  * the exact test -> an even-odd ray-cast implemented as PURE COLUMN
    EXPRESSIONS (filter/size over the rings' edge list) -- JVM-side,
    whole-stage-codegen'd, no Python UDF, and expressible 1:1 in the
    DuckDB oracle.

Polygons are GeoJSON Polygons: array<array<array<double>>>, the outer
ring first, then any holes. A hole-free polygon is a one-ring array.

Three physical strategies for point-in-polygon, same semantics:
  layer_index + index_hits -- each layer's polygons collected into one
    broadcast row; a point is probed against its layer's row in
    place, so the point's own row carries every match (or none).
    Right when one layer's polygons fit in a row (the reference's own
    regime: one in-memory index per layer).
  spatial_join_broadcast -- polygons broadcast, equi-join on layer_id
    only, one output row per match.
  spatial_join_grid -- both sides keyed by (layer_id, cell); shuffle
    hash join on a fine key. The 100 TB path: no broadcast limit, skew
    bounded by cell size; a point lives in exactly one cell so no
    dedup of matches is needed.

Polygon-polygon joins share one filter-refine shape (_grid_pair_join):
both sides explode to the grid cells their bbox covers (grid_cells),
equi-join on (layer_id, cx, cy), dedup the pairs, then run the exact
predicate on the candidates only.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _ring_edges(ring: Column) -> Column:
    """array<struct<ax,ay,bx,by>> of directed edges for a CLOSED ring
    (first vertex repeated last) of [x, y] points."""
    return F.zip_with(
        F.slice(ring, 1, F.size(ring) - 1),
        F.slice(ring, 2, F.size(ring) - 1),
        lambda a, b: F.struct(
            a.getItem(0).alias("ax"),
            a.getItem(1).alias("ay"),
            b.getItem(0).alias("bx"),
            b.getItem(1).alias("by"),
        ),
    )


def point_in_polygon_with_holes(px: Column, py: Column, polygon: Column) -> Column:
    """Even-odd ray cast over ALL rings of a GeoJSON polygon (outer
    ring + holes): count the edges the +x ray from (px, py) crosses;
    odd -> inside. Total crossing parity flips inside a hole, which is
    exactly even-odd semantics. `polygon` is array<array<array<double>>>
    of closed rings (first vertex repeated last).

    All arithmetic is closed-form column math, so Spark and the DuckDB
    twin produce bit-identical booleans. The horizontal-edge division
    is guarded with when() (no short-circuit guarantees inside
    higher-order lambdas under ANSI mode).

    Expression SHAPE matters here: the obvious form --
    transform(polygon, ring -> size(filter(zip_with(...), crosses)))
    then aggregate -- nests a crosses-lambda that captures the OUTER
    px/py inside a transform lambda, a shape Janino rejects
    ('Expression "project_isNull_N" is not an rvalue'), silently
    demoting the reference's hardest operator to interpreted mode on
    its hot path. Instead, flatten every ring's edge list into ONE
    array first (edges are built per ring BEFORE flattening, so no
    spurious cross-ring edges), then run a single-level filter: parity
    of crossings over the concatenated edge list == summed per-ring
    parity. The inner zip_with lambda touches only its own `ring`
    variable; only the single outer filter captures px/py, a two-level
    shape that whole-stage-codegens. See SCALING.md 'Janino-safe HOF
    shapes'."""
    edges = F.flatten(F.transform(polygon, _ring_edges))

    def crosses(e: Column) -> Column:
        straddles = (e.getField("ay") > py) != (e.getField("by") > py)
        x_at_y = e.getField("ax") + (py - e.getField("ay")) * (
            e.getField("bx") - e.getField("ax")
        ) / (e.getField("by") - e.getField("ay"))
        return F.when(straddles, px < x_at_y).otherwise(F.lit(False))

    return F.size(F.filter(edges, crosses)) % 2 == 1


def _bbox(ring: Column) -> tuple[Column, Column, Column, Column]:
    xs = F.transform(ring, lambda v: v.getItem(0))
    ys = F.transform(ring, lambda v: v.getItem(1))
    return F.array_min(xs), F.array_max(xs), F.array_min(ys), F.array_max(ys)


def _outer_ring(polygon: Column) -> Column:
    """The outer ring, whose bbox bounds the whole polygon (holes only
    subtract area). F.get (0-based, NULL out-of-bounds) rather than
    try_element_at: ElementAt's null-check codegen emits a forward
    reference when its child is a wide inline expression that Catalyst
    splits across generated functions -- Janino rejects it ('not an
    rvalue') and the whole projection falls back to interpreted mode.
    GetArrayItem codegen is split-safe. See SCALING.md 'Janino-safe
    HOF shapes'."""
    return F.get(polygon, F.lit(0))


def spatial_join_broadcast(
    points: DataFrame, polygons: DataFrame, how: str = "inner"
) -> DataFrame:
    """Equi-join on `layer_id` + ray-cast predicate of `point` against
    `polygon`, polygon side broadcast.

    One-to-MANY like the reference (every containing polygon matches,
    building-inspector.js:289-296). `how='left'` keeps unmatched points
    with NULL polygon columns (the no-match log path).

    The bbox containment conjuncts come FIRST: they are cheap scalar
    compares that eliminate ~99% of in-layer pairs before the ray-cast
    runs -- the columnar analog of indexed-geo's R-tree-then-exact-test
    (geo-indices.js:34,:48; measured 5x on the bench). The exact test
    is holes-aware even-odd parity over ALL rings (geo-indices.js:38-50
    honors holes: a point in a courtyard hole is OUTSIDE); the bbox
    comes from the outer ring alone.
    """
    px = F.col("point")[0]
    py = F.col("point")[1]
    xmin, xmax, ymin, ymax = _bbox(_outer_ring(polygons["polygon"]))
    polys_staged = (
        polygons.withColumn("__xmin", xmin)
        .withColumn("__xmax", xmax)
        .withColumn("__ymin", ymin)
        .withColumn("__ymax", ymax)
    )
    cond = (
        (points["layer_id"] == polys_staged["layer_id"])
        & (px >= polys_staged["__xmin"])
        & (px <= polys_staged["__xmax"])
        & (py >= polys_staged["__ymin"])
        & (py <= polys_staged["__ymax"])
        & point_in_polygon_with_holes(px, py, polys_staged["polygon"])
    )
    return points.join(F.broadcast(polys_staged), cond, how).drop(
        "__xmin", "__xmax", "__ymin", "__ymax"
    )


def layer_index(polygons: DataFrame, id_col: str) -> DataFrame:
    """(layer_id, index): one row per layer holding every polygon of it
    with its outer-ring bbox -- the per-layer in-memory index the
    reference builds (geo-indices.js:22-36), small enough to broadcast
    and probe in the point's own row with index_hits. A layer too
    large for one row takes spatial_join_grid instead."""
    xmin, xmax, ymin, ymax = _bbox(_outer_ring(F.col("polygon")))
    entry = F.struct(
        F.col(id_col).alias("id"),
        xmin.alias("xmin"),
        xmax.alias("xmax"),
        ymin.alias("ymin"),
        ymax.alias("ymax"),
        F.col("polygon").alias("polygon"),
    )
    return polygons.groupBy("layer_id").agg(F.collect_list(entry).alias("index"))


def index_hits(index: Column, px: Column, py: Column) -> Column:
    """The entries of a layer_index `index` whose polygon contains
    (px, py): bbox containment first, then the holes-aware ray cast,
    as in spatial_join_broadcast (geo-indices.js:34,:48). NULL when
    `index` is NULL; empty when nothing contains the point, including
    a NULL coordinate."""
    return F.filter(
        index,
        lambda p: (px >= p.getField("xmin"))
        & (px <= p.getField("xmax"))
        & (py >= p.getField("ymin"))
        & (py <= p.getField("ymax"))
        & point_in_polygon_with_holes(px, py, p.getField("polygon")),
    )


def adaptive_cell_size(polygons: DataFrame) -> float:
    """Derive the grid cell size from build-side bbox statistics: ONE
    aggregate over the polygons (mean outer-ring bbox width/height),
    cell = the larger mean extent. The average polygon then covers
    ~2x2 cells (bounded fan-out in the explode) while a cell stays
    small enough that the equi-join prefilter keeps its selectivity --
    the columnar analog of the reference R-tree's auto-adaptation
    (geo-indices.js:25-36). The single collected row is a plan-time
    scalar, same class of driver-side constant as KMeans centroids in
    cosine_topk_ivf."""
    xmin, xmax, ymin, ymax = _bbox(_outer_ring(F.col("polygon")))
    row = polygons.agg(
        F.avg(xmax - xmin).alias("dx"), F.avg(ymax - ymin).alias("dy")
    ).collect()[0]
    dims = [d for d in (row["dx"], row["dy"]) if d is not None and d > 0]
    return max(dims) if dims else 1.0


def spatial_join_grid(points: DataFrame, polygons: DataFrame) -> DataFrame:
    """Shuffle-based spatial join keyed by (layer_id, grid cell), with
    the same `point`, `polygon` and `layer_id` columns as
    spatial_join_broadcast.

    Polygons explode to every cell their outer ring's bbox covers (the
    R-tree bbox prefilter, turned into join-key fan-out; holes only
    subtract area, so outer-ring coverage stays sound); each point
    hashes to exactly one cell, so matches are already distinct. The
    refine is the same holes-aware parity as the broadcast join, which
    keeps hole semantics on the 100 TB no-broadcast path. Inner join
    only, because a left join on the exploded cell key would duplicate
    misses per cell. For left-outer semantics, left_anti-join the
    points against the matches on the point's key and union the misses
    back with NULL polygon columns, or, when the polygons fit a
    broadcast, call spatial_join_broadcast(..., how="left").

    The cell size adapts to build-side bbox stats (adaptive_cell_size).
    """
    polygons = polygons.withColumn("__outer_ring", _outer_ring(F.col("polygon")))
    xmin, xmax, ymin, ymax = _bbox(polygons["__outer_ring"])
    cs = F.lit(float(adaptive_cell_size(polygons)))
    cells = F.flatten(
        F.transform(
            F.sequence(
                F.floor(F.col("__xmin") / cs), F.floor(F.col("__xmax") / cs)
            ),
            lambda cx: F.transform(
                F.sequence(
                    F.floor(F.col("__ymin") / cs), F.floor(F.col("__ymax") / cs)
                ),
                lambda cy: F.struct(cx.alias("cx"), cy.alias("cy")),
            ),
        )
    )
    polys_staged = (
        polygons.withColumn("__xmin", xmin)
        .withColumn("__xmax", xmax)
        .withColumn("__ymin", ymin)
        .withColumn("__ymax", ymax)
        .withColumn("__cell", F.explode(cells))
        .drop("__xmin", "__xmax", "__ymin", "__ymax")
    )
    pts_staged = points.withColumn(
        "__pcell",
        F.struct(
            F.floor(points["point"].getItem(0) / cs).alias("cx"),
            F.floor(points["point"].getItem(1) / cs).alias("cy"),
        ),
    )
    joined = pts_staged.join(
        polys_staged,
        (pts_staged["layer_id"] == polys_staged["layer_id"])
        & (pts_staged["__pcell"] == polys_staged["__cell"]),
        "inner",
    )
    refine = point_in_polygon_with_holes(
        pts_staged["point"].getItem(0),
        pts_staged["point"].getItem(1),
        polys_staged["polygon"],
    )
    return joined.filter(refine).drop("__pcell", "__cell", "__outer_ring")


def grid_cells(
    df: DataFrame, x0: Column, x1: Column, y0: Column, y1: Column, cell: int
) -> DataFrame:
    """One row per (row, cx, cy) grid cell the box [x0, x1] x [y0, y1]
    covers: two explodes of floor(coordinate / cell) ranges. The filter
    side of every polygon-pair join -- a shape's fan-out is bounded by
    its extent over `cell`, and two shapes can only meet in a cell they
    both cover."""
    return df.withColumn(
        "cx",
        F.explode(
            F.sequence(
                F.floor(x0 / cell).cast("long"), F.floor(x1 / cell).cast("long")
            )
        ),
    ).withColumn(
        "cy",
        F.explode(
            F.sequence(
                F.floor(y0 / cell).cast("long"), F.floor(y1 / cell).cast("long")
            )
        ),
    )


# ---------------------------------------------------------------------------
# General convex-polygon intersection join (separating-axis theorem).
# The shape-agnostic generalization of the diamond/rect SAT in
# queries_spatial.spatial_polygon_intersect_join: works for ANY pair
# of convex CCW integer rings.
# ---------------------------------------------------------------------------


def _cross_sign(ring: Column, i: Column, v: Column) -> Column:
    """cross((p[i+1]-p[i]), (v-p[i])) for closed ring arrays of [x,y]
    longs. Positive = v strictly LEFT of the directed edge (inside for
    CCW), negative = strictly right (outside). Pure integer
    arithmetic -- exact, engine-portable."""
    ax = F.element_at(F.element_at(ring, i + 1), 1)
    ay = F.element_at(F.element_at(ring, i + 1), 2)
    bx = F.element_at(F.element_at(ring, i + 2), 1)
    by = F.element_at(F.element_at(ring, i + 2), 2)
    return (bx - ax) * (F.element_at(v, 2) - ay) - (by - ay) * (
        F.element_at(v, 1) - ax
    )


def _separates(ring_p: Column, ring_q: Column) -> Column:
    """True iff some edge of convex CCW ring_p has ALL of ring_q's
    vertices strictly on its outside -- a separating axis drawn from
    ring_p's edge normals. Strict: touching does NOT separate, so
    shared boundaries count as intersection (closed semantics, same
    choice as the interval tests)."""
    edge_idx = F.sequence(F.lit(0), F.size(ring_p) - 2)
    return F.exists(
        edge_idx,
        lambda i: F.forall(ring_q, lambda v: _cross_sign(ring_p, i, v) < 0),
    )


def convex_intersects(ring_a: Column, ring_b: Column) -> Column:
    """Exact convex-convex intersection test (SAT over both rings'
    edge normals): intersect iff NEITHER polygon's edges yield a
    separating axis. Valid for convex polygons only (the SAT theorem);
    rings are CLOSED (first vertex repeated last), CCW, integer
    coordinates. Interpreted-HOF cost note: this runs per CANDIDATE
    pair after the grid filter, where the candidate set is a tiny
    fraction of the cross product -- bounded beats unrolled here (an
    unrolled codegen variant is only possible for fixed vertex
    counts, which is what spatial_polygon_intersect_join's
    diamond/rect special case does)."""
    return ~_separates(ring_a, ring_b) & ~_separates(ring_b, ring_a)


def convex_contains(outer: Column, inner: Column) -> Column:
    """Exact convex containment: CCW closed ring `outer` contains ring
    `inner` iff EVERY vertex of inner is inside-or-on every edge of
    outer (cross sign >= 0 for all edge/vertex pairs) -- for a convex
    outer, vertex containment implies full-polygon containment
    (convexity closes the hull over the vertices; inner need not be
    convex, only its vertices matter). Non-strict: boundary contact
    still counts as contained, matching the closed semantics of
    convex_intersects. Pure integer cross products -- exact and
    engine-portable (the DuckDB twin replays the same arithmetic).
    The containment companion of the SAT intersection join."""
    edge_idx = F.sequence(F.lit(0), F.size(outer) - 2)
    return F.forall(
        edge_idx,
        lambda i: F.forall(inner, lambda v: _cross_sign(outer, i, v) >= 0),
    )


def _ring_cells(df: DataFrame, id_col: str, cell: int) -> DataFrame:
    """(id, layer_id, ring, cx, cy): one row per grid cell the bbox of
    the integer ring `ring` covers."""
    xs = F.transform(F.col("ring"), lambda v: F.element_at(v, 1))
    ys = F.transform(F.col("ring"), lambda v: F.element_at(v, 2))
    boxed = (
        df.select(F.col(id_col), "layer_id", "ring")
        .withColumn("__x0", F.array_min(xs))
        .withColumn("__x1", F.array_max(xs))
        .withColumn("__y0", F.array_min(ys))
        .withColumn("__y1", F.array_max(ys))
    )
    cells = grid_cells(
        boxed, F.col("__x0"), F.col("__x1"), F.col("__y0"), F.col("__y1"), cell
    )
    return cells.select(id_col, "layer_id", "ring", "cx", "cy")


def _grid_pair_join(
    a: DataFrame,
    b: DataFrame,
    cell: int,
    a_id: str,
    b_id: str,
    refine: Callable[[Column, Column], Column],
) -> DataFrame:
    """The filter-refine polygon-pair join. Inputs carry (id, layer_id,
    ring) with ring = array<array<long>>, closed. Filter: both sides
    explode to the grid cells their ring's bbox covers, equi-join on
    (layer_id, cx, cy), dedup pairs. Refine: `refine(a's ring, b's
    ring)` on the candidates only. 100 TB shape: bounded per-shape
    cell fan-out, one hash shuffle on the cell key, a map-side refine
    predicate, never an all-pairs nested loop."""
    ac = _ring_cells(a, a_id, cell)
    bc = _ring_cells(b, b_id, cell).withColumnRenamed("ring", "ring_b")
    cand = ac.join(bc, ["layer_id", "cx", "cy"]).dropDuplicates([a_id, b_id])
    return cand.where(refine(F.col("ring"), F.col("ring_b"))).select(a_id, b_id)


def convex_contains_join(
    a: DataFrame,
    b: DataFrame,
    cell: int = 10,
    a_id: str = "a_id",
    b_id: str = "b_id",
) -> DataFrame:
    """Containment join: pairs (a, b) where convex ring `a` fully
    contains ring `b`. A contained polygon always shares cells with its
    container, so the grid filter's candidates (the same as the
    intersection join's) are a superset and convex_contains prunes."""
    return _grid_pair_join(a, b, cell, a_id, b_id, convex_contains)


def convex_sat_join(
    a: DataFrame,
    b: DataFrame,
    cell: int = 10,
    a_id: str = "a_id",
    b_id: str = "b_id",
) -> DataFrame:
    """Convex-polygon intersection join: the grid filter refined by the
    exact SAT test (convex_intersects). Rings are closed and CCW."""
    return _grid_pair_join(a, b, cell, a_id, b_id, convex_intersects)


# ---------------------------------------------------------------------------
# SIMPLE (possibly non-convex) polygon intersection join. The SAT pair
# above covers convex rings only; real building footprints (reference
# J3, geo-indices.js:38-50) are non-convex.
# Exact decomposition for simple closed rings A, B:
#   A ∩ B != empty  <=>  some edge of A intersects some edge of B
#                        OR vertex0(A) inside B  (A wholly within B)
#                        OR vertex0(B) inside A  (B wholly within A)
# All three legs are integer arithmetic (CLRS segment intersection +
# strict even-odd ray cast), so Spark and the DuckDB twin replay the
# same math bit-for-bit. Orientation-agnostic: neither leg assumes
# CCW, unlike the convex SAT/containment predicates.
# ---------------------------------------------------------------------------


def _orient(ox: Column, oy: Column, px: Column, py: Column, qx: Column, qy: Column) -> Column:
    """cross(p - o, q - o): sign = which side of directed line o->p
    the point q lies on. Integer-exact."""
    return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)


def segments_intersect(e1: Column, e2: Column) -> Column:
    """Closed segment-segment intersection (touching counts), the
    CLRS orientation test: proper crossing when the endpoints of each
    segment straddle the other's line; degenerate contact when an
    endpoint is collinear with AND inside the bbox of the other
    segment (covers vertex-on-edge and collinear-overlap). e1/e2 are
    _ring_edges structs. Products of two cross products stay < 2^62
    for coordinates < ~2^15 -- the integer-lattice contract."""
    p1x, p1y = e1.getField("ax"), e1.getField("ay")
    p2x, p2y = e1.getField("bx"), e1.getField("by")
    q1x, q1y = e2.getField("ax"), e2.getField("ay")
    q2x, q2y = e2.getField("bx"), e2.getField("by")
    d1 = _orient(q1x, q1y, q2x, q2y, p1x, p1y)
    d2 = _orient(q1x, q1y, q2x, q2y, p2x, p2y)
    d3 = _orient(p1x, p1y, p2x, p2y, q1x, q1y)
    d4 = _orient(p1x, p1y, p2x, p2y, q2x, q2y)

    def on_seg(ax, ay, bx, by, px, py):
        return (
            (F.least(ax, bx) <= px)
            & (px <= F.greatest(ax, bx))
            & (F.least(ay, by) <= py)
            & (py <= F.greatest(ay, by))
        )

    proper = (d1 * d2 < 0) & (d3 * d4 < 0)
    touch = (
        ((d1 == 0) & on_seg(q1x, q1y, q2x, q2y, p1x, p1y))
        | ((d2 == 0) & on_seg(q1x, q1y, q2x, q2y, p2x, p2y))
        | ((d3 == 0) & on_seg(p1x, p1y, p2x, p2y, q1x, q1y))
        | ((d4 == 0) & on_seg(p1x, p1y, p2x, p2y, q2x, q2y))
    )
    return proper | touch


def point_in_polygon_int(px: Column, py: Column, ring: Column) -> Column:
    """STRICT even-odd ray cast over one integer ring -- the exact twin
    of point_in_polygon_with_holes' crossing test without its double
    division: px < x_at_y is evaluated as
    sign(by - ay) * [(ax-px)(by-ay) + (py-ay)(bx-ax)] > 0, pure int64.
    Boundary points return false (strict); callers needing closed
    semantics get boundary contact from the edge test (a vertex ON the
    other ring's edge is a degenerate segment intersection)."""
    edges = _ring_edges(ring)

    def crossed(e: Column) -> Column:
        ax, ay = e.getField("ax"), e.getField("ay")
        bx, by = e.getField("bx"), e.getField("by")
        straddles = (ay > py) != (by > py)
        num = (ax - px) * (by - ay) + (py - ay) * (bx - ax)
        pos = F.when(by > ay, num > 0).otherwise(num < 0)
        return straddles & pos

    return F.size(F.filter(edges, crossed)) % 2 == 1


def polygons_intersect(ring_a: Column, ring_b: Column) -> Column:
    """Exact intersection test for two SIMPLE closed integer rings,
    convexity not required. Closed semantics: boundary contact counts
    (the touch branch of segments_intersect), matching the convex SAT
    pair's choice so the two joins agree on convex inputs (pinned in
    tests/test_r10_properties.py)."""
    ea, eb = _ring_edges(ring_a), _ring_edges(ring_b)
    edge_hit = F.exists(ea, lambda e1: F.exists(eb, lambda e2: segments_intersect(e1, e2)))
    a0, b0 = F.element_at(ring_a, 1), F.element_at(ring_b, 1)
    a_in_b = point_in_polygon_int(a0.getItem(0), a0.getItem(1), ring_b)
    b_in_a = point_in_polygon_int(b0.getItem(0), b0.getItem(1), ring_a)
    return edge_hit | a_in_b | b_in_a


def simple_polygon_intersect_join(
    a: DataFrame,
    b: DataFrame,
    cell: int = 10,
    a_id: str = "a_id",
    b_id: str = "b_id",
) -> DataFrame:
    """Intersection join for simple (possibly NON-convex) polygons: the
    grid filter refined by polygons_intersect. The refine is
    O(|edges_a| x |edges_b|) per CANDIDATE pair -- candidates are the
    tiny grid-collision fraction of the cross product, where bounded
    HOF evaluation beats any unrolled form."""
    return _grid_pair_join(a, b, cell, a_id, b_id, polygons_intersect)
