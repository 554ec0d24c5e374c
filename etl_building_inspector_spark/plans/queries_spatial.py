"""Spatial join (J3) oracle queries.

The fixtures carry no geometry, so both sides synthesize it with
IDENTICAL integer arithmetic (exact in doubles, engine-portable):

  polygons: one diamond per supplier, layer = s_nationkey % 5,
            center ((s_suppkey % 40)*10, (s_suppkey // 40)*10),
            radius 3 + s_suppkey % 4;
  points:   one per customer, layer = c_nationkey % 5,
            ((c_custkey % 40)*10 + c_custkey % 7 - 3,
             (c_custkey // 40 % 25)*10 + c_custkey % 5 - 2).

The DuckDB oracle implements the same even-odd ray cast over the ring
edges, so J3 gets a full value-hash check -- stronger than the
rows-only fallback SURVEY anticipated.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.spatial import (
    convex_contains_join,
    convex_sat_join,
    grid_cells,
    simple_polygon_intersect_join,
    spatial_join_broadcast,
    spatial_join_grid,
)
from ..sources.tables import load_table
from .registry import query


# --- Spark-side synthesized geometry ---------------------------------------


def _diamond(cx: Column, cy: Column, r: Column) -> Column:
    """Closed CCW diamond ring of radius r around (cx, cy)."""
    return F.array(
        F.array(cx + r, cy),
        F.array(cx, cy + r),
        F.array(cx - r, cy),
        F.array(cx, cy - r),
        F.array(cx + r, cy),
    )


def _synth_polygons(
    spark: SparkSession, sf_dir: str, hole: bool = False
) -> DataFrame:
    """One supplier diamond per row as a GeoJSON Polygon; with `hole`,
    a concentric hole of radius 1 + s_suppkey % 4 as its second ring.
    Every point-in-polygon query builds its polygons here, so queries
    sharing an oracle cannot drift apart."""
    sup = load_table(spark, sf_dir, "supplier")
    cx = (F.col("s_suppkey") % 40).cast("double") * 10
    cy = F.expr("s_suppkey DIV 40").cast("double") * 10
    r = (F.lit(3) + F.col("s_suppkey") % 4).cast("double")
    rings = [_diamond(cx, cy, r)]
    if hole:
        h = (F.lit(1) + F.col("s_suppkey") % 4).cast("double")
        rings.append(_diamond(cx, cy, h))
    return sup.select(
        F.col("s_suppkey").cast("long").alias("poly_id"),
        (F.col("s_nationkey") % 5).cast("long").alias("layer_id"),
        F.array(*rings).alias("polygon"),
    )


def _synth_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    px = (F.col("c_custkey") % 40).cast("double") * 10 + (
        F.col("c_custkey") % 7
    ).cast("double") - 3
    py = (F.expr("c_custkey DIV 40") % 25).cast("double") * 10 + (
        F.col("c_custkey") % 5
    ).cast("double") - 2
    return cust.select(
        F.col("c_custkey").cast("long").alias("point_id"),
        (F.col("c_nationkey") % 5).cast("long").alias("layer_id"),
        F.array(px, py).alias("point"),
    )


# --- DuckDB twins -----------------------------------------------------------

_POLYS_SQL = """
polys AS (
  SELECT CAST(s_suppkey AS BIGINT) AS poly_id,
         CAST(s_nationkey % 5 AS BIGINT) AS layer_id,
         [[cx + r, cy], [cx, cy + r], [cx - r, cy], [cx, cy - r], [cx + r, cy]] AS ring
  FROM (
    SELECT s_suppkey, s_nationkey,
           CAST(s_suppkey % 40 AS DOUBLE) * 10 AS cx,
           CAST(s_suppkey // 40 AS DOUBLE) * 10 AS cy,
           CAST(3 + s_suppkey % 4 AS DOUBLE) AS r
    FROM supplier)
)
"""

_POINTS_SQL = """
points AS (
  SELECT CAST(c_custkey AS BIGINT) AS point_id,
         CAST(c_nationkey % 5 AS BIGINT) AS layer_id,
         CAST(c_custkey % 40 AS DOUBLE) * 10 + CAST(c_custkey % 7 AS DOUBLE) - 3 AS px,
         CAST(c_custkey // 40 % 25 AS DOUBLE) * 10 + CAST(c_custkey % 5 AS DOUBLE) - 2 AS py
  FROM customer
)
"""


def _crossings_sql(ring: str) -> str:
    """Edges of `ring` crossed by the +x ray from (px, py): the even-odd
    ray cast, identical arithmetic to operators/spatial.py."""
    return f"""len(list_filter(
  list_transform(generate_series(1, len({ring}) - 1),
    i -> {{'ax': {ring}[i][1], 'ay': {ring}[i][2], 'bx': {ring}[i+1][1], 'by': {ring}[i+1][2]}}),
  e -> CASE WHEN (e.ay > py) <> (e.by > py)
       THEN px < e.ax + (py - e.ay) * (e.bx - e.ax) / (e.by - e.ay)
       ELSE false END))"""


_PIP_SQL = f"""
({_crossings_sql("ring")} % 2) = 1
"""

_PIP_JOIN_SQL = f"""
WITH {_POLYS_SQL.strip()}, {_POINTS_SQL.strip()}
SELECT p.point_id, g.poly_id
FROM points p JOIN polys g
  ON p.layer_id = g.layer_id
WHERE {_PIP_SQL}
"""


@query("spatial_pip_join", _PIP_JOIN_SQL)
def spatial_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast strategy: polygons broadcast, equi-join on layer +
    codegen'd ray-cast predicate (reference J3 semantics: one-to-many,
    all containing polygons match)."""
    points = _synth_points(spark, sf_dir)
    polys = _synth_polygons(spark, sf_dir)
    out = spatial_join_broadcast(points, polys)
    return out.select("point_id", "poly_id")


@query("spatial_pip_join_grid", _PIP_JOIN_SQL)
def spatial_pip_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid strategy: same semantics, shuffle join on (layer, cell) --
    the 100 TB path (no broadcast limit). Same oracle as the broadcast
    variant by construction. Cell size auto-adapts from polygon bbox
    stats (adaptive_cell_size -- no hand-chosen knob)."""
    points = _synth_points(spark, sf_dir)
    polys = _synth_polygons(spark, sf_dir)
    out = spatial_join_grid(points, polys)
    return out.select("point_id", "poly_id")


@query(
    "spatial_pip_nomatch_log",
    f"""
WITH {_POLYS_SQL.strip()}, {_POINTS_SQL.strip()}
SELECT concat('Can''t find polygon for point ', p.point_id) AS error
FROM points p
LEFT JOIN polys g ON p.layer_id = g.layer_id AND {_PIP_SQL}
WHERE g.poly_id IS NULL
""",
)
def spatial_pip_nomatch_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's no-match side-channel (building-inspector.js:
    297-304): points contained by nothing emit a log record."""
    points = _synth_points(spark, sf_dir)
    polys = _synth_polygons(spark, sf_dir)
    matched = spatial_join_broadcast(points, polys, how="left")
    return matched.filter(F.col("poly_id").isNull()).select(
        F.concat(F.lit("Can't find polygon for point "), F.col("point_id")).alias(
            "error"
        )
    )


# ---------------------------------------------------------------------------
# Nearest-neighbor-within-radius join (grid-bucketed KNN, k=1): for
# each point, the closest polygon CENTER in its layer within radius R.
# Integer coordinates -> exact BIGINT squared distances on both
# engines; the grid + 3x3 neighborhood is lossless for radius <= cell.
# ---------------------------------------------------------------------------

_KNN_RADIUS = 15  # also the grid cell size: 3x3 neighborhood covers R


def _knn_sql() -> str:
    return f"""
WITH centers AS (
  SELECT CAST(s_suppkey AS BIGINT) AS poly_id,
         CAST(s_nationkey % 5 AS BIGINT) AS layer_id,
         CAST((s_suppkey % 40) * 10 AS BIGINT) AS sx,
         CAST((s_suppkey // 40) * 10 AS BIGINT) AS sy
  FROM supplier),
pts AS (
  SELECT CAST(c_custkey AS BIGINT) AS point_id,
         CAST(c_nationkey % 5 AS BIGINT) AS layer_id,
         CAST((c_custkey % 40) * 10 + c_custkey % 7 - 3 AS BIGINT) AS px,
         CAST((c_custkey // 40 % 25) * 10 + c_custkey % 5 - 2 AS BIGINT) AS py
  FROM customer),
d AS (
  SELECT point_id, poly_id,
         (px - sx) * (px - sx) + (py - sy) * (py - sy) AS d2
  FROM pts JOIN centers USING (layer_id)
  WHERE (px - sx) * (px - sx) + (py - sy) * (py - sy) <= {_KNN_RADIUS * _KNN_RADIUS})
SELECT point_id, poly_id, CAST(d2 AS BIGINT) AS d2
FROM d
QUALIFY row_number() OVER (PARTITION BY point_id ORDER BY d2, poly_id) = 1
"""


@query("spatial_knn_join", _knn_sql())
def spatial_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest neighbor within radius R via grid bucketing: centers
    hash to one cell (cell = R), each point probes its 3x3 cell
    neighborhood, exact integer squared-distance filter + argmin.
    Lossless for radius <= cell size (any center within R is within
    Chebyshev distance R, hence in the neighborhood).

    100 TB shape: the candidate join is an EQUI join on (layer, cell)
    with a fixed x9 point-side fanout -- never an all-pairs distance
    join (the DuckDB oracle IS the all-pairs formulation, proving the
    grid rewrite result-invisible). Skew is bounded by points-per-cell;
    the argmin is a window over candidates only. Same shape scales to
    k>1 (rank <= k) and to IVF-style ANN over embeddings
    (operators/similarity.py) -- this is the geometric special case.

    Reference anchor: geo-indices.js:22-56 builds per-layer R-trees
    for containment; the grid cell here plays the R-tree node's role
    with shuffle-friendly semantics (cf. operators/spatial.py grid
    strategy)."""
    sup = load_table(spark, sf_dir, "supplier")
    centers = sup.select(
        F.col("s_suppkey").cast("long").alias("poly_id"),
        (F.col("s_nationkey") % 5).cast("long").alias("layer_id"),
        ((F.col("s_suppkey") % 40) * 10).cast("long").alias("sx"),
        (F.expr("s_suppkey DIV 40") * 10).cast("long").alias("sy"),
    )
    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").cast("long").alias("point_id"),
        (F.col("c_nationkey") % 5).cast("long").alias("layer_id"),
        ((F.col("c_custkey") % 40) * 10 + F.col("c_custkey") % 7 - 3)
        .cast("long")
        .alias("px"),
        ((F.expr("c_custkey DIV 40") % 25) * 10 + F.col("c_custkey") % 5 - 2)
        .cast("long")
        .alias("py"),
    )
    cell = F.lit(_KNN_RADIUS)
    centers_g = centers.withColumn(
        "cellx", F.floor(F.col("sx") / cell).cast("long")
    ).withColumn("celly", F.floor(F.col("sy") / cell).cast("long"))
    neigh = F.explode(
        F.flatten(
            F.transform(
                F.sequence(F.lit(-1), F.lit(1)),
                lambda dx: F.transform(
                    F.sequence(F.lit(-1), F.lit(1)),
                    lambda dy: F.struct(
                        (F.floor(F.col("px") / cell) + dx)
                        .cast("long")
                        .alias("cellx"),
                        (F.floor(F.col("py") / cell) + dy)
                        .cast("long")
                        .alias("celly"),
                    ),
                ),
            )
        )
    )
    pts_g = pts.withColumn("nc", neigh).select(
        "point_id",
        "layer_id",
        "px",
        "py",
        F.col("nc.cellx").alias("cellx"),
        F.col("nc.celly").alias("celly"),
    )
    d2 = (F.col("px") - F.col("sx")) * (F.col("px") - F.col("sx")) + (
        F.col("py") - F.col("sy")
    ) * (F.col("py") - F.col("sy"))
    cand = (
        pts_g.join(centers_g, ["layer_id", "cellx", "celly"])
        .withColumn("d2", d2)
        .where(F.col("d2") <= _KNN_RADIUS * _KNN_RADIUS)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("point_id").orderBy("d2", "poly_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("point_id", "poly_id", F.col("d2").cast("long").alias("d2"))
    )


# ---------------------------------------------------------------------------
# Bbox-intersection join (polygon-polygon overlap candidates): both
# sides explode to covered grid cells, equi-join on (layer, cell),
# dedup, exact interval test. Integer coordinates -> exact on both
# engines. The polygon-polygon generalization of the PIP grid
# strategy (operators/spatial.py).
# ---------------------------------------------------------------------------

_BBOX_CELL = 10


def _box_cells_sql(
    side: str, src: str, cols: str, box: tuple[str, str, str, str], cell: int
) -> str:
    """CTEs `{side}1`/`{side}_cells`: every row of `src` (kept columns
    `cols`) unnested to each grid cell its box (x0, x1, y0, y1) covers."""
    x0, x1, y0, y1 = box
    return f"""{side}1 AS (
  SELECT {cols},
         unnest(generate_series({x0} // {cell}, {x1} // {cell})) AS cx
  FROM {src}),
{side}_cells AS (
  SELECT {cols}, cx,
         unnest(generate_series({y0} // {cell}, {y1} // {cell})) AS cy
  FROM {side}1)"""


def _ring_cells_sql(side: str, src: str, id_col: str, ring: str, cell: int) -> str:
    """CTEs `{side}1`/`{side}_cells`: every row of `src` unnested to each
    grid cell the bbox of its integer ring `ring` covers."""

    def span(k: int) -> str:
        return (
            f"generate_series(list_min(list_transform({ring}, v -> v[{k}])) // {cell},\n"
            f"                                "
            f"list_max(list_transform({ring}, v -> v[{k}])) // {cell})"
        )

    cols = f"{id_col}, layer_id, {ring}"
    return f"""{side}1 AS (
  SELECT {cols},
         unnest({span(1)}) AS cx
  FROM {src}),
{side}_cells AS (
  SELECT {cols}, cx,
         unnest({span(2)}) AS cy
  FROM {side}1)"""


def _grid_cand_sql(a_cells: str, b_cells: str, cols: str) -> str:
    """The twins' filter stage: both sides' cell CTEs, then CTE `cand`,
    the (layer, cell) equi-join deduplicated to distinct pairs."""
    return f"""{a_cells},
{b_cells},
cand AS (
  SELECT DISTINCT {cols}
  FROM a_cells a JOIN b_cells b
    ON a.layer_id = b.layer_id AND a.cx = b.cx AND a.cy = b.cy)"""


def _bbox_sql() -> str:
    cand = _grid_cand_sql(
        _box_cells_sql(
            "a", "sup_box", "a_id, layer_id, ax0, ax1, ay0, ay1",
            ("ax0", "ax1", "ay0", "ay1"), _BBOX_CELL,
        ),
        _box_cells_sql(
            "b", "part_box", "b_id, layer_id, bx0, bx1, by0, by1",
            ("bx0", "bx1", "by0", "by1"), _BBOX_CELL,
        ),
        "a_id, b_id, ax0, ax1, ay0, ay1, bx0, bx1, by0, by1",
    )
    return f"""
WITH sup_box AS (
  SELECT CAST(s_suppkey AS BIGINT) AS a_id,
         CAST(s_nationkey % 5 AS BIGINT) AS layer_id,
         CAST((s_suppkey % 40) * 10 - (3 + s_suppkey % 4) AS BIGINT) AS ax0,
         CAST((s_suppkey % 40) * 10 + (3 + s_suppkey % 4) AS BIGINT) AS ax1,
         CAST((s_suppkey // 40) * 10 - (3 + s_suppkey % 4) AS BIGINT) AS ay0,
         CAST((s_suppkey // 40) * 10 + (3 + s_suppkey % 4) AS BIGINT) AS ay1
  FROM supplier),
part_box AS (
  SELECT CAST(p_partkey AS BIGINT) AS b_id,
         CAST(p_partkey % 5 AS BIGINT) AS layer_id,
         CAST((p_partkey % 40) * 10 + 2 - (1 + p_partkey % 3) AS BIGINT) AS bx0,
         CAST((p_partkey % 40) * 10 + 2 + (1 + p_partkey % 3) AS BIGINT) AS bx1,
         CAST((p_partkey // 40 % 25) * 10 + 2 - (1 + p_partkey % 3) AS BIGINT) AS by0,
         CAST((p_partkey // 40 % 25) * 10 + 2 + (1 + p_partkey % 3) AS BIGINT) AS by1
  FROM part),
{cand}
SELECT a_id AS poly_id, b_id AS box_id
FROM cand
WHERE ax0 <= bx1 AND bx0 <= ax1 AND ay0 <= by1 AND by0 <= ay1
"""


@query("spatial_bbox_intersect_join", _bbox_sql())
def spatial_bbox_intersect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon-polygon overlap candidates via shared grid cells: each
    box explodes to the cells it covers, candidates are equi-join hits
    on (layer, cell), then the exact closed-interval bbox test. All
    integer coordinates -- exact on both engines.

    100 TB shape: fanout per box = covered-cell count (bounded by
    box-extent/cell, here <= 4), the join is an EQUI hash join on the
    cell key, and the dedup-before-test bounds duplicate candidates
    from boxes spanning several shared cells. No nested-loop anywhere
    -- this is the polygon-polygon generalization of the PIP grid
    strategy (operators/spatial.py::spatial_join_grid) and the
    standard spatial-join decomposition on a cluster."""
    sup = load_table(spark, sf_dir, "supplier")
    r = F.lit(3) + F.col("s_suppkey") % 4
    acx = (F.col("s_suppkey") % 40) * 10
    acy = F.expr("s_suppkey DIV 40") * 10
    a = sup.select(
        F.col("s_suppkey").cast("long").alias("a_id"),
        (F.col("s_nationkey") % 5).cast("long").alias("layer_id"),
        (acx - r).cast("long").alias("ax0"),
        (acx + r).cast("long").alias("ax1"),
        (acy - r).cast("long").alias("ay0"),
        (acy + r).cast("long").alias("ay1"),
    )
    part = load_table(spark, sf_dir, "part")
    h = F.lit(1) + F.col("p_partkey") % 3
    bcx = (F.col("p_partkey") % 40) * 10 + 2
    bcy = (F.expr("p_partkey DIV 40") % 25) * 10 + 2
    b = part.select(
        F.col("p_partkey").cast("long").alias("b_id"),
        (F.col("p_partkey") % 5).cast("long").alias("layer_id"),
        (bcx - h).cast("long").alias("bx0"),
        (bcx + h).cast("long").alias("bx1"),
        (bcy - h).cast("long").alias("by0"),
        (bcy + h).cast("long").alias("by1"),
    )
    ac = grid_cells(
        a, F.col("ax0"), F.col("ax1"), F.col("ay0"), F.col("ay1"), _BBOX_CELL
    )
    bc = grid_cells(
        b, F.col("bx0"), F.col("bx1"), F.col("by0"), F.col("by1"), _BBOX_CELL
    )
    cand = ac.join(bc, ["layer_id", "cx", "cy"]).dropDuplicates(["a_id", "b_id"])
    hit = cand.where(
        (F.col("ax0") <= F.col("bx1"))
        & (F.col("bx0") <= F.col("ax1"))
        & (F.col("ay0") <= F.col("by1"))
        & (F.col("by0") <= F.col("ay1"))
    )
    return hit.select(
        F.col("a_id").alias("poly_id"), F.col("b_id").alias("box_id")
    )


# ---------------------------------------------------------------------------
# Exact polygon-polygon intersection join: the J3-grid
# generalization's final step. Candidates from shared grid cells (the
# bbox stage above), then the exact separating-axis test. A-side =
# supplier DIAMONDS (convex quads, edge normals (1,1) and (1,-1));
# B-side = part RECTANGLES (normals (1,0),(0,1)) -- so SAT needs
# exactly 4 axes: x, y, x+y, x-y. Closed intervals (touching counts as
# intersecting); all-integer projections -> exact on both engines.
# Reference anchor: geo-indices.js:38-50 (R-tree candidate stage, then
# exact geometry test).
# ---------------------------------------------------------------------------


def _poly_intersect_sql() -> str:
    cand = _grid_cand_sql(
        _box_cells_sql(
            "a", "dia", "poly_id, layer_id, acx, acy, r",
            ("(acx - r)", "(acx + r)", "(acy - r)", "(acy + r)"), _BBOX_CELL,
        ),
        _box_cells_sql(
            "b", "rect", "box_id, layer_id, bx0, bx1, by0, by1",
            ("bx0", "bx1", "by0", "by1"), _BBOX_CELL,
        ),
        "poly_id, box_id, acx, acy, r, bx0, bx1, by0, by1",
    )
    return f"""
WITH dia AS (
  SELECT CAST(s_suppkey AS BIGINT) AS poly_id,
         CAST(s_nationkey % 5 AS BIGINT) AS layer_id,
         CAST((s_suppkey % 40) * 10 AS BIGINT) AS acx,
         CAST((s_suppkey // 40) * 10 AS BIGINT) AS acy,
         CAST(3 + s_suppkey % 4 AS BIGINT) AS r
  FROM supplier),
rect AS (
  SELECT CAST(p_partkey AS BIGINT) AS box_id,
         CAST(p_partkey % 5 AS BIGINT) AS layer_id,
         CAST((p_partkey % 40) * 10 + 2 - (1 + p_partkey % 3) AS BIGINT) AS bx0,
         CAST((p_partkey % 40) * 10 + 2 + (1 + p_partkey % 3) AS BIGINT) AS bx1,
         CAST((p_partkey // 40 % 25) * 10 + 2 - (1 + p_partkey % 3) AS BIGINT) AS by0,
         CAST((p_partkey // 40 % 25) * 10 + 2 + (1 + p_partkey % 3) AS BIGINT) AS by1
  FROM part),
{cand}
SELECT poly_id, box_id
FROM cand
WHERE bx0 <= acx + r AND acx - r <= bx1
  AND by0 <= acy + r AND acy - r <= by1
  AND bx0 + by0 <= acx + acy + r AND acx + acy - r <= bx1 + by1
  AND bx0 - by1 <= acx - acy + r AND acx - acy - r <= bx1 - by0
"""


@query("spatial_polygon_intersect_join", _poly_intersect_sql())
def spatial_polygon_intersect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT polygon-polygon intersection pairs: grid-cell candidate
    stage (identical to spatial_bbox_intersect_join), then the
    separating-axis theorem test instead of stopping at the bbox
    overlap. Supplier diamonds vs part rectangles; SAT over the union
    of both shapes' edge normals -- x, y for the rectangle, the
    diagonals x+y / x-y for the diamond. A pair intersects iff ALL
    four projection-interval pairs overlap (closed: touching counts).
    Every projection is integer arithmetic, so both engines agree
    bit-for-bit. Strictly stronger than the bbox test: a rectangle in
    the diamond's bbox CORNER passes x/y but fails a diagonal axis.

    100 TB shape: same as the bbox join -- bounded cell fanout, one
    equi hash join on (layer, cell), dedup, then the SAT predicate is
    pure whole-stage-codegen column arithmetic (no UDF, no nested
    loop). This is the standard filter-refine spatial decomposition
    (grid index = filter, SAT = refine); reference anchor
    geo-indices.js:38-50 does the same with an R-tree then an exact
    test."""
    sup = load_table(spark, sf_dir, "supplier")
    r = (F.lit(3) + F.col("s_suppkey") % 4).cast("long")
    acx = ((F.col("s_suppkey") % 40) * 10).cast("long")
    acy = (F.expr("s_suppkey DIV 40") * 10).cast("long")
    a = sup.select(
        F.col("s_suppkey").cast("long").alias("poly_id"),
        (F.col("s_nationkey") % 5).cast("long").alias("layer_id"),
        acx.alias("acx"),
        acy.alias("acy"),
        r.alias("r"),
    )
    part = load_table(spark, sf_dir, "part")
    h = F.lit(1) + F.col("p_partkey") % 3
    bcx = (F.col("p_partkey") % 40) * 10 + 2
    bcy = (F.expr("p_partkey DIV 40") % 25) * 10 + 2
    b = part.select(
        F.col("p_partkey").cast("long").alias("box_id"),
        (F.col("p_partkey") % 5).cast("long").alias("layer_id"),
        (bcx - h).cast("long").alias("bx0"),
        (bcx + h).cast("long").alias("bx1"),
        (bcy - h).cast("long").alias("by0"),
        (bcy + h).cast("long").alias("by1"),
    )
    ax, ay, rr = F.col("acx"), F.col("acy"), F.col("r")
    bx0, bx1 = F.col("bx0"), F.col("bx1")
    by0, by1 = F.col("by0"), F.col("by1")
    ac = grid_cells(a, ax - rr, ax + rr, ay - rr, ay + rr, _BBOX_CELL)
    bc = grid_cells(b, bx0, bx1, by0, by1, _BBOX_CELL)
    cand = ac.join(bc, ["layer_id", "cx", "cy"]).dropDuplicates(["poly_id", "box_id"])
    sat = (
        (bx0 <= ax + rr)
        & (ax - rr <= bx1)
        & (by0 <= ay + rr)
        & (ay - rr <= by1)
        & (bx0 + by0 <= ax + ay + rr)
        & (ax + ay - rr <= bx1 + by1)
        & (bx0 - by1 <= ax - ay + rr)
        & (ax - ay - rr <= bx1 - by0)
    )
    return cand.where(sat).select("poly_id", "box_id")


# ---------------------------------------------------------------------------
# GENERAL convex SAT join (operators/spatial.py::convex_sat_join):
# shape-agnostic, arbitrary convex CCW integer rings. Driven here
# with diamonds vs TRIANGLES -- edges at non-axis-aligned angles, so
# the test exercises axes the specialized diamond/rect query never
# produces. Same filter-refine shape; the refine is an interpreted
# HOF over candidate pairs only.
# ---------------------------------------------------------------------------


_DIA_TRI_SQL = """dia AS (
  SELECT CAST(s_suppkey AS BIGINT) AS poly_id,
         CAST(s_nationkey % 5 AS BIGINT) AS layer_id,
         [[cx + r, cy], [cx, cy + r], [cx - r, cy], [cx, cy - r], [cx + r, cy]] AS ra
  FROM (SELECT s_suppkey, s_nationkey,
               CAST((s_suppkey % 40) * 10 AS BIGINT) AS cx,
               CAST((s_suppkey // 40) * 10 AS BIGINT) AS cy,
               CAST(3 + s_suppkey % 4 AS BIGINT) AS r
        FROM supplier)),
tri AS (
  SELECT CAST(p_partkey AS BIGINT) AS tri_id,
         CAST(p_partkey % 5 AS BIGINT) AS layer_id,
         [[cx + h, cy], [cx - h, cy + h], [cx - h, cy - h], [cx + h, cy]] AS rb
  FROM (SELECT p_partkey,
               CAST((p_partkey % 40) * 10 + 2 AS BIGINT) AS cx,
               CAST((p_partkey // 40 % 25) * 10 + 2 AS BIGINT) AS cy,
               CAST(1 + p_partkey % 3 AS BIGINT) AS h
        FROM part))"""


def _convex_pair_sql(cell: int, predicate: str) -> str:
    """Diamond (ra) x triangle (rb) pairs passing `predicate` among the
    grid-cell candidates: the twin of both convex joins."""
    cand = _grid_cand_sql(
        _ring_cells_sql("a", "dia", "poly_id", "ra", cell),
        _ring_cells_sql("b", "tri", "tri_id", "rb", cell),
        "poly_id, tri_id, ra, rb",
    )
    return f"""
WITH {_DIA_TRI_SQL},
{cand}
SELECT poly_id, tri_id
FROM cand
WHERE {predicate}
"""


def _convex_sat_sql() -> str:
    # cross((p[i+1]-p[i]), (v-p[i])) < 0  == v strictly outside edge i
    def sep(p: str, q: str) -> str:
        return (
            f"len(list_filter(generate_series(1, len({p}) - 1), i -> "
            f"len(list_filter({q}, v -> "
            f"({p}[i+1][1] - {p}[i][1]) * (v[2] - {p}[i][2]) - "
            f"({p}[i+1][2] - {p}[i][2]) * (v[1] - {p}[i][1]) < 0)) = len({q}))) > 0"
        )

    return _convex_pair_sql(
        _BBOX_CELL, f"NOT ({sep('ra', 'rb')}) AND NOT ({sep('rb', 'ra')})"
    )


def _diamonds_and_triangles(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Supplier diamonds (poly_id) and part triangles (tri_id) as closed
    CCW integer rings: the fixture both convex joins share."""
    sup = load_table(spark, sf_dir, "supplier")
    r = (F.lit(3) + F.col("s_suppkey") % 4).cast("long")
    cx = ((F.col("s_suppkey") % 40) * 10).cast("long")
    cy = (F.expr("s_suppkey DIV 40") * 10).cast("long")
    dia = sup.select(
        F.col("s_suppkey").cast("long").alias("poly_id"),
        (F.col("s_nationkey") % 5).cast("long").alias("layer_id"),
        _diamond(cx, cy, r).alias("ring"),
    )
    part = load_table(spark, sf_dir, "part")
    h = (F.lit(1) + F.col("p_partkey") % 3).cast("long")
    bx = ((F.col("p_partkey") % 40) * 10 + 2).cast("long")
    by = ((F.expr("p_partkey DIV 40") % 25) * 10 + 2).cast("long")
    tri = part.select(
        F.col("p_partkey").cast("long").alias("tri_id"),
        (F.col("p_partkey") % 5).cast("long").alias("layer_id"),
        F.array(
            F.array(bx + h, by),
            F.array(bx - h, by + h),
            F.array(bx - h, by - h),
            F.array(bx + h, by),
        ).alias("ring"),
    )
    return dia, tri


@query("spatial_convex_sat_join", _convex_sat_sql())
def spatial_convex_sat_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shape-AGNOSTIC exact convex intersection join: supplier
    diamonds vs part triangles through
    operators/spatial.py::convex_sat_join -- grid-cell filter, then
    the full separating-axis test over BOTH rings' edge normals (the
    triangle contributes non-axis-aligned axes the specialized
    diamond/rect query can't express). Closed CCW integer rings;
    touching counts as intersecting (strict outside test). The DuckDB
    twin evaluates the identical cross-product arithmetic via list
    comprehensions, so the value-hash check is exact."""
    dia, tri = _diamonds_and_triangles(spark, sf_dir)
    return convex_sat_join(
        dia, tri, cell=_BBOX_CELL, a_id="poly_id", b_id="tri_id"
    )


# ---------------------------------------------------------------------------
# PIP with HOLES: full GeoJSON Polygon semantics (outer ring + holes,
# geo-indices.js consumes exactly this shape). Even-odd parity over
# ALL rings -- a point inside a hole has even total crossings and is
# correctly outside. Supplier diamonds get a concentric hole of
# radius r-2; customers inside the ring-shaped region match, those in
# the hole do not.
# ---------------------------------------------------------------------------


def _pip_holes_sql() -> str:
    return f"""
WITH polys AS (
  SELECT CAST(s_suppkey AS BIGINT) AS poly_id,
         CAST(s_nationkey % 5 AS BIGINT) AS layer_id,
         [[cx + r, cy], [cx, cy + r], [cx - r, cy], [cx, cy - r], [cx + r, cy]] AS outer_ring,
         [[cx + h, cy], [cx, cy + h], [cx - h, cy], [cx, cy - h], [cx + h, cy]] AS hole_ring
  FROM (
    SELECT s_suppkey, s_nationkey,
           CAST(s_suppkey % 40 AS DOUBLE) * 10 AS cx,
           CAST(s_suppkey // 40 AS DOUBLE) * 10 AS cy,
           CAST(3 + s_suppkey % 4 AS DOUBLE) AS r,
           CAST(1 + s_suppkey % 4 AS DOUBLE) AS h
    FROM supplier)
),
{_POINTS_SQL.strip()}
SELECT p.point_id, g.poly_id
FROM points p JOIN polys g ON p.layer_id = g.layer_id
WHERE (({_crossings_sql("g.outer_ring")}) + ({_crossings_sql("g.hole_ring")})) % 2 = 1
"""


@query("spatial_pip_holes_join", _pip_holes_sql())
def spatial_pip_holes_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon with HOLES (full GeoJSON Polygon semantics,
    the shape geo-indices.js actually indexes): even-odd crossings
    summed over the outer ring AND the hole ring, so hole-interior
    points correctly fail. Broadcast strategy through
    operators/spatial.py::spatial_join_broadcast: the operator stages
    the OUTER ring's bbox on the broadcast side and puts the four
    scalar conjuncts BEFORE the multi-ring even-odd HOF. Without that
    prefilter, layer-only blocking leaves ~3M candidate pairs at sf0.1
    (20.9 s warm, against ~1 s with it). bbox containment is implied
    by point-in-polygon, so the DuckDB oracle is unchanged. Reference
    anchor: geo-indices.js:34,:48 -- bbox-prefilter-then-exact-test is
    the reference's own design."""
    polys = _synth_polygons(spark, sf_dir, hole=True)
    points = _synth_points(spark, sf_dir)
    out = spatial_join_broadcast(points, polys)
    return out.select("point_id", "poly_id")


@query("spatial_pip_holes_join_grid", _pip_holes_sql())
def spatial_pip_holes_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid strategy for the HOLES polygon join: same semantics and
    oracle as spatial_pip_holes_join, but no broadcast -- both sides
    shuffle on (layer_id, cell), cells derived from the OUTER ring's
    bbox (holes only subtract area, so outer coverage stays sound),
    refine = holes-aware even-odd parity. This is the 100 TB path for
    full GeoJSON Polygon semantics: no broadcast limit, skew bounded
    by cell size, a point lives in exactly one cell so matches are
    already distinct."""
    polys = _synth_polygons(spark, sf_dir, hole=True)
    points = _synth_points(spark, sf_dir)
    out = spatial_join_grid(points, polys)
    return out.select("point_id", "poly_id")


# ---------------------------------------------------------------------------
# Geohash-style cell density: quantize the synthesized points to a
# 16x16-unit grid, interleave the 5-bit cell coordinates into a
# Z-order cell id (the geohash construction), base32-encode it, and
# aggregate density + centroid per cell. Everything is integer
# arithmetic (the synth points are integer-valued), so the oracle is
# exact including the centroid (one final division of exact sums).
# ---------------------------------------------------------------------------

_GH_ALPHA = "0123456789bcdefghjkmnpqrstuvwxyz"  # geohash base32
_GH_CELL = 16
_GH_BITS = 5


def _gh_interleave(div: str) -> str:
    terms = []
    for b in range(_GH_BITS):
        terms.append(f"((ix {div} {2 ** b}) % 2) * {2 ** (2 * b + 1)}")
        terms.append(f"((iy {div} {2 ** b}) % 2) * {2 ** (2 * b)}")
    return "(" + " + ".join(terms) + ")"


def _gh_sql() -> str:
    return f"""
WITH {_POINTS_SQL.strip()},
q AS (SELECT CAST(px AS BIGINT) AS x, CAST(py AS BIGINT) AS y FROM points),
g AS (SELECT (x + {_GH_CELL}) // {_GH_CELL} AS ix,
             (y + {_GH_CELL}) // {_GH_CELL} AS iy, x, y FROM q),
c AS (SELECT {_gh_interleave('//')} AS cell, x, y FROM g)
SELECT CAST(cell AS BIGINT) AS cell,
       substr('{_GH_ALPHA}', CAST(cell // 32 AS INTEGER) + 1, 1)
         || substr('{_GH_ALPHA}', CAST(cell % 32 AS INTEGER) + 1, 1) AS gh,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(x) AS BIGINT) AS sum_x,
       CAST(sum(y) AS BIGINT) AS sum_y,
       CAST(sum(x) AS DOUBLE) / count(*) AS avg_x,
       CAST(sum(y) AS DOUBLE) / count(*) AS avg_y
FROM c GROUP BY cell ORDER BY cell
"""


@query("spatial_geohash_density", _gh_sql())
def spatial_geohash_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial density heatmap: Z-order bit-interleaved cell ids
    (the geohash construction) + base32 labels, density and exact
    centroid per cell. 100 TB shape: pure map-side arithmetic into
    one map-side-combined groupBy on a bounded key space -- the cell
    id doubles as a layout/bucketing key (same interleave as the
    zorder rewrite executor), so the density map co-locates with
    z-ordered data for free."""
    pts = _synth_points(spark, sf_dir)
    x = F.try_element_at("point", F.lit(1)).cast("long")
    y = F.try_element_at("point", F.lit(2)).cast("long")
    g = pts.select(
        x.alias("x"),
        y.alias("y"),
    ).select(
        F.expr(f"(x + {_GH_CELL}) DIV {_GH_CELL}").alias("ix"),
        F.expr(f"(y + {_GH_CELL}) DIV {_GH_CELL}").alias("iy"),
        "x",
        "y",
    )
    c = g.select(F.expr(_gh_interleave("DIV")).alias("cell"), "x", "y")
    return (
        c.groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x").cast("long").alias("sum_x"),
            F.sum("y").cast("long").alias("sum_y"),
        )
        .select(
            F.col("cell").cast("long").alias("cell"),
            F.expr(
                f"concat(substring('{_GH_ALPHA}', CAST(cell DIV 32 AS INT) + 1, 1), "
                f"substring('{_GH_ALPHA}', CAST(cell % 32 AS INT) + 1, 1))"
            ).alias("gh"),
            "n",
            "sum_x",
            "sum_y",
            (F.col("sum_x").cast("double") / F.col("n")).alias("avg_x"),
            (F.col("sum_y").cast("double") / F.col("n")).alias("avg_y"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# DBSCAN core-point detection: n_neighbors within eps via the grid
# equi-join (cell size = eps, 3x3 neighborhood explode on the probe
# side), exact integer distance refine. The oracle is the O(n^2)
# definition; the Spark plan is the scalable blocked form -- identical
# results, which is exactly what the grid join must guarantee.
# ---------------------------------------------------------------------------

_DBSCAN_EPS = 5
_DBSCAN_MINPTS = 4


def _dbscan_sql() -> str:
    # |N_eps(p)| INCLUDES p itself (dist(p,p)=0), per the Ester et al.
    # definition -- no self-exclusion in the join, so every point has
    # n_in_eps >= 1 and `>= minPts` is the paper's core test verbatim.
    e2 = _DBSCAN_EPS * _DBSCAN_EPS
    return f"""
WITH {_POINTS_SQL.strip()},
p AS (SELECT point_id, CAST(px AS BIGINT) AS x, CAST(py AS BIGINT) AS y FROM points),
nb AS (
  SELECT a.point_id, count(*) AS n_in_eps
  FROM p a JOIN p b
    ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {e2}
  GROUP BY a.point_id)
SELECT point_id,
       CAST(n_in_eps AS BIGINT) AS n_in_eps,
       n_in_eps >= {_DBSCAN_MINPTS} AS is_core
FROM nb
ORDER BY point_id
"""


@query("spatial_dbscan_core", _dbscan_sql())
def spatial_dbscan_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN's density test (Ester et al. 1996): |N_eps(p)| per
    point -- INCLUDING p itself, exactly as the paper defines the
    eps-neighborhood -- flag cores (>= minPts). Spark plan: points land in
    eps-sized grid cells; the probe side explodes each point to its
    3x3 neighbor cells; the join is a plain hash join on the cell key
    (never a distance cross-join), then the exact integer distance
    refines. At 100 TB the candidate fan-in is bounded by local
    density -- the cap-by-construction story shared with the LSH and
    jaccard self-joins. The +16 shift keeps cell ids positive so
    Spark's truncating DIV agrees with DuckDB's floor //."""
    from ..operators._cache import track_persist

    pts = track_persist(
        _synth_points(spark, sf_dir).select(
            "point_id",
            F.try_element_at("point", F.lit(1)).cast("long").alias("x"),
            F.try_element_at("point", F.lit(2)).cast("long").alias("y"),
        )
    )
    cell = lambda c: F.expr(f"({c} + 16) DIV {_DBSCAN_EPS}")  # noqa: E731
    build = pts.select(
        F.col("point_id").alias("b_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        cell("x").alias("cx"),
        cell("y").alias("cy"),
    )
    probe = (
        pts.select(
            "point_id",
            "x",
            "y",
            cell("x").alias("px_cell"),
            cell("y").alias("py_cell"),
        )
        .withColumn("dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select(
            "point_id",
            "x",
            "y",
            (F.col("px_cell") + F.col("dx")).alias("cx"),
            (F.col("py_cell") + F.col("dy")).alias("cy"),
        )
    )
    e2 = _DBSCAN_EPS * _DBSCAN_EPS
    d2 = (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx")) + (
        F.col("y") - F.col("by")
    ) * (F.col("y") - F.col("by"))
    # no self-exclusion: p finds itself via its own (dx=0, dy=0) probe
    # cell at distance 0, so every point appears with n_in_eps >= 1 --
    # no fill-join needed
    return (
        probe.join(build, ["cx", "cy"])
        .where(d2 <= e2)
        .groupBy("point_id")
        .agg(F.count("*").cast("long").alias("n_in_eps"))
        .select(
            "point_id",
            "n_in_eps",
            (F.col("n_in_eps") >= _DBSCAN_MINPTS).alias("is_core"),
        )
        .orderBy("point_id")
    )


# ---------------------------------------------------------------------------
# Convex polygon-polygon CONTAINMENT join: the companion predicate of
# the SAT intersection join.
# Supplier diamonds as the outer rings, part triangles as the inner
# candidates -- the same fixture geometry as spatial_convex_sat_join,
# so containment pairs are a strict subset of its intersections and
# the two oracles cross-check each other.
# ---------------------------------------------------------------------------


def _convex_contains_sql() -> str:
    # every edge i of outer ra has every vertex v of rb inside-or-on:
    # cross((ra[i+1]-ra[i]), (v-ra[i])) >= 0 for all (i, v)
    contains = (
        "len(list_filter(generate_series(1, len(ra) - 1), i -> "
        "len(list_filter(rb, v -> "
        "(ra[i+1][1] - ra[i][1]) * (v[2] - ra[i][2]) - "
        "(ra[i+1][2] - ra[i][2]) * (v[1] - ra[i][1]) >= 0)) = len(rb))) "
        "= len(ra) - 1"
    )
    return _convex_pair_sql(_BBOX_CELL, contains)


@query("spatial_convex_contains_join", _convex_contains_sql())
def spatial_convex_contains_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact convex containment join (diamond contains triangle):
    grid-cell filter identical to spatial_convex_sat_join, refined by
    operators/spatial.py::convex_contains -- all inner vertices
    inside-or-on every outer edge, pure integer cross products, exact
    in both engines. Boundary contact counts as contained (closed
    semantics, same choice as the intersection join). Containment
    pairs are a subset of the SAT join's intersections by definition;
    tests/test_r9_properties.py pins that inclusion plus a brute-force
    geometric recompute."""
    dia, tri = _diamonds_and_triangles(spark, sf_dir)
    return convex_contains_join(
        dia, tri, cell=_BBOX_CELL, a_id="poly_id", b_id="tri_id"
    )


# ---------------------------------------------------------------------------
# SIMPLE (non-convex) polygon intersection join.
# Supplier DARTS (concave quadrilateral, notch at the top) against
# part L-SHAPES (concave hexagon) -- the convex SAT predicate is
# invalid for both shapes, so this exercises the full edge-crossing +
# point-containment decomposition end to end. Same lattice placement
# as the convex queries so the candidate structure is comparable.
# ---------------------------------------------------------------------------


def _seg_sql(e1: str, e2: str) -> str:
    """CLRS closed segment intersection for 4-lists [x1,y1,x2,y2]."""
    p1x, p1y, p2x, p2y = f"{e1}[1]", f"{e1}[2]", f"{e1}[3]", f"{e1}[4]"
    q1x, q1y, q2x, q2y = f"{e2}[1]", f"{e2}[2]", f"{e2}[3]", f"{e2}[4]"

    def orient(ox, oy, px, py, qx, qy):
        return (
            f"(({px})-({ox}))*(({qy})-({oy})) - (({py})-({oy}))*(({qx})-({ox}))"
        )

    def on_seg(ax, ay, bx, by, px, py):
        return (
            f"least({ax},{bx}) <= {px} AND {px} <= greatest({ax},{bx}) "
            f"AND least({ay},{by}) <= {py} AND {py} <= greatest({ay},{by})"
        )

    d1 = orient(q1x, q1y, q2x, q2y, p1x, p1y)
    d2 = orient(q1x, q1y, q2x, q2y, p2x, p2y)
    d3 = orient(p1x, p1y, p2x, p2y, q1x, q1y)
    d4 = orient(p1x, p1y, p2x, p2y, q2x, q2y)
    return (
        f"(({d1})*({d2}) < 0 AND ({d3})*({d4}) < 0)"
        f" OR (({d1}) = 0 AND {on_seg(q1x, q1y, q2x, q2y, p1x, p1y)})"
        f" OR (({d2}) = 0 AND {on_seg(q1x, q1y, q2x, q2y, p2x, p2y)})"
        f" OR (({d3}) = 0 AND {on_seg(p1x, p1y, p2x, p2y, q1x, q1y)})"
        f" OR (({d4}) = 0 AND {on_seg(p1x, p1y, p2x, p2y, q2x, q2y)})"
    )


def _pip_strict_sql(px: str, py: str, ring: str) -> str:
    """Strict even-odd integer ray cast (boundary = outside)."""
    ax, ay = f"{ring}[i][1]", f"{ring}[i][2]"
    bx, by = f"{ring}[i+1][1]", f"{ring}[i+1][2]"
    num = f"(({ax})-({px}))*(({by})-({ay})) + (({py})-({ay}))*(({bx})-({ax}))"
    return (
        f"len(list_filter(generate_series(1, len({ring}) - 1), i -> "
        f"(({ay}) > ({py})) <> (({by}) > ({py})) AND "
        f"(CASE WHEN ({by}) > ({ay}) THEN ({num}) > 0 ELSE ({num}) < 0 END)"
        f")) % 2 = 1"
    )


def _simple_poly_intersect_sql() -> str:
    edges = (
        "list_transform(generate_series(1, len({r}) - 1), "
        "i -> [{r}[i][1], {r}[i][2], {r}[i+1][1], {r}[i+1][2]])"
    )
    edge_hit = (
        f"len(list_filter({edges.format(r='ra')}, e1 -> "
        f"len(list_filter({edges.format(r='rb')}, e2 -> "
        f"{_seg_sql('e1', 'e2')})) > 0)) > 0"
    )
    intersects = (
        f"({edge_hit})"
        f" OR ({_pip_strict_sql('ra[1][1]', 'ra[1][2]', 'rb')})"
        f" OR ({_pip_strict_sql('rb[1][1]', 'rb[1][2]', 'ra')})"
    )
    cand = _grid_cand_sql(
        _ring_cells_sql("a", "dart", "poly_id", "ra", _BBOX_CELL),
        _ring_cells_sql("b", "ell", "shape_id", "rb", _BBOX_CELL),
        "poly_id, shape_id, ra, rb",
    )
    return f"""
WITH dart AS (
  SELECT CAST(s_suppkey AS BIGINT) AS poly_id,
         CAST(s_nationkey % 5 AS BIGINT) AS layer_id,
         [[cx, cy - r], [cx + r, cy + r], [cx, cy + 1], [cx - r, cy + r], [cx, cy - r]] AS ra
  FROM (SELECT s_suppkey, s_nationkey,
               CAST((s_suppkey % 40) * 10 AS BIGINT) AS cx,
               CAST((s_suppkey // 40) * 10 AS BIGINT) AS cy,
               CAST(3 + s_suppkey % 4 AS BIGINT) AS r
        FROM supplier)),
ell AS (
  SELECT CAST(p_partkey AS BIGINT) AS shape_id,
         CAST(p_partkey % 5 AS BIGINT) AS layer_id,
         [[bx, by], [bx + w, by], [bx + w, by + 1], [bx + 1, by + 1],
          [bx + 1, by + w], [bx, by + w], [bx, by]] AS rb
  FROM (SELECT p_partkey,
               CAST((p_partkey % 40) * 10 + 2 AS BIGINT) AS bx,
               CAST((p_partkey // 40 % 25) * 10 + 2 AS BIGINT) AS by,
               CAST(2 + p_partkey % 3 AS BIGINT) AS w
        FROM part)),
{cand}
SELECT poly_id, shape_id
FROM cand
WHERE {intersects}
"""


@query("spatial_simple_poly_intersect_join", _simple_poly_intersect_sql())
def spatial_simple_poly_intersect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact NON-convex intersection join (dart x L-shape): grid-cell
    filter identical to the convex SAT join, refined by
    operators/spatial.py::polygons_intersect -- edge-crossing (CLRS
    orientation test, touching counts) OR first-vertex containment
    either way (strict integer even-odd ray cast). All-integer, so
    the DuckDB twin replays the identical arithmetic. On CONVEX
    inputs the predicate agrees with convex_intersects (pinned in
    tests/test_r10_properties.py along with a no-grid brute-force
    recompute of this query)."""
    sup = load_table(spark, sf_dir, "supplier")
    r = (F.lit(3) + F.col("s_suppkey") % 4).cast("long")
    cx = ((F.col("s_suppkey") % 40) * 10).cast("long")
    cy = (F.expr("s_suppkey DIV 40") * 10).cast("long")
    dart = sup.select(
        F.col("s_suppkey").cast("long").alias("poly_id"),
        (F.col("s_nationkey") % 5).cast("long").alias("layer_id"),
        F.array(
            F.array(cx, cy - r),
            F.array(cx + r, cy + r),
            F.array(cx, cy + F.lit(1).cast("long")),
            F.array(cx - r, cy + r),
            F.array(cx, cy - r),
        ).alias("ring"),
    )
    part = load_table(spark, sf_dir, "part")
    w = (F.lit(2) + F.col("p_partkey") % 3).cast("long")
    bx = ((F.col("p_partkey") % 40) * 10 + 2).cast("long")
    by = ((F.expr("p_partkey DIV 40") % 25) * 10 + 2).cast("long")
    one = F.lit(1).cast("long")
    ell = part.select(
        F.col("p_partkey").cast("long").alias("shape_id"),
        (F.col("p_partkey") % 5).cast("long").alias("layer_id"),
        F.array(
            F.array(bx, by),
            F.array(bx + w, by),
            F.array(bx + w, by + one),
            F.array(bx + one, by + one),
            F.array(bx + one, by + w),
            F.array(bx, by + w),
            F.array(bx, by),
        ).alias("ring"),
    )
    return simple_polygon_intersect_join(
        dart, ell, cell=_BBOX_CELL, a_id="poly_id", b_id="shape_id"
    )
