"""GeoJSON landing order and multi-ring point-in-polygon."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_building_inspector_spark.operators.spatial import (
    point_in_polygon_with_holes,
)
from etl_building_inspector_spark.sources.landing import download_unpaginated


def test_seq_deterministic_across_multifile_landing(tmp_path, spark):
    """Keep-first dedup must match reference FILE order (building-
    inspector.js:97-100) even when the landing dir holds many JSONL
    files -- Spark's file listing / split planning order is not
    contractual, so `_seq` is an explicit column embedded at landing
    time, chained across files via seq_start (VERDICT r01 item 4)."""
    import random

    from etl_building_inspector_spark.operators.dedup import keep_first
    from etl_building_inspector_spark.sources.geojson import read_consolidated

    landing = tmp_path / "landing"
    landing.mkdir()
    rng = random.Random(7)
    seq = 0
    expected_first: dict[int, str] = {}
    for fi in range(6):
        feats = []
        for li in range(50):
            bid = rng.randrange(40)  # ids repeat across files
            marker = f"m{fi}-{li}"
            feats.append(
                {
                    "type": "Feature",
                    "properties": {"id": bid, "map_id": marker, "sheet_id": 1},
                    "geometry": {"type": "GeometryCollection", "geometries": []},
                }
            )
            expected_first.setdefault(bid, marker)
        doc = {"type": "FeatureCollection", "features": feats}
        seq += download_unpaginated(
            f"src{fi}",
            str(landing / f"part{fi}.jsonl"),
            fetch_json=lambda u: doc,
            seq_start=seq,
        )

    df = read_consolidated(spark, str(landing))
    # _seq comes from the embedded landing column, not read order
    seqs = sorted(r._seq for r in df.select("_seq").collect())
    assert seqs == list(range(300))
    flat = df.select(
        F.col("properties.id").alias("id"),
        F.col("properties.map_id").alias("map_id"),
        "_seq",
    )
    kept = keep_first(flat, keys=["id"], order_by=["_seq"]).collect()
    assert {r.id: r.map_id for r in kept} == expected_first


def test_point_in_polygon_with_holes(spark):
    """Donut polygon: outer 0..10 square with 4..6 hole. Point in the
    hole is OUTSIDE; point in the ring body is INSIDE."""
    outer = [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]]
    hole = [[4.0, 4.0], [6.0, 4.0], [6.0, 6.0], [4.0, 6.0], [4.0, 4.0]]
    cases = [
        (5.0, 5.0, False),  # inside the hole
        (2.0, 2.0, True),  # in the body
        (11.0, 5.0, False),  # outside entirely
        (4.5, 2.0, True),  # below the hole, still in body
    ]
    df = spark.createDataFrame(
        [(x, y, exp) for x, y, exp in cases], "x double, y double, expected boolean"
    ).withColumn("poly", F.lit(None))
    # build polygon literal
    poly = F.array(
        F.array(*[F.array(F.lit(a), F.lit(b)) for a, b in outer]),
        F.array(*[F.array(F.lit(a), F.lit(b)) for a, b in hole]),
    )
    got = df.select(
        "x",
        "y",
        "expected",
        point_in_polygon_with_holes(F.col("x"), F.col("y"), poly).alias("got"),
        point_in_polygon_with_holes(
            F.col("x"), F.col("y"), F.array(poly.getItem(0))
        ).alias("outer_only"),
    ).collect()
    for r in got:
        assert r.got == r.expected, (r.x, r.y)
    # outer-ring-only test treats the hole point as inside (sanity that
    # the hole handling is what changed the answer)
    assert next(r for r in got if r.x == 5.0).outer_only is True


def test_grid_and_broadcast_spatial_join_agree(spark, sf_dir):
    """The two physical strategies must produce the identical match
    set on the synthesized fixture geometry."""
    from etl_building_inspector_spark.plans.queries_spatial import (
        spatial_pip_join,
        spatial_pip_join_grid,
    )

    bc = {(r.point_id, r.poly_id) for r in spatial_pip_join(spark, sf_dir).collect()}
    gr = {
        (r.point_id, r.poly_id)
        for r in spatial_pip_join_grid(spark, sf_dir).collect()
    }
    assert bc == gr and len(bc) > 0
