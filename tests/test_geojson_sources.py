"""GeoJSON source/export round-trips and multi-ring point-in-polygon."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from etl_building_inspector_spark.operators.spatial import (
    point_in_polygon_with_holes,
)
from etl_building_inspector_spark.sources.geojson import (
    featurecollection_to_jsonl,
    write_geojson_featurecollection,
)


def test_featurecollection_jsonl_roundtrip(tmp_path, spark):
    doc = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {"id": i}} for i in range(5)
        ],
    }
    src = tmp_path / "fc.geojson"
    src.write_text(json.dumps(doc))
    jsonl = tmp_path / "fc.jsonl"
    assert featurecollection_to_jsonl(str(src), str(jsonl)) == 5
    lines = jsonl.read_text().splitlines()
    assert len(lines) == 5 and json.loads(lines[3])["properties"]["id"] == 3

    # export back: JSONL lines -> one valid FeatureCollection
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    out = tmp_path / "export.geojson"
    assert write_geojson_featurecollection(df, str(out)) == 5
    doc2 = json.loads(out.read_text())
    assert doc2["type"] == "FeatureCollection"
    assert sorted(f["properties"]["id"] for f in doc2["features"]) == list(range(5))


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
        src = tmp_path / f"src{fi}.json"
        src.write_text(json.dumps({"type": "FeatureCollection", "features": feats}))
        seq += featurecollection_to_jsonl(
            str(src), str(landing / f"part{fi}.jsonl"), seq_start=seq
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


def test_jsonl_quarantine_splits_corrupt_lines(spark, tmp_path_factory):
    """Malformed JSONL lines land in the quarantine side with their
    raw text; good rows parse cleanly; nothing is silently dropped."""
    from pyspark.sql import types as T

    from etl_building_inspector_spark.sources.geojson import (
        read_jsonl_with_quarantine,
    )

    d = tmp_path_factory.mktemp("quarantine")
    p = d / "data.jsonl"
    lines = [
        '{"id": 1, "name": "ok"}',
        '{"id": 2, "name": "also ok"}',
        '{"id": 3, "name": "trunca',          # truncated JSON
        'not json at all',                     # garbage
        '{"id": "abc", "name": "typedrift"}',  # type mismatch -> quarantine
        '{"name": "no id field"}',             # missing field -> good, NULL id
        '{"id": 4, "name": "fine"}',
    ]
    p.write_text("\n".join(lines) + "\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    good, quarantined = read_jsonl_with_quarantine(spark, str(p), schema)
    g = good.collect()
    q = quarantined.collect()
    assert {r["id"] for r in g} == {1, 2, 4, None}  # missing field -> good
    assert "no id field" in {r["name"] for r in g}
    assert "_corrupt" not in good.columns
    assert len(q) == 3  # two malformed + one type-drifted
    raws = {r["raw_line"] for r in q}
    assert 'not json at all' in raws
    assert any("trunca" in r for r in raws)
    assert any("typedrift" in r for r in raws)  # type mismatch quarantines
    assert all(r["src_file"].endswith("data.jsonl") for r in q)
    assert len(g) + len(q) == len(lines)
