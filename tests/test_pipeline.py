"""Golden tests for the domain pipeline against reference semantics
(every trap from SURVEY section 7's hard-parts list)."""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re

import pytest

from etl_building_inspector_spark.plans.pipeline import (
    to_ndjson_line,
    transform,
    write_ndjson,
)

from domain_fixtures import make_landing


def _b62(n: int) -> str:
    chars = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    if n == 0:
        return "0"
    out = []
    while n:
        n, r = divmod(n, 62)
        out.append(chars[r])
    return "".join(reversed(out))


def _toponym_id(sheet_id: int, coords: list[float]) -> str:
    joined = ",".join(
        str(int(c)) if float(c).is_integer() else str(c) for c in coords
    )
    h = hashlib.md5(joined.encode()).hexdigest()
    return f"toponym-{sheet_id}-{_b62(int(h, 16))}"


def _transform(spark, paths: dict[str, str]):
    return transform(
        spark,
        paths["consolidated"],
        paths["toponyms"],
        paths["sheets"],
        paths["layer_boroughs"],
    )


@pytest.fixture(scope="module")
def records(spark, tmp_path_factory):
    paths = make_landing(str(tmp_path_factory.mktemp("landing")))
    df = _transform(spark, paths)
    rows = df.collect()
    return {
        "objects": [r for r in rows if r.record_type == "object"],
        "relations": [r for r in rows if r.record_type == "relation"],
        "logs": [r for r in rows if r.record_type == "log"],
        "all": rows,
    }


T_IN_TWO = _toponym_id(10, [2.0, 2.0])
T_IN_ONE = _toponym_id(10, [0.5, 0.5])
T_NOMATCH = _toponym_id(10, [-10.0, -10.0])
T_NO_INDEX = _toponym_id(12, [1.0, 1.0])
T_NO_BOROUGH = _toponym_id(11, [52.0, 52.0])
T_IN_HOLE = _toponym_id(10, [24.0, 24.0])
T_IN_DONUT = _toponym_id(10, [21.0, 21.0])


def test_js_num_rendering(spark):
    """_js_num must agree with JS String(number) across the ranges
    where Java Double.toString diverges (scientific-notation
    thresholds, ADVICE r01): integers stay integral at any magnitude,
    decimals in the shared-shortest-repr range pass through, and the
    un-renderable range fails loudly instead of hashing a wrong id."""
    from pyspark.sql import functions as F

    from etl_building_inspector_spark.plans.pipeline import _js_num

    cases = [
        (40.0, "40"),
        (-73.9876543, "-73.9876543"),
        (0.5, "0.5"),
        (-0.0, "0"),
        (12345678.0, "12345678"),  # Java: 1.2345678E7; JS: 12345678
        (1e15, "1000000000000000"),
        (0.001, "0.001"),
        (None, None),
    ]
    df = spark.createDataFrame([(v,) for v, _ in cases], "x double")
    got = [r.s for r in df.select(_js_num(F.col("x")).alias("s")).collect()]
    assert got == [want for _, want in cases]

    import pytest as _pytest

    bad = spark.createDataFrame([(1e-5,)], "x double")
    with _pytest.raises(Exception, match="JS-compatible"):
        bad.select(_js_num(F.col("x")).alias("s")).collect()


def test_building_objects(records):
    buildings = {
        r.id: r
        for r in records["objects"]
        if r.type == "st:Building" and r.geom_type == "Polygon"
    }
    # id 3 suppressed entirely (degenerate first copy marks the cache,
    # valid later copy never re-admitted), id 1 kept-first, so: 1, 2, 4
    assert set(buildings) == {"1", "2", "4", "6"}
    b1 = buildings["1"]
    assert b1.valid_since == 1857 and b1.valid_until == 1857
    assert b1.data.colors == ["pink", "yellow"]
    assert b1.data.borough == "Manhattan"
    assert b1.data.map_id == 500  # kept-FIRST copy (dup had 999)
    b4 = buildings["4"]
    assert b4.data.borough is None  # layer 101 miss -> row survives


def test_addresses_positional_alignment(records):
    addrs = {r.id: r for r in records["objects"] if r.type == "st:Address"}
    assert set(addrs) == {"1-1", "1-2"}
    assert addrs["1-1"].name == "25" and addrs["1-1"].data.number == "25"
    # i-th address pairs with geometries[i+1]
    assert json.loads(addrs["1-1"].geom_coords_json) == [1.0, 1.0]
    assert json.loads(addrs["1-2"].geom_coords_json) == [2.0, 2.0]
    # address -> building containment relations
    rels = {
        (r.rel_from, r.rel_to)
        for r in records["relations"]
        if r.rel_type == "st:in" and "-" in (r.rel_from or "")
    }
    assert ("1-1", "1") in rels and ("1-2", "1") in rels


def test_mapwarper_relations(records):
    rels = {
        (r.rel_from, r.rel_to)
        for r in records["relations"]
        if r.rel_type == "st:in"
    }
    assert ("1", "mapwarper/500") in rels
    assert ("1", "mapwarper/layer-100") in rels
    # toponym mapId comes from the sheet (sheet 10 -> map 500)
    assert (T_IN_TWO, "mapwarper/500") in rels
    assert (T_IN_TWO, "mapwarper/layer-100") in rels


def test_toponym_objects_and_dedup(records):
    tops = {
        r.id: r
        for r in records["objects"]
        if r.type == "st:Building" and r.geom_type == "Point"
    }
    # t_dup (same coords+sheet as t_in_two) deduped: 5 toponyms -> 4
    assert set(tops) == {
        T_IN_TWO, T_IN_ONE, T_NOMATCH, T_NO_INDEX, T_NO_BOROUGH,
        T_IN_HOLE, T_IN_DONUT,
    }
    # keep-FIRST: name is from the first occurrence
    assert tops[T_IN_TWO].name == "Tontine Coffee House"
    assert tops[T_IN_TWO].valid_since == 1857


def test_spatial_sameas_one_to_many(records):
    sameas = {
        (r.rel_from, r.rel_to)
        for r in records["relations"]
        if r.rel_type == "st:sameAs"
    }
    assert (T_IN_TWO, "1") in sameas and (T_IN_TWO, "2") in sameas
    assert (T_IN_ONE, "1") in sameas
    assert (T_IN_ONE, "2") not in sameas
    assert (T_NO_BOROUGH, "4") in sameas
    # full-polygon semantics (geo-indices.js:38-50): the courtyard-
    # hole toponym must NOT match b6; the ring-body one must
    assert (T_IN_DONUT, "6") in sameas
    assert (T_IN_HOLE, "6") not in sameas
    assert len(sameas) == 5


def test_logs(records):
    errors = sorted(r.error for r in records["logs"])
    assert f"Can't find building for toponym {T_NOMATCH}" in errors
    # hole-interior toponym is OUTSIDE its layer's buildings -> no-match
    assert f"Can't find building for toponym {T_IN_HOLE}" in errors
    assert f"Error computing intersection for toponym {T_NO_INDEX}" in errors
    # borough logs: building 4 (layer 101) + toponym on layer 101
    assert errors.count("Can't find borough for layer 101") == 2
    # degenerate feature's would-be borough log never emitted; layer
    # 100/102 boroughs exist
    assert len(errors) == 5


def test_ndjson_shape(records, spark):
    df = spark.createDataFrame(records["all"])
    lines = {r.value for r in to_ndjson_line(df).collect()}
    parsed = [json.loads(ln) for ln in lines]
    assert {p["type"] for p in parsed} == {"object", "relation", "log"}
    objs = [p for p in parsed if p["type"] == "object"]
    b1 = next(p for p in objs if p["obj"]["id"] == "1")
    # camelCase payload, geometry spliced as valid GeoJSON
    assert b1["obj"]["validSince"] == 1857
    assert b1["obj"]["data"]["sheetId"] == 10
    assert b1["obj"]["geometry"]["type"] == "Polygon"
    assert b1["obj"]["geometry"]["coordinates"][0][0] == [0.0, 0.0]
    # null fields omitted (JS undefined semantics)
    assert "name" not in b1["obj"]


def test_output_data_schema_conformance(records):
    """SURVEY section 5 item 5: the reference's one shipped correctness
    artifact is the JSON Schema for the `data` payload
    (building-inspector.dataset.json: oneOf Building/Address,
    additionalProperties false, required keys). Validate every emitted
    object against it."""
    for r in records["objects"]:
        d = r.data.asDict()
        assert set(d) <= {
            "sheet_id", "layer_id", "map_id", "colors", "borough", "number",
        }
        # required on both variants
        assert d["sheet_id"] is not None
        assert d["layer_id"] is not None
        assert d["map_id"] is not None
        if r.type == "st:Address":
            assert d["number"] is not None  # required for Address
            assert d["colors"] is None  # not a property of Address
        if d["colors"] is not None:
            assert len(d["colors"]) >= 1  # minItems: 1
            assert all(isinstance(c, str) for c in d["colors"])
        if d["borough"] is not None:
            assert isinstance(d["borough"], str)


def test_flatten_paths_projection(records, spark):
    from etl_building_inspector_spark.plans.pipeline import flatten_records

    df = spark.createDataFrame(records["all"])
    flat = {r.id: r for r in flatten_records(df).collect()}
    assert flat["1"].data_colors_0 == "pink"
    assert flat["1"].data_colors_1 == "yellow"
    assert flat["1"].data_colors == ["pink", "yellow"]
    assert flat["1"].data_sheetId == 10
    assert flat["1-1"].data_number == "25"
    assert flat["1-1"].data_colors_0 is None


def _plan_nodes(df) -> list[str]:
    """Operator names of df's physical plan, one per plan-tree line."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [m.group(1) for m in re.finditer(r"(?m)^[\s:|+-]*(\w+)", plan)]


def test_transform_plan_is_one_pass_per_source(spark, tmp_path):
    """Each source is read and keyed once per use of its enriched
    frame, and every record kind comes out of that frame: one
    keep-first window per use (consolidated: generator and polygon
    index; toponyms: generator only, since the probe runs in the
    toponym's row), two JSON scans of each source's side (source and
    sheets) and no Python worker. A branch per record kind re-derives
    the sources and multiplies all of them."""
    paths = make_landing(str(tmp_path))
    df = to_ndjson_line(_transform(spark, paths))
    nodes = _plan_nodes(df)
    assert nodes.count("Window") <= 3
    assert nodes.count("ArrowEvalPython") == 0
    assert nodes.count("Union") <= 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"FileScan json", plan)) <= 6


def _edge_landing(root) -> dict[str, str]:
    """A J3 edge-case landing: layer 200 holds two overlapping squares,
    layer 201 only a degenerate (F2-dropped) ring, so it has no index."""

    def square(lo: float, hi: float) -> list:
        return [[[lo, lo], [hi, lo], [hi, hi], [lo, hi], [lo, lo]]]

    def building(bid: int, sheet: int, polygon: list) -> dict:
        geoms = [{"type": "Polygon", "coordinates": polygon}]
        return {
            "type": "Feature",
            "properties": {"id": bid, "map_id": str(600 + sheet - 20),
                           "sheet_id": sheet, "consensus_address": "NONE"},
            "geometry": {"type": "GeometryCollection", "geometries": geoms},
        }

    def toponym(sheet: int, name: str, coords) -> dict:
        return {
            "type": "Feature",
            "properties": {"sheet_id": sheet, "consensus": name},
            "geometry": {"type": "Point", "coordinates": coords},
        }

    feats = {
        "sheets": [
            {"type": "Feature", "properties": {
                "id": sheet, "map_id": str(600 + sheet - 20),
                "layer": {"external_id": layer, "year": "1900"}}}
            for sheet, layer in ((20, 200), (21, 201))
        ],
        "consolidated": [
            building(30, 20, square(0.0, 4.0)),
            building(31, 20, square(1.0, 3.0)),
            building(32, 21, [[[0.0, 0.0], [1.0, 1.0], [0.0, 0.0]]]),
        ],
        "toponyms": [
            toponym(20, "Both", [2.0, 2.0]),
            toponym(20, "No y", [1.0, None]),
            toponym(20, "Unparsed", "abc"),
            toponym(21, "No index", [2.0, 2.0]),
        ],
    }
    paths = {}
    for name, rows in feats.items():
        paths[name] = str(root / f"{name}.jsonl")
        with open(paths[name], "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)
    paths["layer_boroughs"] = str(root / "layer-boroughs.json")
    with open(paths["layer_boroughs"], "w") as f:
        json.dump([{"id": 200, "borough": "Queens"}, {"id": 201, "borough": "Bronx"}], f)
    return paths


def test_probe_edge_cases(spark, tmp_path):
    """J3 outcomes on their own landing: a point in two overlapping
    polygons gets both st:sameAs; a point with a NULL coordinate, on an
    indexed layer, gets the no-match log; a layer whose only building
    F2 dropped has no index, so its toponym gets the error log. A point
    that does not parse at all hashes no coordinates, so its id is NULL
    and so is its log's text."""
    both = _toponym_id(20, [2.0, 2.0])
    no_y = _toponym_id(20, [1.0])  # the id's join skips the NULL
    no_index = _toponym_id(21, [2.0, 2.0])
    rows = _transform(spark, _edge_landing(tmp_path)).collect()
    got = [
        (r.record_type, r.id, r.name, r.rel_from, r.rel_to, r.rel_type, r.error)
        for r in rows
        if r.rel_type != "st:in"
    ]
    want = [
        ("log", None, None, None, None, None, None),
        ("log", None, None, None, None, None, f"Can't find building for toponym {no_y}"),
        ("log", None, None, None, None, None,
         f"Error computing intersection for toponym {no_index}"),
        ("object", "30", None, None, None, None, None),
        ("object", "31", None, None, None, None, None),
        ("object", both, "Both", None, None, None, None),
        ("object", no_index, "No index", None, None, None, None),
        ("object", no_y, "No y", None, None, None, None),
        ("object", None, "Unparsed", None, None, None, None),
        ("relation", None, None, both, "30", "st:sameAs", None),
        ("relation", None, None, both, "31", "st:sameAs", None),
    ]
    none_first = lambda t: tuple((v is not None, v) for v in t)  # noqa: E731
    assert sorted(got, key=none_first) == sorted(want, key=none_first)
    # two st:in per object, including the unparsed toponym's
    assert sum(r.rel_type == "st:in" for r in rows) == 2 * 6


# sha256 of the sorted NDJSON lines that transform + write_ndjson emit
# for perfbench landings of 400 + 400 features: a change to the plan
# must leave the output bytes as they are
_NDJSON_SHA256 = {
    1: "5ee2c66e621851fbb2ce3daffd9811792d1cbeaa8b46baf6ac0602fa3eb27d99",
    2: "cbc13ca3c854c0c747c1fb801093a7a3f28c827e95fecfd116dcf41b7f36fc7d",
}


def _ndjson_sha256(out_dir: str) -> str:
    lines = []
    for part in glob.glob(os.path.join(out_dir, "record_type=*", "part-*")):
        with open(part) as f:
            lines += f.read().splitlines()
    return hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()


@pytest.mark.parametrize("seed", sorted(_NDJSON_SHA256))
def test_ndjson_bytes_pinned(spark, tmp_path, seed):
    from perfbench import landing as bench

    landing = bench.make_landing(seed, 400, 400)
    paths = landing.write(str(tmp_path / "landing"))
    out_dir = str(tmp_path / "out")
    write_ndjson(_transform(spark, paths), out_dir)
    assert bench.diff(landing.expected, bench.read_output(out_dir)) == []
    assert _ndjson_sha256(out_dir) == _NDJSON_SHA256[seed]
