"""The reference's `transform` step (building-inspector.js:371-412),
re-expressed as one declarative DataFrame DAG that, like the
reference, reads each feature once and emits every record kind from it.

Dataflow (SURVEY section 3), one pass per source:
  Phase A: sheets + layer-boroughs                    -> broadcast dims
  Phase B: consolidated -> D1 keep-first, J1/J2 joins, polygon parse,
           F2 filter                                  -> _enrich_consolidated
           -> building object, 2 mapwarper st:in, borough log, and per
           address an object + its st:in              -> _building_records
           -> one polygon index row per layer         -> layer_index
  Phase C: toponyms -> point parse, P7 id, D2 keep-first, J1/J2 joins
                                                      -> _enrich_toponyms
           -> left join to its layer's index row; the probe runs in
           the toponym's row (J3)
           -> toponym object, 2 mapwarper st:in, borough log, and
           st:sameAs per containing polygon or one of two miss logs
                                                      -> _toponym_records
  Sink: the two record streams in one union           -> write_ndjson

Each `_*_records` builds an array of records in the one wide shape
(`_RECORD_COLS`) per enriched row and emits it with one inline. The
toponym side is scanned, keyed and deduplicated once; the consolidated
side twice (records, and the index). No step runs in a Python worker.

Deviations (documented, SURVEY section 7 "hard parts" respected):
  * global output order relaxed (Spark is set-oriented; the Space/Time
    NDJSON consumer is order-insensitive);
  * J1 missing-sheet crash -> integrity_check() anti-join surfaced as
    log records instead of aborting mid-stream;
  * keep-first dedup is deterministic on the `_seq` read-order column
    (reference: first in file order, building-inspector.js:97-100) and
    happens BEFORE the degenerate-ring filter, so a degenerate first
    copy suppresses later valid duplicates exactly like the module
    cache does (:97-100 vs :138-140).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.ids import base62_of_md5
from ..operators.dedup import keep_first
from ..operators.spatial import index_hits, layer_index
from ..schemas import ADDRESS_ENTRY
from ..sources.geojson import (
    parse_addresses,
    parse_point,
    parse_polygon,
    read_consolidated,
    read_layer_boroughs,
    read_sheets,
    read_toponyms,
)

MAPWARPER = "mapwarper"


def _js_num(c: Column) -> Column:
    """Render a double the way JS String(number) does (the md5 toponym
    ids hash this text, so it must match the reference byte-for-byte):

      * integer-valued doubles print with no decimal part (JS:
        String(40) -> '40'). Rendered via a BIGINT cast, which also
        covers |x| >= 1e7 where Java's Double.toString would switch to
        scientific notation but JS stays integral (safe through 2^53);
      * non-integer values in [1e-3, 1e7): both engines emit the same
        shortest-round-trip decimal digits, so a plain CAST agrees;
      * anything else (non-integer < 1e-3 or >= 1e7): Java flips to
        scientific notation where JS does not -- no built-in renders
        the JS form, so fail loudly instead of hashing a divergent id.
    """
    is_int = (F.abs(c) < F.lit(2.0**53)) & (c % F.lit(1.0) == 0.0)
    safe_decimal = (F.abs(c) >= F.lit(1e-3)) & (F.abs(c) < F.lit(1e7))
    return (
        F.when(c.isNull(), F.lit(None).cast("string"))
        .when(is_int, c.cast("long").cast("string"))
        .when(safe_decimal, c.cast("string"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("_js_num: value outside JS-compatible render range: "),
                    c.cast("string"),
                )
            )
        )
    )


def _sheet_dim(sheets_raw: DataFrame) -> DataFrame:
    """Sheet lookup dim (J1 build side): id, layer id, year, map_id."""
    return sheets_raw.select(
        F.col("properties.id").alias("sheet_id"),
        F.col("properties.layer.external_id").alias("layer_id"),
        F.try_element_at(
            F.split(F.col("properties.layer.year"), r"\."), F.lit(1)
        ).try_cast("int").alias("year"),
        F.col("properties.map_id").alias("sheet_map_id"),
    )


# E3: every record kind shares one wide shape (building-inspector.js:
# 315-318); fields a kind does not set stay NULL.
_DATA = (
    "struct<sheet_id:bigint,layer_id:bigint,map_id:int,"
    "colors:array<string>,borough:string,number:string>"
)
_RECORD_COLS = {  # name -> fixed type, in output order
    "record_type": "string",
    "id": "string",
    "type": "string",
    "valid_since": "int",
    "valid_until": "int",
    "name": "string",
    "data": _DATA,
    "geom_type": "string",
    "geom_coords_json": "string",
    "rel_from": "string",
    "rel_to": "string",
    "rel_type": "string",
    "error": "string",
}


def _null(c: Column | None) -> Column:
    return F.lit(None) if c is None else c


def _record(record_type: str, **fields: Column | None) -> Column:
    """One record of kind `record_type` as a struct in `_RECORD_COLS`
    order, each field cast to its fixed type (a no-op where it already
    has it), so records of every kind fit in one array."""
    return F.struct(
        F.lit(record_type).alias("record_type"),
        *(
            _null(fields.get(c)).cast(t).alias(c)
            for c, t in _RECORD_COLS.items()
            if c != "record_type"
        ),
    )


def _object(
    id_: Column, type_: str, geom_type: str, geom_coords_json: Column,
    name: Column | None = None, colors: Column | None = None,
    number: Column | None = None,
) -> Column:
    """An object record of the enriched row in scope (sheet, layer,
    mapId, year and borough come from its columns)."""
    data = F.struct(
        F.col("sheet_id").alias("sheet_id"),
        F.col("layer_id").alias("layer_id"),
        F.col("map_id").alias("map_id"),
        _null(colors).alias("colors"),
        F.col("borough").alias("borough"),
        _null(number).alias("number"),
    )
    return _record(
        "object",
        id=id_,
        type=F.lit(type_),
        valid_since=F.col("year"),
        valid_until=F.col("year"),
        name=name,
        data=data,
        geom_type=F.lit(geom_type),
        geom_coords_json=geom_coords_json,
    )


def _relation(rel_from: Column, rel_to: Column, rel_type: str) -> Column:
    return _record(
        "relation", rel_from=rel_from, rel_to=rel_to, rel_type=F.lit(rel_type)
    )


def _log(error: Column) -> Column:
    return _record("log", error=error)


def _emit(
    enriched: DataFrame, object_id: Column, obj: Column,
    more: Column | None = None,
) -> DataFrame:
    """The one generator per source: each enriched row becomes its
    object, its two mapwarper `st:in` relations (E2, building-
    inspector.js:183-202: mapwarper/{mapId} and mapwarper/layer-
    {layerId}), its borough log when the layer has no borough, and the
    records in `more`; then one inline emits them all."""
    records = F.array(
        obj,
        _relation(object_id, F.concat(F.lit(f"{MAPWARPER}/"), F.col("map_id")), "st:in"),
        _relation(
            object_id, F.concat(F.lit(f"{MAPWARPER}/layer-"), F.col("layer_id")), "st:in"
        ),
        F.when(
            F.col("borough").isNull(),
            _log(F.concat(F.lit("Can't find borough for layer "), F.col("layer_id"))),
        ),
    )
    if more is not None:
        records = F.concat(records, more)
    # array_compact: drop the NULL borough-log slots (and declare the
    # array NULL-free, so inline keeps record_type non-nullable)
    return enriched.select(F.inline(F.array_compact(records)))


def _enrich_consolidated(
    consolidated_raw: DataFrame, sheets_dim: DataFrame, layers: DataFrame
) -> DataFrame:
    """Consolidated features, enriched once (building-inspector.js:
    94-181): D1 keep-first, then the J1 sheet and J2 borough joins,
    the polygon parse and the F2 filter -- in that order; see the
    module docstring for the D1-before-F2 contract."""
    feats = consolidated_raw.select(
        F.col("properties.id").alias("building_id"),
        # try_cast: parseInt-style leniency that also survives ANSI
        # sessions (the host driver's default)
        F.col("properties.map_id").try_cast("int").alias("map_id"),
        F.col("properties.sheet_id").alias("sheet_id"),
        F.col("properties.consensus_color").alias("consensus_color"),
        parse_addresses(F.col("properties.consensus_address")).alias("addresses"),
        F.col("geometry.geometries").alias("geometries"),
        F.col("_seq"),
    )

    # D1: keep-first BEFORE anything else (module cache at :97-100)
    feats = keep_first(feats, keys=["building_id"], order_by=["_seq"])

    enriched = feats.join(F.broadcast(sheets_dim), "sheet_id", "inner").join(
        F.broadcast(layers), "layer_id", "left"
    )

    polygon_raw = F.try_element_at(F.col("geometries"), F.lit(1))
    enriched = enriched.withColumn("polygon", parse_polygon(polygon_raw.getField("coordinates")))
    enriched = enriched.withColumn("polygon_json", polygon_raw.getField("coordinates"))

    # F2: degenerate outer ring (<4 coords) drops the ENTIRE feature --
    # object, relations, addresses, and the would-be borough log
    # (building-inspector.js:138-140). Runs after D1 by construction.
    return enriched.filter(
        F.size(F.try_element_at(F.col("polygon"), F.lit(1))) >= 4
    )


def _building_records(buildings: DataFrame) -> DataFrame:
    """Consolidated records: the building object and, per address
    (E1 + J4, building-inspector.js:143-178), an st:Address object and
    its st:in relation to the building. Address i pairs with point
    geometries[i+2] (1-based; geometries[1] is the polygon)."""
    building_id = F.col("building_id").cast("string")
    building = _object(
        building_id,
        "st:Building",
        "Polygon",
        F.col("polygon_json"),
        colors=F.when(
            F.col("consensus_color").isNotNull(),
            F.split(F.col("consensus_color"), ","),
        ),
    )

    def address(a: Column, i: Column) -> Column:
        address_id = F.concat(F.col("building_id"), F.lit("-"), i + 1)
        point = F.try_element_at(F.col("geometries"), i + 2)
        obj = _object(
            address_id,
            "st:Address",
            "Point",
            point.getField("coordinates"),
            name=a.getField("flag_value"),
            number=a.getField("flag_value"),
        )
        return F.array(obj, _relation(address_id, building_id, "st:in"))

    no_addresses = F.array().cast(T.ArrayType(ADDRESS_ENTRY))
    addresses = F.flatten(
        F.transform(F.coalesce(F.col("addresses"), no_addresses), address)
    )
    return _emit(buildings, building_id, building, addresses)


def _enrich_toponyms(
    toponyms_raw: DataFrame, sheets_dim: DataFrame, layers: DataFrame
) -> DataFrame:
    """Toponym features, enriched once (building-inspector.js:
    206-253): point parse, surrogate id toponym-{sheetId}-{base62(md5(
    coords))} (P7, :207-209), D2 content-hash keep-first on it, then
    the J1 sheet and J2 borough joins."""
    feats = toponyms_raw.select(
        F.col("properties.sheet_id").alias("sheet_id"),
        F.col("properties.consensus").alias("name"),
        F.col("geometry.coordinates").alias("point_json"),
        F.col("_seq"),
    )
    feats = feats.withColumn("point", parse_point(F.col("point_json")))
    # md5 of JS coordinates.join(',') -- numbers rendered JS-style
    coord_str = F.array_join(
        F.transform(F.col("point"), lambda c: _js_num(c)), ","
    )
    feats = feats.withColumn(
        "toponym_id",
        F.concat(
            F.lit("toponym-"),
            F.col("sheet_id"),
            F.lit("-"),
            base62_of_md5(F.md5(coord_str)),
        ),
    )
    # D2: keep-first on the content-addressed id (:211-214)
    feats = keep_first(feats, keys=["toponym_id"], order_by=["_seq"])

    return (
        feats.join(F.broadcast(sheets_dim), "sheet_id", "inner")
        .join(F.broadcast(layers), "layer_id", "left")
        # toponym mapId comes from the SHEET's map_id (:218), unlike
        # consolidated which uses the feature's own (:102)
        .withColumn("map_id", F.col("sheet_map_id").try_cast("int"))
    )


def _toponym_records(toponyms: DataFrame, index: DataFrame) -> DataFrame:
    """Toponym records, with J3 (building-inspector.js:275-325 +
    geo-indices.js) probed in the toponym's own row: its point against
    its layer's polygons (`index`, one layer_index row per layer).

    Three outcomes, as in the reference:
      >=1 containing polygon -> one st:sameAs relation each (:288-296)
      0 polygons on a layer that HAS an index -> no-match log (:297-304)
      layer with no index at all -> error log (the geo-indices.js:44-46
      throw, caught at :306-313)
    The index is built from the enriched buildings, after F2, so a
    layer whose polygons are all degenerate has none. Every building
    row is an st:Building Polygon (the F5 predicate, geo-indices.js:
    14-20, holds by construction), and the probe tests the FULL
    polygon: a toponym in a courtyard hole matches nothing."""
    toponym_id = F.col("toponym_id")
    obj = _object(
        # yes, st:Building (:236)
        toponym_id, "st:Building", "Point", F.col("point_json"), name=F.col("name")
    )
    # hits is NULL when the layer has no index, empty when no polygon
    # contains the point
    probed = toponyms.join(F.broadcast(index), "layer_id", "left").withColumn(
        "hits",
        index_hits(F.col("index"), F.get("point", 0), F.get("point", 1)),
    )
    hits = F.col("hits")
    same_as = (
        F.when(
            hits.isNull(),
            F.array(_log(F.concat(F.lit("Error computing intersection for toponym "), toponym_id))),
        )
        .when(
            F.size(hits) == 0,
            F.array(_log(F.concat(F.lit("Can't find building for toponym "), toponym_id))),
        )
        .otherwise(
            F.transform(hits, lambda h: _relation(toponym_id, h.getField("id"), "st:sameAs"))
        )
    )
    return _emit(probed, toponym_id, obj, same_as)


def transform(
    spark: SparkSession,
    consolidated_path: str,
    toponyms_path: str,
    sheets_path: str,
    layer_boroughs_path: str,
) -> DataFrame:
    """Full transform: every record kind of both sources, in one
    DataFrame (the reference writes both phases to the same sink,
    :404-409). Returns the wide record DataFrame (`_RECORD_COLS`);
    write with write_ndjson()."""
    sheets_dim = _sheet_dim(read_sheets(spark, sheets_path))
    layers = read_layer_boroughs(spark, layer_boroughs_path)
    buildings = _enrich_consolidated(
        read_consolidated(spark, consolidated_path), sheets_dim, layers
    )
    toponyms = _enrich_toponyms(
        read_toponyms(spark, toponyms_path), sheets_dim, layers
    )
    return _building_records(buildings).unionByName(
        _toponym_records(toponyms, layer_index(buildings, "building_id"))
    )


def flatten_records(df: DataFrame) -> DataFrame:
    """P11: the downstream `flattenPaths` projection contract
    (building-inspector.dataset.json:35-45) -- declared JSONPath
    projections ($.data.sheetId, $.data.colors[0], ...) as one nested
    select. Nested field access is native; column pruning reaches the
    scan."""
    return df.filter(F.col("record_type") == "object").select(
        "id",
        "type",
        F.col("data.sheet_id").alias("data_sheetId"),
        F.col("data.layer_id").alias("data_layerId"),
        F.col("data.map_id").alias("data_mapId"),
        F.try_element_at(F.col("data.colors"), F.lit(1)).alias("data_colors_0"),
        F.try_element_at(F.col("data.colors"), F.lit(2)).alias("data_colors_1"),
        F.col("data.colors").alias("data_colors"),
        F.col("data.borough").alias("data_borough"),
        F.col("data.number").alias("data_number"),
    )


def to_ndjson_line(df: DataFrame) -> DataFrame:
    """Render each record as the reference's NDJSON {type, obj} shape
    (building-inspector.dataset.json schema; camelCase payload). NULL
    fields are omitted like JS undefined."""
    geometry_json = F.when(
        F.col("geom_coords_json").isNotNull(),
        F.concat(
            F.lit('{"type":"'),
            F.col("geom_type"),
            F.lit('","coordinates":'),
            F.col("geom_coords_json"),
            F.lit("}"),
        ),
    )
    obj_object = F.to_json(
        F.struct(
            F.col("id"),
            F.col("type"),
            F.col("valid_since").alias("validSince"),
            F.col("valid_until").alias("validUntil"),
            F.col("name"),
            F.struct(
                F.col("data.sheet_id").alias("sheetId"),
                F.col("data.layer_id").alias("layerId"),
                F.col("data.map_id").alias("mapId"),
                F.col("data.colors").alias("colors"),
                F.col("data.borough").alias("borough"),
                F.col("data.number").alias("number"),
            ).alias("data"),
        )
    )
    obj_relation = F.to_json(
        F.struct(
            F.col("rel_from").alias("from"),
            F.col("rel_to").alias("to"),
            F.col("rel_type").alias("type"),
        )
    )
    obj_log = F.to_json(F.struct(F.col("error")))
    # geometry is spliced in as raw JSON (its coordinates were carried
    # verbatim from ingest, so round-trip is byte-faithful)
    # splice geometry into the object JSON: to_json output always ends
    # with '}', so drop that byte and append the geometry member.
    without_close = F.expr(
        "substring(obj_object_tmp, 1, length(obj_object_tmp) - 1)"
    )
    obj = (
        F.when(
            F.col("record_type") == "object",
            F.when(
                geometry_json.isNotNull(),
                F.concat(
                    without_close,
                    F.lit(',"geometry":'),
                    geometry_json,
                    F.lit("}"),
                ),
            ).otherwise(F.col("obj_object_tmp")),
        )
        .when(F.col("record_type") == "relation", obj_relation)
        .otherwise(obj_log)
    )
    staged = df.withColumn("obj_object_tmp", obj_object)
    line = F.concat(
        F.lit('{"type":"'),
        F.col("record_type"),
        F.lit('","obj":'),
        obj,
        F.lit("}"),
    )
    return staged.select(
        F.col("record_type"), line.alias("value")
    )


def write_ndjson(df: DataFrame, out_dir: str) -> None:
    """S9/S10: NDJSON sink partitioned by record kind. Global order is
    deliberately relaxed vs the reference's serialized writer (:265-268)
    -- the output is set-like; see module docstring."""
    to_ndjson_line(df).write.mode("overwrite").partitionBy("record_type").text(
        out_dir
    )
