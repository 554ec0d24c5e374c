"""The reference's `transform` step (building-inspector.js:371-412),
re-expressed as one declarative DataFrame DAG.

Reference dataflow (SURVEY section 3):
  Phase A: sheets + layer-boroughs loaded in memory   -> broadcast dims
  Phase B: consolidated features -> building/address objects,
           mapwarper relations, borough logs; polygons indexed per
           layer                                      -> convert_consolidated
  Phase C: toponyms -> objects/relations/logs; point-in-polygon probe
           -> st:sameAs relations                     -> convert_toponyms
                                                          + spatial_sameas
  Sink: NDJSON stream of {type, obj} records          -> write_ndjson

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

from ..functions.ids import base62_of_hex
from ..operators.dedup import keep_first
from ..operators.spatial import spatial_join_broadcast
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


def convert_consolidated(
    consolidated_raw: DataFrame, sheets_raw: DataFrame, layers: DataFrame
) -> DataFrame:
    """Consolidated features -> record stream (building-inspector.js:
    94-181). Returns the wide record union; see module docstring for
    the D1-before-F2 ordering contract."""
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

    sheets_dim = _sheet_dim(sheets_raw)
    enriched = feats.join(F.broadcast(sheets_dim), "sheet_id", "inner").join(
        F.broadcast(layers), "layer_id", "left"
    )

    polygon_raw = F.try_element_at(F.col("geometries"), F.lit(1))
    enriched = enriched.withColumn("polygon", parse_polygon(polygon_raw.getField("coordinates")))
    enriched = enriched.withColumn("polygon_json", polygon_raw.getField("coordinates"))

    # F2: degenerate outer ring (<4 coords) drops the ENTIRE feature --
    # object, relations, addresses, and the would-be borough log
    # (building-inspector.js:138-140). Runs after D1 by construction.
    enriched = enriched.filter(
        F.size(F.try_element_at(F.col("polygon"), F.lit(1))) >= 4
    )

    data = F.struct(
        F.col("sheet_id").alias("sheet_id"),
        F.col("layer_id").alias("layer_id"),
        F.col("map_id").alias("map_id"),
        F.when(
            F.col("consensus_color").isNotNull(),
            F.split(F.col("consensus_color"), ","),
        ).alias("colors"),
        F.col("borough").alias("borough"),
        F.lit(None).cast("string").alias("number"),
    )
    objects = enriched.select(
        F.lit("object").alias("record_type"),
        F.col("building_id").cast("string").alias("id"),
        F.lit("st:Building").alias("type"),
        F.col("year").alias("valid_since"),
        F.col("year").alias("valid_until"),
        F.lit(None).cast("string").alias("name"),
        data.alias("data"),
        F.lit("Polygon").alias("geom_type"),
        F.col("polygon_json").alias("geom_coords_json"),
        F.col("layer_id").alias("_layer_id"),
        F.col("polygon").alias("_polygon"),
    )

    relations = _mapwarper_relations(
        enriched, F.col("building_id").cast("string")
    )

    logs = enriched.filter(F.col("borough").isNull()).select(
        F.lit("log").alias("record_type"),
        F.concat(
            F.lit("Can't find borough for layer "), F.col("layer_id")
        ).alias("error"),
    )

    # E1 + J4: one row per address, point geometry positionally aligned
    # with geometries[i+1] (building-inspector.js:143-178)
    addr = enriched.filter(F.col("addresses").isNotNull()).select(
        "building_id",
        "sheet_id",
        "layer_id",
        "map_id",
        "borough",
        "year",
        "geometries",
        F.posexplode("addresses").alias("pos", "address"),
    )
    addr = addr.withColumn(
        "point_raw",
        F.try_element_at(F.col("geometries"), F.col("pos").cast("int") + 2),
    ).withColumn("address_id", F.concat("building_id", F.lit("-"), F.col("pos") + 1))
    addr_data = F.struct(
        F.col("sheet_id").alias("sheet_id"),
        F.col("layer_id").alias("layer_id"),
        F.col("map_id").alias("map_id"),
        F.lit(None).cast("array<string>").alias("colors"),
        F.col("borough").alias("borough"),
        F.col("address.flag_value").alias("number"),
    )
    addr_objects = addr.select(
        F.lit("object").alias("record_type"),
        F.col("address_id").alias("id"),
        F.lit("st:Address").alias("type"),
        F.col("year").alias("valid_since"),
        F.col("year").alias("valid_until"),
        F.col("address.flag_value").alias("name"),
        addr_data.alias("data"),
        F.lit("Point").alias("geom_type"),
        F.col("point_raw").getField("coordinates").alias("geom_coords_json"),
    )
    addr_relations = addr.select(
        F.lit("relation").alias("record_type"),
        F.col("address_id").alias("rel_from"),
        F.col("building_id").cast("string").alias("rel_to"),
        F.lit("st:in").alias("rel_type"),
    )

    return _union_records([objects, relations, logs, addr_objects, addr_relations])


def _mapwarper_relations(enriched: DataFrame, from_id: Column) -> DataFrame:
    """E2: exactly two relations per object (building-inspector.js:
    183-202): -> mapwarper/{mapId} and mapwarper/layer-{layerId}."""
    pair = F.array(
        F.concat(F.lit(f"{MAPWARPER}/"), F.col("map_id")),
        F.concat(F.lit(f"{MAPWARPER}/layer-"), F.col("layer_id")),
    )
    return enriched.select(
        F.lit("relation").alias("record_type"),
        from_id.alias("rel_from"),
        F.explode(pair).alias("rel_to"),
        F.lit("st:in").alias("rel_type"),
    )


def convert_toponyms(
    toponyms_raw: DataFrame, sheets_raw: DataFrame, layers: DataFrame
) -> DataFrame:
    """Toponym features -> record stream (building-inspector.js:
    206-253). Surrogate id = toponym-{sheetId}-{base62(md5(coords))}
    (P7, :207-209); content-hash dedup D2 keyed on it."""
    from .._dist import ensure_workers_can_import

    ensure_workers_can_import(toponyms_raw.sparkSession)
    feats = toponyms_raw.select(
        F.col("properties.sheet_id").alias("sheet_id"),
        F.col("properties.consensus").alias("name"),
        F.col("geometry.type").alias("geom_type"),
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
            base62_of_hex(F.md5(coord_str)),
        ),
    )
    # D2: keep-first on the content-addressed id (:211-214)
    feats = keep_first(feats, keys=["toponym_id"], order_by=["_seq"])

    sheets_dim = _sheet_dim(sheets_raw)
    enriched = (
        feats.join(F.broadcast(sheets_dim), "sheet_id", "inner")
        .join(F.broadcast(layers), "layer_id", "left")
        # toponym mapId comes from the SHEET's map_id (:218), unlike
        # consolidated which uses the feature's own (:102)
        .withColumn("map_id", F.col("sheet_map_id").try_cast("int"))
    )

    data = F.struct(
        F.col("sheet_id").alias("sheet_id"),
        F.col("layer_id").alias("layer_id"),
        F.col("map_id").alias("map_id"),
        F.lit(None).cast("array<string>").alias("colors"),
        F.col("borough").alias("borough"),
        F.lit(None).cast("string").alias("number"),
    )
    objects = enriched.select(
        F.lit("object").alias("record_type"),
        F.col("toponym_id").alias("id"),
        F.lit("st:Building").alias("type"),  # yes, st:Building (:236)
        F.col("year").alias("valid_since"),
        F.col("year").alias("valid_until"),
        F.col("name"),
        data.alias("data"),
        F.lit("Point").alias("geom_type"),
        F.col("point_json").alias("geom_coords_json"),
        F.col("layer_id").alias("_layer_id"),
        F.col("point").alias("_point"),
    )
    relations = _mapwarper_relations(enriched, F.col("toponym_id"))
    logs = enriched.filter(F.col("borough").isNull()).select(
        F.lit("log").alias("record_type"),
        F.concat(
            F.lit("Can't find borough for layer "), F.col("layer_id")
        ).alias("error"),
    )
    return _union_records([objects, relations, logs])


def spatial_sameas(
    toponym_records: DataFrame, building_records: DataFrame
) -> DataFrame:
    """J3 (building-inspector.js:275-325 + geo-indices.js): probe each
    toponym point against its layer's building polygons.

    Three outcomes, as in the reference:
      >=1 containing polygon -> one st:sameAs relation each (:288-296)
      0 polygons on a layer that HAS an index -> no-match log (:297-304)
      layer with no index at all -> error log (the geo-indices.js:44-46
      throw, caught at :306-313)
    """
    buildings = building_records.filter(
        (F.col("record_type") == "object")
        & (F.col("type") == "st:Building")
        & (F.col("geom_type") == "Polygon")  # F5 predicate
    ).select(
        F.col("id").alias("building_id"),
        F.col("_layer_id").alias("layer_id"),
        # FULL polygon (all rings): geo-indices.js:38-50 honors holes
        # -- a toponym inside a courtyard hole must NOT match, so the
        # probe must not use the outer ring alone.
        F.col("_polygon").alias("polygon"),
    )
    toponyms = toponym_records.filter(
        (F.col("record_type") == "object")
        & (F.col("type") == "st:Building")
        & (F.col("geom_type") == "Point")
    ).select(
        F.col("id").alias("toponym_id"),
        F.col("_layer_id").alias("layer_id"),
        F.col("_point").alias("point"),
    )

    matched = spatial_join_broadcast(toponyms, buildings, how="left")
    relations = matched.filter(F.col("building_id").isNotNull()).select(
        F.lit("relation").alias("record_type"),
        F.col("toponym_id").alias("rel_from"),
        F.col("building_id").alias("rel_to"),
        F.lit("st:sameAs").alias("rel_type"),
    )

    # distinguish empty-layer (throw path) from no-match
    indexed_layers = buildings.select(
        F.col("layer_id").alias("layer_id")
    ).distinct()
    misses = matched.filter(F.col("building_id").isNull()).select(
        "toponym_id", toponyms["layer_id"].alias("layer_id")
    )
    misses = misses.join(
        F.broadcast(indexed_layers.withColumn("__indexed", F.lit(True))),
        "layer_id",
        "left",
    )
    logs = misses.select(
        F.lit("log").alias("record_type"),
        F.when(
            F.col("__indexed").isNull(),
            F.concat(
                F.lit("Error computing intersection for toponym "),
                F.col("toponym_id"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("Can't find building for toponym "), F.col("toponym_id")
            )
        )
        .alias("error"),
    )
    return _union_records([relations, logs])


_RECORD_COLS = [
    "record_type",
    "id",
    "type",
    "valid_since",
    "valid_until",
    "name",
    "data",
    "geom_type",
    "geom_coords_json",
    "rel_from",
    "rel_to",
    "rel_type",
    "error",
]


def _union_records(dfs: list[DataFrame]) -> DataFrame:
    """E3: heterogeneous record kinds -> one wide union
    (building-inspector.js:315-318), NULL-padded by name."""
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    for c in _RECORD_COLS:
        if c not in out.columns:
            out = out.withColumn(c, F.lit(None))
    return out


def transform(
    spark: SparkSession,
    consolidated_path: str,
    toponyms_path: str,
    sheets_path: str,
    layer_boroughs_path: str,
) -> DataFrame:
    """Full transform: all record streams unioned (the reference writes
    both phases to the same sink, :404-409). Returns the wide record
    DataFrame; write with write_ndjson()."""
    sheets_raw = read_sheets(spark, sheets_path)
    layers = read_layer_boroughs(spark, layer_boroughs_path)
    cons = convert_consolidated(
        read_consolidated(spark, consolidated_path), sheets_raw, layers
    )
    tops = convert_toponyms(
        read_toponyms(spark, toponyms_path), sheets_raw, layers
    )
    same_as = spatial_sameas(tops, cons)
    all_records = _union_records([cons, tops, same_as])
    return all_records.select(*_RECORD_COLS)


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
