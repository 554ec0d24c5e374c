"""GeoJSON ingestion (reference S6/S7/S8).

The reference stream-parses one giant FeatureCollection document with
JSONStream (building-inspector.js:327-335). At scale a single JSON doc
is not splittable, so the engine's landing format is JSONL (one feature
per line; sources/landing.py converts) and the scan is a plain
schema'd `spark.read.json` -- splittable, predicate/column pruned.

Two schema-on-read tricks keep everything columnar despite GeoJSON's
polymorphism (both verified against Spark 4's Jackson parser):
  * a StringType field swallows ANY JSON value as its raw text -- used
    for `consensus_address` ('NONE' | array, building-inspector.js:142)
    and for `coordinates` (Point vs Polygon shapes);
  * the typed forms are recovered with from_json AFTER the scan, so
    the parse cost is paid only for rows/columns that survive pruning.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import ADDRESS_ENTRY, POINT_COORDS, POLYGON_COORDS

# raw ingest schemas: polymorphic leaves read as raw-JSON strings
RAW_GEOMETRY = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("coordinates", T.StringType()),
    ]
)

RAW_CONSOLIDATED = T.StructType(
    [
        T.StructField("_seq", T.LongType()),
        T.StructField("type", T.StringType()),
        T.StructField(
            "properties",
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("map_id", T.StringType()),
                    T.StructField("sheet_id", T.LongType()),
                    T.StructField("consensus_color", T.StringType()),
                    T.StructField("consensus_address", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "geometry",
            T.StructType(
                [
                    T.StructField("type", T.StringType()),
                    T.StructField("geometries", T.ArrayType(RAW_GEOMETRY)),
                ]
            ),
        ),
    ]
)

RAW_TOPONYMS = T.StructType(
    [
        T.StructField("_seq", T.LongType()),
        T.StructField("type", T.StringType()),
        T.StructField(
            "properties",
            T.StructType(
                [
                    T.StructField("sheet_id", T.LongType()),
                    T.StructField("consensus", T.StringType()),
                ]
            ),
        ),
        T.StructField("geometry", RAW_GEOMETRY),
    ]
)

RAW_SHEETS = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField(
            "properties",
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("map_id", T.StringType()),
                    T.StructField(
                        "layer",
                        T.StructType(
                            [
                                T.StructField("external_id", T.LongType()),
                                T.StructField("year", T.StringType()),
                            ]
                        ),
                    ),
                ]
            ),
        ),
    ]
)


def read_consolidated(spark: SparkSession, path: str) -> DataFrame:
    """Scan consolidated features. `_seq` drives keep-first dedup
    determinism (reference D1 is first-in-FILE-order,
    building-inspector.js:97-100). Landed lines carry an explicit
    `_seq` column written at download time (landing._seq_line) --
    contractual across any split/partition/file-listing order. Legacy
    landings without the column fall back to
    monotonically_increasing_id, which tracks file order only within a
    single file's splits (documented weaker guarantee)."""
    df = spark.read.schema(RAW_CONSOLIDATED).json(path)
    return df.withColumn(
        "_seq", F.coalesce(F.col("_seq"), F.monotonically_increasing_id())
    )


def read_toponyms(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.schema(RAW_TOPONYMS).json(path)
    return df.withColumn(
        "_seq", F.coalesce(F.col("_seq"), F.monotonically_increasing_id())
    )


def read_sheets(spark: SparkSession, path: str) -> DataFrame:
    """Sheets are the broadcast build side (reference loads them whole
    into memory, building-inspector.js:374-386)."""
    return spark.read.schema(RAW_SHEETS).json(path)


def read_layer_boroughs(spark: SparkSession, path: str) -> DataFrame:
    """Static dim table: JSON array file of {id, borough}
    (layer-boroughs.json)."""
    with open(path) as f:
        rows = json.load(f)
    return spark.createDataFrame(
        [(int(r["id"]), r["borough"]) for r in rows],
        "layer_id long, borough string",
    )


def parse_polygon(raw: F.Column) -> F.Column:
    return F.from_json(raw, POLYGON_COORDS)


def parse_point(raw: F.Column) -> F.Column:
    return F.from_json(raw, POINT_COORDS)


def parse_addresses(raw: F.Column) -> F.Column:
    """'NONE' (or anything non-array) -> NULL; array form -> typed."""
    return F.when(
        raw.isNotNull() & raw.startswith("["),
        F.from_json(raw, T.ArrayType(ADDRESS_ENTRY)),
    )
