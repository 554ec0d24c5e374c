"""PySpark-native analytics/ETL engine with the capabilities of
nypl-spacetime/etl-building-inspector, re-expressed Spark-first.

The reference (/root/reference/building-inspector.js) is a Node.js
streaming ETL: download GeoJSON -> convert features into a temporal
geo property graph (objects / relations / logs) -> NDJSON sink.
This package decomposes that dataflow into composable DataFrame
operators (see SURVEY.md section 2 for the operator inventory), plus
the large-scale training-data-pipeline extensions (dedup, similarity
search, text analysis, multimodal plumbing).

Layout:
    session     shared SparkSession builder: local[$SPARK_GRAFT_CPUS],
                32 shuffle partitions, AQE, Arrow, UTC
    schemas     explicit StructTypes for all inputs/outputs (never
                schema-inference on production paths)
    sources/    testdata loaders, paginated REST landing, GeoJSON scan
    operators/  dedup, joins, explode/fan-out, spatial join, similarity
    functions/  scalar kernels: surrogate ids, text analysis, geometry
    plans/      the end-to-end reference pipeline (transform step)
    streaming/  Structured Streaming analogs for the events table
"""

__version__ = "0.1.0"
