"""Loaders for the driver-generated parquet fixtures (TESTDATA.md).

Parquet scans are the engine's default source: splittable, columnar,
predicate/projection pushdown for free. Small dimension tables
(region/nation/supplier at any SF) are broadcast by callers at join
sites, not here -- keeping the loader policy-free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..schemas import TESTDATA_TABLES


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Schema comes from the parquet footer
    (self-describing), so no inference scan happens.

    events.parquet stores TIMESTAMP(NANOS), which Spark's vectorized
    parquet reader rejects; read it as raw INT64 nanos
    (legacy.parquet.nanosAsLong) and truncate to microseconds --
    exactly what DuckDB's reader does, keeping the oracle comparable.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            from pyspark.sql import functions as F

            df = spark.read.parquet(path)
            if dict(df.dtypes).get("ts") == "bigint":
                # integer division: epoch-nanos (~1.7e18) overflow the
                # 53-bit double mantissa, so never divide with `/`.
                df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
            return df
        finally:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture as a temp view so queries can use the SQL
    surface interchangeably with the DataFrame API."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)

