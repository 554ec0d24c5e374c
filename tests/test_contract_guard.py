"""Driver-shape contract guard (VERDICT r5 #2).

The driver's canonicalizer hashes raw pandas cells; Array/Map/Struct
result columns crash it even when every value is correct (the
emb_pq_encode red row in CORRECTNESS_r05). plans/contract.py is the
choke point; these tests pin that the guard rejects each nested type
and accepts scalars. tests/test_queries_oracle.py runs the guard on
every registered query.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_building_inspector_spark.plans.contract import (
    assert_scalar_output_schema,
    nested_output_fields,
)


def test_guard_rejects_array_output(spark):
    # a dummy registered-query-shaped result with an array column:
    # exactly the emb_pq_encode failure class
    df = spark.range(3).select(
        F.col("id"), F.array(F.lit(1), F.lit(2)).alias("codes")
    )
    with pytest.raises(TypeError, match="codes.*Array/Map/Struct"):
        assert_scalar_output_schema(df.schema, "dummy_array_query")


def test_guard_rejects_map_and_struct_output(spark):
    df = spark.range(1).select(
        F.create_map(F.lit("k"), F.lit(1)).alias("m"),
        F.struct(F.lit(1).alias("a")).alias("s"),
    )
    assert nested_output_fields(df.schema) == ["m", "s"]
    with pytest.raises(TypeError):
        assert_scalar_output_schema(df.schema, "dummy_nested_query")


def test_guard_accepts_scalar_schema(spark):
    df = spark.range(1).select(
        F.col("id"),
        F.lit("x").alias("s"),
        F.lit(1.5).alias("d"),
        F.lit(True).alias("b"),
        F.current_date().alias("day"),
    )
    assert nested_output_fields(df.schema) == []
    assert_scalar_output_schema(df.schema, "scalar_query")  # no raise


TOOLS = Path(__file__).resolve().parents[1] / "tools"


@pytest.mark.parametrize(
    "argv",
    [
        ["verify_driver_contract.py", "/nonexistent-sf", "no_such_query"],
        ["codegen_audit.py", "/nonexistent-sf", "no_such_query"],
        ["measure.py", "--sf", "/nonexistent-sf", "time", "no_such_query"],
    ],
    ids=lambda argv: argv[0].removesuffix(".py"),
)
def test_verify_driver_contract_rejects_unknown_query_before_spark(argv):
    """An unregistered query name exits 1 before any SparkSession, in
    each tool that takes query names: with JAVA_HOME pointing nowhere,
    a JVM launch would end in a traceback instead of the tool's own
    message."""
    env = {**os.environ, "JAVA_HOME": "/nonexistent-java-home"}
    out = subprocess.run(
        [sys.executable, str(TOOLS / argv[0]), *argv[1:]],
        capture_output=True,
        text=True,
        env=env,
        timeout=120,
    )
    assert out.returncode == 1
    assert "unknown queries: no_such_query" in out.stdout
    assert "Traceback" not in out.stderr
    assert "ansi:" not in out.stdout
