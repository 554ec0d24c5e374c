"""Oracle conformance at sf0.001 for every registered query -- the
same comparison the driver does at sf0.01 (scalar output schema, row
count, column names, order-insensitive value multiset), run fast
enough for CI. The schema guard and the cell canonicaliser are the
gate's own (plans/contract.py), so a nested output column fails here
as it does in tools/oracle_check.py."""

from __future__ import annotations

from collections import Counter

import duckdb
import pytest

from etl_building_inspector_spark.plans.contract import (
    assert_scalar_output_schema,
    canon,
)
from etl_building_inspector_spark.plans.registry import ORACLES, QUERIES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, duck):
    sdf = QUERIES[name](spark, SF_DIR)
    assert_scalar_output_schema(sdf.schema, name)
    spark_cols = sdf.columns
    res = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    assert sorted(spark_cols) == sorted(duck_cols)

    s_idx = [spark_cols.index(c) for c in sorted(spark_cols)]
    d_idx = [duck_cols.index(c) for c in sorted(duck_cols)]
    spark_rows = Counter(
        tuple(canon(r[i]) for i in s_idx) for r in sdf.collect()
    )
    duck_rows = Counter(
        tuple(canon(r[i]) for i in d_idx) for r in res.fetchall()
    )
    assert spark_rows == duck_rows


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(name, spark):
    df = QUERIES[name](spark, SF_DIR)
    assert_scalar_output_schema(df.schema, name)
    assert df.count() >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
