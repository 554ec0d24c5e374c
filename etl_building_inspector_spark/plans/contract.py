"""Driver-contract schema guard.

The driver canonicalizes each registered query's result by sorting raw
pandas columns and hashing cell values; a cell holding a Python list
(ArrayType), dict (MapType), or Row (StructType) is unhashable and
crashes the comparator (`TypeError: unhashable type: 'list'`,
CORRECTNESS_r05 `emb_pq_encode`). The local oracle gate used to paper
over this by canonicalizing lists to tuples, so the class of failure
was invisible locally while fatal at the driver.

This module is the single choke point that keeps it impossible:
`assert_scalar_output_schema` FAILS any result schema containing a
nested type, and is called by tools/oracle_check.py,
tools/verify_driver_contract.py and both per-query tests of
tests/test_queries_oracle.py, which together cover every registered
query. `canon` is the one cell canonicaliser, and `oracle_connection`
the one DuckDB connection over the fixtures, of the oracle gate and
the default-tier oracle test.

Queries that naturally produce nested values must explode/flatten to
scalar rows before registration (see emb_pq_encode's reshape).
"""

from __future__ import annotations

import math

from pyspark.sql.types import ArrayType, MapType, StructType

from ..schemas import TESTDATA_TABLES

NESTED_TYPES = (ArrayType, MapType, StructType)


def nested_output_fields(schema: StructType) -> list[str]:
    """Names of top-level result columns with driver-unhashable types."""
    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, NESTED_TYPES)
    ]


def assert_scalar_output_schema(schema: StructType, name: str) -> None:
    """Raise TypeError if any result column is Array/Map/Struct-typed.

    The driver's comparator cannot hash such cells; a query that would
    pass every value check still lands as a red `err` row. Fail loudly
    at registration/gate time instead.
    """
    bad = nested_output_fields(schema)
    if bad:
        raise TypeError(
            f"{name}: driver-uncanonicalizable output schema -- "
            f"column(s) {bad} are Array/Map/Struct-typed. The driver "
            "hashes scalar cells only; explode or flatten to scalar "
            "rows before registering (see emb_pq_encode)."
        )


def canon(val):
    """Canonicalize a cell for multiset comparison.

    Deliberately NO list->tuple conversion: the driver's comparator
    hashes raw pandas cells and crashes on list values, so this
    replica must be exactly as strict (the old tuple fallback is how
    emb_pq_encode passed locally while dying at the driver --
    CORRECTNESS_r05). The schema guard above rejects nested output
    before any row is fetched; if a list ever reaches here anyway it
    raises unhashable just like the driver would.
    """
    if isinstance(val, float):
        if math.isnan(val):
            return "NaN"
        return repr(val)  # full precision repr: bit-exact comparison
    return val


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one view per fixture table of
    ``sf_dir``, named as the oracle SQL names it."""
    import duckdb

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con
