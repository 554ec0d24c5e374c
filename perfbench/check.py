"""Output checks: order-insensitive digests of query results.

A result is reduced to (row count, sum and xor of per-row md5, sorted
column names) over canonical rows: columns sorted by name, floats by
full-precision ``repr``, NaN as a string and lists as tuples, element
by element. That is the canonical form of the repository's DuckDB
oracle gate (``tests/test_queries_oracle.py``), so a Spark result and
its DuckDB twin digest equal exactly when their column names and row
multisets are equal.
"""

from __future__ import annotations

import hashlib
import math

_MOD = 1 << 160


def _canon(val):
    if isinstance(val, float):
        return "NaN" if math.isnan(val) else repr(val)
    if isinstance(val, list):
        return tuple(_canon(x) for x in val)
    return val


def digest_rows(columns: list[str], rows) -> list:
    """[count, sum mod 2^160, xor, sorted column names] of the canonical
    rows, as a JSON-safe list (the big integers as hex strings)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    n = acc_sum = acc_xor = 0
    for r in rows:
        row = tuple(_canon(r[i]) for i in order)
        h = int.from_bytes(hashlib.md5(repr(row).encode()).digest(), "big")
        n += 1
        acc_sum = (acc_sum + h) % _MOD
        acc_xor ^= h
    return [n, f"{acc_sum:x}", f"{acc_xor:x}", sorted(columns)]


def duckdb_digest(con, sql: str) -> list:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return digest_rows(cols, res.fetchall())


def duckdb_connect(tables_dir: str):
    """DuckDB connection with every fixture table as a view."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{tables_dir}/{name}.parquet')"
        )
    return con
