"""Pins for tools/make_scaled_fixture.py (the derived-scale soak
generator): key-shift replication must preserve referential integrity
across copies for EVERY join the registered queries perform --
including events.user_id = customer.c_custkey (ADVICE r8: the 'user'
entity had its own stride, so copy-i events joined copy-0 customers;
user_id now shares the 'cust' stride)."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import duckdb

SRC = "/root/testdata/sf0.001"
TOOL = Path(__file__).resolve().parents[1] / "tools" / "make_scaled_fixture.py"


def _build(tmp_path, factor=2):
    dst = str(tmp_path / "derived")
    subprocess.run(
        [sys.executable, str(TOOL), SRC, dst, str(factor)],
        check=True,
        capture_output=True,
    )
    return dst


def test_events_customer_join_symmetric_across_copies(tmp_path):
    dst = _build(tmp_path)
    con = duckdb.connect()
    base = con.execute(
        f"SELECT count(*) FROM read_parquet('{SRC}/events.parquet') e "
        f"JOIN read_parquet('{SRC}/customer.parquet') c ON e.user_id = c.c_custkey"
    ).fetchone()[0]
    assert base > 0, "fixture must exercise the stream-enrichment join"
    # the cust stride is shared, so each copy joins exactly `base` rows
    # and the total is factor * base -- no cross-copy leakage, no
    # dangling copies
    rows = con.execute(
        f"SELECT count(*) FROM read_parquet('{dst}/events.parquet') e "
        f"JOIN read_parquet('{dst}/customer.parquet') c ON e.user_id = c.c_custkey"
    ).fetchone()[0]
    assert rows == 2 * base
    # and no event joins a customer from a DIFFERENT copy: stride is
    # a power of ten above max(c_custkey), so copy index = key DIV
    # stride must agree on both sides of every joined pair
    stride = con.execute(
        f"SELECT max(c_custkey) FROM read_parquet('{dst}/customer.parquet')"
    ).fetchone()[0]
    # recover the stride as the smallest power of 10 > base max key
    base_max = con.execute(
        f"SELECT max(c_custkey) FROM read_parquet('{SRC}/customer.parquet')"
    ).fetchone()[0]
    s = 10
    while s <= base_max:
        s *= 10
    cross = con.execute(
        f"SELECT count(*) FROM read_parquet('{dst}/events.parquet') e "
        f"JOIN read_parquet('{dst}/customer.parquet') c ON e.user_id = c.c_custkey "
        f"WHERE e.user_id // {s} <> c.c_custkey // {s}"
    ).fetchone()[0]
    assert cross == 0


def test_all_fk_joins_scale_linearly(tmp_path):
    """Every registered FK join (orders->customer, lineitem->orders/
    part/supplier) must return exactly factor x base rows on the
    derived fixture."""
    dst = _build(tmp_path)
    con = duckdb.connect()
    joins = [
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ]
    for ft, fk, dt, dk in joins:
        base = con.execute(
            f"SELECT count(*) FROM read_parquet('{SRC}/{ft}.parquet') f "
            f"JOIN read_parquet('{SRC}/{dt}.parquet') d ON f.{fk} = d.{dk}"
        ).fetchone()[0]
        got = con.execute(
            f"SELECT count(*) FROM read_parquet('{dst}/{ft}.parquet') f "
            f"JOIN read_parquet('{dst}/{dt}.parquet') d ON f.{fk} = d.{dk}"
        ).fetchone()[0]
        assert got == 2 * base, f"{ft}.{fk} -> {dt}.{dk}: {got} != 2*{base}"
