"""Timestamp -> epoch arithmetic that is exact to the microsecond and
type-agnostic across TIMESTAMP (tz-aware, instant semantics) and
TIMESTAMP_NTZ (wall-clock semantics).

Why this exists: the testdata's `events.ts` is TIMESTAMP_NTZ with real
microsecond fractions. Spark 4 refuses `cast(ntz AS double)` outright
(DATATYPE_MISMATCH), and `unix_micros` is declared on TIMESTAMP, so any
numeric gap/bucket arithmetic needs an explicit bridge. With the session
timezone pinned to UTC (session.py:40) the cast NTZ->TIMESTAMP maps wall
clock to the identical instant, so `epoch_micros` agrees exactly with
DuckDB's `epoch_us(CAST(ts AS TIMESTAMP))` on the same parquet — which is
what the oracle twins compare against.

Precision note: epoch *micros as BIGINT* is the only lossless currency.
A double holds 53 mantissa bits; epoch-micros of 2024 dates are ~1.7e15,
within 2^53 (~9e15), so double division for coarse bucketing is safe,
but comparisons should happen on the integer micros.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_micros(col: Column | str) -> Column:
    """Microseconds since epoch as BIGINT, for TIMESTAMP or
    TIMESTAMP_NTZ columns (NTZ read as UTC wall clock — the session
    timezone is pinned UTC so the cast is instant-preserving)."""
    c = F.col(col) if isinstance(col, str) else col
    # cast through TIMESTAMP: identity for TIMESTAMP, UTC-wall-clock
    # for NTZ under the pinned session tz; unix_micros is then exact.
    return F.unix_micros(c.cast("timestamp"))
