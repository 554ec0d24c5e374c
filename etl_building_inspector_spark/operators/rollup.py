"""Hypertable-style multi-resolution time rollups (continuous-aggregate
pattern): aggregate events at a fine resolution once, then derive every
coarser resolution by RE-AGGREGATING THE PARTIALS instead of rescanning
raw data.

At 100 TB this is the difference between one full scan per resolution
and one full scan total: the 1-minute partials are ~5-6 orders of
magnitude smaller than raw events, so hourly/daily/monthly levels cost
~nothing. Exactness holds because every aggregate carried is algebraic
(count, sum, min, max; avg derived at read time from sum/count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# window duration strings must be multiples of the previous level
DEFAULT_RESOLUTIONS = ("1 minute", "1 hour", "1 day")


def rollup_base(events: DataFrame, resolution: str) -> DataFrame:
    """Finest-level rollup straight from raw events (one scan)."""
    return (
        events.groupBy(
            F.window("ts", resolution).alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
            "min_value",
            "max_value",
        )
    )


def rollup_coarser(finer: DataFrame, resolution: str) -> DataFrame:
    """Derive a coarser level from a finer level's partials -- the
    continuous-aggregate re-aggregation. Input/output share one schema,
    so levels chain."""
    return (
        finer.groupBy(
            F.window("bucket_start", resolution).alias("w"), "event_type"
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
            "min_value",
            "max_value",
        )
    )


def hypertable_rollup(
    events: DataFrame,
    resolutions: tuple[str, ...] = DEFAULT_RESOLUTIONS,
) -> dict[str, DataFrame]:
    """All levels; level i>0 is computed from level i-1's partials.
    Each coarser window must be a multiple of the finer one (window
    starts then align, so re-aggregation is lossless)."""
    out: dict[str, DataFrame] = {}
    finer: DataFrame | None = None
    for res in resolutions:
        level = (
            rollup_base(events, res)
            if finer is None
            else rollup_coarser(finer, res)
        )
        out[res] = level
        finer = level
    return out
