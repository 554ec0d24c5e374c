"""Structured Streaming surface (north-star extension; the reference is
batch-only, SURVEY section 2.9 -- its hand-rolled lazy-pull streams are
an execution detail, not event-time semantics).

The batch twins of these queries live in plans/queries_core.py
(events_windowed_agg / events_sessionize) and carry DuckDB oracles;
here the same logical plans run incrementally with watermarks. Tests
drive them with the parquet fixture as a bounded stream and a memory
sink (processAllAvailable), which exercises the real incremental
execution path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over a directory of parquet event files. At
    production scale this is a Kafka source; the transformations below
    are source-agnostic."""
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(path)


def streaming_windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
) -> DataFrame:
    """Tumbling-window counts per event type with late-data handling.

    The 2-hour watermark bounds state: at 100 TB/day the state store holds
    only (windows within watermark) x (event types), and late events
    beyond it are dropped deterministically.
    """
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "approx_users",
            "sum_value",
        )
    )


def session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native session windows (gap-based), the streaming twin of the
    batch lag+cumsum sessionization (events_sessionize query)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    dropDuplicatesWithinWatermark keeps a key only until the watermark
    passes it, so state is O(keys per watermark horizon) instead of
    O(all keys ever) — the difference between a dedup that runs
    forever on an unbounded firehose and one that OOMs. The streaming
    twin of the batch D1 keep-first dedup (same key contract); at
    100 TB/day this is the ingest-side guard in front of the corpus-
    level MinHash/SimHash passes."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def stream_stream_click_purchase_join(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: purchase attributed to the same
    user's click within `horizon` before it (the streaming twin of the
    batch as-of join, relaxed to all-matches-in-range — streaming
    cannot pick "latest" without a window after the join).

    Both sides are watermarked and the join carries a TIME-RANGE
    predicate, so Spark derives state-eviction watermarks per side:
    a click is dropped from state once no future purchase can reach
    it. Without the range condition the state would grow unboundedly
    — the condition IS the scale design."""
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}")
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def run_to_memory(df: DataFrame, name: str, mode: str = "complete") -> DataFrame:
    """Drive a bounded stream to completion synchronously; returns the
    materialized result table. mode='complete' for aggregations;
    'append' for plans that FORBID complete (stream-stream joins,
    append-only stateful ops) -- inner-join matches emit as soon as
    both sides arrive, so a bounded replay materializes every match;
    only watermark-gated emissions (outer-join nulls, closed windows)
    would additionally need an end-of-stream flush at the source."""
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.sql(f"SELECT * FROM {name}")


def run_to_memory_append(df: DataFrame, name: str) -> DataFrame:
    """run_to_memory with append mode (kept as a named entry point)."""
    return run_to_memory(df, name, mode="append")
