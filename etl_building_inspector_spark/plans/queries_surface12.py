"""Twelfth analytics-surface batch: exponentially-decayed customer
value in pure INTEGER fixed point (decay by right-shift halvings, so
the 'float-looking' metric is exactly engine-portable), and
incremental count-distinct materialized-view maintenance via
first-seen marks.

Oracle discipline per queries_core.py: integer cents, decay as
cents DIV 2^age (integer), the MV delta computed without rescanning
history's distincts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query


DECAY_HALF_LIFE_DAYS = 30  # value halves every 30 days of age
DECAY_MAX_HALVINGS = 62  # beyond this the shifted value is 0 anyway
MV_DELTA_DAYS = 7  # the "new batch" = the last 7 days of events


# ---------------------------------------------------------------------------
# Decayed customer value, exact: every order contributes
# cents DIV 2^(age_days DIV 30). Halving instead of exp() keeps the
# decay INTEGER -- associative, partition-order-independent, and
# identical on every engine; the classic sum(cents * exp(-age/tau))
# is none of those.
# ---------------------------------------------------------------------------

_DECAY_SQL = f"""
WITH as_of AS (SELECT max(CAST(o_orderdate AS DATE)) AS today FROM orders),
contrib AS (
  SELECT o_custkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT)
           // (CAST(1 AS BIGINT) << least(
                date_diff('day', CAST(o_orderdate AS DATE), today)
                  // {DECAY_HALF_LIFE_DAYS},
                {DECAY_MAX_HALVINGS}))
           AS dec_cents,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders, as_of
)
SELECT CAST(o_custkey AS BIGINT) AS custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS raw_cents,
       CAST(sum(dec_cents) AS BIGINT) AS decayed_cents
FROM contrib GROUP BY o_custkey
"""


@query("customer_decayed_value_fixedpoint", _DECAY_SQL)
def customer_decayed_value_fixedpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed customer value with a 30-day half life, in
    exact integer fixed point: each order contributes
    cents >> (age_days DIV 30). Shift-decay is the engine-portable
    form of exponential decay -- integer, associative (safe under any
    partitioning/merge order), and within 2x of e^-lambda*age
    everywhere, which is all a ranking signal needs. The as-of date is
    the table's max order date (broadcast one-row cross). One
    groupBy(custkey) shuffle."""
    o = load_table(spark, sf_dir, "orders")
    asof = o.agg(F.max(F.to_date("o_orderdate")).alias("today"))
    contrib = o.crossJoin(F.broadcast(asof)).select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        F.expr(
            f"CAST(round(o_totalprice * 100, 0) AS BIGINT) DIV "
            f"(CAST(1 AS BIGINT) << least("
            f"datediff(today, to_date(o_orderdate)) DIV {DECAY_HALF_LIFE_DAYS}, "
            f"{DECAY_MAX_HALVINGS}))"
        ).alias("dec_cents"),
    )
    return (
        contrib.groupBy(F.col("o_custkey").cast("long").alias("custkey"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").cast("long").alias("raw_cents"),
            F.sum("dec_cents").cast("long").alias("decayed_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental COUNT-DISTINCT MV maintenance: the delta to a per-type
# distinct-user view is the number of (type, user) pairs whose FIRST
# occurrence falls in the delta window -- computable from one
# first-seen aggregation, no rescan of the historical distinct set.
# ---------------------------------------------------------------------------

_MV_DISTINCT_SQL = f"""
WITH bounds AS (
  SELECT max(CAST(ts AS DATE)) - {MV_DELTA_DAYS} AS cutoff FROM events
), first_seen AS (
  SELECT event_type, user_id, min(CAST(ts AS DATE)) AS first_day
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS mv_distinct_users,
       CAST(sum(CASE WHEN first_day > cutoff THEN 1 ELSE 0 END) AS BIGINT)
         AS delta_new_users,
       CAST(sum(CASE WHEN first_day <= cutoff THEN 1 ELSE 0 END) AS BIGINT)
         AS base_distinct_users
FROM first_seen, bounds
GROUP BY event_type ORDER BY event_type
"""


@query("mv_distinct_delta_maintenance", _MV_DISTINCT_SQL)
def mv_distinct_delta_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a count-distinct MV: the refreshed
    per-type distinct-user count splits exactly into base (first seen
    at or before the cutoff) + delta (first seen inside the last-7-day
    batch) -- the first-seen mark is the reusable state that makes
    DISTINCT incrementally maintainable (an HLL sketch is the lossy
    version; this is the exact one). One (type, user) aggregation,
    then a per-type rollup: base + delta == total is checkable row by
    row. Companion to mv_join_delta_maintenance."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_sub(F.max(F.to_date("ts")), MV_DELTA_DAYS).alias("cutoff")
    )
    first_seen = ev.groupBy("event_type", "user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    return (
        first_seen.crossJoin(F.broadcast(bounds))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("mv_distinct_users"),
            F.sum(
                F.when(F.col("first_day") > F.col("cutoff"), 1).otherwise(0)
            )
            .cast("long")
            .alias("delta_new_users"),
            F.sum(
                F.when(F.col("first_day") <= F.col("cutoff"), 1).otherwise(0)
            )
            .cast("long")
            .alias("base_distinct_users"),
        )
        .orderBy("event_type")
    )
