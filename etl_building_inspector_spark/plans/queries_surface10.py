"""Tenth analytics-surface batch: native session-window aggregation
(the built-in Structured-Streaming-compatible sessionizer, exercised
in batch), per-vertex local clustering (the triangle/wedge rationals
behind the clustering coefficient), trailing-median volume anomaly
detection, and the nearest (bidirectional) as-of join.

Oracle discipline per queries_core.py: integer cents before any
aggregation, exact trailing medians via a sorted 7-element array
(odd window => the median IS an element, no interpolation), window
functions with total tiebreaks, microsecond-exact time arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.timeutil import epoch_micros
from ..sources.tables import load_table
from .queries_surface4 import COPURCHASE_EDGES_SQL, _co_order_edges
from .registry import query


SESSION_GAP_MIN = 30
VOLUME_MED_DAYS = 7  # trailing window (odd => exact element median)
CLUSTERING_TOP_K = 50


# ---------------------------------------------------------------------------
# Native session windows in BATCH: F.session_window(ts, gap) is the
# same operator Structured Streaming uses for stateful sessionization,
# so running it in batch pins the semantics the streaming job will
# have. Boundary semantics probed empirically (same probe as
# queries_streaming.py's): an event landing EXACTLY at prev_ts + gap
# still MERGES -- a new session needs gap STRICTLY > the duration,
# matching events_sessionize's manual `>` convention exactly.
# ---------------------------------------------------------------------------

_SESSION_WINDOW_SQL = f"""
WITH marked AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 100, 0) AS BIGINT) AS cents,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(CAST(ts AS TIMESTAMP))
                 - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP))
                 > {SESSION_GAP_MIN * 60 * 1_000_000}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, cents,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sid
  FROM marked
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM sess GROUP BY user_id, sid
"""


@query("events_session_window_native", _SESSION_WINDOW_SQL)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session aggregation through Spark's NATIVE
    session_window -- the identical operator a readStream job would
    use with watermarked state, so batch output here IS the streaming
    contract (modulo late data). One shuffle on user_id; the gap-merge
    happens inside the session-window aggregation, no self-join and no
    second pass. Boundary semantics probed empirically: an event
    landing EXACTLY gap after its predecessor still MERGES (a new
    session needs gap > duration), so the oracle's manual gap-merge
    uses strict `>` -- the same convention as events_sessionize and
    the streaming sessionizer's probe (queries_streaming.py:9-14)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    sess = ev.groupBy(
        "user_id",
        F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("sw"),
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(cents).alias("sum_cents"),
    )
    return sess.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        "n_events",
        F.col("sum_cents").cast("long").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# Local clustering: per-vertex (degree, wedges, triangles) over the
# co-purchase graph -- exact rationals for the clustering coefficient.
# ---------------------------------------------------------------------------

_LOCAL_CLUSTERING_SQL = f"""
WITH e AS (
{COPURCHASE_EDGES_SQL}
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1 JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
), pertri AS (SELECT unnest([a, b, c]) AS vertex FROM tri),
tcount AS (SELECT vertex, count(*) AS n_tri FROM pertri GROUP BY 1),
deg AS (
  SELECT vertex, count(*) AS degree
  FROM (SELECT u AS vertex FROM e UNION ALL SELECT v AS vertex FROM e) d
  GROUP BY 1
)
SELECT CAST(deg.vertex AS BIGINT) AS vertex,
       CAST(degree AS BIGINT) AS degree,
       CAST(degree * (degree - 1) // 2 AS BIGINT) AS n_wedges,
       CAST(coalesce(n_tri, 0) AS BIGINT) AS n_triangles
FROM deg LEFT JOIN tcount ON tcount.vertex = deg.vertex
ORDER BY n_triangles DESC, vertex LIMIT {CLUSTERING_TOP_K}
"""


@query("graph_local_clustering", _LOCAL_CLUSTERING_SQL)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 vertices of the co-purchase graph by local triangle
    count, with the exact clustering-coefficient rationals (triangles,
    wedges = deg*(deg-1)/2) left as integers. Spark runs the
    degree-oriented enumeration (operators/graph.py::
    local_triangle_counts, O(m^1.5) wedge bound); the oracle
    enumerates id-ordered triangles directly -- same multiset. Orders
    hold <= 7 lines each, so the per-order pair fanout is bounded
    (the same argument as graph_triangle_count)."""
    from ..operators.graph import local_triangle_counts

    out = local_triangle_counts(_co_order_edges(spark, sf_dir))
    return out.orderBy(F.col("n_triangles").desc(), "vertex").limit(
        CLUSTERING_TOP_K
    )


# ---------------------------------------------------------------------------
# Volume anomaly: per event_type, daily row count vs the EXACT median
# of the trailing 7 observed days (odd window, sorted-array middle --
# no interpolation, no percentile UDAF), flag when the count doubles
# or halves against it. Integer comparisons only.
# ---------------------------------------------------------------------------

_VOLUME_ANOMALY_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
  FROM events GROUP BY 1, 2
), lagged AS (
  SELECT event_type, day, n_events,
         [lag(n_events, 1) OVER w, lag(n_events, 2) OVER w,
          lag(n_events, 3) OVER w, lag(n_events, 4) OVER w,
          lag(n_events, 5) OVER w, lag(n_events, 6) OVER w,
          lag(n_events, 7) OVER w] AS trail
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
)
SELECT event_type, day, CAST(n_events AS BIGINT) AS n_events,
       CAST(list_sort(trail)[4] AS BIGINT) AS med7,
       (n_events > 2 * list_sort(trail)[4]
        OR 2 * n_events < list_sort(trail)[4]) AS is_anomaly
FROM lagged
WHERE NOT list_contains(list_transform(trail, x -> x IS NULL), true)
ORDER BY event_type, day
"""


@query("dq_volume_anomaly_daily", _VOLUME_ANOMALY_SQL)
def dq_volume_anomaly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily ingest-volume anomaly flags: a day is anomalous when its
    row count more than doubles or halves against the EXACT median of
    the trailing 7 observed days. The median of an
    odd-width window is the middle element of the sorted lag array --
    pure integer selection, no percentile interpolation, so both
    engines agree bit-for-bit. Days without a full trailing window are
    excluded (a rule, not a null-fudge). One narrow daily rollup + one
    per-type window."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("day")
    trail = F.array(
        *[F.lag("n_events", i).over(w) for i in range(1, VOLUME_MED_DAYS + 1)]
    )
    lagged = daily.select("event_type", "day", "n_events", trail.alias("trail"))
    med = F.element_at(F.array_sort("trail"), (VOLUME_MED_DAYS + 1) // 2)
    return (
        lagged.filter(~F.exists("trail", lambda x: x.isNull()))
        .select(
            "event_type",
            "day",
            F.col("n_events").cast("long").alias("n_events"),
            med.cast("long").alias("med7"),
            (
                (F.col("n_events") > 2 * med) | (2 * F.col("n_events") < med)
            ).alias("is_anomaly"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Nearest as-of join: for every purchase, the click closest in time in
# EITHER direction (ties: the earlier click wins). Carry-forward plus
# carry-backward over one tagged union -- still one shuffle on
# user_id, no range explosion; the backward-looking ASOF is the same
# machinery as asof_join_click_purchase run in both directions.
# ---------------------------------------------------------------------------

_ASOF_NEAREST_SQL = """
WITH u AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag
  FROM events WHERE event_type IN ('click', 'purchase')
), carried AS (
  SELECT user_id, ts, event_id, tag,
         last_value(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, tag, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS prev_click_id,
         last_value(CASE WHEN tag = 0 THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, tag, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS prev_click_ts,
         first_value(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, tag, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS next_click_id,
         first_value(CASE WHEN tag = 0 THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, tag, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS next_click_ts
  FROM u
)
SELECT CAST(event_id AS BIGINT) AS purchase_id,
       CAST(user_id AS BIGINT) AS user_id,
       CAST(CASE
         WHEN prev_click_id IS NULL THEN next_click_id
         WHEN next_click_id IS NULL THEN prev_click_id
         WHEN epoch_us(CAST(next_click_ts AS TIMESTAMP))
              - epoch_us(CAST(ts AS TIMESTAMP))
              < epoch_us(CAST(ts AS TIMESTAMP))
              - epoch_us(CAST(prev_click_ts AS TIMESTAMP))
           THEN next_click_id ELSE prev_click_id END AS BIGINT)
         AS click_id,
       CAST(least(
         coalesce(epoch_us(CAST(ts AS TIMESTAMP))
                  - epoch_us(CAST(prev_click_ts AS TIMESTAMP)),
                  9223372036854775807),
         coalesce(epoch_us(CAST(next_click_ts AS TIMESTAMP))
                  - epoch_us(CAST(ts AS TIMESTAMP)),
                  9223372036854775807)) AS BIGINT) AS dist_us
FROM carried
WHERE tag = 1 AND (prev_click_id IS NOT NULL OR next_click_id IS NOT NULL)
"""


@query("asof_join_nearest", _ASOF_NEAREST_SQL)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of join: each purchase matched to its
    closest click in either direction (per user), tie going to the
    EARLIER click. Both directions come from the same tagged union
    with one carry-forward and one carry-backward window (clicks sort
    before purchases at equal ts via the tag, so a same-instant click
    counts as distance 0 in both directions and the backward branch's
    tie rule picks it) -- one shuffle on user_id total, no
    per-purchase range probe, no join explosion."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("tag"),
    )
    fwd = Window.partitionBy("user_id").orderBy(
        "ts", "tag", "event_id"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bwd = Window.partitionBy("user_id").orderBy(
        "ts", "tag", "event_id"
    ).rowsBetween(Window.currentRow, Window.unboundedFollowing)
    click_id = F.when(F.col("tag") == 0, F.col("event_id"))
    click_ts = F.when(F.col("tag") == 0, F.col("ts"))
    carried = u.select(
        "user_id",
        "ts",
        "event_id",
        "tag",
        F.last(click_id, ignorenulls=True).over(fwd).alias("prev_click_id"),
        F.last(click_ts, ignorenulls=True).over(fwd).alias("prev_click_ts"),
        F.first(click_id, ignorenulls=True).over(bwd).alias("next_click_id"),
        F.first(click_ts, ignorenulls=True).over(bwd).alias("next_click_ts"),
    )
    big = F.lit(9223372036854775807)
    d_prev = F.coalesce(
        epoch_micros(F.col("ts")) - epoch_micros(F.col("prev_click_ts")), big
    )
    d_next = F.coalesce(
        epoch_micros(F.col("next_click_ts")) - epoch_micros(F.col("ts")), big
    )
    return (
        carried.filter(
            (F.col("tag") == 1)
            & (
                F.col("prev_click_id").isNotNull()
                | F.col("next_click_id").isNotNull()
            )
        )
        .select(
            F.col("event_id").cast("long").alias("purchase_id"),
            F.col("user_id").cast("long").alias("user_id"),
            F.when(F.col("prev_click_id").isNull(), F.col("next_click_id"))
            .when(F.col("next_click_id").isNull(), F.col("prev_click_id"))
            .when(d_next < d_prev, F.col("next_click_id"))
            .otherwise(F.col("prev_click_id"))
            .cast("long")
            .alias("click_id"),
            F.least(d_prev, d_next).cast("long").alias("dist_us"),
        )
    )
