"""Eighth analytics-surface batch: equi-depth histograms (the
quantile-bucket profile, complementing agg_histogram's equi-WIDTH
buckets), inter-purchase interval statistics, trailing-window z-score
anomaly detection in a fully integer domain, geohash-style cell
density, DBSCAN core-point detection via the grid join, bitemporal
as-of reconstruction, and value-distribution drift (TVD).

Oracle discipline per queries_core.py: money in BIGINT cents before
any aggregation, comparisons cross-multiplied instead of divided,
row_number with total tiebreaks, every ratio reported as an exact
integer ppm or a single final division of exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query


# shared constants
EQUI_DEPTH_BUCKETS = 10
INTERPURCHASE_MIN_ORDERS = 3
ZSCORE_BASELINE = 7  # trailing OBSERVED days (ROWS frame, see docstring)
ZSCORE_K = 3  # flag beyond 3 sigma


# ---------------------------------------------------------------------------
# Equi-depth histogram: ntile over a total order with a deterministic
# tiebreak. The dual of agg_histogram (equi-width): depth buckets are
# what optimizers and drift monitors actually store, because each
# bucket carries the same mass.
# ---------------------------------------------------------------------------

_EQUI_SQL = f"""
WITH c AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders),
b AS (
  SELECT cents,
         ntile({EQUI_DEPTH_BUCKETS}) OVER (ORDER BY cents, o_orderkey) AS bucket
  FROM c)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(cents) AS BIGINT) AS min_cents,
       CAST(max(cents) AS BIGINT) AS max_cents,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM b GROUP BY bucket ORDER BY bucket
"""


@query("histogram_equi_depth", _EQUI_SQL)
def histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-bucket) histogram of order totals: ntile
    over (cents, orderkey) -- the tiebreak makes bucket membership
    deterministic even at repeated values, which is what lets the
    oracle hash the bucket BOUNDS, not just counts. Scale note: ntile
    needs a total order (one global sort); production equi-depth at
    100 TB samples or sketches instead -- this is the exact-reference
    implementation those approximations are validated against."""
    o = load_table(spark, sf_dir, "orders")
    c = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    w = Window.orderBy("cents", "o_orderkey")
    b = c.withColumn("bucket", F.ntile(EQUI_DEPTH_BUCKETS).over(w))
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("cents").cast("long").alias("min_cents"),
            F.max("cents").cast("long").alias("max_cents"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .select(F.col("bucket").cast("long").alias("bucket"), "n",
                "min_cents", "max_cents", "sum_cents")
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Inter-purchase intervals: per-customer gap stats via one lag window.
# The everyday lifecycle metric (repeat-purchase cadence) and the
# input to churn heuristics.
# ---------------------------------------------------------------------------

_INTERP_SQL = f"""
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey FROM orders),
g AS (
  SELECT o_custkey,
         date_diff('day',
           lag(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey),
           d) AS gap
  FROM o),
s AS (
  SELECT o_custkey,
         count(*) AS n_orders,
         count(gap) AS n_gaps,
         min(gap) AS min_gap,
         max(gap) AS max_gap,
         sum(gap) AS sum_gap
  FROM g GROUP BY o_custkey)
SELECT CAST(o_custkey AS BIGINT) AS custkey,
       CAST(n_orders AS BIGINT) AS n_orders,
       CAST(min_gap AS BIGINT) AS min_gap_days,
       CAST(max_gap AS BIGINT) AS max_gap_days,
       CAST(sum_gap // n_gaps AS BIGINT) AS avg_gap_days
FROM s WHERE n_orders >= {INTERPURCHASE_MIN_ORDERS}
ORDER BY custkey
"""


@query("customer_interpurchase_stats", _INTERP_SQL)
def customer_interpurchase_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer inter-purchase gap statistics (repeat-purchase
    cadence): one lag window partitioned by customer, one groupBy --
    both shuffle on the same key, so AQE coalesces them into one
    exchange. Gaps in whole days, mean as integer DIV: exact."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("d"), "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    g = o.withColumn("gap", F.datediff(F.col("d"), F.lag("d").over(w)))
    return (
        g.groupBy("o_custkey")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.count("gap").alias("n_gaps"),
            F.min("gap").cast("long").alias("min_gap_days"),
            F.max("gap").cast("long").alias("max_gap_days"),
            F.sum("gap").alias("sum_gap"),
        )
        .where(F.col("n_orders") >= INTERPURCHASE_MIN_ORDERS)
        .select(
            F.col("o_custkey").cast("long").alias("custkey"),
            "n_orders",
            "min_gap_days",
            "max_gap_days",
            F.expr("sum_gap DIV n_gaps").cast("long").alias("avg_gap_days"),
        )
        .orderBy("custkey")
    )


# ---------------------------------------------------------------------------
# Trailing z-score anomaly detection, zero floats: flag day d when
# |x_d - mean(base)| > K * std(base) over the previous ZSCORE_BASELINE
# full days -- cross-multiplied to (n*x - s)^2 > K^2 * (n*q - s^2),
# exact BIGINTs end to end. Bound: daily cents ~2e7 at sf0.1 ->
# n*q ~ 2e16, squares ~2e16, 450x below BIGINT overflow (re-derive
# before running at sf >= 1 with e2 money).
# ---------------------------------------------------------------------------

_ZSCORE_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, CAST(ts AS DATE)),
w AS (
  SELECT event_type, day, cents,
         count(*) OVER tw AS base_n,
         sum(cents) OVER tw AS s,
         sum(cents * cents) OVER tw AS q
  FROM daily
  WINDOW tw AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN {ZSCORE_BASELINE} PRECEDING AND 1 PRECEDING))
SELECT event_type, day,
       CAST(cents AS BIGINT) AS cents,
       CAST(({ZSCORE_BASELINE} * cents - s)
            * ({ZSCORE_BASELINE} * cents - s) AS BIGINT) AS lhs,
       CAST({ZSCORE_K * ZSCORE_K} * ({ZSCORE_BASELINE} * q - s * s) AS BIGINT) AS rhs,
       ({ZSCORE_BASELINE} * cents - s) * ({ZSCORE_BASELINE} * cents - s)
         > {ZSCORE_K * ZSCORE_K} * ({ZSCORE_BASELINE} * q - s * s) AS is_anomaly
FROM w WHERE base_n = {ZSCORE_BASELINE}
ORDER BY event_type, day
"""


@query("timeseries_zscore_anomaly", _ZSCORE_SQL)
def timeseries_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-revenue anomaly flags per event type: baseline = the 7
    trailing OBSERVED days (a ROWS frame over the per-day aggregate --
    a calendar day with zero events extends the baseline's calendar
    span rather than shrinking the sample; use a RANGE frame like
    window_range_frames when strict calendar recency matters), 3-sigma
    test cross-multiplied into exact BIGINTs (no sqrt, no division --
    the flag AND both test sides are value-checked). One window per
    type partition; at 100 TB the daily pre-aggregation collapses the
    stream before any window state exists."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    tw = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-ZSCORE_BASELINE, -1)
    )
    n, k2 = ZSCORE_BASELINE, ZSCORE_K * ZSCORE_K
    w = (
        daily.withColumn("base_n", F.count("*").over(tw))
        .withColumn("s", F.sum("cents").over(tw))
        .withColumn("q", F.sum(F.col("cents") * F.col("cents")).over(tw))
        .where(F.col("base_n") == n)
    )
    dev = F.lit(n) * F.col("cents") - F.col("s")
    var_num = F.lit(n) * F.col("q") - F.col("s") * F.col("s")
    return w.select(
        "event_type",
        "day",
        F.col("cents").cast("long").alias("cents"),
        (dev * dev).cast("long").alias("lhs"),
        (F.lit(k2) * var_num).cast("long").alias("rhs"),
        (dev * dev > F.lit(k2) * var_num).alias("is_anomaly"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# Bitemporal as-of reconstruction: versions carry BOTH a valid time
# (when the fact holds in the world) and a transaction time (when the
# warehouse learned it). "Value at V as known at T" must rebuild the
# valid-interval chain over ONLY the txn-visible versions -- filtering
# by txn time AFTER computing intervals silently resurrects knowledge
# that did not exist at T (the classic bitemporal bug; this query's
# lead() runs after the txn filter, which is the point).
# ---------------------------------------------------------------------------

BT_VALID_AS_OF = "1996-06-01"
BT_TXN_AS_OF = "1996-07-15"
BT_TXN_LAG_MOD = 45  # synth knowledge delay: orderkey % 45 days

_BITEMPORAL_SQL = f"""
WITH v AS (
  SELECT o_custkey,
         CAST(o_orderdate AS DATE) AS valid_from,
         CAST(o_orderdate AS DATE) + CAST(o_orderkey % {BT_TXN_LAG_MOD} AS INTEGER) AS txn_date,
         o_orderkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents
  FROM orders),
known AS (
  SELECT *,
         lead(valid_from) OVER (PARTITION BY o_custkey
           ORDER BY valid_from, o_orderkey) AS valid_to
  FROM v WHERE txn_date <= DATE '{BT_TXN_AS_OF}')
SELECT CAST(o_custkey AS BIGINT) AS custkey,
       valid_from,
       txn_date,
       CAST(price_cents AS BIGINT) AS price_cents
FROM known
WHERE valid_from <= DATE '{BT_VALID_AS_OF}'
  AND (valid_to IS NULL OR valid_to > DATE '{BT_VALID_AS_OF}')
ORDER BY custkey
"""


@query("bitemporal_as_of_join", _BITEMPORAL_SQL)
def bitemporal_as_of_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal point-in-time read: the dimension value valid at V
    as KNOWN at transaction time T. The valid-interval chain (lead
    over valid_from) is rebuilt AFTER restricting to txn_date <= T --
    versions the warehouse had not yet received at T cannot shorten
    older intervals. One window per customer partition; the txn
    filter prunes before any window state. Extends scd2_as_of_read
    (single-time) to both time axes."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("valid_from"),
        F.date_add(
            F.col("o_orderdate").cast("date"),
            (F.col("o_orderkey") % BT_TXN_LAG_MOD).cast("int"),
        ).alias("txn_date"),
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("price_cents"),
    )
    w = Window.partitionBy("o_custkey").orderBy("valid_from", "o_orderkey")
    known = v.where(F.col("txn_date") <= F.lit(BT_TXN_AS_OF).cast("date")).withColumn(
        "valid_to", F.lead("valid_from").over(w)
    )
    V = F.lit(BT_VALID_AS_OF).cast("date")
    return (
        known.where(
            (F.col("valid_from") <= V)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > V))
        )
        .select(
            F.col("o_custkey").cast("long").alias("custkey"),
            "valid_from",
            "txn_date",
            "price_cents",
        )
        .orderBy("custkey")
    )


# ---------------------------------------------------------------------------
# Distribution drift between two periods as total-variation distance
# in exact ppm: TVD = sum |p_i - q_i| / 2, cross-multiplied so no
# per-bucket division ever happens. The drift monitor a feature
# pipeline runs per column per day (PSI needs ln(); TVD carries the
# same signal in the exact integer domain).
# ---------------------------------------------------------------------------

DRIFT_SPLIT_DAY = "2024-01-15"
DRIFT_BUCKET_CENTS = 2500

_DRIFT_SQL = f"""
WITH e AS (
  SELECT event_type,
         CASE WHEN CAST(ts AS DATE) <= DATE '{DRIFT_SPLIT_DAY}' THEN 0 ELSE 1 END AS half,
         CAST(round(value * 100, 0) AS BIGINT) // {DRIFT_BUCKET_CENTS} AS bucket
  FROM events),
b AS (
  SELECT event_type, bucket,
         sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n1,
         sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n2
  FROM e GROUP BY event_type, bucket),
w AS (
  SELECT event_type, bucket, n1, n2,
         sum(n1) OVER (PARTITION BY event_type) AS tot1,
         sum(n2) OVER (PARTITION BY event_type) AS tot2
  FROM b)
SELECT event_type,
       CAST(tot1 AS BIGINT) AS n_early,
       CAST(tot2 AS BIGINT) AS n_late,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST((1000000 * sum(abs(n1 * tot2 - n2 * tot1)))
            // (2 * tot1 * tot2) AS BIGINT) AS tvd_ppm
FROM w GROUP BY event_type, tot1, tot2
ORDER BY event_type
"""


@query("dq_distribution_drift", _DRIFT_SQL)
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Early-vs-late value-distribution drift per event type, as
    exact-ppm total-variation distance over fixed-width buckets. One
    groupBy onto (type, bucket), one window for the per-type totals,
    one final agg -- all keyed by event_type, so AQE reuses the
    exchange. The TVD numerator is cross-multiplied (|n1*N2 - n2*N1|):
    zero divisions until the single final DIV. Overflow bound: the
    numerator sum is <= 2*N1*N2, so the final 1e6 multiply needs
    N1*N2 < 2^63/2e6 -- about 2.1M rows per type per half; re-derive
    (or pre-divide counts) before running a type with more (same
    documented-bound discipline as timeseries_zscore_anomaly)."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.when(
            F.col("ts").cast("date") <= F.lit(DRIFT_SPLIT_DAY).cast("date"),
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("half"),
        F.expr(
            f"CAST(round(value * 100, 0) AS BIGINT) DIV {DRIFT_BUCKET_CENTS}"
        ).alias("bucket"),
    )
    b = e.groupBy("event_type", "bucket").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n2"),
    )
    wt = Window.partitionBy("event_type")
    w = b.withColumn("tot1", F.sum("n1").over(wt)).withColumn(
        "tot2", F.sum("n2").over(wt)
    )
    num = F.abs(F.col("n1") * F.col("tot2") - F.col("n2") * F.col("tot1"))
    return (
        w.groupBy("event_type", "tot1", "tot2")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum(num).alias("num"),
        )
        .select(
            "event_type",
            F.col("tot1").cast("long").alias("n_early"),
            F.col("tot2").cast("long").alias("n_late"),
            "n_buckets",
            F.expr("(1000000 * num) DIV (2 * tot1 * tot2)")
            .cast("long")
            .alias("tvd_ppm"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Cohort LTV curve: cumulative revenue per acquisition cohort by age
# in months -- the curve a growth team actually plots, extending
# cohort_retention (which counts only). Month indexes are exact ints
# (year*12 + month-1), so cross-engine date arithmetic never touches
# intervals.
# ---------------------------------------------------------------------------

_LTV_SQL = """
WITH o AS (
  SELECT o_custkey,
         CAST(year(CAST(o_orderdate AS DATE)) * 12
              + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS midx,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders),
f AS (SELECT o_custkey, min(midx) AS cohort FROM o GROUP BY o_custkey),
a AS (
  SELECT f.cohort, o.midx - f.cohort AS age, o.o_custkey, o.cents
  FROM o JOIN f USING (o_custkey)),
m AS (
  SELECT cohort, age,
         count(DISTINCT o_custkey) AS n_active,
         sum(cents) AS cents
  FROM a GROUP BY cohort, age)
SELECT CAST((cohort // 12) * 100 + cohort % 12 + 1 AS BIGINT) AS cohort_ym,
       CAST(age AS BIGINT) AS age_months,
       CAST(n_active AS BIGINT) AS n_active,
       CAST(cents AS BIGINT) AS cents,
       CAST(sum(cents) OVER (PARTITION BY cohort ORDER BY age
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
FROM m ORDER BY cohort_ym, age_months
"""


@query("cohort_ltv_curve", _LTV_SQL)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime value by acquisition cohort and age: first
    purchase month defines the cohort, every later order lands at its
    month age, then one running sum per cohort. Two shuffles (the
    cohort min and the cohort x age rollup) plus a cohort-partitioned
    window -- the month-index key space is bounded, so the curve table
    stays broadcast-sized no matter the order volume."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            F.year(F.col("o_orderdate").cast("date")) * 12
            + F.month(F.col("o_orderdate").cast("date"))
            - 1
        )
        .cast("long")
        .alias("midx"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    f = o.groupBy("o_custkey").agg(F.min("midx").alias("cohort"))
    a = o.join(f, "o_custkey").select(
        "cohort",
        (F.col("midx") - F.col("cohort")).alias("age"),
        "o_custkey",
        "cents",
    )
    m = a.groupBy("cohort", "age").agg(
        F.countDistinct("o_custkey").alias("n_active"),
        F.sum("cents").alias("cents"),
    )
    wc = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return m.select(
        F.expr("(cohort DIV 12) * 100 + cohort % 12 + 1")
        .cast("long")
        .alias("cohort_ym"),
        F.col("age").cast("long").alias("age_months"),
        F.col("n_active").cast("long").alias("n_active"),
        F.col("cents").cast("long").alias("cents"),
        F.sum("cents").over(wc).cast("long").alias("cum_cents"),
    ).orderBy("cohort_ym", "age_months")


# ---------------------------------------------------------------------------
# Benford first-digit audit: natural multi-scale amounts follow
# P(d) = log10(1 + 1/d); fabricated or truncated feeds do not. The
# expected ppms are Python-precomputed literals (no log() in either
# engine), observed ppms are exact integer divisions -- a fully
# oracle-checkable fraud/DQ screen.
# ---------------------------------------------------------------------------

import math as _math

_BENFORD_PPM = {d: int(_math.floor(1e6 * _math.log10(1 + 1 / d))) for d in range(1, 10)}
_BENFORD_CASE = (
    "CASE d "
    + " ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items())
    + " END"
)

_BENFORD_SQL = f"""
WITH c AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS d
  FROM orders),
n AS (SELECT d, count(*) AS n FROM c GROUP BY d),
t AS (SELECT d, n, sum(n) OVER () AS total FROM n)
SELECT CAST(d AS BIGINT) AS digit,
       CAST(n AS BIGINT) AS n,
       CAST((1000000 * n) // total AS BIGINT) AS observed_ppm,
       CAST({_BENFORD_CASE} AS BIGINT) AS expected_ppm,
       CAST(abs((1000000 * n) // total - {_BENFORD_CASE}) AS BIGINT) AS dev_ppm
FROM t ORDER BY digit
"""


@query("dq_benford_first_digit", _BENFORD_SQL)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit (Benford) audit of order totals: observed vs
    expected digit frequency in exact ppm, expected values baked in as
    literals. One linear scan into a 9-row aggregate -- the cheapest
    DQ screen there is, and a standard fabricated-data detector."""
    o = load_table(spark, sf_dir, "orders")
    c = o.select(
        F.expr(
            "CAST(substring(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)"
            " AS STRING), 1, 1) AS BIGINT)"
        ).alias("d")
    )
    n = c.groupBy("d").agg(F.count("*").alias("n"))
    t = n.withColumn("total", F.sum("n").over(Window.partitionBy()))
    return t.select(
        F.col("d").cast("long").alias("digit"),
        F.col("n").cast("long").alias("n"),
        F.expr("(1000000 * n) DIV total").cast("long").alias("observed_ppm"),
        F.expr(_BENFORD_CASE).cast("long").alias("expected_ppm"),
        F.expr(f"abs((1000000 * n) DIV total - {_BENFORD_CASE})")
        .cast("long")
        .alias("dev_ppm"),
    ).orderBy("digit")


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance with RETRACTIONS: a correction
# feed arrives as (-1 old row, +1 corrected row) weighted deltas, and
# the aggregate merges them without rescanning the base -- the
# streaming-IVM shape (Flink retract streams) that
# incremental_agg_merge (insert-only) does not cover. The oracle runs
# the identical weighted union; equality with a direct recompute on
# the patched table is pinned in tests.
# ---------------------------------------------------------------------------

RETRACT_MOD = 97  # every 97th event gets corrected (+500 cents)


def _retract_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan of events -> the weighted delta stream: every row
    emits (cents, +1); corrected rows ALSO emit (cents, -1) and
    (cents+500, +1). The explode-per-row form keeps this map-only (a
    three-branch union would re-read the parquet three times --
    Catalyst does not dedupe common subplans across union branches)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    one = F.struct(cents.alias("cents"), F.lit(1).alias("wt"))
    deltas = F.when(
        F.col("event_id") % RETRACT_MOD == 0,
        F.array(
            one,
            F.struct(cents.alias("cents"), F.lit(-1).alias("wt")),
            F.struct((cents + 500).alias("cents"), F.lit(1).alias("wt")),
        ),
    ).otherwise(F.array(one))
    return ev.select(
        "event_type", F.explode(deltas).alias("d")
    ).select("event_type", F.col("d.cents").alias("cents"), F.col("d.wt").alias("wt"))


_RETRACT_SQL = f"""
WITH w AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents, 1 AS wt
  FROM events
  UNION ALL
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT), -1
  FROM events WHERE event_id % {RETRACT_MOD} = 0
  UNION ALL
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) + 500, 1
  FROM events WHERE event_id % {RETRACT_MOD} = 0)
SELECT event_type,
       CAST(sum(wt) AS BIGINT) AS n_rows,
       CAST(sum(wt * cents) AS BIGINT) AS total_cents
FROM w GROUP BY event_type ORDER BY event_type
"""


@query("incremental_agg_retract", _RETRACT_SQL)
def incremental_agg_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge a correction feed into a running aggregate via weighted
    deltas: count and sum absorb (-1, +1) pairs directly, no base
    rescan, no distinct state -- bounded per-key aggregate state, the
    property that makes retraction streams scale. Completes the IVM
    story next to incremental_agg_merge (inserts) and
    mv_join_delta_maintenance (joins)."""
    w = _retract_deltas(spark, sf_dir)
    return (
        w.groupBy("event_type")
        .agg(
            F.sum("wt").cast("long").alias("n_rows"),
            F.sum(F.col("wt") * F.col("cents")).cast("long").alias("total_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Cross-table reconciliation: order-header totals vs the lineitem
# rollup, entirely in the integer domain -- each money factor becomes
# integer hundredths FIRST (ep_cents, 100-disc_pct, 100+tax_pct), so
# the detail rollup is an exact BIGINT at scale 1e4 and the header
# comparison is o_cents * 10000. The report buckets orders by the
# DIGIT COUNT of the absolute discrepancy (a log-ish histogram with no
# log()); headers with no detail rows land in bucket -1. On this
# synthetic fixture the invariant deliberately does NOT hold -- which
# is exactly what a reconciliation report is for.
# ---------------------------------------------------------------------------

_RECON_SQL = """
WITH li AS (
  SELECT l_orderkey,
         sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
             * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))
             * (100 + CAST(round(l_tax * 100, 0) AS BIGINT))) AS li_e4c
  FROM lineitem GROUP BY l_orderkey),
j AS (
  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) * 10000 AS o_e4c,
         li_e4c
  FROM orders LEFT JOIN li ON o_orderkey = l_orderkey),
d AS (
  SELECT CASE WHEN li_e4c IS NULL THEN -1
              ELSE length(CAST(abs(o_e4c - li_e4c) AS VARCHAR)) END AS diff_digits,
         abs(o_e4c - li_e4c) AS ad
  FROM j)
SELECT CAST(diff_digits AS BIGINT) AS diff_digits,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(min(ad) AS BIGINT) AS min_diff_e4c,
       CAST(max(ad) AS BIGINT) AS max_diff_e4c
FROM d GROUP BY diff_digits ORDER BY diff_digits
"""


@query("dq_cross_table_reconciliation", _RECON_SQL)
def dq_cross_table_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail reconciliation histogram: per order, the
    lineitem rollup (exact BIGINT at 1e4 scale via per-factor integer
    hundredths -- no float products, no round() at half boundaries)
    against the header total, bucketed by discrepancy digit count.
    One detail-side groupBy on the join key, one join, one bounded
    aggregate: the daily finance-DQ screen at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    rollup = li.groupBy("l_orderkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100, 0).cast("long")
            * (F.lit(100) - F.round(F.col("l_discount") * 100, 0).cast("long"))
            * (F.lit(100) + F.round(F.col("l_tax") * 100, 0).cast("long"))
        ).alias("li_e4c")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.round(F.col("o_totalprice") * 100, 0).cast("long") * 10000).alias(
            "o_e4c"
        ),
    )
    j = o.join(rollup, o["o_orderkey"] == rollup["l_orderkey"], "left")
    ad = F.abs(F.col("o_e4c") - F.col("li_e4c"))
    d = j.select(
        F.when(F.col("li_e4c").isNull(), F.lit(-1))
        .otherwise(F.length(ad.cast("string")))
        .cast("long")
        .alias("diff_digits"),
        ad.alias("ad"),
    )
    return (
        d.groupBy("diff_digits")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.min("ad").cast("long").alias("min_diff_e4c"),
            F.max("ad").cast("long").alias("max_diff_e4c"),
        )
        .orderBy("diff_digits")
    )


# ---------------------------------------------------------------------------
# Hierarchical (BOM/org-chart) subtree rollup WITHOUT recursion: the
# part keys form an implicit decimal tree (parent(k) = k DIV 10), so
# every node's ancestor chain is derivable arithmetically -- explode
# the chain (depth = log10(maxkey), ~4 levels) and aggregate per
# ancestor. The recursive-CTE oracle proves the closed form; the
# Spark plan never iterates. This is the recursive-AGGREGATION shape
# (sql_recursive_reachability covers recursive REACHABILITY).
# ---------------------------------------------------------------------------

_HIER_SQL = """
WITH RECURSIVE nodes AS (
  SELECT CAST(p_partkey AS BIGINT) AS node,
         CAST(round(p_retailprice * 100, 0) AS BIGINT) AS cents
  FROM part),
up AS (
  SELECT node, node AS anc, cents FROM nodes
  UNION ALL
  SELECT up.node, up.anc // 10 AS anc, up.cents
  FROM up WHERE up.anc >= 10)
SELECT CAST(anc AS BIGINT) AS node,
       CAST(count(*) AS BIGINT) AS n_subtree,
       CAST(sum(cents) AS BIGINT) AS subtree_cents
FROM up GROUP BY anc
ORDER BY node
"""


@query("hierarchy_rollup_cost", _HIER_SQL)
def hierarchy_rollup_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtree cost rollup over the implicit decimal hierarchy
    (parent = key DIV 10): each row explodes its arithmetic ancestor
    chain, one groupBy sums per ancestor. 100 TB shape: fan-out equals
    tree DEPTH (logarithmic), no iteration, no recursion, one shuffle
    -- the closed-form alternative to a recursive BOM rollup whenever
    the ancestor chain is computable from the key (time/geo/decimal
    hierarchies all qualify). The oracle proves equivalence to the
    recursive definition. Note the rollup includes interior nodes
    that exist only as ancestors (classic BOM semantics)."""
    part = load_table(spark, sf_dir, "part")
    nodes = part.select(
        F.col("p_partkey").cast("long").alias("node"),
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("cents"),
    )
    # ancestor chain: node, node/10, node/100, ... down to the 1-digit
    # root -- generated as a sequence of decimal shifts
    chain = F.expr(
        "transform(sequence(0, CAST(length(CAST(node AS STRING)) - 1 AS INT)), "
        "i -> node DIV CAST(pow(10, i) AS BIGINT))"
    )
    up = nodes.select("cents", F.explode(chain).alias("anc"))
    return (
        up.groupBy("anc")
        .agg(
            F.count("*").cast("long").alias("n_subtree"),
            F.sum("cents").cast("long").alias("subtree_cents"),
        )
        .select(F.col("anc").cast("long").alias("node"), "n_subtree", "subtree_cents")
        .orderBy("node")
    )
