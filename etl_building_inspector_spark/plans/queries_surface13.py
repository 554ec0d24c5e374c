"""Thirteenth analytics-surface batch: SLA attainment, window-function
batteries (first/last/nth, lead/lag with defaults, ratio-to-report),
money-precision DQ audit, gap-time buckets, forward as-of join, HHI
market concentration, weekday seasonality, return rates, monthly
customer lifecycle, and cohort time-to-first-purchase.

Oracle discipline per queries_core.py: integer cents/ppm with DIV,
total-order window tiebreaks, Monday-first ISO weekday on both
engines, exact percentiles at ceil(p*n).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.timeutil import epoch_micros
from ..sources.tables import load_table
from .registry import query


SLA_DAYS = 30
HHI_UNIT_DIV = 1000  # revenue cents DIV 1000 so squares stay in int64
GAP_BUCKETS = (
    ("lt_1s", 1_000_000),
    ("1s_10s", 10_000_000),
    ("10s_60s", 60_000_000),
    ("1m_10m", 600_000_000),
    ("10m_60m", 3_600_000_000),
)


@query(
    "orders_fill_rate_sla",
    f"""
SELECT o.o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                    CAST(l.l_shipdate AS DATE)) <= {SLA_DAYS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_within_sla,
       CAST(sum(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                    CAST(l.l_shipdate AS DATE)) <= {SLA_DAYS}
                     THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
         AS sla_ppm
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY priority ORDER BY priority
""",
)
def orders_fill_rate_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-day ship SLA attainment per order priority, in exact ppm --
    the service-level number next to orders_ship_latency_percentiles'
    distribution view. One join shuffle + one 5-row aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("priority"),
        (
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
            <= SLA_DAYS
        )
        .cast("int")
        .alias("ok"),
    )
    return (
        j.groupBy("priority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("ok").cast("long").alias("n_within_sla"),
            F.expr("sum(ok) * 1000000 DIV count(*)").alias("sla_ppm"),
        )
        .orderBy("priority")
    )


@query(
    "window_first_last_value_battery",
    """
WITH w AS (
  SELECT c_nationkey AS nationkey, c_custkey,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents,
         row_number() OVER ord AS rn,
         first_value(c_custkey) OVER frame AS first_cust,
         last_value(c_custkey) OVER frame AS last_cust,
         nth_value(c_custkey, 2) OVER frame AS second_cust
  FROM customer
  WINDOW ord AS (PARTITION BY c_nationkey
                 ORDER BY round(c_acctbal * 100, 0), c_custkey),
         frame AS (PARTITION BY c_nationkey
                   ORDER BY round(c_acctbal * 100, 0), c_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT CAST(nationkey AS BIGINT) AS nationkey,
       CAST(first_cust AS BIGINT) AS first_cust,
       CAST(second_cust AS BIGINT) AS second_cust,
       CAST(last_cust AS BIGINT) AS last_cust
FROM w WHERE rn = 1 ORDER BY nationkey
""",
)
def window_first_last_value_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value with an explicit
    UNBOUNDED..UNBOUNDED frame (last_value under the DEFAULT frame is
    the classic silent bug -- it returns the CURRENT row; the battery
    pins the correct frame on both engines), keyed by the total order
    (balance cents, custkey). One row per nation."""
    cust = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    ord_w = Window.partitionBy("c_nationkey").orderBy(
        cents.asc(), F.col("c_custkey").asc()
    )
    frame = ord_w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w = cust.select(
        F.col("c_nationkey").alias("nationkey"),
        F.row_number().over(ord_w).alias("rn"),
        F.first("c_custkey").over(frame).alias("first_cust"),
        F.last("c_custkey").over(frame).alias("last_cust"),
        F.nth_value("c_custkey", 2).over(frame).alias("second_cust"),
    )
    return (
        w.filter(F.col("rn") == 1)
        .select(
            F.col("nationkey").cast("long").alias("nationkey"),
            F.col("first_cust").cast("long").alias("first_cust"),
            F.col("second_cust").cast("long").alias("second_cust"),
            F.col("last_cust").cast("long").alias("last_cust"),
        )
        .orderBy("nationkey")
    )


@query(
    "window_ratio_to_report",
    """
WITH rev AS (
  SELECT c.c_nationkey AS nationkey, c.c_mktsegment AS segment,
         sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
)
SELECT CAST(nationkey AS BIGINT) AS nationkey, segment,
       CAST(cents AS BIGINT) AS cents,
       CAST(cents * 1000000 // sum(cents) OVER (PARTITION BY nationkey)
            AS BIGINT) AS share_ppm
FROM rev ORDER BY nationkey, segment
""",
)
def window_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each (nation, segment)'s share of its nation's
    revenue in exact integer ppm -- the share-of-total window pattern
    (aggregate first, window over the AGGREGATE: the window input is
    125 rows, never the base table)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "cents"
            )
        )
    )
    return (
        rev.withColumn(
            "total", F.sum("cents").over(Window.partitionBy("nationkey"))
        )
        .select(
            F.col("nationkey").cast("long").alias("nationkey"),
            "segment",
            F.col("cents").cast("long").alias("cents"),
            F.expr("cents * 1000000 DIV total").alias("share_ppm"),
        )
        .orderBy("nationkey", "segment")
    )


@query(
    "window_lead_lag_battery",
    """
WITH monthly AS (
  SELECT l_suppkey,
         CAST(year(l_shipdate) AS BIGINT) * 100
           + CAST(month(l_shipdate) AS BIGINT) AS ym,
         sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS cents
  FROM lineitem WHERE l_suppkey < 5 GROUP BY 1, 2
)
SELECT CAST(l_suppkey AS BIGINT) AS suppkey, ym, CAST(cents AS BIGINT) AS cents,
       CAST(lag(cents, 1, 0) OVER w AS BIGINT) AS prev1,
       CAST(lag(cents, 2, -1) OVER w AS BIGINT) AS prev2,
       CAST(lead(cents, 1, 0) OVER w AS BIGINT) AS next1,
       CAST(cents - lag(cents, 1, cents) OVER w AS BIGINT) AS delta
FROM monthly WINDOW w AS (PARTITION BY l_suppkey ORDER BY ym)
ORDER BY suppkey, ym
""",
)
def window_lead_lag_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag battery with OFFSETS and DEFAULTS (lag(x,1,0),
    lag(x,2,-1), lead(x,1,0), and the self-defaulted first-delta
    lag(x,1,x)) over per-supplier monthly revenue -- the exact default
    semantics pinned on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    monthly = (
        li.filter(F.col("l_suppkey") < 5)
        .groupBy(
            "l_suppkey",
            (
                F.year("l_shipdate").cast("long") * 100
                + F.month("l_shipdate").cast("long")
            ).alias("ym"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100, 0).cast("long")
            ).alias("cents")
        )
    )
    w = Window.partitionBy("l_suppkey").orderBy("ym")
    return monthly.select(
        F.col("l_suppkey").cast("long").alias("suppkey"),
        "ym",
        F.col("cents").cast("long").alias("cents"),
        F.lag("cents", 1, 0).over(w).cast("long").alias("prev1"),
        F.lag("cents", 2, -1).over(w).cast("long").alias("prev2"),
        F.lead("cents", 1, 0).over(w).cast("long").alias("next1"),
        (F.col("cents") - F.lag("cents", 1).over(w))
        .cast("long")
        .alias("delta"),
    ).withColumn(
        "delta", F.coalesce("delta", F.lit(0))
    ).orderBy("suppkey", "ym")


@query(
    "dq_money_precision_audit",
    """
SELECT 'o_totalprice' AS col, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
  CAST(sum(CASE WHEN o_totalprice = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
  CAST(sum(CASE WHEN o_totalprice * 100 <> round(o_totalprice * 100, 0)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_subcent
FROM orders
UNION ALL
SELECT 'l_extendedprice', CAST(count(*) AS BIGINT),
  CAST(sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT),
  CAST(sum(CASE WHEN l_extendedprice = 0 THEN 1 ELSE 0 END) AS BIGINT),
  CAST(sum(CASE WHEN l_extendedprice * 100 <> round(l_extendedprice * 100, 0)
            THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'c_acctbal', CAST(count(*) AS BIGINT),
  CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT),
  CAST(sum(CASE WHEN c_acctbal = 0 THEN 1 ELSE 0 END) AS BIGINT),
  CAST(sum(CASE WHEN c_acctbal * 100 <> round(c_acctbal * 100, 0)
            THEN 1 ELSE 0 END) AS BIGINT)
FROM customer
ORDER BY col
""",
)
def dq_money_precision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money-column precision audit: negatives, zeros, and SUB-CENT
    values (v*100 differing from its round -- both engines compute
    v*100 and HALF_UP round identically on the same IEEE doubles, so
    the predicate is portable). n_subcent > 0 is the signal that the
    integer-cents convention every money query here relies on would
    silently lose precision. Three map-side-combinable aggregates."""

    def audit(df, col, name):
        v = F.col(col)
        return df.agg(
            F.lit(name).alias("col"),
            F.count("*").alias("n_rows"),
            F.sum(F.when(v < 0, 1).otherwise(0)).cast("long").alias(
                "n_negative"
            ),
            F.sum(F.when(v == 0, 1).otherwise(0)).cast("long").alias("n_zero"),
            F.sum(
                F.when(v * 100 != F.round(v * 100, 0), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_subcent"),
        )

    o = audit(load_table(spark, sf_dir, "orders"), "o_totalprice", "o_totalprice")
    l = audit(
        load_table(spark, sf_dir, "lineitem"), "l_extendedprice",
        "l_extendedprice",
    )
    c = audit(load_table(spark, sf_dir, "customer"), "c_acctbal", "c_acctbal")
    return o.unionByName(l).unionByName(c).orderBy("col")


def _gap_bucket_sql() -> str:
    ladder = ""
    for name, hi in GAP_BUCKETS:
        ladder += f"WHEN gap_us <= {hi} THEN '{name}' "
    return f"""
WITH gaps AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP))
           - epoch_us(CAST(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP))
           AS gap_us
  FROM events
)
SELECT CASE {ladder}ELSE 'gt_1h' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_gaps
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY bucket ORDER BY bucket
"""


@query("events_gap_time_buckets", _gap_bucket_sql())
def events_gap_time_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap distribution in fixed human-scale buckets
    (<1s, 1-10s, 10-60s, 1-10m, 10-60m, >1h) -- the data behind
    sessionization_gap_sensitivity's timeout choice and the
    bot-vs-human triage signal (a spike in <1s is automation). CASE
    ladder on exact integer micros; one window + one 6-row count."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = epoch_micros(F.col("ts")) - epoch_micros(F.lag("ts").over(w))
    # build the CASE ladder innermost-out: the smallest bound must be
    # the OUTERMOST when() so it wins for small gaps
    bucket = F.lit("gt_1h")
    for name, hi in reversed(GAP_BUCKETS):
        bucket = F.when(gap <= hi, name).otherwise(bucket)
    return (
        ev.select(gap.alias("gap_us"), bucket.alias("bucket"))
        .filter(F.col("gap_us").isNotNull())
        .groupBy("bucket")
        .agg(F.count("*").alias("n_gaps"))
        .orderBy("bucket")
    )


@query(
    "asof_join_forward",
    """
WITH u AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS tag,
         CASE WHEN event_type = 'purchase'
              THEN CAST(round(value * 100, 0) AS BIGINT) END AS cents
  FROM events WHERE event_type IN ('click', 'purchase')
), carried AS (
  SELECT user_id, ts, event_id, tag,
         first_value(CASE WHEN tag = 0 THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, tag, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS next_purchase_ts,
         first_value(CASE WHEN tag = 0 THEN cents END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, tag, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS next_purchase_cents
  FROM u
)
SELECT CAST(event_id AS BIGINT) AS click_id,
       CAST(user_id AS BIGINT) AS user_id,
       next_purchase_ts, CAST(next_purchase_cents AS BIGINT) AS next_purchase_cents
FROM carried WHERE tag = 1 AND next_purchase_ts IS NOT NULL
""",
)
def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each click matched to the user's NEXT
    purchase at-or-after it (attribution's forward direction --
    'did this click convert?'). Carry-backward window over the tagged
    union: purchases sort before clicks at equal ts (tag 0 < 1), so a
    same-instant purchase counts as 'next'. One shuffle on user_id,
    the mirror of asof_join_click_purchase."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", 0).otherwise(1).alias("tag"),
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100, 0).cast("long"),
        ).alias("cents"),
    )
    bwd = Window.partitionBy("user_id").orderBy(
        "ts", "tag", "event_id"
    ).rowsBetween(Window.currentRow, Window.unboundedFollowing)
    carried = u.select(
        "user_id",
        "ts",
        "event_id",
        "tag",
        F.first(
            F.when(F.col("tag") == 0, F.col("ts")), ignorenulls=True
        ).over(bwd).alias("next_purchase_ts"),
        F.first(
            F.when(F.col("tag") == 0, F.col("cents")), ignorenulls=True
        ).over(bwd).alias("next_purchase_cents"),
    )
    return carried.filter(
        (F.col("tag") == 1) & F.col("next_purchase_ts").isNotNull()
    ).select(
        F.col("event_id").cast("long").alias("click_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "next_purchase_ts",
        F.col("next_purchase_cents").cast("long").alias(
            "next_purchase_cents"
        ),
    )


@query(
    "revenue_concentration_hhi",
    f"""
WITH per_supp AS (
  SELECT s.s_nationkey AS nationkey, l.l_suppkey,
         sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
           // {HHI_UNIT_DIV} AS units
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
)
SELECT CAST(nationkey AS BIGINT) AS nationkey,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(units * units) AS BIGINT) AS hhi_num,
       CAST(sum(units) * sum(units) AS BIGINT) AS hhi_den
FROM per_supp GROUP BY nationkey ORDER BY nationkey
""",
)
def revenue_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman revenue concentration per supplier nation,
    as the exact rational (sum units^2) / (sum units)^2 -- HHI = 1/n
    for perfectly even markets, 1 for monopoly; the consumer divides.
    Revenue is bucketed to cents DIV 1000 so the squares stay inside
    int64 at every fixture SF (documented unit). Two aggregations,
    both map-side combinable; nation dim broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    per_supp = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy(F.col("s_nationkey").alias("nationkey"), "l_suppkey")
        .agg(
            F.expr(
                f"sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) "
                f"DIV {HHI_UNIT_DIV}"
            ).alias("units")
        )
    )
    return (
        per_supp.groupBy("nationkey")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum(F.col("units") * F.col("units"))
            .cast("long")
            .alias("hhi_num"),
            (F.sum("units") * F.sum("units")).cast("long").alias("hhi_den"),
        )
        .select(
            F.col("nationkey").cast("long").alias("nationkey"),
            "n_suppliers",
            "hhi_num",
            "hhi_den",
        )
        .orderBy("nationkey")
    )


@query(
    "orders_weekday_profile",
    """
WITH d AS (
  SELECT isodow(CAST(o_orderdate AS DATE)) AS dow FROM orders
), tot AS (SELECT count(*) AS n FROM d)
SELECT CAST(dow AS BIGINT) AS iso_weekday,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(abs(count(*) * 7 - any_value(n)) * 1000000
              // any_value(n) AS BIGINT) AS deviation_ppm
FROM d, tot GROUP BY dow ORDER BY iso_weekday
""",
)
def orders_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order volume by ISO weekday (1=Monday) with the deviation from
    a uniform week in exact ppm (|7*cnt - total| / total) -- weekday
    seasonality strength without a single float. Spark's weekday() is
    0=Monday, DuckDB's isodow is 1=Monday: the +1 shift is pinned here
    so both engines report the ISO convention."""
    o = load_table(spark, sf_dir, "orders")
    d = o.select((F.weekday("o_orderdate") + 1).alias("dow"))
    from ..operators._cache import track_persist

    d = track_persist(d)
    tot = d.agg(F.count("*").alias("n"))
    return (
        d.groupBy("dow")
        .agg(F.count("*").alias("n_orders"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("dow").cast("long").alias("iso_weekday"),
            "n_orders",
            F.expr("abs(n_orders * 7 - n) * 1000000 DIV n").alias(
                "deviation_ppm"
            ),
        )
        .orderBy("iso_weekday")
    )


@query(
    "lineitem_return_rate_by_nation",
    """
SELECT CAST(s.s_nationkey AS BIGINT) AS nationkey,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returned,
       CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) * 1000000
              // count(*) AS BIGINT) AS return_ppm
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY 1 ORDER BY nationkey
""",
)
def lineitem_return_rate_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return rate per supplier nation in exact ppm -- the
    supplier-quality ranking signal. Broadcast supplier dim, one
    aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("n_returned"),
            F.expr(
                "sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) "
                "* 1000000 DIV count(*)"
            ).alias("return_ppm"),
        )
        .select(
            F.col("nationkey").cast("long").alias("nationkey"),
            "n_lines",
            "n_returned",
            "return_ppm",
        )
        .orderBy("nationkey")
    )


@query(
    "customers_monthly_lifecycle",
    """
WITH cm AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) AS BIGINT) * 100
           + CAST(month(o_orderdate) AS BIGINT) AS ym
  FROM orders GROUP BY 1, 2
), first_seen AS (
  SELECT o_custkey, min(ym) AS first_ym FROM cm GROUP BY 1
)
SELECT CAST(cm.ym AS BIGINT) AS ym,
       CAST(count(*) AS BIGINT) AS n_active,
       CAST(sum(CASE WHEN cm.ym = f.first_ym THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       CAST(sum(CASE WHEN cm.ym > f.first_ym THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returning
FROM cm JOIN first_seen f ON cm.o_custkey = f.o_custkey
GROUP BY cm.ym ORDER BY ym
""",
)
def customers_monthly_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly active customers split exactly into new (first-ever
    order month) and returning -- new + returning == active on every
    row. The first-seen mark is the same reusable state as
    mv_distinct_delta_maintenance's, at customer-month grain; one
    distinct customer-month aggregation, one min, one co-partitioned
    join."""
    o = load_table(spark, sf_dir, "orders")
    cm = (
        o.select(
            "o_custkey",
            (
                F.year("o_orderdate").cast("long") * 100
                + F.month("o_orderdate").cast("long")
            ).alias("ym"),
        )
        .distinct()
    )
    from ..operators._cache import track_persist

    cm = track_persist(cm)
    first_seen = cm.groupBy("o_custkey").agg(F.min("ym").alias("first_ym"))
    return (
        cm.join(first_seen, "o_custkey")
        .groupBy("ym")
        .agg(
            F.count("*").alias("n_active"),
            F.sum(F.when(F.col("ym") == F.col("first_ym"), 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
            F.sum(F.when(F.col("ym") > F.col("first_ym"), 1).otherwise(0))
            .cast("long")
            .alias("n_returning"),
        )
        .select(
            F.col("ym").cast("long").alias("ym"),
            "n_active",
            "n_new",
            "n_returning",
        )
        .orderBy("ym")
    )


@query(
    "cohort_time_to_first_purchase",
    """
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS purchase_ts
  FROM events GROUP BY user_id
), conv AS (
  SELECT CAST(year(signup_ts) AS BIGINT) * 100
           + CAST(month(signup_ts) AS BIGINT) AS cohort,
         user_id,
         date_diff('day', CAST(signup_ts AS DATE),
                   CAST(purchase_ts AS DATE)) AS days
  FROM firsts
  WHERE signup_ts IS NOT NULL AND purchase_ts IS NOT NULL
    AND purchase_ts >= signup_ts
), ranked AS (
  SELECT cohort, days,
         row_number() OVER (PARTITION BY cohort ORDER BY days, user_id) AS rn,
         count(*) OVER (PARTITION BY cohort) AS n
  FROM conv
)
SELECT CAST(cohort AS BIGINT) AS cohort,
       CAST(any_value(n) AS BIGINT) AS n_converted,
       CAST(max(CASE WHEN rn = (n + 1) // 2 THEN days END) AS BIGINT)
         AS p50_days,
       CAST(max(days) AS BIGINT) AS max_days
FROM ranked GROUP BY cohort ORDER BY cohort
""",
)
def cohort_time_to_first_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days from first signup to first purchase per signup-month
    cohort: conversion latency with the exact ceil(p*n) median. Users
    whose first purchase precedes their first signup event (partial
    capture at the fixture's time boundary) are excluded by the
    documented purchase_ts >= signup_ts rule. Two aggregations + one
    cohort window."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).alias("signup_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("purchase_ts"),
    )
    conv = firsts.filter(
        F.col("signup_ts").isNotNull()
        & F.col("purchase_ts").isNotNull()
        & (F.col("purchase_ts") >= F.col("signup_ts"))
    ).select(
        (
            F.year("signup_ts").cast("long") * 100
            + F.month("signup_ts").cast("long")
        ).alias("cohort"),
        "user_id",
        F.datediff(F.to_date("purchase_ts"), F.to_date("signup_ts")).alias(
            "days"
        ),
    )
    w = Window.partitionBy("cohort").orderBy("days", "user_id")
    ranked = conv.select(
        "cohort",
        "days",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("cohort")).alias("n"),
    )
    return (
        ranked.groupBy("cohort")
        .agg(
            F.any_value("n").cast("long").alias("n_converted"),
            F.max(
                F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("days"))
            )
            .cast("long")
            .alias("p50_days"),
            F.max("days").cast("long").alias("max_days"),
        )
        .select(
            F.col("cohort").cast("long").alias("cohort"),
            "n_converted",
            "p50_days",
            "max_days",
        )
        .orderBy("cohort")
    )
