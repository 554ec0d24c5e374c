"""Eleventh analytics-surface batch: rapid-repeat-order audit (the
duplicate-payment detector shape: blocked self-join, never raw x
raw), cross-correlation at lags 0..7 by integer sufficient
statistics, a k-anonymity generalization ladder (how much coarsening
the quasi-identifier buys), and exact ship-latency percentiles by the
lower-percentile row_number convention.

Oracle discipline per queries_core.py: integer cents, cross-
multiplied tolerance comparisons, exact integer sufficient statistics
with division left to the consumer, percentile = value at
rn == ceil(p*n) under a total-order sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query


REPEAT_WINDOW_DAYS = 7
REPEAT_TOLERANCE_INV = 20  # amounts within 5% = 1/20, cross-multiplied
XCORR_MAX_LAG = 7
KANON_K = 10


# ---------------------------------------------------------------------------
# Rapid repeat orders: same customer, near-identical amount (within
# 5%), within 7 days -- the duplicate-payment audit. The self-join is
# BLOCKED on o_custkey (orders per customer are bounded -- <= 25 in
# the fixture, bounded by business reality everywhere), so the pair
# fanout is sum(per-cust^2), never |orders|^2.
# ---------------------------------------------------------------------------

_REPEAT_SQL = f"""
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         CAST(o_orderdate AS DATE) AS day
  FROM orders
)
SELECT CAST(a.o_custkey AS BIGINT) AS custkey,
       CAST(a.o_orderkey AS BIGINT) AS order_a,
       CAST(b.o_orderkey AS BIGINT) AS order_b,
       CAST(a.cents AS BIGINT) AS cents_a,
       CAST(b.cents AS BIGINT) AS cents_b,
       CAST(abs(date_diff('day', a.day, b.day)) AS BIGINT) AS day_gap
FROM o a JOIN o b
  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
WHERE abs(date_diff('day', a.day, b.day)) <= {REPEAT_WINDOW_DAYS}
  AND abs(a.cents - b.cents) * {REPEAT_TOLERANCE_INV} <= a.cents
"""


@query("dq_rapid_repeat_orders", _REPEAT_SQL)
def dq_rapid_repeat_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment audit: order pairs from the same customer
    within 7 days whose amounts agree within 5% (cross-multiplied --
    |a-b|*20 <= a, no ratio materialized). The self-join is an
    EQUI-join on o_custkey, so the worst case is the largest
    customer's order count squared, not the table squared -- the same
    blocked-pair-generation discipline as the ER and LSH families
    (see join_explosion_audit for the pre-flight that sizes it)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        F.to_date("o_orderdate").alias("day"),
    )
    a = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("order_a"),
        F.col("cents").alias("cents_a"),
        F.col("day").alias("day_a"),
    )
    b = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("order_b"),
        F.col("cents").alias("cents_b"),
        F.col("day").alias("day_b"),
    )
    return (
        a.join(b, "custkey")
        .filter(F.col("order_a") < F.col("order_b"))
        .filter(
            F.abs(F.datediff("day_b", "day_a")) <= REPEAT_WINDOW_DAYS
        )
        .filter(
            F.abs(F.col("cents_a") - F.col("cents_b"))
            * REPEAT_TOLERANCE_INV
            <= F.col("cents_a")
        )
        .select(
            F.col("custkey").cast("long").alias("custkey"),
            F.col("order_a").cast("long").alias("order_a"),
            F.col("order_b").cast("long").alias("order_b"),
            "cents_a",
            "cents_b",
            F.abs(F.datediff("day_b", "day_a"))
            .cast("long")
            .alias("day_gap"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-correlation ladder: purchase volume at day d vs click volume
# at day d-lag, lags 0..7, as exact integer sufficient statistics per
# lag. Extends timeseries_acf_lag1 across two series and a lag range;
# the argmax-lag decision stays with the consumer (comparing
# num/sqrt(den) rationals is their one sqrt).
# ---------------------------------------------------------------------------

_XCORR_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         sum(CAST(round(value, 0) AS BIGINT)) AS units
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY 1, 2
), p AS (SELECT day, units FROM daily WHERE event_type = 'purchase'),
c AS (SELECT day, units FROM daily WHERE event_type = 'click'),
lags AS (SELECT unnest(generate_series(0, {XCORR_MAX_LAG})) AS lag),
joined AS (
  SELECT l.lag, c.units AS x, p.units AS y
  FROM lags l
  JOIN p ON true
  JOIN c ON c.day = p.day - to_days(CAST(l.lag AS INTEGER))
)
SELECT CAST(lag AS BIGINT) AS lag,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT) AS corr_num,
       CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS corr_den_x,
       CAST(count(*) * sum(y * y) - sum(y) * sum(y) AS BIGINT) AS corr_den_y
FROM joined GROUP BY lag ORDER BY lag
"""


@query("timeseries_xcorr_lags", _XCORR_SQL)
def timeseries_xcorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does click volume lead purchase volume, and by how many days?
    Exact integer correlation sufficient statistics between the two
    daily unit series at every lag 0..7 -- one daily rollup, an
    8-row lag spine joined against ~30-day series (tiny), stats
    shrink to 8 rows. Per-row values round to integer units BEFORE
    summing (the timeseries_acf_lag1 determinism rule)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(F.round("value", 0).cast("long")).alias("units"))
    )
    from ..operators._cache import track_persist

    daily = track_persist(daily)
    p = daily.filter(F.col("event_type") == "purchase").select(
        F.col("day").alias("p_day"), F.col("units").alias("y")
    )
    c = daily.filter(F.col("event_type") == "click").select(
        F.col("day").alias("c_day"), F.col("units").alias("x")
    )
    lags = spark.range(0, XCORR_MAX_LAG + 1).select(
        F.col("id").alias("lag")
    )
    joined = (
        p.crossJoin(F.broadcast(lags))
        .join(
            c,
            F.col("c_day")
            == F.date_sub(F.col("p_day"), F.col("lag").cast("int")),
        )
    )
    n = F.count("*")
    return (
        joined.groupBy("lag")
        .agg(
            n.alias("n_days"),
            (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
            .cast("long")
            .alias("corr_num"),
            (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x"))
            .cast("long")
            .alias("corr_den_x"),
            (n * F.sum(F.col("y") * F.col("y")) - F.sum("y") * F.sum("y"))
            .cast("long")
            .alias("corr_den_y"),
        )
        .select(F.col("lag").cast("long").alias("lag"), "n_days",
                "corr_num", "corr_den_x", "corr_den_y")
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# Generalization ladder: k-anonymity at three quasi-identifier
# granularities (nation+segment -> nation -> region). The release
# decision data: how much coarsening buys how much anonymity.
# ---------------------------------------------------------------------------

_KANON_LADDER_SQL = f"""
WITH c AS (
  SELECT c_custkey, n.n_nationkey AS nationkey, n.n_regionkey AS regionkey,
         c_mktsegment AS seg
  FROM customer JOIN nation n ON c_nationkey = n.n_nationkey
), l0 AS (
  SELECT count(*) AS sz FROM c GROUP BY nationkey, seg
), l1 AS (
  SELECT count(*) AS sz FROM c GROUP BY nationkey
), l2 AS (
  SELECT count(*) AS sz FROM c GROUP BY regionkey
)
SELECT 'nation+segment' AS level, CAST(count(*) AS BIGINT) AS n_groups,
       CAST(min(sz) AS BIGINT) AS min_group_size,
       CAST(sum(CASE WHEN sz < {KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_groups,
       CAST(sum(CASE WHEN sz < {KANON_K} THEN sz ELSE 0 END) AS BIGINT)
         AS n_exposed_rows
FROM l0
UNION ALL
SELECT 'nation', CAST(count(*) AS BIGINT), CAST(min(sz) AS BIGINT),
       CAST(sum(CASE WHEN sz < {KANON_K} THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN sz < {KANON_K} THEN sz ELSE 0 END) AS BIGINT)
FROM l1
UNION ALL
SELECT 'region', CAST(count(*) AS BIGINT), CAST(min(sz) AS BIGINT),
       CAST(sum(CASE WHEN sz < {KANON_K} THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN sz < {KANON_K} THEN sz ELSE 0 END) AS BIGINT)
FROM l2
ORDER BY level
"""


@query("privacy_generalization_ladder", _KANON_LADDER_SQL)
def privacy_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity (k=10) at three quasi-identifier granularities:
    (nation, segment) -> nation -> region. Per level: group count,
    min group size, violating groups, and exposed rows -- the ladder a
    release process climbs until n_violating_groups hits 0, instead of
    suppressing rows at an over-fine level. Three aggregations over
    one staged join (nation is broadcast); each is map-side
    combinable."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    c = cust.join(
        F.broadcast(nation),
        cust["c_nationkey"] == nation["n_nationkey"],
    ).select(
        F.col("n_nationkey").alias("nationkey"),
        F.col("n_regionkey").alias("regionkey"),
        F.col("c_mktsegment").alias("seg"),
    )
    from ..operators._cache import track_persist

    c = track_persist(c)

    def level(df, keys, name):
        sz = df.groupBy(*keys).agg(F.count("*").alias("sz"))
        return sz.agg(
            F.lit(name).alias("level"),
            F.count("*").cast("long").alias("n_groups"),
            F.min("sz").cast("long").alias("min_group_size"),
            F.sum(F.when(F.col("sz") < KANON_K, 1).otherwise(0))
            .cast("long")
            .alias("n_violating_groups"),
            F.sum(F.when(F.col("sz") < KANON_K, F.col("sz")).otherwise(0))
            .cast("long")
            .alias("n_exposed_rows"),
        )

    out = (
        level(c, ["nationkey", "seg"], "nation+segment")
        .unionByName(level(c, ["nationkey"], "nation"))
        .unionByName(level(c, ["regionkey"], "region"))
    )
    return out.orderBy("level")


# ---------------------------------------------------------------------------
# Exact ship-latency percentiles per order month: value at
# rn == ceil(p*n) under (latency, orderkey, linenumber) total order.
# ---------------------------------------------------------------------------

_LATENCY_SQL = """
WITH lat AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) * 100
           + CAST(month(o.o_orderdate) AS BIGINT) AS ym,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) AS days,
         l.l_orderkey, l.l_linenumber
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), ranked AS (
  SELECT ym, days,
         row_number() OVER (PARTITION BY ym
                            ORDER BY days, l_orderkey, l_linenumber) AS rn,
         count(*) OVER (PARTITION BY ym) AS n
  FROM lat
)
SELECT CAST(ym AS BIGINT) AS ym,
       CAST(any_value(n) AS BIGINT) AS n_lines,
       CAST(max(CASE WHEN rn = (n + 1) // 2 THEN days END) AS BIGINT)
         AS p50_days,
       CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN days END) AS BIGINT)
         AS p90_days,
       CAST(max(days) AS BIGINT) AS max_days
FROM ranked GROUP BY ym ORDER BY ym
"""


@query("orders_ship_latency_percentiles", _LATENCY_SQL)
def orders_ship_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/max order->ship latency (days) per order month.
    Percentile = the value at rn == ceil(p*n) ((n+1) DIV 2 and
    (9n+9) DIV 10 in integers) under a TOTAL order (latency, orderkey,
    linenumber), so both engines pick the identical row -- the
    repo's exact-percentile convention (no interpolation, no
    approx_percentile). One join shuffle + one window shuffle on the
    month key."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lat = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        (
            F.year("o_orderdate").cast("long") * 100
            + F.month("o_orderdate").cast("long")
        ).alias("ym"),
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "days"
        ),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("ym").orderBy("days", "l_orderkey", "l_linenumber")
    ranked = lat.select(
        "ym",
        "days",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("ym")).alias("n"),
    )
    return (
        ranked.groupBy("ym")
        .agg(
            F.any_value("n").cast("long").alias("n_lines"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("days")
                )
            )
            .cast("long")
            .alias("p50_days"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(9 * n + 9) DIV 10"),
                    F.col("days"),
                )
            )
            .cast("long")
            .alias("p90_days"),
            F.max("days").cast("long").alias("max_days"),
        )
        .select(
            F.col("ym").cast("long").alias("ym"),
            "n_lines",
            "p50_days",
            "p90_days",
            "max_days",
        )
        .orderBy("ym")
    )
