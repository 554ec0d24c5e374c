"""Sixth surface batch: market-basket co-occurrence, snapshot diffing,
rolling-window distinct actives (DAU/WAU), and key-skew diagnostics.

Scale themes:
  * the basket self-join fans out per ORDER, and TPC-H-ish orders are
    bounded (~7 lines) -- per-key quadratic with a small constant is
    the safe kind of quadratic, unlike per-shingle hot keys;
  * rolling distinct users replicates each (day, user) row a fixed 7x
    -- a bounded-replication range join, the standard exact-sliding-
    window trick when windowed count_distinct isn't available;
  * snapshot diff is one full-outer hash join on the key, the batch
    primitive under CDC diffing / reconciliation jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query


# ---------------------------------------------------------------------------
# Market-basket pair support: pairs of parts appearing in the same
# order, with support >= MIN_SUPPORT. The self-join key is l_orderkey,
# whose fanout is bounded by lines-per-order (~7), so the join output
# is O(orders * lines^2) -- linear in the table with a small constant.
# The pair-count agg then shuffles on the (tiny) pair key space.
# ---------------------------------------------------------------------------

BASKET_MIN_SUPPORT = 3

_BASKET_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       CAST(count(*) AS BIGINT) AS support
FROM items a JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY a.l_partkey, b.l_partkey
HAVING count(*) >= {BASKET_MIN_SUPPORT}
"""


@query("basket_pair_support", _BASKET_SQL)
def basket_pair_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.alias("a")
    b = items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= BASKET_MIN_SUPPORT)
    )


# ---------------------------------------------------------------------------
# Snapshot diff: reconcile two versions of the orders table (the
# "yesterday vs today" CDC check). Versions are simulated by date
# slices with an overlap; the diff is ONE full-outer hash join on the
# key classifying rows added / removed / changed / unchanged --
# "changed" compares the value columns in integer cents.
# ---------------------------------------------------------------------------

_DIFF_SQL = """
WITH v1 AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
),
v2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
)
SELECT CASE
         WHEN v1.o_orderkey IS NULL THEN 'added'
         WHEN v2.o_orderkey IS NULL THEN 'removed'
         WHEN v1.o_orderstatus <> v2.o_orderstatus
              OR v1.cents <> v2.cents THEN 'changed'
         ELSE 'unchanged'
       END AS change_type,
       CAST(count(*) AS BIGINT) AS n
FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
GROUP BY 1
"""


@query("snapshot_diff", _DIFF_SQL)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    v1 = orders.where(F.col("o_orderdate") < "1996-01-01").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status1"),
        cents.alias("cents1"),
    )
    v2 = orders.where(F.col("o_orderdate") < "1997-01-01").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 97 == 0, "X")
        .otherwise(F.col("o_orderstatus"))
        .alias("status2"),
        cents.alias("cents2"),
    )
    joined = v1.join(v2, "o_orderkey", "full_outer")
    change = (
        F.when(F.col("status1").isNull(), "added")
        .when(F.col("status2").isNull(), "removed")
        .when(
            (F.col("status1") != F.col("status2"))
            | (F.col("cents1") != F.col("cents2")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return joined.groupBy(change.alias("change_type")).agg(
        F.count("*").alias("n")
    )


# ---------------------------------------------------------------------------
# Rolling 7-day active users per day (the WAU-by-day series): exact
# sliding-window count_distinct via bounded replication -- each
# (day, user) activity row votes for the 7 window-end days it falls
# in (sequence + explode, a map-side 7x fanout, NO self-join), then
# one count_distinct per day. Portable and exact; at 100 TB the 7x
# blowup on the deduped (day,user) set is far cheaper than a
# range self-join on the raw events.
# ---------------------------------------------------------------------------

_WAU_SQL = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
),
votes AS (
  SELECT unnest(generate_series(d, d + 6, INTERVAL 1 DAY)) AS wend, d, user_id
  FROM du
),
bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM du)
SELECT CAST(v.wend AS DATE) AS day,
       CAST(count(DISTINCT v.user_id) AS BIGINT) AS active_7d
FROM votes v, bounds
WHERE CAST(v.wend AS DATE) BETWEEN bounds.lo AND bounds.hi
GROUP BY 1
"""


@query("rolling_7d_active_users", _WAU_SQL)
def rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    du = events.select(F.to_date("ts").alias("d"), "user_id").distinct()
    votes = du.select(
        F.explode(
            F.sequence(
                F.col("d"), F.date_add(F.col("d"), 6), F.expr("INTERVAL 1 DAY")
            )
        ).alias("wend"),
        "user_id",
    )
    bounds = du.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    return (
        votes.crossJoin(F.broadcast(bounds))
        .where(F.col("wend").between(F.col("lo"), F.col("hi")))
        .groupBy(F.col("wend").alias("day"))
        .agg(F.count_distinct("user_id").alias("active_7d"))
    )


# ---------------------------------------------------------------------------
# Key-skew diagnostics: the operator you run BEFORE deciding to salt a
# join (operators/skew.py). Per-key frequencies of the join column,
# reported as the top-N heavy hitters with their share of rows in
# parts-per-million (integer -- no float division in the hash) and
# the skew factor (key count * distinct keys / total rows, scaled).
# One hash agg + a global top-N on the already-tiny key histogram.
# ---------------------------------------------------------------------------

SKEW_TOP_N = 20

_SKEW_SQL = f"""
WITH freq AS (
  SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY l_suppkey
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS nkeys
  FROM freq
)
SELECT key, n, n * 1000000 // total AS ppm,
       n * nkeys * 100 // total AS skew_pct_of_avg
FROM (
  SELECT f.key, f.n, t.total, t.nkeys,
         row_number() OVER (ORDER BY f.n DESC, f.key) AS rk
  FROM freq f, tot t
) WHERE rk <= {SKEW_TOP_N}
"""


@query("skew_key_diagnostics", _SKEW_SQL)
def skew_key_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    freq = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count("*").alias("n")
    )
    tot = freq.agg(
        F.sum("n").alias("total"), F.count("*").alias("nkeys")
    )
    rk = Window.orderBy(F.desc("n"), F.asc("key"))
    return (
        freq.crossJoin(F.broadcast(tot))
        .withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") <= SKEW_TOP_N)
        .select(
            "key",
            "n",
            # integer DIV, not double division: a double quotient can
            # land an ulp below an exact integer and truncate to m-1
            # where DuckDB's // floors to m
            F.expr("n * 1000000 DIV total").alias("ppm"),
            F.expr("n * nkeys * 100 DIV total").alias("skew_pct_of_avg"),
        )
    )


# ---------------------------------------------------------------------------
# Data-quality constraint battery: FK orphans both directions,
# uniqueness, and domain-range checks, each one anti-join or
# aggregate, unioned into a (check_name, violations) report. The FK
# checks are left-anti hash joins (broadcast when the dim side is
# small); uniqueness is a keyed count filter. Zero-violation rows
# STILL appear -- a DQ report that omits passing checks can't
# distinguish "passed" from "didn't run".
# ---------------------------------------------------------------------------

_DQ_SQL = """
SELECT * FROM (
  SELECT 'lineitem_orphan_orderkey' AS check_name,
         CAST(count(*) AS BIGINT) AS violations
  FROM lineitem l WHERE NOT EXISTS
    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
  UNION ALL
  SELECT 'orders_without_lineitems',
         CAST(count(*) AS BIGINT)
  FROM orders o WHERE NOT EXISTS
    (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
  UNION ALL
  SELECT 'duplicate_orderkeys', CAST(coalesce(sum(c - 1), 0) AS BIGINT)
  FROM (SELECT o_orderkey, count(*) AS c FROM orders
        GROUP BY o_orderkey HAVING count(*) > 1)
  UNION ALL
  SELECT 'customer_orphan_nationkey', CAST(count(*) AS BIGINT)
  FROM customer c WHERE NOT EXISTS
    (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
  UNION ALL
  SELECT 'nonpositive_totalprice', CAST(count(*) AS BIGINT)
  FROM orders WHERE o_totalprice <= 0
  UNION ALL
  SELECT 'quantity_out_of_range', CAST(count(*) AS BIGINT)
  FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50
)
"""


@query("dq_constraint_checks", _DQ_SQL)
def dq_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    def report(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count("*").alias("violations"),
        )

    orphan_li = li.join(
        orders.select("o_orderkey"),
        li["l_orderkey"] == orders["o_orderkey"],
        "left_anti",
    )
    childless = orders.join(
        li.select("l_orderkey"),
        orders["o_orderkey"] == li["l_orderkey"],
        "left_anti",
    )
    dup_keys = (
        orders.groupBy("o_orderkey")
        .count()
        .where(F.col("count") > 1)
        .agg(
            F.lit("duplicate_orderkeys").alias("check_name"),
            F.coalesce(F.sum(F.col("count") - 1), F.lit(0)).alias(
                "violations"
            ),
        )
    )
    orphan_cust = customer.join(
        F.broadcast(nation.select("n_nationkey")),
        customer["c_nationkey"] == nation["n_nationkey"],
        "left_anti",
    )
    bad_price = orders.where(F.col("o_totalprice") <= 0)
    bad_qty = li.where((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50))
    return (
        report("lineitem_orphan_orderkey", orphan_li)
        .unionAll(report("orders_without_lineitems", childless))
        .unionAll(dup_keys)
        .unionAll(report("customer_orphan_nationkey", orphan_cust))
        .unionAll(report("nonpositive_totalprice", bad_price))
        .unionAll(report("quantity_out_of_range", bad_qty))
    )


# ---------------------------------------------------------------------------
# Date-spine densification: per-nation daily revenue for January 1995
# INCLUDING zero-activity days -- the sparse-to-dense series step
# before any rolling/EWMA feature. The spine is nations x 31 days
# built with sequence+explode (map-side, no shuffle) and left-joined
# against the per-(nation, day) aggregate; at 100 TB the aggregate is
# the only table-sized shuffle, the spine stays |dims| x |days|.
# ---------------------------------------------------------------------------

_SPINE_SQL = """
WITH rev AS (
  SELECT n.n_nationkey AS nationkey,
         CAST(o.o_orderdate AS DATE) AS d,
         sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
    AND o.o_orderdate < TIMESTAMP '1995-02-01'
  GROUP BY 1, 2
),
spine AS (
  SELECT n.n_nationkey AS nationkey, CAST(gs AS DATE) AS d
  FROM nation n, unnest(generate_series(DATE '1995-01-01',
                                        DATE '1995-01-31',
                                        INTERVAL 1 DAY)) AS t(gs)
)
SELECT s.nationkey, s.d AS day,
       CAST(coalesce(r.cents, 0) AS BIGINT) AS revenue_cents
FROM spine s LEFT JOIN rev r
  ON s.nationkey = r.nationkey AND s.d = r.d
"""


@query("densify_date_spine", _SPINE_SQL)
def densify_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    rev = (
        orders.where(
            (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1995-02-01")
        )
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(
            F.broadcast(nation),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy(
            F.col("n_nationkey").alias("nationkey"),
            F.to_date("o_orderdate").alias("d"),
        )
        .agg(F.sum(cents).alias("cents"))
    )
    spine = nation.select(
        F.col("n_nationkey").alias("nationkey"),
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("1995-01-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d"),
    )
    return spine.join(rev, ["nationkey", "d"], "left").select(
        "nationkey",
        F.col("d").alias("day"),
        F.coalesce(F.col("cents"), F.lit(0)).alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# Month-over-month revenue growth: monthly aggregate then lag() over
# the (tiny) month series. The window is global but runs over ~80
# rows AFTER aggregation -- the safe global-window pattern (same as
# skyline's distinct-price window): aggregate first, window the
# aggregate. Growth reported as integer cents delta, not a ratio
# (float division is not hash-portable).
# ---------------------------------------------------------------------------

_MOM_SQL = """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) AS INT) * 12
           + CAST(month(o_orderdate) AS INT) AS m,
         strftime(o_orderdate, '%Y-%m') AS month,
         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS revenue_cents
  FROM orders GROUP BY 1, 2
)
SELECT month, CAST(revenue_cents AS BIGINT) AS revenue_cents,
       CAST(lag(revenue_cents) OVER (ORDER BY m) AS BIGINT) AS prev_cents,
       CAST(revenue_cents - lag(revenue_cents) OVER (ORDER BY m) AS BIGINT)
         AS delta_cents
FROM monthly
"""


@query("mom_revenue_growth", _MOM_SQL)
def mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("int")
        .alias("m"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "revenue_cents"
        )
    )
    w = Window.orderBy("m")
    return monthly.select(
        "month",
        "revenue_cents",
        F.lag("revenue_cents").over(w).alias("prev_cents"),
        (F.col("revenue_cents") - F.lag("revenue_cents").over(w)).alias(
            "delta_cents"
        ),
    )


# ---------------------------------------------------------------------------
# As-of join, LEFT + TOLERANCE variant (pandas merge_asof semantics):
# every click keeps its row; the matched purchase is the most recent
# at-or-before, but only if within 1 hour -- otherwise nulls. Same
# union + carry-forward window as asof_join_click_purchase (ONE
# shuffle on user_id, no range explosion); the tolerance is a
# microsecond-epoch filter applied after the carry, nulling both
# carried columns together. Oracle: DuckDB native ASOF LEFT JOIN with
# the same tolerance CASE.
# ---------------------------------------------------------------------------

ASOF_TOL_US = 3600 * 1_000_000  # 1 hour

_ASOF_TOL_SQL = f"""
WITH purchases AS (
  SELECT user_id, ts, max(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
),
clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
)
SELECT CAST(c.event_id AS BIGINT) AS click_id,
       CAST(c.user_id AS BIGINT) AS user_id,
       CASE WHEN p.ts IS NOT NULL
             AND epoch_us(c.ts) - epoch_us(p.ts) <= {ASOF_TOL_US}
            THEN p.ts END AS purchase_ts,
       CASE WHEN p.ts IS NOT NULL
             AND epoch_us(c.ts) - epoch_us(p.ts) <= {ASOF_TOL_US}
            THEN p.purchase_value END AS purchase_value
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


@query("asof_join_tolerance", _ASOF_TOL_SQL)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.timeutil import epoch_micros
    from .queries_surface import _asof_carry

    carried = _asof_carry(spark, sf_dir)
    in_tol = F.col("purchase_ts").isNotNull() & (
        epoch_micros("ts") - epoch_micros("purchase_ts") <= ASOF_TOL_US
    )
    return carried.filter(F.col("tag") == 1).select(
        F.col("event_id").cast("long").alias("click_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.when(in_tol, F.col("purchase_ts")).alias("purchase_ts"),
        F.when(in_tol, F.col("carried_value")).alias("purchase_value"),
    )


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE) -- bounded reachability over
# the frequent-co-purchase graph: parts within 2 hops of the smallest
# frequently-paired part (recommendation-expansion shape). The SAME
# SQL text runs on Spark and DuckDB; the hop bound terminates the
# recursion on both engines. Spark executes each recursion step as a
# joined micro-plan -- the declarative twin of the unit-weight
# operators/graph.sssp_bounded frontier iteration (which remains the
# scale path: the CTE recurses over ALL accumulated rows, the frontier
# loop only over improvements).
# ---------------------------------------------------------------------------

_RCTE_SQL = """
WITH RECURSIVE items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
),
sym AS (
  SELECT pa AS s, pb AS d FROM pairs
  UNION ALL
  SELECT pb AS s, pa AS d FROM pairs
),
seed AS (SELECT min(pa) AS node FROM pairs),
walk(node, hops) AS (
  SELECT node, 0 FROM seed
  UNION ALL
  SELECT sym.d, walk.hops + 1 FROM walk JOIN sym ON sym.s = walk.node
  WHERE walk.hops < 2
)
SELECT CAST(node AS BIGINT) AS part, CAST(min(hops) AS BIGINT) AS hops
FROM walk GROUP BY node
"""


@query("sql_recursive_reachability", _RCTE_SQL)
def sql_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_RCTE_SQL)


# ---------------------------------------------------------------------------
# Max concurrent intervals (sweep line, NO self-join): each lineitem
# occupies [shipdate, shipdate + 7 days); the per-supplier peak
# concurrency is the max of a running +1/-1 sum over the merged
# boundary stream. The interval-overlap self-join this replaces is
# quadratic on busy suppliers; the sweep is one explode (2 rows per
# interval) + one window ordered by (ts, delta) per supplier --
# deterministic because ends (-1) sort before starts (+1) at the
# same instant, i.e. touching intervals don't count as concurrent.
# ---------------------------------------------------------------------------

_SWEEP_SQL = """
WITH bounds AS (
  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS ts, 1 AS delta
  FROM lineitem
  UNION ALL
  SELECT l_suppkey, CAST(l_shipdate AS DATE) + 7 AS ts, -1 AS delta
  FROM lineitem
),
swept AS (
  SELECT l_suppkey,
         sum(delta) OVER (PARTITION BY l_suppkey ORDER BY ts, delta
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS live
  FROM bounds
)
SELECT l_suppkey AS suppkey, CAST(max(live) AS BIGINT) AS peak_concurrent
FROM swept GROUP BY l_suppkey
"""


@query("max_concurrent_intervals", _SWEEP_SQL)
def max_concurrent_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    starts = li.select(
        "l_suppkey", F.to_date("l_shipdate").alias("ts"), F.lit(1).alias("delta")
    )
    ends = li.select(
        "l_suppkey",
        F.date_add(F.to_date("l_shipdate"), 7).alias("ts"),
        F.lit(-1).alias("delta"),
    )
    bounds = starts.unionByName(ends)
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("ts", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = bounds.select(
        "l_suppkey", F.sum("delta").over(w).alias("live")
    )
    return swept.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.max("live").alias("peak_concurrent")
    )


# ---------------------------------------------------------------------------
# Group-wise linear regression by sufficient statistics: revenue trend
# per nation over month index, reported as the EXACT RATIONAL slope
# (numerator n*Sxy - Sx*Sy, denominator n*Sxx - Sx^2) -- one
# aggregation pass collecting (n, Sx, Sy, Sxy, Sxx), all integer, all
# map-side combinable. This is the distributed-ML shape: sufficient
# statistics shrink to O(groups) rows no matter the table size, and
# no float enters until a consumer divides num/den.
# ---------------------------------------------------------------------------

_SLOPE_SQL = """
WITH monthly AS (
  SELECT n.n_nationkey AS nationkey,
         CAST(year(o.o_orderdate) AS BIGINT) * 12
           + CAST(month(o.o_orderdate) AS BIGINT) AS x,
         sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS y
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
rel AS (
  SELECT nationkey, x - min(x) OVER () AS xr, y FROM monthly
)
SELECT nationkey,
       CAST(count(*) AS BIGINT) AS n_months,
       CAST(count(*) * sum(xr * y) - sum(xr) * sum(y) AS BIGINT)
         AS slope_num,
       CAST(count(*) * sum(xr * xr) - sum(xr) * sum(xr) AS BIGINT)
         AS slope_den
FROM rel GROUP BY nationkey
"""


@query("regression_slope_by_nation", _SLOPE_SQL)
def regression_slope_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    monthly = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(
            F.broadcast(nation),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy(
            F.col("n_nationkey").alias("nationkey"),
            (F.year("o_orderdate").cast("long") * 12
             + F.month("o_orderdate").cast("long")).alias("x"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("y")
        )
    )
    rel = monthly.select(
        "nationkey",
        (F.col("x") - F.min("x").over(Window.partitionBy())).alias("xr"),
        "y",
    )
    n = F.count("*")
    return rel.groupBy("nationkey").agg(
        n.alias("n_months"),
        (n * F.sum(F.col("xr") * F.col("y"))
         - F.sum("xr") * F.sum("y")).alias("slope_num"),
        (n * F.sum(F.col("xr") * F.col("xr"))
         - F.sum("xr") * F.sum("xr")).alias("slope_den"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average value per user (TWAP shape): each event's
# value is weighted by how long it remained current (lead(ts) - ts,
# in microseconds); reported as exact integer numerator/denominator
# (cents-micros / micros) -- division is the consumer's choice. One
# window on (user_id, ts, event_id) + one agg, both on user_id: a
# single shuffle. Magnitudes: 30 days ~ 2.6e12 us, cents <= 1e4 ->
# num <= ~2.6e16, inside int64.
# ---------------------------------------------------------------------------

_TWAP_SQL = """
WITH seq AS (
  SELECT user_id,
         CAST(round(value * 100, 0) AS BIGINT) AS cents,
         epoch_us(ts) AS t,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS t_next
  FROM events
)
SELECT user_id,
       CAST(sum(cents * (t_next - t)) AS BIGINT) AS twap_num,
       CAST(sum(t_next - t) AS BIGINT) AS twap_den,
       CAST(count(*) AS BIGINT) AS n_intervals
FROM seq WHERE t_next IS NOT NULL
GROUP BY user_id
"""


@query("time_weighted_value", _TWAP_SQL)
def time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.timeutil import epoch_micros

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        epoch_micros("ts").alias("t"),
        F.lead(epoch_micros("ts")).over(w).alias("t_next"),
    ).where(F.col("t_next").isNotNull())
    return seq.groupBy("user_id").agg(
        F.sum(F.col("cents") * (F.col("t_next") - F.col("t"))).alias(
            "twap_num"
        ),
        F.sum(F.col("t_next") - F.col("t")).alias("twap_den"),
        F.count("*").alias("n_intervals"),
    )


# ---------------------------------------------------------------------------
# Z-order clustering key: bit-interleave two dimension keys into one
# space-filling-curve value -- the sort key under multi-dimensional
# data clustering (Delta OPTIMIZE ZORDER, Iceberg sort orders). A
# z-sorted layout lets min/max file stats prune on EITHER dimension.
# The interleave is 10 unrolled shift-and-mask terms per dimension,
# pure integer arithmetic identical on both engines; the query
# reports file-grain z-buckets with row counts + per-dimension
# min/max spans (the stats a pruning engine would persist).
# ---------------------------------------------------------------------------

_Z_BITS = 10  # bits per dimension: both keys are taken % 1024


def _z_interleave_sql(x: str, y: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_ZORDER_SQL = f"""
WITH keyed AS (
  SELECT l_partkey % 1024 AS xk, l_suppkey % 1024 AS yk,
         {_z_interleave_sql('(l_partkey % 1024)', '(l_suppkey % 1024)')} AS z
  FROM lineitem
)
SELECT CAST(z >> 14 AS BIGINT) AS z_bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(xk) AS BIGINT) AS x_min, CAST(max(xk) AS BIGINT) AS x_max,
       CAST(min(yk) AS BIGINT) AS y_min, CAST(max(yk) AS BIGINT) AS y_max
FROM keyed GROUP BY 1
"""


@query("zorder_bucket_stats", _ZORDER_SQL)
def zorder_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_partkey") % 1024
    y = F.col("l_suppkey") % 1024
    z = F.lit(0)
    for i in range(_Z_BITS):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(
            F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
    keyed = li.select(x.alias("xk"), y.alias("yk"), z.alias("z"))
    return keyed.groupBy(
        F.shiftright(F.col("z"), 14).cast("long").alias("z_bucket")
    ).agg(
        F.count("*").alias("n_rows"),
        F.min("xk").cast("long").alias("x_min"),
        F.max("xk").cast("long").alias("x_max"),
        F.min("yk").cast("long").alias("y_min"),
        F.max("yk").cast("long").alias("y_max"),
    )


# ---------------------------------------------------------------------------
# Exact median via a GROUPED_AGG pandas UDAF -- the same answer as
# median_exact_groups (same oracle SQL), implemented as the fourth
# and final sanctioned Python-kernel shape: scalar pandas_udf
# (similarity kernels), mapInPandas (multimodal), applyInPandas[WithState]
# (packing / sessions), and now grouped-agg. Arrow ships each group's
# cents column to one Python worker; use when the aggregate genuinely
# can't be expressed relationally -- for median it CAN (see the rank
# twin), which makes this pair an honest benchmark of the UDAF tax.
# ---------------------------------------------------------------------------


@query(
    "median_exact_udaf",
    """
WITH ranked AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY CAST(round(o_totalprice * 100, 0) AS BIGINT),
                                     o_orderkey) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
)
SELECT o_orderpriority AS priority,
       CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN cents ELSE 0 END
              + CASE WHEN rn = n // 2 + 1 THEN cents ELSE 0 END)
            AS BIGINT) AS median_cents_x2,
       CAST(max(n) AS BIGINT) AS n
FROM ranked GROUP BY o_orderpriority
""",
)
def median_exact_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: with `from __future__ import annotations`
    # the type hints are strings and pandas_udf's inference rejects them
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def median_x2(cents):
        s = cents.sort_values().reset_index(drop=True)
        n = len(s)
        lo = (n + 1) // 2 - 1  # 0-based two-middle-rows
        hi = n // 2
        return int(s.iloc[lo]) + int(s.iloc[hi])

    # classic-mode Spark refuses to mix a GROUPED_AGG pandas UDF with
    # built-in aggregates in one agg(); the count rides as a second UDAF
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def n_rows(cents):
        return len(cents)

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return (
        orders.select(
            F.col("o_orderpriority").alias("priority"), cents.alias("cents")
        )
        .groupBy("priority")
        .agg(
            median_x2("cents").alias("median_cents_x2"),
            n_rows("cents").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Error-safe function battery: the try_* surface that keeps a 100 TB
# job alive when ANSI mode is on (the driver session default) --
# division by zero, overflow-prone casts, malformed numbers all
# degrade to NULL instead of killing the stage. Counts are grouped so
# the oracle pins every null-production path.
# ---------------------------------------------------------------------------

_TRY_SQL = """
SELECT l_linestatus AS status,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN l_quantity = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS zero_qty,
       CAST(count(CASE WHEN l_quantity <> 0
                       THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                            // CAST(l_quantity AS BIGINT) END) AS BIGINT)
         AS unit_price_ok,
       CAST(count(TRY_CAST(l_returnflag AS BIGINT)) AS BIGINT)
         AS flag_as_number
FROM lineitem GROUP BY l_linestatus
"""


@query("try_function_battery", _TRY_SQL)
def try_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    unit_price = F.expr(
        "try_divide(CAST(round(l_extendedprice * 100, 0) AS BIGINT), "
        "CAST(l_quantity AS BIGINT))"
    )
    return li.groupBy(F.col("l_linestatus").alias("status")).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("l_quantity") == 0, 1).otherwise(0)).alias(
            "zero_qty"
        ),
        # try_divide yields NULL on /0 (never raises, ANSI or not);
        # floor to match DuckDB's integer //
        F.count(F.floor(unit_price)).alias("unit_price_ok"),
        F.count(F.expr("try_cast(l_returnflag AS BIGINT)")).alias(
            "flag_as_number"
        ),
    )


# ---------------------------------------------------------------------------
# ID-sequence gap detection: missing o_orderkey ranges via lead() over
# the distinct keys -- the DQ complement to dq_constraint_checks
# (completeness, not integrity). The window is global over DISTINCT
# ids; at 100 TB you'd range-partition by id bucket and only stitch
# bucket boundaries (one extra tiny pass) -- the per-bucket lead()
# is embarrassingly parallel.
# ---------------------------------------------------------------------------

# the fixture's keys are dense, which would make the query a 0-row
# no-op; % 7 "deletions" model the soft-delete holes this op exists
# to find (same predicate on both engines, so still oracle-exact)
_GAPS_SQL = """
WITH ids AS (SELECT DISTINCT o_orderkey AS id FROM orders
             WHERE o_orderkey % 7 <> 0),
seq AS (
  SELECT id, lead(id) OVER (ORDER BY id) AS next_id FROM ids
)
SELECT id + 1 AS gap_start, next_id - 1 AS gap_end,
       CAST(next_id - id - 1 AS BIGINT) AS missing
FROM seq WHERE next_id IS NOT NULL AND next_id - id > 1
"""


@query("id_gap_ranges", _GAPS_SQL)
def id_gap_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    ids = (
        orders.where(F.col("o_orderkey") % 7 != 0)
        .select(F.col("o_orderkey").alias("id"))
        .distinct()
    )
    seq = ids.select(
        "id", F.lead("id").over(Window.orderBy("id")).alias("next_id")
    )
    return seq.where(
        F.col("next_id").isNotNull() & (F.col("next_id") - F.col("id") > 1)
    ).select(
        (F.col("id") + 1).alias("gap_start"),
        (F.col("next_id") - 1).alias("gap_end"),
        (F.col("next_id") - F.col("id") - 1).alias("missing"),
    )


# ---------------------------------------------------------------------------
# Relational division: customers who have ordered under EVERY priority
# class -- the "for all" quantifier, classically a nested NOT EXISTS
# (NOT EXISTS (classes EXCEPT customer's classes)). The scalable
# rewrite is count-distinct equality: one hash agg per customer
# against the (broadcast) universe size, no double anti-join. Both
# spellings are equivalent because distinct-per-customer classes are
# a subset of the universe by construction.
# ---------------------------------------------------------------------------

_DIVISION_SQL = """
WITH universe AS (
  SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_classes
  FROM orders
),
per_cust AS (
  SELECT o_custkey,
         CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_classes,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT p.o_custkey AS custkey, p.n_orders
FROM per_cust p, universe u
WHERE p.n_classes = u.n_classes
"""


@query("relational_division", _DIVISION_SQL)
def relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    universe = orders.agg(
        F.count_distinct("o_orderpriority").alias("n_classes_u")
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.count_distinct("o_orderpriority").alias("n_classes"),
        F.count("*").alias("n_orders"),
    )
    return (
        per_cust.crossJoin(F.broadcast(universe))
        .where(F.col("n_classes") == F.col("n_classes_u"))
        .select(F.col("o_custkey").alias("custkey"), "n_orders")
    )


# ---------------------------------------------------------------------------
# Market-basket LIFT: how much more often parts co-occur than
# independence predicts -- lift = P(ab) / (P(a)P(b)) reported as the
# exact integer rational (n_ab * n_orders, n_a * n_b): no float
# enters the hash. Reuses the bounded per-order self-join of
# basket_pair_support plus two broadcast-sized marginals.
# ---------------------------------------------------------------------------

_LIFT_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        FROM items),
marg AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM items GROUP BY 1
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {BASKET_MIN_SUPPORT}
)
SELECT p.part_a, p.part_b, p.n_ab,
       CAST(p.n_ab * t.n_orders AS BIGINT) AS lift_num,
       CAST(ma.n * mb.n AS BIGINT) AS lift_den
FROM pairs p
JOIN marg ma ON ma.l_partkey = p.part_a
JOIN marg mb ON mb.l_partkey = p.part_b
CROSS JOIN tot t
"""


@query("basket_pair_lift", _LIFT_SQL)
def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    tot = items.agg(
        F.count_distinct("l_orderkey").alias("n_orders")
    )
    marg = items.groupBy("l_partkey").agg(F.count("*").alias("n"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= BASKET_MIN_SUPPORT)
    )
    ma = marg.select(
        F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a")
    )
    mb = marg.select(
        F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b")
    )
    return (
        pairs.join(ma, "part_a")
        .join(mb, "part_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            (F.col("n_ab") * F.col("n_orders")).alias("lift_num"),
            (F.col("n_a") * F.col("n_b")).alias("lift_den"),
        )
    )


# ---------------------------------------------------------------------------
# RFM segmentation: quartile-code every customer on Recency (days
# since last order, integer), Frequency (order count) and Monetary
# (lifetime cents), segment = 100*R + 10*F + M. One agg on custkey +
# three ntile windows over the (already customer-grain) aggregate --
# window AFTER aggregate again. Ties broken by custkey so ntile
# boundaries are deterministic on both engines.
#
# Scale note: an unpartitioned ntile sorts the CUSTOMER-GRAIN table in
# one partition -- fine while |customers| << |orders| (it is: the agg
# did the reduction), the known ceiling at ~1e9 customers. Past that,
# swap ntile for the two-pass rank: range-partitioned sort + per-range
# row counts broadcast back to offset local ranks (the same
# bucket-stitch used by id_gap_ranges), identical output.
# ---------------------------------------------------------------------------

_RFM_SQL = """
WITH cust AS (
  SELECT o_custkey,
         date_diff('day', max(CAST(o_orderdate AS DATE)), DATE '1999-01-01')
           AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS monetary_cents
  FROM orders GROUP BY o_custkey
),
coded AS (
  SELECT o_custkey, recency_days, frequency, monetary_cents,
         ntile(4) OVER (ORDER BY recency_days, o_custkey) AS r,
         ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f,
         ntile(4) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m
  FROM cust
)
SELECT CAST(r * 100 + f * 10 + m AS BIGINT) AS segment,
       CAST(count(*) AS BIGINT) AS customers,
       CAST(sum(monetary_cents) AS BIGINT) AS segment_cents
FROM coded GROUP BY 1
"""


@query("rfm_segmentation", _RFM_SQL)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("1999-01-01").cast("date"), F.max(F.to_date("o_orderdate"))
        ).alias("recency_days"),
        F.count("*").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "monetary_cents"
        ),
    )
    coded = cust.select(
        "monetary_cents",
        F.ntile(4)
        .over(Window.orderBy("recency_days", "o_custkey"))
        .alias("r"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("frequency"), F.asc("o_custkey")))
        .alias("f"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("monetary_cents"), F.asc("o_custkey")))
        .alias("m"),
    )
    return coded.groupBy(
        (F.col("r") * 100 + F.col("f") * 10 + F.col("m"))
        .cast("long")
        .alias("segment")
    ).agg(
        F.count("*").alias("customers"),
        F.sum("monetary_cents").alias("segment_cents"),
    )


# ---------------------------------------------------------------------------
# Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys MATCH
# each other instead of vanishing -- the semantics you need when NULL
# is a legitimate category value (here: priorities scrubbed to NULL
# route to a catch-all dim row). Still a hash join: Spark hashes the
# null bucket like any other key under EqualNullSafe, so the plan is
# identical to a plain equi-join -- no fallback to nested loop.
# ---------------------------------------------------------------------------

_NULLSAFE_SQL = """
WITH o AS (
  SELECT CASE WHEN o_orderpriority = '3-MEDIUM' THEN NULL
              ELSE o_orderpriority END AS pk,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
dim AS (
  SELECT * FROM (VALUES ('1-URGENT', 'hot'), ('2-HIGH', 'hot'),
                        (NULL, 'scrubbed'), ('4-NOT SPECIFIED', 'cold'),
                        ('5-LOW', 'cold')) AS t(pk, label)
)
SELECT d.label, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o.cents) AS BIGINT) AS cents
FROM o JOIN dim d ON o.pk IS NOT DISTINCT FROM d.pk
GROUP BY d.label
"""


@query("join_null_safe", _NULLSAFE_SQL)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.when(F.col("o_orderpriority") == "3-MEDIUM", None)
        .otherwise(F.col("o_orderpriority"))
        .alias("pk"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    dim = spark.createDataFrame(
        [
            ("1-URGENT", "hot"),
            ("2-HIGH", "hot"),
            (None, "scrubbed"),
            ("4-NOT SPECIFIED", "cold"),
            ("5-LOW", "cold"),
        ],
        "pk string, label string",
    )
    return (
        o.join(F.broadcast(dim), o["pk"].eqNullSafe(dim["pk"]))
        .groupBy("label")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("cents"))
    )


# ---------------------------------------------------------------------------
# IQR-rule outlier counts per group: quartiles defined by explicit
# rank (q1 = cents at rank ceil(n/4), q3 at ceil(3n/4) -- one fixed
# definition spelled identically on both engines, sidestepping the
# interpolation zoo), outlier iff 2c < 2*q1 - 3*IQR or
# 2c > 2*q3 + 3*IQR (scaled by 2 so the 1.5x factor stays integer).
# Same window-rank scaffold as median_exact_groups; one shuffle on
# the group key, thresholds join back as a 5-row broadcast.
# ---------------------------------------------------------------------------

_IQR_SQL = """
WITH ranked AS (
  SELECT o_orderpriority AS pri,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY CAST(round(o_totalprice * 100, 0) AS BIGINT),
                                     o_orderkey) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
),
quarts AS (
  SELECT pri,
         CAST(sum(CASE WHEN rn = (n + 3) // 4 THEN cents ELSE 0 END)
              AS BIGINT) AS q1,
         CAST(sum(CASE WHEN rn = (3 * n + 3) // 4 THEN cents ELSE 0 END)
              AS BIGINT) AS q3
  FROM ranked GROUP BY pri
)
SELECT r.pri AS priority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN 2 * r.cents < 2 * q.q1 - 3 * (q.q3 - q.q1)
                       OR 2 * r.cents > 2 * q.q3 + 3 * (q.q3 - q.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM ranked r JOIN quarts q ON r.pri = q.pri
GROUP BY r.pri
"""


@query("outlier_iqr_by_group", _IQR_SQL)
def outlier_iqr_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    # window over the SOURCE column: a lateral alias ("pri") can't be
    # referenced from a window in the same select
    wp = Window.partitionBy("o_orderpriority")
    ranked = orders.select(
        F.col("o_orderpriority").alias("pri"),
        cents.alias("cents"),
        F.row_number()
        .over(wp.orderBy(cents, "o_orderkey"))
        .alias("rn"),
        F.count("*").over(wp).alias("n"),
    )
    q1_rank = ((F.col("n") + 3) / 4).cast("long")
    q3_rank = ((3 * F.col("n") + 3) / 4).cast("long")
    quarts = ranked.groupBy("pri").agg(
        F.sum(
            F.when(F.col("rn") == q1_rank, F.col("cents")).otherwise(0)
        ).alias("q1"),
        F.sum(
            F.when(F.col("rn") == q3_rank, F.col("cents")).otherwise(0)
        ).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    is_out = (2 * F.col("cents") < 2 * F.col("q1") - 3 * iqr) | (
        2 * F.col("cents") > 2 * F.col("q3") + 3 * iqr
    )
    return (
        ranked.join(F.broadcast(quarts), "pri")
        .groupBy(F.col("pri").alias("priority"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(is_out, 1).otherwise(0)).alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Provenance audit: rows per physical input file via input_file_name()
# -- the lineage primitive under "which landing file produced these
# rows" debugging and per-file quarantine. Purely map-side until the
# per-file count; the filename is metadata the scan already carries.
# Oracle: DuckDB read_parquet(filename=true); both sides reduce the
# path to its basename so URI-vs-path differences can't leak in.
# ---------------------------------------------------------------------------

# sf-agnostic oracle: every fixture table is a single parquet file
# named <table>.parquet, so the expected lineage report is one row
# with that constant basename and the view's own counts -- valid at
# ANY sf_dir (a read_parquet(filename=true) twin would hard-pin one
# absolute path and break the sf0.001 conformance test).
_PROV_SQL = """
SELECT 'orders.parquet' AS file_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders
"""


@query("provenance_file_counts", _PROV_SQL)
def provenance_file_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.regexp_extract(
                F.input_file_name(), r"([^/\\]+)$", 1
            ).alias("file_name"),
            "o_custkey",
        )
        .groupBy("file_name")
        .agg(
            F.count("*").alias("n_rows"),
            F.count_distinct("o_custkey").alias("n_customers"),
        )
    )


# ---------------------------------------------------------------------------
# Cumulative unique users by day (the growth curve): each user counts
# once, on their FIRST day -- min-agg per user, count per day, then a
# running sum over the (tiny) day series. No distinct-over-window
# anywhere: the min-agg makes "unique" a plain count.
# ---------------------------------------------------------------------------

_CUMUSERS_SQL = """
WITH first_day AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id
),
per_day AS (
  SELECT d, CAST(count(*) AS BIGINT) AS new_users FROM first_day GROUP BY d
)
SELECT d AS day, new_users,
       CAST(sum(new_users) OVER (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_users
FROM per_day
"""


@query("cumulative_unique_users", _CUMUSERS_SQL)
def cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    first_day = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d")
    )
    per_day = first_day.groupBy("d").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        F.col("d").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


# ---------------------------------------------------------------------------
# Status transition matrix: counts of consecutive (prev -> next)
# order-status transitions per customer timeline (lag over the
# customer's date-ordered orders) -- the empirical Markov chain under
# behavioral models. One user-key window + one tiny-key agg.
# ---------------------------------------------------------------------------

_TRANS_SQL = """
WITH seq AS (
  SELECT o_custkey, o_orderstatus AS cur,
         lag(o_orderstatus) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS prev
  FROM orders
)
SELECT prev AS from_status, cur AS to_status,
       CAST(count(*) AS BIGINT) AS transitions
FROM seq WHERE prev IS NOT NULL
GROUP BY prev, cur
"""


@query("status_transition_matrix", _TRANS_SQL)
def status_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        F.col("o_orderstatus").alias("cur"),
        F.lag("o_orderstatus").over(w).alias("prev"),
    )
    return (
        seq.where(F.col("prev").isNotNull())
        .groupBy(
            F.col("prev").alias("from_status"),
            F.col("cur").alias("to_status"),
        )
        .agg(F.count("*").alias("transitions"))
    )


# ---------------------------------------------------------------------------
# Revenue concentration (the 80/20 check): how many top customers it
# takes to cover 80% of revenue. Customer-grain aggregate first, then
# a cumsum window over that aggregate (the sanctioned global-window-
# over-aggregate shape); the 80% threshold compares 5*cumsum against
# 4*total so no ratio is ever materialized.
# ---------------------------------------------------------------------------

_CONC_SQL = """
WITH cust AS (
  SELECT o_custkey,
         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT cents,
         sum(cents) OVER (ORDER BY cents DESC, o_custkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(cents) OVER () AS total,
         row_number() OVER (ORDER BY cents DESC, o_custkey) AS rk
  FROM cust
)
SELECT CAST(min(rk) AS BIGINT) AS customers_to_80pct,
       CAST(max(total) AS BIGINT) AS total_cents,
       CAST(max(n) AS BIGINT) AS n_customers
FROM (SELECT rk, total FROM ranked WHERE 5 * cum >= 4 * total),
     (SELECT count(*) AS n FROM cust)
"""


@query("revenue_concentration_8020", _CONC_SQL)
def revenue_concentration_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "cents"
        )
    )
    w_order = Window.orderBy(F.desc("cents"), F.asc("o_custkey"))
    ranked = cust.select(
        F.sum("cents")
        .over(w_order.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("cents").over(Window.partitionBy()).alias("total"),
        F.row_number().over(w_order).alias("rk"),
    )
    hit = ranked.where(5 * F.col("cum") >= 4 * F.col("total"))
    # keep the customer count IN the plan (one-row broadcast), not a
    # driver-side .count() action folded into a literal
    n_cust = cust.agg(F.count("*").alias("n"))
    return hit.crossJoin(F.broadcast(n_cust)).agg(
        F.min("rk").alias("customers_to_80pct"),
        F.max("total").alias("total_cents"),
        F.max("n").alias("n_customers"),
    )


# ---------------------------------------------------------------------------
# MAD-rule outliers per group: the ROBUST-statistics companion of
# outlier_iqr_by_group. median and MAD (median absolute deviation)
# are both exact kth-order statistics over integer cents -- the
# value at rank (n+1)//2 is tiebreak-invariant (the kth element of a
# sorted multiset), so both engines agree bit-for-bit without any
# quantile interpolation. Outlier iff |x - med| > 3 * MAD.
# ---------------------------------------------------------------------------

_MAD_SQL = """
WITH ranked AS (
  SELECT event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY CAST(round(value * 100, 0) AS BIGINT),
                                     event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
med AS (
  SELECT event_type,
         CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN cents ELSE 0 END)
              AS BIGINT) AS med
  FROM ranked GROUP BY event_type
),
dev AS (
  SELECT r.event_type, r.cents, abs(r.cents - m.med) AS d, m.med,
         row_number() OVER (PARTITION BY r.event_type
                            ORDER BY abs(r.cents - m.med), r.cents, r.rn) AS drn,
         count(*) OVER (PARTITION BY r.event_type) AS n
  FROM ranked r JOIN med m ON r.event_type = m.event_type
),
mad AS (
  SELECT event_type,
         CAST(sum(CASE WHEN drn = (n + 1) // 2 THEN d ELSE 0 END)
              AS BIGINT) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(max(d.med) AS BIGINT) AS median_cents,
       CAST(max(m.mad) AS BIGINT) AS mad_cents,
       CAST(sum(CASE WHEN d.d > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
"""


@query("outlier_mad_by_group", _MAD_SQL)
def outlier_mad_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-MAD outliers per event type. Plan: two window-rank passes
    over the SAME event_type partitioning (AQE reuses the shuffle) +
    two 5-row broadcast joins for the medians; everything integer
    cents -- no quantile interpolation, no floats. MAD tolerates up
    to 50% contamination where the IQR rule's quartiles move at 25%,
    which is why dq pipelines run both."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    wp = Window.partitionBy("event_type")
    ranked = events.select(
        "event_type",
        cents.alias("cents"),
        F.row_number().over(wp.orderBy(cents, "event_id")).alias("rn"),
        F.count("*").over(wp).alias("n"),
    )
    med_rank = ((F.col("n") + 1) / 2).cast("long")
    med = ranked.groupBy("event_type").agg(
        F.sum(F.when(F.col("rn") == med_rank, F.col("cents")).otherwise(0))
        .alias("med")
    )
    dev = ranked.join(F.broadcast(med), "event_type").select(
        "event_type",
        "cents",
        "med",
        F.abs(F.col("cents") - F.col("med")).alias("d"),
        "rn",
    )
    wd = Window.partitionBy("event_type")
    dev = dev.select(
        "*",
        F.row_number()
        .over(wd.orderBy("d", "cents", "rn"))
        .alias("drn"),
        F.count("*").over(wd).alias("n"),
    )
    mad = dev.groupBy("event_type").agg(
        F.sum(F.when(F.col("drn") == med_rank, F.col("d")).otherwise(0))
        .alias("mad")
    )
    j = dev.join(F.broadcast(mad), "event_type")
    return j.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.max("med").alias("median_cents"),
        F.max("mad").alias("mad_cents"),
        F.sum(
            F.when(F.col("d") > 3 * F.col("mad"), 1).otherwise(0)
        ).alias("n_outliers"),
    )


# ---------------------------------------------------------------------------
# Open-order aging report: the operational backlog view every
# warehouse runs daily. "Now" is the dataset's max order date,
# arriving as an in-plan one-row broadcast (the gapfill/q15
# discipline -- never a driver-side literal), so the whole report is
# one scan + one agg after a trivial join.
# ---------------------------------------------------------------------------

_AGING_SQL = """
WITH now_d AS (SELECT max(o_orderdate) AS d FROM orders),
aged AS (
  SELECT o.o_orderpriority AS priority,
         CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS cents,
         date_diff('day', o.o_orderdate, n.d) AS age_days
  FROM orders o, now_d n
  WHERE o.o_orderstatus = 'O')
SELECT priority,
       CASE WHEN age_days <= 30 THEN '0-30'
            WHEN age_days <= 90 THEN '31-90'
            WHEN age_days <= 365 THEN '91-365'
            ELSE '365+' END AS age_bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS backlog_cents,
       CAST(max(age_days) AS BIGINT) AS oldest_days
FROM aged GROUP BY 1, 2
"""


@query("orders_backlog_aging", _AGING_SQL)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open ('O') orders bucketed by age at the dataset's horizon.
    The horizon max(o_orderdate) joins in as a broadcast one-row
    frame (never .collect() into a literal -- the plan stays one job
    and recomputes correctly when the input changes); integer
    day-diffs and cents throughout."""
    orders = load_table(spark, sf_dir, "orders")
    now_d = orders.agg(F.max("o_orderdate").alias("d"))
    aged = (
        orders.where(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(now_d))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
            F.datediff(F.col("d"), F.col("o_orderdate")).alias("age_days"),
        )
    )
    bucket = (
        F.when(F.col("age_days") <= 30, "0-30")
        .when(F.col("age_days") <= 90, "31-90")
        .when(F.col("age_days") <= 365, "91-365")
        .otherwise("365+")
    )
    return aged.groupBy("priority", bucket.alias("age_bucket")).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("backlog_cents"),
        F.max("age_days").cast("long").alias("oldest_days"),
    )


# ---------------------------------------------------------------------------
# Per-stream freshness: how far each event type lags the dataset
# horizon -- the first DQ alarm any streaming ingest wires up (a
# source silently stalled for a day shows up here before anything
# else drifts). Horizon joins in as the usual one-row broadcast.
# ---------------------------------------------------------------------------

_FRESHNESS_SQL = """
WITH horizon AS (SELECT max(ts) AS h FROM events)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       max(e.ts) AS latest_ts,
       CAST((epoch_us(CAST(x.h AS TIMESTAMP))
             - epoch_us(CAST(max(e.ts) AS TIMESTAMP))) // 60000000 AS BIGINT)
         AS lag_minutes,
       (epoch_us(CAST(x.h AS TIMESTAMP))
        - epoch_us(CAST(max(e.ts) AS TIMESTAMP))) > 86400000000 AS stale
FROM events e, horizon x
GROUP BY e.event_type, x.h
"""


@query("dq_freshness_by_type", _FRESHNESS_SQL)
def dq_freshness_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag of each event type's latest event behind the dataset
    horizon, in whole minutes (integer microsecond arithmetic -- the
    sub-second-safe comparison discipline of sessionize), with a
    24-hour staleness flag. One agg + a one-row broadcast horizon."""
    from ..functions.timeutil import epoch_micros

    events = load_table(spark, sf_dir, "events")
    horizon = events.agg(F.max("ts").alias("h"))
    agg = (
        events.crossJoin(F.broadcast(horizon))
        .groupBy("event_type", "h")
        .agg(F.count("*").cast("long").alias("n_events"), F.max("ts").alias("latest_ts"))
    )
    lag_us = epoch_micros("h") - epoch_micros("latest_ts")
    return agg.select(
        "event_type",
        "n_events",
        "latest_ts",
        (lag_us / 60000000).cast("long").alias("lag_minutes"),
        (lag_us > 86400000000).alias("stale"),
    )
