"""Fifth surface batch: event-analytics and table-maintenance shapes a
production warehouse runs daily -- multi-stage funnels, cohort
retention, gaps-and-islands streaks, a window-based (not O(n^2))
skyline, event-path mining, last-touch attribution, small-file
compaction planning, and exact distributed medians.

Scale notes are per-query; the recurring themes:
  * everything is one or two hash shuffles on a user/group key --
    no self-joins, no nested-loop joins, no collects;
  * the skyline uses the sort+running-max formulation instead of the
    textbook dominance anti-join (which is a BroadcastNestedLoop);
  * money stays in integer cents end-to-end so the value hash is
    engine-portable (same discipline as queries_surface.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.timeutil import epoch_micros
from ..sources.tables import load_table
from .registry import query


_CENTS = "CAST(round(%s * 100, 0) AS BIGINT)"


# ---------------------------------------------------------------------------
# Ordered multi-stage funnel: signup -> view -> click -> purchase,
# each stage's timestamp strictly after the previous stage's FIRST
# occurrence. Four per-user min-aggregates chained by joins; every
# join key is user_id, so with pre-partitioned input this is ONE
# shuffle reused across all four stages (Catalyst reuses the exchange;
# at cluster scale the events table would be bucketed by user_id).
# ---------------------------------------------------------------------------

_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e
  JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e
  JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY e.user_id
),
s4 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e
  JOIN s3 ON e.user_id = s3.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY e.user_id
)
SELECT * FROM (
  SELECT 1 AS stage_order, 'signup' AS stage,
         CAST(count(*) AS BIGINT) AS users FROM s1
  UNION ALL
  SELECT 2, 'view', CAST(count(*) AS BIGINT) FROM s2
  UNION ALL
  SELECT 3, 'click', CAST(count(*) AS BIGINT) FROM s3
  UNION ALL
  SELECT 4, 'purchase', CAST(count(*) AS BIGINT) FROM s4
)
"""


@query("funnel_stages", _FUNNEL_SQL)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four stage timestamps as window aggregates over ONE
    user_id partition: t1 = min signup ts, t2 = min view ts > t1, ...
    Each t_k references t_{k-1}, but they are all full-partition
    aggregates over the same window, so Catalyst plans a single
    exchange + one Window node -- 2 exchanges total vs 17 for the
    naive join-per-stage chain (measured at sf0.01; same rows)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")

    def stage_min(etype: str, after) -> F.Column:
        cond = F.col("event_type") == etype
        if after is not None:
            cond = cond & (F.col("ts") > after)
        return F.min(F.when(cond, F.col("ts"))).over(w)

    t1 = stage_min("signup", None)
    staged = events.withColumn("t1", t1)
    staged = staged.withColumn("t2", stage_min("view", F.col("t1")))
    staged = staged.withColumn("t3", stage_min("click", F.col("t2")))
    staged = staged.withColumn("t4", stage_min("purchase", F.col("t3")))
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"),
        F.max("t2").alias("t2"),
        F.max("t3").alias("t3"),
        F.max("t4").alias("t4"),
    )
    counts = per_user.agg(
        F.count("t1").alias("u1"),
        F.count("t2").alias("u2"),
        F.count("t3").alias("u3"),
        F.count("t4").alias("u4"),
    )
    return counts.selectExpr(
        "stack(4, 1, 'signup', u1, 2, 'view', u2, 3, 'click', u3, "
        "4, 'purchase', u4) AS (stage_order, stage, users)"
    )


# ---------------------------------------------------------------------------
# Cohort retention: cohort = month of a customer's first order;
# count distinct customers active at each month offset. Month
# arithmetic in integer (year*12 + month) so both engines agree
# exactly. Two shuffles: first-order agg on custkey, then the
# (cohort, offset) count -- the first reuses the scan's natural key.
# ---------------------------------------------------------------------------

_COHORT_SQL = """
WITH first_order AS (
  SELECT o_custkey,
         min(CAST(year(o_orderdate) AS INT) * 12
             + CAST(month(o_orderdate) AS INT)) AS cohort_m
  FROM orders GROUP BY o_custkey
)
SELECT printf('%04d-%02d', (f.cohort_m - 1) // 12, ((f.cohort_m - 1) % 12) + 1)
         AS cohort_month,
       CAST(year(o.o_orderdate) AS INT) * 12
         + CAST(month(o.o_orderdate) AS INT) - f.cohort_m AS month_offset,
       CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS customers
FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
GROUP BY 1, 2
"""


@query("cohort_retention", _COHORT_SQL)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    month_num = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("int")
    first = orders.groupBy("o_custkey").agg(F.min(month_num).alias("cohort_m"))
    cohort_label = F.format_string(
        "%04d-%02d",
        ((F.col("cohort_m") - 1) / 12).cast("int"),
        ((F.col("cohort_m") - 1) % 12 + 1).cast("int"),
    )
    return (
        orders.join(first, "o_custkey")
        .select(
            cohort_label.alias("cohort_month"),
            (month_num - F.col("cohort_m")).alias("month_offset"),
            "o_custkey",
        )
        .groupBy("cohort_month", "month_offset")
        .agg(F.count_distinct("o_custkey").alias("customers"))
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: consecutive-day activity streaks per user over
# events. The classic (day - row_number) grouping key turns each
# maximal run of consecutive dates into one constant -- a pure
# window + two aggregations, all partitioned by user_id (one
# shuffle; the window and both groupBys share it).
# ---------------------------------------------------------------------------

_STREAK_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
isl AS (
  SELECT user_id, d,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INT)
           AS grp
  FROM days
),
runs AS (
  SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len FROM isl
  GROUP BY user_id, grp
)
SELECT user_id, max(len) AS longest_streak,
       CAST(count(*) AS BIGINT) AS n_islands
FROM runs GROUP BY user_id
"""


@query("streaks_gaps_islands", _STREAK_SQL)
def streaks_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    days = events.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn(
        "grp", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    runs = isl.groupBy("user_id", "grp").agg(F.count("*").alias("len"))
    return runs.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.count("*").alias("n_islands"),
    )


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier) of part on (min price, max size) WITHOUT
# the textbook dominance anti-join: q dominates p iff
# q.price <= p.price AND q.size >= p.size AND (one strict). The
# anti-join is a BroadcastNestedLoopJoin -- O(n^2) and exactly the
# shape the 100 TB brief bans. Sort-based reformulation: p is
# dominated iff  max(size | price' < price) >= size  OR
#                max(size | price' = price) > size.
# Two-phase so nothing global touches the full table: (1) hash-agg
# max(size) per DISTINCT price (shuffle on price_cents, map-side
# combine); (2) running max over the distinct-price aggregate only --
# the single-partition window sees |distinct prices| rows (bounded by
# the cents domain, ~1e6, regardless of table size); (3) hash join
# the per-price verdicts back. O(n) + O(p log p), no n^2 anywhere.
# ---------------------------------------------------------------------------

_SKYLINE_SQL = f"""
WITH pts AS (
  SELECT p_partkey, {_CENTS % 'p_retailprice'} AS price_cents,
         CAST(p_size AS INT) AS size FROM part
),
per_price AS (
  SELECT price_cents, max(size) AS best_same FROM pts GROUP BY price_cents
),
verdicts AS (
  SELECT price_cents, best_same,
         max(best_same) OVER (ORDER BY price_cents
                              RANGE BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS best_cheaper
  FROM per_price
)
SELECT p.p_partkey, p.price_cents, p.size
FROM pts p JOIN verdicts v ON p.price_cents = v.price_cents
WHERE (v.best_cheaper IS NULL OR v.best_cheaper < p.size)
  AND v.best_same <= p.size
"""


@query("skyline_price_size", _SKYLINE_SQL)
def skyline_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    pts = part.select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("price_cents"),
        F.col("p_size").cast("int").alias("size"),
    )
    per_price = pts.groupBy("price_cents").agg(F.max("size").alias("best_same"))
    w_cheaper = (
        Window.orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    verdicts = per_price.select(
        "price_cents",
        "best_same",
        F.max("best_same").over(w_cheaper).alias("best_cheaper"),
    )
    return (
        pts.join(verdicts, "price_cents")
        .where(
            (
                F.col("best_cheaper").isNull()
                | (F.col("best_cheaper") < F.col("size"))
            )
            & (F.col("best_same") <= F.col("size"))
        )
        .select("p_partkey", "price_cents", "size")
    )


# ---------------------------------------------------------------------------
# Event-path mining: top-10 most frequent 3-event sequences (user
# journey trigrams). lead() over (user_id, ts, event_id) -- the
# event_id tiebreak makes the sequence total-ordered and therefore
# engine-portable. One window shuffle on user_id + one count shuffle
# on the (tiny) trigram key; the top-10 boundary is made
# deterministic by ranking on (count DESC, path ASC).
# ---------------------------------------------------------------------------

_PATH_SQL = """
WITH seq AS (
  SELECT user_id, event_type AS e1,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
paths AS (
  SELECT e1 || '>' || e2 || '>' || e3 AS path,
         CAST(count(*) AS BIGINT) AS occurrences
  FROM seq WHERE e3 IS NOT NULL GROUP BY 1
)
SELECT path, occurrences FROM (
  SELECT path, occurrences,
         row_number() OVER (ORDER BY occurrences DESC, path) AS rk
  FROM paths
) WHERE rk <= 10
"""


@query("event_path_topk", _PATH_SQL)
def event_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).where(F.col("e3").isNotNull())
    paths = seq.groupBy(
        F.concat_ws(">", "e1", "e2", "e3").alias("path")
    ).agg(F.count("*").alias("occurrences"))
    rk = Window.orderBy(F.desc("occurrences"), F.asc("path"))
    return (
        paths.withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") <= 10)
        .select("path", "occurrences")
    )


# ---------------------------------------------------------------------------
# Last-touch attribution: each purchase is credited to the most
# recent preceding click/view by the same user within 3 days. Two
# last_value(... IGNORE NULLS) windows over the SAME total order
# (ts, event_id) -- they stay mutually consistent because the order
# is unique -- then a filter and a tiny group-by. One shuffle on
# user_id; no join against a marketing table at all.
# ---------------------------------------------------------------------------

_ATTR_SQL = """
WITH tagged AS (
  SELECT user_id, event_type, ts, value,
         last_value(CASE WHEN event_type IN ('click','view')
                         THEN event_type END IGNORE NULLS)
           OVER w AS last_mkt_type,
         last_value(CASE WHEN event_type IN ('click','view')
                         THEN ts END IGNORE NULLS)
           OVER w AS last_mkt_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT CASE WHEN last_mkt_ts IS NOT NULL
             AND epoch_us(ts) - epoch_us(last_mkt_ts) <= 259200000000
            THEN last_mkt_type ELSE 'unattributed' END AS channel,
       CAST(count(*) AS BIGINT) AS purchases,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM tagged WHERE event_type = 'purchase'
GROUP BY 1
"""


@query("attribution_last_touch", _ATTR_SQL)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_mkt = F.col("event_type").isin("click", "view")
    tagged = events.select(
        "event_type",
        "ts",
        "value",
        F.last(F.when(is_mkt, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("last_mkt_type"),
        F.last(F.when(is_mkt, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("last_mkt_ts"),
    )
    # microsecond epoch comparison on both engines -- cast(ts as long)
    # truncates to whole seconds and misclassifies sub-second edges
    in_window = F.col("last_mkt_ts").isNotNull() & (
        epoch_micros("ts") - epoch_micros("last_mkt_ts")
        <= 3 * 86400 * 1_000_000
    )
    return (
        tagged.where(F.col("event_type") == "purchase")
        .groupBy(
            F.when(in_window, F.col("last_mkt_type"))
            .otherwise("unattributed")
            .alias("channel")
        )
        .agg(
            F.count("*").alias("purchases"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                "revenue_cents"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Small-file compaction planner -- the table-maintenance half of a
# lakehouse engine. The "file inventory" is simulated as one file per
# (ship month, ship day): bytes = row count * 100. Within each month
# partition, files are greedily packed into bins of <= 64 KB by the
# running-sum rule  bin = floor(cumulative_bytes_before / target) --
# a single window cumsum, no iterative packing loop, deterministic on
# both engines. Real usage would read the Delta/Iceberg file manifest
# instead of the simulated inventory; the plan shape is identical.
# ---------------------------------------------------------------------------

_COMPACT_SQL = """
WITH files AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS part_month,
         CAST(l_shipdate AS DATE) AS file_day,
         CAST(count(*) * 100 AS BIGINT) AS bytes
  FROM lineitem GROUP BY 1, 2
),
planned AS (
  SELECT part_month, bytes,
         CAST(COALESCE(sum(bytes) OVER (PARTITION BY part_month
                                        ORDER BY file_day
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0)
              // 65536 AS BIGINT) AS bin
  FROM files
)
SELECT part_month, bin, CAST(count(*) AS BIGINT) AS files_merged,
       CAST(sum(bytes) AS BIGINT) AS bin_bytes
FROM planned GROUP BY part_month, bin
"""


@query("compaction_bin_plan", _COMPACT_SQL)
def compaction_bin_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    files = li.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("part_month"),
        F.to_date("l_shipdate").alias("file_day"),
    ).agg((F.count("*") * 100).alias("bytes"))
    w = (
        Window.partitionBy("part_month")
        .orderBy("file_day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = files.select(
        "part_month",
        "bytes",
        (F.coalesce(F.sum("bytes").over(w), F.lit(0)) / F.lit(65536))
        .cast("long")
        .alias("bin"),
    )
    return planned.groupBy("part_month", "bin").agg(
        F.count("*").alias("files_merged"),
        F.sum("bytes").alias("bin_bytes"),
    )


# ---------------------------------------------------------------------------
# Exact distributed median per group (vs the approx sketch surface in
# queries_surface.agg_approx_sketches): rank-based two-middle-rows
# formulation in integer cents, reported as median*2 so an even-count
# group never produces a fractional value. Sort happens WITHIN each
# group partition (window on the group key) -- this is the exact
# quantile strategy that scales when groups fit a partition; the
# approx sketch remains the answer when they don't.
# ---------------------------------------------------------------------------

_MEDIAN_SQL = """
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
"""


@query("median_exact_groups", _MEDIAN_SQL)
def median_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    wp = Window.partitionBy("o_orderpriority")
    ranked = orders.select(
        "o_orderpriority",
        cents.alias("cents"),
        F.row_number().over(wp.orderBy(cents, "o_orderkey")).alias("rn"),
        F.count("*").over(wp).alias("n"),
    )
    lo = ((F.col("n") + 1) / 2).cast("long")
    hi = (F.col("n") / 2).cast("long") + 1
    return ranked.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.sum(
            F.when(F.col("rn") == lo, F.col("cents")).otherwise(0)
            + F.when(F.col("rn") == hi, F.col("cents")).otherwise(0)
        ).alias("median_cents_x2"),
        F.max("n").alias("n"),
    )


# ---------------------------------------------------------------------------
# Column profiling (the ANALYZE/data-quality surface): null count and
# distinct count for every lineitem column, computed in ONE aggregate
# pass (Catalyst plans multi-distinct via a single expand + partial
# aggregation) and then unpivoted to a row per column. No per-column
# scans -- at 100 TB one pass over the table is the entire cost.
# ---------------------------------------------------------------------------

_PROFILE_COLS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_returnflag",
    "l_linestatus",
]

_PROFILE_SQL = (
    "SELECT * FROM (\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{c}' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,\n"
        f"  CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,\n"
        f"  CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct FROM lineitem"
        for c in _PROFILE_COLS
    )
    + "\n)"
)


@query("profile_columns", _PROFILE_SQL)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count("*").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"nd_{c}"))
    one = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn_{c}, nd_{c}" for c in _PROFILE_COLS
    )
    return one.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(column_name, n_notnull, n_distinct)",
        "n_rows",
    ).select(
        "column_name",
        "n_rows",
        (F.col("n_rows") - F.col("n_notnull")).alias("n_nulls"),
        "n_distinct",
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance: partial aggregates computed
# separately over a base slice and a delta slice, merged by re-summing
# the decomposable state (count, sum) -- the batch skeleton of a
# materialized-view refresh / streaming update. The oracle is the
# one-shot aggregate over the whole table, proving merge(partials) ==
# recompute. At scale the base partial is a stored table and only the
# delta is scanned per refresh.
# ---------------------------------------------------------------------------

_INC_PIVOT = "1997-01-01"

_INC_SQL = f"""
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum({_CENTS % 'o_totalprice'}) AS BIGINT) AS revenue_cents
FROM orders GROUP BY o_orderpriority
"""


@query("incremental_agg_merge", _INC_SQL)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.col("o_orderpriority").alias("priority")
        ).agg(
            F.count("*").alias("n_orders"),
            F.sum(cents).alias("revenue_cents"),
        )

    base = partial(orders.where(F.col("o_orderdate") < F.lit(_INC_PIVOT)))
    delta = partial(orders.where(F.col("o_orderdate") >= F.lit(_INC_PIVOT)))
    return (
        base.unionByName(delta)
        .groupBy("priority")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("revenue_cents").alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Deadline-bounded funnel: same ordered stages, but every later stage
# must land within 7 days of the user's FIRST signup (the "conversion
# window" form every growth dashboard actually uses). Identical
# single-shuffle window shape as funnel_stages -- the deadline is one
# extra conjunct on each stage's min-condition, in microsecond epoch
# so sub-second edges classify identically on both engines.
# ---------------------------------------------------------------------------

FUNNEL_WINDOW_US = 7 * 86400 * 1_000_000

_FUNNEL_WIN_SQL = f"""
WITH per_event AS (
  SELECT user_id, event_type, ts,
         min(CASE WHEN event_type = 'signup' THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM events
),
s2 AS (
  SELECT user_id, t1,
         min(CASE WHEN event_type = 'view' AND ts > t1
                   AND epoch_us(ts) - epoch_us(t1) <= {FUNNEL_WINDOW_US}
                  THEN ts END) OVER (PARTITION BY user_id) AS t2
  FROM per_event
),
s3 AS (
  SELECT user_id, t1, t2,
         min(CASE WHEN event_type = 'click' AND ts > t2
                   AND epoch_us(ts) - epoch_us(t1) <= {FUNNEL_WINDOW_US}
                  THEN ts END) OVER (PARTITION BY user_id) AS t3
  FROM (SELECT p.user_id, p.event_type, p.ts, p.t1, s2.t2
        FROM per_event p JOIN (SELECT DISTINCT user_id, t1, t2 FROM s2) s2
        USING (user_id, t1))
),
s4 AS (
  SELECT user_id, t1, t2, t3,
         min(CASE WHEN event_type = 'purchase' AND ts > t3
                   AND epoch_us(ts) - epoch_us(t1) <= {FUNNEL_WINDOW_US}
                  THEN ts END) OVER (PARTITION BY user_id) AS t4
  FROM (SELECT p.user_id, p.event_type, p.ts, p.t1, s3.t2, s3.t3
        FROM per_event p JOIN (SELECT DISTINCT user_id, t1, t2, t3 FROM s3) s3
        USING (user_id, t1))
),
per_user AS (SELECT DISTINCT user_id, t1, t2, t3, t4 FROM s4)
SELECT * FROM (
  SELECT 1 AS stage_order, 'signup' AS stage,
         CAST(count(t1) AS BIGINT) AS users FROM per_user
  UNION ALL
  SELECT 2, 'view', CAST(count(t2) AS BIGINT) FROM per_user
  UNION ALL
  SELECT 3, 'click', CAST(count(t3) AS BIGINT) FROM per_user
  UNION ALL
  SELECT 4, 'purchase', CAST(count(t4) AS BIGINT) FROM per_user
)
"""


@query("funnel_stages_windowed", _FUNNEL_WIN_SQL)
def funnel_stages_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    deadline_ok = (
        epoch_micros(F.col("ts")) - epoch_micros(F.col("t1"))
        <= FUNNEL_WINDOW_US
    )

    staged = events.withColumn(
        "t1",
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w),
    )

    def stage(df: DataFrame, out: str, etype: str, after: str) -> DataFrame:
        return df.withColumn(
            out,
            F.min(
                F.when(
                    (F.col("event_type") == etype)
                    & (F.col("ts") > F.col(after))
                    & deadline_ok,
                    F.col("ts"),
                )
            ).over(w),
        )

    staged = stage(staged, "t2", "view", "t1")
    staged = stage(staged, "t3", "click", "t2")
    staged = stage(staged, "t4", "purchase", "t3")
    per_user = staged.groupBy("user_id").agg(
        *[F.max(c).alias(c) for c in ("t1", "t2", "t3", "t4")]
    )
    counts = per_user.agg(
        F.count("t1").alias("u1"),
        F.count("t2").alias("u2"),
        F.count("t3").alias("u3"),
        F.count("t4").alias("u4"),
    )
    return counts.selectExpr(
        "stack(4, 1, 'signup', u1, 2, 'view', u2, 3, 'click', u3, "
        "4, 'purchase', u4) AS (stage_order, stage, users)"
    )


# ---------------------------------------------------------------------------
# Time-to-convert: exact median microseconds per funnel transition
# (signup->view, view->click, click->purchase) over users who reached
# each stage. Composes the single-shuffle funnel scaffold with the
# rank-based exact-median scaffold; the per-transition median windows
# run over the USER-GRAIN diffs (window after aggregate, again).
# Reported as median*2 so even-count groups stay integer.
# ---------------------------------------------------------------------------

_TTC_SQL = """
WITH per_event AS (
  SELECT user_id, event_type, ts,
         min(CASE WHEN event_type = 'signup' THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM events
),
w2 AS (
  SELECT *, min(CASE WHEN event_type = 'view' AND ts > t1 THEN ts END)
              OVER (PARTITION BY user_id) AS t2 FROM per_event
),
w3 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t2 THEN ts END)
              OVER (PARTITION BY user_id) AS t3 FROM w2
),
w4 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t3 THEN ts END)
              OVER (PARTITION BY user_id) AS t4 FROM w3
),
per_user AS (SELECT DISTINCT user_id, t1, t2, t3, t4 FROM w4),
diffs AS (
  SELECT 1 AS transition_order, 'signup>view' AS transition,
         epoch_us(t2) - epoch_us(t1) AS us FROM per_user WHERE t2 IS NOT NULL
  UNION ALL
  SELECT 2, 'view>click', epoch_us(t3) - epoch_us(t2) FROM per_user
  WHERE t3 IS NOT NULL
  UNION ALL
  SELECT 3, 'click>purchase', epoch_us(t4) - epoch_us(t3) FROM per_user
  WHERE t4 IS NOT NULL
),
ranked AS (
  SELECT transition_order, transition, us,
         row_number() OVER (PARTITION BY transition ORDER BY us) AS rn,
         count(*) OVER (PARTITION BY transition) AS n
  FROM diffs
)
SELECT transition_order, transition, CAST(max(n) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN us ELSE 0 END
              + CASE WHEN rn = n // 2 + 1 THEN us ELSE 0 END)
            AS BIGINT) AS median_us_x2
FROM ranked GROUP BY transition_order, transition
"""


@query("funnel_time_to_convert", _TTC_SQL)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")

    def stage_min(etype: str, after) -> F.Column:
        cond = F.col("event_type") == etype
        if after is not None:
            cond = cond & (F.col("ts") > after)
        return F.min(F.when(cond, F.col("ts"))).over(w)

    staged = events.withColumn("t1", stage_min("signup", None))
    staged = staged.withColumn("t2", stage_min("view", F.col("t1")))
    staged = staged.withColumn("t3", stage_min("click", F.col("t2")))
    staged = staged.withColumn("t4", stage_min("purchase", F.col("t3")))
    per_user = staged.groupBy("user_id").agg(
        *[F.max(c).alias(c) for c in ("t1", "t2", "t3", "t4")]
    )

    def diff(order_n: int, name: str, a: str, b: str) -> DataFrame:
        return per_user.where(F.col(b).isNotNull()).select(
            F.lit(order_n).alias("transition_order"),
            F.lit(name).alias("transition"),
            (epoch_micros(F.col(b)) - epoch_micros(F.col(a))).alias("us"),
        )

    diffs = (
        diff(1, "signup>view", "t1", "t2")
        .unionByName(diff(2, "view>click", "t2", "t3"))
        .unionByName(diff(3, "click>purchase", "t3", "t4"))
    )
    wt = Window.partitionBy("transition")
    ranked = diffs.select(
        "transition_order",
        "transition",
        "us",
        F.row_number().over(wt.orderBy("us")).alias("rn"),
        F.count("*").over(wt).alias("n"),
    )
    lo = ((F.col("n") + 1) / 2).cast("long")
    hi = (F.col("n") / 2).cast("long") + 1
    return ranked.groupBy("transition_order", "transition").agg(
        F.max("n").alias("n_users"),
        F.sum(
            F.when(F.col("rn") == lo, F.col("us")).otherwise(0)
            + F.when(F.col("rn") == hi, F.col("us")).otherwise(0)
        ).alias("median_us_x2"),
    )


# ---------------------------------------------------------------------------
# FIRST-touch attribution with purchase-reset journeys: each purchase
# closes a journey segment (events since the user's previous
# purchase); credit goes to the EARLIEST click/view in that segment.
# Segment id = running count of PRIOR purchases (a window cumsum),
# then one min-struct agg per (user, segment) picks first-touch and
# the closing purchase together -- still a single user_id shuffle,
# the dual of attribution_last_touch's carry-forward.
# ---------------------------------------------------------------------------

_ATTR_FIRST_SQL = """
WITH seg AS (
  SELECT user_id, event_type, ts, event_id, value,
         count(CASE WHEN event_type = 'purchase' THEN 1 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS journey
  FROM events
),
per_seg AS (
  SELECT user_id, journey,
         min(CASE WHEN event_type IN ('click','view')
                  THEN ts END) AS first_mkt_ts,
         arg_min(CASE WHEN event_type IN ('click','view')
                      THEN event_type END,
                 CASE WHEN event_type IN ('click','view')
                      THEN ts END) AS first_mkt_type,
         sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100, 0) AS BIGINT) END)
           AS purchase_cents,
         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases
  FROM seg GROUP BY user_id, journey
)
SELECT coalesce(CASE WHEN first_mkt_ts IS NOT NULL
                     THEN first_mkt_type END, 'unattributed') AS channel,
       CAST(count(*) AS BIGINT) AS journeys,
       CAST(sum(purchase_cents) AS BIGINT) AS revenue_cents
FROM per_seg WHERE n_purchases > 0
GROUP BY 1
"""


@query("attribution_first_touch", _ATTR_FIRST_SQL)
def attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_mkt = F.col("event_type").isin("click", "view")
    seg = events.select(
        "user_id",
        "event_type",
        "ts",
        "value",
        F.count(
            F.when(F.col("event_type") == "purchase", 1)
        ).over(w).alias("journey"),
    )
    per_seg = seg.groupBy("user_id", "journey").agg(
        # min on (ts, type) struct = earliest marketing touch; ts is
        # unique enough per user but the struct keeps ties deterministic
        F.min(
            F.when(is_mkt, F.struct(F.col("ts"), F.col("event_type")))
        ).alias("first_mkt"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100, 0).cast("long"),
            )
        ).alias("purchase_cents"),
        F.count(
            F.when(F.col("event_type") == "purchase", 1)
        ).alias("n_purchases"),
    )
    return (
        per_seg.where(F.col("n_purchases") > 0)
        .groupBy(
            F.coalesce(
                F.col("first_mkt.event_type"), F.lit("unattributed")
            ).alias("channel")
        )
        .agg(
            F.count("*").alias("journeys"),
            F.sum("purchase_cents").alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Session entry/exit matrix: sessionize by 30-minute inactivity gaps
# (lag + cumulative new-session flag -- the time-gap twin of the
# gaps-and-islands date trick), then first/last event type per
# session via min/max on (epoch_us, event_id, type) structs, then the
# (entry, exit) transition counts. Everything keys on user_id until
# the final tiny-matrix agg: one shuffle.
# ---------------------------------------------------------------------------

SESSION_GAP_US = 30 * 60 * 1_000_000

_ENTRY_EXIT_SQL = f"""
WITH seq AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS t,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM events
),
sess AS (
  SELECT user_id, event_type, event_id, t,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM seq
),
per_session AS (
  SELECT DISTINCT user_id, session_id,
         first_value(event_type) OVER w AS entry,
         last_value(event_type) OVER w AS exit
  FROM sess
  WINDOW w AS (PARTITION BY user_id, session_id ORDER BY t, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT entry, exit, CAST(count(*) AS BIGINT) AS sessions
FROM per_session GROUP BY entry, exit
"""


@query("session_entry_exit", _ENTRY_EXIT_SQL)
def session_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = epoch_micros(F.col("ts"))
    seq = events.select(
        "user_id",
        "event_type",
        "event_id",
        t.alias("t"),
        F.when(
            t - F.lag(t).over(wo) > SESSION_GAP_US, 1
        ).otherwise(0).alias("new_s"),
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = seq.withColumn("session_id", F.sum("new_s").over(wc))
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.min(
            F.struct("t", "event_id", "event_type")
        )["event_type"].alias("entry"),
        F.max(
            F.struct("t", "event_id", "event_type")
        )["event_type"].alias("exit"),
    )
    return per_session.groupBy("entry", "exit").agg(
        F.count("*").alias("sessions")
    )


# ---------------------------------------------------------------------------
# Merge overlapping intervals per key (the set-union of time ranges):
# running-max-of-ends window -> island flag -> island aggregate.
# The dual of max_concurrent_intervals' sweep line.
# ---------------------------------------------------------------------------


@query(
    "intervals_merge_overlaps",
    """
WITH iv AS (
  SELECT user_id, event_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
         epoch_us(CAST(ts AS TIMESTAMP)) + (1 + event_id % 120) * 60000000 AS e_us
  FROM events),
flagged AS (
  SELECT user_id, s_us, e_us,
         CASE WHEN s_us > max(e_us) OVER (
                PARTITION BY user_id ORDER BY s_us, e_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              OR max(e_us) OVER (
                PARTITION BY user_id ORDER BY s_us, e_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         THEN 1 ELSE 0 END AS new_island,
         event_id
  FROM iv),
islands AS (
  SELECT user_id, s_us, e_us,
         sum(new_island) OVER (
           PARTITION BY user_id ORDER BY s_us, e_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(island AS BIGINT) AS island,
       CAST(min(s_us) AS BIGINT) AS start_us,
       CAST(max(e_us) AS BIGINT) AS end_us,
       CAST(count(*) AS BIGINT) AS n_intervals
FROM islands
GROUP BY user_id, island
""",
)
def intervals_merge_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse overlapping [start, end] intervals per user into their
    covering union (booking/session/maintenance-window coalescing).
    An interval starts a new island iff its start exceeds the RUNNING
    MAX of all previous ends (not just the previous row's end -- an
    early long interval can swallow several later ones); island id is
    the running sum of those flags. Integer epoch-micros end to end.

    100 TB shape: one shuffle on user_id; both windows and the final
    aggregate share that partitioning (the island aggregate is
    map-side combinable). The sweep never materializes pairwise
    overlaps -- compare max_concurrent_intervals for the counting
    dual."""
    ev = load_table(spark, sf_dir, "events")
    s_us = epoch_micros("ts")
    iv = ev.select(
        "user_id",
        "event_id",
        s_us.alias("s_us"),
        (s_us + (F.lit(1) + F.col("event_id") % 120) * 60000000).alias("e_us"),
    )
    order = [F.asc("s_us"), F.asc("e_us"), F.asc("event_id")]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_max_end = F.max("e_us").over(w_prev)
    flagged = iv.withColumn(
        "new_island",
        F.when(
            prev_max_end.isNull() | (F.col("s_us") > prev_max_end), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(w_run))
    return islands.groupBy("user_id", "island").agg(
        F.min("s_us").cast("long").alias("start_us"),
        F.max("e_us").cast("long").alias("end_us"),
        F.count("*").cast("long").alias("n_intervals"),
    ).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("island").cast("long").alias("island"),
        "start_us",
        "end_us",
        "n_intervals",
    )


# ---------------------------------------------------------------------------
# Exact weighted median: the smallest value whose cumulative weight
# reaches half the total (lower weighted median -- deterministic,
# integer-only; the weighted companion of median_exact_groups).
# ---------------------------------------------------------------------------


@query(
    "weighted_median_exact",
    """
WITH w AS (
  SELECT p_brand,
         CAST(round(p_retailprice * 100, 0) AS BIGINT) AS price_cents,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wt
  FROM part JOIN lineitem ON p_partkey = l_partkey
  GROUP BY p_brand, round(p_retailprice * 100, 0)),
c AS (
  SELECT p_brand, price_cents, wt,
         sum(wt) OVER (PARTITION BY p_brand ORDER BY price_cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
         sum(wt) OVER (PARTITION BY p_brand) AS total
  FROM w)
SELECT p_brand AS brand, CAST(price_cents AS BIGINT) AS weighted_median_cents,
       CAST(total AS BIGINT) AS total_weight
FROM c
WHERE 2 * cumw >= total
QUALIFY row_number() OVER (PARTITION BY p_brand ORDER BY price_cents) = 1
""",
)
def weighted_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median retail price per brand: pre-aggregate
    weights at (group, value) grain -- shrinking the sort input to
    distinct values, not raw rows -- then one cumulative-weight window
    picks the first value with 2*cumw >= total. Lower-median rule so
    the result is a real data value and fully integer.

    100 TB shape: the weight aggregate is map-side combinable and the
    window partitions by brand over DISTINCT prices only (the same
    cardinality-collapse trick as skyline_price_size's running max)."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        part.join(li, part.p_partkey == li.l_partkey)
        .groupBy(
            "p_brand",
            F.round(F.col("p_retailprice") * 100, 0)
            .cast("long")
            .alias("price_cents"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("wt"))
    )
    wc = (
        Window.partitionBy("p_brand")
        .orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt_total = Window.partitionBy("p_brand")
    c = w.withColumn("cumw", F.sum("wt").over(wc)).withColumn(
        "total", F.sum("wt").over(wt_total)
    )
    picked = c.where(2 * F.col("cumw") >= F.col("total"))
    wr = Window.partitionBy("p_brand").orderBy("price_cents")
    return (
        picked.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select(
            F.col("p_brand").alias("brand"),
            F.col("price_cents").alias("weighted_median_cents"),
            F.col("total").cast("long").alias("total_weight"),
        )
    )


# ---------------------------------------------------------------------------
# Delta-style MERGE-on-files copy-on-write simulation (VERDICT r3 #8):
# the planning half of MERGE INTO. Rows live in logical range-files
# (file_id = key DIV 4096, the synthesized-file-stats convention of
# compaction_bin_plan); a changeset of updates (keys % 97 = 0) and
# inserts (shifted keys, guaranteed non-matching) arrives; the plan
# decides per file: REWRITE (holds >= 1 matched key), KEEP (untouched
# -- never read beyond its key range), or APPEND (one new file for
# the not-matched inserts).
# ---------------------------------------------------------------------------

_MERGE_COW_SQL = """
WITH base AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         CAST(o_orderkey // 4096 AS BIGINT) AS file_id
  FROM orders),
upd AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders WHERE o_orderkey % 97 = 0),
ins AS (
  SELECT CAST(o_orderkey + 100000000 AS BIGINT) AS k
  FROM orders WHERE o_orderkey % 499 = 0),
touched AS (
  SELECT b.file_id,
         CAST(count(*) AS BIGINT) AS n_rows_before,
         CAST(count(u.k) AS BIGINT) AS n_matched
  FROM base b LEFT JOIN upd u ON b.k = u.k
  GROUP BY b.file_id)
SELECT file_id, n_rows_before, n_matched,
       CASE WHEN n_matched > 0 THEN 'rewrite' ELSE 'keep' END AS action,
       n_rows_before AS n_rows_after
FROM touched
UNION ALL
SELECT CAST(-1 AS BIGINT) AS file_id, CAST(0 AS BIGINT) AS n_rows_before,
       CAST(0 AS BIGINT) AS n_matched, 'append' AS action,
       CAST((SELECT count(*) FROM ins) AS BIGINT) AS n_rows_after
"""


@query("merge_on_files_cow", _MERGE_COW_SQL)
def merge_on_files_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE file plan: which files must be rewritten to
    apply an upsert changeset, which survive untouched, and the one
    appended file carrying the not-matched inserts. Matched-file
    identification is a LEFT join base-to-updates collapsed straight
    into a per-file aggregate -- metadata-sized output (one row per
    FILE, never per row) -- and unmatched files are never rewritten.
    That asymmetry is the entire COW scale story: updating 0.1% of
    keys on a 100 TB table rewrites only the files those keys land
    in, while the 99.9% KEEP files cost one semi-join probe each. At
    cluster scale the probe side prunes further with a min/max-key
    manifest (file skipping) before any data is read; the per-file
    plan here is exactly the input a Delta/Iceberg commit would turn
    into remove+add manifest actions. Update rows replace in place
    (n_rows_after = n_rows_before); inserts land in file_id -1."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.expr("o_orderkey DIV 4096").cast("long").alias("file_id"),
    )
    upd = (
        orders.where(F.col("o_orderkey") % 97 == 0)
        .select(F.col("o_orderkey").cast("long").alias("uk"))
    )
    ins = orders.where(F.col("o_orderkey") % 499 == 0).select(
        (F.col("o_orderkey") + 100000000).cast("long").alias("k")
    )
    touched = (
        base.join(upd, base.k == F.col("uk"), "left")
        .groupBy("file_id")
        .agg(
            F.count("*").cast("long").alias("n_rows_before"),
            F.count("uk").cast("long").alias("n_matched"),
        )
    )
    plan = touched.select(
        "file_id",
        "n_rows_before",
        "n_matched",
        F.when(F.col("n_matched") > 0, F.lit("rewrite"))
        .otherwise(F.lit("keep"))
        .alias("action"),
        F.col("n_rows_before").alias("n_rows_after"),
    )
    appended = ins.agg(F.count("*").cast("long").alias("n_rows_after")).select(
        F.lit(-1).cast("long").alias("file_id"),
        F.lit(0).cast("long").alias("n_rows_before"),
        F.lit(0).cast("long").alias("n_matched"),
        F.lit("append").alias("action"),
        "n_rows_after",
    )
    return plan.unionByName(appended)


# ---------------------------------------------------------------------------
# Linear multi-touch attribution: every click/view in the 3 days
# before a purchase shares the credit EQUALLY (1/n each) -- the
# family completion next to last-touch (winner-take-all) and
# first-touch. Credits stay integer: ppm units with floor division,
# identical on both engines, so the oracle is a value-hash check
# (float 1/n shares would drift in summation order).
# ---------------------------------------------------------------------------

_ATTR_LINEAR_SQL = """
WITH touches AS (
  SELECT user_id, event_type AS channel, ts AS t_ts, event_id AS t_eid
  FROM events WHERE event_type IN ('click', 'view')),
purchases AS (
  SELECT user_id, ts AS p_ts, event_id AS p_eid,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT p.p_eid, p.cents, t.channel
  FROM purchases p LEFT JOIN touches t
    ON p.user_id = t.user_id
   AND epoch_us(CAST(t.t_ts AS TIMESTAMP)) >= epoch_us(CAST(p.p_ts AS TIMESTAMP)) - 259200000000
   AND (t.t_ts < p.p_ts OR (t.t_ts = p.p_ts AND t.t_eid < p.p_eid))),
counted AS (
  SELECT p_eid, cents, channel,
         count(channel) OVER (PARTITION BY p_eid) AS n
  FROM j)
SELECT COALESCE(channel, 'unattributed') AS channel,
       CAST(count(*) AS BIGINT) AS touches,
       CAST(sum(CASE WHEN n = 0 THEN 1000000 ELSE 1000000 // n END) AS BIGINT)
         AS credit_ppm,
       CAST(sum(CASE WHEN n = 0 THEN cents * 1000000
                     ELSE (cents * 1000000) // n END) AS BIGINT)
         AS revenue_micro_cents
FROM counted
GROUP BY 1
"""


@query("attribution_linear_touch", _ATTR_LINEAR_SQL)
def attribution_linear_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-credit multi-touch attribution over a 3-day lookback.
    Join shape: purchases LEFT range-join touches on user_id (SMJ on
    the user key, range + strict-precedence predicates filter in the
    merge -- same discipline as range_join_events); per-purchase
    touch count via one window over the purchase id; credits are
    integer ppm with floor division (floor == truncation for the
    all-positive operands, so DuckDB // and Spark DIV agree).
    Unattributed purchases keep their full 1.0 credit under
    'unattributed'. One shuffle on user_id + one on p_eid."""
    events = load_table(spark, sf_dir, "events")
    touches = events.where(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("channel"),
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_eid"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_eid"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    strict_before = (F.col("t_ts") < F.col("p_ts")) | (
        (F.col("t_ts") == F.col("p_ts")) & (F.col("t_eid") < F.col("p_eid"))
    )
    j = purchases.join(
        touches,
        (F.col("user_id") == F.col("t_user"))
        & (
            epoch_micros("t_ts")
            >= epoch_micros("p_ts") - F.lit(3 * 86400 * 1_000_000)
        )
        & strict_before,
        "left",
    ).select("p_eid", "cents", "channel")
    w = Window.partitionBy("p_eid")
    counted = j.withColumn("n", F.count("channel").over(w))
    credit = F.when(F.col("n") == 0, F.lit(1000000)).otherwise(
        F.expr("1000000 DIV n")
    )
    rev = F.when(F.col("n") == 0, F.col("cents") * 1000000).otherwise(
        F.expr("(cents * 1000000) DIV n")
    )
    return (
        counted.groupBy(
            F.coalesce(F.col("channel"), F.lit("unattributed")).alias("channel")
        )
        .agg(
            F.count("*").cast("long").alias("touches"),
            F.sum(credit).cast("long").alias("credit_ppm"),
            F.sum(rev).cast("long").alias("revenue_micro_cents"),
        )
    )
