"""Seventh surface batch: data-quality audits (referential integrity,
key uniqueness), exact time-series analytics (bounded EWMA, OHLC
resample, seasonal-naive backtest), deterministic systematic sampling,
PIVOT surface, and an exact interpolated-percentile battery.

Scale themes:
  * the DQ audits are anti-joins / self-aggregates on key columns --
    each is one shuffle (or broadcast for dims) over only the key,
    with column pruning doing the heavy lifting at 100 TB;
  * bounded EWMA is a fixed-width self-join on row-number distance
    (replication factor = the window length, a constant), never an
    unbounded running recurrence -- the exact-arithmetic cousin of a
    watermark-bounded stream agg. Weights are powers of two so the
    weighted numerator stays in the EXACT integer domain (cents *
    2^k), and the single final division is the only float op;
  * OHLC picks rows (first/last by a deterministic order) and
    min/max -- no float accumulation anywhere, so the oracle is
    bit-exact without any money-domain trick;
  * systematic sampling orders by md5(key) -- a deterministic,
    engine-portable proxy for random order -- and keeps every k-th
    row; at scale the same plan is a per-partition modulo over a
    hash-ordered window (one total-order sort, same as ntile).

Oracle discipline per queries_core.py: money in BIGINT cents before
any aggregation; divisions only as the LAST projection step; every
top-k / pick has a full deterministic tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query


# ---------------------------------------------------------------------------
# DQ: referential integrity audit. One row per FK relation with the
# orphan count (child keys with no parent). Anti-join per relation;
# parent sides are dimension-sized for customer/nation and key-only
# projections for orders -- at 100 TB each audit is a key-column
# shuffle at worst, and the dims broadcast.
# ---------------------------------------------------------------------------

_REF_INTEGRITY_SQL = """
SELECT relation, CAST(orphans AS BIGINT) AS orphans FROM (
  SELECT 'lineitem->orders' AS relation, count(*) AS orphans
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderkey IS NULL
  UNION ALL
  SELECT 'lineitem->part', count(*)
  FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_partkey IS NULL
  UNION ALL
  SELECT 'orders->customer', count(*)
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_custkey IS NULL
  UNION ALL
  SELECT 'customer->nation', count(*)
  FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE n.n_nationkey IS NULL
)
ORDER BY relation
"""


@query("dq_referential_integrity", _REF_INTEGRITY_SQL)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK orphan audit across the star schema: each relation is a
    LEFT ANTI join counting child rows whose parent key is missing.
    Key-only column pruning + broadcast parents make this a cheap
    full-fleet health check at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")

    def orphans(child, ckey, parent, pkey, label, bcast=False):
        par = parent.select(F.col(pkey).alias("__pk"))
        if bcast:
            par = F.broadcast(par)
        n = (
            child.select(F.col(ckey).alias("__ck"))
            .join(par, F.col("__ck") == F.col("__pk"), "left_anti")
            .agg(F.count("*").cast("long").alias("orphans"))
        )
        return n.select(F.lit(label).alias("relation"), "orphans")

    out = (
        orphans(li, "l_orderkey", orders, "o_orderkey", "lineitem->orders")
        .unionByName(orphans(li, "l_partkey", part, "p_partkey", "lineitem->part"))
        .unionByName(
            orphans(orders, "o_custkey", cust, "c_custkey", "orders->customer", bcast=True)
        )
        .unionByName(
            orphans(cust, "c_nationkey", nation, "n_nationkey", "customer->nation", bcast=True)
        )
    )
    return out.orderBy("relation")


# ---------------------------------------------------------------------------
# DQ: key-uniqueness audit. One row per declared key with the number
# of violating key VALUES (groups with count > 1). Self-aggregate on
# the key only.
# ---------------------------------------------------------------------------

_UNIQUENESS_SQL = """
SELECT constraint_name, CAST(violating_keys AS BIGINT) AS violating_keys FROM (
  SELECT 'lineitem_pk' AS constraint_name, count(*) AS violating_keys FROM (
    SELECT l_orderkey, l_linenumber FROM lineitem
    GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
  UNION ALL
  SELECT 'orders_pk', count(*) FROM (
    SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
  UNION ALL
  SELECT 'events_pk', count(*) FROM (
    SELECT event_id FROM events GROUP BY event_id HAVING count(*) > 1)
  UNION ALL
  SELECT 'documents_pk', count(*) FROM (
    SELECT doc_id FROM documents GROUP BY doc_id HAVING count(*) > 1)
)
ORDER BY constraint_name
"""


@query("dq_uniqueness_violations", _UNIQUENESS_SQL)
def dq_uniqueness_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit: per declared key, how many key
    VALUES occur more than once. Each check is a single map-side-
    partial groupBy over the pruned key columns."""
    def viol(df, keys, label):
        n = (
            df.groupBy(*keys)
            .agg(F.count("*").alias("n"))
            .where(F.col("n") > 1)
            .agg(F.count("*").cast("long").alias("violating_keys"))
        )
        return n.select(F.lit(label).alias("constraint_name"), "violating_keys")

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    out = (
        viol(li, ["l_orderkey", "l_linenumber"], "lineitem_pk")
        .unionByName(viol(orders, ["o_orderkey"], "orders_pk"))
        .unionByName(viol(events, ["event_id"], "events_pk"))
        .unionByName(viol(docs, ["doc_id"], "documents_pk"))
    )
    return out.orderBy("constraint_name")


# ---------------------------------------------------------------------------
# Bounded EWMA over daily revenue, halflife = 1 day, window = last 8
# days of OBSERVED data (8 rows, not calendar days). Weight for the
# j-th most recent row is 2^(7-j) -- integer weights, so the weighted
# numerator is an exact BIGINT (cents * 2^k <= 2^40 * 2^7, far below
# the 63-bit limit) and the ONLY float op is the final division.
# The fixed-width self-join on row-number distance replicates each row
# at most 8x -- bounded, unlike a running recurrence.
# ---------------------------------------------------------------------------

_EWMA_WIN = 8

_EWMA_SQL = f"""
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_orderdate),
rn AS (
  SELECT day, cents, row_number() OVER (ORDER BY day) AS rn FROM daily),
w AS (
  SELECT a.day, a.cents,
         sum(b.cents * (1::BIGINT << ({_EWMA_WIN} - 1 - (a.rn - b.rn)))) AS num,
         sum(1::BIGINT << ({_EWMA_WIN} - 1 - (a.rn - b.rn))) AS den
  FROM rn a JOIN rn b
    ON b.rn BETWEEN a.rn - {_EWMA_WIN - 1} AND a.rn
  GROUP BY a.day, a.cents)
SELECT day, CAST(cents AS BIGINT) AS cents,
       CAST(num AS BIGINT) AS ewma_num, CAST(den AS BIGINT) AS ewma_den,
       CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS ewma_cents
FROM w ORDER BY day
"""


@query("timeseries_ewma_bounded", _EWMA_SQL)
def timeseries_ewma_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue with
    power-of-two weights over a bounded 8-row window: numerator and
    denominator stay in the exact integer domain (shiftleft), the
    final division is the only float op -- hash-exact across engines.
    At scale: the range self-join replicates each daily row <= 8x
    (fixed), vs. an unbounded recurrence that cannot parallelize."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    rn = daily.withColumn(
        "rn", F.row_number().over(Window.orderBy("day"))
    )
    # banded range join: band = rn DIV W, so every b-row within the
    # lookback window lives in band(a) or band(a)-1 -- the a side
    # probes both bands through an explode and the join is a plain
    # EQUI-join on the band key (hash join, no BroadcastNestedLoop),
    # refined by the exact rn range. Replication stays <= 2x + W.
    band = F.expr(f"rn DIV {_EWMA_WIN}")
    a = rn.select(
        F.col("day"),
        F.col("cents"),
        F.col("rn").alias("rn_a"),
        F.explode(F.array(band, band - 1)).alias("__band"),
    )
    b = rn.select(
        F.col("cents").alias("cents_b"),
        F.col("rn").alias("rn_b"),
        band.alias("__band"),
    )
    j = a.join(b, "__band").where(
        (F.col("rn_b") >= F.col("rn_a") - (_EWMA_WIN - 1))
        & (F.col("rn_b") <= F.col("rn_a"))
    )
    # 2^k for k in 0..7 via double pow -> exact small integers; cast
    # back to long keeps the weighted sum in the exact BIGINT domain
    # (F.shiftleft only accepts a python-int bit count, not a Column)
    wexp = F.lit(_EWMA_WIN - 1) - (F.col("rn_a") - F.col("rn_b"))
    weight = F.pow(F.lit(2.0), wexp).cast("long")
    weighted = j.groupBy("day", "cents").agg(
        F.sum(F.col("cents_b") * weight).cast("long").alias("ewma_num"),
        F.sum(weight).cast("long").alias("ewma_den"),
    )
    return weighted.select(
        "day",
        "cents",
        "ewma_num",
        "ewma_den",
        (F.col("ewma_num").cast("double") / F.col("ewma_den").cast("double")).alias(
            "ewma_cents"
        ),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# OHLC resample of the events stream to daily bars: open/close are
# row PICKS under a fully deterministic order (ts, event_id), high/
# low are min/max -- no float accumulation, bit-exact by construction.
# ---------------------------------------------------------------------------

_OHLC_SQL = """
WITH e AS (
  SELECT CAST(ts AS DATE) AS day, ts, event_id, value FROM events),
o AS (
  SELECT day, ts, event_id, value,
         row_number() OVER (PARTITION BY day ORDER BY ts, event_id) AS rf,
         row_number() OVER (PARTITION BY day ORDER BY ts DESC, event_id DESC) AS rl
  FROM e)
SELECT day,
       min(CASE WHEN rf = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       min(CASE WHEN rl = 1 THEN value END) AS close,
       CAST(count(*) AS BIGINT) AS volume
FROM o GROUP BY day ORDER BY day
"""


@query("timeseries_ohlc_daily", _OHLC_SQL)
def timeseries_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars over the event stream: open/close picked by
    row_number under (ts, event_id) -- deterministic even with tied
    timestamps -- high/low/volume as plain min/max/count. One window
    + one groupBy, both partitioned by day: at 100 TB the day key
    gives natural partition pruning and no global sort."""
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        F.col("ts").cast("date").alias("day"), "ts", "event_id", "value"
    )
    wf = Window.partitionBy("day").orderBy("ts", "event_id")
    wl = Window.partitionBy("day").orderBy(F.desc("ts"), F.desc("event_id"))
    o = e.withColumn("rf", F.row_number().over(wf)).withColumn(
        "rl", F.row_number().over(wl)
    )
    return (
        o.groupBy("day")
        .agg(
            F.min(F.when(F.col("rf") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.min(F.when(F.col("rl") == 1, F.col("value"))).alias("close"),
            F.count("*").cast("long").alias("volume"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Seasonal-naive backtest: forecast(day) = actual(day - 7 rows of the
# same weekday ordering is overkill here -- the classic seasonal
# naive is lag(7) over the daily series); report per-day absolute
# error in exact cents.
# ---------------------------------------------------------------------------

_SEASONAL_SQL = """
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_orderdate),
l AS (
  SELECT day, cents,
         lag(cents, 7) OVER (ORDER BY day) AS forecast_cents
  FROM daily)
SELECT day, cents, CAST(forecast_cents AS BIGINT) AS forecast_cents,
       CAST(abs(cents - forecast_cents) AS BIGINT) AS abs_err_cents
FROM l WHERE forecast_cents IS NOT NULL ORDER BY day
"""


@query("timeseries_seasonal_naive_error", _SEASONAL_SQL)
def timeseries_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive (lag-7) forecast backtest over daily revenue:
    per-day absolute error in exact integer cents. The pattern under
    every 'is this pipeline's data drifting week-over-week' check."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    l = daily.withColumn(
        "forecast_cents", F.lag("cents", 7).over(Window.orderBy("day"))
    )
    return (
        l.where(F.col("forecast_cents").isNotNull())
        .select(
            "day",
            "cents",
            F.col("forecast_cents").cast("long").alias("forecast_cents"),
            F.abs(F.col("cents") - F.col("forecast_cents"))
            .cast("long")
            .alias("abs_err_cents"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Systematic sampling: order by md5(key) (deterministic, engine-
# portable stand-in for random order), keep every k-th row. Unlike
# bernoulli sampling the output size is exactly n/k; unlike top-n it
# is unbiased w.r.t. any natural ordering of the data.
# ---------------------------------------------------------------------------

_SYSTEMATIC_K = 20

_SYSTEMATIC_SQL = f"""
WITH h AS (
  SELECT o_orderkey, md5(CAST(o_orderkey AS VARCHAR)) AS hk FROM orders),
r AS (
  SELECT o_orderkey, hk, row_number() OVER (ORDER BY hk, o_orderkey) AS rn FROM h)
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey
FROM r WHERE (rn - 1) % {_SYSTEMATIC_K} = 0
ORDER BY o_orderkey
"""


@query("sample_systematic", _SYSTEMATIC_SQL)
def sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every k-th row in md5-hash order: exact 1/k sample, fully
    deterministic, engine-portable. The global row_number is the one
    total-order op; at 100 TB the same semantics come from a range-
    partitioned sort on the hash (ntile machinery), still one
    shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    h = orders.select(
        "o_orderkey", F.md5(F.col("o_orderkey").cast("string")).alias("hk")
    )
    r = h.withColumn(
        "rn", F.row_number().over(Window.orderBy("hk", "o_orderkey"))
    )
    return (
        r.where((F.col("rn") - 1) % _SYSTEMATIC_K == 0)
        .select(F.col("o_orderkey").cast("long").alias("o_orderkey"))
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# PIVOT surface: event_type counts per day as columns. The pivot
# column list is DECLARED (not discovered) -- at scale an undeclared
# pivot needs an extra distinct-scan job before planning.
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_PIVOT_SQL = """
SELECT CAST(ts AS DATE) AS day,
       CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS "click",
       CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS "error",
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS "purchase",
       CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS "signup",
       CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS "view"
FROM events GROUP BY 1 ORDER BY day
"""


@query("pivot_event_counts", _PIVOT_SQL)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.groupBy(day).pivot(type, DECLARED_VALUES).count(): with the
    value list declared, Spark skips the extra distinct-collection
    job and plans a single pivot aggregate -- the scale-correct way
    to use the pivot API. Missing cells coalesce to 0."""
    events = load_table(spark, sf_dir, "events")
    p = (
        events.select(F.col("ts").cast("date").alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    return p.select(
        "day",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in _EVENT_TYPES],
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Exact interpolated percentiles (the percentile_cont FORMULA spelled
# out with window functions in BOTH engines, so no dependence on
# either engine's internal implementation): per nation over customer
# account balances in cents. idx = (n-1)*p; result = v[floor(idx)] +
# frac * (v[floor(idx)+1] - v[floor(idx)]). All picks integer-exact;
# the interpolation is the single final float expression.
# ---------------------------------------------------------------------------


def _pct_sql() -> str:
    def one(p: str) -> str:
        return f"""
  SELECT nation, CAST({p} AS DOUBLE) AS p,
         CAST(lo_v + (({p} * (n - 1)) - lo) * (hi_v - lo_v) AS DOUBLE) AS val
  FROM (
    SELECT nation, n,
           CAST(floor({p} * (n - 1)) AS BIGINT) AS lo,
           min(CASE WHEN rn - 1 = CAST(floor({p} * (n - 1)) AS BIGINT) THEN cents END) AS lo_v,
           min(CASE WHEN rn - 1 = least(CAST(floor({p} * (n - 1)) AS BIGINT) + 1, n - 1) THEN cents END) AS hi_v
    FROM ranked GROUP BY nation, n)"""

    return f"""
WITH b AS (
  SELECT c_nationkey AS nation,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
  FROM customer),
ranked AS (
  SELECT nation, cents,
         row_number() OVER (PARTITION BY nation ORDER BY cents) AS rn,
         count(*) OVER (PARTITION BY nation) AS n
  FROM b)
SELECT CAST(nation AS BIGINT) AS nation, p, val FROM (
{one("0.25")}
  UNION ALL
{one("0.5")}
  UNION ALL
{one("0.75")}
)
ORDER BY nation, p
"""


@query("percentiles_exact_battery", _pct_sql())
def percentiles_exact_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p25/p50/p75 of customer balance per nation via the explicit
    linear-interpolation formula (both engines evaluate the SAME
    formula over integer cents -- no reliance on percentile_cont
    internals). One window per group + one pick-aggregate."""
    cust = load_table(spark, sf_dir, "customer")
    b = cust.select(
        F.col("c_nationkey").alias("nation"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    w = Window.partitionBy("nation").orderBy("cents")
    ranked = b.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("nation"))
    )

    def one(p: float) -> DataFrame:
        lo = F.floor(F.lit(p) * (F.col("n") - 1)).cast("long")
        hi = F.least(lo + 1, F.col("n") - 1)
        g = ranked.groupBy("nation", "n").agg(
            F.min(
                F.when(F.col("rn") - 1 == F.floor(F.lit(p) * (F.col("n") - 1)).cast("long"), F.col("cents"))
            ).alias("lo_v"),
            F.min(
                F.when(
                    F.col("rn") - 1
                    == F.least(
                        F.floor(F.lit(p) * (F.col("n") - 1)).cast("long") + 1,
                        F.col("n") - 1,
                    ),
                    F.col("cents"),
                )
            ).alias("hi_v"),
        )
        return g.select(
            F.col("nation").cast("long").alias("nation"),
            F.lit(p).alias("p"),
            (
                F.col("lo_v")
                + (
                    (F.lit(p) * (F.col("n") - 1))
                    - F.floor(F.lit(p) * (F.col("n") - 1)).cast("long")
                )
                * (F.col("hi_v") - F.col("lo_v"))
            )
            .cast("double")
            .alias("val"),
        )

    return one(0.25).unionByName(one(0.5)).unionByName(one(0.75)).orderBy(
        "nation", "p"
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance for a JOIN view: with deltas on BOTH
# inputs, V(A u dA, B u dB) = agg-merge of A|>B, dA|>B, A|>dB, dA|>dB
# -- the classic IVM delta identity. Each delta join touches only
# delta x (indexed base) work, so refreshing the view costs O(delta),
# not O(base): THE pattern under warehouse materialized-view refresh.
# The oracle is the monolithic recompute -- proving the four-way
# merge is exactly equal, not approximately.
# ---------------------------------------------------------------------------

_IVM_SQL = """
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
ORDER BY priority
"""


@query("mv_join_delta_maintenance", _IVM_SQL)
def mv_join_delta_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain an aggregated join view under two-sided deltas via the
    IVM identity: split orders (key % 7 == 0 -> delta) and lineitem
    (suppkey % 5 == 0 -> delta) deterministically, compute the four
    partial join-aggregates, and merge by summing per group. Money in
    exact cents so the four-way merge is bit-equal to the monolithic
    recompute the oracle runs. At scale: three of the four joins have
    a delta side (small -> broadcastable), so a view refresh costs
    O(|delta|) instead of a full A-join-B."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    a_base = orders.where(F.col("o_orderkey") % 7 != 0)
    a_delta = orders.where(F.col("o_orderkey") % 7 == 0)
    b_base = li.where(F.col("l_suppkey") % 5 != 0)
    b_delta = li.where(F.col("l_suppkey") % 5 == 0)

    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")

    def partial(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.select("o_orderkey", "o_orderpriority")
            .join(b.select("l_orderkey", "l_extendedprice"),
                  F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(cents).alias("revenue_cents"),
            )
        )

    merged = (
        partial(a_base, b_base)
        .unionByName(partial(a_delta, b_base))
        .unionByName(partial(a_base, b_delta))
        .unionByName(partial(a_delta, b_delta))
        .groupBy("priority")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
        )
    )
    return merged.orderBy("priority")


# ---------------------------------------------------------------------------
# RANGE-frame windows (event-time sliding aggregates): unlike the ROWS
# frames in window_frames_battery, the frame is defined by a VALUE
# range over the ordering key -- trailing 1 hour of events per user,
# however many rows that is, with all peers of a tied key included
# (deterministic by definition, no tiebreak needed). The range key is
# integer epoch seconds on BOTH engines.
# ---------------------------------------------------------------------------

_RANGE_FRAMES_SQL = """
WITH e AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CAST(round(value * 10000, 0) AS BIGINT) AS v4
  FROM events)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(event_id AS BIGINT) AS event_id,
       sec,
       CAST(sum(v4) OVER (PARTITION BY user_id ORDER BY sec
         RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS BIGINT) AS v4_1h,
       CAST(count(*) OVER (PARTITION BY user_id ORDER BY sec
         RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_1h
FROM e
"""


@query("window_range_frames", _RANGE_FRAMES_SQL)
def window_range_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-1-hour per-user sliding sum/count via RANGE frames
    over integer epoch seconds -- the event-time window shape ROWS
    frames cannot express (frame width varies with event density;
    tied timestamps are peers, included together). Partitioned by
    user: no global sort; money integer e4 so the frame sum is
    order-free exact."""
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_timestamp("ts").alias("sec"),
        F.round(F.col("value") * 10000, 0).cast("long").alias("v4"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3599, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        "sec",
        F.sum("v4").over(w).cast("long").alias("v4_1h"),
        F.count("*").over(w).cast("long").alias("n_1h"),
    )


# ---------------------------------------------------------------------------
# Exact MODE per group with full determinism: the most frequent
# l_returnflag+l_linestatus combo's priority ordering -- count desc,
# value asc tiebreak. (Spark's F.mode and DuckDB's mode() leave ties
# implementation-defined; the explicit window formulation is the
# engine-portable exact version.)
# ---------------------------------------------------------------------------

_MODE_SQL = """
WITH c AS (
  SELECT o_orderpriority AS grp, o_orderstatus AS val, count(*) AS n
  FROM orders GROUP BY 1, 2),
r AS (
  SELECT grp, val, n,
         row_number() OVER (PARTITION BY grp ORDER BY n DESC, val) AS rn
  FROM c)
SELECT grp AS priority, val AS mode_status, CAST(n AS BIGINT) AS n
FROM r WHERE rn = 1
ORDER BY priority
"""


@query("agg_mode_exact", _MODE_SQL)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode (count desc, value asc): the
    window formulation both engines evaluate identically, vs the
    built-in mode() whose tie choice is implementation-defined. Two
    map-side-combinable aggregates + a group-partitioned window over
    the (tiny) distinct-combo table."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_orderstatus").alias("val"),
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("grp").orderBy(F.desc("n"), F.asc("val"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("grp").alias("priority"),
            F.col("val").alias("mode_status"),
            F.col("n").cast("long").alias("n"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Sequence pattern matching (MATCH_RECOGNIZE-shaped): each user's
# event history becomes an ordered initial-letter string (v/c/p/s/e),
# and conversions = non-overlapping matches of view -> (clicks|
# signups)* -> purchase. The per-user string build is the collect
# step every sequence-mining op needs; the pattern count is a scalar
# regexp (same leftmost non-overlapping semantics in RE2 and Java
# regex for this alternation-free pattern class).
# ---------------------------------------------------------------------------

_SEQ_SQL = """
WITH s AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS path
  FROM events GROUP BY user_id)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(length(path) AS BIGINT) AS path_len,
       CAST(len(regexp_extract_all(path, 'v[cs]*p')) AS BIGINT) AS n_conversions
FROM s ORDER BY user_id
"""


@query("events_sequence_pattern", _SEQ_SQL)
def events_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral-pattern count: order events (ts, event_id),
    reduce each to its initial letter, count non-overlapping
    'v[cs]*p' matches (view, then clicks/signups, then purchase).
    collect_list + array_sort gives a deterministic in-group order
    without a global sort; the regexp runs once per user string."""
    events = load_table(spark, sf_dir, "events")
    path = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("c"))
                )
            ),
            lambda x: x.getField("c"),
        ),
        "",
    )
    s = events.groupBy("user_id").agg(path.alias("path"))
    return s.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.length("path").cast("long").alias("path_len"),
        F.size(F.expr("regexp_extract_all(path, 'v[cs]*p', 0)"))
        .cast("long")
        .alias("n_conversions"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Interval-set INTERSECTION: per user, merged view-activity windows
# [ts, ts+30min) against merged purchase-influence windows
# [ts, ts+1h); result = total overlapping seconds. Each set is merged
# with the cumulative-max island technique (no self-join); the
# intersection is a per-user equi-join whose fan-out is bounded by
# merged-intervals-per-user (small by construction after merging).
# All arithmetic in integer epoch seconds.
# ---------------------------------------------------------------------------


def _islands_sql(evt: str, dur: int, name: str) -> str:
    return f"""
{name}_raw AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + {dur} AS e
  FROM events WHERE event_type = '{evt}'),
{name}_m AS (
  SELECT user_id, s, e,
         max(e) OVER (PARTITION BY user_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM {name}_raw),
{name}_f AS (
  SELECT user_id, s, e,
         sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY s, e) AS island
  FROM {name}_m),
{name} AS (
  SELECT user_id, min(s) AS s, max(e) AS e
  FROM {name}_f GROUP BY user_id, island)"""


_INTERSECT_SQL = f"""
WITH {_islands_sql("view", 1800, "a")},
{_islands_sql("purchase", 3600, "b")}
SELECT CAST(a.user_id AS BIGINT) AS user_id,
       CAST(sum(greatest(0, least(a.e, b.e) - greatest(a.s, b.s))) AS BIGINT)
         AS overlap_seconds
FROM a JOIN b ON a.user_id = b.user_id
WHERE least(a.e, b.e) > greatest(a.s, b.s)
GROUP BY a.user_id
ORDER BY user_id
"""


@query("intervals_intersection_total", _INTERSECT_SQL)
def intervals_intersection_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-algebra intersection: merge each event-derived
    interval set per user (cumulative-max islands, window-only -- no
    self-join), then join the two MERGED sets per user and sum exact
    overlap seconds. Merging first is the scale move: the join
    fan-out is merged-intervals^2 per user, not raw-events^2."""
    events = load_table(spark, sf_dir, "events")

    def islands(evt: str, dur: int) -> DataFrame:
        raw = events.where(F.col("event_type") == evt).select(
            "user_id",
            F.unix_timestamp("ts").alias("s"),
            (F.unix_timestamp("ts") + dur).alias("e"),
        )
        w = Window.partitionBy("user_id").orderBy("s", "e")
        m = raw.withColumn(
            "prev_max",
            F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        )
        f = m.withColumn(
            "island",
            F.sum(
                F.when(
                    F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")),
                    1,
                ).otherwise(0)
            ).over(w),
        )
        return f.groupBy("user_id", "island").agg(
            F.min("s").alias("s"), F.max("e").alias("e")
        )

    a = islands("view", 1800).select(
        F.col("user_id"), F.col("s").alias("as_"), F.col("e").alias("ae")
    )
    b = islands("purchase", 3600).select(
        F.col("user_id").alias("user_b"),
        F.col("s").alias("bs"),
        F.col("e").alias("be"),
    )
    j = a.join(b, F.col("user_id") == F.col("user_b")).where(
        F.least("ae", "be") > F.greatest("as_", "bs")
    )
    return (
        j.groupBy("user_id")
        .agg(
            F.sum(
                F.greatest(
                    F.lit(0), F.least("ae", "be") - F.greatest("as_", "bs")
                )
            )
            .cast("long")
            .alias("overlap_seconds")
        )
        .select(F.col("user_id").cast("long").alias("user_id"), "overlap_seconds")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Audience overlap day-over-day: retained / new / churned users per
# consecutive day pair, from the distinct (day, user) activity table.
# The canonical growth-accounting report; exact by construction.
# ---------------------------------------------------------------------------

_AUDIENCE_SQL = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM du),
pairs AS (
  SELECT d.day AS day, d.day - INTERVAL 1 DAY AS prev_day FROM days d
  WHERE EXISTS (SELECT 1 FROM days p WHERE p.day = d.day - INTERVAL 1 DAY))
SELECT CAST(p.day AS DATE) AS day,
       CAST(count(DISTINCT t.user_id) AS BIGINT) AS n_active,
       CAST(count(DISTINCT CASE WHEN y.user_id IS NOT NULL THEN t.user_id END) AS BIGINT) AS n_retained,
       CAST(count(DISTINCT CASE WHEN y.user_id IS NULL THEN t.user_id END) AS BIGINT) AS n_new
FROM pairs p
JOIN du t ON t.day = p.day
LEFT JOIN du y ON y.day = p.prev_day AND y.user_id = t.user_id
GROUP BY p.day
ORDER BY day
"""


@query("audience_overlap_daily", _AUDIENCE_SQL)
def audience_overlap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day audience accounting (active / retained / new) via
    a self-join of the DISTINCT (day, user) activity table against
    its previous day -- never raw events against raw events, so the
    join input is bounded by active-users-per-day. At 100 TB the same
    plan runs over the deduplicated activity table; the bitmap/HLL
    variants trade exactness for state when even that is too wide."""
    from ..operators._cache import track_persist

    events = load_table(spark, sf_dir, "events")
    # du feeds days (twice, via the pairs semi-join), t and y -- four
    # consumers; persist per the repo's reused-intermediate discipline
    du = track_persist(
        events.select(
            F.col("ts").cast("date").alias("day"), "user_id"
        ).distinct()
    )
    days = du.select("day").distinct()
    pairs = (
        days.alias("d")
        .join(
            days.select(F.col("day").alias("prev_day")).alias("p"),
            F.expr("p.prev_day = d.day - INTERVAL 1 DAY"),
            "left_semi",
        )
        .select(F.col("day"), F.expr("day - INTERVAL 1 DAY").alias("prev_day"))
    )
    t = du.alias("t")
    y = du.select(
        F.col("day").alias("y_day"), F.col("user_id").alias("y_user")
    )
    j = (
        pairs.join(t, F.col("t.day") == pairs["day"])
        .join(
            y,
            (F.col("y_day") == pairs["prev_day"])
            & (F.col("y_user") == F.col("t.user_id")),
            "left",
        )
    )
    return (
        j.groupBy(pairs["day"])
        .agg(
            F.countDistinct("t.user_id").cast("long").alias("n_active"),
            F.countDistinct(
                F.when(F.col("y_user").isNotNull(), F.col("t.user_id"))
            )
            .cast("long")
            .alias("n_retained"),
            F.countDistinct(
                F.when(F.col("y_user").isNull(), F.col("t.user_id"))
            )
            .cast("long")
            .alias("n_new"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# DQ: out-of-order arrival audit. event_id is the ingestion order
# proxy; positions where the event TIME runs backwards vs the
# previous ingested event for the same user are inversions -- the
# late-data signal that sizes streaming watermarks.
# ---------------------------------------------------------------------------

_INVERSIONS_SQL = """
WITH feed AS (
  SELECT user_id, event_id, ts FROM events
  UNION ALL
  -- deterministic LATE arrivals: every 50th event re-ingested 2h
  -- stale with a later ingestion id (negative-free, collision-free)
  SELECT user_id, event_id + 10000000, ts - INTERVAL 2 HOUR
  FROM events WHERE event_id % 50 = 0),
o AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
  FROM feed)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN ts < prev_ts THEN 1 ELSE 0 END) AS BIGINT) AS n_inversions,
       CAST(max(CASE WHEN ts < prev_ts
                 THEN CAST(floor(epoch(prev_ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS max_backstep_seconds
FROM o GROUP BY user_id
HAVING sum(CASE WHEN ts < prev_ts THEN 1 ELSE 0 END) > 0
ORDER BY user_id
"""


@query("dq_event_order_inversions", _INVERSIONS_SQL)
def dq_event_order_inversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late/out-of-order arrival audit per user: ingestion order
    (event_id) vs event time, counting backward steps and the worst
    backstep in seconds -- the empirical basis for choosing a
    streaming watermark horizon. The fixture stream is perfectly
    ordered, so a deterministic late-arrival feed (every 50th event
    re-ingested 2h stale) is unioned in -- the audit then provably
    finds exactly those rows. One user-partitioned window + one
    aggregate."""
    events = load_table(spark, sf_dir, "events")
    feed = events.select("user_id", "event_id", "ts").unionByName(
        events.where(F.col("event_id") % 50 == 0).select(
            "user_id",
            (F.col("event_id") + 10000000).alias("event_id"),
            F.expr("ts - INTERVAL 2 HOUR").alias("ts"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    o = feed.withColumn("prev_ts", F.lag("ts").over(w))
    inv = F.when(F.col("ts") < F.col("prev_ts"), 1).otherwise(0)
    backstep = F.when(
        F.col("ts") < F.col("prev_ts"),
        F.unix_timestamp("prev_ts") - F.unix_timestamp("ts"),
    ).otherwise(0)
    return (
        o.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(inv).cast("long").alias("n_inversions"),
            F.max(backstep).cast("long").alias("max_backstep_seconds"),
        )
        .where(F.col("n_inversions") > 0)
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            "n_events",
            "n_inversions",
            "max_backstep_seconds",
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Naive seasonal decomposition of daily revenue: trend = centered
# 7-row moving average, seasonal = per-ISO-weekday mean of the
# detrended series. Exactness: the detrended value is kept as
# cents*7 - trend_sum (a pure BIGINT -- multiplying through by the
# window width avoids a float trend in the middle of the pipeline);
# the only floats are the final trend/7 and seasonal-mean divisions.
# Edge days without a full 7-row window are excluded (no partial-
# window bias, and the integer domain stays uniform).
# ---------------------------------------------------------------------------

_DECOMP_SQL = """
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_orderdate),
w AS (
  SELECT day, cents,
         CAST(sum(cents) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS tsum,
         count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn
  FROM daily),
full_w AS (
  SELECT day, cents, tsum,
         CAST(cents * 7 - tsum AS BIGINT) AS detr7,
         CAST(isodow(day) - 1 AS BIGINT) AS wd
  FROM w WHERE wn = 7),
seasonal AS (
  SELECT wd, CAST(sum(detr7) AS BIGINT) AS ssum, CAST(count(*) AS BIGINT) AS sn
  FROM full_w GROUP BY wd)
SELECT f.day, f.cents,
       CAST(f.tsum AS DOUBLE) / 7 AS trend_cents,
       f.wd,
       CAST(s.ssum AS DOUBLE) / s.sn / 7 AS seasonal_cents
FROM full_w f JOIN seasonal s USING (wd)
ORDER BY f.day
"""


@query("timeseries_decompose_weekly", _DECOMP_SQL)
def timeseries_decompose_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend + weekly-seasonal decomposition in the exact integer
    domain until the final divisions: centered 7-row trend sum,
    detrended kept as cents*7 - trend_sum (BIGINT), per-weekday
    seasonal means from integer sums. The windows run over the daily
    series (date-dimension-sized, independent of fact scale); the
    seasonal table is 7 rows, broadcast back."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    w = daily.withColumn("tsum", F.sum("cents").over(w7).cast("long")).withColumn(
        "wn", F.count("*").over(w7)
    )
    full_w = w.where(F.col("wn") == 7).select(
        "day",
        "cents",
        "tsum",
        (F.col("cents") * 7 - F.col("tsum")).cast("long").alias("detr7"),
        (F.expr("weekday(day)")).cast("long").alias("wd"),
    )
    seasonal = full_w.groupBy("wd").agg(
        F.sum("detr7").cast("long").alias("ssum"),
        F.count("*").cast("long").alias("sn"),
    )
    return (
        full_w.join(F.broadcast(seasonal), "wd")
        .select(
            "day",
            "cents",
            (F.col("tsum").cast("double") / 7).alias("trend_cents"),
            "wd",
            (F.col("ssum").cast("double") / F.col("sn") / 7).alias(
                "seasonal_cents"
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# SCD2 AS-OF read: reconstruct the dimension exactly as it stood at a
# pivot instant from the versioned history -- the consumer half of
# scd2_dimension's build. Validity predicate only; at scale this is a
# partition-prunable filter over the history table.
# ---------------------------------------------------------------------------

_SCD2_ASOF_SQL = """
WITH current AS (
  SELECT c_custkey, c_acctbal, c_mktsegment,
         TIMESTAMP '2020-01-01' AS valid_from,
         CAST(NULL AS TIMESTAMP) AS valid_to,
         true AS is_current
  FROM customer
),
updates AS (
  SELECT c_custkey, c_acctbal * 2 AS c_acctbal, 'UPDATED' AS c_mktsegment
  FROM customer WHERE c_custkey % 7 = 0
),
hist AS (
  SELECT t.c_custkey, t.c_acctbal, t.c_mktsegment, t.valid_from,
         TIMESTAMP '2024-01-01' AS valid_to, false AS is_current
  FROM current t
  WHERE EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = t.c_custkey)
  UNION ALL
  SELECT t.* FROM current t
  WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = t.c_custkey)
  UNION ALL
  SELECT u.c_custkey, u.c_acctbal, u.c_mktsegment,
         TIMESTAMP '2024-01-01' AS valid_from,
         CAST(NULL AS TIMESTAMP) AS valid_to, true AS is_current
  FROM updates u
)
SELECT CAST(c_custkey AS BIGINT) AS cust_key, c_acctbal AS acctbal,
       c_mktsegment AS segment, valid_from
FROM hist
WHERE valid_from <= TIMESTAMP '2022-06-01'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2022-06-01')
ORDER BY cust_key
"""


@query("scd2_as_of_read", _SCD2_ASOF_SQL)
def scd2_as_of_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension reconstruction from SCD2 history
    (valid_from <= T < valid_to): every key appears exactly once with
    its 2022 state -- pre-update values for the %7 keys whose 2024
    version postdates the pivot. Completes the SCD2 lifecycle
    (build: scd2_dimension; read: this)."""
    from .queries_surface2 import _scd2_history

    hist = _scd2_history(spark, sf_dir)
    pivot = F.lit("2022-06-01").cast("timestamp")
    return (
        hist.where(
            (F.col("valid_from") <= pivot)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > pivot))
        )
        .select(
            F.col("c_custkey").cast("long").alias("cust_key"),
            F.col("c_acctbal").alias("acctbal"),
            F.col("c_mktsegment").alias("segment"),
            "valid_from",
        )
        .orderBy("cust_key")
    )
