"""Extended engine surface: set operations, pivot, cube, as-of join,
string/date/JSON scalar functions, statistical aggregates -- the parts
of a general analytics engine the reference never needed (SURVEY
sections 2.5/2.7/2.9 note their absence) but any consumer of this
engine gets from Spark, each pinned by a DuckDB oracle.

Portability notes applied here:
  * stddev/variance computed from exact integer power sums (engines'
    streaming-variance implementations differ in last bits);
  * Spark dayofweek is 1..7 Sun..Sat, DuckDB dow is 0..6 -> align;
  * as-of join: Spark has no native operator -> union + carry-forward
    window (one shuffle), oracle uses DuckDB's native ASOF JOIN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@query(
    "setop_intersect",
    """
SELECT CAST(o_custkey AS BIGINT) AS cust_key FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT CAST(o_custkey AS BIGINT) AS cust_key FROM orders WHERE o_orderstatus = 'F'
""",
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").cast("long").alias("cust_key")
    )
    f = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").cast("long").alias("cust_key")
    )
    return o.intersect(f)


@query(
    "setop_except",
    """
SELECT CAST(c_custkey AS BIGINT) AS cust_key FROM customer
EXCEPT
SELECT CAST(o_custkey AS BIGINT) AS cust_key FROM orders
""",
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.select(
        F.col("c_custkey").cast("long").alias("cust_key")
    ).exceptAll(
        orders.select(F.col("o_custkey").cast("long").alias("cust_key"))
    ).distinct()


@query(
    "setop_semi_anti",
    """
SELECT CAST(c_custkey AS BIGINT) AS cust_key,
       CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            THEN 'has_orders' ELSE 'no_orders' END AS bucket
FROM customer c
""",
)
def setop_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi + left_anti unioned with a bucket label -- the engine's
    EXISTS / NOT EXISTS surface."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    semi = customer.join(orders, "c_custkey", "left_semi").select(
        F.col("c_custkey").cast("long").alias("cust_key"),
        F.lit("has_orders").alias("bucket"),
    )
    anti = customer.join(orders, "c_custkey", "left_anti").select(
        F.col("c_custkey").cast("long").alias("cust_key"),
        F.lit("no_orders").alias("bucket"),
    )
    return semi.unionByName(anti)


# ---------------------------------------------------------------------------
# Pivot / cube
# ---------------------------------------------------------------------------


@query(
    "pivot_status_by_segment",
    """
SELECT c.c_mktsegment AS segment,
  CAST(count(*) FILTER (WHERE o.o_orderstatus = 'O') AS BIGINT) AS status_o,
  CAST(count(*) FILTER (WHERE o.o_orderstatus = 'F') AS BIGINT) AS status_f,
  CAST(count(*) FILTER (WHERE o.o_orderstatus = 'P') AS BIGINT) AS status_p
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
""",
)
def pivot_status_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    )
    return (
        joined.groupBy(F.col("c_mktsegment").alias("segment"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .select(
            "segment",
            F.coalesce(F.col("O"), F.lit(0)).alias("status_o"),
            F.coalesce(F.col("F"), F.lit(0)).alias("status_f"),
            F.coalesce(F.col("P"), F.lit(0)).alias("status_p"),
        )
    )


@query(
    "agg_cube",
    """
SELECT o_orderstatus, o_orderpriority,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "sum_cents"
        ),
    )


# ---------------------------------------------------------------------------
# As-of join (Spark lacks a native one; union + carry-forward window --
# one shuffle on the key, the scalable shape). Oracle: native ASOF JOIN.
# ---------------------------------------------------------------------------


def _asof_carry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases (max value per user and ts, tag 0) and clicks (tag 1)
    in one frame, each row carrying the user's latest purchase at or
    before it: `purchase_ts` and `carried_value`, NULL when none.
    Purchases sort before clicks at equal ts; one shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("tag"),  # purchase sorts before click at same ts
            F.lit(None).cast("long").alias("event_id"),
            "purchase_value",
        )
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(1).alias("tag"),
        "event_id",
        F.lit(None).cast("double").alias("purchase_value"),
    )
    unioned = purchases.unionByName(clicks)
    w = Window.partitionBy("user_id").orderBy("ts", "tag").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return unioned.select(
        "*",
        F.last(
            F.when(F.col("tag") == 0, F.col("ts")), ignorenulls=True
        ).over(w).alias("purchase_ts"),
        F.last(
            F.when(F.col("tag") == 0, F.col("purchase_value")), ignorenulls=True
        ).over(w).alias("carried_value"),
    )


@query(
    "asof_join_click_purchase",
    """
WITH purchases AS (
  SELECT user_id, ts, max(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
),
clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
)
SELECT CAST(c.event_id AS BIGINT) AS click_id,
       CAST(c.user_id AS BIGINT) AS user_id,
       p.ts AS purchase_ts,
       p.purchase_value
FROM clicks c ASOF JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
""",
)
def asof_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every click, the user's most recent purchase at-or-before it.

    Implementation: tag+union both streams, per-user window ordered by
    (ts, tag) with purchases sorting first at equal ts, carry the last
    purchase forward (last_value ignorenulls), keep clicks with a
    match. One shuffle on user_id; no range explosion -- this is the
    standard distributed as-of shape.
    """
    carried = _asof_carry(spark, sf_dir)
    return carried.filter(
        (F.col("tag") == 1) & F.col("purchase_ts").isNotNull()
    ).select(
        F.col("event_id").cast("long").alias("click_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("purchase_ts"),
        F.col("carried_value").alias("purchase_value"),
    )


# ---------------------------------------------------------------------------
# Scalar function batteries
# ---------------------------------------------------------------------------


@query(
    "string_functions",
    """
SELECT CAST(c_custkey AS BIGINT) AS cust_key,
  upper(c_name) AS name_upper,
  lower(c_mktsegment) AS seg_lower,
  substr(c_name, 1, 8) AS name_prefix,
  length(c_name) AS name_len,
  replace(c_name, 'Customer', 'Cust') AS name_replaced,
  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
  regexp_extract(c_name, '([0-9]+)', 1) AS key_digits,
  reverse(c_mktsegment) AS seg_rev,
  concat_ws('|', c_name, c_mktsegment) AS joined
FROM customer
""",
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").cast("long").alias("cust_key"),
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("long").alias("name_len"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias(
            "name_replaced"
        ),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("key_digits"),
        F.reverse(F.col("c_mktsegment")).alias("seg_rev"),
        F.concat_ws("|", "c_name", "c_mktsegment").alias("joined"),
    )


@query(
    "date_functions",
    """
SELECT CAST(o_orderkey AS BIGINT) AS order_key,
  CAST(year(o_orderdate) AS BIGINT) AS y,
  CAST(month(o_orderdate) AS BIGINT) AS m,
  CAST(day(o_orderdate) AS BIGINT) AS d,
  CAST(date_part('dow', o_orderdate) AS BIGINT) AS dow0,
  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
  CAST(date_diff('day', o_orderdate, TIMESTAMP '1998-12-31') AS BIGINT) AS days_to_eoy
FROM orders
""",
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").cast("long").alias("order_key"),
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
        F.dayofmonth("o_orderdate").cast("long").alias("d"),
        # Spark dayofweek: 1..7 Sun..Sat; DuckDB dow: 0..6 Sun..Sat
        (F.dayofweek("o_orderdate") - 1).cast("long").alias("dow0"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate")).cast(
            "long"
        ).alias("days_to_eoy"),
    )


@query(
    "json_extraction",
    """
SELECT CAST(event_id AS BIGINT) AS event_id,
  CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
FROM events
""",
)
def json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )


# ---------------------------------------------------------------------------
# Statistical aggregates from exact integer power sums (engine-portable
# by construction; native stddev implementations differ in last bits).
# ---------------------------------------------------------------------------


@query(
    "agg_stats_exact",
    """
WITH sums AS (
  SELECT l_returnflag,
    count(*) AS n,
    sum(CAST(l_quantity AS BIGINT)) AS s1,
    sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s2,
    min(CAST(l_quantity AS BIGINT)) AS min_qty,
    max(CAST(l_quantity AS BIGINT)) AS max_qty
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag,
  CAST(n AS BIGINT) AS n,
  CAST(min_qty AS BIGINT) AS min_qty,
  CAST(max_qty AS BIGINT) AS max_qty,
  CAST(s1 AS DOUBLE) / n AS mean_qty,
  (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) AS var_qty
FROM sums
""",
)
def agg_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    sums = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.min(q).alias("min_qty"),
        F.max(q).alias("max_qty"),
    )
    n = F.col("n")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    return sums.select(
        "l_returnflag",
        n.alias("n"),
        F.col("min_qty"),
        F.col("max_qty"),
        (s1 / n).alias("mean_qty"),
        ((s2 - s1 * F.col("s1") / n) / (n - 1)).alias("var_qty"),
    )


# ---------------------------------------------------------------------------
# Window battery: rank / dense_rank / lag / lead / ntile
# ---------------------------------------------------------------------------


@query(
    "window_rank_battery",
    """
SELECT CAST(o_custkey AS BIGINT) AS cust_key,
  CAST(o_orderkey AS BIGINT) AS order_key,
  CAST(rank() OVER w AS BIGINT) AS rnk,
  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
  CAST(lag(o_orderkey) OVER w AS BIGINT) AS prev_order,
  CAST(lead(o_orderkey) OVER w AS BIGINT) AS next_order,
  CAST(ntile(4) OVER w AS BIGINT) AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def window_rank_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        F.col("o_custkey").cast("long").alias("cust_key"),
        F.col("o_orderkey").cast("long").alias("order_key"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.lag("o_orderkey").over(w).cast("long").alias("prev_order"),
        F.lead("o_orderkey").over(w).cast("long").alias("next_order"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


# ---------------------------------------------------------------------------
# Approximate aggregates: no engine-portable oracle exists (HLL/KLL
# sketches are implementation-defined), so these are rows-only driver
# checks with error bounds pinned against exact answers in
# tests/test_functions.py::test_approx_error_bounds.
# ---------------------------------------------------------------------------


@query("agg_approx_sketches")
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scalar output columns ONLY: the driver canonicalizer sorts cell
    # values with pandas and cannot hash array cells, so the quartile
    # array is flattened to qty_p25 / qty_p75 (VERDICT r01 red row).
    li = load_table(spark, sf_dir, "lineitem")
    quart = F.percentile_approx("l_quantity", [0.25, 0.75])
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median_price"),
        quart.getItem(0).alias("qty_p25"),
        quart.getItem(1).alias("qty_p75"),
    )


# ---------------------------------------------------------------------------
# P7 full form: md5 -> base62 surrogate key. Spark computes it in the
# JVM (functions/ids.base62_of_md5); the DuckDB twin divides the same
# 128-bit integer by 62 in a recursive CTE, an exact oracle.
# ---------------------------------------------------------------------------


def _b62_sql() -> str:
    """DuckDB twin of base62(int(md5_hex, 16)): parse the two hex
    halves into an unsigned 128-bit int, then recursive-CTE divmod by
    62 (depth <= 22) — was rows-only in round 1 because 'base62 of a
    128-bit int is not SQL-expressible'; UHUGEINT makes it so."""
    from ..functions.ids import _B62

    two64 = "18446744073709551616::UHUGEINT"
    return f"""
WITH RECURSIVE seed AS (
  SELECT p_partkey, md5(concat_ws(',', p_name, p_brand)) AS h FROM part
),
init AS (
  SELECT p_partkey,
    (('0x'||substr(h,1,16))::UBIGINT)::UHUGEINT * {two64}
    + (('0x'||substr(h,17,16))::UBIGINT)::UHUGEINT AS n,
    '' AS acc
  FROM seed
),
steps AS (
  SELECT p_partkey, n, acc FROM init
  UNION ALL
  SELECT p_partkey, n // 62,
         substr('{_B62}', (n % 62)::INT + 1, 1) || acc
  FROM steps WHERE n > 0
),
done AS (
  SELECT p_partkey, CASE WHEN acc = '' THEN '0' ELSE acc END AS b62
  FROM steps WHERE n = 0
)
SELECT CAST(p_partkey AS BIGINT) AS part_key,
       'part-' || p_partkey::VARCHAR || '-' || b62 AS surrogate_id
FROM done
"""


@query("p7_base62_surrogate", _b62_sql())
def p7_base62_surrogate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.ids import base62_of_md5, md5_surrogate

    part = load_table(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").cast("long").alias("part_key"),
        F.concat(
            F.lit("part-"),
            F.col("p_partkey"),
            F.lit("-"),
            base62_of_md5(md5_surrogate("p_name", "p_brand")),
        ).alias("surrogate_id"),
    )
