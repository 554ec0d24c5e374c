"""Second surface batch: SQL-API entry, array-function battery,
null-semantics battery, window frames (range/rows, first/last/nth).
Same portability discipline as queries_core.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table, register_views
from .registry import query


# ---------------------------------------------------------------------------
# SQL API surface: the engine accepts ANSI SQL directly (spark.sql over
# registered views) -- TPC-H Q3 shape, money in exact cents.
# ---------------------------------------------------------------------------

_Q3_SQL = """
SELECT
  CAST(l.l_orderkey AS BIGINT) AS order_key,
  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue_e4,
  o.o_orderdate AS order_date,
  o.o_orderpriority AS priority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15'
  AND l.l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
"""


@query("sql_api_q3", _Q3_SQL)
def sql_api_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same text runs on both engines: spark.sql IS the oracle SQL
    (modulo nothing -- Catalyst and DuckDB both speak this query)."""
    register_views(spark, sf_dir)
    return spark.sql(_Q3_SQL)


# ---------------------------------------------------------------------------
# Array-function battery over split tokens / embeddings
# ---------------------------------------------------------------------------


@query(
    "array_function_battery",
    """
WITH t AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  list_sort(list_distinct(toks))[1]                 AS first_distinct_sorted,
  CAST(len(list_distinct(toks)) AS BIGINT)          AS n_distinct,
  list_contains(toks, 'spark')                      AS has_spark,
  array_to_string(toks[1:3], '_')                   AS head3,
  list_reverse_sort(toks)[1]                        AS max_tok,
  CAST(nullif(list_position(toks, 'table'), 0) AS BIGINT) AS first_table_pos
FROM t
""",
)
def array_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    staged = docs.withColumn("toks", toks)
    return staged.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.try_element_at(
            F.array_sort(F.array_distinct(F.col("toks"))), F.lit(1)
        ).alias("first_distinct_sorted"),
        F.size(F.array_distinct(F.col("toks"))).cast("long").alias("n_distinct"),
        F.array_contains(F.col("toks"), "spark").alias("has_spark"),
        F.array_join(F.slice(F.col("toks"), 1, 3), "_").alias("head3"),
        F.try_element_at(
            F.reverse(F.array_sort(F.col("toks"))), F.lit(1)
        ).alias("max_tok"),
        # Spark array_position: 0 when absent; DuckDB list_position: NULL
        F.when(
            F.array_position(F.col("toks"), "table") > 0,
            F.array_position(F.col("toks"), "table"),
        ).cast("long").alias("first_table_pos"),
    )


# ---------------------------------------------------------------------------
# Null-semantics battery
# ---------------------------------------------------------------------------


@query(
    "null_semantics_battery",
    """
SELECT CAST(o_orderkey AS BIGINT) AS order_key,
  coalesce(nullif(o_orderstatus, 'O'), 'open')      AS status_or_open,
  CASE WHEN o_totalprice > 200000 THEN o_totalprice END AS big_price,
  ifnull(CASE WHEN o_totalprice > 200000 THEN o_totalprice END, 0.0) AS big_price_or_zero,
  greatest(o_totalprice, 100000.0)                  AS at_least_100k,
  least(o_totalprice, 100000.0)                     AS at_most_100k,
  (o_totalprice IS NULL)                            AS price_is_null,
  CASE WHEN o_orderstatus IS DISTINCT FROM 'O' THEN 1 ELSE 0 END AS not_open_flag
FROM orders
""",
)
def null_semantics_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    big = F.when(F.col("o_totalprice") > 200000, F.col("o_totalprice"))
    return o.select(
        F.col("o_orderkey").cast("long").alias("order_key"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")
        ).alias("status_or_open"),
        big.alias("big_price"),
        F.coalesce(big, F.lit(0.0)).alias("big_price_or_zero"),
        F.greatest(F.col("o_totalprice"), F.lit(100000.0)).alias("at_least_100k"),
        F.least(F.col("o_totalprice"), F.lit(100000.0)).alias("at_most_100k"),
        F.col("o_totalprice").isNull().alias("price_is_null"),
        F.when(
            ~F.col("o_orderstatus").eqNullSafe("O"), F.lit(1)
        ).otherwise(0).cast("int").alias("not_open_flag"),
    )


# ---------------------------------------------------------------------------
# Window frames: range vs rows, first/last/nth values
# ---------------------------------------------------------------------------


@query(
    "window_frames_battery",
    """
SELECT CAST(l_suppkey AS BIGINT) AS supp_key,
  CAST(l_orderkey AS BIGINT) AS order_key,
  CAST(l_linenumber AS BIGINT) AS line_number,
  CAST(first_value(l_orderkey) OVER w AS BIGINT)  AS first_order,
  CAST(last_value(l_orderkey) OVER w AS BIGINT)   AS last_order_so_far,
  CAST(nth_value(l_orderkey, 2) OVER w AS BIGINT) AS second_order,
  CAST(sum(CAST(l_quantity AS BIGINT)) OVER
    (PARTITION BY l_suppkey
     ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS qty_3row
FROM lineitem
WINDOW w AS (PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def window_frames_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    # l_quantity in the ORDER BY: same fixture-key-collision fix as
    # window_running_sum (see the comment there) -- the qty_3row
    # rolling sum is order-dependent at a full tie; the first/last/
    # nth outputs take l_orderkey, which tied rows share, so they
    # were already invariant.
    li = load_table(spark, sf_dir, "lineitem")
    order = ["l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"]
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w3 = (
        Window.partitionBy("l_suppkey")
        .orderBy(*order)
        .rowsBetween(-2, Window.currentRow)
    )
    return li.select(
        F.col("l_suppkey").cast("long").alias("supp_key"),
        F.col("l_orderkey").cast("long").alias("order_key"),
        F.col("l_linenumber").cast("long").alias("line_number"),
        F.first("l_orderkey").over(w).cast("long").alias("first_order"),
        F.last("l_orderkey").over(w).cast("long").alias("last_order_so_far"),
        F.nth_value("l_orderkey", 2).over(w).cast("long").alias("second_order"),
        F.sum(F.col("l_quantity").cast("long")).over(w3).cast("long").alias(
            "qty_3row"
        ),
    )


# ---------------------------------------------------------------------------
# Conditional aggregation battery
# ---------------------------------------------------------------------------


@query(
    "conditional_agg_battery",
    """
SELECT l_returnflag,
  CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_big,
  CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted,
  bool_and(l_quantity > 0)  AS all_positive,
  bool_or(l_quantity > 49)  AS any_huge,
  CAST(max(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS max_qty_f
FROM lineitem
GROUP BY l_returnflag
""",
)
def conditional_agg_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.when(F.col("l_quantity") > 25, 1)).alias("n_big"),
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).cast("long").alias(
            "n_discounted"
        ),
        F.every(F.col("l_quantity") > 0).alias("all_positive"),
        F.some(F.col("l_quantity") > 49).alias("any_huge"),
        F.max(
            F.when(F.col("l_linestatus") == "F", F.col("l_quantity").cast("long"))
        ).alias("max_qty_f"),
    )


# ---------------------------------------------------------------------------
# CDC: merge/upsert + SCD2 (emulated MERGE INTO -- anti-join + union;
# Delta/Iceberg would supply the physical MERGE at deployment).
# ---------------------------------------------------------------------------

_MERGE_SQL = """
WITH updates AS (
  SELECT c_custkey, c_acctbal * 2 AS c_acctbal, 'UPDATED' AS c_mktsegment
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + 1000000 AS c_custkey, 1.0 AS c_acctbal, 'NEW' AS c_mktsegment
  FROM customer WHERE c_custkey % 97 = 0
)
SELECT CAST(c_custkey AS BIGINT) AS cust_key, c_acctbal AS acctbal,
       c_mktsegment AS segment
FROM (
  SELECT t.c_custkey, t.c_acctbal, t.c_mktsegment
  FROM customer t
  WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = t.c_custkey)
  UNION ALL
  SELECT * FROM updates
)
"""


def _customer_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    changed = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") * 2).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
    )
    new = c.filter(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.lit(1.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    return changed.unionByName(new)


@query("merge_upsert", _MERGE_SQL)
def merge_upsert_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import merge_upsert

    target = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    merged = merge_upsert(target, _customer_updates(spark, sf_dir), "c_custkey")
    return merged.select(
        F.col("c_custkey").cast("long").alias("cust_key"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )


_SCD2_SQL = """
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
)
SELECT CAST(c_custkey AS BIGINT) AS cust_key, c_acctbal AS acctbal,
       c_mktsegment AS segment, valid_from, valid_to, is_current
FROM (
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
"""


def _scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history of customer: every row current since 2020-01-01,
    then one 2024-01-01 update of each c_custkey % 7 = 0 (balance
    doubled, segment 'UPDATED') applied by scd2_apply."""
    from ..operators.scd import scd2_apply

    current = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        "c_mktsegment",
        F.lit("2020-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 7 == 0
    ).select(
        "c_custkey",
        (F.col("c_acctbal") * 2).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
    )
    return scd2_apply(
        current, updates, "c_custkey", F.lit("2024-01-01").cast("timestamp")
    )


@query("scd2_dimension", _SCD2_SQL)
def scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scd2_history(spark, sf_dir).select(
        F.col("c_custkey").cast("long").alias("cust_key"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
        "valid_from",
        "valid_to",
        "is_current",
    )


# ---------------------------------------------------------------------------
# Range (interval) join -- bucketized scale path vs DuckDB's IEJoin.
# ---------------------------------------------------------------------------


@query(
    "range_join_events",
    """
SELECT CAST(a.event_id AS BIGINT) AS id_a,
       CAST(b.event_id AS BIGINT) AS id_b,
       a.event_type AS event_type
FROM events a JOIN events b
  ON a.event_type = b.event_type
 AND a.event_id < b.event_id
 AND abs(epoch(a.ts) - epoch(b.ts)) <= 60
""",
)
def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-type event pairs within 60 seconds of each other. The
    bucketized plan shuffles on (bucket) and never goes quadratic;
    DuckDB's native IEJoin is the oracle."""
    from ..operators.rangejoin import range_join_bucketed

    ev = load_table(spark, sf_dir, "events")
    a = ev.select(
        F.col("event_id").alias("id_a"),
        F.col("event_type").alias("type_a"),
        F.col("ts").alias("ts_a"),
    )
    b = ev.select(
        F.col("event_id").alias("id_b"),
        F.col("event_type").alias("type_b"),
        F.col("ts").alias("ts_b"),
    )
    out = range_join_bucketed(
        a,
        b,
        "ts_a",
        "ts_b",
        60.0,
        extra_cond=(F.col("type_a") == F.col("type_b"))
        & (F.col("id_a") < F.col("id_b")),
    )
    return out.select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.col("type_a").alias("event_type"),
    )


# ---------------------------------------------------------------------------
# Hypertable rollup: the DAILY level is derived from HOURLY partials
# (continuous-aggregate re-aggregation), while the oracle computes the
# daily answer straight from raw events -- passing proves the
# re-aggregation is lossless.
# ---------------------------------------------------------------------------


@query(
    "hypertable_rollup_daily",
    """
SELECT time_bucket(INTERVAL '1 day', ts) AS bucket_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value,
       min(value) AS min_value,
       max(value) AS max_value
FROM events
GROUP BY 1, 2
""",
)
def hypertable_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rollup import hypertable_rollup

    ev = load_table(spark, sf_dir, "events")
    levels = hypertable_rollup(ev, ("1 hour", "1 day"))
    daily = levels["1 day"]
    return daily.select(
        "bucket_start",
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("sum_value", 4).alias("sum_value"),
        "min_value",
        "max_value",
    )
