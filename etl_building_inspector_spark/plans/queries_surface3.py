"""Third surface batch: unpivot/melt, GROUPING SETS with grouping
markers, distribution window functions, regexp battery, map-typed
columns. Same portability discipline as queries_core.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table, register_views
from .registry import query


# ---------------------------------------------------------------------------
# Unpivot / melt: wide metric columns -> (metric, value) rows.
# ---------------------------------------------------------------------------


@query(
    "unpivot_metrics",
    """
SELECT CAST(l_orderkey AS BIGINT) AS order_key,
       CAST(l_linenumber AS BIGINT) AS line_number,
       metric, value
FROM (
  SELECT l_orderkey, l_linenumber,
         l_quantity AS quantity,
         l_extendedprice AS extendedprice,
         l_discount AS discount,
         l_tax AS tax
  FROM lineitem
) UNPIVOT (value FOR metric IN (quantity, extendedprice, discount, tax))
""",
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("quantity"),
        F.col("l_extendedprice").alias("extendedprice"),
        F.col("l_discount").alias("discount"),
        F.col("l_tax").alias("tax"),
    )
    return wide.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["quantity", "extendedprice", "discount", "tax"],
        variableColumnName="metric",
        valueColumnName="value",
    ).select(
        F.col("l_orderkey").cast("long").alias("order_key"),
        F.col("l_linenumber").cast("long").alias("line_number"),
        "metric",
        "value",
    )


# ---------------------------------------------------------------------------
# GROUPING SETS with grouping markers (SQL surface; DataFrame rollup/
# cube are covered elsewhere).
# ---------------------------------------------------------------------------

_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
  CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
  CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@query("agg_grouping_sets", _GROUPING_SETS_SQL)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL)


# ---------------------------------------------------------------------------
# Distribution window functions: percent_rank / cume_dist (exact ratios
# of identical ints -> bit-identical doubles, no rounding needed).
# ---------------------------------------------------------------------------


@query(
    "window_distribution",
    """
SELECT CAST(o_custkey AS BIGINT) AS cust_key,
       CAST(o_orderkey AS BIGINT) AS order_key,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       CAST(row_number() OVER w AS BIGINT) AS rn
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
""",
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        F.col("o_custkey").cast("long").alias("cust_key"),
        F.col("o_orderkey").cast("long").alias("order_key"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.row_number().over(w).cast("long").alias("rn"),
    )


# ---------------------------------------------------------------------------
# Regexp battery (RE2/Java regex common subset only: no backrefs, no
# lookaround -- keeps semantics identical across engines).
# ---------------------------------------------------------------------------


@query(
    "regexp_battery",
    """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  regexp_matches(text, 'spark')                        AS mentions_spark,
  CAST(len(regexp_extract_all(text, '[a-z]+a[a-z]*')) AS BIGINT) AS words_with_a,
  regexp_extract(text, '([a-z]+) ([a-z]+)', 2)         AS second_word,
  regexp_replace(text, '[aeiou]', '_', 'g')            AS devoweled
FROM documents
""",
)
def regexp_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("text").rlike("spark").alias("mentions_spark"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+a[a-z]*"), 0))
        .cast("long")
        .alias("words_with_a"),
        F.regexp_extract("text", "([a-z]+) ([a-z]+)", 2).alias("second_word"),
        F.regexp_replace("text", "[aeiou]", "_").alias("devoweled"),
    )


# ---------------------------------------------------------------------------
# Map-typed columns: parse JSON props to map, access/keys. Map values
# are projected to scalars before comparison (map iteration order is
# not portable).
# ---------------------------------------------------------------------------


@query(
    "map_column_ops",
    """
SELECT CAST(event_id AS BIGINT) AS event_id,
  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
  CAST(len(json_keys(props)) AS BIGINT) AS n_keys,
  list_sort(json_keys(props))[1] AS first_key
FROM events
""",
)
def map_column_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    staged = ev.withColumn("__m", m)
    return staged.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("__m").getItem("k").alias("k_value"),
        F.size(F.map_keys("__m")).cast("long").alias("n_keys"),
        F.try_element_at(F.array_sort(F.map_keys("__m")), F.lit(1)).alias(
            "first_key"
        ),
    )


# ---------------------------------------------------------------------------
# Correlated subqueries -- Catalyst decorrelates these into joins
# (SURVEY section 4 lists decorrelation as a free optimizer feature);
# the same SQL text runs on both engines.
# ---------------------------------------------------------------------------

_CORRELATED_SQL = """
SELECT CAST(o.o_orderkey AS BIGINT) AS order_key,
       o.o_totalprice AS total_price
FROM orders o
WHERE o.o_totalprice > (
  SELECT 1.5 * avg(o2.o_totalprice)
  FROM orders o2
  WHERE o2.o_custkey = o.o_custkey
)
"""


@query("correlated_scalar_subquery", _CORRELATED_SQL)
def correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders 50% above their customer's average order value. The
    correlated scalar subquery decorrelates into an aggregate + join;
    avg is a ratio of identical doubles on both engines only if the sum
    order matches -- per-customer groups are small enough that both
    engines sum in deterministic single-group order... NOT guaranteed,
    so the predicate uses a strict > with values far from ties."""
    register_views(spark, sf_dir)
    return spark.sql(_CORRELATED_SQL)


# ---------------------------------------------------------------------------
# Lateral correlated subquery (SQL:2016 LATERAL / Catalyst
# DecorrelateInnerQuery): per-customer top-3 orders WITHOUT a window --
# the subquery's sort+limit runs per outer row logically; Catalyst
# decorrelates it into a ranked join, which is exactly the rewrite a
# hand-written row_number() would produce.
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
SELECT CAST(c.c_custkey AS BIGINT) AS cust_key,
       CAST(o.o_orderkey AS BIGINT) AS order_key,
       o.o_totalprice AS total_price
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) o
"""


@query("lateral_topk_orders", _LATERAL_SQL)
def lateral_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


# ---------------------------------------------------------------------------
# Spark 4 VARIANT: semi-structured columns without schema-on-write.
# parse_json -> an indexed binary encoding; variant_get extracts typed
# values with lazy paths (vs get_json_object's per-call string parse).
# The oracle reads the same JSON relationally in DuckDB.
# ---------------------------------------------------------------------------


@query(
    "variant_extraction",
    """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k,
       CAST(NULL AS BIGINT) AS missing_val,
       json_extract(props, '$.k') IS NOT NULL AS has_k
FROM events
""",
)
def variant_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "v", F.parse_json(F.col("props"))
    )
    return ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.expr("variant_get(v, '$.k', 'long')").alias("k"),
        F.expr("variant_get(v, '$.missing', 'long')").alias("missing_val"),
        F.expr("variant_get(v, '$.k', 'long') IS NOT NULL").alias("has_k"),
    )


# ---------------------------------------------------------------------------
# Skew mitigation surface: the salted rewrites are invisible to the
# result (oracles are the PLAIN join / PLAIN group-by), visible to the
# shuffle. See operators/skew.py for the 100 TB rationale.
# ---------------------------------------------------------------------------


@query(
    "j_skew_salted_join",
    """
SELECT CAST(l.l_orderkey AS BIGINT) AS order_key,
       CAST(l.l_linenumber AS BIGINT) AS line_number,
       CAST(l.l_suppkey AS BIGINT) AS supp_key,
       s.s_name AS supp_name
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
""",
)
def j_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner join with the fact side salted over 8 sub-keys and the
    dimension replicated 8x — the rewrite for a power-law join key
    whose dimension outgrew broadcast. Result-identical to the plain
    join (the oracle)."""
    from ..operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_suppkey").alias("suppkey")
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_name"
    )
    out = salted_join(li, sup, "suppkey", "l_orderkey", n_salts=8)
    return out.select(
        F.col("l_orderkey").cast("long").alias("order_key"),
        F.col("l_linenumber").cast("long").alias("line_number"),
        F.col("suppkey").cast("long").alias("supp_key"),
        F.col("s_name").alias("supp_name"),
    )


@query(
    "agg_skew_salted",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS value_cents,
       CAST(min(user_id) AS BIGINT) AS min_user,
       CAST(max(user_id) AS BIGINT) AS max_user
FROM events
GROUP BY event_type
""",
)
def agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over event_type — 5 distinct keys,
    the worst reduce-side skew shape. Partial agg on (key, salt=16),
    merge on key; every partial is decomposable (count merges as sum).
    Money stays in integer cents pre-sum (portability rule)."""
    from ..operators.skew import salted_twophase_agg

    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_cents_row", F.round(F.col("value") * 100, 0).cast("long")
    )
    out = salted_twophase_agg(
        ev,
        "event_type",
        "event_id",
        {
            "n_events": (F.count("*"), "sum"),
            "value_cents": (F.sum("value_cents_row"), "sum"),
            "min_user": (F.min("user_id"), "min"),
            "max_user": (F.max("user_id"), "max"),
        },
        n_salts=16,
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("value_cents").cast("long").alias("value_cents"),
        F.col("min_user").cast("long").alias("min_user"),
        F.col("max_user").cast("long").alias("max_user"),
    )
