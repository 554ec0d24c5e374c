"""TPC-H-shape analytic battery over the trimmed TPC-H-ish testdata
schema (no partsupp / shipmode / commitdate columns -- each classic
query is adapted to the columns that exist; the adaptation is noted
per query).  Completes the sql_api_q{3,11,21,22} set from
queries_surface2/3 so the engine demonstrably covers the canonical
join/agg/subquery shapes an OLAP user expects.

Portability discipline (same as queries_core.py):
- Money is exact integer ten-thousandths (``*_e4``): per-row
  ``CAST(round(x * 10000, 0) AS BIGINT)`` BEFORE the sum, so both
  engines aggregate identical integers and the result is
  order-independent (no float-sum drift).
- Quantities are integral in the data -> cast BIGINT and compare with
  cross-multiplied integer arithmetic instead of float averages
  (q17/q20).
- Share/ratio outputs are integer ppm via BIGINT floor division.

Scale notes (100 TB): only fixed-cardinality dims (nation=25,
region=5) and one-row aggregates are explicitly broadcast.  part /
supplier / customer grow with SF, so their joins stay shuffle
hash-joins and AQE is free to downgrade them to broadcast at small SF;
hand-forcing broadcast there would OOM a 1000-executor cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query


def _rev_e4():
    """Per-row exact revenue in 1e-4 currency units (see module doc)."""
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return F.round(revenue * 10000, 0).cast("long")


_REV_E4_SQL = "CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)"


# ---------------------------------------------------------------------------
# Q2 adaptation: no partsupp/ps_supplycost -> "best supplier" is the
# max-acctbal EUROPE supplier among those that actually shipped the
# part (distinct supp-part pairs from lineitem).
# ---------------------------------------------------------------------------


@query(
    "tpch_q2_best_supplier",
    f"""
WITH sp AS (
  SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey FROM lineitem
),
eu AS (
  SELECT s_suppkey, s_name, CAST(round(s_acctbal * 100, 0) AS BIGINT) AS acctbal_cents
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
cand AS (
  SELECT p.p_partkey, p.p_name, eu.s_name, eu.acctbal_cents
  FROM part p
  JOIN sp ON sp.partkey = p.p_partkey
  JOIN eu ON eu.s_suppkey = sp.suppkey
  WHERE p.p_type = 'STANDARD' AND p.p_size <= 10
)
SELECT CAST(p_partkey AS BIGINT) AS partkey, p_name AS part_name,
       s_name AS supplier_name, acctbal_cents
FROM cand
WHERE acctbal_cents = (
  SELECT max(c2.acctbal_cents) FROM cand c2 WHERE c2.p_partkey = cand.p_partkey
)
""",
)
def tpch_q2_best_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (correlated max subquery -> window max).  At
    scale: the distinct supp-part link is a map-side-combinable
    aggregate over lineitem; nation/region broadcast; the max-per-part
    correlation is one window, not a self-join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")

    sp = li.select(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).distinct()
    eu = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .where(F.col("r_name") == "EUROPE")
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("s_acctbal") * 100, 0).cast("long").alias("acctbal_cents"),
        )
    )
    cand = (
        part.where((F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10))
        .join(sp, sp.partkey == part.p_partkey)
        .join(eu, eu.s_suppkey == F.col("suppkey"))
        .select("p_partkey", "p_name", "s_name", "acctbal_cents")
    )
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("max_bal", F.max("acctbal_cents").over(w))
        .where(F.col("acctbal_cents") == F.col("max_bal"))
        .select(
            F.col("p_partkey").cast("long").alias("partkey"),
            F.col("p_name").alias("part_name"),
            F.col("s_name").alias("supplier_name"),
            "acctbal_cents",
        )
    )


# ---------------------------------------------------------------------------
# Q4 adaptation: no commitdate/receiptdate -> EXISTS over "shipped
# more than 90 days after the order date" (late line).
# ---------------------------------------------------------------------------


@query(
    "tpch_q4_order_priority_exists",
    """
SELECT o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 90 DAY
  )
GROUP BY o_orderpriority
""",
)
def tpch_q4_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS -> LEFT SEMI join (no fanout, no
    dedup-after-join).  The semi join ships only (orderkey, orderdate)
    against the late-line keys; aggregation is map-side combinable."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return late.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").cast("long").alias("order_count")
    )


# ---------------------------------------------------------------------------
# Q5: local supplier volume (customer and supplier in the same nation).
# ---------------------------------------------------------------------------


@query(
    "tpch_q5_local_supplier_volume",
    f"""
SELECT n_name AS nation, CAST(sum({_REV_E4_SQL}) AS BIGINT) AS revenue_e4
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
""",
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: the classic 6-way star with the c_nationkey =
    s_nationkey locality twist.  Join order keeps the fact table
    (lineitem) flowing through equi hash joins; nation+region collapse
    to one broadcast before touching the fact side."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")

    asia_nations = (
        nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .where(F.col("r_name") == "ASIA")
        .select("n_nationkey", "n_name")
    )
    joined = (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(
            sup,
            (li.l_suppkey == sup.s_suppkey)
            & (cust.c_nationkey == sup.s_nationkey),
        )
        .join(F.broadcast(asia_nations), sup.s_nationkey == F.col("n_nationkey"))
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.sum(_rev_e4()).cast("long").alias("revenue_e4")
    )


# ---------------------------------------------------------------------------
# Q6: pure scan-filter-aggregate (the pushdown showcase).
# ---------------------------------------------------------------------------


@query(
    "tpch_q6_forecast_revenue",
    """
SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue_delta_e4,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: single-table filter+agg.  All four predicates push to
    the parquet scan (min/max row-group skipping on l_shipdate at
    scale); the plan is one WholeStageCodegen over a pruned 4-column
    ReadSchema -- asserted in tests/test_tpch.py."""
    li = load_table(spark, sf_dir, "lineitem")
    filt = li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return filt.agg(
        F.sum(
            F.round(F.col("l_extendedprice") * F.col("l_discount") * 10000, 0).cast(
                "long"
            )
        )
        .cast("long")
        .alias("revenue_delta_e4"),
        F.count("*").cast("long").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Q7: volume shipping between two nations, by year, both directions.
# ---------------------------------------------------------------------------


@query(
    "tpch_q7_volume_shipping",
    f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       CAST(sum({_REV_E4_SQL}) AS BIGINT) AS volume_e4
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE ((sn.n_name = 'NATION_18' AND cn.n_name = 'NATION_19')
    OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_18'))
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
""",
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: nation self-pair with a disjunctive pair filter.  The
    two nation lookups are 25-row broadcasts; the OR-pair predicate
    lands after them and prunes before the aggregate."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation")

    sn = nat.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nat.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(sn), sup.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cn_key"))
        .where(
            (
                (F.col("supp_nation") == "NATION_18")
                & (F.col("cust_nation") == "NATION_19")
            )
            | (
                (F.col("supp_nation") == "NATION_19")
                & (F.col("cust_nation") == "NATION_18")
            )
        )
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("long").alias("ship_year"),
    ).agg(F.sum(_rev_e4()).cast("long").alias("volume_e4"))


# ---------------------------------------------------------------------------
# Q8: national market share in a region/type market, per year (ppm).
# ---------------------------------------------------------------------------


@query(
    "tpch_q8_market_share",
    f"""
WITH mkt AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
         {_REV_E4_SQL} AS rev_e4,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region   ON cn.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN part     ON l_partkey = p_partkey
  WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
)
SELECT order_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev_e4 ELSE 0 END) AS BIGINT) AS nation_e4,
       CAST(sum(rev_e4) AS BIGINT) AS total_e4,
       CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev_e4 ELSE 0 END) * 1000000
            // sum(rev_e4) AS BIGINT) AS share_ppm
FROM mkt
GROUP BY order_year
""",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: market share as a conditional-sum ratio in one
    aggregate pass (no second join against a totals subquery).  Share
    is integer ppm via BIGINT floor division -- exact on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO").select("p_partkey")

    am_nations = (
        nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .where(F.col("r_name") == "AMERICA")
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    sn = nat.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    mkt = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(am_nations), cust.c_nationkey == F.col("cn_key"))
        .join(part, li.l_partkey == part.p_partkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(sn), sup.s_nationkey == F.col("sn_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("order_year"),
            _rev_e4().alias("rev_e4"),
            "supp_nation",
        )
    )
    nation_rev = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("rev_e4")).otherwise(F.lit(0))
    ).cast("long")
    total_rev = F.sum("rev_e4").cast("long")
    return (
        mkt.groupBy("order_year")
        .agg(nation_rev.alias("nation_e4"), total_rev.alias("total_e4"))
        .withColumn(
            "share_ppm", F.expr("nation_e4 * 1000000L div total_e4").cast("long")
        )
    )


# ---------------------------------------------------------------------------
# Q9 adaptation: no ps_supplycost -> "profit" is discounted revenue for
# a part-name slice, by supplier nation x order year.
# ---------------------------------------------------------------------------


@query(
    "tpch_q9_profit_by_nation_year",
    f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS order_year,
       CAST(sum({_REV_E4_SQL}) AS BIGINT) AS profit_e4
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, year(o_orderdate)
""",
)
def tpch_q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: fact x 4 dims, LIKE-sliced part filter applied
    BEFORE the join (predicate pushdown into the part scan prunes the
    build side)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%widget%"))
        .select("p_partkey")
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
    )
    return joined.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("long").alias("order_year"),
    ).agg(F.sum(_rev_e4()).cast("long").alias("profit_e4"))


# ---------------------------------------------------------------------------
# Q10: top returned-revenue customers in a quarter (deterministic
# top-20 via rank on exact integers + key tiebreak).
# ---------------------------------------------------------------------------


@query(
    "tpch_q10_returned_items",
    f"""
WITH r AS (
  SELECT c_custkey, c_name, n_name,
         CAST(sum({_REV_E4_SQL}) AS BIGINT) AS returned_e4
  FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN nation   ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-10-01'
    AND o_orderdate < TIMESTAMP '1997-01-01'
  GROUP BY c_custkey, c_name, n_name
)
SELECT CAST(c_custkey AS BIGINT) AS custkey, c_name AS cust_name,
       n_name AS nation, returned_e4
FROM r
QUALIFY row_number() OVER (ORDER BY returned_e4 DESC, c_custkey) <= 20
""",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: agg-then-top-k.  The top-20 is a rank over exact
    integer revenue with the key as tiebreak, so it is deterministic
    on both engines; at scale row_number over a global ORDER BY is a
    single-partition sort of the AGGREGATED rows (customer-grain, not
    lineitem-grain) -- the correct side of the cardinality cliff."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nat = load_table(spark, sf_dir, "nation")
    agg = (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_rev_e4()).cast("long").alias("returned_e4"))
    )
    w = Window.orderBy(F.desc("returned_e4"), F.asc("c_custkey"))
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select(
            F.col("c_custkey").cast("long").alias("custkey"),
            F.col("c_name").alias("cust_name"),
            F.col("n_name").alias("nation"),
            "returned_e4",
        )
    )


# ---------------------------------------------------------------------------
# Q12 adaptation: no shipmode -> shipping-delay buckets per priority.
# ---------------------------------------------------------------------------


@query(
    "tpch_q12_shipping_delay_buckets",
    """
SELECT o_orderpriority AS priority,
       CAST(sum(CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS fast_lines,
       CAST(sum(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 30
                      AND date_diff('day', o_orderdate, l_shipdate) <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS mid_lines,
       CAST(sum(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90 THEN 1 ELSE 0 END) AS BIGINT) AS late_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def tpch_q12_shipping_delay_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional-sum pivot on a derived
    bucket.  datediff on midnight timestamps is exact day arithmetic
    on both engines."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    dd = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    return joined.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.sum(F.when(dd <= 30, 1).otherwise(0)).cast("long").alias("fast_lines"),
        F.sum(F.when((dd > 30) & (dd <= 90), 1).otherwise(0))
        .cast("long")
        .alias("mid_lines"),
        F.sum(F.when(dd > 90, 1).otherwise(0)).cast("long").alias("late_lines"),
    )


# ---------------------------------------------------------------------------
# Q13: customer order-count distribution (left join + two-level agg).
# ---------------------------------------------------------------------------


@query(
    "tpch_q13_order_count_distribution",
    """
WITH per_cust AS (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per_cust
GROUP BY c_count
""",
)
def tpch_q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: LEFT join with an extra join-side predicate (NOT a
    post-filter -- customers with zero qualifying orders must survive
    with c_count=0), then a histogram over the first aggregate."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "5-LOW"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("long").alias("custdist")
    )


# ---------------------------------------------------------------------------
# Q14: promo revenue share in a month (ppm).
# ---------------------------------------------------------------------------


@query(
    "tpch_q14_promo_share",
    f"""
SELECT
  CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_REV_E4_SQL} ELSE 0 END) AS BIGINT) AS promo_e4,
  CAST(sum({_REV_E4_SQL}) AS BIGINT) AS total_e4,
  CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_REV_E4_SQL} ELSE 0 END) * 1000000
       // sum({_REV_E4_SQL}) AS BIGINT) AS promo_ppm
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate < TIMESTAMP '1996-04-01'
""",
)
def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: conditional share in ONE aggregate (no
    numerator/denominator re-join); integer ppm output."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", _rev_e4()).otherwise(F.lit(0))
    ).cast("long")
    total = F.sum(_rev_e4()).cast("long")
    return joined.agg(promo.alias("promo_e4"), total.alias("total_e4")).withColumn(
        "promo_ppm", F.expr("promo_e4 * 1000000L div total_e4").cast("long")
    )


# ---------------------------------------------------------------------------
# Q15: top supplier by quarterly revenue (ties included, like the
# original view + max subquery formulation).
# ---------------------------------------------------------------------------


@query(
    "tpch_q15_top_supplier",
    f"""
WITH rev AS (
  SELECT l_suppkey AS suppkey, CAST(sum({_REV_E4_SQL}) AS BIGINT) AS total_e4
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT CAST(s_suppkey AS BIGINT) AS suppkey, s_name AS supplier_name, total_e4
FROM supplier JOIN rev ON s_suppkey = suppkey
WHERE total_e4 = (SELECT max(total_e4) FROM rev)
""",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: revenue view + global-max filter.  The max is a
    one-row broadcast (cross join against a 1-row aggregate), NOT a
    driver-side collect -- same discipline as
    revenue_concentration_8020."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum(_rev_e4()).cast("long").alias("total_e4")
    )
    max_rev = rev.agg(F.max("total_e4").alias("max_e4"))
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(max_rev))
        .where(F.col("total_e4") == F.col("max_e4"))
        .join(sup, F.col("suppkey") == sup.s_suppkey)
        .select(
            F.col("s_suppkey").cast("long").alias("suppkey"),
            F.col("s_name").alias("supplier_name"),
            "total_e4",
        )
    )


# ---------------------------------------------------------------------------
# Q16 adaptation: no partsupp -> supplier variety per (brand, type,
# size) via distinct lineitem links, excluding low-balance suppliers
# (the NOT IN shape).
# ---------------------------------------------------------------------------


@query(
    "tpch_q16_supplier_variety",
    """
SELECT p_brand AS brand, p_type AS type, CAST(p_size AS BIGINT) AS size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM part
JOIN lineitem ON p_partkey = l_partkey
WHERE p_size IN (5, 15, 25, 35)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000
  )
GROUP BY p_brand, p_type, p_size
""",
)
def tpch_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN -> LEFT ANTI join (keys are non-null so
    the NULL-semantics trap of NOT IN does not bite; the anti join is
    the scale-correct plan)."""
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_size").isin(5, 15, 25, 35)
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 1000)
        .select(F.col("s_suppkey").alias("bad_key"))
    )
    kept = li.join(bad, li.l_suppkey == F.col("bad_key"), "left_anti")
    joined = part.join(kept, part.p_partkey == kept.l_partkey)
    return joined.groupBy(
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("type"),
        F.col("p_size").cast("long").alias("size"),
    ).agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))


# ---------------------------------------------------------------------------
# Q17: small-quantity lines vs the per-part average -- exact integer
# cross-multiplication instead of a float average.
# ---------------------------------------------------------------------------


@query(
    "tpch_q17_small_quantity_revenue",
    f"""
WITH b AS (
  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty, {_REV_E4_SQL} AS rev_e4
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#13'
),
stats AS (
  SELECT l_partkey AS sk, CAST(sum(qty) AS BIGINT) AS sum_qty,
         CAST(count(*) AS BIGINT) AS cnt
  FROM b GROUP BY l_partkey
)
SELECT CAST(sum(rev_e4) AS BIGINT) AS small_rev_e4,
       CAST(count(*) AS BIGINT) AS n_lines
FROM b JOIN stats ON l_partkey = sk
WHERE 5 * qty * cnt < sum_qty
""",
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: 'quantity < 0.2 * avg(quantity per part)' rewritten
    as 5*qty*cnt < sum_qty -- all-integer cross-multiplication, no
    float average to drift.  The per-part stats come from a window
    over the SAME scan (no second lineitem read, no self-join)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_brand") == "Brand#13"
    ).select("p_partkey")
    b = li.join(part, li.l_partkey == part.p_partkey).select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        _rev_e4().alias("rev_e4"),
    )
    w = Window.partitionBy("l_partkey")
    small = b.withColumn("sum_qty", F.sum("qty").over(w)).withColumn(
        "cnt", F.count("*").over(w)
    ).where(F.lit(5) * F.col("qty") * F.col("cnt") < F.col("sum_qty"))
    return small.agg(
        F.sum("rev_e4").cast("long").alias("small_rev_e4"),
        F.count("*").cast("long").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Q18: large-volume customers (group-HAVING on order quantity).
# ---------------------------------------------------------------------------


@query(
    "tpch_q18_large_volume_customers",
    """
WITH big AS (
  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS BIGINT)) > 250
)
SELECT c_name AS cust_name, CAST(c_custkey AS BIGINT) AS custkey,
       CAST(o_orderkey AS BIGINT) AS orderkey, o_orderdate AS order_date,
       CAST(round(o_totalprice * 10000, 0) AS BIGINT) AS totalprice_e4,
       total_qty
FROM big
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
""",
)
def tpch_q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: HAVING-filtered order aggregate joined back to its
    dimensions.  The aggregate runs FIRST, so the join input is the
    (rare) big orders, not all of lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("total_qty"))
        .where(F.col("total_qty") > 250)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, orders.o_orderkey == big.l_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .select(
            F.col("c_name").alias("cust_name"),
            F.col("c_custkey").cast("long").alias("custkey"),
            F.col("o_orderkey").cast("long").alias("orderkey"),
            F.col("o_orderdate").alias("order_date"),
            F.round(F.col("o_totalprice") * 10000, 0)
            .cast("long")
            .alias("totalprice_e4"),
            "total_qty",
        )
    )


# ---------------------------------------------------------------------------
# Q19: disjunctive multi-attribute predicates across the join.
# ---------------------------------------------------------------------------


@query(
    "tpch_q19_disjunctive_predicates",
    f"""
SELECT CAST(sum({_REV_E4_SQL}) AS BIGINT) AS revenue_e4,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
""",
)
def tpch_q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR of conjunctive brand/size/quantity slices.
    Catalyst extracts the common l_partkey equi-key and pushes the
    brand/size disjunction into the part scan; the residual OR
    evaluates post-join inside codegen."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#20") & F.col("p_size").between(1, 15) & q.between(20, 30))
    )
    return j.where(cond).agg(
        F.sum(_rev_e4()).cast("long").alias("revenue_e4"),
        F.count("*").cast("long").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Q20 adaptation: suppliers who shipped a dominant share (>10%) of a
# widget part's total quantity, in a nation slice.
# ---------------------------------------------------------------------------


@query(
    "tpch_q20_dominant_suppliers",
    """
WITH wl AS (
  SELECT l_partkey, l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sup_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%widget%'
  GROUP BY l_partkey, l_suppkey
),
tot AS (
  SELECT l_partkey AS tk, CAST(sum(sup_qty) AS BIGINT) AS part_qty
  FROM wl GROUP BY l_partkey
)
SELECT DISTINCT CAST(s_suppkey AS BIGINT) AS suppkey, s_name AS supplier_name
FROM wl
JOIN tot ON l_partkey = tk
JOIN supplier ON s_suppkey = l_suppkey
WHERE 10 * sup_qty > part_qty
""",
)
def tpch_q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: two-level aggregate + share threshold, all
    integer (10*sup > total  <=>  share > 10%).  The part total is a
    window over the first aggregate -- supp-part grain, already tiny
    relative to lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%widget%"))
        .select("p_partkey")
    )
    wl = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sup_qty"))
    )
    w = Window.partitionBy("l_partkey")
    dom = wl.withColumn("part_qty", F.sum("sup_qty").over(w)).where(
        F.lit(10) * F.col("sup_qty") > F.col("part_qty")
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        dom.join(sup, dom.l_suppkey == sup.s_suppkey)
        .select(
            F.col("s_suppkey").cast("long").alias("suppkey"),
            F.col("s_name").alias("supplier_name"),
        )
        .distinct()
    )
