"""Reference-parity operator queries + the standard agg/window surface,
each over the driver's TPC-H-ish fixtures with an exact DuckDB oracle.

Operator labels (J1, P3, E1, ...) refer to SURVEY.md section 2 rows and
cite the reference span they re-express.

Hash-compare discipline (the driver sorts columns by name and hashes
values):
- every computed column is aliased IDENTICALLY in Spark and SQL;
- money math is done in an exact integer domain (cents) before any
  aggregation -- round(sum(double), 2) is NOT engine-portable at
  half-boundaries, sum(bigint) is;
- row-level double products are left unrounded (bit-identical in both
  engines for identical inputs);
- counts/sizes are cast to BIGINT on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.timeutil import epoch_micros
from ..operators.dedup import keep_first
from ..operators.joins import broadcast_lookup_join, left_join_with_log
from ..sources.tables import load_table
from .registry import query


# exact integer money domain: x has <=2 decimals -> bigint cents.
def _cents(col):
    return F.round(col * 100, 0).cast("long")


# ---------------------------------------------------------------------------
# Flagship: the reference's Phase-1 chain (SURVEY §7 Phase 1) re-shaped
# over the fixtures: scan -> inner broadcast joins (J1) -> left join
# (J2) -> filter (F2-ish) -> scalar projections (P3-P6, P10).
# ---------------------------------------------------------------------------

_FLAGSHIP_SQL = """
SELECT
  CAST(l.l_orderkey AS BIGINT)               AS order_key,
  CAST(l.l_linenumber AS BIGINT)             AS line_number,
  concat('order/', l.l_orderkey, '-', l.l_linenumber) AS record_id,
  c.c_name                                   AS customer_name,
  n.n_name                                   AS nation,
  r.r_name                                   AS region,
  CAST(year(o.o_orderdate) AS BIGINT)        AS valid_since,
  l.l_extendedprice * (1 - l.l_discount)     AS revenue,
  CASE WHEN l.l_quantity > 45 THEN 'high' ELSE 'low' END AS qty_band
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE l.l_shipdate >= TIMESTAMP '1995-01-01' AND l.l_quantity > 30
"""


@query("flagship_enrich", _FLAGSHIP_SQL)
def flagship_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    # fact-fact join on l_orderkey: shuffle join, AQE-coalesced; the
    # three dimension joins broadcast (J1 pattern,
    # building-inspector.js:103-105).
    df = (
        li.filter((F.col("l_shipdate") >= "1995-01-01") & (F.col("l_quantity") > 30))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return df.select(
        F.col("l_orderkey").cast("long").alias("order_key"),
        F.col("l_linenumber").cast("long").alias("line_number"),
        F.concat(
            F.lit("order/"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber")
        ).alias("record_id"),
        F.col("c_name").alias("customer_name"),
        F.col("n_name").alias("nation"),
        F.col("r_name").alias("region"),
        F.year("o_orderdate").cast("long").alias("valid_since"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.when(F.col("l_quantity") > 45, "high").otherwise("low").alias("qty_band"),
    )


# ---------------------------------------------------------------------------
# J1: inner broadcast lookup join (building-inspector.js:103-105).
# ---------------------------------------------------------------------------


@query(
    "j1_broadcast_inner_join",
    """
SELECT CAST(o.o_orderkey AS BIGINT) AS order_key,
       c.c_name AS customer_name, n.n_name AS nation_name
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
""",
)
def j1_broadcast_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    df = broadcast_lookup_join(
        orders, customer, orders.o_custkey == customer.c_custkey
    )
    df = broadcast_lookup_join(df, nation, df.c_nationkey == nation.n_nationkey)
    return df.select(
        F.col("o_orderkey").cast("long").alias("order_key"),
        F.col("c_name").alias("customer_name"),
        F.col("n_name").alias("nation_name"),
    )


# ---------------------------------------------------------------------------
# J1 integrity: anti-join analog of the crash-on-missing-sheet
# (building-inspector.js:104 + stopOnError :268).
# ---------------------------------------------------------------------------


@query(
    "j1_integrity_anti_join",
    """
SELECT CAST(o.o_orderkey AS BIGINT) AS order_key
FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM customer c
  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 1000
)
""",
)
def j1_integrity_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    rich = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 1000)
    from ..operators.joins import integrity_check

    missing = integrity_check(
        orders, rich.select(F.col("c_custkey").alias("o_custkey")), ["o_custkey"]
    )
    return missing.select(F.col("o_orderkey").cast("long").alias("order_key"))


# ---------------------------------------------------------------------------
# J2 + F4: left broadcast join; NULL enrich -> row survives + log record
# (building-inspector.js:106, :129-136).
# ---------------------------------------------------------------------------

_J2_SQL = """
SELECT CAST(o.o_orderkey AS BIGINT) AS order_key,
       c.c_name AS customer_name,
       c.c_mktsegment AS segment
FROM orders o
LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
  ON o.o_custkey = c.c_custkey
"""


def _j2_joined(spark: SparkSession, sf_dir: str):
    orders = load_table(spark, sf_dir, "orders")
    dim = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    return left_join_with_log(
        orders,
        dim,
        orders.o_custkey == dim.c_custkey,
        null_col="c_name",
        error_expr=F.concat(
            F.lit("Can't find customer for order "), F.col("o_orderkey")
        ),
    )


@query("j2_left_join_null", _J2_SQL)
def j2_left_join_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined, _ = _j2_joined(spark, sf_dir)
    return joined.select(
        F.col("o_orderkey").cast("long").alias("order_key"),
        F.col("c_name").alias("customer_name"),
        F.col("c_mktsegment").alias("segment"),
    )


@query(
    "f4_missing_dim_log",
    """
SELECT concat('Can''t find customer for order ', o.o_orderkey) AS error
FROM orders o
LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
  ON o.o_custkey = c.c_custkey
WHERE c.c_name IS NULL
""",
)
def f4_missing_dim_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, logs = _j2_joined(spark, sf_dir)
    return logs


# ---------------------------------------------------------------------------
# D1: keep-first dedup with deterministic order (building-inspector.js:
# 92, :97-100). Duplicates synthesized by unioning a marked copy.
# ---------------------------------------------------------------------------


@query(
    "d1_keep_first_dedup",
    """
WITH stream AS (
  SELECT o_orderkey, o_totalprice, 0 AS copy FROM orders
  UNION ALL
  SELECT o_orderkey, o_totalprice * 2, 1 AS copy FROM orders WHERE o_orderkey % 3 = 0
)
SELECT CAST(o_orderkey AS BIGINT) AS order_key,
       o_totalprice AS total_price,
       CAST(copy AS BIGINT) AS copy
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY copy) AS rn
  FROM stream
) WHERE rn = 1
""",
)
def d1_keep_first_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    first = orders.select("o_orderkey", "o_totalprice", F.lit(0).alias("copy"))
    dups = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice"), F.lit(1).alias("copy")
    )
    stream = first.unionByName(dups)
    deduped = keep_first(stream, keys=["o_orderkey"], order_by=["copy"])
    return deduped.select(
        F.col("o_orderkey").cast("long").alias("order_key"),
        F.col("o_totalprice").alias("total_price"),
        F.col("copy").cast("long").alias("copy"),
    )


# ---------------------------------------------------------------------------
# D2: content-hash dedup (building-inspector.js:204-214): key the row by
# md5 of its content, keep the lowest id per hash.
# ---------------------------------------------------------------------------


@query(
    "d2_content_hash_dedup",
    """
SELECT md5(concat_ws(',', p_type, p_brand)) AS content_key,
       CAST(min(p_partkey) AS BIGINT) AS part_key,
       CAST(count(*) AS BIGINT) AS dup_count
FROM part
GROUP BY 1
""",
)
def d2_content_hash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.withColumn("content_key", F.md5(F.concat_ws(",", "p_type", "p_brand")))
        .groupBy("content_key")
        .agg(
            F.min("p_partkey").cast("long").alias("part_key"),
            F.count("*").alias("dup_count"),
        )
    )


# ---------------------------------------------------------------------------
# P3-P6, P10: scalar transform battery -- cast (parseInt), split,
# conditional, concat id synthesis, literals
# (building-inspector.js:102-120, :144, :190).
# ---------------------------------------------------------------------------


@query(
    "p_scalar_transforms",
    """
SELECT
  CAST(p_partkey AS BIGINT)                       AS part_key,
  TRY_CAST(str_split(p_brand, '#')[2] AS BIGINT)  AS brand_num,
  str_split(p_type, ' ')[1]                       AS type_head,
  str_split(p_type, ' ')[3]                       AS type_tail,
  CAST(len(str_split(p_name, ' ')) AS BIGINT)     AS name_words,
  concat('mapwarper/', p_partkey)                 AS synth_id,
  concat('part-', p_partkey, '-', p_size)         AS pos_id,
  CASE WHEN p_size > 25 THEN concat('big:', p_brand) END AS size_flag,
  md5(concat_ws(',', p_name, p_brand))            AS content_md5,
  'st:Part'                                       AS record_type
FROM part
""",
)
def p_scalar_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    type_words = F.split(F.col("p_type"), " ")
    return part.select(
        F.col("p_partkey").cast("long").alias("part_key"),
        F.split(F.col("p_brand"), "#").getItem(1).cast("long").alias("brand_num"),
        type_words.getItem(0).alias("type_head"),
        F.try_element_at(type_words, F.lit(3)).alias("type_tail"),
        F.size(F.split(F.col("p_name"), " ")).cast("long").alias("name_words"),
        F.concat(F.lit("mapwarper/"), F.col("p_partkey")).alias("synth_id"),
        F.concat(
            F.lit("part-"), F.col("p_partkey"), F.lit("-"), F.col("p_size")
        ).alias("pos_id"),
        F.when(F.col("p_size") > 25, F.concat(F.lit("big:"), F.col("p_brand"))).alias(
            "size_flag"
        ),
        F.md5(F.concat_ws(",", "p_name", "p_brand")).alias("content_md5"),
        F.lit("st:Part").alias("record_type"),
    )


# ---------------------------------------------------------------------------
# P8: array element extraction (geometry.geometries[i], building-
# inspector.js:123, :162) over the embeddings fixture.
# ---------------------------------------------------------------------------


@query(
    "p8_element_at",
    """
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(embedding[1] AS DOUBLE)  AS first_dim,
       CAST(embedding[64] AS DOUBLE) AS last_dim,
       CAST(embedding[99] AS DOUBLE) AS oob_dim,
       CAST(len(embedding) AS BIGINT) AS dim
FROM embeddings
""",
)
def p8_element_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.try_element_at("embedding", F.lit(1)).cast("double").alias("first_dim"),
        F.try_element_at("embedding", F.lit(64)).cast("double").alias("last_dim"),
        F.try_element_at("embedding", F.lit(99)).cast("double").alias("oob_dim"),
        F.size("embedding").cast("long").alias("dim"),
    )


# ---------------------------------------------------------------------------
# E1 + J4: positional explode with cross-array alignment
# (building-inspector.js:143-162: address i <-> geometries[i+1]).
# ---------------------------------------------------------------------------


@query(
    "e1_posexplode_align",
    """
SELECT CAST(p_partkey AS BIGINT) AS part_key,
       CAST(generate_subscripts(str_split(p_name, ' '), 1) - 1 AS BIGINT) AS pos,
       unnest(str_split(p_name, ' ')) AS word,
       concat(p_partkey, '-', generate_subscripts(str_split(p_name, ' '), 1)) AS addr_id,
       str_split(p_type, ' ')[generate_subscripts(str_split(p_name, ' '), 1)] AS aligned_type
FROM part
""",
)
def e1_posexplode_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    words = F.split(F.col("p_name"), " ")
    types = F.split(F.col("p_type"), " ")
    return (
        part.select("p_partkey", types.alias("types"), F.posexplode(words))
        .select(
            F.col("p_partkey").cast("long").alias("part_key"),
            F.col("pos").cast("long").alias("pos"),
            F.col("col").alias("word"),
            F.concat(F.col("p_partkey"), F.lit("-"), F.col("pos") + 1).alias("addr_id"),
            F.try_element_at(F.col("types"), F.col("pos").cast("int") + 1).alias(
                "aligned_type"
            ),
        )
    )


# ---------------------------------------------------------------------------
# E2: constant fan-out -- every object emits exactly 2 relations
# (mapwarperRelations, building-inspector.js:183-202).
# ---------------------------------------------------------------------------


@query(
    "e2_relation_fanout",
    """
SELECT concat('order/', o_orderkey) AS rel_from,
       concat('mapwarper/', o_custkey) AS rel_to,
       'st:in' AS rel_type
FROM orders
UNION ALL
SELECT concat('order/', o_orderkey) AS rel_from,
       concat('mapwarper/layer-', year(o_orderdate)) AS rel_to,
       'st:in' AS rel_type
FROM orders
""",
)
def e2_relation_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    rel = F.array(
        F.struct(
            F.concat(F.lit("mapwarper/"), F.col("o_custkey")).alias("rel_to"),
        ),
        F.struct(
            F.concat(F.lit("mapwarper/layer-"), F.year("o_orderdate")).alias("rel_to"),
        ),
    )
    return orders.select(
        F.concat(F.lit("order/"), F.col("o_orderkey")).alias("rel_from"),
        F.explode(rel).alias("r"),
    ).select(
        "rel_from",
        F.col("r.rel_to").alias("rel_to"),
        F.lit("st:in").alias("rel_type"),
    )


# ---------------------------------------------------------------------------
# E3: heterogeneous record union with discriminator (the reference's
# object/relation/log stream flatten, building-inspector.js:315-318).
# ---------------------------------------------------------------------------


@query(
    "e3_union_records",
    """
SELECT 'object' AS record_type,
       concat('customer/', c_custkey) AS id,
       c_name AS name,
       CAST(NULL AS VARCHAR) AS rel_from,
       CAST(NULL AS VARCHAR) AS rel_to,
       CAST(NULL AS VARCHAR) AS error
FROM customer
UNION ALL
SELECT 'relation' AS record_type,
       CAST(NULL AS VARCHAR) AS id,
       CAST(NULL AS VARCHAR) AS name,
       concat('order/', o_orderkey) AS rel_from,
       concat('customer/', o_custkey) AS rel_to,
       CAST(NULL AS VARCHAR) AS error
FROM orders
UNION ALL
SELECT 'log' AS record_type,
       CAST(NULL AS VARCHAR) AS id,
       CAST(NULL AS VARCHAR) AS name,
       CAST(NULL AS VARCHAR) AS rel_from,
       CAST(NULL AS VARCHAR) AS rel_to,
       concat('negative balance for customer ', c_custkey) AS error
FROM customer WHERE c_acctbal < 0
""",
)
def e3_union_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    objects = customer.select(
        F.lit("object").alias("record_type"),
        F.concat(F.lit("customer/"), F.col("c_custkey")).alias("id"),
        F.col("c_name").alias("name"),
    )
    relations = orders.select(
        F.lit("relation").alias("record_type"),
        F.concat(F.lit("order/"), F.col("o_orderkey")).alias("rel_from"),
        F.concat(F.lit("customer/"), F.col("o_custkey")).alias("rel_to"),
    )
    logs = customer.filter(F.col("c_acctbal") < 0).select(
        F.lit("log").alias("record_type"),
        F.concat(
            F.lit("negative balance for customer "), F.col("c_custkey")
        ).alias("error"),
    )
    wide = objects.unionByName(relations, allowMissingColumns=True).unionByName(
        logs, allowMissingColumns=True
    )
    return wide.select("record_type", "id", "name", "rel_from", "rel_to", "error")


# ---------------------------------------------------------------------------
# F2: degenerate-shape filter (outer ring < 4 coords drops the feature,
# building-inspector.js:138-140) -- expressed as an array-size gate.
# ---------------------------------------------------------------------------


@query(
    "f2_degenerate_filter",
    """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(str_split(text, ' ')) AS BIGINT) AS n_words
FROM documents
WHERE len(str_split(text, ' ')) >= 40
""",
)
def f2_degenerate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-size gate BEFORE any fan-out, like the reference dropping
    features whose outer ring has < 4 coords (building-inspector.js:
    138-140). Pushdown note: the size(split()) predicate can't reach the
    parquet scan, but column pruning does -- only `text`,`doc_id` read."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.col("text"), " "))
    return docs.filter(n_words >= 40).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        n_words.cast("long").alias("n_words"),
    )


# ---------------------------------------------------------------------------
# Aggregation surface (extension beyond reference parity -- SURVEY §2.7
# notes the reference has zero aggregations; the engine still exposes
# the full Spark agg surface).
# ---------------------------------------------------------------------------


@query(
    "agg_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)             AS sum_qty,
  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_base_cents,
  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS sum_disc_e4,
  CAST(count(*) AS BIGINT)                                    AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape with exact integer money domain: 2-decimal money
    -> cents BIGINT before summing, so the aggregate is order-free and
    engine-exact (map-side partial agg still applies)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
                ).cast("long")
            ).alias("sum_disc_e4"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "agg_count_distinct",
    """
SELECT l_returnflag,
  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
  CAST(count(DISTINCT l_partkey) AS BIGINT)  AS n_parts,
  CAST(count(*) AS BIGINT)                   AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n_rows"),
    )


@query(
    "agg_rollup",
    """
SELECT l_returnflag, l_linestatus,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# Window surface.
# ---------------------------------------------------------------------------


@query(
    "window_topk_per_group",
    """
SELECT CAST(o_custkey AS BIGINT) AS cust_key,
       CAST(o_orderkey AS BIGINT) AS order_key,
       o_totalprice AS total_price,
       CAST(rn AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
  ) AS rn FROM orders
) WHERE rn <= 3
""",
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("o_custkey").cast("long").alias("cust_key"),
            F.col("o_orderkey").cast("long").alias("order_key"),
            F.col("o_totalprice").alias("total_price"),
            F.col("rn").cast("long").alias("rank"),
        )
    )


@query(
    "window_running_sum",
    """
SELECT CAST(l_suppkey AS BIGINT) AS supp_key,
       CAST(l_orderkey AS BIGINT) AS order_key,
       CAST(l_linenumber AS BIGINT) AS line_number,
       CAST(sum(CAST(l_quantity AS BIGINT)) OVER (
         PARTITION BY l_suppkey
         ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS running_qty
FROM lineitem
""",
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # l_quantity is in the ORDER BY because the synthetic fixture's
    # (l_orderkey, l_linenumber) is NOT unique (261k duplicate pairs
    # at sf0.1) -- without it two rows can tie on every sort key while
    # differing in quantity, making the running prefix engine-order-
    # dependent (found by the round-7 sf0.1 oracle soak; invisible at
    # sf0.01, where no full tie occurs). With quantity in the order,
    # any remaining tie group has identical quantity, so every output
    # value is invariant under permutation within the tie.
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        F.col("l_suppkey").cast("long").alias("supp_key"),
        F.col("l_orderkey").cast("long").alias("order_key"),
        F.col("l_linenumber").cast("long").alias("line_number"),
        F.sum(F.col("l_quantity").cast("long")).over(w).alias("running_qty"),
    )


@query(
    "sort_global_topk",
    """
SELECT CAST(l_orderkey AS BIGINT) AS order_key,
       CAST(l_linenumber AS BIGINT) AS line_number,
       l_extendedprice AS price
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 100
""",
)
def sort_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark's sort+limit becomes TakeOrderedAndProject --
    a per-partition top-k then a k-row merge on the driver, no full
    sort of the data. This is the shape that survives 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(100)
        .select(
            F.col("l_orderkey").cast("long").alias("order_key"),
            F.col("l_linenumber").cast("long").alias("line_number"),
            F.col("l_extendedprice").alias("price"),
        )
    )


# ---------------------------------------------------------------------------
# Events: time-bucketed aggregation + sessionization (streaming-shaped
# analytics on the batch table; true readStream versions live in
# streaming/).
# ---------------------------------------------------------------------------


@query(
    "events_windowed_agg",
    """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def events_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "n_users",
            "sum_value",
        )
    )


@query(
    "events_sessionize",
    """
WITH gaps AS (
  SELECT user_id, ts, event_id,
    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
              - epoch_us(CAST(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP))
              > 1800000000
         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id,
    sum(new_session) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS session_id
  FROM gaps
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(max(session_id) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM sessions
GROUP BY user_id
""",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via lag + running sum -- the batch twin
    of session_window(ts, gap) in streaming/."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # full micro precision on BOTH engines (unix_micros <-> epoch_us):
    # cast(ts as long) truncates to whole seconds, which would classify
    # a 30:00.000..30:00.999 gap differently than the oracle (ADVICE r01)
    gaps = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                epoch_micros(F.col("ts")) - epoch_micros(F.lag("ts").over(w))
                > 30 * 60 * 1_000_000
            ),
            1,
        ).otherwise(0),
    )
    sessions = gaps.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return sessions.groupBy(F.col("user_id").cast("long").alias("user_id")).agg(
        F.max("session_id").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )
