"""Fourth surface batch: TPC-H-style correlated-subquery shapes
(EXISTS / NOT EXISTS / scalar-in-HAVING -- the Catalyst decorrelation
surface beyond queries_surface3's scalar + LATERAL), the deterministic
sampling suite (bottom-k reservoir, per-group caps, hash split), a
corpus n-gram frequency profile, and triangle counting over a
co-occurrence graph.

Portability discipline as everywhere else: money compared in integer
cents, ties broken by explicit id columns, md5-hash sampling identical
on both engines, no floating aggregates whose value depends on sum
order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.sampling import (
    bottom_k_sample,
    group_bottom_k,
    hash_split,
)
from ..sources.tables import load_table, register_views
from .registry import query


# ---------------------------------------------------------------------------
# TPC-H Q11 shape: scalar subquery in HAVING (uncorrelated). Integer
# cents on BOTH sides of the comparison (share threshold expressed as
# *25 instead of >0.04* so the predicate never touches a float).
# ---------------------------------------------------------------------------

_Q11_SQL = """
SELECT p.p_brand AS brand,
       CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
GROUP BY p.p_brand
HAVING sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) * 25 >
  (SELECT sum(CAST(round(l2.l_extendedprice * 100, 0) AS BIGINT))
   FROM lineitem l2)
"""


@query("sql_api_q11ish", _Q11_SQL)
def sql_api_q11ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brands holding >4% of total revenue -- Q11's "important stock"
    shape. Catalyst evaluates the uncorrelated scalar subquery once
    (one extra job) and folds it into the HAVING filter; the main agg
    is a single hash-partitioned shuffle on p_brand."""
    register_views(spark, sf_dir)
    return spark.sql(_Q11_SQL)


# ---------------------------------------------------------------------------
# TPC-H Q21 shape: EXISTS + NOT EXISTS, both correlated on the outer
# row's order AND comparing against the outer row's shipdate.
# Decorrelates into a left-semi and a left-anti join.
# ---------------------------------------------------------------------------

_Q21_SQL = """
SELECT s.s_name AS supp_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 50
"""


@query("sql_api_q21ish", _Q21_SQL)
def sql_api_q21ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who shipped the strictly-last line of multi-supplier
    finished orders (Q21's "kept the order waiting" shape, adapted to
    the fixture's shipdate column). Two correlated existentials over
    the same fact table; Catalyst turns them into semi/anti joins keyed
    on l_orderkey -- the same shuffle key as the main join, so AQE can
    coalesce the exchanges. Date comparisons are exact (no floats)."""
    register_views(spark, sf_dir)
    return spark.sql(_Q21_SQL)


# ---------------------------------------------------------------------------
# TPC-H Q22 shape: NOT EXISTS anti join + uncorrelated scalar
# subqueries. The above-average-balance predicate is integer-exact:
# bal_cents * count(positive) > sum(positive cents) avoids a float avg
# whose value could depend on accumulation order.
# ---------------------------------------------------------------------------

_Q22_SQL = """
WITH pos AS (
  SELECT CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(CAST(round(c.c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
         AS totbal_cents
FROM customer c
WHERE CAST(round(c.c_acctbal * 100, 0) AS BIGINT) * (SELECT count(*) FROM pos)
      > (SELECT sum(bal_cents) FROM pos)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderstatus = 'O')
GROUP BY c.c_mktsegment
"""


@query("sql_api_q22ish", _Q22_SQL)
def sql_api_q22ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Well-funded customers with no OPEN orders (Q22 without the
    phone prefixes the fixture lacks): CTE + two uncorrelated scalar
    subqueries + NOT EXISTS. The anti join broadcasts orders' custkey
    projection when small; at scale it degrades to a shuffled
    left-anti on o_custkey."""
    register_views(spark, sf_dir)
    return spark.sql(_Q22_SQL)


# ---------------------------------------------------------------------------
# Sampling suite (operators/sampling.py). All hash-deterministic,
# hence exactly oracle-checkable -- see the module docstring for the
# 100 TB argument per shape.
# ---------------------------------------------------------------------------


@query(
    "sample_bottomk",
    """
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(n_chars AS BIGINT) AS n_chars
FROM documents
ORDER BY md5('rsv:' || CAST(doc_id AS VARCHAR)), doc_id
LIMIT 100
""",
)
def sample_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-100 uniform document sample via bottom-k on a salted
    hash -- the deterministic reservoir. TakeOrderedAndProject: per-
    partition k-heaps, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return bottom_k_sample(docs, "doc_id", 100, salt="rsv").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
    )


@query(
    "sample_group_bottomk",
    """
SELECT doc_id, source, rn FROM (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY md5('grp:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS BIGINT) AS rn
  FROM documents) t
WHERE rn <= 10
""",
)
def sample_group_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cap: a uniform 10-document sample from every source
    (the per-domain cap of a web-corpus mix, made reproducible). One
    shuffle on source; rank exposed so downstream can take nested
    prefixes (rn<=5 is a uniform 5-sample of the same draw)."""
    docs = load_table(spark, sf_dir, "documents")
    return group_bottom_k(docs, "source", "doc_id", 10, salt="grp").select(
        F.col("doc_id").cast("long").alias("doc_id"), "source", "rn"
    )


@query(
    "split_train_valid_test",
    """
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
  CASE WHEN pct < 80 THEN 'train' WHEN pct < 90 THEN 'valid'
       ELSE 'test' END AS split
FROM (SELECT doc_id, source,
        CAST(concat('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) % 100 AS pct
      FROM documents) t
""",
)
def split_train_valid_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split assignment -- a pure projection
    (no shuffle, no RNG state) that survives resharding and engine
    swaps, unlike randomSplit whose assignment is partitioning-
    dependent."""
    docs = load_table(spark, sf_dir, "documents")
    return hash_split(docs, "doc_id", salt="split").select(
        F.col("doc_id").cast("long").alias("doc_id"), "source", "split"
    )


@query(
    "sample_reservoir_merge",
    """
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(n_chars AS BIGINT) AS n_chars
FROM documents
ORDER BY md5('rsvm:' || CAST(doc_id AS VARCHAR)), doc_id
LIMIT 50
""",
)
def sample_reservoir_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition reservoir + merge with a DETERMINISTIC priority
    (operators/sampling.py::reservoir_sample_deterministic): each task
    holds only its 50 smallest md5-priority rows (the O(k) reservoir
    invariant, enforced inside an Arrow kernel), then the partial
    reservoirs merge by global bottom-k on the same priority. The
    hash priority makes the result partitioning-independent, so the
    oracle is plain ORDER BY md5 LIMIT k -- while the Spark side
    exercises the real two-stage reservoir structure you need when
    TakeOrdered-through-the-driver is not an option (wide rows,
    sample feeding another distributed stage)."""
    from ..operators.sampling import reservoir_sample_deterministic

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return reservoir_sample_deterministic(docs, "doc_id", 50, salt="rsvm").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# Corpus n-gram profile: top word-trigrams (boilerplate detection /
# contamination analysis input). Narrow explode + one agg shuffle;
# rank-20 boundary ties broken by the gram string itself.
# ---------------------------------------------------------------------------


@query(
    "text_ngram_topk",
    """
SELECT gram, CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT unnest(list_transform(range(1, len(w) - 1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
  FROM (SELECT string_split(text, ' ') AS w FROM documents) s
  WHERE len(w) >= 3
) g
GROUP BY gram ORDER BY n DESC, gram LIMIT 20
""",
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word trigrams across the corpus. The trigram array is
    built with a HOF over the split -- no UDF, fully codegen'd -- then
    exploded into one partial-aggregated count (map-side combine makes
    the shuffle carry distinct grams per partition, not rows)."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    tri = F.when(
        F.size(w) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(w, i),
                F.element_at(w, i + 1),
                F.element_at(w, i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(tri).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("gram").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Triangle counting over the part co-purchase graph (parts appearing
# in the same order). The oracle counts id-ordered closed wedges; the
# Spark operator uses degree orientation (operators/graph.py) -- same
# count, O(m^1.5) bound instead of sum(deg^2).
# ---------------------------------------------------------------------------

# The body of the co-purchase edge CTE that every oracle over this
# graph starts from: one undirected edge (u < v) per pair of distinct
# parts bought in the same order.
COPURCHASE_EDGES_SQL = """  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                  greatest(a.l_partkey, b.l_partkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey"""


@query(
    "graph_triangle_count",
    f"""
WITH e AS (
{COPURCHASE_EDGES_SQL}
)
SELECT CAST(count(*) AS BIGINT) AS n_triangles
FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the co-purchase graph -- the clustering-coefficient
    numerator used to characterize near-dup graphs before choosing a
    clustering strategy (dense pockets favor CC, sparse favor pair
    review)."""
    from ..operators.graph import triangle_count

    return triangle_count(_co_order_edges(spark, sf_dir), "u", "v")


def _co_order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v) for every ordered pair of distinct parts on one order
    (duplicates kept; the graph operators canonicalize)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("u") != F.col("v"))
        .select("u", "v")
    )


# ---------------------------------------------------------------------------
# Importance (weighted Bernoulli) sampling: per-row keep probability
# proportional to document length, decided by the same u32 hash as the
# uniform samplers. The comparison is cross-multiplied into pure
# integer arithmetic (u32 * 600 < n_chars * 2^32) so both engines
# evaluate it exactly.
# ---------------------------------------------------------------------------


@query(
    "sample_weighted",
    """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_chars AS BIGINT) AS n_chars
FROM documents
WHERE CAST(concat('0x', substr(md5('wsam:' || CAST(doc_id AS VARCHAR)),
                               1, 8)) AS BIGINT) * 600
      < CAST(n_chars AS BIGINT) * 4294967296
""",
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-proportional importance sampling (keep probability
    n_chars/600, capped at 1 implicitly since n_chars <= 553 here) --
    the quality-weighted downsampling step of a curation mix, made
    hash-deterministic so the draw is reproducible and oracle-exact.
    Narrow filter: no shuffle, no RNG state."""
    from ..operators.sampling import sample_hash_u32

    docs = load_table(spark, sf_dir, "documents")
    keep = sample_hash_u32("doc_id", "wsam") * 600 < F.col("n_chars").cast(
        "long"
    ) * F.lit(4294967296).cast("long")
    return docs.filter(keep).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# Token-budget fill: per source, admit documents in quality order until
# the source's token budget is spent. One running-sum window per
# source; integer token estimates so the cut is exact.
# ---------------------------------------------------------------------------

_BUDGET_SQL = """
SELECT doc_id, source, est_tokens, cum_tokens
FROM (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         CAST((n_chars + 3) // 4 AS BIGINT) AS est_tokens,
         CAST(sum((n_chars + 3) // 4) OVER (
           PARTITION BY source
           ORDER BY n_chars DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_tokens
  FROM documents) t
WHERE cum_tokens <= 1500
"""


@query("budget_fill_by_quality", _BUDGET_SQL)
def budget_fill_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill a 1500-token budget per source, admitting longer (proxy:
    higher-quality) documents first. The running sum is a single
    window over (source) -- one hash shuffle; each group sorts only
    its own rows. At 100 TB the per-source sort is the cost -- bounded
    by the largest source, and AQE splits skewed sources' sort spills,
    not the whole corpus."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    est = ((F.col("n_chars").cast("long") + 3) / 4).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        est.alias("est_tokens"),
        F.sum(est).over(w).cast("long").alias("cum_tokens"),
    )
    return staged.filter(F.col("cum_tokens") <= 1500)


# ---------------------------------------------------------------------------
# Width-bucket histogram of order values: integer cents // width. The
# aggregation-side twin of window_distribution's rank view.
# ---------------------------------------------------------------------------


@query(
    "agg_histogram",
    """
SELECT bucket,
       CAST(bucket * 500 AS BIGINT) AS lo_dollars,
       CAST((bucket + 1) * 500 AS BIGINT) AS hi_dollars,
       CAST(count(*) AS BIGINT) AS n
FROM (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) // 50000 AS bucket
      FROM orders) t
GROUP BY bucket
ORDER BY bucket
""",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram ($500 buckets) of order totals -- the
    profiling primitive behind length/quality distribution reports.
    Integer cents then integer division: exact on both engines; one
    partial-aggregated shuffle on the bucket id."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.floor(
        F.round(F.col("o_totalprice") * 100, 0).cast("long") / 50000
    ).cast("long")
    return (
        o.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n"))
        .select(
            "bucket",
            (F.col("bucket") * 500).cast("long").alias("lo_dollars"),
            ((F.col("bucket") + 1) * 500).cast("long").alias("hi_dollars"),
            "n",
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Integer-arithmetic PageRank over the symmetrized co-purchase graph.
# Fixed-point bigint ranks make the ITERATIVE algorithm exactly
# oracle-checkable: integer adds are associative, so partitioning and
# summation order cannot perturb the result. The DuckDB twin unrolls
# the same four iterations as chained CTEs (recursive CTEs disallow
# aggregation in the recursive term).
# ---------------------------------------------------------------------------

_PR_SCALE = 10**12
_PR_ITER = 4


def _pagerank_sql() -> str:
    r0 = f"({_PR_SCALE} // (SELECT count(*) FROM nodes))"
    parts = [
        f"""
WITH e0 AS (
{COPURCHASE_EDGES_SQL}
),
e AS (SELECT u AS s, v AS d FROM e0 UNION ALL SELECT v AS s, u AS d FROM e0),
nodes AS (SELECT DISTINCT s AS node FROM e),
outdeg AS (SELECT s, count(*) AS od FROM e GROUP BY s),
pr0 AS (SELECT node, {r0} AS r FROM nodes)"""
    ]
    for k in range(1, _PR_ITER + 1):
        parts.append(
            f""",
pr{k} AS (
  SELECT n.node,
         CAST((15 * {r0}) // 100 + COALESCE(c.csum, 0) AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.d AS node, sum((85 * p.r) // (100 * o.od)) AS csum
    FROM e JOIN pr{k - 1} p ON e.s = p.node JOIN outdeg o ON o.s = e.s
    GROUP BY e.d) c ON n.node = c.node)"""
        )
    parts.append(
        f"""
SELECT CAST(node AS BIGINT) AS node, CAST(r AS BIGINT) AS rank_scaled
FROM pr{_PR_ITER}"""
    )
    return "".join(parts)


def _copurchase_sym_edges(
    spark: SparkSession, sf_dir: str, materialize: bool = False
) -> DataFrame:
    """Symmetrized co-purchase edges. ``materialize=True`` cuts the
    edge list to an eager localCheckpoint for ITERATIVE consumers:
    each unrolled round (pagerank/LPA/k-core/wedge join) otherwise
    re-runs the lineitem self-join+distinct per reference. Measured at
    sf0.1 on k-core: 16.3s -> 6.0s warm. A tracked persist() was
    measured WORSE than recompute here (InMemoryRelation scan broke
    shuffle reuse and added eviction churn) -- the materialized-RDD
    route is the one that pays off. Blocks are freed by
    release_persisted() like every operator-internal cache."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    e0 = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    sym = e0.select(F.col("u").alias("s"), F.col("v").alias("d")).unionByName(
        e0.select(F.col("v").alias("s"), F.col("u").alias("d"))
    )
    if materialize:
        from ..operators._cache import track_local_checkpoint

        return track_local_checkpoint(sym)
    return sym


@query("graph_pagerank", _pagerank_sql())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four fixed-point PageRank iterations over part co-purchases --
    the relevance prior of a near-dup/citation graph. See
    operators/graph.pagerank_integer for the determinism and shuffle
    story."""
    from ..operators.graph import pagerank_integer

    e = _copurchase_sym_edges(spark, sf_dir, materialize=True)
    out = pagerank_integer(e, "s", "d", iterations=_PR_ITER, scale=_PR_SCALE)
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.col("r").cast("long").alias("rank_scaled"),
    )


@query(
    "graph_degree_distribution",
    f"""
WITH e0 AS (
{COPURCHASE_EDGES_SQL}
),
e AS (SELECT u AS s FROM e0 UNION ALL SELECT v AS s FROM e0)
SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
FROM (SELECT s, CAST(count(*) AS BIGINT) AS degree FROM e GROUP BY s) t
GROUP BY degree ORDER BY degree
""",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-purchase graph -- the profile that
    decides hot-key caps and skew strategy before running pair
    generation (a power-law tail here predicts LSH bucket blowups).
    Two partial-aggregated shuffles, both on small keys."""
    e = _copurchase_sym_edges(spark, sf_dir)
    deg = e.groupBy("s").agg(F.count("*").cast("long").alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count("*").cast("long").alias("n_nodes"))
        .orderBy("degree")
    )


# ---------------------------------------------------------------------------
# Label propagation (community detection): synchronous rounds with a
# DETERMINISTIC update -- adopt the most frequent neighbor label,
# ties broken by smallest label. Unrolled rounds (like the PageRank
# twin) make the iterative algorithm exactly oracle-checkable.
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 2


def _lpa_sql() -> str:
    parts = [
        f"""
WITH e0 AS (
{COPURCHASE_EDGES_SQL}
),
e AS (SELECT u AS s, v AS d FROM e0 UNION ALL SELECT v AS s, u AS d FROM e0),
nodes AS (SELECT DISTINCT s AS node FROM e),
lp0 AS (SELECT node, node AS lab FROM nodes)"""
    ]
    for k in range(1, _LPA_ROUNDS + 1):
        parts.append(
            f""",
lp{k} AS (
  SELECT n.node, COALESCE(c.best, p.lab) AS lab
  FROM nodes n
  JOIN lp{k - 1} p ON p.node = n.node
  LEFT JOIN (
    SELECT node, lab AS best FROM (
      SELECT e.d AS node, q.lab, count(*) AS cnt,
             row_number() OVER (PARTITION BY e.d
                                ORDER BY count(*) DESC, q.lab) AS rn
      FROM e JOIN lp{k - 1} q ON e.s = q.node
      GROUP BY e.d, q.lab) t
    WHERE rn = 1) c ON c.node = n.node)"""
        )
    parts.append(
        f"""
SELECT CAST(node AS BIGINT) AS node, CAST(lab AS BIGINT) AS community
FROM lp{_LPA_ROUNDS}"""
    )
    return "".join(parts)


@query("graph_label_propagation", _lpa_sql())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    co-purchase graph -- {rounds} unrolled rounds, each adopting the
    most frequent neighbor label (smallest label on ties, so the
    normally run-order-dependent LPA is fully deterministic and
    value-oracled).

    100 TB shape per round: edges join labels (shuffle on src), count
    by (dst, label) with map-side combine, then an argmax window
    PARTITIONED BY dst whose width is the node's DISTINCT-neighbor-
    label count (bounded by degree, shrinking as labels coalesce) --
    never a global sort. Same iterative discipline as
    pagerank_integer/connected_components (operators/graph.py)."""
    e = _copurchase_sym_edges(spark, sf_dir, materialize=True)
    nodes = e.select(F.col("s").alias("node")).distinct()
    labels = nodes.withColumn("lab", F.col("node"))
    for _ in range(_LPA_ROUNDS):
        freq = (
            e.join(labels, e.s == labels.node)
            .groupBy(F.col("d").alias("nd"), "lab")
            .agg(F.count("*").alias("cnt"))
        )
        w = Window.partitionBy("nd").orderBy(F.desc("cnt"), F.asc("lab"))
        best = (
            freq.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("nd"), F.col("lab").alias("best"))
        )
        labels = (
            labels.join(best, labels.node == best.nd, "left")
            .select(
                "node",
                F.coalesce(F.col("best"), F.col("lab")).alias("lab"),
            )
        )
    return labels.select(
        F.col("node").cast("long").alias("node"),
        F.col("lab").cast("long").alias("community"),
    )


# ---------------------------------------------------------------------------
# k-core peeling: iteratively drop nodes with degree < k. Unrolled
# peel rounds (deterministic prefix of the fixpoint -- the fixture
# converges within them; at scale you iterate with the same
# count-and-stop discipline as connected_components).
# ---------------------------------------------------------------------------

_KCORE_K = 60
_KCORE_ROUNDS = 3


def _kcore_sql() -> str:
    parts = [
        f"""
WITH e0 AS (
{COPURCHASE_EDGES_SQL}
),
edges0 AS (SELECT u AS s, v AS d FROM e0 UNION ALL SELECT v AS s, u AS d FROM e0)"""
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f""",
keep{r} AS (
  SELECT s AS node FROM edges{r - 1} GROUP BY s HAVING count(*) >= {_KCORE_K}),
edges{r} AS (
  SELECT e.s, e.d FROM edges{r - 1} e
  JOIN keep{r} a ON e.s = a.node
  JOIN keep{r} b ON e.d = b.node)"""
        )
    parts.append(
        f"""
SELECT CAST(s AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS core_degree
FROM edges{_KCORE_ROUNDS} GROUP BY s"""
    )
    return "".join(parts)


@query("graph_kcore", _kcore_sql())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-core of the co-purchase graph by iterative peeling: each
    round drops nodes with degree < k and every edge touching them
    (a dropped node can push its neighbors under k, hence the
    iteration). Surviving nodes report their within-core degree.

    100 TB shape per round: one map-side-combinable degree aggregate
    + two semi-join filters on the edge list -- no windows, no
    all-pairs anything. Unrolled rounds keep the oracle exact; the
    production loop adds the changed-count early stop used by
    connected_components (operators/graph.py)."""
    e = _copurchase_sym_edges(spark, sf_dir, materialize=True)
    for _ in range(_KCORE_ROUNDS):
        keep = (
            e.groupBy("s")
            .agg(F.count("*").alias("deg"))
            .where(F.col("deg") >= _KCORE_K)
            .select(F.col("s").alias("node"))
        )
        e = e.join(
            keep.select(F.col("node").alias("ks")), e.s == F.col("ks"), "left_semi"
        ).join(
            keep.select(F.col("node").alias("kd")), e.d == F.col("kd"), "left_semi"
        )
    return e.groupBy("s").agg(F.count("*").alias("core_degree")).select(
        F.col("s").cast("long").alias("node"),
        F.col("core_degree").cast("long").alias("core_degree"),
    )


# ---------------------------------------------------------------------------
# Link prediction: top-k NON-neighbor candidates per node by
# common-neighbor count, hub middles capped (the wedge join through a
# hub is the quadratic hazard -- same discipline as the jaccard
# document-frequency cap).
# ---------------------------------------------------------------------------

_CN_TOPK = 5
_CN_HUB_CAP = 100


def _common_neighbors_sql() -> str:
    return f"""
WITH e0 AS (
{COPURCHASE_EDGES_SQL}
),
e AS (SELECT u AS s, v AS d FROM e0 UNION ALL SELECT v AS s, u AS d FROM e0),
mid AS (SELECT s AS m FROM e GROUP BY s HAVING count(*) <= {_CN_HUB_CAP}),
eca AS (SELECT e.s, e.d FROM e JOIN mid ON e.d = mid.m),
ecb AS (SELECT e.s, e.d FROM e JOIN mid ON e.s = mid.m),
wedge AS (
  SELECT a.s AS u, b.d AS v
  FROM eca a JOIN ecb b ON a.d = b.s AND a.s < b.d),
cn AS (SELECT u, v, CAST(count(*) AS BIGINT) AS common FROM wedge GROUP BY u, v),
cand AS (
  SELECT cn.* FROM cn
  LEFT JOIN e0 ON cn.u = e0.u AND cn.v = e0.v
  WHERE e0.u IS NULL)
SELECT CAST(u AS BIGINT) AS node, CAST(v AS BIGINT) AS candidate, common,
       CAST(row_number() OVER (PARTITION BY u ORDER BY common DESC, v) AS BIGINT) AS rk
FROM cand
QUALIFY rk <= {_CN_TOPK}
"""


def _link_candidates(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Each node's degree in the symmetric co-purchase edges as (s,
    deg), and every non-adjacent pair u < v with its common-neighbor
    count through middles of degree <= _CN_HUB_CAP as (u, v, common).
    Only middles are capped: the a-side keeps edges whose DEST (the
    middle) is low-degree, the b-side edges whose SOURCE is, so hub
    endpoints u/v stay eligible."""
    e = _copurchase_sym_edges(spark, sf_dir, materialize=True)
    deg = e.groupBy("s").agg(F.count("*").alias("deg"))
    mid = deg.where(F.col("deg") <= _CN_HUB_CAP).select(F.col("s").alias("m"))
    eca = e.join(mid, e.d == F.col("m"), "left_semi")
    ecb = e.join(mid, e.s == F.col("m"), "left_semi")
    a = eca.select(F.col("s").alias("u"), F.col("d").alias("mm"))
    b = ecb.select(F.col("s").alias("mm2"), F.col("d").alias("v"))
    wedge = a.join(b, (a.mm == b.mm2) & (a.u < b.v))
    cn = wedge.groupBy("u", "v").agg(F.count("*").alias("common"))
    e0 = (
        e.where(F.col("s") < F.col("d"))
        .select(F.col("s").alias("eu"), F.col("d").alias("ev"))
        .distinct()
    )
    return deg, cn.join(e0, (cn.u == e0.eu) & (cn.v == e0.ev), "left_anti")


@query("graph_common_neighbors_topk", _common_neighbors_sql())
def graph_common_neighbors_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} link-prediction candidates per node: rank NON-adjacent
    pairs (u < v) by common-neighbor count. The wedge join runs only
    through middles with degree <= {cap}: a hub of degree d produces
    d^2/2 wedges, so capping the MIDDLE bounds the join output at
    cap * |edges| -- linear in the graph, and dropping hub-mediated
    wedges is also the right semantics (everyone shares the hub;
    it predicts nothing). Only middles are capped (_link_candidates);
    the oracle applies the identical rule."""
    _, cand = _link_candidates(spark, sf_dir)
    w = Window.partitionBy("u").orderBy(F.desc("common"), F.asc("v"))
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _CN_TOPK)
        .select(
            F.col("u").cast("long").alias("node"),
            F.col("v").cast("long").alias("candidate"),
            F.col("common").cast("long").alias("common"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# Neighbor-Jaccard link prediction: the NORMALIZED companion of
# graph_common_neighbors_topk -- |N(u) n N(v)| / |N(u) u N(v)| for
# non-adjacent pairs, so low-degree pairs with high overlap outrank
# hubs that share a few neighbors incidentally. Same capped-middle
# wedge join for the intersection; degrees come from the full edge
# list (one map-combinable count).
# ---------------------------------------------------------------------------


def _neighbor_jaccard_sql() -> str:
    return f"""
WITH e0 AS (
{COPURCHASE_EDGES_SQL}
),
e AS (SELECT u AS s, v AS d FROM e0 UNION ALL SELECT v AS s, u AS d FROM e0),
deg AS (SELECT s AS node, count(*) AS deg FROM e GROUP BY s),
mid AS (SELECT s AS m FROM e GROUP BY s HAVING count(*) <= {_CN_HUB_CAP}),
eca AS (SELECT e.s, e.d FROM e JOIN mid ON e.d = mid.m),
ecb AS (SELECT e.s, e.d FROM e JOIN mid ON e.s = mid.m),
wedge AS (
  SELECT a.s AS u, b.d AS v
  FROM eca a JOIN ecb b ON a.d = b.s AND a.s < b.d),
cn AS (SELECT u, v, CAST(count(*) AS BIGINT) AS common FROM wedge GROUP BY u, v),
cand AS (
  SELECT cn.* FROM cn
  LEFT JOIN e0 ON cn.u = e0.u AND cn.v = e0.v
  WHERE e0.u IS NULL),
scored AS (
  SELECT cand.u, cand.v, cand.common,
         du.deg AS deg_u, dv.deg AS deg_v,
         CAST(cand.common AS DOUBLE) / (du.deg + dv.deg - cand.common) AS jaccard
  FROM cand JOIN deg du ON cand.u = du.node JOIN deg dv ON cand.v = dv.node)
SELECT CAST(u AS BIGINT) AS node, CAST(v AS BIGINT) AS candidate,
       common, CAST(deg_u AS BIGINT) AS deg_u, CAST(deg_v AS BIGINT) AS deg_v,
       jaccard,
       CAST(row_number() OVER (PARTITION BY u ORDER BY jaccard DESC, v) AS BIGINT) AS rk
FROM scored
QUALIFY rk <= {_CN_TOPK}
"""


@query("graph_neighbor_jaccard_topk", _neighbor_jaccard_sql())
def graph_neighbor_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} link candidates per node by neighbor JACCARD (not raw
    common-neighbor count): intersection from the capped-middle wedge
    join (a hub middle's wedges are dropped -- consistently excluded
    from the intersection in both engines), union from full degrees
    (deg_u + deg_v - common). The score is ONE division of
    bit-identical integers, so it is IEEE-identical across engines
    and safe to rank and hash on; ties break on candidate id. Same
    join/agg scale shape as graph_common_neighbors_topk plus two
    degree joins on the pair table."""
    deg, cand = _link_candidates(spark, sf_dir)
    du = deg.select(F.col("s").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("s").alias("v"), F.col("deg").alias("deg_v"))
    scored = (
        cand.join(du, "u")
        .join(dv, "v")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("deg_u") + F.col("deg_v") - F.col("common")),
        )
    )
    w = Window.partitionBy("u").orderBy(F.desc("jaccard"), F.asc("v"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _CN_TOPK)
        .select(
            F.col("u").cast("long").alias("node"),
            F.col("v").cast("long").alias("candidate"),
            F.col("common").cast("long").alias("common"),
            F.col("deg_u").cast("long").alias("deg_u"),
            F.col("deg_v").cast("long").alias("deg_v"),
            "jaccard",
            F.col("rk").cast("long").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# Degree assortativity of the co-purchase graph: Pearson correlation
# of endpoint degrees over directed (symmetrized) edges. All five
# sums are exact BIGINTs (degrees are bounded by co-order fanout, so
# n*sxx stays far under 2^63); the final expression (two sqrt, one
# division) is IEEE-identical across engines given identical integer
# inputs -- sqrt is correctly rounded per IEEE-754.
# ---------------------------------------------------------------------------

_ASSORT_SQL = f"""
WITH e0 AS (
{COPURCHASE_EDGES_SQL}
),
e AS (SELECT u AS s, v AS d FROM e0 UNION ALL SELECT v AS s, u AS d FROM e0),
deg AS (SELECT s AS node, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY s),
j AS (
  SELECT ds.deg AS x, dd.deg AS y
  FROM e JOIN deg ds ON e.s = ds.node JOIN deg dd ON e.d = dd.node),
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM j)
SELECT n, sx, sxy, sxx,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
            * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS assortativity
FROM sums
"""


@query("graph_degree_assortativity", _ASSORT_SQL)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-assortativity coefficient (do hubs link to hubs?) over
    the co-purchase graph: two broadcast-degree joins onto the edge
    list, five exact BIGINT sums, one final float expression. The
    degree table is node-sized (broadcastable); the edge scan is one
    pass -- nothing quadratic anywhere."""
    e = _copurchase_sym_edges(spark, sf_dir, materialize=True)
    deg = e.groupBy(F.col("s").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    )
    ds = deg.select(F.col("node").alias("s"), F.col("deg").alias("x"))
    dd = deg.select(F.col("node").alias("d"), F.col("deg").alias("y"))
    j = e.join(F.broadcast(ds), "s").join(F.broadcast(dd), "d")
    sums = j.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
    deny = F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return sums.select(
        "n", "sx", "sxy", "sxx", (num / (denx * deny)).alias("assortativity")
    )
