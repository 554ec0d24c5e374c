"""Fourth LLM-pipeline batch: corpus n-gram novelty scoring (the
dedup-adjacent "how much of this doc is first-seen" signal used for
curriculum ordering / boilerplate triage) and weighted bounded
shortest paths over the near-dup pair graph (contamination blast
radius with edge costs, the weighted twin of graph_bfs_hops).

Both reuse the shared normalized-tokenization / LSH-pair CTEs from
queries_llm so Spark and DuckDB tokenize bit-identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import shingles
from ..operators._parallel import fan_out_scan
from ..operators.dedup import minhash_lsh_pairs
from .queries_llm import (
    _DOCS_WITH_DUPS_SQL,
    _docs_with_dups,
    _minhash_lsh_sql,
    _shingles_sql,
    _TOKS,
    MINHASH_BUCKET_CAP,
)
from .registry import query


# ---------------------------------------------------------------------------
# N-gram novelty: for each document, how many of its distinct shingles
# are FIRST seen in it (i.e. no lower-doc_id document contains them)?
# Corpus-curation uses this to rank documents by marginal information.
# Plan: distinct (doc, shingle) pairs -> min(doc_id) per shingle (one
# hash agg, map-side combine) -> join back on shingle -> count novel
# vs total per doc. Two shuffles, both on bounded-width keys; no
# self-join, so no hot-shingle quadratic blowup (the min-agg collapses
# a w-document shingle to ONE row before the join back).
# ---------------------------------------------------------------------------

NOVELTY_N = 3


_NOVELTY_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct({_shingles_sql("toks", NOVELTY_N)})) AS g
  FROM t
),
first_seen AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g)
SELECT CAST(sh.doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel
FROM sh JOIN first_seen f ON sh.g = f.g
GROUP BY sh.doc_id
"""


@query("text_ngram_novelty", _NOVELTY_SQL)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    docs = fan_out_scan(load_table(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(shingles("text", NOVELTY_N))).alias("g"),
    ).where(F.col("g").isNotNull())
    first_seen = sh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted bounded shortest paths over the MinHash-LSH near-dup graph.
# Edge weight is a deterministic small integer derived from the pair
# ids (stand-in for a real dissimilarity cost); seeds are the same
# doc_id % 50 == 0 set as graph_bfs_hops. Bellman-Ford frontier delta
# iteration (operators/graph.sssp_bounded): per round only IMPROVED
# nodes join the edges. The oracle replays all <=3-edge walks as a
# bounded recursive CTE and takes min(total weight) -- exponential in
# the bound but exact, fine at fixture scale; the Spark side is the
# one that scales (relaxation keeps one row per node, not per path).
# ---------------------------------------------------------------------------

SSSP_SEED_MOD = 50
SSSP_MAX_HOPS = 3


def _sssp_sql() -> str:
    pairs = _minhash_lsh_sql().strip()
    return f"""
WITH RECURSIVE {_DOCS_WITH_DUPS_SQL.strip()},
pairs AS (
{pairs}
),
wedges AS (
  SELECT id_a, id_b, 1 + (id_a + id_b) % 5 AS w FROM pairs
),
sym AS (
  SELECT id_a AS s, id_b AS d, w FROM wedges
  UNION ALL
  SELECT id_b AS s, id_a AS d, w FROM wedges
),
seeds AS (SELECT DISTINCT doc_id AS node FROM docs
          WHERE doc_id % {SSSP_SEED_MOD} = 0),
walk AS (
  SELECT node, CAST(0 AS BIGINT) AS dist, 0 AS hops FROM seeds
  UNION ALL
  SELECT sym.d AS node, walk.dist + sym.w AS dist, walk.hops + 1 AS hops
  FROM walk JOIN sym ON sym.s = walk.node
  WHERE walk.hops < {SSSP_MAX_HOPS}
)
SELECT CAST(node AS BIGINT) AS doc_id, CAST(min(dist) AS BIGINT) AS dist
FROM walk GROUP BY node
"""


@query("graph_sssp_bounded", _sssp_sql())
def graph_sssp_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import sssp_bounded

    docs = _docs_with_dups(spark, sf_dir)
    # cap matches the oracle's _minhash_lsh_sql() default (see the
    # r8 note at the queries_llm2.py call sites)
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", max_bucket_width=MINHASH_BUCKET_CAP
    ).select("id_a", "id_b")
    wedges = pairs.withColumn(
        "w", 1 + (F.col("id_a") + F.col("id_b")) % 5
    )
    seeds = docs.filter(F.col("doc_id") % SSSP_SEED_MOD == 0).select("doc_id")
    out = sssp_bounded(wedges, seeds, max_hops=SSSP_MAX_HOPS)
    return out.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("dist").cast("long").alias("dist"),
    )


# ---------------------------------------------------------------------------
# Distributed vector aggregation: per-label embedding centroids -- the
# inner loop of KMeans / class-prototype computation. posexplode to
# (label, dim, value-in-milli-units) then one hash agg on
# (label, dim): map-side partial sums do the heavy lifting, the
# shuffle carries |labels| * dim rows regardless of corpus size.
# Values are scaled to integer milli-units BEFORE summing so the sum
# is order-independent and engine-portable (float += is neither).
# ---------------------------------------------------------------------------

_CENTROID_SQL = """
WITH ex AS (
  SELECT label, generate_subscripts(embedding, 1) AS dim,
         unnest(list_transform(embedding, x ->
           CAST(sign(CAST(x AS DOUBLE))
                * floor(abs(CAST(x AS DOUBLE)) * 1000) AS BIGINT))) AS milli
  FROM embeddings
)
SELECT CAST(label AS INT) AS label, CAST(dim AS INT) AS dim,
       CAST(sum(milli) AS BIGINT) AS sum_milli,
       CAST(count(*) AS BIGINT) AS n
FROM ex GROUP BY label, dim
"""


def _milli(vec: str) -> Column:
    """The array column `vec` in integer milli-units, truncated toward
    zero. Spelled sign*floor(abs): Spark's cast truncates toward zero,
    DuckDB's CAST rounds -- this form is identical on both."""
    return F.transform(
        vec,
        lambda x: (
            F.signum(x.cast("double"))
            * F.floor(F.abs(x.cast("double")) * 1000)
        ).cast("long"),
    )


def _dim_sums(rows: DataFrame, key: str, vec: Column) -> DataFrame:
    """Per (key, dim) sum and count of the milli vectors `vec` of
    `rows`, dims 1-based: posexplode, then one hash agg whose
    map-side partial sums keep the shuffle at |keys| * dim rows."""
    ex = rows.select(key, F.posexplode(vec).alias("dim0", "milli")).select(
        key, (F.col("dim0") + 1).alias("dim"), "milli"
    )
    return ex.groupBy(
        F.col(key).cast("int").alias(key),
        F.col("dim").cast("int").alias("dim"),
    ).agg(
        F.sum("milli").alias("sum_milli"),
        F.count("*").alias("n"),
    )


@query("emb_label_centroids", _CENTROID_SQL)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return _dim_sums(emb, "label", _milli("embedding"))


# ---------------------------------------------------------------------------
# Nearest-prototype assignment (the classify half of a Lloyd/KMeans
# round, and the label-propagation primitive for weakly-supervised
# corpus tagging): each label's prototype is its min-vec_id member
# (deterministic representative), every vector is assigned to the
# nearest prototype by exact integer milli-distance. Prototypes are a
# 10-row broadcast; the distance is a zip_with fold kept entirely in
# codegen -- the scan side streams, nothing shuffles but the tiny
# prototype table. Integer math end-to-end: |milli| <= ~2000, squared
# * 64 dims ~ 2.6e8, far inside int64 -- exact argmin on both engines
# (a double-valued distance could flip argmin on ties).
# ---------------------------------------------------------------------------

_PROTO_SQL = """
WITH m AS (
  SELECT vec_id, label,
         list_transform(embedding, x ->
           CAST(sign(CAST(x AS DOUBLE))
                * floor(abs(CAST(x AS DOUBLE)) * 1000) AS BIGINT)) AS mv
  FROM embeddings
),
proto_ids AS (SELECT label, min(vec_id) AS pid FROM m GROUP BY label),
protos AS (
  SELECT m.label AS p_label, m.mv AS pv FROM m
  JOIN proto_ids p ON m.vec_id = p.pid
),
dists AS (
  SELECT m.vec_id, p.p_label,
         list_sum(list_transform(range(1, len(m.mv) + 1),
           i -> (m.mv[i] - p.pv[i]) * (m.mv[i] - p.pv[i]))) AS d2
  FROM m CROSS JOIN protos p
)
SELECT vec_id, CAST(assigned AS INT) AS assigned_label,
       CAST(best_d2 AS BIGINT) AS dist2_milli
FROM (
  SELECT vec_id, p_label AS assigned, d2 AS best_d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, p_label) AS rk
  FROM dists
) WHERE rk = 1
"""


def _nearest_prototype(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The embeddings as m (vec_id, label, mv = milli vector), and each
    vector's nearest prototype as (vec_id, b = struct(d2, p_label)):
    the prototype of a label is its min-vec_id member, d2 the integer
    squared milli-distance, ties broken on the lower label."""
    from ..sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    m = emb.select("vec_id", "label", _milli("embedding").alias("mv"))
    # keep ONLY pid in the prototype-id set: carrying `label` through
    # would make it ambiguous when joined back against m (same lineage)
    proto_ids = (
        m.groupBy("label").agg(F.min("vec_id").alias("pid")).select("pid")
    )
    protos = (
        m.join(proto_ids, m["vec_id"] == proto_ids["pid"])
        .select(F.col("label").alias("p_label"), F.col("mv").alias("pv"))
    )
    d2 = F.aggregate(
        F.zip_with("mv", "pv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    dists = m.crossJoin(F.broadcast(protos)).select(
        "vec_id", "p_label", d2.alias("d2")
    )
    # per-vector argmin WITHOUT a window over the full fanout: min on
    # a (d2, label) struct is one hash agg with map-side combine and
    # encodes the deterministic (dist, label) tiebreak in the ordering
    best = dists.groupBy("vec_id").agg(
        F.min(F.struct(F.col("d2"), F.col("p_label"))).alias("b")
    )
    return m, best


@query("emb_assign_nearest_prototype", _PROTO_SQL)
def emb_assign_nearest_prototype(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, best = _nearest_prototype(spark, sf_dir)
    return best.select(
        "vec_id",
        F.col("b.p_label").cast("int").alias("assigned_label"),
        F.col("b.d2").alias("dist2_milli"),
    )


# ---------------------------------------------------------------------------
# One full Lloyd round: assign every vector to its nearest prototype
# (the broadcast argmin above), then RE-AGGREGATE per-cluster vector
# sums -- the complete iterate of distributed KMeans, exact in
# integer milli-units. Plan: broadcast join (no corpus shuffle) ->
# posexplode -> one hash agg on (cluster, dim). Iterating = looping
# this query with the new centroid sums fed back as prototypes; each
# round is the same two-exchange plan regardless of corpus size.
# ---------------------------------------------------------------------------

_LLOYD_SQL = """
WITH m AS (
  SELECT vec_id, label,
         list_transform(embedding, x ->
           CAST(sign(CAST(x AS DOUBLE))
                * floor(abs(CAST(x AS DOUBLE)) * 1000) AS BIGINT)) AS mv
  FROM embeddings
),
proto_ids AS (SELECT min(vec_id) AS pid FROM m GROUP BY label),
protos AS (
  SELECT m.label AS p_label, m.mv AS pv FROM m
  JOIN proto_ids p ON m.vec_id = p.pid
),
assign AS (
  SELECT vec_id, p_label, row_number() OVER (
           PARTITION BY vec_id
           ORDER BY list_sum(list_transform(range(1, len(m.mv) + 1),
                     i -> (m.mv[i] - p.pv[i]) * (m.mv[i] - p.pv[i]))),
                    p_label) AS rk
  FROM m CROSS JOIN protos p
),
ex AS (
  SELECT a.p_label AS cluster, generate_subscripts(m.mv, 1) AS dim,
         unnest(m.mv) AS milli
  FROM m JOIN assign a ON m.vec_id = a.vec_id AND a.rk = 1
)
SELECT CAST(cluster AS INT) AS cluster, CAST(dim AS INT) AS dim,
       CAST(sum(milli) AS BIGINT) AS sum_milli,
       CAST(count(*) AS BIGINT) AS n
FROM ex GROUP BY cluster, dim
"""


@query("kmeans_lloyd_round", _LLOYD_SQL)
def kmeans_lloyd_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    m, best = _nearest_prototype(spark, sf_dir)
    assign = best.select("vec_id", F.col("b.p_label").alias("cluster"))
    return _dim_sums(m.join(assign, "vec_id"), "cluster", F.col("mv"))
