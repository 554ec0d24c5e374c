"""Eighteenth LLM-pipeline batch: corpus-growth and retrieval
pre-flight analytics — Heaps'-law vocabulary growth, cosine radius
(range) search, shingle-size sensitivity for dedup tuning, and the
L1-sensitivity audit a differential-privacy release needs.

Oracle discipline per queries_core.py: integer counts and ppm via
integer floor division, cosine through the shared sequential-fold
fragment (per-row deterministic, never summed across rows),
row-bounded outputs with total tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import shingles, tokens
from ..operators._parallel import fan_out_scan
from ..sources.tables import load_table
from .queries_llm import _TOKS, _shingles_sql
from .registry import query


HEAPS_BUCKETS = 10
RANGE_SEARCH_QUERIES = 5
RANGE_SEARCH_THRESHOLD = 0.25  # yields ~10 hits/query at sf0.01
SHINGLE_SIZES = (2, 3, 5)


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth: cumulative distinct vocabulary vs
# cumulative token volume across ten doc-id deciles. The trick that
# keeps it one pass: a token's contribution to the cumulative vocab
# is fully determined by its FIRST bucket, so group tokens once,
# take min(bucket), histogram, and prefix-sum 10 rows.
# ---------------------------------------------------------------------------

_HEAPS_SQL = f"""
WITH bounds AS (SELECT max(doc_id) + 1 AS n FROM documents),
t AS (
  SELECT least(doc_id * {HEAPS_BUCKETS} // n, {HEAPS_BUCKETS - 1}) AS bucket,
         unnest({_TOKS}) AS token
  FROM documents, bounds
), vol AS (
  SELECT bucket, count(*) AS n_toks FROM t GROUP BY bucket
), first_seen AS (
  SELECT token, min(bucket) AS fb FROM t GROUP BY token
), vocab AS (
  SELECT fb AS bucket, count(*) AS n_new FROM first_seen GROUP BY fb
)
SELECT CAST(v.bucket AS BIGINT) AS bucket,
       CAST(sum(v.n_toks) OVER (ORDER BY v.bucket) AS BIGINT)
         AS tokens_cum,
       CAST(sum(coalesce(vocab.n_new, 0)) OVER (ORDER BY v.bucket) AS BIGINT)
         AS vocab_cum
FROM vol v LEFT JOIN vocab ON vocab.bucket = v.bucket
ORDER BY bucket
"""


@query("text_vocab_growth_heaps", _HEAPS_SQL)
def text_vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law growth curve: cumulative (token volume, distinct
    vocabulary) at ten doc-id deciles. Vocabulary that keeps growing
    linearly signals heterogeneous/noisy text; a flattening curve
    signals the corpus is saturating its domain. Distinct-token
    tracking costs ONE groupBy(token) pass no matter how many
    checkpoints, because cumulative vocab at decile d = tokens whose
    min(bucket) <= d -- a 10-row histogram prefix-summed, instead of
    10 separate count(DISTINCT) scans."""
    docs = load_table(spark, sf_dir, "documents")
    bounds = docs.agg((F.max("doc_id") + 1).alias("n"))
    t = (
        docs.crossJoin(F.broadcast(bounds))
        .select(
            F.expr(
                f"least(doc_id * {HEAPS_BUCKETS} DIV n, "
                f"CAST({HEAPS_BUCKETS - 1} AS BIGINT))"
            ).alias("bucket"),
            F.explode(tokens("text")).alias("token"),
        )
    )
    from ..operators._cache import track_persist

    t = track_persist(t)
    vol = t.groupBy("bucket").agg(F.count("*").alias("n_toks"))
    first_seen = t.groupBy("token").agg(F.min("bucket").alias("fb"))
    vocab = first_seen.groupBy(F.col("fb").alias("bucket")).agg(
        F.count("*").alias("n_new")
    )
    joined = vol.join(vocab, "bucket", "left").select(
        "bucket", "n_toks", F.coalesce("n_new", F.lit(0)).alias("n_new")
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return joined.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.sum("n_toks").over(w).cast("long").alias("tokens_cum"),
        F.sum("n_new").over(w).cast("long").alias("vocab_cum"),
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# Cosine radius (range) search: ALL corpus vectors within a cosine
# threshold of each query vector -- the retrieval mode top-k cannot
# emulate (recall@radius, near-dup sweeps). Brute force with the
# query block broadcast: the honest baseline the LSH/IVF variants
# are measured against.
# ---------------------------------------------------------------------------

_RANGE_DOT = (
    "list_reduce([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) "
    "for i in generate_series(1, len(q.embedding))], (x, y) -> x + y)"
)
_RANGE_NQ = (
    "sqrt(list_reduce([CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE) "
    "for i in generate_series(1, len(q.embedding))], (x, y) -> x + y))"
)
_RANGE_NC = (
    "sqrt(list_reduce([CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) "
    "for i in generate_series(1, len(c.embedding))], (x, y) -> x + y))"
)

_RANGE_SEARCH_SQL = f"""
SELECT CAST(q.vec_id AS BIGINT) AS q_id,
       CAST(c.vec_id AS BIGINT) AS vec_id,
       {_RANGE_DOT} / ({_RANGE_NQ} * {_RANGE_NC}) AS cosine
FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
WHERE q.vec_id < {RANGE_SEARCH_QUERIES}
  AND {_RANGE_DOT} / ({_RANGE_NQ} * {_RANGE_NC}) >= {RANGE_SEARCH_THRESHOLD}
"""


@query("ann_range_search", _RANGE_SEARCH_SQL)
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search: every corpus vector within cosine >= 0.25 of
    each of the 5 query vectors. The query block is broadcast (5 rows
    x 64 floats), the corpus streams once, the cosine is the shared
    sequential-fold expression (same IEEE order as the oracle's
    list_reduce) -- so the only join in the plan is a
    BroadcastNestedLoop against a 5-row build side, i.e. a constant
    x-per-row filter, not a shuffle. This is the exact baseline the
    bucketed variants (dedup_embedding_cosine_lsh, ann_cosine_ivf)
    trade recall against."""
    from ..operators.similarity import _cosine

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < RANGE_SEARCH_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    c = emb.select(F.col("vec_id").alias("vec_id"), "embedding")
    cos = _cosine(F.col("qe"), F.col("embedding"))
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            F.col("q_id").cast("long").alias("q_id"),
            F.col("vec_id").cast("long").alias("vec_id"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= RANGE_SEARCH_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Shingle-size sensitivity: how shingle n changes the dedup signal.
# One corpus-wide (total, distinct) pair per n in {2, 3, 5} -- the
# data for choosing n before committing a MinHash run.
# ---------------------------------------------------------------------------


def _shingle_sensitivity_sql() -> str:
    # totals and distincts come from separate scalar subqueries: a
    # single unnested scan would double-count sum(len(sh)) per row
    selects = []
    for n in SHINGLE_SIZES:
        selects.append(f"""
SELECT CAST({n} AS BIGINT) AS shingle_n,
       (SELECT CAST(sum(len({_shingles_sql(_TOKS, n)})) AS BIGINT)
        FROM documents) AS total_shingles,
       (SELECT CAST(count(DISTINCT s) AS BIGINT)
        FROM (SELECT unnest({_shingles_sql(_TOKS, n)}) AS s
              FROM documents) u) AS distinct_shingles""")
    body = "\nUNION ALL\n".join(selects)
    return f"{body}\nORDER BY shingle_n"


@query("dedup_shingle_size_sensitivity", _shingle_sensitivity_sql())
def dedup_shingle_size_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(total, distinct) shingle counts at n = 2, 3, 5: small n makes
    shingles common (high collision, aggressive dedup), large n makes
    them rare (conservative). distinct/total is the collision
    headroom; reading all three BEFORE a MinHash run replaces shingle-
    size folklore with the corpus's own statistics. Three narrow
    aggregation passes (one per n) over one cached token projection --
    each pass is explode + count-distinct, the same shuffle shape the
    dedup itself will pay, at 3x scan cost but zero pair cost."""
    from ..operators._cache import track_persist

    docs = fan_out_scan(load_table(spark, sf_dir, "documents"))
    staged = track_persist(docs.select(tokens("text").alias("toks")))
    outs = []
    for n in SHINGLE_SIZES:
        sh = staged.select(
            shingles("toks", n, toks=F.col("toks")).alias("sh")
        )
        total = sh.agg(
            F.sum(F.size("sh")).cast("long").alias("total_shingles")
        )
        distinct = (
            sh.select(F.explode("sh").alias("s"))
            .agg(F.countDistinct("s").cast("long").alias("distinct_shingles"))
        )
        outs.append(
            total.crossJoin(distinct).select(
                F.lit(n).cast("long").alias("shingle_n"),
                "total_shingles",
                "distinct_shingles",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("shingle_n")


# ---------------------------------------------------------------------------
# DP release pre-flight: the L1 sensitivity of a per-type histogram
# release is the max rows any single user contributes to the bucket.
# ---------------------------------------------------------------------------

_HISTOGRAM_SENSITIVITY_SQL = """
WITH per_user AS (
  SELECT event_type, user_id, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(max(n) AS BIGINT) AS max_user_contribution
FROM per_user GROUP BY event_type ORDER BY event_type
"""


@query("privacy_histogram_sensitivity", _HISTOGRAM_SENSITIVITY_SQL)
def privacy_histogram_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 sensitivity of the per-event-type count release: the most
    rows one user contributes to each bucket (= how much the bucket
    can move if one user is added/removed, the quantity DP noise must
    be scaled to). max_user_contribution >> 1 says 'cap contributions
    first' (privacy_contribution_cap is the companion executor).
    Two map-side-combinable aggregations, both on narrow keys."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count("*").alias("n")
    )
    return (
        per_user.groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_users"),
            F.max("n").cast("long").alias("max_user_contribution"),
        )
        .orderBy("event_type")
    )
