"""Round-3 curation batch: semantic dedup (SemDeDup-style
cluster-then-prune), product quantization (encode + ADC search),
entity-resolution fuzzy matching with blocking, C4-style line-level
dedup, and time-series LOCF gap-fill.

Same single-source-of-truth discipline as the other query modules:
every SQL oracle is generated from the exact constants the Spark plan
uses, float folds are sequential-over-elements on both engines, ids
and counts are integers. Public-method citations in docstrings:
SemDeDup (Abbas et al., arXiv:2303.09540), PQ (Jegou et al., TPAMI
2011), C4 line dedup (Raffel et al., JMLR 2020).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.similarity import (
    CENT_SALT,
    PQ_SALT,
    pq_adc_topk,
    pq_encode_sampled,
    semantic_dedup_sampled,
)
from ..sources.tables import load_table
from .queries_llm import ANN_K, ANN_QUERIES, _TOKS
from .registry import query


# shared constants (Spark plan and SQL oracle are generated from THESE)
SEM_NC = 16
SEM_TAU = 0.35
PQ_NSUB = 8
PQ_CODES = 16
PQ_DIM = 64
ER_LEV_MAX = 3
LINE_TOKENS = 10


def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine between two array columns, sequential fold over
    elements -- bit-identical to operators.similarity._dot/_norm."""
    dot = (
        f"list_reduce([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
        f"for i in generate_series(1, len({a}))], (x, y) -> x + y)"
    )
    na = (
        f"sqrt(list_reduce([CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE) "
        f"for i in generate_series(1, len({a}))], (x, y) -> x + y))"
    )
    nb = (
        f"sqrt(list_reduce([CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
        f"for i in generate_series(1, len({b}))], (x, y) -> x + y))"
    )
    return f"{dot} / ({na} * {nb})"


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup via cluster-then-prune
# ---------------------------------------------------------------------------


def _semantic_sql() -> str:
    cos_ec = _cos_sql("e.embedding", "c.cvec")
    cos_ab = _cos_sql("a.embedding", "b.embedding")
    return f"""
WITH r AS (
  SELECT vec_id, embedding,
         row_number() OVER (ORDER BY
           md5(concat('{CENT_SALT}:', CAST(vec_id AS VARCHAR))), vec_id) AS rk
  FROM embeddings),
cent AS (SELECT vec_id AS cent_id, embedding AS cvec FROM r WHERE rk <= {SEM_NC}),
assign AS (
  SELECT vec_id, embedding, cent_id FROM (
    SELECT e.vec_id, e.embedding, c.cent_id,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {cos_ec} DESC, c.cent_id) AS arnk
    FROM embeddings e CROSS JOIN cent c) WHERE arnk = 1),
dominated AS (
  SELECT DISTINCT b.vec_id AS id_b
  FROM assign a JOIN assign b
    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
  WHERE {cos_ab} >= {SEM_TAU})
SELECT CAST(a.vec_id AS BIGINT) AS vec_id,
       CAST(a.cent_id AS BIGINT) AS cent_id,
       d.id_b IS NULL AS keep
FROM assign a LEFT JOIN dominated d ON a.vec_id = d.id_b
"""


@query("dedup_semantic_clusters", _semantic_sql())
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: cluster embeddings, prune within-cluster near-dupes
    (cosine >= tau to a smaller-id neighbor). Deterministic md5-sampled
    centroids make the full pipeline oracle-exact; the prune rate vs
    tau curve is pinned in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup_sampled(
        emb, "embedding", "vec_id", n_centroids=SEM_NC, tau=SEM_TAU
    )
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cent_id").cast("long").alias("cent_id"),
        "keep",
    )


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------

_SUB_DIM = PQ_DIM // PQ_NSUB


def _pq_cte() -> str:
    """Shared encode CTEs: sample -> codebook -> fanout -> argmin."""
    d2 = (
        "list_reduce([(CAST(f.sv[i] AS DOUBLE) - CAST(cb.codeword[i] AS DOUBLE))"
        " * (CAST(f.sv[i] AS DOUBLE) - CAST(cb.codeword[i] AS DOUBLE)) "
        "for i in generate_series(1, len(f.sv))], (x, y) -> x + y)"
    )
    return f"""r AS (
  SELECT vec_id, embedding,
         row_number() OVER (ORDER BY
           md5(concat('{PQ_SALT}:', CAST(vec_id AS VARCHAR))), vec_id) AS code
  FROM embeddings),
samp AS (SELECT code, embedding FROM r WHERE code <= {PQ_CODES}),
subs AS (SELECT unnest(generate_series(0, {PQ_NSUB - 1})) AS sub_id),
cb AS (
  SELECT s.sub_id, samp.code,
         samp.embedding[s.sub_id * {_SUB_DIM} + 1 : s.sub_id * {_SUB_DIM} + {_SUB_DIM}] AS codeword
  FROM samp CROSS JOIN subs s),
fan AS (
  SELECT e.vec_id, s.sub_id,
         e.embedding[s.sub_id * {_SUB_DIM} + 1 : s.sub_id * {_SUB_DIM} + {_SUB_DIM}] AS sv
  FROM embeddings e CROSS JOIN subs s),
best AS (
  SELECT vec_id, sub_id, code, codeword FROM (
    SELECT f.vec_id, f.sub_id, cb.code, cb.codeword,
      row_number() OVER (PARTITION BY f.vec_id, f.sub_id
        ORDER BY {d2} ASC, cb.code ASC) AS rnk
    FROM fan f JOIN cb ON f.sub_id = cb.sub_id) WHERE rnk = 1),
enc AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list(CAST(code AS INT) ORDER BY sub_id) AS codes,
         flatten(list([CAST(x AS DOUBLE) for x in codeword] ORDER BY sub_id)) AS recon
  FROM best GROUP BY vec_id)"""


@query(
    "emb_pq_encode",
    f"""WITH {_pq_cte()}
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(sub_id AS BIGINT) AS sub_id,
       CAST(code AS BIGINT) AS code
FROM best""",
)
def emb_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode: 64-dim float32 -> 8 subspace codes (the canonical
    32x compression for billion-scale ANN). Codebooks are one
    md5-sampled training set sliced per subspace, so encode is exactly
    reproducible in SQL.

    Output shape is scalar rows (vec_id, sub_id, code) -- the exploded
    form of the code table, all exact BIGINTs. The array-valued
    operator output (codes array<int> + recon array<double>) is NOT
    registered directly: the driver's canonicalizer hashes scalar
    cells only (CORRECTNESS_r05: list cells crash pandas sort_values),
    and the plans/contract.py schema guard now rejects non-scalar
    registrations outright. Reconstruction-vector VALUES are already
    driver-checked through ann_cosine_pq_adc, which consumes recon."""
    emb = load_table(spark, sf_dir, "embeddings")
    enc = pq_encode_sampled(
        emb, "embedding", "vec_id",
        n_sub=PQ_NSUB, codes_per_sub=PQ_CODES, dim=PQ_DIM,
    )
    # codes is array_sort'ed by sub_id, so posexplode's pos IS sub_id
    return enc.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.posexplode("codes").alias("sub_id", "code"),
    ).select(
        "vec_id",
        F.col("sub_id").cast("long").alias("sub_id"),
        F.col("code").cast("long").alias("code"),
    )


def _pq_adc_sql() -> str:
    cos = _cos_sql("q.embedding", "e.recon")
    return f"""
WITH {_pq_cte()},
sims AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, {cos} AS adc_cosine
  FROM embeddings q CROSS JOIN enc e
  WHERE q.vec_id < {ANN_QUERIES} AND q.vec_id <> e.vec_id)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       adc_cosine,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY adc_cosine DESC, neighbor_id
       ) AS BIGINT) AS rank
FROM sims
QUALIFY rank <= {ANN_K}
"""


@query("ann_cosine_pq_adc", _pq_adc_sql())
def ann_cosine_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k: full-precision query vs PQ-reconstructed corpus --
    the scan side reads 8 small ints per vector instead of 256 bytes
    of float32. Recall vs brute force pinned in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    out = pq_adc_topk(
        emb, queries, "embedding", "vec_id",
        k=ANN_K, n_sub=PQ_NSUB, codes_per_sub=PQ_CODES, dim=PQ_DIM,
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "adc_cosine",
        F.col("rank").cast("long").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Entity resolution: blocked fuzzy match
# ---------------------------------------------------------------------------


_ER_FUZZY_SQL = f"""
WITH names AS (
  SELECT p_name, min(p_partkey) AS rep_key FROM part GROUP BY p_name)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(a.rep_key AS BIGINT) AS key_a,
       CAST(b.rep_key AS BIGINT) AS key_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM names a JOIN names b
  ON split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
 AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= {ER_LEV_MAX}
"""


@query("er_blocked_fuzzy_match", _ER_FUZZY_SQL)
def er_blocked_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy match with blocking: canonicalize to
    distinct names (rep = min key), equi-join on a cheap block key
    (first token), edit-distance only WITHIN blocks. The block join is
    the scale story -- at 1e9 entities an unblocked pairwise
    levenshtein is O(n^2); blocking bounds comparisons to block-width
    fan-in (cap skewed blocks like dedup.py's LSH/jaccard caps if the
    key distribution is heavy-tailed)."""
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.min("p_partkey").alias("rep_key"))
    blk = F.split_part(F.col("p_name"), F.lit(" "), F.lit(1))
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("rep_key").alias("key_a"),
        blk.alias("__blk"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("rep_key").alias("key_b"),
        blk.alias("__blk"),
    )
    return (
        a.join(b, "__blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("dist") <= ER_LEV_MAX)
        .select(
            "name_a",
            "name_b",
            F.col("key_a").cast("long").alias("key_a"),
            F.col("key_b").cast("long").alias("key_b"),
            "dist",
        )
    )


# ---------------------------------------------------------------------------
# C4-style line-level dedup
# ---------------------------------------------------------------------------


def _line_dedup_sql() -> str:
    n = LINE_TOKENS
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, toks, len(toks) AS n FROM t),
x AS (SELECT doc_id, toks,
        unnest(generate_series(1, greatest(n, 1), {n})) AS start
      FROM s),
lines AS (
  SELECT doc_id, CAST((start - 1) // {n} AS BIGINT) AS line_idx,
         array_to_string(toks[start:start + {n - 1}], ' ') AS line_text
  FROM x),
keep AS (
  SELECT doc_id, line_idx, line_text,
         row_number() OVER (PARTITION BY md5(line_text)
                            ORDER BY doc_id, line_idx) AS rnk
  FROM lines)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN rnk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CASE WHEN sum(CASE WHEN rnk = 1 THEN 1 ELSE 0 END) > 0
            THEN string_agg(CASE WHEN rnk = 1 THEN line_text END, ' ' ORDER BY line_idx)
       END AS kept_text
FROM keep GROUP BY doc_id
"""


@query("text_line_dedup", _line_dedup_sql())
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level dedup (Raffel et al. 2020 dedup three-
    sentence spans; here a 'line' is a {LINE_TOKENS}-token span): keep
    only the globally-FIRST occurrence of each line (order by doc_id,
    line_idx), reassemble surviving text per doc.

    Scale shape: the global keep-first is one shuffle on md5(line),
    a fixed-width key -- line STRINGS never shuffle as keys; the
    window inside each hash group is tiny (duplicate count). The
    reassembly groupBy doc_id is the second shuffle. Both are
    hash-partitioned all-reduce shapes, no driver involvement.
    """
    from ..functions.text import tokens

    n = LINE_TOKENS
    t = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", tokens("text").alias("toks"))
        .withColumn("n", F.size("toks"))
    )
    lines = t.select(
        "doc_id",
        "toks",
        F.posexplode(
            F.sequence(F.lit(1), F.greatest("n", F.lit(1)), F.lit(n))
        ).alias("line_idx", "start"),
    ).select(
        "doc_id",
        F.col("line_idx").cast("long").alias("line_idx"),
        F.concat_ws(" ", F.slice("toks", F.col("start"), F.lit(n))).alias("line_text"),
    )
    w = Window.partitionBy(F.md5("line_text")).orderBy("doc_id", "line_idx")
    keep = lines.withColumn("rnk", F.row_number().over(w))
    kept_struct = F.array_sort(
        F.collect_list(F.when(F.col("rnk") == 1, F.struct("line_idx", "line_text")))
    )
    return (
        keep.groupBy(F.col("doc_id").cast("long").alias("doc_id"))
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.when(F.col("rnk") == 1, 1).otherwise(0)).cast("long").alias("n_kept"),
            kept_struct.alias("__kept"),
        )
        .select(
            "doc_id",
            "n_lines",
            "n_kept",
            F.when(
                F.col("n_kept") > 0,
                F.concat_ws(
                    " ", F.transform("__kept", lambda p: p["line_text"])
                ),
            ).alias("kept_text"),
        )
    )


# ---------------------------------------------------------------------------
# Time-series LOCF gap-fill
# ---------------------------------------------------------------------------


def _dense_daily(daily: DataFrame) -> DataFrame:
    """`daily` (event_type, day, n) left-joined onto the full date
    spine of every event_type: n is NULL on the days with no row. The
    spine bounds are an in-plan one-row aggregate, broadcast into the
    cross join (no driver collect)."""
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    types = daily.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence("lo", "hi")).alias("day"),
    )
    return spine.join(daily, ["event_type", "day"], "left")


@query(
    "timeseries_gapfill_locf",
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
types AS (SELECT DISTINCT event_type FROM daily),
spine AS (
  SELECT t.event_type,
         CAST(unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM types t CROSS JOIN bounds b),
j AS (
  SELECT s.event_type, s.day, d.n
  FROM spine s LEFT JOIN daily d
    ON s.event_type = d.event_type AND s.day = d.day),
f AS (
  SELECT event_type, day,
         coalesce(n, 0) AS n_events,
         n IS NOT NULL AS observed,
         last_value(n IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day) AS locf_n,
         max(CASE WHEN n IS NOT NULL THEN day END)
           OVER (PARTITION BY event_type ORDER BY day) AS last_day
  FROM j)
SELECT event_type, day,
       CAST(n_events AS BIGINT) AS n_events,
       observed,
       CAST(coalesce(locf_n, 0) AS BIGINT) AS locf_n_events,
       CAST(date_diff('day', last_day, day) AS BIGINT) AS days_since_obs
FROM f
""",
)
def timeseries_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify per-type daily counts onto a full date spine, then
    last-observation-carried-forward fill + staleness age. The spine
    bounds come from an in-plan one-row aggregate (broadcast cross
    join, no driver collect); the LOCF is one window per type ordered
    by day -- integer-only, exact on both engines."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    j = _dense_daily(daily)
    w = Window.partitionBy("event_type").orderBy("day")
    f = (
        j.withColumn("observed", F.col("n").isNotNull())
        .withColumn("locf_n", F.last("n", ignorenulls=True).over(w))
        .withColumn(
            "last_day", F.max(F.when(F.col("observed"), F.col("day"))).over(w)
        )
    )
    return f.select(
        "event_type",
        "day",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        "observed",
        F.coalesce("locf_n", F.lit(0)).cast("long").alias("locf_n_events"),
        F.datediff("day", "last_day").cast("long").alias("days_since_obs"),
    )
