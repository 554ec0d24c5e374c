"""Tenth LLM-pipeline batch: truncated-dimension ANN recall eval
(the Matryoshka-style "how many dims can we drop" measurement),
perceptual image near-dup pairs through the real aHash Arrow kernel,
and length-bucketed batching waste (the padding-efficiency dual of
sequence packing).

Discipline as everywhere: oracles generated from the same constants,
integer domains, deterministic tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.sampling import sample_order
from ..sources.tables import load_table
from .queries_llm import ANN_K, ANN_QUERIES, _DOT_SQL, _TOKS
from .registry import query


# shared constants
TRUNC_DIM = 16  # keep the first 16 of 64 dims
AHASH_MAX_HAMMING = 3  # 4 x 16-bit bands are LOSSLESS for <= 3 flips
PACK_BATCH = 8


# ---------------------------------------------------------------------------
# Truncated-dimension recall: rank by cosine over only the first
# TRUNC_DIM dims and measure per-query recall against the full-dim
# ground truth -- the eval behind Matryoshka-style dimension cuts
# (retrieval at a fraction of the bytes). Same eval-as-data shape as
# ann_recall_eval; both sides are exact.
# ---------------------------------------------------------------------------


def _trunc_recall_sql() -> str:
    from . import queries_llm as _llm

    full = _llm._ann_sql().strip()
    dot_qc = _DOT_SQL.format(a="qe", b="ce")
    dot_qq = _DOT_SQL.format(a="qe", b="qe")
    dot_cc = _DOT_SQL.format(a="ce", b="ce")
    return f"""
WITH fullk AS (
{full}
),
tq AS (SELECT vec_id AS query_id, embedding[1:{TRUNC_DIM}] AS qe
       FROM embeddings WHERE vec_id < {ANN_QUERIES}),
tc AS (SELECT vec_id AS neighbor_id, embedding[1:{TRUNC_DIM}] AS ce FROM embeddings),
tsims AS (
  SELECT query_id, neighbor_id,
         {dot_qc} / (sqrt({dot_qq}) * sqrt({dot_cc})) AS cosine
  FROM tq, tc WHERE query_id <> neighbor_id),
trunc AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS rank
    FROM tsims) WHERE rank <= {ANN_K})
SELECT f.query_id,
       CAST(count(*) AS BIGINT) AS k,
       CAST(count(t.neighbor_id) AS BIGINT) AS n_matched,
       CAST(count(t.neighbor_id) AS DOUBLE) / count(*) AS recall
FROM fullk f
LEFT JOIN trunc t
  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
GROUP BY f.query_id
ORDER BY f.query_id
"""


@query("ann_truncated_dim_recall_eval", _trunc_recall_sql())
def ann_truncated_dim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall of 16-dim truncated cosine top-k vs the 64-dim
    ground truth: the measurement that decides whether a serving tier
    can read a quarter of the embedding bytes. Both rankings are exact
    brute force (this is the EVAL, not the ANN); the join is per-query
    k-bounded."""
    from ..operators.similarity import cosine_topk_bruteforce
    from . import queries_llm as _llm

    emb = load_table(spark, sf_dir, "embeddings")
    full = _llm.ann_cosine_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    te = emb.select(
        "vec_id", F.slice("embedding", 1, TRUNC_DIM).alias("temb")
    )
    tqueries = te.filter(F.col("vec_id") < ANN_QUERIES)
    trunc = cosine_topk_bruteforce(
        te, tqueries, "temb", "vec_id", k=ANN_K
    ).select(
        F.col("query_id").alias("t_qid"), F.col("neighbor_id").alias("t_nid")
    )
    j = full.join(
        trunc,
        (F.col("query_id") == F.col("t_qid"))
        & (F.col("neighbor_id") == F.col("t_nid")),
        "left",
    )
    return (
        j.groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("k"),
            F.count("t_nid").cast("long").alias("n_matched"),
            (F.count("t_nid").cast("double") / F.count("*")).alias("recall"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Perceptual image near-dup pairs: synthetic 8x8 "images" (md5-derived
# bytes; every 10th key gets a one-pixel-perturbed twin under a
# negative id, the collision-free convention from dedup_truncation),
# hashed by the REAL aHash Arrow kernel, paired by 16-bit band
# equi-join, refined by exact hamming <= 3 -- which 4 bands detect
# LOSSLESSLY (pigeonhole: 3 flips cannot touch all 4 bands), so the
# O(n^2) definitional oracle and the banded plan agree exactly.
# ---------------------------------------------------------------------------


def _ahash_bits_sql() -> str:
    """DuckDB twin of the aHash kernel: bytes -> mean bits -> two
    32-bit halves (signed-64 wraparound never appears)."""
    byte_i = "ord(substr(payload, i, 1))"
    total = (
        "list_reduce([ord(substr(payload, j, 1)) "
        "for j in generate_series(1, 64)], (x, y) -> x + y)"
    )
    lo = (
        f"list_reduce([CASE WHEN {byte_i} * 64 > t THEN (CAST(1 AS BIGINT) << (i - 1)) "
        f"ELSE 0 END for i in generate_series(1, 32)], (x, y) -> x + y)"
    )
    hi = (
        f"list_reduce([CASE WHEN {byte_i} * 64 > t THEN (CAST(1 AS BIGINT) << (i - 33)) "
        f"ELSE 0 END for i in generate_series(33, 64)], (x, y) -> x + y)"
    )
    return f"""
imgs AS (
  SELECT CAST(p_partkey AS BIGINT) AS key,
         repeat(md5(CAST(p_partkey AS VARCHAR)), 2) AS payload
  FROM part
  UNION ALL
  SELECT CAST(-p_partkey AS BIGINT) AS key,
         CASE WHEN substr(repeat(md5(CAST(p_partkey AS VARCHAR)), 2),
                          CAST(p_partkey % 64 AS INTEGER) + 1, 1) = 'z'
              THEN concat(
                substr(repeat(md5(CAST(p_partkey AS VARCHAR)), 2), 1,
                       CAST(p_partkey % 64 AS INTEGER)),
                'a',
                substr(repeat(md5(CAST(p_partkey AS VARCHAR)), 2),
                       CAST(p_partkey % 64 AS INTEGER) + 2))
              ELSE concat(
                substr(repeat(md5(CAST(p_partkey AS VARCHAR)), 2), 1,
                       CAST(p_partkey % 64 AS INTEGER)),
                'z',
                substr(repeat(md5(CAST(p_partkey AS VARCHAR)), 2),
                       CAST(p_partkey % 64 AS INTEGER) + 2))
         END
  FROM part WHERE p_partkey % 10 = 0),
hashed AS (
  SELECT key,
         {lo} AS h_lo,
         {hi} AS h_hi
  FROM (SELECT key, payload, {total} AS t FROM imgs))"""


def _ahash_pairs_sql() -> str:
    return f"""
WITH {_ahash_bits_sql().strip()}
SELECT a.key AS key_a, b.key AS key_b,
       CAST(bit_count(xor(a.h_lo, b.h_lo))
            + bit_count(xor(a.h_hi, b.h_hi)) AS BIGINT) AS hamming
FROM hashed a JOIN hashed b ON a.key < b.key
WHERE bit_count(xor(a.h_lo, b.h_lo)) + bit_count(xor(a.h_hi, b.h_hi))
      <= {AHASH_MAX_HAMMING}
ORDER BY key_a, key_b
"""


def _synth_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    payload = F.repeat(F.md5(F.col("p_partkey").cast("string")), 2)
    base = part.select(
        F.col("p_partkey").cast("long").alias("key"), payload.alias("payload")
    )
    # one-pixel twin: flip the char at position key % 64 to 'z' (or
    # 'a' if it already is 'z'), under a collision-free negative id
    pos = "CAST(p_partkey % 64 AS INT)"
    pay = "repeat(md5(CAST(p_partkey AS STRING)), 2)"
    twin = part.where(F.col("p_partkey") % 10 == 0).select(
        (-F.col("p_partkey")).cast("long").alias("key"),
        F.expr(
            f"concat(substring({pay}, 1, {pos}), "
            f"CASE WHEN substring({pay}, {pos} + 1, 1) = 'z' THEN 'a' ELSE 'z' END, "
            f"substring({pay}, {pos} + 2))"
        ).alias("payload"),
    )
    return base.unionAll(twin).select(
        "key",
        F.struct(
            F.encode(F.col("payload"), "utf-8").alias("bytes"),
            F.lit("image/gray8").alias("mime"),
            F.struct(
                F.lit(8).cast("int").alias("width"),
                F.lit(8).cast("int").alias("height"),
                F.lit(None).cast("int").alias("duration_ms"),
            ).alias("meta"),
        ).alias("media"),
    )


@query("multimodal_image_ahash_pairs", _ahash_pairs_sql())
def multimodal_image_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs: aHash through the Arrow kernel, 16-bit
    band equi-join for candidates, exact hamming refine. At hamming
    <= 3 the 4-band blocking is lossless (a pair differing in <= 3
    bits shares at least one untouched band), so the plan finds
    exactly the O(n^2) definition's pairs while joining only on band
    buckets -- the simhash discipline applied to pixels. Hashes are
    persisted: the band explode and the refine both read them."""
    from ..operators._cache import track_persist
    from ..operators.multimodal import image_ahash

    imgs = _synth_images(spark, sf_dir)
    hashed = track_persist(image_ahash(imgs, key_col="key"))
    bands = hashed.select(
        "key",
        "h_lo",
        "h_hi",
        F.explode(
            F.array(
                F.expr("h_lo & 65535"),
                F.expr("((shiftright(h_lo, 16)) & 65535) + 65536"),
                F.expr("(h_hi & 65535) + 131072"),
                F.expr("((shiftright(h_hi, 16)) & 65535) + 196608"),
            )
        ).alias("band"),
    )
    a = bands.select(
        F.col("key").alias("key_a"),
        F.col("h_lo").alias("lo_a"),
        F.col("h_hi").alias("hi_a"),
        "band",
    )
    b = bands.select(
        F.col("key").alias("key_b"),
        F.col("h_lo").alias("lo_b"),
        F.col("h_hi").alias("hi_b"),
        "band",
    )
    ham = F.expr("bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)")
    return (
        a.join(b, "band")
        .where(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", ham.cast("long").alias("hamming"))
        .where(F.col("hamming") <= AHASH_MAX_HAMMING)
        .distinct()
        .orderBy("key_a", "key_b")
    )


# ---------------------------------------------------------------------------
# Length-bucketed batching waste: assign each doc to the next
# power-of-two token bucket and report exact padding overhead per
# bucket -- the measurement that decides between bucketed batching
# and sequence packing (pack_* queries) for a training pipeline.
# ---------------------------------------------------------------------------

_PACK_BUCKET_SQL = f"""
WITH t AS (SELECT doc_id, len({_TOKS}) AS n FROM documents),
b AS (
  SELECT doc_id, n,
         CASE WHEN n <= 1 THEN 1
              ELSE (CAST(1 AS BIGINT) << length(bin(n - 1))) END AS bucket
  FROM t)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS sum_tokens,
       CAST(sum(bucket - n) AS BIGINT) AS pad_tokens,
       CAST((1000000 * sum(bucket - n)) // (count(*) * bucket) AS BIGINT) AS pad_ppm
FROM b GROUP BY bucket ORDER BY bucket
"""


@query("pack_length_bucket_waste", _PACK_BUCKET_SQL)
def pack_length_bucket_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding waste under power-of-two length bucketing: per bucket,
    exact token mass vs padded capacity in ppm. The bucket id comes
    from length(bin(n-1)) -- integer bit-length, no log2 floats. One
    map-side pass into a tiny bounded-key aggregate; compare with
    pack_efficiency_stats to choose packing vs bucketing."""
    from ..functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", token_count("text").alias("n"))
    b = t.select(
        "n",
        F.expr(
            "CASE WHEN n <= 1 THEN CAST(1 AS BIGINT) "
            "ELSE shiftleft(CAST(1 AS BIGINT), length(bin(n - 1))) END"
        ).alias("bucket"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("sum_tokens"),
            F.sum(F.col("bucket") - F.col("n")).cast("long").alias("pad_tokens"),
        )
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "n_docs",
            "sum_tokens",
            "pad_tokens",
            F.expr("(1000000 * pad_tokens) DIV (n_docs * bucket)")
            .cast("long")
            .alias("pad_ppm"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# ER survivorship: after blocking -> matching -> transitive merge
# (er_blocked_fuzzy_match / er_resolution_clusters), pick the GOLDEN
# RECORD per merged entity with explicit, deterministic rules --
# longest name wins (completeness proxy), ties break lexicographically
# then by smallest key. Completes the MDM lifecycle: the cluster id
# alone is useless to a consumer; the survivor is what lands in the
# dimension.
# ---------------------------------------------------------------------------


def _survivorship_sql() -> str:
    from .queries_llm7 import _er_cc_cte_body

    return f"""
WITH RECURSIVE {_er_cc_cte_body()},
members AS (
  SELECT comp.canonical AS canonical_key, comp.node AS entity_key, n.p_name
  FROM comp
  JOIN (SELECT p_name, min(p_partkey) AS rep_key FROM part GROUP BY p_name) n
    ON n.rep_key = comp.node),
ranked AS (
  SELECT canonical_key, entity_key, p_name,
         row_number() OVER (PARTITION BY canonical_key
           ORDER BY length(p_name) DESC, p_name ASC, entity_key ASC) AS rnk
  FROM members)
SELECT CAST(canonical_key AS BIGINT) AS canonical_key,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(min(CASE WHEN rnk = 1 THEN entity_key END) AS BIGINT) AS golden_key,
       min(CASE WHEN rnk = 1 THEN p_name END) AS golden_name
FROM ranked GROUP BY canonical_key
ORDER BY canonical_key
"""


@query("er_survivorship_golden", _survivorship_sql())
def er_survivorship_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden record per merged entity: longest-name survivorship with
    total tiebreaks, over the transitive-merge clusters. Plan shape:
    the cluster table (match participants only -- far smaller than the
    entity universe) joins the names dim and takes one window per
    cluster partition."""
    from . import queries_llm7 as _llm7

    cc = _llm7.er_resolution_clusters(spark, sf_dir)
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.min("p_partkey").alias("rep_key"))
    members = cc.join(
        names, names["rep_key"] == cc["entity_key"]
    ).select("canonical_key", "entity_key", "p_name")
    w = Window.partitionBy("canonical_key").orderBy(
        F.length("p_name").desc(), F.col("p_name").asc(), F.col("entity_key").asc()
    )
    ranked = members.withColumn("rnk", F.row_number().over(w))
    return (
        ranked.groupBy("canonical_key")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.min(F.when(F.col("rnk") == 1, F.col("entity_key")))
            .cast("long")
            .alias("golden_key"),
            F.min(F.when(F.col("rnk") == 1, F.col("p_name"))).alias("golden_name"),
        )
        .select(
            F.col("canonical_key").cast("long").alias("canonical_key"),
            "n_members",
            "golden_key",
            "golden_name",
        )
        .orderBy("canonical_key")
    )


# ---------------------------------------------------------------------------
# Count-Min estimator error eval: for the TRUE top-K bigrams (exact
# counts, deterministic tiebreak), report the CM overestimate in
# exact counts and ppm -- CM never underestimates, so `over >= 0` is
# also a structural invariant the oracle re-proves on every run.
# Completes the sketch-eval family next to sketch_hll_distinct_eval.
# ---------------------------------------------------------------------------

CM_EVAL_TOPK = 20


def _cm_error_sql() -> str:
    from .queries_llm7 import _CM_P, _CM_ROWS, _CM_W

    k = "CAST(concat('0x', substr(md5(bg), 1, 8)) AS BIGINT)"
    vals = ", ".join(f"({a}, {b}, {d})" for d, (a, b) in enumerate(_CM_ROWS))
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents),
bigrams AS (
  SELECT unnest(CASE WHEN len(t) >= 2
    THEN [concat(t[i], ' ', t[i+1]) for i in generate_series(1, len(t) - 1)]
    ELSE []::VARCHAR[] END) AS bg
  FROM toks),
keyed AS (SELECT bg, {k} AS k FROM bigrams),
hashed AS (
  SELECT bg, d, (a * k + b) % {_CM_P} % {_CM_W} AS bucket
  FROM keyed, (VALUES {vals}) AS r(a, b, d)),
sketch AS (SELECT d, bucket, count(*) AS c FROM hashed GROUP BY d, bucket),
exact AS (SELECT bg, k, count(*) AS n_exact FROM keyed GROUP BY bg, k),
topk AS (
  SELECT bg, k, n_exact FROM (
    SELECT bg, k, n_exact,
           row_number() OVER (ORDER BY n_exact DESC, bg) AS rn
    FROM exact) WHERE rn <= {CM_EVAL_TOPK}),
th AS (
  SELECT bg, n_exact, d, (a * k + b) % {_CM_P} % {_CM_W} AS bucket
  FROM topk, (VALUES {vals}) AS r(a, b, d)),
est AS (
  SELECT bg, n_exact, min(c) AS estimate
  FROM th JOIN sketch USING (d, bucket) GROUP BY bg, n_exact)
SELECT bg AS bigram,
       CAST(n_exact AS BIGINT) AS n_exact,
       CAST(estimate AS BIGINT) AS estimate,
       CAST(estimate - n_exact AS BIGINT) AS overestimate,
       CAST((1000000 * (estimate - n_exact)) // n_exact AS BIGINT) AS err_ppm
FROM est ORDER BY n_exact DESC, bigram
"""


@query("sketch_countmin_error_eval", _cm_error_sql())
def sketch_countmin_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CM overestimate per true heavy hitter, in exact counts and ppm
    -- the acceptance number that sizes (d, w) before trusting the
    sketch in production (the minhash-calibration discipline applied
    to frequencies). One sketch build, one exact top-K, one broadcast
    readout join."""
    from ..functions.text import tokens as _tokens
    from ..operators._cache import track_persist
    from .queries_llm7 import _cm_hash_rows

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(_tokens("text").alias("t"))
    bigrams = t.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.size("t") - 1),
                F.slice(F.col("t"), 2, F.size("t") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bg")
    )
    keyed = track_persist(
        bigrams.select(
            "bg",
            F.conv(F.substring(F.md5("bg"), 1, 8), 16, 10).cast("long").alias("k"),
        )
    )
    sketch = _cm_hash_rows(keyed).groupBy("d", "bucket").agg(
        F.count("*").alias("c")
    )
    exact = keyed.groupBy("bg", "k").agg(F.count("*").alias("n_exact"))
    w = Window.orderBy(F.desc("n_exact"), F.asc("bg"))
    topk = (
        exact.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= CM_EVAL_TOPK)
        .select("bg", "k", "n_exact")
    )
    est = (
        _cm_hash_rows(topk)
        .join(topk.select("bg", "n_exact"), "bg")
        .join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("bg", "n_exact")
        .agg(F.min("c").alias("estimate"))
    )
    return est.select(
        F.col("bg").alias("bigram"),
        F.col("n_exact").cast("long").alias("n_exact"),
        F.col("estimate").cast("long").alias("estimate"),
        (F.col("estimate") - F.col("n_exact")).cast("long").alias("overestimate"),
        F.expr("(1000000 * (estimate - n_exact)) DIV n_exact")
        .cast("long")
        .alias("err_ppm"),
    ).orderBy(F.desc("n_exact"), F.asc("bigram"))


# ---------------------------------------------------------------------------
# Int8 quantization fidelity eval: cosine between the full-precision
# vector and its symmetric-int8 quantization (cosine is
# scale-invariant, so the dequant multiply cancels and the comparison
# is cos(x, q) directly). Completes the quantize lifecycle started by
# emb_quantize_int8 (stats) the way ann_recall_eval completes IVF.
# ---------------------------------------------------------------------------


def _int8_fidelity_sql() -> str:
    q_elem = (
        "CASE WHEN maxabs = 0 THEN 0 ELSE "
        "CAST(sign(CAST(x AS DOUBLE)) * floor(abs(CAST(x AS DOUBLE)) * 127 / maxabs) "
        "AS BIGINT) END"
    )
    return f"""
WITH t AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
  FROM embeddings),
q AS (
  SELECT vec_id, embedding, maxabs,
         list_transform(embedding, x -> {q_elem}) AS ql
  FROM t WHERE maxabs > 0),
s AS (
  SELECT vec_id,
         list_reduce([CAST(embedding[i] AS DOUBLE) * CAST(ql[i] AS DOUBLE)
                      for i in generate_series(1, len(embedding))], (a, b) -> a + b) AS dot,
         sqrt(list_reduce([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                      for i in generate_series(1, len(embedding))], (a, b) -> a + b)) AS nx,
         sqrt(list_reduce([CAST(ql[i] AS DOUBLE) * CAST(ql[i] AS DOUBLE)
                      for i in generate_series(1, len(ql))], (a, b) -> a + b)) AS nq
  FROM q)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       dot / (nx * nq) AS cos_fidelity,
       CAST(floor((1.0 - dot / (nx * nq)) * 1000000000.0) AS BIGINT) AS loss_ppb
FROM s ORDER BY vec_id
"""


@query("emb_int8_fidelity_eval", _int8_fidelity_sql())
def emb_int8_fidelity_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector cosine fidelity of symmetric int8 quantization --
    the number that decides whether the 4x-smaller index is safe to
    serve. Pure column arithmetic (no shuffle); truncation spelled
    sign*floor for engine portability, the same convention as
    emb_quantize_int8."""
    emb = load_table(spark, sf_dir, "embeddings")
    t = emb.select(
        "vec_id",
        "embedding",
        F.array_max(
            F.transform("embedding", lambda x: F.abs(x.cast("double")))
        ).alias("maxabs"),
    ).where(F.col("maxabs") > 0)
    q_elem = (
        "CASE WHEN maxabs = 0 THEN CAST(0 AS BIGINT) ELSE "
        "CAST(sign(CAST(x AS DOUBLE)) * floor(abs(CAST(x AS DOUBLE)) * 127 / maxabs) "
        "AS BIGINT) END"
    )
    q = t.withColumn("ql", F.expr(f"transform(embedding, x -> {q_elem})"))
    dot = F.aggregate(
        F.zip_with(
            "embedding", "ql", lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    nx = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, b: a + b,
        )
    )
    nq = F.sqrt(
        F.aggregate(
            F.transform("ql", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, b: a + b,
        )
    )
    s = q.select("vec_id", dot.alias("dot"), nx.alias("nx"), nq.alias("nq"))
    fid = F.col("dot") / (F.col("nx") * F.col("nq"))
    return s.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        fid.alias("cos_fidelity"),
        F.floor((F.lit(1.0) - fid) * F.lit(1000000000.0))
        .cast("long")
        .alias("loss_ppb"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Deterministic token-swap augmentation (EDA-style, Wei & Zou 2019):
# swap the tokens at two doc_id-derived positions -- reproducible
# augmentation as a map-only transform, md5-verified output so the
# oracle checks the full rewrite, not just counts.
# ---------------------------------------------------------------------------

_AUG_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS t FROM documents),
p AS (
  SELECT doc_id, t, len(t) AS n,
         doc_id % len(t) + 1 AS p1,
         (doc_id * 7) % len(t) + 1 AS p2
  FROM t WHERE len(t) >= 1),
aug AS (
  SELECT doc_id, n, p1, p2,
         [CASE WHEN i = p1 THEN t[p2]
               WHEN i = p2 THEN t[p1]
               ELSE t[i] END
          for i in generate_series(1, n)] AS a
  FROM p)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n AS BIGINT) AS n_toks,
       p1 <> p2 AS swapped,
       md5(array_to_string(a, ' ')) AS aug_md5
FROM aug ORDER BY doc_id
"""


@query("corpus_augment_swap", _AUG_SQL)
def corpus_augment_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible token-swap augmentation: positions derived from
    doc_id, so the augmented corpus is a pure function of the input
    (the property that makes augmentation auditable and cache-safe).
    Map-only -- scan-speed at any corpus size; the md5 check covers
    the entire rewritten text."""
    from ..functions.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    p = (
        docs.select("doc_id", _tokens("text").alias("t"))
        .where(F.size("t") >= 1)
        .select(
            "doc_id",
            "t",
            F.size("t").alias("n"),
            (F.col("doc_id") % F.size("t") + 1).alias("p1"),
            ((F.col("doc_id") * 7) % F.size("t") + 1).alias("p2"),
        )
    )
    aug = p.withColumn(
        "a",
        F.expr(
            "transform(sequence(1, n), i -> "
            "CASE WHEN i = p1 THEN element_at(t, CAST(p2 AS INT)) "
            "WHEN i = p2 THEN element_at(t, CAST(p1 AS INT)) "
            "ELSE element_at(t, CAST(i AS INT)) END)"
        ),
    )
    return aug.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n").cast("long").alias("n_toks"),
        (F.col("p1") != F.col("p2")).alias("swapped"),
        F.md5(F.array_join("a", " ")).alias("aug_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Audio silence segmentation: windows below the per-key mean energy
# (cross-multiplied -- no division) merged into consecutive runs via
# the gaps-and-islands trick. The DSP pre-step of every ASR pipeline
# (silence trimming), composed from the REAL audio kernel + the
# relational islands machinery; oracle shares the windows CTE with
# the energy query so the two cannot drift.
# ---------------------------------------------------------------------------


def _silence_sql() -> str:
    from .queries_llm9 import _audio_windows_cte

    return f"""
WITH {_audio_windows_cte()},
m AS (
  SELECT key, win_idx, energy,
         count(*) OVER (PARTITION BY key) AS n_win,
         sum(energy) OVER (PARTITION BY key) AS tot
  FROM wenergy),
sil AS (SELECT key, win_idx FROM m WHERE energy * n_win < tot),
isl AS (
  SELECT key, win_idx,
         win_idx - row_number() OVER (PARTITION BY key ORDER BY win_idx) AS grp
  FROM sil)
SELECT key,
       CAST(min(win_idx) AS INTEGER) AS seg_start,
       CAST(max(win_idx) AS INTEGER) AS seg_end,
       CAST(count(*) AS BIGINT) AS n_windows
FROM isl GROUP BY key, grp
ORDER BY key, seg_start
"""


@query("multimodal_audio_silence_segments", _silence_sql())
def multimodal_audio_silence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Below-mean-energy windows merged into contiguous silence
    segments (islands): kernel windows -> two per-key window
    functions -> one islands groupBy, all partitioned by key -- no
    global ordering anywhere. The silence rule is cross-multiplied
    (energy * n < total), so the flag is exact."""
    from .queries_llm9 import audio_windows_df

    we = audio_windows_df(spark, sf_dir)
    wk = Window.partitionBy("key")
    m = we.withColumn("n_win", F.count("*").over(wk)).withColumn(
        "tot", F.sum("energy").over(wk)
    )
    sil = m.where(F.col("energy") * F.col("n_win") < F.col("tot"))
    wo = Window.partitionBy("key").orderBy("win_idx")
    isl = sil.withColumn("grp", F.col("win_idx") - F.row_number().over(wo))
    return (
        isl.groupBy("key", "grp")
        .agg(
            F.min("win_idx").cast("int").alias("seg_start"),
            F.max("win_idx").cast("int").alias("seg_end"),
            F.count("*").cast("long").alias("n_windows"),
        )
        .select("key", "seg_start", "seg_end", "n_windows")
        .orderBy("key", "seg_start")
    )


# ---------------------------------------------------------------------------
# Code-switching detection: 10-token windows, the registered stopword
# lang-ID per window (same argmax/tiebreak/und rules as text_lang_id),
# doc flagged when >= 2 distinct languages win windows -- the
# within-document language-mix signal monolingual filters miss.
# ---------------------------------------------------------------------------

CSW_WINDOW = 10


def _langid_argmax_sql() -> tuple[str, str]:
    """(all_zero, case_chain) over s_<lang> score columns -- the ONE
    argmax/tiebreak builder both the oracle and the Spark expression
    consume, so the two sides cannot drift (the LANG_STOPWORDS
    single-source discipline applied to the decision rule too)."""
    from ..functions.text import LANG_STOPWORDS

    langs = sorted(LANG_STOPWORDS)
    all_zero = " AND ".join(f"s_{lang} = 0" for lang in langs)
    case_lines = []
    for i, lang in enumerate(langs):
        later = [f"s_{lang} >= s_{other}" for other in langs[i + 1 :]]
        cond = " AND ".join(later) if later else "TRUE"
        case_lines.append(f"WHEN {cond} THEN '{lang}'")
    return all_zero, " ".join(case_lines)


def _code_switch_sql() -> str:
    from ..functions.text import LANG_STOPWORDS

    langs = sorted(LANG_STOPWORDS)
    score_cols = ",\n  ".join(
        "sum(CASE WHEN list_contains(["
        + ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        + "], w) THEN 1 ELSE 0 END) AS s_" + lang
        for lang in langs
    )
    all_zero, case = _langid_argmax_sql()
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
pos AS (
  SELECT doc_id,
         unnest([{{'i': i, 'w': toks[i]}} for i in generate_series(1, len(toks))]) AS p
  FROM t),
win AS (SELECT doc_id, (p.i - 1) // {CSW_WINDOW} AS win, p.w AS w FROM pos),
s AS (
  SELECT doc_id, win,
  {score_cols}
  FROM win GROUP BY doc_id, win),
wl AS (
  SELECT doc_id, win,
         CASE WHEN {all_zero} THEN 'und'
    {case}
  END AS wlang
  FROM s)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(count(CASE WHEN wlang <> 'und' THEN 1 END) AS BIGINT) AS n_identified,
       CAST(count(DISTINCT CASE WHEN wlang <> 'und' THEN wlang END) AS BIGINT) AS n_langs,
       count(DISTINCT CASE WHEN wlang <> 'und' THEN wlang END) >= 2 AS code_switched
FROM wl GROUP BY doc_id
ORDER BY doc_id
"""


@query("text_code_switch_detect", _code_switch_sql())
def text_code_switch_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window language votes over 10-token windows, doc-level
    code-switching flag when >= 2 languages win. Same deterministic
    argmax/tiebreak as text_lang_id (generated from the one
    LANG_STOPWORDS constant); two bounded aggregations, both keyed by
    doc -- linear in corpus tokens."""
    from ..functions.text import LANG_STOPWORDS, tokens as _tokens

    langs = sorted(LANG_STOPWORDS)
    docs = load_table(spark, sf_dir, "documents")
    win = docs.select(
        "doc_id", F.posexplode(_tokens("text")).alias("pos0", "w")
    ).select(
        "doc_id", (F.col("pos0") / CSW_WINDOW).cast("long").alias("win"), "w"
    )
    s = win.groupBy("doc_id", "win").agg(
        *[
            F.sum(
                F.when(F.col("w").isin(*LANG_STOPWORDS[lang]), 1).otherwise(0)
            ).alias(f"s_{lang}")
            for lang in langs
        ]
    )
    all_zero, case = _langid_argmax_sql()
    wlang = F.expr(f"CASE WHEN {all_zero} THEN 'und' {case} END")
    wl = s.select("doc_id", wlang.alias("wlang"))
    ident = F.when(F.col("wlang") != "und", F.col("wlang"))
    return (
        wl.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_windows"),
            F.count(ident).cast("long").alias("n_identified"),
            F.countDistinct(ident).cast("long").alias("n_langs"),
            (F.countDistinct(ident) >= 2).alias("code_switched"),
        )
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "n_windows",
            "n_identified",
            "n_langs",
            "code_switched",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Embedding centroid drift: per-label L1 distance between the "ref"
# and "cur" halves' centroids, numerator accumulated as exact BIGINTs
# (cross-multiplied per dim BEFORE the order-free integer sum), one
# final double division -- the embedding-space twin of
# dq_distribution_drift, the monitor that catches encoder or
# upstream-distribution shifts before retrieval quality drops.
# ---------------------------------------------------------------------------

_DRIFT_SCALE = 1048576  # 2^20, same exact-atom convention as whitening


def _centroid_drift_sql() -> str:
    from .queries_llm import EMB_DIM

    return f"""
WITH flat AS (
  SELECT label, vec_id % 2 AS half, u.d AS dim,
         CAST(floor(CAST(u.v AS DOUBLE) * {_DRIFT_SCALE}) AS BIGINT) AS s
  FROM (
    SELECT label, vec_id,
           unnest([{{'d': i, 'v': embedding[i]}}
                   for i in generate_series(1, len(embedding))]) AS u
    FROM embeddings)),
agg AS (
  SELECT label, dim,
         COALESCE(sum(CASE WHEN half = 0 THEN s END), 0) AS s0,
         count(CASE WHEN half = 0 THEN 1 END) AS n0,
         COALESCE(sum(CASE WHEN half = 1 THEN s END), 0) AS s1,
         count(CASE WHEN half = 1 THEN 1 END) AS n1
  FROM flat GROUP BY label, dim)
SELECT CAST(label AS BIGINT) AS label,
       CAST(n0 AS BIGINT) AS n_ref,
       CAST(n1 AS BIGINT) AS n_cur,
       CAST(sum(abs(s0 * n1 - s1 * n0)) AS BIGINT) AS drift_num,
       CASE WHEN n0 = 0 OR n1 = 0 THEN NULL
            ELSE CAST(sum(abs(s0 * n1 - s1 * n0)) AS DOUBLE)
                 / (CAST(n0 AS DOUBLE) * n1 * {_DRIFT_SCALE} * {EMB_DIM})
       END AS drift_l1_mean
FROM agg GROUP BY label, n0, n1
ORDER BY label
"""


@query("emb_centroid_drift_eval", _centroid_drift_sql())
def emb_centroid_drift_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid L1 drift between two deterministic halves of
    the corpus: per-dim mean difference cross-multiplied into exact
    BIGINTs (so the 64-term sum is order-free), one final double
    division. One explode + one (label, dim)-keyed aggregate + one
    label rollup -- bounded keys end to end."""
    from .queries_llm import EMB_DIM

    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "label",
        "half",
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("v").cast("double") * _DRIFT_SCALE).cast("long").alias("s"),
    )
    agg = flat.groupBy("label", "dim").agg(
        F.coalesce(F.sum(F.when(F.col("half") == 0, F.col("s"))), F.lit(0)).alias("s0"),
        F.count(F.when(F.col("half") == 0, 1)).alias("n0"),
        F.coalesce(F.sum(F.when(F.col("half") == 1, F.col("s"))), F.lit(0)).alias("s1"),
        F.count(F.when(F.col("half") == 1, 1)).alias("n1"),
    )
    num = F.abs(F.col("s0") * F.col("n1") - F.col("s1") * F.col("n0"))
    return (
        agg.groupBy("label", "n0", "n1")
        .agg(F.sum(num).alias("drift_num"))
        .select(
            F.col("label").cast("long").alias("label"),
            F.col("n0").cast("long").alias("n_ref"),
            F.col("n1").cast("long").alias("n_cur"),
            F.col("drift_num").cast("long").alias("drift_num"),
            F.when(
                (F.col("n0") == 0) | (F.col("n1") == 0), F.lit(None)
            )
            .otherwise(
                F.col("drift_num").cast("double")
                / (
                    F.col("n0").cast("double")
                    * F.col("n1")
                    * F.lit(_DRIFT_SCALE)
                    * F.lit(EMB_DIM)
                )
            )
            .alias("drift_l1_mean"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Dedup strategy agreement: the MinHash-LSH candidate pairs vs the
# DF-capped exact-Jaccard pairs, as one summary row of overlap /
# precision-shaped / recall-shaped ppms. Both sides are REGISTERED
# strategies with their own oracles; this eval quantifies how much
# the sketch path and the exact path agree on the same corpus --
# the go/no-go number for replacing the exact join with the sketch
# at scale. (Named "agreement", not precision/recall: the exact side
# is itself DF-capped, so neither side is unconditioned ground truth.)
# ---------------------------------------------------------------------------


def _pair_agreement_sql() -> str:
    from . import queries_llm as _llm

    lsh = _llm._minhash_lsh_sql().strip()
    jac = _llm._jaccard_sql().strip()
    return f"""
WITH lsh AS (
{lsh}
),
jac AS (
{jac}
),
j AS (SELECT id_a, id_b FROM jac),
tp AS (
  SELECT count(*) AS n FROM lsh JOIN j USING (id_a, id_b))
SELECT CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_lsh,
       CAST((SELECT count(*) FROM j) AS BIGINT) AS n_exact,
       CAST(tp.n AS BIGINT) AS n_both,
       CAST((1000000 * tp.n) // (SELECT count(*) FROM lsh) AS BIGINT) AS agree_vs_lsh_ppm,
       CAST((1000000 * tp.n) // (SELECT count(*) FROM j) AS BIGINT) AS agree_vs_exact_ppm
FROM tp
"""


@query("dedup_pair_agreement_eval", _pair_agreement_sql())
def dedup_pair_agreement_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row agreement summary between the LSH candidate pairs and
    the DF-capped exact-Jaccard pairs (both registered strategies
    reused as-is). The join is pair-keyed (bounded by the smaller
    pair set); counts and ppms are exact."""
    from . import queries_llm as _llm

    lsh = _llm.dedup_minhash_lsh_pairs(spark, sf_dir).select(
        "id_a", "id_b"
    )
    jac = _llm.dedup_ngram_jaccard(spark, sf_dir).select(
        "id_a", "id_b"
    )
    from ..operators._cache import track_persist

    lsh = track_persist(lsh)
    jac = track_persist(jac)
    n_lsh = lsh.count()
    n_exact = jac.count()
    n_both = lsh.join(jac, ["id_a", "id_b"]).count()
    # counts are driver-side scalars by design: the output IS one
    # summary row (same sanctioned pattern as provenance_file_counts).
    # An empty pair set yields NULL ppm, matching DuckDB's // NULL
    # semantics (caps can legitimately prune every candidate).
    return spark.createDataFrame(
        [
            (
                n_lsh,
                n_exact,
                n_both,
                (1000000 * n_both) // n_lsh if n_lsh else None,
                (1000000 * n_both) // n_exact if n_exact else None,
            )
        ],
        "n_lsh long, n_exact long, n_both long, "
        "agree_vs_lsh_ppm long, agree_vs_exact_ppm long",
    )


# ---------------------------------------------------------------------------
# Class-balanced downsampling: cap every label at the minority-class
# count, keeping a deterministic md5-ordered sample per label -- the
# standard prep for training on skewed labels. The kept-id SUM is
# part of the output, so the oracle value-checks the exact SELECTION,
# not just the sizes.
# ---------------------------------------------------------------------------

_BAL_SQL = """
WITH n AS (SELECT label, count(*) AS n_total FROM embeddings GROUP BY label),
cap AS (SELECT min(n_total) AS cap FROM n),
r AS (
  SELECT label, vec_id,
         row_number() OVER (PARTITION BY label ORDER BY
           md5(concat('bal:', CAST(vec_id AS VARCHAR))), vec_id) AS rk
  FROM embeddings),
kept AS (SELECT label, vec_id FROM r, cap WHERE rk <= cap.cap)
SELECT CAST(n.label AS BIGINT) AS label,
       CAST(n.n_total AS BIGINT) AS n_total,
       CAST(count(kept.vec_id) AS BIGINT) AS n_kept,
       CAST(sum(kept.vec_id) AS BIGINT) AS kept_id_sum
FROM n LEFT JOIN kept ON n.label = kept.label
GROUP BY n.label, n.n_total
ORDER BY label
"""


@query("sample_balanced_classes", _BAL_SQL)
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample every label to the minority-class count with a
    deterministic md5-ranked pick. Plan shape: one bounded groupBy for
    class sizes, a broadcast one-row cap, one per-label window over
    label partitions (never global). kept_id_sum makes the selection
    itself hash-checkable."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.groupBy("label").agg(F.count("*").alias("n_total"))
    cap = n.agg(F.min("n_total").alias("cap"))
    w = Window.partitionBy("label").orderBy(*sample_order("vec_id", "bal"))
    r = emb.select("label", "vec_id").withColumn("rk", F.row_number().over(w))
    kept = r.crossJoin(F.broadcast(cap)).where(F.col("rk") <= F.col("cap"))
    return (
        n.join(
            kept.select(F.col("label").alias("k_label"), "vec_id"),
            n["label"] == F.col("k_label"),
            "left",
        )
        .groupBy("label", "n_total")
        .agg(
            F.count("vec_id").cast("long").alias("n_kept"),
            F.sum("vec_id").cast("long").alias("kept_id_sum"),
        )
        .select(
            F.col("label").cast("long").alias("label"),
            F.col("n_total").cast("long").alias("n_total"),
            "n_kept",
            "kept_id_sum",
        )
        .orderBy("label")
    )
