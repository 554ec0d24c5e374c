"""Thirteenth LLM-pipeline batch: retrieval and metric-learning data
prep — positional phrase search (the inverted-index probe shape),
b-bit minhash calibration (Li & König, WWW 2010), and deterministic
contrastive pair mining over the labeled embedding corpus.

Discipline as everywhere: oracles generated from the same constants,
integer domains, md5-derived determinism, no libm transcendentals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .queries_llm import SHINGLE_N, _DOCS_WITH_DUPS_SQL, _TOKS, _docs_with_dups
from .registry import query


# shared constants
PHRASES = [("p1", "order", "fast"), ("p2", "join", "column")]
BBIT_K = 8  # signature length (sha256 chunk budget)
CONTRA_ANCHORS = 20  # vec_id < this are anchors
CONTRA_POS = 2  # positives per anchor
CONTRA_NEG = 2  # negatives per anchor


# ---------------------------------------------------------------------------
# Positional phrase search: the inverted-index probe. Postings
# (token, doc, pos) are built ONLY for the phrase's tokens (the
# pushed-down probe — an index scan, not a corpus scan), then the
# bigram match is a positional self-join pos_b = pos_a + 1. Output is
# per (phrase, doc): occurrence count and first match position.
# ---------------------------------------------------------------------------


def _phrase_sql() -> str:
    toks_needed = sorted({w for _, a, b in PHRASES for w in (a, b)})
    toks_lit = ", ".join(f"'{w}'" for w in toks_needed)
    phrase_rows = " UNION ALL ".join(
        f"SELECT '{pid}' AS phrase_id, '{a}' AS w1, '{b}' AS w2"
        for pid, a, b in PHRASES
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
post AS (
  SELECT doc_id, i AS pos, toks[i] AS tok
  FROM t, unnest(generate_series(1, len(toks))) AS u(i)
  WHERE toks[i] IN ({toks_lit})),
phrases AS ({phrase_rows}),
m AS (
  SELECT p.phrase_id, a.doc_id, a.pos
  FROM phrases p
  JOIN post a ON a.tok = p.w1
  JOIN post b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.tok = p.w2)
SELECT phrase_id, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(min(pos) AS BIGINT) AS first_pos
FROM m
GROUP BY phrase_id, doc_id
ORDER BY phrase_id, doc_id
"""


@query("text_phrase_search", _phrase_sql())
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase matching through positional postings: explode
    (doc, pos, token) restricted to the phrase vocabulary (the filter
    IS the index probe — at 100 TB the posting table is prebuilt and
    bucketed by token, so this plan touches only the phrase's posting
    lists), then adjacency via a (doc, pos+1) equi-join. Per-doc
    occurrence counts and first positions, deterministic."""
    from ..functions.text import tokens

    toks_needed = sorted({w for _, a, b in PHRASES for w in (a, b)})
    docs = load_table(spark, sf_dir, "documents")
    post = (
        docs.select("doc_id", F.posexplode(tokens("text")).alias("pos0", "tok"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
        .filter(F.col("tok").isin(*toks_needed))
    )
    from ..operators._cache import track_persist

    post = track_persist(post)
    phrases = spark.createDataFrame(
        list(PHRASES), "phrase_id string, w1 string, w2 string"
    )
    a = post.select("doc_id", "pos", F.col("tok").alias("w1"))
    b = post.select(
        F.col("doc_id").alias("b_doc"),
        F.col("pos").alias("b_pos"),
        F.col("tok").alias("tok_b"),
    )
    m = (
        a.join(F.broadcast(phrases), "w1")
        .join(
            b,
            (F.col("b_doc") == F.col("doc_id"))
            & (F.col("b_pos") == F.col("pos") + 1),
        )
        .filter(F.col("tok_b") == F.col("w2"))
    )
    return (
        m.groupBy("phrase_id", "doc_id")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.min("pos").cast("long").alias("first_pos"),
        )
        .select(
            "phrase_id",
            F.col("doc_id").cast("long").alias("doc_id"),
            "n_occurrences",
            "first_pos",
        )
        .orderBy("phrase_id", "doc_id")
    )


# ---------------------------------------------------------------------------
# b-bit minhash calibration (b = 1): store only the lowest bit of each
# of the k minhash chunks and estimate Jaccard from the equal-bit
# fraction c via the Li & König unbiased form J_hat = 2c - 1 (for
# b=1, c0 = 1/2). The eval reports J_hat against the exact Jaccard
# for every LSH candidate pair, making the 32x storage cut's accuracy
# cost a checked number. Bits come from the LAST hex char's parity of
# each chunk — engine-portable string ops, no bit casts.
# ---------------------------------------------------------------------------

_ODD_HEX = "('1','3','5','7','9','b','d','f')"


def _bbit_sql() -> str:
    from .queries_llm import MINHASH_BUCKET_CAP, _minhash_lsh_sql, _shingles_sql

    # cap passed explicitly so the coupling with the Spark twin's
    # max_bucket_width=MINHASH_BUCKET_CAP stays visible
    pairs_inner = _minhash_lsh_sql(
        k=BBIT_K, bands=4, n=SHINGLE_N, cap=MINHASH_BUCKET_CAP
    ).strip()
    sig_cols = ",\n  ".join(
        f"list_min(list_transform(shd, x -> substr(sha256(x), {i * 8 + 1}, 8))) AS mh_{i}"
        for i in range(BBIT_K)
    )
    bits = " + ".join(
        f"(CASE WHEN (substr(sa.mh_{i}, 8, 1) IN {_ODD_HEX}) = "
        f"(substr(sb.mh_{i}, 8, 1) IN {_ODD_HEX}) THEN 1 ELSE 0 END)"
        for i in range(BBIT_K)
    )
    return f"""
WITH pairs AS ({pairs_inner}),
{_DOCS_WITH_DUPS_SQL.strip()},
t2 AS (SELECT doc_id, {_TOKS} AS toks FROM docs),
sh2 AS (SELECT doc_id, list_distinct({_shingles_sql("toks", SHINGLE_N)}) AS shd FROM t2),
sig2 AS (SELECT doc_id, {sig_cols} FROM sh2)
SELECT p.id_a, p.id_b,
       CAST({bits} AS BIGINT) AS n_equal_bits,
       CAST({BBIT_K} AS BIGINT) AS k,
       (2.0 * ({bits}) - {BBIT_K}) / {BBIT_K} AS j_bbit_est,
       CAST(len(list_intersect(ha.shd, hb.shd)) AS DOUBLE)
         / (len(ha.shd) + len(hb.shd) - len(list_intersect(ha.shd, hb.shd)))
         AS j_exact
FROM pairs p
JOIN sig2 sa ON p.id_a = sa.doc_id
JOIN sig2 sb ON p.id_b = sb.doc_id
JOIN sh2 ha ON p.id_a = ha.doc_id
JOIN sh2 hb ON p.id_b = hb.doc_id
"""


@query("dedup_minhash_bbit_eval", _bbit_sql())
def dedup_minhash_bbit_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minhash (Li & König 2010, b=1): J_hat = 2c - 1 from the
    equal-bit fraction of 1-bit-truncated minhashes, vs the exact
    Jaccard, per LSH candidate pair. With k=8 the estimate moves in
    0.25 steps — the eval EXHIBITS the k-vs-storage tradeoff instead
    of hiding it (production runs k >= 64; the machinery is
    identical). Exact intersections run only for candidates."""
    from ..functions.text import shingles
    from ..operators._cache import track_persist
    from ..operators.dedup import minhash_lsh_pairs, minhash_signature
    from .queries_llm import MINHASH_BUCKET_CAP

    k, n = BBIT_K, SHINGLE_N
    docs = _docs_with_dups(spark, sf_dir)
    dshing = docs.withColumn("shd", F.array_distinct(shingles("text", n))).select(
        "doc_id", "shd"
    )
    # ONE signature pass, shared by the bit columns AND the LSH
    # banding (sig= kwarg) — without it the tokenize+shingle+sha256
    # lineage runs twice per query
    sigs = track_persist(
        minhash_signature(docs, "text", k=k, shingle_n=n).select(
            "doc_id", *[f"minhash_{i}" for i in range(k)]
        )
    )
    pairs = minhash_lsh_pairs(
        docs,
        "text",
        "doc_id",
        k=k,
        bands=4,
        shingle_n=n,
        max_bucket_width=MINHASH_BUCKET_CAP,
        sig=sigs,
    )

    def bit(col: str):
        return F.substring(col, 8, 1).isin(
            "1", "3", "5", "7", "9", "b", "d", "f"
        )

    sa = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[bit(f"minhash_{i}").alias(f"ba_{i}") for i in range(k)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[bit(f"minhash_{i}").alias(f"bb_{i}") for i in range(k)],
    )
    ha = dshing.select(F.col("doc_id").alias("id_a"), F.col("shd").alias("sha"))
    hb = dshing.select(F.col("doc_id").alias("id_b"), F.col("shd").alias("shb"))
    n_eq = sum(
        F.when(F.col(f"ba_{i}") == F.col(f"bb_{i}"), 1).otherwise(0)
        for i in range(k)
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .join(ha, "id_a")
        .join(hb, "id_b")
        .select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            n_eq.cast("long").alias("n_equal_bits"),
            F.lit(k).cast("long").alias("k"),
            ((F.lit(2.0) * n_eq - k) / k).alias("j_bbit_est"),
            (
                inter.cast("double")
                / (F.size("sha") + F.size("shb") - inter)
            ).alias("j_exact"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic contrastive pair mining: for each anchor, the top
# CONTRA_POS same-label and top CONTRA_NEG different-label candidates
# under an md5 priority — the reproducible positive/negative sampling
# a metric-learning data loader needs (InfoNCE/triplet prep). The
# md5 rank replaces RNG state, so reruns and the oracle agree exactly.
# ---------------------------------------------------------------------------


def _contra_sql() -> str:
    pri = (
        "CAST(concat('0x', substr(md5(concat('cp:', CAST(a.vec_id AS VARCHAR), "
        "':', CAST(c.vec_id AS VARCHAR))), 1, 8)) AS BIGINT)"
    )
    return f"""
WITH anchors AS (
  SELECT vec_id, label FROM embeddings WHERE vec_id < {CONTRA_ANCHORS}),
ranked AS (
  SELECT a.vec_id AS anchor_id, c.vec_id AS cand_id,
         CASE WHEN c.label = a.label THEN 1 ELSE 0 END AS is_positive,
         row_number() OVER (
           PARTITION BY a.vec_id, CASE WHEN c.label = a.label THEN 1 ELSE 0 END
           ORDER BY {pri}, c.vec_id) AS rnk
  FROM anchors a
  JOIN embeddings c ON c.vec_id <> a.vec_id)
SELECT CAST(anchor_id AS BIGINT) AS anchor_id,
       CAST(cand_id AS BIGINT) AS cand_id,
       CAST(is_positive AS BIGINT) AS is_positive,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked
WHERE (is_positive = 1 AND rnk <= {CONTRA_POS})
   OR (is_positive = 0 AND rnk <= {CONTRA_NEG})
ORDER BY anchor_id, is_positive DESC, rnk
"""


@query("emb_contrastive_pairs", _contra_sql())
def emb_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible contrastive pairs: per anchor, CONTRA_POS
    same-label positives and CONTRA_NEG cross-label negatives ranked
    by an md5 priority (RNG-free, so the selection is replayable and
    oracle-exact). 100 TB shape: anchors are a pushed-down slice; the
    candidate join fans out |anchors| x corpus and the window caps it
    to k per (anchor, side) — at scale the candidate set is first cut
    by an LSH/IVF bucket join (ann_cosine_ivf), keeping this exact
    md5-rank step as the final, bounded selection."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    anchors = emb.filter(F.col("vec_id") < CONTRA_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("a_label")
    )
    cands = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("label").alias("c_label")
    )
    # anchors is a constant-bounded slice (< CONTRA_ANCHORS rows), so
    # the candidate fan-out is a crossJoin against a broadcast tiny
    # frame — the sanctioned bounded-BNLJ shape, filtered on != self
    joined = cands.crossJoin(F.broadcast(anchors)).filter(
        F.col("cand_id") != F.col("anchor_id")
    )
    pri = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("cp:"),
                    F.col("anchor_id").cast("string"),
                    F.lit(":"),
                    F.col("cand_id").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    side = F.when(F.col("c_label") == F.col("a_label"), 1).otherwise(0)
    w = Window.partitionBy("anchor_id", "is_positive").orderBy("pri", "cand_id")
    ranked = (
        joined.withColumn("is_positive", side)
        .withColumn("pri", pri)
        .withColumn("rnk", F.row_number().over(w))
    )
    return (
        ranked.filter(
            ((F.col("is_positive") == 1) & (F.col("rnk") <= CONTRA_POS))
            | ((F.col("is_positive") == 0) & (F.col("rnk") <= CONTRA_NEG))
        )
        .select(
            F.col("anchor_id").cast("long").alias("anchor_id"),
            F.col("cand_id").cast("long").alias("cand_id"),
            F.col("is_positive").cast("long").alias("is_positive"),
            F.col("rnk").cast("long").alias("rnk"),
        )
        .orderBy("anchor_id", F.col("is_positive").desc(), "rnk")
    )
