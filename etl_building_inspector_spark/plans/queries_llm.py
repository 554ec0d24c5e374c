"""Training-data-pipeline queries (text analysis, dedup, similarity)
over the documents/embeddings fixtures, each with an exact DuckDB
oracle. The oracle SQL strings are generated from the same constants as
the Spark operators (seeds, stopword lists, shingle sizes), so the two
sides cannot drift.

Portability rules (see queries_core.py header): md5-derived hashing
only, sequential folds (F.aggregate <-> list_reduce), no round() on
ratios/cosines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    LANG_STOPWORDS,
    fingerprint,
    lang_id,
    quality_features,
    shingles,
    tokens,
)
from ..operators._cache import track_persist
from ..operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
    simhash_hamming_pairs,
)
from ..operators.similarity import (
    CENT_SALT,
    LSH_PLANES_CAP,
    LSH_PLANES_FLOOR,
    LSH_TARGET_BUCKET_WIDTH,
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    embedding_neardup_lsh,
    lsh_planes,
)
from ..sources.tables import load_table
from .registry import query

# LSH geometry shared by the Spark plans AND the generated DuckDB
# oracles below -- single source of truth, the two sides cannot drift.
# (L=8 tables x m=3 planes: recall 0.90 vs brute-force top-5 at
# sf0.01, same plane-literal count as the round-1 6x4 config; see
# SCALING.md recall curve.)
ANN_LSH_TABLES = 8
ANN_LSH_PLANES = 3
EMB_DIM = 64
NEARDUP_THRESHOLD = 0.35
NEARDUP_BUCKET_CAP = 32
MINHASH_BUCKET_CAP = 16
JACCARD_DF_CAP = 32
# MinHash signature length and the shingle size of the MinHash and
# n-gram Jaccard dedups; SimHash widths and the hamming bound of the
# pair join; the Jaccard threshold.
MINHASH_K = 8
SHINGLE_N = 3
SIMHASH_BITS = 16
SIMHASH_PAIR_BITS = 32
SIMHASH_MAX_HAMMING = 3
JACCARD_THRESHOLD = 0.5
# The ANN query set: vectors with vec_id < ANN_QUERIES ask for their
# ANN_K nearest neighbours. The sampled IVF probes IVF_PROBE of
# IVF_CENTROIDS cells: random uniform 64-dim vectors are IVF's worst
# case (cosines concentrate near 0); 6/16 probes holds recall ~0.56 vs
# brute force while still skipping 62% of the corpus.
ANN_QUERIES = 10
ANN_K = 5
IVF_CENTROIDS = 16
IVF_PROBE = 6


# --- shared SQL fragments (twins of functions/text.py) ---------------------

_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
_TOKS = f"str_split({_NORM}, ' ')"


def _shingles_sql(toks: str, n: int = 3) -> str:
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"[array_to_string({toks}[i:i+{n - 1}], ' ') "
        f"for i in generate_series(1, len({toks}) - {n - 1})] "
        f"ELSE []::VARCHAR[] END"
    )


def _stop_hits_sql(toks: str, words: tuple[str, ...]) -> str:
    lit = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter({toks}, x -> list_contains({lit}, x)))"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "text_token_stats",
    f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(length(array_to_string(toks, '')) AS DOUBLE) / len(toks) AS mean_token_len,
  CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
    / length(text) AS punct_ratio,
  CAST({_stop_hits_sql("toks", LANG_STOPWORDS["en"])} AS DOUBLE) / len(toks) AS stopword_ratio
FROM t
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # materialize tokens once; the five features reference the column
    # instead of each re-deriving tokenize (measured 6x faster at sf0.1)
    staged = docs.withColumn("__toks", tokens("text"))
    feats = quality_features("text", toks=F.col("__toks"))
    return staged.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        feats["n_chars"].cast("long").alias("n_chars"),
        feats["n_tokens"].cast("long").alias("n_tokens"),
        feats["mean_token_len"].alias("mean_token_len"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
    )


def _lang_id_sql() -> str:
    langs = sorted(LANG_STOPWORDS)  # alphabetical = tie-break order
    hits = {
        lang: _stop_hits_sql("toks", LANG_STOPWORDS[lang]) for lang in langs
    }
    score_cols = ",\n  ".join(f"{hits[lang]} AS s_{lang}" for lang in langs)
    all_zero = " AND ".join(f"s_{lang} = 0" for lang in langs)
    case_lines = []
    for i, lang in enumerate(langs):
        later = [f"s_{lang} >= s_{other}" for other in langs[i + 1 :]]
        cond = " AND ".join(later) if later else "TRUE"
        case_lines.append(f"WHEN {cond} THEN '{lang}'")
    case = "\n    ".join(case_lines)
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id,
  {score_cols}
FROM t)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CASE WHEN {all_zero} THEN 'und'
    {case}
  END AS lang_pred
FROM s
"""


@query("text_lang_id", _lang_id_sql())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.withColumn("__toks", tokens("text"))
    return staged.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        lang_id("text", toks=F.col("__toks")).alias("lang_pred"),
    )


@query(
    "text_fingerprint",
    f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       md5({_NORM}) AS fingerprint
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        fingerprint("text").alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Dedup family. Near-duplicates are synthesized identically on both
# sides (copy with the last token dropped for doc_id % 5 = 0) because
# the fixture corpus is fully distinct.
# ---------------------------------------------------------------------------

_DOCS_WITH_DUPS_SQL = f"""
docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         array_to_string(({_TOKS})[1:len({_TOKS}) - 1], ' ') AS text
  FROM documents WHERE doc_id % 5 = 0
)
"""


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = tokens("text")
    mutated = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    ).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(" ", F.slice(t, 1, F.size(t) - 1)).alias("text"),
    )
    return docs.unionByName(mutated)


@query(
    "dedup_exact_text",
    f"""
WITH {_DOCS_WITH_DUPS_SQL.strip()}
SELECT md5({_NORM}) AS fp,
       CAST(min(doc_id) AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS dup_count
FROM docs
GROUP BY 1
""",
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs_with_dups(spark, sf_dir), "text", "doc_id").select(
        "fp", F.col("doc_id").cast("long").alias("doc_id"), F.col("dup_count")
    )


def _minhash_sig_sql() -> str:
    sig_cols = ",\n  ".join(
        f"list_min(list_transform(sh, x -> substr(sha256(x), {i * 8 + 1}, 8))) AS minhash_{i}"
        for i in range(MINHASH_K)
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_shingles_sql("toks", SHINGLE_N)} AS sh FROM t)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  {sig_cols}
FROM sh
"""


@query("dedup_minhash_signature", _minhash_sig_sql())
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sig = minhash_signature(docs, "text", k=MINHASH_K, shingle_n=SHINGLE_N)
    return sig.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *[f"minhash_{i}" for i in range(MINHASH_K)],
    )


def _lsh_buckets_cte(k: int = 8, bands: int = 4, n: int = 3) -> str:
    """The docs -> tokens -> shingles -> signatures -> band buckets
    CTE chain, shared by the LSH pairs oracle and the cap-loss report
    (queries_llm16) so the banding construction cannot drift."""
    rpb = k // bands
    sig_cols = ",\n  ".join(
        f"list_min(list_transform(sh, x -> substr(sha256(x), {i * 8 + 1}, 8))) AS minhash_{i}"
        for i in range(k)
    )
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws('|', "
        + ", ".join(f"minhash_{b * rpb + r}" for r in range(rpb))
        + ")) AS key FROM sig"
        for b in range(bands)
    )
    return f"""{_DOCS_WITH_DUPS_SQL.strip()},
t AS (SELECT doc_id, {_TOKS} AS toks FROM docs),
sh AS (SELECT doc_id, {_shingles_sql("toks", n)} AS sh FROM t),
sig AS (SELECT doc_id, {sig_cols} FROM sh),
buckets AS ({band_selects})"""


def _minhash_lsh_sql(
    k: int = 8, bands: int = 4, n: int = 3, cap: int = MINHASH_BUCKET_CAP
) -> str:
    return f"""
WITH {_lsh_buckets_cte(k, bands, n)},
kept AS (SELECT band, key FROM buckets GROUP BY band, key HAVING count(*) <= {cap}),
b2 AS (SELECT buckets.* FROM buckets JOIN kept USING (band, key))
SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS id_a,
                CAST(b.doc_id AS BIGINT) AS id_b
FROM b2 a JOIN b2 b
  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
"""


@query("dedup_minhash_lsh_pairs", _minhash_lsh_sql())
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_dups(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        docs,
        "text",
        "doc_id",
        k=8,
        bands=4,
        shingle_n=3,
        max_bucket_width=MINHASH_BUCKET_CAP,
    )
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
    )


def _simhash_total_sql(bits: int) -> str:
    """DuckDB twin of operators/dedup.simhash over a `toks` list: the
    sum of 2^b for every bit b whose per-token md5 votes are net
    positive."""
    h = "CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)"
    terms = []
    for b in range(bits):
        vote = (
            f"list_sum(list_transform(toks, tok -> "
            f"CASE WHEN ({h} >> {b}) & 1 = 1 THEN 1 ELSE -1 END))"
        )
        terms.append(f"(CASE WHEN {vote} > 0 THEN {2**b} ELSE 0 END)")
    return "\n  + ".join(terms)


def _simhash_sql() -> str:
    total = _simhash_total_sql(SIMHASH_BITS)
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST({total} AS BIGINT) AS simhash
FROM t
"""


@query("dedup_simhash", _simhash_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash(docs, "text", bits=SIMHASH_BITS).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("simhash").cast("long").alias("simhash"),
    )


def _simhash_pairs_sql() -> str:
    """Brute-force twin of the banded hamming join: banding with
    max_hamming < bands is lossless (pigeonhole over disjoint bit
    slices), so the O(n^2) threshold join IS the exact semantics."""
    total = _simhash_total_sql(SIMHASH_PAIR_BITS)
    return f"""
WITH {_DOCS_WITH_DUPS_SQL.strip()},
t AS (SELECT doc_id, {_TOKS} AS toks FROM docs),
s AS (SELECT doc_id, CAST({total} AS BIGINT) AS simhash FROM t)
SELECT CAST(a.doc_id AS BIGINT) AS id_a,
       CAST(b.doc_id AS BIGINT) AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


@query("dedup_simhash_hamming_pairs", _simhash_pairs_sql())
def dedup_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS: banded bit-slice blocking + exact
    popcount(xor) filter (operators/dedup.simhash_hamming_pairs).
    The blocking is exact for hamming <= bands-1, so the DuckDB twin
    is the brute-force threshold join — a rare case where an LSH-style
    candidate scheme has a value-exact oracle, not just recall."""
    docs = _docs_with_dups(spark, sf_dir)
    return simhash_hamming_pairs(
        docs,
        "text",
        "doc_id",
        bits=SIMHASH_PAIR_BITS,
        bands=4,
        max_hamming=SIMHASH_MAX_HAMMING,
    )


def _jaccard_sql() -> str:
    return f"""
WITH {_DOCS_WITH_DUPS_SQL.strip()},
t AS (SELECT doc_id, {_TOKS} AS toks FROM docs),
sh0 AS (SELECT doc_id, unnest(list_distinct({_shingles_sql("toks", SHINGLE_N)})) AS s FROM t),
dfreq AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= {JACCARD_DF_CAP}),
sh AS (SELECT sh0.doc_id,
              CAST(concat('0x', substr(md5(sh0.s), 1, 15)) AS BIGINT) AS s
       FROM sh0 JOIN dfreq USING (s)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= {JACCARD_THRESHOLD}
"""


@query("dedup_ngram_jaccard", _jaccard_sql())
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_dups(spark, sf_dir)
    pairs = ngram_jaccard_pairs(
        docs,
        "text",
        "doc_id",
        shingle_n=SHINGLE_N,
        threshold=JACCARD_THRESHOLD,
        max_doc_freq=JACCARD_DF_CAP,
    )
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "jaccard",
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings (array<float>, 64-dim fixtures).
# ---------------------------------------------------------------------------

_DOT_SQL = (
    "list_reduce([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
    "for i in generate_series(1, len({a}))], (x, y) -> x + y)"
)

_EMB_DOT = (
    "list_reduce([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) "
    "for i in generate_series(1, len(a.embedding))], (x, y) -> x + y)"
)
_EMB_NORM_A = (
    "sqrt(list_reduce([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE) "
    "for i in generate_series(1, len(a.embedding))], (x, y) -> x + y))"
)
_EMB_NORM_B = (
    "sqrt(list_reduce([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) "
    "for i in generate_series(1, len(b.embedding))], (x, y) -> x + y))"
)


def _ann_sql() -> str:
    dot_qc = _DOT_SQL.format(a="qe", b="ce")
    # norms via self-dot; 0.0 init matches F.aggregate's zero seed
    # (0 + x == x exactly in IEEE, so list_reduce without init agrees).
    dot_qq = _DOT_SQL.format(a="qe", b="qe")
    dot_cc = _DOT_SQL.format(a="ce", b="ce")
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
           WHERE vec_id < {ANN_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
sims AS (
  SELECT query_id, neighbor_id,
         {dot_qc} / (sqrt({dot_qq}) * sqrt({dot_cc})) AS cosine
  FROM q, c WHERE query_id <> neighbor_id
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       cosine,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
       ) AS BIGINT) AS rank
FROM sims
QUALIFY rank <= {ANN_K}
"""


@query("ann_cosine_topk", _ann_sql())
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    out = cosine_topk_bruteforce(emb, queries, "embedding", "vec_id", k=ANN_K)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


# --- LSH bucket SQL twins ---------------------------------------------------
# The hyperplanes are md5-derived doubles (similarity._hyperplane), so
# the DuckDB twin is GENERATED from the same lsh_planes() call the
# Spark plan folds into literals. repr(float) round-trips exactly
# through DuckDB's decimal parser, and both engines fold the dot
# product left-to-right, so the bucket signs (and hence candidate
# sets) are bit-identical.


def _planes_cte(n_tables: int, m: int) -> str:
    rows = ",\n    ".join(
        f"({t}, {bit}, [" + ", ".join(repr(v) for v in vec) + "])"
        for t, bit, vec in lsh_planes(n_tables, m, EMB_DIM)
    )
    return f"planes(tbl, bit, vec) AS (VALUES\n    {rows})"


_PLANE_DOT = (
    "list_reduce([CAST(e.embedding[i] AS DOUBLE) * pl.vec[i] "
    "for i in generate_series(1, len(e.embedding))], (x, y) -> x + y)"
)


def _buckets_cte(src: str = "embeddings") -> str:
    return f"""buckets AS (
  SELECT e.vec_id AS vid, pl.tbl AS tbl,
         CAST(sum(CASE WHEN {_PLANE_DOT} > 0 THEN pl.bit ELSE 0 END) AS BIGINT) AS bucket
  FROM {src} e CROSS JOIN planes pl
  GROUP BY 1, 2
)"""


def _ann_lsh_sql() -> str:
    return f"""
WITH {_planes_cte(ANN_LSH_TABLES, ANN_LSH_PLANES)},
{_buckets_cte()},
q AS (SELECT * FROM buckets WHERE vid < {ANN_QUERIES}),
cand AS (
  SELECT DISTINCT q.vid AS query_id, c.vid AS neighbor_id
  FROM buckets c JOIN q ON c.tbl = q.tbl AND c.bucket = q.bucket AND q.vid <> c.vid
),
sims AS (
  SELECT query_id, neighbor_id,
         {_EMB_DOT} / ({_EMB_NORM_A} * {_EMB_NORM_B}) AS cosine
  FROM cand
  JOIN embeddings a ON a.vec_id = query_id
  JOIN embeddings b ON b.vec_id = neighbor_id
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       cosine,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
       ) AS BIGINT) AS rank
FROM sims
QUALIFY rank <= {ANN_K}
"""


@query("ann_cosine_lsh", _ann_lsh_sql())
def ann_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-green oracle: the DuckDB twin regenerates the hyperplanes
    from the same seeds. Recall >= 0.8 vs brute force is additionally
    pinned in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    out = cosine_topk_lsh(
        emb,
        queries,
        "embedding",
        "vec_id",
        k=ANN_K,
        n_tables=ANN_LSH_TABLES,
        planes_per_table=ANN_LSH_PLANES,
        dim=EMB_DIM,
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


def _ivf_sampled_sql() -> str:
    cos_ec = (
        "list_reduce([CAST(e.embedding[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE) "
        "for i in generate_series(1, len(e.embedding))], (x, y) -> x + y)"
        " / ("
        "sqrt(list_reduce([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) "
        "for i in generate_series(1, len(e.embedding))], (x, y) -> x + y))"
        " * "
        "sqrt(list_reduce([CAST(c.cvec[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE) "
        "for i in generate_series(1, len(c.cvec))], (x, y) -> x + y)))"
    )
    return f"""
WITH r AS (
  SELECT vec_id, embedding,
         row_number() OVER (ORDER BY
           md5(concat('{CENT_SALT}:', CAST(vec_id AS VARCHAR))), vec_id) AS rk
  FROM embeddings),
cent AS (SELECT vec_id AS cent_id, embedding AS cvec FROM r WHERE rk <= {IVF_CENTROIDS}),
assign AS (
  SELECT vec_id AS neighbor_id, cent_id FROM (
    SELECT e.vec_id, c.cent_id,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {cos_ec} DESC, c.cent_id) AS arnk
    FROM embeddings e CROSS JOIN cent c) WHERE arnk = 1),
qp AS (
  SELECT query_id, cent_id FROM (
    SELECT e.vec_id AS query_id, c.cent_id,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {cos_ec} DESC, c.cent_id) AS prnk
    FROM embeddings e CROSS JOIN cent c
    WHERE e.vec_id < {ANN_QUERIES}) WHERE prnk <= {IVF_PROBE}),
cand AS (
  SELECT qp.query_id, a.neighbor_id
  FROM qp JOIN assign a USING (cent_id)
  WHERE qp.query_id <> a.neighbor_id),
sims AS (
  SELECT query_id, neighbor_id,
         {_EMB_DOT} / ({_EMB_NORM_A} * {_EMB_NORM_B}) AS cosine
  FROM cand
  JOIN embeddings a ON a.vec_id = query_id
  JOIN embeddings b ON b.vec_id = neighbor_id)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       cosine,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
       ) AS BIGINT) AS rank
FROM sims
QUALIFY rank <= {ANN_K}
"""


@query("ann_cosine_ivf_sampled", _ivf_sampled_sql())
def ann_cosine_ivf_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with md5-sampled centroids: same inverted-file shape as
    the KMeans variant but fully deterministic, so the whole pipeline
    (centroid choice -> assignment -> probes -> exact rescoring) has an
    exact DuckDB oracle instead of a rows-only check."""
    from ..operators.similarity import cosine_topk_ivf_sampled

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    out = cosine_topk_ivf_sampled(
        emb,
        queries,
        "embedding",
        "vec_id",
        k=ANN_K,
        n_centroids=IVF_CENTROIDS,
        n_probe=IVF_PROBE,
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


@query("ann_cosine_ivf")  # rows-only: KMeans centroids aren't SQL-expressible
def ann_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (KMeans coarse quantization + multi-probe); recall vs
    brute force pinned in tests/test_similarity.py."""
    from ..operators.similarity import cosine_topk_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    out = cosine_topk_ivf(emb, queries, k=ANN_K, n_centroids=IVF_CENTROIDS, n_probe=4)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


@query(
    "dedup_embedding_cosine",
    f"""
SELECT CAST(a.vec_id AS BIGINT) AS id_a,
       CAST(b.vec_id AS BIGINT) AS id_b,
       {_EMB_DOT} / ({_EMB_NORM_A} * {_EMB_NORM_B}) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_EMB_DOT} / ({_EMB_NORM_A} * {_EMB_NORM_B}) >= 0.35
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (upper triangle, cosine >=
    threshold). Exact all-pairs here (oracle-checkable); at corpus
    scale the candidate set comes from lsh_buckets/cosine_topk_lsh
    instead of the triangle join -- same scoring expression."""
    from ..operators.similarity import _cosine

    emb = load_table(spark, sf_dir, "embeddings")
    # The streamed side of an all-pairs BNLJ must be partitioned by
    # the QUADRATIC work (n x |broadcast|), not by input bytes: the
    # embeddings table is small enough that the parquet scan yields
    # ~1 partition, which serialized the whole n^2 cosine loop onto
    # one core (caught live by the r10 x10 soak -- 400M interpreted
    # HOF evals on a single task, ~2h; repartitioned it is minutes).
    # At real corpus scale the natural partitioning is already wide,
    # so this repartition only guards the small-bytes pathology.
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a")
    ).repartition(spark.sparkContext.defaultParallelism)
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("emb_b")
    )
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    # unrounded: identical sequential folds yield bit-identical doubles
    # in Spark and the DuckDB list_reduce oracle; round() is not
    # engine-portable at half-boundaries.
    scored = pairs.withColumn("cosine", _cosine(F.col("emb_a"), F.col("emb_b")))
    return scored.filter(F.col("cosine") >= 0.35).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "cosine"
    )


# Near-dup fixture: the corpus is fully-random vectors (max natural
# cosine ~0.5 at 64 dims), so -- exactly like _DOCS_WITH_DUPS_SQL for
# text -- true near-duplicates are synthesized identically on both
# sides: every vec_id % 5 = 0 vector gets a copy (id + 100000) with a
# deterministic per-coordinate perturbation x_i * (1 + 0.01*((i%7)-3)),
# cosine(orig, copy) ~ 0.9996. The 0.9 threshold is the regime where
# hyperplane LSH genuinely separates signal from background: per-plane
# agreement p = 1 - arccos(0.9996)/pi ~ 0.991 vs ~0.5 for random pairs,
# so m=8 planes give per-table collision 0.93 vs 1/256.
_EMB_WITH_DUPS_SQL = """
emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id,
         [CAST(embedding[i] AS DOUBLE) * (1 + 0.01 * (((i - 1) % 7) - 3))
          for i in generate_series(1, len(embedding))] AS embedding
  FROM embeddings WHERE vec_id % 5 = 0
)
"""

NEARDUP_LSH_TABLES = 6
NEARDUP_LSH_PLANES = 8
NEARDUP_LSH_THRESHOLD = 0.9


def _emb_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pert = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double") * (1 + 0.01 * ((i % 7) - 3)),
        ).alias("embedding"),
    )
    return base.unionByName(pert)


def _adaptive_planes_cte(n_tables: int) -> str:
    """Planes CTE that derives m from count(*) of `emb` EXACTLY as the
    engine does (similarity.adaptive_planes_per_table: m = clamp(
    ceil(log2(max(n,2)/w)), floor, cap), from the same three
    similarity.LSH_* constants), then regenerates the hyperplanes in
    SQL from the same md5 byte stream as
    similarity._hyperplane -- seed = tbl*m + p, value k of block i is
    the big-endian signed int32 at md5(f'{seed}:{i}') byte offset 4k,
    divided by 2^31 (exact in double). This retired the static-m soak
    exemption (VERDICT r8 #2): the twin now tracks the engine's
    adaptive m at EVERY fixture scale instead of only where
    adaptive_planes_per_table(n) happens to equal NEARDUP_LSH_PLANES.
    Bit-exactness of the SQL-regenerated planes vs lsh_planes() is
    pinned by tests/test_similarity.py."""
    assert EMB_DIM % 4 == 0, "block/offset grid assumes dim % 4 == 0"
    n_blocks = EMB_DIM // 4
    return f"""params AS (
  SELECT LEAST({LSH_PLANES_CAP}, GREATEST({LSH_PLANES_FLOOR}, CAST(CEIL(LOG2(
    GREATEST((SELECT count(*) FROM emb), 2) / {float(LSH_TARGET_BUCKET_WIDTH)}
  )) AS INTEGER))) AS m
),
seeds AS (
  SELECT ts.t AS tbl, ps.p AS p, CAST(1 << ps.p AS BIGINT) AS bit,
         ts.t * params.m + ps.p AS seed
  FROM generate_series(0, {n_tables - 1}) AS ts(t)
  CROSS JOIN params
  JOIN generate_series(0, {LSH_PLANES_CAP - 1}) AS ps(p) ON ps.p < params.m
),
planevals AS (
  SELECT s.tbl, s.bit, g.blk, o.off,
         ('0x' || substr(md5(s.seed || ':' || g.blk), o.off * 8 + 1, 8))::BIGINT AS raw
  FROM seeds s,
       generate_series(0, {n_blocks - 1}) AS g(blk),
       (VALUES (0), (1), (2), (3)) AS o(off)
),
planes AS (
  SELECT tbl, bit,
         list(CAST(CASE WHEN raw >= 2147483648 THEN raw - 4294967296 ELSE raw END AS DOUBLE)
              / 2147483648.0 ORDER BY blk, off) AS vec
  FROM planevals GROUP BY tbl, bit
)"""


def _neardup_lsh_sql() -> str:
    return f"""
WITH {_EMB_WITH_DUPS_SQL.strip()},
{_adaptive_planes_cte(NEARDUP_LSH_TABLES)},
{_buckets_cte("emb")},
kept AS (SELECT tbl, bucket FROM buckets GROUP BY tbl, bucket HAVING count(*) <= {NEARDUP_BUCKET_CAP}),
b2 AS (SELECT buckets.* FROM buckets JOIN kept USING (tbl, bucket)),
cand AS (
  SELECT DISTINCT x.vid AS id_a, y.vid AS id_b
  FROM b2 x JOIN b2 y ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vid < y.vid
)
SELECT CAST(c.id_a AS BIGINT) AS id_a, CAST(c.id_b AS BIGINT) AS id_b,
       {_EMB_DOT} / ({_EMB_NORM_A} * {_EMB_NORM_B}) AS cosine
FROM cand c
JOIN emb a ON a.vec_id = c.id_a
JOIN emb b ON b.vec_id = c.id_b
WHERE {_EMB_DOT} / ({_EMB_NORM_A} * {_EMB_NORM_B}) >= {NEARDUP_LSH_THRESHOLD}
"""


@query("dedup_embedding_cosine_lsh", _neardup_lsh_sql())
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe registered form of embedding near-dup (VERDICT r01
    item 2): LSH bucket candidates (equi-join on (table, bucket), hot
    buckets capped) -> exact cosine -> threshold. No all-pairs
    BroadcastNestedLoopJoin anywhere in the plan (asserted by
    tests/test_plans.py); the all-pairs triangle over the same fixture
    is its recall oracle in tests/test_similarity.py.

    planes_per_table=None: m auto-sizes from the corpus count so the
    candidate join stays linear in corpus size (SCALING.md). The
    DuckDB oracle is ADAPTIVE too (VERDICT r8 #2): it derives m from
    count(*) and regenerates the hyperplanes from the same md5 stream
    in SQL (_adaptive_planes_cte), so engine and twin agree at every
    fixture scale, not only where the adaptive m happens to equal 8 --
    pinned by tests/test_similarity.py::test_neardup_adaptive_m_matches_oracle."""
    out = embedding_neardup_lsh(
        _emb_with_dups(spark, sf_dir),
        "embedding",
        "vec_id",
        threshold=NEARDUP_LSH_THRESHOLD,
        n_tables=NEARDUP_LSH_TABLES,
        planes_per_table=None,
        dim=EMB_DIM,
        max_bucket_width=NEARDUP_BUCKET_CAP,
    )
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "cosine",
    )


# ---------------------------------------------------------------------------
# Lang-ID evaluation: confusion matrix of the heuristic classifier
# against the fixture's ground-truth lang label -- the EVAL surface a
# curation pipeline needs around every classifier it deploys (swap in
# fastText scores at scale; the join/agg shape is identical). Recall
# in integer ppm so the ratio is engine-exact.
# ---------------------------------------------------------------------------


def _langid_confusion_sql() -> str:
    inner = _lang_id_sql().strip()
    return f"""
WITH pred AS ({inner}),
truth AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lang AS lang_true
          FROM documents),
j AS (SELECT t.lang_true, p.lang_pred
      FROM truth t JOIN pred p USING (doc_id)),
tot AS (SELECT lang_true, count(*) AS n_true FROM j GROUP BY lang_true)
SELECT j.lang_true, j.lang_pred,
       CAST(count(*) AS BIGINT) AS n,
       CAST((count(*) * 1000000) // max(t.n_true) AS BIGINT) AS recall_ppm
FROM j JOIN tot t ON j.lang_true = t.lang_true
GROUP BY j.lang_true, j.lang_pred
"""


@query("eval_langid_confusion", _langid_confusion_sql())
def eval_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix (lang_true x lang_pred) with per-true-label
    recall in ppm. One narrow classification pass rides the document
    scan, one shuffle on the (true, pred) pair key, and the per-label
    totals join back as a tiny broadcast -- the per-cell ppm is one
    integer floor division of identical operands on both engines."""
    from ..functions.text import lang_id, tokens

    docs = load_table(spark, sf_dir, "documents")
    staged = docs.withColumn("__toks", tokens("text"))
    j = staged.select(
        F.col("lang").alias("lang_true"),
        lang_id("text", toks=F.col("__toks")).alias("lang_pred"),
    )
    tot = j.groupBy("lang_true").agg(F.count("*").alias("n_true"))
    cells = j.groupBy("lang_true", "lang_pred").agg(F.count("*").alias("n"))
    return (
        cells.join(F.broadcast(tot), "lang_true")
        .select(
            "lang_true",
            "lang_pred",
            F.col("n").cast("long").alias("n"),
            F.expr("(n * 1000000) DIV n_true").cast("long").alias("recall_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash estimator CALIBRATION: for every LSH candidate pair, the
# signature-based Jaccard estimate (matching components / k) next to
# the EXACT Jaccard over distinct shingles -- the measurement that
# justifies trusting the sketch at corpus scale (and the input to
# choosing k). All integers: est_matches of k, and the exact
# intersection/sizes; downstream computes error however it likes.
# ---------------------------------------------------------------------------


def _minhash_calibration_sql() -> str:
    pairs_inner = _minhash_lsh_sql(k=MINHASH_K, bands=4, n=SHINGLE_N).strip()
    sig_cols = ",\n  ".join(
        f"list_min(list_transform(sh, x -> substr(sha256(x), {i * 8 + 1}, 8))) AS minhash_{i}"
        for i in range(MINHASH_K)
    )
    matches = " + ".join(
        f"CASE WHEN sa.minhash_{i} = sb.minhash_{i} THEN 1 ELSE 0 END"
        for i in range(MINHASH_K)
    )
    return f"""
WITH pairs AS ({pairs_inner}),
{_DOCS_WITH_DUPS_SQL.strip()},
t2 AS (SELECT doc_id, {_TOKS} AS toks FROM docs),
sh2 AS (SELECT doc_id, list_distinct({_shingles_sql("toks", SHINGLE_N)}) AS shd FROM t2),
sig2 AS (SELECT doc_id, {sig_cols.replace('(sh,', '(shd,')} FROM sh2)
SELECT p.id_a, p.id_b,
       CAST({matches} AS BIGINT) AS est_matches,
       CAST({MINHASH_K} AS BIGINT) AS k,
       CAST(len(list_intersect(ha.shd, hb.shd)) AS BIGINT) AS n_shared,
       CAST(len(ha.shd) AS BIGINT) AS n_a,
       CAST(len(hb.shd) AS BIGINT) AS n_b
FROM pairs p
JOIN sig2 sa ON p.id_a = sa.doc_id
JOIN sig2 sb ON p.id_b = sb.doc_id
JOIN sh2 ha ON p.id_a = ha.doc_id
JOIN sh2 hb ON p.id_b = hb.doc_id
"""


def _minhash_pair_estimates(
    docs: DataFrame, k: int, n: int
) -> tuple[DataFrame, Column]:
    """The capped LSH candidate pairs of `docs` (id_a, id_b) joined to
    both sides' signatures (a_i, b_i), and the Column counting the
    matching components (the estimate, of k). ONE signature pass is
    shared with the banding (sig= kwarg), so the estimates describe
    exactly the pairs the dedup sees."""
    sigs = track_persist(
        minhash_signature(docs, "text", k=k, shingle_n=n).select(
            "doc_id", *[f"minhash_{i}" for i in range(k)]
        )
    )
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", k=k, bands=4, shingle_n=n,
        max_bucket_width=MINHASH_BUCKET_CAP, sig=sigs,
    )
    sa = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"minhash_{i}").alias(f"a_{i}") for i in range(k)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"minhash_{i}").alias(f"b_{i}") for i in range(k)],
    )
    est = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(k)
    )
    return pairs.join(sa, "id_a").join(sb, "id_b"), est


@query("dedup_minhash_calibration", _minhash_calibration_sql())
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate-vs-exact per LSH pair. The Spark plan computes
    signatures once (narrow fold), derives candidate pairs through
    the banded join, then joins the pairs back to signatures and
    DISTINCT shingle arrays -- the expensive exact intersection runs
    only for the CANDIDATES (LSH's whole point), never all pairs.
    MinHash over distinct shingles equals MinHash over the raw list
    (min is idempotent to duplicates), so the estimate matches
    dedup_minhash_lsh_pairs' machinery exactly."""
    k, n = MINHASH_K, SHINGLE_N
    docs = _docs_with_dups(spark, sf_dir)
    dshing = docs.withColumn(
        "shd", F.array_distinct(shingles("text", n))
    ).select("doc_id", "shd")
    pairs, est = _minhash_pair_estimates(docs, k, n)
    ha = dshing.select(F.col("doc_id").alias("id_a"), F.col("shd").alias("sha"))
    hb = dshing.select(F.col("doc_id").alias("id_b"), F.col("shd").alias("shb"))
    return (
        pairs.join(ha, "id_a")
        .join(hb, "id_b")
        .select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            est.cast("long").alias("est_matches"),
            F.lit(k).cast("long").alias("k"),
            F.size(F.array_intersect("sha", "shb")).cast("long").alias("n_shared"),
            F.size("sha").cast("long").alias("n_a"),
            F.size("shb").cast("long").alias("n_b"),
        )
    )
