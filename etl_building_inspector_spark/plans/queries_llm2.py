"""Corpus-curation queries (round 2): benchmark decontamination, PII
redaction, repetition signals, TF-IDF, deterministic stratified
sampling, dedup clustering (connected components), and int8 embedding
quantization — each with an exact DuckDB oracle generated from the same
constants as the Spark plan (single source of truth; the two sides
cannot drift).

Portability rules as in queries_core.py / queries_llm.py: md5-derived
hashing only, integer arithmetic wherever a float isn't forced,
single-division doubles (bit-identical across engines), no round(),
no libm transcendentals (TF-IDF uses an integer milli-idf instead of
log — see operators/textops.tfidf_topk_terms).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import LANG_STOPWORDS, quality_features, tokens
from ..operators.dedup import minhash_lsh_pairs
from ..operators.graph import connected_components
from ..operators.similarity import quantize_int8_stats
from ..operators.textops import (
    PII_EMAIL_RE,
    PII_IP_RE,
    PII_PHONE_RE,
    decontaminate_ngrams,
    pii_counts,
    redact_pii,
    repetition_stats,
    stratified_sample,
)
from ..sources.tables import load_table
from .queries_llm import (
    _DOCS_WITH_DUPS_SQL,
    _docs_with_dups,
    _minhash_lsh_sql,
    _shingles_sql,
    _stop_hits_sql,
    _TOKS,
    MINHASH_BUCKET_CAP,
)
from .registry import query


# ---------------------------------------------------------------------------
# Quality filtering (C4/Gopher-style composite rules)
# ---------------------------------------------------------------------------

# Rule constants shared by the Spark plan and the generated SQL.
QF_MIN_TOKENS, QF_MAX_TOKENS = 30, 2000
QF_MIN_MTL, QF_MAX_MTL = 3.0, 4.6
QF_MIN_STOPRATIO = 0.05
QF_MAX_PUNCT = 0.2


@query(
    "quality_filter_composite",
    f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
f AS (SELECT doc_id,
  len(toks) AS n_tokens,
  CAST(length(array_to_string(toks, '')) AS DOUBLE) / len(toks) AS mtl,
  CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
    / length(text) AS punct,
  CAST({_stop_hits_sql("toks", LANG_STOPWORDS["en"])} AS DOUBLE) / len(toks) AS stopr
FROM t)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  n_tokens BETWEEN {QF_MIN_TOKENS} AND {QF_MAX_TOKENS} AS ok_len,
  mtl >= {QF_MIN_MTL} AND mtl <= {QF_MAX_MTL} AS ok_token_len,
  punct <= {QF_MAX_PUNCT} AS ok_punct,
  stopr >= {QF_MIN_STOPRATIO} AS ok_stopwords,
  (n_tokens BETWEEN {QF_MIN_TOKENS} AND {QF_MAX_TOKENS})
    AND mtl >= {QF_MIN_MTL} AND mtl <= {QF_MAX_MTL}
    AND punct <= {QF_MAX_PUNCT} AND stopr >= {QF_MIN_STOPRATIO} AS keep
FROM f
""",
)
def quality_filter_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style composite quality gate: length, mean token
    length, punctuation ratio, stopword presence. Narrow projection —
    no shuffle; flags are emitted (not filtered on) so downstream
    mixes can weight rather than drop. All comparisons are on doubles
    that are bit-identical across engines (single int/int divisions)."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.withColumn("__toks", tokens("text"))
    feats = quality_features("text", toks=F.col("__toks"))
    ok_len = feats["n_tokens"].between(QF_MIN_TOKENS, QF_MAX_TOKENS)
    mtl = feats["mean_token_len"]
    ok_mtl = (mtl >= QF_MIN_MTL) & (mtl <= QF_MAX_MTL)
    ok_punct = feats["punct_ratio"] <= QF_MAX_PUNCT
    ok_stop = feats["stopword_ratio"] >= QF_MIN_STOPRATIO
    return staged.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        ok_len.alias("ok_len"),
        ok_mtl.alias("ok_token_len"),
        ok_punct.alias("ok_punct"),
        ok_stop.alias("ok_stopwords"),
        (ok_len & ok_mtl & ok_punct & ok_stop).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------

SAMPLE_RATES = {"en": 0.5, "zh": 0.1}
SAMPLE_DEFAULT_RATE = 0.25
SAMPLE_SALT = "sample"


def _sample_sql() -> str:
    u32 = (
        "CAST(concat('0x', substr(md5(concat('"
        + SAMPLE_SALT
        + ":', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)"
    )
    cases = " ".join(
        f"WHEN lang = '{s}' THEN {int(r * 2**32)}"
        for s, r in sorted(SAMPLE_RATES.items())
    )
    thr = f"CASE {cases} ELSE {int(SAMPLE_DEFAULT_RATE * 2**32)} END"
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
FROM documents
WHERE {u32} < {thr}
"""


@query("sample_stratified", _sample_sql())
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-Bernoulli sample with per-language rates (en 50%, zh 10%,
    others 25%) — reproducible across runs/partitionings, unlike
    df.sample(). Pure narrow filter; see operators/textops.py."""
    docs = load_table(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, "lang", "doc_id", SAMPLE_RATES, SAMPLE_DEFAULT_RATE, SAMPLE_SALT
    )
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "lang")


# ---------------------------------------------------------------------------
# PII redaction. The fixture corpus is synthetic lowercase prose with
# no PII, so both sides append a deterministic PII suffix to every 7th
# doc and the redactor must find exactly those plants.
# ---------------------------------------------------------------------------

_PII_SUFFIX_SQL = (
    "concat(' contact user', CAST(doc_id AS VARCHAR), '@example.com from 10.0.', "
    "CAST(doc_id % 256 AS VARCHAR), '.7 call 555-', "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))"
)


def _pii_sql() -> str:
    return f"""
WITH seeded AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN concat(text, {_PII_SUFFIX_SQL}) ELSE text END AS text
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '{PII_IP_RE}')) AS BIGINT) AS n_ip,
  CAST(len(regexp_extract_all(text, '{PII_PHONE_RE}')) AS BIGINT) AS n_phone,
  regexp_replace(regexp_replace(regexp_replace(text,
    '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
    '{PII_IP_RE}', '[IP]', 'g'),
    '{PII_PHONE_RE}', '[PHONE]', 'g') AS redacted
FROM seeded
"""


@query("text_pii_redact", _pii_sql())
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count and redact emails / IPv4s / phone fragments. Narrow
    regexp chain, no shuffle (operators/textops.py: PII_RULES order is
    contractual — emails before IPs before phones)."""
    docs = load_table(spark, sf_dir, "documents")
    suffix = F.concat(
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    seeded = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), suffix))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    counts = pii_counts("text")
    return seeded.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        counts["n_email"].cast("long").alias("n_email"),
        counts["n_ip"].cast("long").alias("n_ip"),
        counts["n_phone"].cast("long").alias("n_phone"),
        redact_pii("text").alias("redacted"),
    )


# ---------------------------------------------------------------------------
# Repetition signals (Gopher)
# ---------------------------------------------------------------------------


@query(
    "text_repetition",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_shingles_sql("toks", 2)} AS grams FROM t),
g AS (SELECT doc_id, unnest(grams) AS gram FROM sh),
c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
a AS (SELECT doc_id, sum(cnt) AS n_grams, count(*) AS n_distinct,
             max(cnt) AS top_cnt
      FROM c GROUP BY 1)
SELECT CAST(sh.doc_id AS BIGINT) AS doc_id,
  CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
  CAST(coalesce(n_distinct, 0) AS BIGINT) AS n_distinct_grams,
  CAST(coalesce(top_cnt, 0) AS BIGINT) AS top_gram_count,
  CASE WHEN n_grams > 0
       THEN CAST(n_grams - n_distinct AS DOUBLE) / n_grams END AS dup_gram_frac,
  CASE WHEN n_grams > 0
       THEN CAST(top_cnt AS DOUBLE) / n_grams END AS top_gram_frac
FROM sh LEFT JOIN a USING (doc_id)
""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 2-gram repetition: total/distinct/top counts and the
    duplicate-gram / top-gram fractions (Gopher rep. signals). Two
    algebraic groupBys with map-side combine; see textops.py."""
    docs = load_table(spark, sf_dir, "documents")
    out = repetition_stats(docs, "text", "doc_id", n=2)
    return out.withColumn("doc_id", F.col("doc_id").cast("long"))


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

DECON_N = 4
DECON_BENCH_MOD = 17  # doc_id % 17 == 0 plays the "benchmark suite"


@query(
    "decontaminate_ngram",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, list_distinct({_shingles_sql("toks", DECON_N)}) AS grams FROM t),
bench AS (SELECT DISTINCT unnest(grams) AS g FROM sh WHERE doc_id % {DECON_BENCH_MOD} = 0),
train AS (SELECT * FROM sh WHERE doc_id % {DECON_BENCH_MOD} <> 0),
ex AS (SELECT doc_id, unnest(grams) AS g FROM train),
hits AS (SELECT doc_id, count(*) AS n FROM ex JOIN bench USING (g) GROUP BY 1)
SELECT CAST(train.doc_id AS BIGINT) AS doc_id,
  CAST(len(grams) AS BIGINT) AS n_shingles,
  CAST(coalesce(n, 0) AS BIGINT) AS n_contaminated,
  coalesce(n, 0) > 0 AS contaminated
FROM train LEFT JOIN hits USING (doc_id)
""",
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """13-gram-style benchmark decontamination (n=4 for the short
    fixture docs): docs with doc_id %% 17 == 0 play the benchmark set;
    every other doc reports how many of its distinct 4-grams appear in
    it. Benchmark gram set is broadcast — no corpus shuffle (see
    operators/textops.decontaminate_ngrams)."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
    train = docs.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
    out = decontaminate_ngrams(train, bench, "text", "doc_id", n=DECON_N)
    return out.withColumn("doc_id", F.col("doc_id").cast("long"))


# ---------------------------------------------------------------------------
# TF-IDF top-k terms
# ---------------------------------------------------------------------------

TFIDF_K = 3


@query(
    "tfidf_topk_terms",
    f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term,
    CAST(tf * CAST(floor(CAST(n_docs * 1000 AS DOUBLE) / df) AS BIGINT) AS BIGINT) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, score,
    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
  FROM scored
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, term, score, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {TFIDF_K}
""",
)
def tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per doc by tf * integer milli-idf (floor(N*1000/df)
    — monotone in N/df, bit-portable, no libm). Deterministic
    tie-break on term; see operators/textops.tfidf_topk_terms for the
    100 TB plan shape (broadcast 1-row N, map-side-combined tf/df)."""
    from ..operators import textops

    docs = load_table(spark, sf_dir, "documents")
    out = textops.tfidf_topk_terms(docs, "text", "doc_id", k=TFIDF_K)
    return out.withColumn("doc_id", F.col("doc_id").cast("long"))


# ---------------------------------------------------------------------------
# Dedup clustering: near-dup pairs -> connected components
# ---------------------------------------------------------------------------


def _cc_ctes() -> str:
    """Shared recursive-CTE chain computing comp(node, component) =
    min id reachable in the symmetrized MinHash-LSH pair graph."""
    pairs = _minhash_lsh_sql().strip()
    return f"""pairs AS (
{pairs}
),
sym AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
nodes AS (SELECT DISTINCT s AS node FROM sym),
reach AS (
  SELECT node, node AS lab FROM nodes
  UNION
  SELECT sym.d AS node, reach.lab FROM reach JOIN sym ON sym.s = reach.node
),
comp AS (
  SELECT node, min(lab) AS component FROM reach GROUP BY node
)"""


def _cluster_sql() -> str:
    return f"""
WITH RECURSIVE {_cc_ctes()}
SELECT CAST(node AS BIGINT) AS doc_id, CAST(component AS BIGINT) AS component
FROM comp
"""


@query("dedup_cluster_assign", _cluster_sql())
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS from near-dup PAIRS: connected components by
    min-label propagation over the MinHash-LSH pair graph (keep
    min(component) per group, drop the rest). The DuckDB oracle is a
    recursive CTE computing min-reachable-id — exact CC semantics, so
    the iterative Spark algorithm is value-checked end-to-end. See
    operators/graph.connected_components for the per-round shape."""
    docs = _docs_with_dups(spark, sf_dir)
    # cap MUST match the oracle's _minhash_lsh_sql() default: the
    # uncapped graph has extra hot-bucket edges that over-merge
    # components once replication/scale pushes a bucket past the cap
    # (invisible at <= sf0.1, caught by the r8 derived-fixture soak)
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", max_bucket_width=MINHASH_BUCKET_CAP
    ).select("id_a", "id_b")
    out = connected_components(pairs, "id_a", "id_b")
    return out.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


@query("dedup_cluster_assign_lss", _cluster_sql())
def dedup_cluster_assign_lss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering contract as dedup_cluster_assign, computed by
    the ALTERNATING large-star/small-star algorithm instead of
    min-label propagation — O(log n) rounds independent of graph
    diameter, edge set shrinks toward stars each round (see
    operators/graph.connected_components_alternating). Shares the
    exact recursive-CTE oracle, so both iterative strategies are
    value-checked against the same CC semantics."""
    from ..operators.graph import connected_components_alternating

    docs = _docs_with_dups(spark, sf_dir)
    # cap MUST match the oracle's _minhash_lsh_sql() default: the
    # uncapped graph has extra hot-bucket edges that over-merge
    # components once replication/scale pushes a bucket past the cap
    # (invisible at <= sf0.1, caught by the r8 derived-fixture soak)
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", max_bucket_width=MINHASH_BUCKET_CAP
    ).select("id_a", "id_b")
    out = connected_components_alternating(pairs, "id_a", "id_b")
    return out.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


def _keep_sql() -> str:
    return f"""
WITH RECURSIVE {_cc_ctes()},
{_DOCS_WITH_DUPS_SQL.strip()}
SELECT CAST(d.doc_id AS BIGINT) AS doc_id
FROM docs d LEFT JOIN comp c ON d.doc_id = c.node
WHERE c.node IS NULL OR c.component = d.doc_id
"""


@query("dedup_keep_representatives", _keep_sql())
def dedup_keep_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end of the dedup pipeline: pairs → components → KEPT CORPUS.
    A doc survives iff it is untouched by any near-dup pair (left
    anti-ish null branch) or is its cluster's canonical representative
    (min id = component label). One left join of the corpus against the
    (small — only docs appearing in pairs) component map: broadcastable
    at any realistic dup rate; at 100 TB the corpus side never
    shuffles."""
    docs = _docs_with_dups(spark, sf_dir)
    # cap MUST match the oracle's _minhash_lsh_sql() default: the
    # uncapped graph has extra hot-bucket edges that over-merge
    # components once replication/scale pushes a bucket past the cap
    # (invisible at <= sf0.1, caught by the r8 derived-fixture soak)
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", max_bucket_width=MINHASH_BUCKET_CAP
    ).select("id_a", "id_b")
    comp = connected_components(pairs, "id_a", "id_b")
    kept = docs.join(
        F.broadcast(comp), docs["doc_id"] == comp["node"], "left"
    ).filter(F.col("node").isNull() | (F.col("component") == F.col("doc_id")))
    return kept.select(F.col("doc_id").cast("long").alias("doc_id"))


# ---------------------------------------------------------------------------
# Embedding int8 quantization
# ---------------------------------------------------------------------------


@query(
    "emb_quantize_int8",
    """
WITH t AS (
  SELECT vec_id, embedding,
    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
  FROM embeddings
),
q AS (
  SELECT vec_id, maxabs,
    list_transform(embedding, x ->
      CASE WHEN maxabs = 0 THEN 0
           ELSE CAST(sign(CAST(x AS DOUBLE))
                     * floor(abs(CAST(x AS DOUBLE)) * 127 / maxabs) AS BIGINT)
      END) AS ql
  FROM t
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
  CASE WHEN maxabs = 0 THEN 0.0 ELSE maxabs / 127 END AS scale,
  CAST(list_sum(ql) AS BIGINT) AS q_sum,
  CAST(list_min(ql) AS BIGINT) AS q_min,
  CAST(list_max(ql) AS BIGINT) AS q_max
FROM q
""",
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization summarized as per-vector scalars
    (scale, q_sum, q_min, q_max) — the storage half of PQ-style ANN.
    Narrow column arithmetic, no shuffle; truncation spelled as
    sign*floor for engine portability (DuckDB CAST rounds, Spark
    truncates). See operators/similarity.quantize_int8_stats."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = quantize_int8_stats(emb, "embedding", "vec_id")
    return out.withColumn("vec_id", F.col("vec_id").cast("long"))


# ---------------------------------------------------------------------------
# Bounded BFS over the near-dup pair graph: hop distance from a seed
# set (contamination blast radius / neighborhood expansion).
# ---------------------------------------------------------------------------

BFS_SEED_MOD = 50
BFS_MAX_HOPS = 3


def _bfs_sql() -> str:
    pairs = _minhash_lsh_sql().strip()
    return f"""
WITH RECURSIVE {_DOCS_WITH_DUPS_SQL.strip()},
pairs AS (
{pairs}
),
sym AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
seeds AS (SELECT DISTINCT doc_id AS node FROM docs
          WHERE doc_id % {BFS_SEED_MOD} = 0),
walk AS (
  SELECT node, 0 AS dist FROM seeds
  UNION ALL
  SELECT sym.d AS node, walk.dist + 1 AS dist
  FROM walk JOIN sym ON sym.s = walk.node
  WHERE walk.dist < {BFS_MAX_HOPS}
)
SELECT CAST(node AS BIGINT) AS doc_id, CAST(min(dist) AS BIGINT) AS hops
FROM walk GROUP BY node
"""


@query("graph_bfs_hops", _bfs_sql())
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min hop distance (<= BFS_MAX_HOPS) from seed docs over the
    MinHash-LSH pair graph — unit-weight bounded Bellman-Ford
    (operators/graph.sssp_bounded), whose distances are exactly the
    min hop counts; the oracle replays it as a bounded recursive CTE
    with min(dist)."""
    from ..operators.graph import sssp_bounded

    docs = _docs_with_dups(spark, sf_dir)
    # cap MUST match the oracle's _minhash_lsh_sql() default: the
    # uncapped graph has extra hot-bucket edges that over-merge
    # components once replication/scale pushes a bucket past the cap
    # (invisible at <= sf0.1, caught by the r8 derived-fixture soak)
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", max_bucket_width=MINHASH_BUCKET_CAP
    ).select("id_a", "id_b")
    seeds = docs.filter(F.col("doc_id") % BFS_SEED_MOD == 0).select("doc_id")
    out = sssp_bounded(pairs, seeds, weight=F.lit(1), max_hops=BFS_MAX_HOPS)
    return out.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("dist").cast("long").alias("hops"),
    )


# ---------------------------------------------------------------------------
# CCNet-style per-language quality terciles: head / middle / tail
# buckets per language (CCNet buckets by LM perplexity; with no LM in
# the container the proxy score is the stopword ratio -- higher =
# more natural running text -- which is the same single int/int
# division both engines compute bit-identically). Downstream mixes
# sample head > middle > tail instead of hard-dropping.
# ---------------------------------------------------------------------------


@query(
    "quality_terciles_by_lang",
    f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, lang,
  CAST({_stop_hits_sql("toks", LANG_STOPWORDS["en"])} AS DOUBLE)
    / len(toks) AS score
FROM t WHERE len(toks) > 0)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, score,
  CASE ntile(3) OVER (PARTITION BY lang ORDER BY score DESC, doc_id)
       WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM s
""",
)
def quality_terciles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language head/middle/tail quality bucketing (the CCNet
    data layout, arXiv:1911.00359, with a stopword-ratio proxy for
    the missing LM): ntile(3) over (score DESC, doc_id) within each
    language. ntile's equal-split rule is standard SQL and the order
    is TOTAL (doc_id tiebreak), so bucket assignment is deterministic
    and engine-identical. One shuffle on lang; the score is a narrow
    row-local expression riding the same scan."""
    from ..functions.text import quality_features, tokens

    docs = load_table(spark, sf_dir, "documents")
    staged = docs.withColumn("__toks", tokens("text"))
    feats = quality_features("text", toks=F.col("__toks"))
    scored = staged.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        feats["stopword_ratio"].alias("score"),
        feats["n_tokens"].alias("__n"),
    ).where(F.col("__n") > 0)
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
    bucket = (
        F.when(F.ntile(3).over(w) == 1, "head")
        .when(F.ntile(3).over(w) == 2, "middle")
        .otherwise("tail")
    )
    return scored.select("doc_id", "lang", "score", bucket.alias("bucket"))
