"""Seventh LLM-pipeline batch: URL canonicalization dedup, truncated-
duplicate (prefix) dedup, integer-exact TF-IDF keyword extraction,
a Count-Min sketch with top-k heavy-hitter readout, per-dimension
embedding statistics (the whitening/normalization precursor), ER
match-graph resolution (pairs -> connected components -> canonical
entity), and a corpus mixture-deficit report.

Scale themes:
  * URL/prefix dedup are hash-groupBy problems: the canonical form /
    prefix hash is the shuffle key, fixed width no matter how large
    the documents are;
  * Count-Min is THE bounded-state frequency sketch: the sketch is
    d x w cells regardless of input size, built with one groupBy and
    mergeable across partitions/streams by cell-wise addition; the
    readout joins candidates to the broadcast sketch;
  * per-dimension embedding stats shuffle on dim (64 keys): the
    float->scaled-BIGINT trick (floor(v * 2^20), exact because a
    float's 24-bit mantissa shifts losslessly) makes the cross-row
    sum order-independent, so the oracle is hash-exact without
    decimal types;
  * ER resolution completes the entity lifecycle: block -> fuzzy
    match (queries_llm5) -> transitive merge via min-label connected
    components -- the same iterative CC machinery as near-dup
    clustering, diameter-bounded rounds;
  * the mixture report is a groupBy(lang) token count plus one
    broadcast scalar -- the planning step that feeds mixture_resample.

Oracle discipline: all scores/weights integer-exact; divisions only
in final projections; every top-k fully tie-broken.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators._parallel import fan_out_scan
from ..sources.tables import load_table
from . import queries_llm5
from .queries_llm import _NORM, _TOKS
from .registry import query


# ---------------------------------------------------------------------------
# URL canonicalization dedup. Three messy variants of the same page
# URL (case noise, trailing slash, utm tracking params) are
# synthesized deterministically from the documents table (page id =
# doc_id DIV 3, so every 3 docs share a page); canonicalization
# lowercases, strips the ^https://www. prefix, the ?utm... query and
# the trailing slash; keep-FIRST by doc_id within each canonical URL.
# Patterns are anchored so regexp_replace is single-match in both
# engines (Spark replaces all, DuckDB replaces first).
# ---------------------------------------------------------------------------

_URL_RAW_SQL = """
CASE CAST(doc_id % 3 AS INTEGER)
  WHEN 0 THEN concat('https://www.Example-', source, '.com/docs/', CAST(doc_id // 3 AS VARCHAR))
  WHEN 1 THEN concat('HTTPS://EXAMPLE-', source, '.COM/docs/', CAST(doc_id // 3 AS VARCHAR), '/')
  ELSE concat('https://example-', source, '.com/docs/', CAST(doc_id // 3 AS VARCHAR), '?utm_source=feed&utm_medium=rss')
END
"""

_URL_DEDUP_SQL = f"""
WITH raw AS (
  SELECT doc_id, {_URL_RAW_SQL} AS url FROM documents),
canon AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(lower(url), '^https://www\\.', 'https://'),
             '\\?utm[a-z_=&]*$', ''),
           '/$', '') AS canonical_url
  FROM raw)
SELECT canonical_url,
       CAST(min(doc_id) AS BIGINT) AS kept_doc_id,
       CAST(count(*) AS BIGINT) AS n_variants
FROM canon GROUP BY canonical_url
ORDER BY canonical_url
"""


@query("dedup_url_canonicalize", _URL_DEDUP_SQL)
def dedup_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize messy URLs (case, www., utm params, trailing
    slash) and keep-first per canonical form -- the web-crawl dedup
    step that runs BEFORE any content hashing. One groupBy on the
    canonical string; anchored single-match regexes are engine-
    portable."""
    docs = load_table(spark, sf_dir, "documents")
    page = F.expr("doc_id DIV 3").cast("string")
    url = (
        F.when(
            (F.col("doc_id") % 3) == 0,
            F.concat(F.lit("https://www.Example-"), F.col("source"), F.lit(".com/docs/"), page),
        )
        .when(
            (F.col("doc_id") % 3) == 1,
            F.concat(F.lit("HTTPS://EXAMPLE-"), F.col("source"), F.lit(".COM/docs/"), page, F.lit("/")),
        )
        .otherwise(
            F.concat(
                F.lit("https://example-"), F.col("source"), F.lit(".com/docs/"),
                page, F.lit("?utm_source=feed&utm_medium=rss"),
            )
        )
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(url), r"^https://www\.", "https://"),
            r"\?utm[a-z_=&]*$",
            "",
        ),
        "/$",
        "",
    )
    return (
        docs.select(F.col("doc_id"), canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").cast("long").alias("kept_doc_id"),
            F.count("*").cast("long").alias("n_variants"),
        )
        .orderBy("canonical_url")
    )


# ---------------------------------------------------------------------------
# Truncated-duplicate dedup: a shorter document that is a PREFIX of a
# longer one (feed truncation, pagination cutoffs) evades exact-hash
# dedup. Key on the hash of the first _PREFIX_CHARS normalized chars;
# within a group keep the LONGEST (ties prefer the original id). The
# fixture has no natural truncations, so each doc unions a synthetic
# truncated twin (id = -doc_id - 1, collision-free at any scale) --
# the operator then provably collapses every pair.
# ---------------------------------------------------------------------------

_PREFIX_CHARS = 64

_PREFIX_DEDUP_SQL = f"""
WITH corpus AS (
  SELECT doc_id, {_NORM} AS t FROM documents
  UNION ALL
  SELECT -doc_id - 1, substr({_NORM}, 1, 100) FROM documents),
keyed AS (
  SELECT doc_id, length(t) AS n, md5(substr(t, 1, {_PREFIX_CHARS})) AS pk
  FROM corpus),
ranked AS (
  SELECT doc_id, n, pk,
         row_number() OVER (PARTITION BY pk
           ORDER BY n DESC, CASE WHEN doc_id < 0 THEN 1 ELSE 0 END, doc_id) AS rn,
         count(*) OVER (PARTITION BY pk) AS grp
  FROM keyed)
SELECT pk AS prefix_key,
       CAST(min(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS kept_doc_id,
       CAST(max(grp) AS BIGINT) AS n_members
FROM ranked GROUP BY pk HAVING max(grp) > 1
ORDER BY prefix_key
"""


@query("dedup_truncation_prefix", _PREFIX_DEDUP_SQL)
def dedup_truncation_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-hash dedup for truncated duplicates: hash the first 64
    normalized chars, keep the longest member per group. Fixed-width
    shuffle key regardless of document size; the window is
    partitioned by that key so no global sort exists."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    corpus = docs.select(F.col("doc_id"), norm.alias("t")).unionByName(
        docs.select(
            (-F.col("doc_id") - 1).alias("doc_id"),
            F.substring(norm, 1, 100).alias("t"),
        )
    )
    keyed = corpus.select(
        "doc_id",
        F.length("t").alias("n"),
        F.md5(F.substring(F.col("t"), 1, _PREFIX_CHARS)).alias("pk"),
    )
    w = Window.partitionBy("pk")
    ranked = keyed.withColumn(
        "rn",
        F.row_number().over(
            w.orderBy(
                F.desc("n"),
                F.when(F.col("doc_id") < 0, 1).otherwise(0),
                F.asc("doc_id"),
            )
        ),
    ).withColumn("grp", F.count("*").over(w))
    return (
        ranked.groupBy(F.col("pk").alias("prefix_key"))
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("doc_id")))
            .cast("long")
            .alias("kept_doc_id"),
            F.max("grp").cast("long").alias("n_members"),
        )
        .where(F.col("n_members") > 1)
        .orderBy("prefix_key")
    )


# ---------------------------------------------------------------------------
# Integer-exact TF-IDF keyword extraction: score = tf * floor(1e6 *
# N / df) keeps everything in BIGINT (no ln(), whose libm rounding is
# not engine-portable); top-3 tokens per doc, tie-broken by token.
# ---------------------------------------------------------------------------

_TFIDF_TOPK = 3

_TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
df AS (
  SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok,
         tf.tf * CAST(floor(1000000.0 * n.n / df.df) AS BIGINT) AS score
  FROM tf JOIN df USING (tok) CROSS JOIN n),
ranked AS (
  SELECT doc_id, tok, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rn
  FROM scored)
SELECT CAST(doc_id AS BIGINT) AS doc_id, tok,
       CAST(score AS BIGINT) AS score, CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= {_TFIDF_TOPK}
ORDER BY doc_id, rank
"""


@query("text_tfidf_topk", _TFIDF_SQL)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 keywords per doc by integer-domain TF-IDF. The idf
    factor floor(1e6*N/df) is a BIGINT, so scores sum/compare exactly
    in both engines. df is a token-keyed aggregate (vocab-sized,
    broadcast back); the per-doc window is partitioned by doc."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    from ..operators._cache import track_persist

    toks = docs.select(
        "doc_id", F.explode(F.split(norm, " ")).alias("tok")
    )
    # tf is persisted because BOTH df and the scored join consume it;
    # df derives from tf (tf has exactly one row per (doc, tok), so
    # count of tf rows per tok == count(DISTINCT doc)) -- the corpus
    # tokenizes ONCE instead of once per aggregate.
    tf = track_persist(toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf")))
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n = docs.agg(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            (
                F.col("tf")
                * F.floor(F.lit(1000000.0) * F.col("n") / F.col("df")).cast("long")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TFIDF_TOPK)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "tok",
            F.col("score").cast("long").alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# Count-Min sketch + heavy-hitter readout over token bigrams. d=4
# hash rows, w=1024 buckets: h_i(x) = (a_i * k(x) + b_i) % P % w with
# k(x) = first 8 md5 hex chars as uint32 -- pure integer arithmetic,
# engine-portable. The sketch itself is the d x w cell table (bounded
# state, mergeable by cell-wise addition -- the streaming/partition-
# parallel frequency primitive); the readout joins every distinct
# bigram to its d cells and takes the min estimate; top-20 by
# (estimate desc, bigram asc).
# ---------------------------------------------------------------------------

_CM_W = 1024
_CM_P = 2147483647
_CM_ROWS = [(1, 0), (31, 7), (131, 17), (1031, 29)]
_CM_TOPK = 20


def _cm_hash_rows(df: DataFrame) -> DataFrame:
    """All d CM hash rows in ONE pass (explode of a d-element array),
    not a d-branch union that re-runs the input lineage per row
    (Catalyst does not dedupe common subplans across union branches).
    Shared by the heavy-hitter readout and the estimator error eval."""
    return df.select(
        "bg",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        ((F.lit(a) * F.col("k") + F.lit(b)) % _CM_P % _CM_W).alias(
                            "bucket"
                        ),
                    )
                    for d, (a, b) in enumerate(_CM_ROWS)
                ]
            )
        ).alias("h"),
    ).select("bg", F.col("h.d").alias("d"), F.col("h.bucket").alias("bucket"))


def _cm_sql() -> str:
    k = "CAST(concat('0x', substr(md5(bg), 1, 8)) AS BIGINT)"
    hash_cases = " UNION ALL ".join(
        f"SELECT bg, {d} AS d, ({a} * k + {b}) % {_CM_P} % {_CM_W} AS bucket FROM keyed"
        for d, (a, b) in enumerate(_CM_ROWS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents),
bigrams AS (
  SELECT unnest(CASE WHEN len(t) >= 2
    THEN [concat(t[i], ' ', t[i+1]) for i in generate_series(1, len(t) - 1)]
    ELSE []::VARCHAR[] END) AS bg
  FROM toks),
keyed AS (
  SELECT bg, {k} AS k FROM bigrams),
hashed AS ({hash_cases}),
sketch AS (
  SELECT d, bucket, count(*) AS c FROM hashed GROUP BY d, bucket),
cand AS (
  SELECT DISTINCT bg, k FROM keyed),
cand_h AS (
  SELECT bg, d, (a * k + b) % {_CM_P} % {_CM_W} AS bucket
  FROM cand, (VALUES {", ".join(f"({a}, {b}, {d})" for d, (a, b) in enumerate(_CM_ROWS))}) AS r(a, b, d)),
est AS (
  SELECT bg, min(c) AS estimate
  FROM cand_h JOIN sketch USING (d, bucket)
  GROUP BY bg),
ranked AS (
  SELECT bg, estimate,
         row_number() OVER (ORDER BY estimate DESC, bg) AS rn
  FROM est)
SELECT bg AS bigram, CAST(estimate AS BIGINT) AS estimate,
       CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= {_CM_TOPK}
ORDER BY rank
"""


@query("sketch_countmin_heavy_hitters", _cm_sql())
def sketch_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (d=4, w=1024) over token bigrams with a
    top-20 heavy-hitter readout. The sketch build is one groupBy over
    (row, bucket) -- 4096 cells of bounded state that merge by
    addition across partitions or stream batches; estimates come from
    joining candidates to the broadcast sketch and taking min over
    rows. All hashing is md5-derived integer arithmetic, so the
    DuckDB twin computes the identical sketch."""
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"))
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    t = docs.select(F.split(norm, " ").alias("t"))
    bigrams = t.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.size("t") - 1),
                F.slice(F.col("t"), 2, F.size("t") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bg")
    )
    from ..operators._cache import track_persist

    # persist: the tokenize/md5 lineage feeds both the sketch build
    # and the candidate readout -- without it the corpus tokenizes
    # twice (self-join-input discipline, see operators/_cache.py)
    keyed = track_persist(
        bigrams.select(
            "bg",
            F.conv(F.substring(F.md5("bg"), 1, 8), 16, 10).cast("long").alias("k"),
        )
    )

    sketch = _cm_hash_rows(keyed).groupBy("d", "bucket").agg(F.count("*").alias("c"))
    cand_h = _cm_hash_rows(keyed.distinct())
    est = (
        cand_h.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("bg")
        .agg(F.min("c").alias("estimate"))
    )
    w = Window.orderBy(F.desc("estimate"), F.asc("bg"))
    return (
        est.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _CM_TOPK)
        .select(
            F.col("bg").alias("bigram"),
            F.col("estimate").cast("long").alias("estimate"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Per-dimension embedding statistics: count / min / max / mean per
# dim. Cross-row float sums are order-dependent, so the mean goes
# through floor(CAST(v AS DOUBLE) * 2^20) -- exact (float mantissa
# shifts losslessly under a power-of-two scale) and order-free as a
# BIGINT sum. min/max of raw floats are already order-free.
# ---------------------------------------------------------------------------

_EMB_SCALE = 1048576  # 2^20

_EMB_STATS_SQL = f"""
WITH flat AS (
  SELECT u.d AS dim, CAST(u.v AS DOUBLE) AS v
  FROM (
    SELECT unnest([{{'d': i, 'v': embedding[i]}} for i in generate_series(1, len(embedding))]) AS u
    FROM embeddings))
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(v * {_EMB_SCALE}) AS BIGINT)) AS BIGINT) AS sum_scaled,
       min(v) AS min_v,
       max(v) AS max_v,
       CAST(sum(CAST(floor(v * {_EMB_SCALE}) AS BIGINT)) AS DOUBLE) / count(*) / {_EMB_SCALE} AS mean_v
FROM flat GROUP BY dim ORDER BY dim
"""


@query("emb_dimension_stats", _EMB_STATS_SQL)
def emb_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension stats over the embedding corpus -- the input to
    whitening / mean-centering / min-max normalization. posexplode ->
    groupBy(dim): 64 keys, one shuffle of scaled-int partial
    aggregates; at 100 TB the map-side combine reduces each partition
    to 64 rows before the exchange."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        F.posexplode("embedding").alias("pos", "v0")
    ).select((F.col("pos") + 1).alias("dim"), F.col("v0").cast("double").alias("v"))
    scaled = F.floor(F.col("v") * _EMB_SCALE).cast("long")
    return (
        flat.groupBy("dim")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(scaled).cast("long").alias("sum_scaled"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            (
                F.sum(scaled).cast("double") / F.count("*") / F.lit(_EMB_SCALE)
            ).alias("mean_v"),
        )
        .select(
            F.col("dim").cast("long").alias("dim"),
            "n",
            "sum_scaled",
            "min_v",
            "max_v",
            "mean_v",
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# ER resolution: the fuzzy-match pairs (queries_llm5's blocked
# levenshtein join) become an undirected match graph; connected
# components assign every matched entity its canonical (min) key.
# Completes the block -> match -> merge entity-resolution lifecycle.
# Singletons (entities with no match edge) are not emitted, matching
# the oracle's pair-graph domain.
# ---------------------------------------------------------------------------


def _er_cc_cte_body() -> str:
    """The recursive-CC CTE chain (pairs -> sym -> nodes -> reach ->
    comp), shared verbatim by the cluster oracle and the survivorship
    oracle (queries_llm10) -- one source of truth, no string surgery
    on a finished SQL statement."""
    pairs = queries_llm5._ER_FUZZY_SQL.strip()
    return f"""pairs AS (
{pairs}
),
sym AS (
  SELECT key_a AS s, key_b AS d FROM pairs
  UNION ALL
  SELECT key_b AS s, key_a AS d FROM pairs
),
nodes AS (SELECT DISTINCT s AS node FROM sym),
reach AS (
  SELECT node, node AS lab FROM nodes
  UNION
  SELECT sym.d AS node, reach.lab FROM reach JOIN sym ON sym.s = reach.node
),
comp AS (
  SELECT node, min(lab) AS canonical FROM reach GROUP BY node
)"""


def _er_clusters_sql() -> str:
    return f"""
WITH RECURSIVE {_er_cc_cte_body()}
SELECT CAST(node AS BIGINT) AS entity_key,
       CAST(canonical AS BIGINT) AS canonical_key
FROM comp ORDER BY entity_key
"""


@query("er_resolution_clusters", _er_clusters_sql())
def er_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive entity merge: min-label connected components over
    the blocked fuzzy-match pair graph (operators/graph.py CC --
    per-round one shuffle join, diameter-bounded; ER match graphs are
    shallow near-cliques). Output: (entity_key, canonical_key) for
    every entity that participates in at least one match."""
    from ..operators.graph import connected_components

    pairs = queries_llm5.er_blocked_fuzzy_match(spark, sf_dir)
    cc = connected_components(
        pairs.select("key_a", "key_b"), src="key_a", dst="key_b"
    )
    return cc.select(
        F.col("node").cast("long").alias("entity_key"),
        F.col("component").cast("long").alias("canonical_key"),
    ).orderBy("entity_key")


# ---------------------------------------------------------------------------
# Corpus mixture deficit: actual token share per language vs a
# uniform target; the resample factor that mixture_resample consumes.
# ---------------------------------------------------------------------------

_MIXTURE_SQL = f"""
WITH per_doc AS (
  SELECT lang, len({_TOKS}) AS n_toks FROM documents),
actual AS (
  SELECT lang, CAST(sum(n_toks) AS BIGINT) AS actual_tokens
  FROM per_doc GROUP BY lang),
tot AS (
  SELECT CAST(sum(actual_tokens) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_langs
  FROM actual)
SELECT lang, actual_tokens,
       CAST(total // n_langs AS BIGINT) AS target_tokens,
       CAST(total // n_langs - actual_tokens AS BIGINT) AS deficit_tokens,
       CAST(total // n_langs AS DOUBLE) / actual_tokens AS resample_factor
FROM actual CROSS JOIN tot
ORDER BY lang
"""


@query("corpus_mixture_deficit", _MIXTURE_SQL)
def corpus_mixture_deficit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count mixture audit per language against a uniform
    target share: the planning report that feeds mixture_resample's
    per-stratum rates. One groupBy(lang) + a broadcast one-row
    total -- metadata-sized everywhere."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    per_doc = docs.select("lang", F.size(F.split(norm, " ")).alias("n_toks"))
    actual = per_doc.groupBy("lang").agg(
        F.sum("n_toks").cast("long").alias("actual_tokens")
    )
    tot = actual.agg(
        F.sum("actual_tokens").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_langs"),
    )
    target = F.expr("total DIV n_langs")
    return (
        actual.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "actual_tokens",
            target.cast("long").alias("target_tokens"),
            (target - F.col("actual_tokens")).cast("long").alias("deficit_tokens"),
            (target.cast("double") / F.col("actual_tokens")).alias("resample_factor"),
        )
        .orderBy("lang")
    )
