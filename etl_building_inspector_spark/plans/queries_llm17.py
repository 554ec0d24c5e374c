"""Seventeenth LLM-pipeline batch: corpus quality-assurance and
pre-flight audits — the checks a pipeline owner runs BEFORE committing
a 100 TB dedup/join/shuffle, plus Gopher-style document filtering.

- quality_gopher_rules: the Gopher quality-rule battery (word count,
  mean word length, stopword evidence, alphabetic-token fraction) as
  per-source pass counts — every rule a cross-multiplied integer
  comparison, no ratio ever materialized.
- text_zipf_profile: the top-20 token frequency profile with
  rank*freq products (Zipf's law says the product is ~constant) —
  the one-glance sanity check that a corpus looks like natural text
  rather than boilerplate or spam.
- text_compression_ratio_proxy: per-document distinct-bigram ppm as a
  compressibility proxy (near-duplicate boilerplate compresses well =
  low distinct ratio), bucketed into deciles per source.
- dedup_threshold_sensitivity: the signature-agreement histogram over
  LSH candidate pairs — how many pairs survive at EVERY possible
  threshold, from one pass over the same pairs machinery the dedup
  uses (choosing a Jaccard cutoff from data, not folklore).
- corpus_dedup_survivor_bias: what exact dedup would THROW AWAY, per
  source — kept/dropped doc and char counts, the audit that catches a
  dedup silently gutting one source.
- join_explosion_audit: per-key self-join fanout (n*(n-1)/2 pairs)
  for the worst keys — the number to read before launching any
  pair-generating self-join at scale.
- shuffle_partition_balance_report: deterministic md5-bucket load per
  simulated shuffle partition with a load_ppm skew figure — hash-
  partition balance measured with engine-portable arithmetic rather
  than guessed.

Oracle discipline per queries_core.py: integers until a single final
division (here: none — every output column is BIGINT or VARCHAR),
row_number with total tiebreaks, shared CTE constructors so the Spark
plan and the DuckDB twin cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import LANG_STOPWORDS, fingerprint, shingles, tokens
from ..sources.tables import load_table
from .queries_llm import (
    MINHASH_K,
    SHINGLE_N,
    _DOCS_WITH_DUPS_SQL,
    _NORM,
    _TOKS,
    _docs_with_dups,
    _minhash_lsh_sql,
    _minhash_pair_estimates,
    _shingles_sql,
    _stop_hits_sql,
)
from .registry import query


# Gopher-style rule constants (Rae et al. 2021, table A1 shape —
# bounds adapted to the synthetic fixture's vocabulary).
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3  # mean word length in [3, 10] ...
GOPHER_MAX_MEAN_LEN = 10  # ... checked as 3n <= chars <= 10n
GOPHER_MIN_STOP_HITS = 2  # >= 2 stopword occurrences
GOPHER_ALPHA_NUM = 4  # >= 80% tokens contain a letter ...
GOPHER_ALPHA_DEN = 5  # ... checked as 5*alpha >= 4*n

ZIPF_TOP_K = 20
COMPRESS_BUCKETS = 10
EXPLOSION_TOP_K = 20
BALANCE_BUCKETS = 32


# ---------------------------------------------------------------------------
# Gopher rule battery. Every rule is an integer comparison on (token
# count, summed token chars, stopword hits, alphabetic-token count) —
# one narrow projection + one groupBy(source): a single shuffle whose
# input is already reduced to one row of booleans per document.
# ---------------------------------------------------------------------------

_GOPHER_SQL = f"""
WITH t AS (
  SELECT source, {_TOKS} AS toks FROM documents
), feats AS (
  SELECT source,
         len(toks) AS n_tok,
         length(array_to_string(toks, '')) AS n_chr,
         {_stop_hits_sql("toks", LANG_STOPWORDS["en"])} AS stop_hits,
         len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha
  FROM t
), rules AS (
  SELECT source,
    CASE WHEN n_tok BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
         THEN 1 ELSE 0 END AS r_wordcount,
    CASE WHEN {GOPHER_MIN_MEAN_LEN} * n_tok <= n_chr
          AND n_chr <= {GOPHER_MAX_MEAN_LEN} * n_tok
         THEN 1 ELSE 0 END AS r_meanlen,
    CASE WHEN stop_hits >= {GOPHER_MIN_STOP_HITS} THEN 1 ELSE 0 END AS r_stopword,
    CASE WHEN {GOPHER_ALPHA_DEN} * n_alpha >= {GOPHER_ALPHA_NUM} * n_tok
         THEN 1 ELSE 0 END AS r_alpha
  FROM feats
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(r_wordcount) AS BIGINT) AS n_pass_wordcount,
       CAST(sum(r_meanlen) AS BIGINT) AS n_pass_meanlen,
       CAST(sum(r_stopword) AS BIGINT) AS n_pass_stopword,
       CAST(sum(r_alpha) AS BIGINT) AS n_pass_alpha,
       CAST(sum(r_wordcount * r_meanlen * r_stopword * r_alpha) AS BIGINT)
         AS n_pass_all
FROM rules GROUP BY source ORDER BY source
"""


@query("quality_gopher_rules", _GOPHER_SQL)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rules as per-source pass counts. Each rule
    is a cross-multiplied integer comparison (3n <= chars <= 10n
    instead of 3 <= chars/n <= 10), so no float enters the plan and
    the oracle matches bit-for-bit. One tokenize pass staged in its
    own projection (the HOF-reference rule from functions/text.py),
    then a single groupBy(source) over per-doc booleans — the shuffle
    input is 5 ints/doc regardless of document size."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("source", tokens("text").alias("toks"))
    feats = staged.select(
        "source",
        F.size("toks").alias("n_tok"),
        F.length(F.concat_ws("", F.col("toks"))).alias("n_chr"),
        F.size(
            F.filter(F.col("toks"), lambda x: x.isin(*LANG_STOPWORDS["en"]))
        ).alias("stop_hits"),
        F.size(F.filter(F.col("toks"), lambda x: x.rlike("[a-z]"))).alias(
            "n_alpha"
        ),
    )
    rules = feats.select(
        "source",
        F.when(
            F.col("n_tok").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS), 1
        )
        .otherwise(0)
        .alias("r_wordcount"),
        F.when(
            (F.lit(GOPHER_MIN_MEAN_LEN) * F.col("n_tok") <= F.col("n_chr"))
            & (F.col("n_chr") <= F.lit(GOPHER_MAX_MEAN_LEN) * F.col("n_tok")),
            1,
        )
        .otherwise(0)
        .alias("r_meanlen"),
        F.when(F.col("stop_hits") >= GOPHER_MIN_STOP_HITS, 1)
        .otherwise(0)
        .alias("r_stopword"),
        F.when(
            F.lit(GOPHER_ALPHA_DEN) * F.col("n_alpha")
            >= F.lit(GOPHER_ALPHA_NUM) * F.col("n_tok"),
            1,
        )
        .otherwise(0)
        .alias("r_alpha"),
    )
    return (
        rules.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("r_wordcount").cast("long").alias("n_pass_wordcount"),
            F.sum("r_meanlen").cast("long").alias("n_pass_meanlen"),
            F.sum("r_stopword").cast("long").alias("n_pass_stopword"),
            F.sum("r_alpha").cast("long").alias("n_pass_alpha"),
            F.sum(
                F.col("r_wordcount")
                * F.col("r_meanlen")
                * F.col("r_stopword")
                * F.col("r_alpha")
            )
            .cast("long")
            .alias("n_pass_all"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Zipf profile: global token frequencies, top-20 by (freq DESC, token)
# — partial-aggregated count then TakeOrdered (orderBy+limit compiles
# to a top-k without a global sort), rank/max computed on the 20-row
# result. No vocabulary-sized window anywhere.
# ---------------------------------------------------------------------------

_ZIPF_SQL = f"""
WITH t AS (SELECT {_TOKS} AS toks FROM documents),
tok AS (SELECT unnest(toks) AS token FROM t),
freq AS (SELECT token, count(*) AS freq FROM tok GROUP BY token),
ranked AS (
  SELECT token, freq,
         row_number() OVER (ORDER BY freq DESC, token) AS rank
  FROM freq
)
SELECT CAST(rank AS BIGINT) AS rank, token, CAST(freq AS BIGINT) AS freq,
       CAST(rank * freq AS BIGINT) AS rank_freq_product,
       CAST(freq * 1000000 // max(freq) OVER () AS BIGINT) AS freq_vs_top_ppm
FROM ranked WHERE rank <= {ZIPF_TOP_K} ORDER BY rank
"""


@query("text_zipf_profile", _ZIPF_SQL)
def text_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 token frequency profile. The explode+count shuffles on
    token with map-side combine; the top-20 is orderBy(freq DESC,
    token).limit(20) — Spark compiles that to TakeOrdered (per-
    partition heap + driver merge of 20-row heads), so the
    vocabulary-sized frequency table is never globally sorted and the
    rank window runs over exactly 20 rows. rank_freq_product ~constant
    is Zipf's law; freq_vs_top_ppm is integer (// floor division both
    sides)."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    top = freq.orderBy(F.col("freq").desc(), "token").limit(ZIPF_TOP_K)
    w = Window.orderBy(F.col("freq").desc(), "token")
    ranked = top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "token",
        F.col("freq").cast("long").alias("freq"),
    )
    with_max = ranked.withColumn(
        "max_freq", F.max("freq").over(Window.partitionBy())
    )
    return with_max.select(
        "rank",
        "token",
        "freq",
        (F.col("rank") * F.col("freq")).cast("long").alias(
            "rank_freq_product"
        ),
        F.expr("freq * 1000000 DIV max_freq").alias("freq_vs_top_ppm"),
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# Compression-ratio proxy: distinct-bigram ppm per doc, bucketed into
# deciles per source. Narrow per-doc arithmetic + one groupBy.
# ---------------------------------------------------------------------------

_COMPRESS_SQL = f"""
WITH t AS (SELECT source, {_TOKS} AS toks FROM documents),
bi AS (
  SELECT source, {_shingles_sql("toks", 2)} AS grams
  FROM t WHERE len(toks) >= 2
), ppm AS (
  SELECT source,
         len(list_distinct(grams)) * 1000000 // len(grams) AS distinct_ppm
  FROM bi
)
SELECT source,
       CAST(least(distinct_ppm // 100000, {COMPRESS_BUCKETS - 1}) AS BIGINT)
         AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs
FROM ppm GROUP BY 1, 2 ORDER BY source, bucket
"""


@query("text_compression_ratio_proxy", _COMPRESS_SQL)
def text_compression_ratio_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-bigram ppm as a compressibility proxy (repeated
    boilerplate => low distinct ratio => compresses well), bucketed
    into ten 100k-ppm-wide deciles per source (ppm == 1e6 clamps into
    the top bucket). All arithmetic integer; the only shuffle is the
    final (source, bucket) count over two-int rows."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("source", tokens("text").alias("toks")).filter(
        F.size("toks") >= 2
    )
    grams = staged.select(
        "source", shingles("text", 2, toks=F.col("toks")).alias("grams")
    )
    ppm = grams.select(
        "source",
        (
            F.size(F.array_distinct("grams")).cast("long") * 1_000_000
        ).alias("num"),
        F.size("grams").cast("long").alias("den"),
    ).select("source", F.expr("num DIV den").alias("distinct_ppm"))
    return (
        ppm.select(
            "source",
            F.expr(
                f"least(distinct_ppm DIV 100000, "
                f"CAST({COMPRESS_BUCKETS - 1} AS BIGINT))"
            ).alias("bucket"),
        )
        .groupBy("source", "bucket")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source", "bucket")
    )


# ---------------------------------------------------------------------------
# Threshold sensitivity: est_matches histogram over LSH candidate
# pairs. Shares the signature pass with the banding (sig= kwarg), so
# the histogram describes EXACTLY the pairs the dedup would see.
# ---------------------------------------------------------------------------


def _threshold_sensitivity_sql() -> str:
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
sh2 AS (SELECT doc_id, {_shingles_sql("toks", SHINGLE_N)} AS sh FROM t2),
sig2 AS (SELECT doc_id, {sig_cols} FROM sh2),
m AS (
  SELECT {matches} AS est_matches
  FROM pairs p
  JOIN sig2 sa ON p.id_a = sa.doc_id
  JOIN sig2 sb ON p.id_b = sb.doc_id
)
SELECT CAST(est_matches AS BIGINT) AS est_matches,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM m GROUP BY est_matches ORDER BY est_matches
"""


@query("dedup_threshold_sensitivity", _threshold_sensitivity_sql())
def dedup_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many LSH candidate pairs survive at every signature-
    agreement threshold: the (est_matches of k, pair count) histogram.
    Cumulative-from-the-right gives the survivor count at any cutoff,
    so ONE run answers every 'what if the threshold were 0.5/0.75?'
    question. Signatures are computed once and shared with the banded
    pair join (sig= kwarg, same machinery as dedup_minhash_lsh_pairs);
    the histogram adds one k-way comparison per candidate pair and a
    9-row aggregate — the audit is (tiny constant) + (what the dedup
    already pays)."""
    pairs, est = _minhash_pair_estimates(
        _docs_with_dups(spark, sf_dir), MINHASH_K, SHINGLE_N
    )
    return (
        pairs.select(est.alias("est_matches"))
        .groupBy("est_matches")
        .agg(F.count("*").alias("n_pairs"))
        .select(
            F.col("est_matches").cast("long").alias("est_matches"), "n_pairs"
        )
        .orderBy("est_matches")
    )


# ---------------------------------------------------------------------------
# Survivor bias: per-source kept/dropped accounting for exact dedup.
# ---------------------------------------------------------------------------

_SURVIVOR_SQL = f"""
WITH {_DOCS_WITH_DUPS_SQL.strip()},
src AS (
  SELECT d.doc_id, d.text, o.source
  FROM docs d JOIN documents o ON d.doc_id % 100000 = o.doc_id
), marked AS (
  SELECT source, length(text) AS n_chars,
         CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY md5({_NORM}))
              THEN 1 ELSE 0 END AS kept
  FROM src
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       CAST(count(*) - sum(kept) AS BIGINT) AS n_dropped,
       CAST(sum(kept * n_chars) AS BIGINT) AS kept_chars,
       CAST(sum((1 - kept) * n_chars) AS BIGINT) AS dropped_chars
FROM marked GROUP BY source ORDER BY source
"""


@query("corpus_dedup_survivor_bias", _SURVIVOR_SQL)
def corpus_dedup_survivor_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What exact (content-hash, keep-min-id) dedup throws away, per
    source: kept/dropped doc and char counts. A dedup that guts one
    source shifts the corpus mixture silently — this is the audit that
    catches it BEFORE the rewrite. The kept mark is min(doc_id) over
    the fingerprint partition (the same keep-first convention as
    dedup_exact_text), one window + one groupBy: two shuffles, both on
    narrow rows. The source of a mutated near-dup (doc_id+100000) is
    recovered by the % 100000 equi-join back to documents — a plain
    key join that stays co-partitioned at scale."""
    docs = _docs_with_dups(spark, sf_dir)
    orig = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("o_id"), "source"
    )
    src = docs.join(orig, docs["doc_id"] % 100_000 == F.col("o_id")).select(
        "doc_id", "text", "source"
    )
    w = Window.partitionBy(fingerprint("text"))
    marked = src.select(
        "source",
        F.length("text").alias("n_chars"),
        F.when(F.col("doc_id") == F.min("doc_id").over(w), 1)
        .otherwise(0)
        .alias("kept"),
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("kept").cast("long").alias("n_kept"),
            (F.count("*") - F.sum("kept")).cast("long").alias("n_dropped"),
            F.sum(F.col("kept") * F.col("n_chars"))
            .cast("long")
            .alias("kept_chars"),
            F.sum((F.lit(1) - F.col("kept")) * F.col("n_chars"))
            .cast("long")
            .alias("dropped_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Join-explosion audit: the fanout a self-join on this key would pay.
# ---------------------------------------------------------------------------

_EXPLOSION_SQL = f"""
WITH k AS (SELECT l_partkey, count(*) AS n_rows FROM lineitem GROUP BY 1)
SELECT CAST(l_partkey AS BIGINT) AS partkey,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_rows * (n_rows - 1) // 2 AS BIGINT) AS n_self_pairs
FROM k ORDER BY n_self_pairs DESC, partkey LIMIT {EXPLOSION_TOP_K}
"""


@query("join_explosion_audit", _EXPLOSION_SQL)
def join_explosion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst self-join keys by pair fanout (n*(n-1)/2) — the number to
    read before launching any pair-generating self-join. One
    map-side-combined count per key, then TakeOrdered(20): the audit
    costs one aggregation over the key column no matter how wide the
    table, and never materializes a single pair. (This is the
    generalized form of the width accounting the LSH cap-loss report
    does for dedup buckets.)"""
    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy("l_partkey").agg(F.count("*").alias("n_rows"))
    return (
        k.select(
            F.col("l_partkey").cast("long").alias("partkey"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.expr("n_rows * (n_rows - 1) DIV 2").alias("n_self_pairs"),
        )
        .orderBy(F.col("n_self_pairs").desc(), "partkey")
        .limit(EXPLOSION_TOP_K)
    )


# ---------------------------------------------------------------------------
# Shuffle-balance report: deterministic md5 bucket per row, per-bucket
# load with a ppm share — engine-portable hash-partition audit.
# ---------------------------------------------------------------------------

_BALANCE_SQL = f"""
WITH b AS (
  SELECT CAST(concat('0x', substr(md5('shuffle:' || CAST(l_orderkey AS VARCHAR)),
                                  1, 8)) AS BIGINT) % {BALANCE_BUCKETS} AS bucket
  FROM lineitem
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) * {BALANCE_BUCKETS} * 1000000
              // sum(count(*)) OVER () AS BIGINT) AS load_ppm
FROM b GROUP BY bucket ORDER BY bucket
"""


@query("shuffle_partition_balance_report", _BALANCE_SQL)
def shuffle_partition_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simulated hash-shuffle balance: u32(md5('shuffle:'||key)) % 32
    buckets (the repo's engine-portable sampling hash, NOT Spark's
    internal murmur — the internal hash differs across engines and
    versions, which is exactly why a portable audit needs its own),
    per-bucket row count and load_ppm = rows*32e6/total (1e6 ppm ==
    perfectly balanced). A load_ppm far above 1e6 on a real key column
    is the skew warning that says salt before shuffling. One
    aggregation + a 32-row window."""
    from ..operators.sampling import sample_hash_u32

    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        (sample_hash_u32("l_orderkey", "shuffle") % BALANCE_BUCKETS).alias(
            "bucket"
        )
    )
    counted = b.groupBy("bucket").agg(F.count("*").alias("n_rows"))
    return (
        counted.withColumn(
            "total", F.sum("n_rows").over(Window.partitionBy())
        )
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "n_rows",
            F.expr(
                f"n_rows * {BALANCE_BUCKETS} * 1000000 DIV total"
            ).alias("load_ppm"),
        )
        .orderBy("bucket")
    )
