"""Twentieth LLM-pipeline batch: split-leakage n-gram coverage, dup
group-size census, tokenizer fertility by language, and a sampled
cosine-distance histogram — the evals that size contamination,
dedup aggressiveness, tokenizer fit, and embedding geometry before a
full run.

Oracle discipline per queries_core.py: integer counts and ppm (DIV),
histogram buckets from per-row deterministic doubles, the shared md5
split/fold fragments so the twins cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import fingerprint, shingles, tokens
from ..operators._parallel import fan_out_scan
from ..sources.tables import load_table
from .queries_llm import (
    _DOCS_WITH_DUPS_SQL,
    _NORM,
    _TOKS,
    _docs_with_dups,
    _shingles_sql,
)
from .registry import query


COVERAGE_SHINGLE_N = 3
COSINE_HIST_MOD = 10  # sample pairs where (id_a + id_b) % 10 == 0


# ---------------------------------------------------------------------------
# Split leakage / coverage: what fraction of the test split's distinct
# n-grams already exist in train? High coverage = evaluation text is
# effectively memorizable from train (the other direction of
# decontaminate_ngram, aggregated to a decision number).
# ---------------------------------------------------------------------------

_SPLIT_PCT = (
    "CAST(concat('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 100"
)

_COVERAGE_SQL = f"""
WITH tagged AS (
  SELECT CASE WHEN {_SPLIT_PCT} < 80 THEN 'train' ELSE 'heldout' END AS split,
         {_shingles_sql(_TOKS, COVERAGE_SHINGLE_N)} AS sh
  FROM documents
), grams AS (
  SELECT DISTINCT split, unnest(sh) AS g FROM tagged
), te AS (SELECT g FROM grams WHERE split = 'heldout'),
tr AS (SELECT g FROM grams WHERE split = 'train')
SELECT CAST((SELECT count(*) FROM te) AS BIGINT) AS heldout_ngrams,
       CAST((SELECT count(*) FROM te WHERE g IN (SELECT g FROM tr)) AS BIGINT)
         AS covered_ngrams,
       CAST((SELECT count(*) FROM te WHERE g IN (SELECT g FROM tr))
              * 1000000
              // (SELECT count(*) FROM te) AS BIGINT) AS coverage_ppm
"""


@query("text_ngram_coverage_vs_reference", _COVERAGE_SQL)
def text_ngram_coverage_vs_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct trigram coverage of the held-out split by the train
    split (the deterministic md5 80/20 assignment shared with
    split_train_valid_test). coverage_ppm near 1e6 means the held-out
    text offers almost no n-gram novelty -- evaluation on it measures
    memorization. One distinct-(split, gram) aggregation, then a left
    SEMI join of held-out grams against train grams (never a row
    product); the same shuffle class as decontaminate_ngram."""
    from ..operators._cache import track_persist

    docs = fan_out_scan(load_table(spark, sf_dir, "documents"))
    from ..operators.sampling import sample_hash_u32

    tagged = docs.select(
        F.when(sample_hash_u32("doc_id", "split") % 100 < 80, "train")
        .otherwise("heldout")
        .alias("split"),
        shingles("text", COVERAGE_SHINGLE_N).alias("sh"),
    )
    grams = track_persist(
        tagged.select("split", F.explode("sh").alias("g")).distinct()
    )
    te = grams.filter(F.col("split") == "heldout").select("g")
    tr = grams.filter(F.col("split") == "train").select("g")
    covered = te.join(tr, "g", "left_semi")
    n_te = te.agg(F.count("*").alias("heldout_ngrams"))
    n_cov = covered.agg(F.count("*").alias("covered_ngrams"))
    return (
        n_te.crossJoin(F.broadcast(n_cov))
        .select(
            F.col("heldout_ngrams").cast("long").alias("heldout_ngrams"),
            F.col("covered_ngrams").cast("long").alias("covered_ngrams"),
            F.expr("covered_ngrams * 1000000 DIV heldout_ngrams").alias(
                "coverage_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Dup group-size census: the distribution of content-hash group sizes.
# ---------------------------------------------------------------------------

_GROUP_SIZE_SQL = f"""
WITH {_DOCS_WITH_DUPS_SQL.strip()},
g AS (
  SELECT md5({_NORM}) AS fp, count(*) AS sz FROM docs GROUP BY fp
)
SELECT CAST(sz AS BIGINT) AS group_size,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sz * count(*) AS BIGINT) AS n_docs
FROM g GROUP BY sz ORDER BY sz
"""


@query("dedup_group_size_histogram", _GROUP_SIZE_SQL)
def dedup_group_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash duplicate group-size census: for each group size,
    how many groups and docs. The shape tells you what dedup will do
    BEFORE it runs: a fat tail of large groups means boilerplate (line
    dedup first); all-singletons means exact dedup is a no-op and the
    budget belongs to near-dup. Two map-side-combinable aggregations
    on fixed-width keys. Runs over the planted-dup fixture
    (_docs_with_dups) so the census shows a non-trivial shape."""
    docs = _docs_with_dups(spark, sf_dir)
    g = docs.groupBy(fingerprint("text").alias("fp")).agg(
        F.count("*").alias("sz")
    )
    return (
        g.groupBy("sz")
        .agg(F.count("*").alias("n_groups"))
        .select(
            F.col("sz").cast("long").alias("group_size"),
            "n_groups",
            (F.col("sz") * F.col("n_groups")).cast("long").alias("n_docs"),
        )
        .orderBy("group_size")
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility by language: BPE-ish subword estimate over
# whitespace words -- the per-language tokenizer-fit signal (a
# tokenizer trained for English over-fragments other scripts; rising
# fertility = more compute per word).
# ---------------------------------------------------------------------------


def _fertility_sql() -> str:
    from ..functions.text import BPE_PIECE_RE

    pieces = f"regexp_extract_all(lower(text), '{BPE_PIECE_RE}')"
    est = (
        f"list_reduce(list_transform({pieces}, p -> CASE "
        "WHEN substr(p,1,1) BETWEEN 'a' AND 'z' THEN (length(p)+3)//4 "
        "ELSE 1 END), (a,b) -> a + b)"
    )
    return f"""
WITH per_doc AS (
  SELECT lang,
         CASE WHEN len({pieces}) = 0 THEN 0 ELSE {est} END AS bpe,
         len({_TOKS}) AS words
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
       CAST(sum(words) AS BIGINT) AS ws_words,
       CAST(sum(bpe) * 1000000 // sum(words) AS BIGINT) AS fertility_ppm
FROM per_doc GROUP BY lang ORDER BY lang
"""


@query("text_tokenizer_fertility_by_lang", _fertility_sql())
def text_tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (BPE-estimate tokens per whitespace word,
    ppm) per language -- the fit metric that says which languages a
    tokenizer over-fragments (fertility 2e6 = 2 subwords per word =
    2x training cost per word of that language). Reuses the exact
    bpe_token_estimate fold from text_bpe_token_estimate; one narrow
    groupBy(lang) over two integers per doc."""
    from ..functions.text import bpe_token_estimate

    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        bpe_token_estimate("text").alias("bpe"),
        F.size(tokens("text")).alias("words"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("bpe").cast("long").alias("bpe_tokens"),
            F.sum("words").cast("long").alias("ws_words"),
            F.expr("sum(bpe) * 1000000 DIV sum(words)").alias(
                "fertility_ppm"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Sampled cosine histogram: embedding-geometry health check. The pair
# sample is DETERMINISTIC ((vec_id_a + vec_id_b) % 10 == 0 over the
# a<b upper triangle), so both engines score the identical pairs and
# the bucket counts hash-match.
# ---------------------------------------------------------------------------

_HIST_DOT = (
    "list_reduce([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) "
    "for i in generate_series(1, len(a.embedding))], (x, y) -> x + y)"
)
_HIST_NA = (
    "sqrt(list_reduce([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE) "
    "for i in generate_series(1, len(a.embedding))], (x, y) -> x + y))"
)
_HIST_NB = (
    "sqrt(list_reduce([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) "
    "for i in generate_series(1, len(b.embedding))], (x, y) -> x + y))"
)

_COSINE_HIST_SQL = f"""
WITH pairs AS (
  SELECT {_HIST_DOT} / ({_HIST_NA} * {_HIST_NB}) AS cos
  FROM embeddings a JOIN embeddings b
    ON a.vec_id < b.vec_id
   AND (a.vec_id + b.vec_id) % {COSINE_HIST_MOD} = 0
   AND a.vec_id % {COSINE_HIST_MOD} = 0
)
SELECT CAST(greatest(least(floor(cos * 10), 9), -10) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY bucket ORDER BY bucket
"""


@query("emb_cosine_histogram_sampled", _COSINE_HIST_SQL)
def emb_cosine_histogram_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of pairwise cosines over a DETERMINISTIC pair sample
    (a % 10 == 0 and (a+b) % 10 == 0 on the upper triangle: ~1% of all
    pairs, engine-replayable, no RNG). A healthy embedding space puts
    mass near 0 with a thin positive tail; mass near 1 means collapsed
    representations and near-dup pressure. The sampled side A is 10%
    of vectors and BROADCAST, so the 'pair sample' is one broadcast
    join + a 20-bucket count -- never a full self-join. Buckets from
    floor(cos*10) clamped to [-10, 9]; the cosine is the shared
    sequential fold, identical IEEE result both engines, so boundary
    assignment agrees. Scale note: the sampled side grows with the
    corpus (1/MOD of it) -- at real corpus scale raise MOD (or hash
    into a fixed-count sample, sample_bottomk's shape) so the build
    side stays broadcastable; the histogram needs only ~1e5 pairs for
    a stable shape, not a fixed FRACTION."""
    emb = load_table(spark, sf_dir, "embeddings")
    from ..operators.similarity import _cosine

    a = emb.filter(F.col("vec_id") % COSINE_HIST_MOD == 0).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea")
    )
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    cos = _cosine(F.col("ea"), F.col("eb"))
    pairs = (
        b.join(
            F.broadcast(a),
            (F.col("id_a") < F.col("id_b"))
            & ((F.col("id_a") + F.col("id_b")) % COSINE_HIST_MOD == 0),
        )
        .select(cos.alias("cos"))
    )
    bucket = F.greatest(
        F.least(F.floor(F.col("cos") * 10), F.lit(9)), F.lit(-10)
    )
    return (
        pairs.select(bucket.cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("bucket")
    )
