"""Round-3 curation batch 2: cross-set embedding decontamination,
char-bigram OOV quality scoring, and incremental (new-vs-index)
MinHash dedup.

All three are the CROSS-DATASET variants of machinery that already
exists for the within-dataset case -- the shapes a training-data
pipeline actually runs daily: "is my corpus contaminated with the
benchmark?", "score new docs against the corpus vocabulary", "which of
today's crawl is a near-dup of the existing index?".

Portability: oracles are generated from the SAME constants as the
Spark plans (hyperplane seeds via similarity.lsh_planes, sha256-chunk
minhash, integer ppm rates) -- pattern of queries_llm.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators._parallel import fan_out_scan
from ..operators.dedup import minhash_signature
from ..operators.similarity import cosine_arrow, lsh_buckets
from ..sources.tables import load_table
from .queries_llm import EMB_DIM, SHINGLE_N, _planes_cte, _shingles_sql, _TOKS
from .queries_llm5 import _dense_daily
from .registry import query


# ---------------------------------------------------------------------------
# Embedding-level decontamination: benchmark slice vs a corpus with
# planted contamination (perturbed benchmark copies), LSH candidates,
# exact cosine confirm. Completes the decontamination triple next to
# the exact-n-gram and bloom-prefilter variants (textops).
# ---------------------------------------------------------------------------

DECON_EMB_TABLES = 6
DECON_EMB_PLANES = 8
DECON_EMB_THRESHOLD = 0.95

# benchmark slice: every 20th vector. contaminated corpus: the rest,
# plus near-copies of every 40th vector (deterministic per-coordinate
# perturbation, cosine(orig, copy) ~ 0.9996 -- same regime as the
# near-dup fixture in queries_llm).
_DECON_SETS_SQL = """
bench AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
  FROM embeddings WHERE vec_id % 20 = 0
),
corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
  FROM embeddings WHERE vec_id % 20 <> 0
  UNION ALL
  SELECT vec_id + 200000 AS vec_id,
         [CAST(embedding[i] AS DOUBLE) * (1 + 0.01 * (((i - 1) % 5) - 2))
          for i in generate_series(1, len(embedding))] AS embedding
  FROM embeddings WHERE vec_id % 40 = 0
)
"""

_PLANE_DOT_E = (
    "list_reduce([CAST(e.embedding[i] AS DOUBLE) * pl.vec[i] "
    "for i in generate_series(1, len(e.embedding))], (x, y) -> x + y)"
)

_DOT_AB = (
    "list_reduce([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) "
    "for i in generate_series(1, len(a.embedding))], (x, y) -> x + y)"
)
_NORM_A = (
    "sqrt(list_reduce([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE) "
    "for i in generate_series(1, len(a.embedding))], (x, y) -> x + y))"
)
_NORM_B = (
    "sqrt(list_reduce([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) "
    "for i in generate_series(1, len(b.embedding))], (x, y) -> x + y))"
)


def _buckets_for(src: str) -> str:
    return f"""(
  SELECT e.vec_id AS vid, pl.tbl AS tbl,
         CAST(sum(CASE WHEN {_PLANE_DOT_E} > 0 THEN pl.bit ELSE 0 END) AS BIGINT) AS bucket
  FROM {src} e CROSS JOIN planes pl
  GROUP BY 1, 2
)"""


def _decon_emb_sql() -> str:
    return f"""
WITH {_DECON_SETS_SQL.strip()},
{_planes_cte(DECON_EMB_TABLES, DECON_EMB_PLANES)},
cb AS {_buckets_for("corpus")},
bb AS {_buckets_for("bench")},
cand AS (
  SELECT DISTINCT cb.vid AS corpus_id, bb.vid AS bench_id
  FROM cb JOIN bb ON cb.tbl = bb.tbl AND cb.bucket = bb.bucket
),
sims AS (
  SELECT corpus_id, bench_id,
         {_DOT_AB} / ({_NORM_A} * {_NORM_B}) AS cosine
  FROM cand
  JOIN corpus a ON a.vec_id = corpus_id
  JOIN bench b ON b.vec_id = bench_id
)
SELECT CAST(corpus_id AS BIGINT) AS corpus_id,
       CAST(bench_id AS BIGINT) AS bench_id,
       cosine
FROM sims
WHERE cosine >= {DECON_EMB_THRESHOLD}
QUALIFY row_number() OVER (
  PARTITION BY corpus_id ORDER BY cosine DESC, bench_id
) = 1
"""


@query("decontaminate_embedding_lsh", _decon_emb_sql())
def decontaminate_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-set embedding decontamination: flag corpus vectors whose
    cosine to ANY benchmark vector >= threshold, with the best match.

    100 TB shape: the benchmark set is small and bounded (eval suites
    are KBs, the corpus is TBs), so its LSH bucket table is a
    BROADCAST build side -- the candidate join is a broadcast hash
    join streaming over corpus buckets, linear in corpus size, and no
    bucket cap is needed (candidate fanout per corpus row is bounded
    by benchmark bucket width <= |benchmark|). The confirm cosine runs
    only on candidates. Compare textops.decontaminate_* for the
    n-gram/bloom text variants of the same pipeline stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    bench = base.where(F.col("vec_id") % 20 == 0)
    planted = base.where(F.col("vec_id") % 40 == 0).select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x * (1 + 0.01 * ((i % 5) - 2))
        ).alias("embedding"),
    )
    corpus = base.where(F.col("vec_id") % 20 != 0).unionByName(planted)

    kw = dict(
        n_tables=DECON_EMB_TABLES,
        planes_per_table=DECON_EMB_PLANES,
        dim=EMB_DIM,
    )
    cb = lsh_buckets(corpus, "embedding", **kw).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").alias("corpus_emb"),
        "table",
        "bucket",
    )
    bb = lsh_buckets(bench, "embedding", **kw).select(
        F.col("vec_id").alias("bench_id"),
        F.col("embedding").alias("bench_emb"),
        "table",
        "bucket",
    )
    cand = (
        cb.join(F.broadcast(bb), ["table", "bucket"])
        .select("corpus_id", "corpus_emb", "bench_id", "bench_emb")
        .dropDuplicates(["corpus_id", "bench_id"])
    )
    sims = cosine_arrow(cand, "corpus_emb", "bench_emb").where(
        F.col("cosine") >= DECON_EMB_THRESHOLD
    )
    w = Window.partitionBy("corpus_id").orderBy(
        F.desc("cosine"), F.asc("bench_id")
    )
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("corpus_id").cast("long").alias("corpus_id"),
            F.col("bench_id").cast("long").alias("bench_id"),
            "cosine",
        )
    )


# ---------------------------------------------------------------------------
# Char-bigram OOV rate: corpus-trained top-K bigram vocabulary, per-doc
# out-of-vocabulary rate in ppm. An n-gram-LM quality proxy that stays
# integer-exact (a real log-prob LM needs ln(), which is not
# bit-portable across engines).
# ---------------------------------------------------------------------------

OOV_VOCAB_K = 64


@query(
    "text_oov_bigram_rate",
    f"""
WITH grams AS (
  SELECT doc_id,
         unnest([substr(text, i, 2) for i in generate_series(1, len(text) - 1)]) AS g
  FROM documents
),
vocab AS (
  SELECT g FROM grams GROUP BY g
  QUALIFY row_number() OVER (ORDER BY count(*) DESC, g) <= {OOV_VOCAB_K}
),
scored AS (
  SELECT doc_id, count(*) AS n_bigrams,
         sum(CASE WHEN v.g IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM grams LEFT JOIN vocab v USING (g)
  GROUP BY doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(n_oov AS BIGINT) AS n_oov,
       CAST(n_oov * 1000000 // n_bigrams AS BIGINT) AS oov_ppm
FROM scored
""",
)
def text_oov_bigram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained char-bigram vocabulary (top-K by corpus frequency,
    lexicographic tiebreak) -> per-doc OOV rate in integer ppm.

    100 TB shape: the bigram explode is a narrow flatMap (linear in
    corpus bytes); the vocabulary aggregate is map-side combinable and
    its distinct-key space is bounded by charset^2 REGARDLESS of
    corpus size, so the global top-K window runs over a few thousand
    rows and the vocab is a broadcast build side for the scoring
    join. The per-doc score is one more map-side-combinable agg."""
    from ..operators._cache import track_persist

    # fan the 1-split scan out before the position explode (guide 2.5)
    docs = fan_out_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    # explode POSITIONS, then a plain codegen substring -- the
    # transform(...substr...) HOF variant builds the whole bigram
    # array interpreted per row and measured ~2.4x slower cold at
    # sf0.1 (the Generate+Project here stays in whole-stage codegen)
    grams = docs.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(1), F.length("text") - 1)).alias("i"),
    ).select("doc_id", F.expr("substring(text, i, 2)").alias("g"))
    # pre-aggregate to (doc, gram) counts ONCE and persist: both the
    # vocabulary pass and the scoring pass read this slim aggregate
    # instead of re-running the bigram explode over raw text (the DAG
    # references grams twice; without the persist Spark recomputes the
    # flatMap per consumer -- measured ~2x at sf0.1)
    doc_grams = track_persist(
        grams.groupBy("doc_id", "g").agg(F.count("*").alias("dg_cnt"))
    )
    wv = Window.orderBy(F.desc("cnt"), F.asc("g"))
    vocab = (
        doc_grams.groupBy("g")
        .agg(F.sum("dg_cnt").alias("cnt"))
        .withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") <= OOV_VOCAB_K)
        .select("g", F.lit(True).alias("in_vocab"))
    )
    scored = (
        doc_grams.join(F.broadcast(vocab), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("dg_cnt").cast("long").alias("n_bigrams"),
            F.sum(F.when(F.col("in_vocab").isNull(), F.col("dg_cnt")).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
    )
    return scored.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_bigrams",
        "n_oov",
        F.expr("n_oov * 1000000L div n_bigrams").cast("long").alias("oov_ppm"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup: today's crawl (new docs) vs the existing index --
# banded MinHash collision flags, index side pre-aggregated per band
# key so the join fanout is bounded.
# ---------------------------------------------------------------------------

_INC_K = 8
_INC_BANDS = 4


def _inc_minhash_sql() -> str:
    rpb = _INC_K // _INC_BANDS
    sig_cols = ",\n  ".join(
        f"list_min(list_transform(sh, x -> substr(sha256(x), {i * 8 + 1}, 8))) AS minhash_{i}"
        for i in range(_INC_K)
    )
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws('|', "
        + ", ".join(f"minhash_{b * rpb + r}" for r in range(rpb))
        + ")) AS key FROM sig"
        for b in range(_INC_BANDS)
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_shingles_sql("toks", SHINGLE_N)} AS sh FROM t),
sig AS (SELECT doc_id, {sig_cols} FROM sh),
bandkeys AS ({band_selects}),
idx AS (
  SELECT band, key, CAST(count(*) AS BIGINT) AS n_index_docs,
         CAST(min(doc_id) AS BIGINT) AS first_match_id
  FROM bandkeys WHERE doc_id % 10 <> 7
  GROUP BY band, key
),
hits AS (
  SELECT n.doc_id, idx.n_index_docs, idx.first_match_id
  FROM bandkeys n JOIN idx USING (band, key)
  WHERE n.doc_id % 10 = 7
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS hit_bands,
       CAST(sum(n_index_docs) AS BIGINT) AS n_index_docs,
       CAST(min(first_match_id) AS BIGINT) AS first_match_id
FROM hits
GROUP BY doc_id
"""


@query("dedup_incremental_minhash", _inc_minhash_sql())
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup flagging: which NEW docs (deterministic
    doc_id slice standing in for today's crawl) collide with the
    existing index in >= 1 MinHash band.

    100 TB shape: unlike pair enumeration (minhash_lsh_pairs), the
    index side is PRE-AGGREGATED to one row per (band, key) before the
    join -- a hot band key of w index docs contributes 1 joined row,
    not w, so the join output is <= bands x |new docs| regardless of
    index skew. No bucket cap needed; the count/min survive as
    mergeable aggregates. This is the daily-ingest shape: the index
    band table is exactly what an incremental pipeline persists
    between runs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sig = minhash_signature(docs, "text", k=_INC_K, shingle_n=SHINGLE_N)
    rpb = _INC_K // _INC_BANDS
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[f"minhash_{b * rpb + r}" for r in range(rpb)],
                )
            ).alias("key"),
        )
        for b in range(_INC_BANDS)
    ]
    bandkeys = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    idx = (
        bandkeys.where(F.col("doc_id") % 10 != 7)
        .groupBy("band", "key")
        .agg(
            F.count("*").cast("long").alias("n_index_docs"),
            F.min("doc_id").cast("long").alias("first_match_id"),
        )
    )
    new = bandkeys.where(F.col("doc_id") % 10 == 7)
    hits = new.join(idx, ["band", "key"])
    return hits.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("hit_bands"),
        F.sum("n_index_docs").cast("long").alias("n_index_docs"),
        F.min("first_match_id").cast("long").alias("first_match_id"),
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "hit_bands",
        "n_index_docs",
        "first_match_id",
    )


# ---------------------------------------------------------------------------
# Linear-interpolation gap fill (the companion to queries_llm5's LOCF):
# interpolate missing daily counts between the bracketing observations,
# integer milli-units so both engines land on identical values.
# ---------------------------------------------------------------------------


@query(
    "timeseries_gapfill_linear",
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
br AS (
  SELECT event_type, day, n, n IS NOT NULL AS observed,
    last_value(n IGNORE NULLS) OVER (
      PARTITION BY event_type ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_n,
    max(CASE WHEN n IS NOT NULL THEN day END) OVER (
      PARTITION BY event_type ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_day,
    first_value(n IGNORE NULLS) OVER (
      PARTITION BY event_type ORDER BY day
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_n,
    min(CASE WHEN n IS NOT NULL THEN day END) OVER (
      PARTITION BY event_type ORDER BY day
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_day
  FROM j)
SELECT event_type, day, observed,
  CASE
    WHEN observed THEN n * 1000
    WHEN prev_n IS NULL OR next_n IS NULL THEN NULL
    ELSE prev_n * 1000
         + (next_n - prev_n) * 1000 * date_diff('day', prev_day, day)
           // date_diff('day', prev_day, next_day)
  END AS interp_milli
FROM br
""",
)
def timeseries_gapfill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation between the bracketing observations on a
    dense date spine. Values are integer milli-units with BIGINT floor
    division, so the interpolated series is bit-equal across engines
    (a double slope would differ in the last ulp). NULL outside the
    observed range (no extrapolation) -- the honest choice for
    downstream feature pipelines.

    100 TB shape: identical to the LOCF twin -- spine bounds are an
    in-plan one-row broadcast, and both bracketing lookups are the
    same partition-ordered window pass (no self-join against the
    observation set)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("n")
    )
    j = _dense_daily(daily)
    wb = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("n").isNotNull(), F.col("day"))
    br = (
        j.withColumn("observed", F.col("n").isNotNull())
        .withColumn("prev_n", F.last("n", ignorenulls=True).over(wb))
        .withColumn("prev_day", F.max(obs_day).over(wb))
        .withColumn("next_n", F.first("n", ignorenulls=True).over(wf))
        .withColumn("next_day", F.min(obs_day).over(wf))
    )
    interp = (
        F.when(F.col("observed"), F.col("n") * 1000)
        .when(F.col("prev_n").isNull() | F.col("next_n").isNull(), F.lit(None))
        .otherwise(
            F.col("prev_n") * 1000
            + F.expr(
                "(next_n - prev_n) * 1000L * datediff(day, prev_day) "
                "div datediff(next_day, prev_day)"
            )
        )
    )
    return br.select(
        "event_type", "day", "observed", interp.cast("long").alias("interp_milli")
    )


# ---------------------------------------------------------------------------
# Corpus source-overlap matrix: shingle-set Jaccard between every pair
# of sources, WITHOUT a shingle self-join -- per-shingle source-set
# co-occurrence explode, bounded by the source catalog, not the corpus.
# ---------------------------------------------------------------------------


@query(
    "corpus_source_overlap",
    f"""
WITH t AS (SELECT source, {_TOKS} AS toks FROM documents),
s AS (
  SELECT DISTINCT source, unnest({_shingles_sql("toks", 3)}) AS sh FROM t
),
per AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY source),
co AS (
  SELECT a.source AS src_a, b.source AS src_b
  FROM s a JOIN s b ON a.sh = b.sh AND a.source < b.source
),
cnt AS (
  SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_common
  FROM co GROUP BY src_a, src_b
)
SELECT src_a, src_b, n_common,
       pa.n AS n_a, pb.n AS n_b,
       CAST(n_common * 1000000 // (pa.n + pb.n - n_common) AS BIGINT) AS jaccard_ppm
FROM cnt
JOIN per pa ON pa.source = cnt.src_a
JOIN per pb ON pb.source = cnt.src_b
""",
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise shingle-set Jaccard between corpus sources (the
    "how much does slice A duplicate slice B" report that drives
    mixture decisions).

    100 TB shape: NO shingle self-join. Distinct (source, shingle)
    pairs aggregate per shingle into a sorted source list, and pairs
    explode from that list -- fanout per shingle is bounded by
    C(|catalog|, 2) where the source catalog is small and fixed, while
    a self-join on a hot shingle would be quadratic in its document
    frequency. The pair counts then aggregate map-side. The DuckDB
    oracle uses the plain self-join formulation (it need not scale),
    proving the rewrite result-invisible."""
    from ..functions.text import shingles, tokens

    docs = fan_out_scan(load_table(spark, sf_dir, "documents"))
    staged = docs.select("source", tokens("text").alias("toks"))
    s = (
        staged.select(
            "source", F.explode(shingles("text", 3, toks=F.col("toks"))).alias("sh")
        )
        .distinct()
    )
    per = s.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    by_sh = s.groupBy("sh").agg(
        F.sort_array(F.collect_set("source")).alias("srcs")
    )
    pairs = by_sh.select(
        F.explode(
            F.flatten(
                F.transform(
                    "srcs",
                    lambda a, i: F.transform(
                        F.slice(F.col("srcs"), i + 2, F.size("srcs")),
                        lambda b: F.struct(a.alias("src_a"), b.alias("src_b")),
                    ),
                )
            )
        ).alias("p")
    ).select(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
    cnt = pairs.groupBy("src_a", "src_b").agg(
        F.count("*").cast("long").alias("n_common")
    )
    pa = per.select(F.col("source").alias("sa"), F.col("n").alias("n_a"))
    pb = per.select(F.col("source").alias("sb"), F.col("n").alias("n_b"))
    return (
        cnt.join(F.broadcast(pa), cnt.src_a == pa.sa)
        .join(F.broadcast(pb), cnt.src_b == pb.sb)
        .select(
            "src_a",
            "src_b",
            "n_common",
            "n_a",
            "n_b",
            F.expr("n_common * 1000000L div (n_a + n_b - n_common)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection on daily event counts -- fully integer
# (deviations scaled by the day count so no mean division happens).
# ---------------------------------------------------------------------------


@query(
    "timeseries_cusum_changepoint",
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
st AS (
  SELECT event_type, day, n,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days,
         CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
  FROM daily),
cu AS (
  SELECT event_type, day, n, n_days, total,
         sum(n * n_days - total) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cusum_scaled
  FROM st)
SELECT event_type, day AS changepoint_day,
       CAST(cusum_scaled AS BIGINT) AS cusum_scaled,
       n_days, total
FROM cu
QUALIFY row_number() OVER (
  PARTITION BY event_type ORDER BY abs(cusum_scaled) DESC, day
) = 1
""",
)
def timeseries_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per event type: the day where the cumulative
    deviation from the series mean peaks. Deviations are scaled by
    n_days (dev_i = n_i * D - T) so the whole statistic stays BIGINT
    -- no float mean, no drift, exact on both engines.

    100 TB shape: one daily pre-aggregate (map-side combinable; the
    shuffled grain is days x types, tiny), then two window passes over
    that aggregate partitioned by type. Nothing here scales with raw
    event count after the first aggregate."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("n")
    )
    wt = Window.partitionBy("event_type")
    wc = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    st = daily.withColumn("n_days", F.count("*").over(wt).cast("long")).withColumn(
        "total", F.sum("n").over(wt).cast("long")
    )
    cu = st.withColumn(
        "cusum_scaled",
        F.sum(F.col("n") * F.col("n_days") - F.col("total")).over(wc),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum_scaled")).desc(), F.asc("day")
    )
    return (
        cu.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("changepoint_day"),
            F.col("cusum_scaled").cast("long").alias("cusum_scaled"),
            "n_days",
            "total",
        )
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing with an EXACT oracle: byte-histogram features
# over a binary column via an Arrow mapInPandas kernel. The blob is
# synthesized from the (ASCII) text column so DuckDB can recompute the
# identical histogram from code points -- the one multimodal kernel
# whose output is value-checkable end to end without codecs.
# ---------------------------------------------------------------------------

_BHIST_SCHEMA = "doc_id long, n_bytes long, " + ", ".join(
    f"h{b} long" for b in range(16)
)


def _bhist_sql() -> str:
    bins = ",\n  ".join(
        f"CAST(len(list_filter(codes, c -> c // 16 = {b})) AS BIGINT) AS h{b}"
        for b in range(16)
    )
    return f"""
WITH ascii_docs AS (
  SELECT doc_id, text FROM documents
  WHERE regexp_matches(text, '^[\\x20-\\x7e]*$')
),
codes_t AS (
  SELECT doc_id, len(text) AS n,
         [unicode(text[i]) for i in generate_series(1, len(text))] AS codes
  FROM ascii_docs
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(n AS BIGINT) AS n_bytes,
  {bins}
FROM codes_t
"""


@query("multimodal_byte_histogram", _bhist_sql())
def multimodal_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction through the REAL multimodal
    path: binary blobs -> Arrow-batched mapInPandas -> numpy bincount
    over the high nibble (16 bins). The blob here is utf-8-encoded
    ASCII text purely so the DuckDB twin can recompute the histogram
    from code points and hash-check the kernel EXACTLY -- image/audio
    blobs flow through the same kernel signature
    (operators/multimodal.py; decode is codec-gated, the batch shape
    and per-row error routing are identical).

    100 TB shape: narrow mapInPandas, one Arrow batch per ~10k rows,
    no shuffle; per-row cost is numpy-vectorized (frombuffer +
    bincount), never a Python loop over bytes."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").rlike("^[\\x20-\\x7e]*$"))
        .select("doc_id", F.encode("text", "utf-8").alias("blob"))
    )

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for b in batches:
            ids = b["doc_id"].to_numpy()
            rows = []
            for blob in b["blob"]:
                arr = np.frombuffer(blob, dtype=np.uint8)
                hist = np.bincount(arr >> 4, minlength=16)
                rows.append((len(arr), *hist.tolist()))
            out = pd.DataFrame(
                rows, columns=["n_bytes"] + [f"h{i}" for i in range(16)]
            )
            out.insert(0, "doc_id", ids)
            yield out

    return docs.mapInPandas(kernel, schema=_BHIST_SCHEMA)


# ---------------------------------------------------------------------------
# The composed curation pipeline: quality gate -> exact dedup ->
# benchmark decontamination -> near-dup removal, as ONE registered
# query with ONE oracle. Each stage is individually oracled elsewhere;
# this pins the COMPOSITION (stage order matters: dedup before
# decontamination keeps one representative of a contaminated dup
# cluster from slipping through under a different id; near-dup runs
# last so its self-join sees the smallest candidate set).
# ---------------------------------------------------------------------------

_E2E_BENCH_MOD = 17
_E2E_MIN_TOKENS = 30
_E2E_MAX_TOKENS = 1000
_E2E_DECON_N = 4
_E2E_CAP = 32


def _e2e_sql() -> str:
    from .queries_llm import _NORM

    k, bands = 8, 4
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
    return f"""
WITH t AS (
  SELECT doc_id, lang, source, text, {_TOKS} AS toks FROM documents),
quality AS (
  SELECT * FROM t
  WHERE len(toks) BETWEEN {_E2E_MIN_TOKENS} AND {_E2E_MAX_TOKENS}),
fp AS (SELECT *, md5({_NORM}) AS f FROM quality),
keep1 AS (
  SELECT fp.* FROM fp
  JOIN (SELECT f, min(doc_id) AS keeper FROM fp GROUP BY f) m
    ON fp.f = m.f AND fp.doc_id = m.keeper),
grams AS (
  SELECT doc_id, list_distinct({_shingles_sql("toks", _E2E_DECON_N)}) AS g
  FROM keep1),
bench_grams AS (
  SELECT DISTINCT unnest(g) AS bg FROM grams
  WHERE doc_id % {_E2E_BENCH_MOD} = 0),
train AS (SELECT * FROM keep1 WHERE doc_id % {_E2E_BENCH_MOD} <> 0),
contaminated AS (
  SELECT DISTINCT e.doc_id
  FROM (SELECT doc_id, unnest(g) AS gg FROM grams
        WHERE doc_id % {_E2E_BENCH_MOD} <> 0) e
  JOIN bench_grams ON gg = bg),
clean AS (
  SELECT train.* FROM train
  LEFT JOIN contaminated USING (doc_id)
  WHERE contaminated.doc_id IS NULL),
sh AS (SELECT doc_id, {_shingles_sql("toks", 3)} AS sh FROM clean),
sig AS (SELECT doc_id, {sig_cols} FROM sh),
bandkeys AS ({band_selects}),
kept_b AS (SELECT band, key FROM bandkeys GROUP BY band, key
           HAVING count(*) <= {_E2E_CAP}),
b2 AS (SELECT bandkeys.* FROM bandkeys JOIN kept_b USING (band, key)),
neardup_drop AS (
  SELECT DISTINCT b.doc_id
  FROM b2 a JOIN b2 b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
final AS (
  SELECT clean.* FROM clean
  LEFT JOIN neardup_drop USING (doc_id)
  WHERE neardup_drop.doc_id IS NULL)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source,
       CAST(len(toks) AS BIGINT) AS n_tokens
FROM final
"""


@query("pipeline_corpus_curation_e2e", _e2e_sql())
def pipeline_corpus_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation stages COMPOSED, as a user would run them nightly:
    token-count quality gate -> exact dedup (keep lowest id per
    normalized-text md5) -> benchmark exclusion + 4-gram
    decontamination (bench grams broadcast) -> MinHash-LSH near-dup
    removal (keep-lowest policy, capped buckets). Returns the
    surviving training corpus.

    100 TB plan: each stage's shape is the one its standalone query
    uses (see dedup_exact_text, decontaminate_ngram,
    dedup_minhash_lsh_pairs); composing them adds NO new shuffles
    beyond the stages' own -- Catalyst pipelines the narrow stages and
    the near-dup self-join runs over the post-filter survivor set,
    which is the point of the ordering."""
    from ..functions.text import fingerprint, tokens
    from ..operators.dedup import minhash_lsh_pairs
    from ..operators.textops import decontaminate_ngrams

    docs = load_table(spark, sf_dir, "documents")
    staged = docs.withColumn("toks", tokens("text")).withColumn(
        "n_tokens", F.size("toks")
    )
    quality = staged.where(
        F.col("n_tokens").between(_E2E_MIN_TOKENS, _E2E_MAX_TOKENS)
    )
    from ..operators._cache import track_persist

    fp = quality.withColumn("f", fingerprint("text"))
    keepers = fp.groupBy("f").agg(F.min("doc_id").alias("keeper"))
    # keep1/clean each feed TWO downstream stages; persist the slim
    # post-dedup projection so the scan+tokenize+fingerprint+join chain
    # is not recomputed per consumer (measured ~15% warm at sf0.1)
    keep1 = track_persist(
        fp.join(
            keepers,
            (fp.f == keepers.f) & (fp.doc_id == keepers.keeper),
        ).select(fp["doc_id"], fp["lang"], fp["source"], fp["text"], fp["n_tokens"])
    )

    bench = keep1.where(F.col("doc_id") % _E2E_BENCH_MOD == 0)
    train = keep1.where(F.col("doc_id") % _E2E_BENCH_MOD != 0)
    decon = decontaminate_ngrams(train, bench, "text", "doc_id", n=_E2E_DECON_N)
    clean = track_persist(
        train.join(
            decon.where(F.col("contaminated")).select("doc_id"),
            "doc_id",
            "left_anti",
        )
    )

    pairs = minhash_lsh_pairs(
        clean, "text", "doc_id", k=8, bands=4, shingle_n=3,
        max_bucket_width=_E2E_CAP,
    )
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    final = clean.join(drop, "doc_id", "left_anti")
    return final.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )
