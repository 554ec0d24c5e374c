"""Training-batch assembly queries (round 2, batch 2): sequence
packing (concat-chunk and greedy bins), per-domain caps, data-mixture
resampling to target proportions, and Bloom-prefiltered benchmark
decontamination.

Same single-source-of-truth discipline as queries_llm2: every SQL
oracle is generated from the exact constants the Spark plan uses.
Float portability: mixture rates are chains of single IEEE divisions
of bit-identical operands (see queries_core.py docstring); everything
else is integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators._parallel import fan_out_scan
from ..operators.packing import pack_concat_chunks, pack_greedy
from ..operators.sampling import sample_hash_u32, sample_order
from ..operators.textops import bloom_decontaminate, domain_cap
from ..sources.tables import load_table
from .queries_llm import _TOKS
from .queries_llm2 import DECON_BENCH_MOD, DECON_N
from .registry import query


# ---------------------------------------------------------------------------
# Sequence packing: concatenate-and-chunk
# ---------------------------------------------------------------------------

PACK_CHUNK_TOKENS = 256
PACK_BUDGET = 256


def _concat_chunks_sql() -> str:
    c = PACK_CHUNK_TOKENS
    return f"""
WITH t AS (SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents),
o AS (SELECT doc_id, n_tokens,
  COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
FROM t)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(start_offset AS BIGINT) AS start_offset,
  CAST(start_offset // {c} AS BIGINT) AS chunk_first,
  CAST(CASE WHEN n_tokens = 0 THEN start_offset // {c}
            ELSE (start_offset + n_tokens - 1) // {c} END AS BIGINT)
    AS chunk_last,
  CAST(start_offset % {c} AS BIGINT) AS offset_in_chunk
FROM o
"""


@query("pack_concat_chunks", _concat_chunks_sql())
def pack_concat_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style packing: corpus laid end-to-end in doc_id order, cut
    every PACK_CHUNK_TOKENS tokens. The oracle's single global window
    is the SEMANTICS; the Spark plan computes the same prefix sum
    distributed (per-shard windows + tiny base-offset table — see
    operators/packing.pack_concat_chunks)."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_concat_chunks(
        docs, "text", "doc_id", chunk_tokens=PACK_CHUNK_TOKENS, shard_span=64
    )


# ---------------------------------------------------------------------------
# Sequence packing: greedy per-group bins
# ---------------------------------------------------------------------------


def _greedy_sql() -> str:
    b = PACK_BUDGET
    return f"""
WITH RECURSIVE t AS (
  SELECT source, doc_id, len({_TOKS}) AS n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents),
pack AS (
  SELECT source, doc_id, n_tokens, rn,
         CAST(0 AS BIGINT) AS bin, n_tokens AS fill
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.source, t.doc_id, t.n_tokens, t.rn,
         CASE WHEN p.fill + t.n_tokens <= {b} THEN p.bin ELSE p.bin + 1 END,
         CASE WHEN p.fill + t.n_tokens <= {b} THEN p.fill + t.n_tokens
              ELSE t.n_tokens END
  FROM pack p JOIN t ON t.source = p.source AND t.rn = p.rn + 1)
SELECT source AS grp, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(bin AS BIGINT) AS bin, CAST(fill AS BIGINT) AS bin_fill
FROM pack
"""


@query("pack_greedy_bins", _greedy_sql())
def pack_greedy_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-sequential packing per source group (docs never
    straddle a context boundary). Spark walks each group inside
    applyInPandas; the oracle replays the identical walk as a
    recursive CTE — bin ids and fills are value-checked exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_greedy(docs, "text", "doc_id", "source", budget=PACK_BUDGET)


# ---------------------------------------------------------------------------
# Per-domain cap
# ---------------------------------------------------------------------------

DOMAIN_CAP = 100
CAP_SALT = "cap"


def _cap_sql() -> str:
    return f"""
WITH r AS (SELECT doc_id, source,
  row_number() OVER (PARTITION BY source ORDER BY
    md5(concat('{CAP_SALT}:', CAST(doc_id AS VARCHAR))), doc_id) AS rk
FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(rk AS BIGINT) AS cap_rank, rk <= {DOMAIN_CAP} AS kept
FROM r
"""


@query("domain_cap_sample", _cap_sql())
def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain balancing: keep at most DOMAIN_CAP docs per source,
    chosen by salted-hash rank (unbiased within the domain,
    deterministic across runs/partitionings)."""
    docs = load_table(spark, sf_dir, "documents")
    out = domain_cap(docs, "source", "doc_id", DOMAIN_CAP, CAP_SALT)
    return out.withColumn("doc_id", F.col("doc_id").cast("long"))


# ---------------------------------------------------------------------------
# Mixture resampling to target proportions
# ---------------------------------------------------------------------------

MIX_TARGETS = {"en": 0.5, "zh": 0.3}
MIX_DEFAULT = 0.2
MIX_SALT = "mix"


def _mix_sql() -> str:
    cases = " ".join(
        f"WHEN lang = '{s}' THEN {t!r}" for s, t in sorted(MIX_TARGETS.items())
    )
    target = f"CASE {cases} ELSE {MIX_DEFAULT!r} END"
    u32 = (
        "CAST(concat('0x', substr(md5(concat('"
        + MIX_SALT
        + ":', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)"
    )
    return f"""
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
w AS (SELECT lang, n, CAST({target} AS DOUBLE) / n AS ratio FROM c),
m AS (SELECT max(ratio) AS mx FROM w),
r AS (SELECT lang, ratio / mx AS rate FROM w, m)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang, r.rate AS rate,
       {u32} < CAST(floor(r.rate * 4294967296.0) AS BIGINT) AS kept
FROM documents d JOIN r USING (lang)
"""


@query("mixture_resample", _mix_sql())
def mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing: resample so surviving docs approach the TARGET
    language proportions (en 50%, zh 30%, others 20%). Per-lang rates
    are derived FROM the data (rate = normalized target/actual ratio,
    the most-underrepresented lang keeps everything), then applied as
    a hash-Bernoulli filter — the same reproducible-sampling contract
    as sample_stratified, but with rates computed by the engine.

    Scale: the rate table is one row per lang (broadcast); the filter
    is a narrow row-local expression. Float portability: ratio and
    rate are successive single divisions of bit-identical operands;
    the threshold uses floor() (truncation semantics differ between
    engines' double->int casts — floor does not)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n"))
    target = F.lit(float(MIX_DEFAULT))
    for s, t in sorted(MIX_TARGETS.items()):
        target = F.when(F.col("lang") == s, F.lit(float(t))).otherwise(target)
    w = counts.select("lang", (target / F.col("n")).alias("ratio"))
    mx = w.agg(F.max("ratio").alias("mx"))
    rates = w.crossJoin(F.broadcast(mx)).select(
        "lang", (F.col("ratio") / F.col("mx")).alias("rate")
    )
    u32 = sample_hash_u32("doc_id", MIX_SALT)
    return (
        docs.join(F.broadcast(rates), "lang")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            "rate",
            (u32 < F.floor(F.col("rate") * F.lit(4294967296.0)).cast("long")).alias(
                "kept"
            ),
        )
    )


# ---------------------------------------------------------------------------
# BPE-ish token estimate
# ---------------------------------------------------------------------------


def _bpe_sql() -> str:
    from ..functions.text import BPE_PIECE_RE

    pieces = f"regexp_extract_all(lower(text), '{BPE_PIECE_RE}')"
    est = (
        f"list_reduce(list_transform({pieces}, p -> CASE "
        "WHEN substr(p,1,1) BETWEEN 'a' AND 'z' THEN (length(p)+3)//4 "
        "ELSE 1 END), (a,b) -> a + b)"
    )
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(len({pieces}) AS BIGINT) AS n_pieces,
  CAST(CASE WHEN len({pieces}) = 0 THEN 0 ELSE {est} END AS BIGINT)
    AS bpe_tokens,
  CAST(len({_TOKS}) AS BIGINT) AS ws_tokens
FROM documents
"""


@query("text_bpe_token_estimate", _bpe_sql())
def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budgets at pre-tokenizer fidelity: BPE-style pieces
    (letter runs / digits / punctuation, RE2+Java-portable pattern)
    and a ceil(len/4) subword estimate, next to the whitespace count.
    One regex pass + one integer fold per row — narrow, no shuffle."""
    from ..functions.text import bpe_pieces, bpe_token_estimate, token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(bpe_pieces("text")).cast("long").alias("n_pieces"),
        bpe_token_estimate("text").alias("bpe_tokens"),
        token_count("text").cast("long").alias("ws_tokens"),
    )


# ---------------------------------------------------------------------------
# Winnowing (rolling-hash) fingerprints
# ---------------------------------------------------------------------------

WINNOW_K = 3
WINNOW_W = 4


def _winnow_sql() -> str:
    from .queries_llm import _shingles_sql

    k, w = WINNOW_K, WINNOW_W
    u32 = "CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT)"
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_shingles_sql("toks", k)} AS sh FROM t),
h AS (SELECT doc_id, list_transform(sh, x -> {u32}) AS h FROM sh),
m AS (SELECT doc_id,
  CASE WHEN len(h) < {w} THEN list_distinct(h)
       ELSE list_distinct([list_min(h[i:i+{w - 1}])
             for i in generate_series(1, len(h) - {w - 1})]) END AS fps
FROM h)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(unnest(fps) AS BIGINT) AS fp
FROM m
"""


@query("text_winnow_fingerprints", _winnow_sql())
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (k=3-gram u32 hashes, window
    w=4 minima, MOSS-style): the rolling-hash sketch that guarantees
    any shared run of >= k+w-1 tokens produces a common fingerprint.
    Narrow per-row array math (shifted-slice least() folds), then one
    explode — the sketch-build side of substring-level dedup; joining
    fp against fp finds cross-document overlap without any self-join
    of full texts."""
    from ..functions.text import _u32_of, shingles, winnow_fingerprints

    docs = fan_out_scan(load_table(spark, sf_dir, "documents"))
    staged = docs.withColumn(
        "__h", F.transform(shingles("text", WINNOW_K), _u32_of)
    )
    return staged.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(
            winnow_fingerprints(
                "text", WINNOW_K, WINNOW_W, hashes=F.col("__h")
            )
        ).alias("fp"),
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination (exact semantics)
# ---------------------------------------------------------------------------


def _bloom_decon_sql() -> str:
    # identical to decontaminate_ngram's oracle: the bloom is a
    # prefilter, the confirm join restores exactness.
    from .queries_llm import _shingles_sql

    return f"""
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
"""


@query("decontaminate_bloom", _bloom_decon_sql())
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decontaminate_ngram's exact output through the 100 TB-shaped
    path: a 128 KiB broadcast Bloom filter prefilters corpus grams
    before the (now tiny) exact confirm join. Same oracle as the
    exact query — the bloom adds no approximation to the RESULT, only
    removes probe volume (see operators/textops.bloom_decontaminate)."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
    train = docs.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
    out = bloom_decontaminate(train, bench, "text", "doc_id", n=DECON_N)
    return out.withColumn("doc_id", F.col("doc_id").cast("long"))


# ---------------------------------------------------------------------------
# Document chunking: overlapping token windows (RAG / pretraining
# context assembly). One posexplode over a sequence of window starts;
# the slice is materialized ONCE per chunk (HOF materialize-once
# lesson) and both length and text derive from it.
# ---------------------------------------------------------------------------

CHUNK_SIZE = 64
CHUNK_STRIDE = 48  # overlap = CHUNK_SIZE - CHUNK_STRIDE = 16 tokens


def _chunk_sql() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, toks, len(toks) AS n FROM t),
x AS (SELECT doc_id, toks,
        unnest(generate_series(1, greatest(n, 1), {CHUNK_STRIDE})) AS start
      FROM s)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST((start - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(start AS BIGINT) AS start_pos,
       CAST(len(toks[start:start + {CHUNK_SIZE - 1}]) AS BIGINT) AS chunk_len,
       array_to_string(toks[start:start + {CHUNK_SIZE - 1}], ' ') AS chunk_text
FROM x
"""


@query("text_chunk_windows", _chunk_sql())
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding token windows per document: size CHUNK_SIZE, stride
    CHUNK_STRIDE (tail windows truncate, never pad). Narrow except
    the fan-out itself — no shuffle, no UDF; at 100 TB this is a
    map-only stage whose output feeds pack_* / shard export."""
    from ..functions.text import tokens

    t = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", tokens("text").alias("toks"))
        .withColumn("n", F.size("toks"))
    )
    x = t.select(
        "doc_id",
        "toks",
        F.posexplode(
            F.sequence(F.lit(1), F.greatest("n", F.lit(1)), F.lit(CHUNK_STRIDE))
        ).alias("chunk_idx", "start"),
    ).withColumn("chunk", F.slice("toks", F.col("start"), F.lit(CHUNK_SIZE)))
    return x.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start").cast("long").alias("start_pos"),
        F.size("chunk").cast("long").alias("chunk_len"),
        F.concat_ws(" ", "chunk").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# Containment dedup: documents mostly CONTAINED in a bigger document
# (quote inclusion / subset duplication -- the near-dup case Jaccard
# misses, because a small doc inside a huge one has tiny union-overlap
# but ~100% containment). Built on the winnowing fingerprints above:
# winnowing guarantees any shared run of >= k+w-1 tokens yields a
# shared fingerprint, so fingerprint containment lower-bounds run
# coverage of the smaller doc.
# ---------------------------------------------------------------------------

CONTAIN_DF_CAP = 50  # doc-freq cap on the fp self-join (same
CONTAIN_TAU_PCT = 80  # discipline as dedup_ngram_jaccard's cap)


def _containment_sql() -> str:
    from .queries_llm import _shingles_sql

    k, w, cap, tau = WINNOW_K, WINNOW_W, CONTAIN_DF_CAP, CONTAIN_TAU_PCT
    u32 = "CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT)"
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {_shingles_sql("toks", k)} AS sh FROM t),
h AS (SELECT doc_id, list_transform(sh, x -> {u32}) AS h FROM sh),
m AS (SELECT doc_id,
  CASE WHEN len(h) < {w} THEN list_distinct(h)
       ELSE list_distinct([list_min(h[i:i+{w - 1}])
             for i in generate_series(1, len(h) - {w - 1})]) END AS fps
FROM h),
fps AS (SELECT doc_id, unnest(fps) AS fp FROM m),
nf AS (SELECT doc_id, count(*) AS n FROM fps GROUP BY 1),
rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {cap}),
f2 AS (SELECT fps.* FROM fps JOIN rare USING (fp)),
pairs AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
  FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
j AS (SELECT da, db, shared, na.n AS n_a, nb.n AS n_b
      FROM pairs JOIN nf na ON da = na.doc_id JOIN nf nb ON db = nb.doc_id)
SELECT CAST(CASE WHEN n_a < n_b OR (n_a = n_b AND da < db) THEN da ELSE db END
            AS BIGINT) AS contained_id,
       CAST(CASE WHEN n_a < n_b OR (n_a = n_b AND da < db) THEN db ELSE da END
            AS BIGINT) AS container_id,
       CAST(shared AS BIGINT) AS shared_fp,
       CAST(least(n_a, n_b) AS BIGINT) AS n_contained_fp
FROM j
WHERE shared * 100 >= {tau} * least(n_a, n_b)
"""


@query("dedup_containment", _containment_sql())
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: pairs where >= {tau}% of the smaller
    document's winnowing fingerprints appear in the other document.
    Catches quote-inclusion / doc-inside-doc duplication that
    symmetric Jaccard misses (tiny union-overlap, total containment).

    Plan shape (the jaccard-cap discipline applied to fingerprints):
    fingerprints are winnowing minima -- O(len/w) per doc, NOT every
    shingle -- so the exploded table is w-fold smaller than the
    jaccard one to begin with; the self-join runs only over
    fingerprints with document frequency <= {cap} (boilerplate fps
    are dropped BEFORE the join, making pair fanout <= cap x |fps|;
    the cap undercounts `shared` identically in both engines, a
    conservative and exact-twin choice); per-doc totals join back on
    doc_id. One persisted fingerprint table serves the nf / rare /
    join branches. Integer containment test (shared*100 >= tau*n) --
    no float ratios near the driver's hash compare."""
    from ..functions.text import _u32_of, shingles, winnow_fingerprints
    from ..operators._cache import track_persist

    docs = fan_out_scan(load_table(spark, sf_dir, "documents"))
    staged = docs.withColumn(
        "__h", F.transform(shingles("text", WINNOW_K), _u32_of)
    )
    fps = track_persist(
        staged.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(
                winnow_fingerprints(
                    "text", WINNOW_K, WINNOW_W, hashes=F.col("__h")
                )
            ).alias("fp"),
        )
    )
    nf = fps.groupBy("doc_id").agg(F.count("*").alias("n"))
    rare = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= CONTAIN_DF_CAP)
        .select("fp")
    )
    f2 = track_persist(fps.join(rare, "fp", "left_semi"))
    a = f2.select(F.col("doc_id").alias("da"), F.col("fp").alias("fpa"))
    b = f2.select(F.col("doc_id").alias("db"), F.col("fp").alias("fpb"))
    pairs = (
        a.join(b, (F.col("fpa") == F.col("fpb")) & (F.col("da") < F.col("db")))
        .groupBy("da", "db")
        .agg(F.count("*").alias("shared"))
    )
    na = nf.select(F.col("doc_id").alias("da"), F.col("n").alias("n_a"))
    nb = nf.select(F.col("doc_id").alias("db"), F.col("n").alias("n_b"))
    j = pairs.join(na, "da").join(nb, "db")
    small_is_a = (F.col("n_a") < F.col("n_b")) | (
        (F.col("n_a") == F.col("n_b")) & (F.col("da") < F.col("db"))
    )
    return (
        j.where(
            F.col("shared") * 100
            >= CONTAIN_TAU_PCT * F.least(F.col("n_a"), F.col("n_b"))
        )
        .select(
            F.when(small_is_a, F.col("da")).otherwise(F.col("db"))
            .cast("long")
            .alias("contained_id"),
            F.when(small_is_a, F.col("db")).otherwise(F.col("da"))
            .cast("long")
            .alias("container_id"),
            F.col("shared").cast("long").alias("shared_fp"),
            F.least(F.col("n_a"), F.col("n_b")).cast("long").alias("n_contained_fp"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic epoch shuffle: the training-order contract. Each
# epoch's seed produces an independent, reproducible permutation of
# the corpus, sharded for parallel dataloaders. Pure hash ordering --
# no RNG state, survives resharding/engine swaps, and any shard can
# be regenerated alone (the property that matters when one of 1000
# dataloader shards needs replay).
# ---------------------------------------------------------------------------

EPOCH_SHUFFLE_SEED = 3
EPOCH_SHUFFLE_SHARDS = 8


def _epoch_shuffle_sql() -> str:
    u32 = (
        f"CAST(concat('0x', substr(md5('ep{EPOCH_SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8)) "
        "AS BIGINT)"
    )
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST({u32} % {EPOCH_SHUFFLE_SHARDS} AS BIGINT) AS shard,
       CAST(row_number() OVER (
         PARTITION BY {u32} % {EPOCH_SHUFFLE_SHARDS}
         ORDER BY md5('ep{EPOCH_SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)), doc_id
       ) AS BIGINT) AS position
FROM documents
"""


@query("corpus_epoch_shuffle", _epoch_shuffle_sql())
def corpus_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-{seed} training order: shard = u32(md5(seed:id)) % {n},
    position = rank of md5(seed:id) within the shard. Hash-ordering
    by i.i.d.-uniform-ish digests is a uniform permutation per seed,
    and seeds give independent permutations -- randomSplit/shuffle
    cannot promise either across partitionings. One shuffle on the
    shard key; each shard's order is a local sort, so shard files
    write out pre-sorted for sequential dataloader reads."""
    docs = load_table(spark, sf_dir, "documents")
    salt = f"ep{EPOCH_SHUFFLE_SEED}"
    u32 = sample_hash_u32("doc_id", salt)
    from pyspark.sql import Window

    shard = (u32 % EPOCH_SHUFFLE_SHARDS).cast("long")
    w = Window.partitionBy(shard).orderBy(*sample_order("doc_id", salt))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        shard.alias("shard"),
        F.row_number().over(w).cast("long").alias("position"),
    )


# ---------------------------------------------------------------------------
# Packing efficiency report: per-group bin utilization of the greedy
# packer -- the metric that tells you whether PACK_BUDGET and the
# packing policy are wasting context-window tokens (the whole point
# of packing). Pure aggregation over the same walk the oracle
# replays; fill ratios in integer ppm.
# ---------------------------------------------------------------------------


def _pack_efficiency_sql() -> str:
    b = PACK_BUDGET
    inner = _greedy_sql().strip()
    return f"""
WITH packed AS ({inner}),
bins AS (
  SELECT grp, bin, max(bin_fill) AS fill, count(*) AS n_docs
  FROM packed GROUP BY grp, bin)
SELECT grp,
       CAST(count(*) AS BIGINT) AS n_bins,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(fill) AS BIGINT) AS tokens_packed,
       CAST(count(*) * {b} AS BIGINT) AS tokens_capacity,
       CAST((sum(fill) * 1000000) // (count(*) * {b}) AS BIGINT) AS fill_ppm,
       CAST(max(fill) AS BIGINT) AS max_fill,
       CAST(min(fill) AS BIGINT) AS min_fill
FROM bins GROUP BY grp
"""


@query("pack_efficiency_stats", _pack_efficiency_sql())
def pack_efficiency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Utilization of pack_greedy_bins per source group: bins used,
    packed vs capacity tokens, fill ratio in integer ppm, and the
    min/max bin fill (a low min flags the trailing under-full bin;
    a low ppm flags a budget mismatched to the document length
    distribution). The bin walk happens once inside the packer; this
    is two metadata-grain aggregations on top -- at 100 TB the report
    is per (group, bin), millions of rows at most."""
    docs = load_table(spark, sf_dir, "documents")
    packed = pack_greedy(docs, "text", "doc_id", "source", budget=PACK_BUDGET)
    bins = packed.groupBy("grp", "bin").agg(
        F.max("bin_fill").alias("fill"), F.count("*").alias("n_docs")
    )
    return bins.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_bins"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("fill").cast("long").alias("tokens_packed"),
        (F.count("*") * PACK_BUDGET).cast("long").alias("tokens_capacity"),
        F.expr(f"(sum(fill) * 1000000) DIV (count(*) * {PACK_BUDGET})")
        .cast("long")
        .alias("fill_ppm"),
        F.max("fill").cast("long").alias("max_fill"),
        F.min("fill").cast("long").alias("min_fill"),
    )
