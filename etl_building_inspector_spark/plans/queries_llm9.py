"""Ninth LLM-pipeline batch: token-span substring dedup (the
Lee-et-al. "Deduplicating Training Data Makes Language Models Better"
signal), BPE merge-pair statistics (the first iteration of tokenizer
training), and RAKE keyword extraction (Rose et al. 2010).

Same discipline as the sibling modules: every oracle is generated
from the exact constants the Spark plan uses, all scores live in an
exact integer domain (counts, DIV, ppm), and ORDER/tiebreaks are
fully deterministic in both engines.

Scale themes:
  * span hashing is ONE linear explode (positions -> codegen
    substring/slice, the measured-faster pattern from the OOV
    scorer); the only shuffle keys are fixed-width md5 hashes;
  * BPE pair counting aggregates per DISTINCT word first (vocab-sized,
    orders of magnitude smaller than the corpus), then weights by
    word frequency -- the standard fast-BPE trick;
  * RAKE is explode + one running-sum window per doc + two bounded
    aggregations; nothing is quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..operators._parallel import fan_out_scan
from ..operators.similarity import CENT_SALT
from ..sources.tables import load_table
from .queries_llm import ANN_K, ANN_QUERIES, IVF_CENTROIDS, IVF_PROBE, _TOKS
from .registry import query


# shared constants (Spark plan and SQL oracle generated from THESE)
SPAN_N = 8  # tokens per span (Lee et al. use 50 BPE tokens; same shape)
BPE_TOPK = 20
RAKE_STOPWORDS = ("a", "the")
RAKE_TOPK = 25
HLL_M = 64  # registers (2^6); reg from the first 2 md5 hex digits
HLL_VBITS = 48  # rho field: the next 12 hex digits
BOILER_MIN_ALNUM = 20


# ---------------------------------------------------------------------------
# Substring-span dedup: every SPAN_N-token window (stride 1) is
# hashed; a span occurring >= 2 times ANYWHERE in the corpus (other
# docs or the same doc) is "duplicated" -- the per-doc duplicated-span
# ratio is the cut signal substring dedup acts on (Lee et al. 2022,
# arXiv:2107.06499: exact substring dedup at 50-token granularity).
# ---------------------------------------------------------------------------

_SPANS_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sp AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= {SPAN_N}
           THEN [md5(array_to_string(toks[i:i+{SPAN_N - 1}], ' '))
                 for i in generate_series(1, len(toks) - {SPAN_N - 1})]
           ELSE []::VARCHAR[] END) AS h
  FROM t),
c AS (SELECT h, count(*) AS n_total FROM sp GROUP BY h)
SELECT CAST(sp.doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN c.n_total >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       CAST((1000000 * sum(CASE WHEN c.n_total >= 2 THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS dup_ratio_ppm
FROM sp JOIN c USING (h)
GROUP BY sp.doc_id
ORDER BY doc_id
"""


@query("dedup_substring_spans", _SPANS_SQL)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated token-span coverage: hash every SPAN_N-token
    window, mark spans occurring >= 2 times corpus-wide, report the
    per-doc duplicated ratio in exact ppm. 100 TB shape: the explode
    is linear in corpus tokens, the span count groups on fixed-width
    md5 keys (map-side combinable), and the count join back is a
    plain hash join on the same key -- no pairwise anything. The span
    table is consumed twice (count + join back), so it is persisted."""
    from ..operators._cache import track_persist

    docs = fan_out_scan(load_table(spark, sf_dir, "documents"))
    spans = track_persist(
        docs.select("doc_id", tokens("text").alias("toks"))
        .where(F.size("toks") >= SPAN_N)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size("toks") - (SPAN_N - 1))
            ).alias("i"),
            F.col("toks"),
        )
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(" ", F.slice(F.col("toks"), F.col("i"), SPAN_N))
            ).alias("h"),
        )
    )
    counts = spans.groupBy("h").agg(F.count("*").alias("n_total"))
    dup = F.when(F.col("n_total") >= 2, F.lit(1)).otherwise(F.lit(0))
    return (
        spans.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum(dup).cast("long").alias("n_dup_spans"),
        )
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "n_spans",
            "n_dup_spans",
            F.expr("(1000000 * n_dup_spans) DIV n_spans")
            .cast("long")
            .alias("dup_ratio_ppm"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# BPE merge-pair statistics: the first iteration of byte-pair-encoding
# tokenizer training (Sennrich et al. 2016, arXiv:1508.07909) -- count
# adjacent symbol pairs (symbols = chars at iteration 0) weighted by
# word frequency, and rank merge candidates. The fast-BPE trick:
# aggregate the corpus to a DISTINCT-word frequency table FIRST
# (vocab-sized), then enumerate pairs only over the vocab.
# ---------------------------------------------------------------------------

_BPE_SQL = f"""
WITH words AS (
  SELECT w, count(*) AS wf FROM (
    SELECT unnest({_TOKS}) AS w FROM documents) GROUP BY w),
pairs AS (
  SELECT unnest([substr(w, i, 2) for i in generate_series(1, length(w) - 1)]) AS pair,
         w, wf
  FROM words WHERE length(w) >= 2)
SELECT pair,
       CAST(sum(wf) AS BIGINT) AS n_total,
       CAST(count(DISTINCT w) AS BIGINT) AS n_words
FROM pairs GROUP BY pair
ORDER BY n_total DESC, pair ASC
LIMIT {BPE_TOPK}
"""


@query("text_bpe_merge_pairs", _BPE_SQL)
def text_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top merge candidates for BPE iteration 0: adjacent char-pair
    counts weighted by word frequency, over the distinct-word vocab
    only. 100 TB shape: the corpus collapses to a vocab-sized word
    table in one map-side-combined groupBy; pair enumeration explodes
    the VOCAB (bounded), never the corpus; the final top-k is a
    TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wf"))
    )
    pairs = (
        words.where(F.length("w") >= 2)
        .select(
            "w",
            "wf",
            F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
        )
        .select(F.expr("substring(w, i, 2)").alias("pair"), "w", "wf")
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("wf").cast("long").alias("n_total"),
            F.countDistinct("w").cast("long").alias("n_words"),
        )
        .orderBy(F.col("n_total").desc(), F.col("pair").asc())
        .limit(BPE_TOPK)
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (Rose et al. 2010): phrases are maximal
# stopword-free token runs; word score = degree/frequency where
# degree(w) = sum over w's occurrences of the containing phrase's
# length (co-occurrence degree including itself). Scores in exact ppm.
# ---------------------------------------------------------------------------


def _rake_sql() -> str:
    stop_lit = "[" + ", ".join(f"'{w}'" for w in RAKE_STOPWORDS) + "]"
    return f"""
WITH pos AS (
  SELECT doc_id, p.i AS pos, p.w,
         CASE WHEN list_contains({stop_lit}, p.w) THEN 1 ELSE 0 END AS is_stop
  FROM (
    SELECT doc_id,
           unnest([{{'i': i, 'w': t[i]}} for i in generate_series(1, len(t))]) AS p
    FROM (SELECT doc_id, {_TOKS} AS t FROM documents))),
ph AS (
  SELECT doc_id, pos, w, is_stop,
         sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS phrase_id
  FROM pos),
members AS (
  SELECT doc_id, phrase_id, w,
         count(*) OVER (PARTITION BY doc_id, phrase_id) AS plen
  FROM ph WHERE is_stop = 0),
scored AS (
  SELECT w, count(*) AS freq, sum(plen) AS degree
  FROM members GROUP BY w)
SELECT w AS word,
       CAST(freq AS BIGINT) AS freq,
       CAST(degree AS BIGINT) AS degree,
       CAST((1000000 * degree) // freq AS BIGINT) AS score_ppm
FROM scored
ORDER BY score_ppm DESC, word ASC
LIMIT {RAKE_TOPK}
"""


@query("text_rake_keywords", _rake_sql())
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keywords: stopword-delimited phrases -> word
    degree/frequency scores in exact ppm, top-K with deterministic
    tiebreak. 100 TB shape: posexplode is linear, the phrase-id
    running sum partitions BY DOC (no global window), and the two
    aggregations group on bounded keys (doc x phrase, then vocab)."""
    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos0", "w")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        "w",
        F.when(F.col("w").isin(*RAKE_STOPWORDS), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_stop"),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ph = pos.withColumn("phrase_id", F.sum("is_stop").over(w_run))
    # phrase length via a second window over the same doc partition --
    # no self-join, the members lineage is scanned once
    w_ph = Window.partitionBy("doc_id", "phrase_id")
    members = ph.where(F.col("is_stop") == 0).select(
        "doc_id", "phrase_id", "w"
    ).withColumn("plen", F.count("*").over(w_ph))
    scored = members.groupBy("w").agg(
        F.count("*").alias("freq"), F.sum("plen").alias("degree")
    )
    return (
        scored.select(
            F.col("w").alias("word"),
            F.col("freq").cast("long").alias("freq"),
            F.col("degree").cast("long").alias("degree"),
            F.expr("(1000000 * degree) DIV freq").cast("long").alias("score_ppm"),
        )
        .orderBy(F.col("score_ppm").desc(), F.col("word").asc())
        .limit(RAKE_TOPK)
    )


# ---------------------------------------------------------------------------
# HyperLogLog, hand-rolled and DETERMINISTIC (Flajolet et al. 2007):
# register = first 2 md5 hex digits mod 64, rho = leading zeros of the
# next 48 bits + 1. The register table is max-mergeable (the sketch
# property everything downstream relies on), the harmonic-mean
# denominator is accumulated as an exact BIGINT (sum of 2^(49-rho)),
# and the estimate is ONE division of exact integers by a literal --
# so unlike approx_count_distinct, this sketch's estimate is
# bit-reproducible in DuckDB and the estimator error itself becomes an
# oracle-checked number (the eval-as-data discipline, like
# ann_recall_eval). Raw HLL estimator: no small-range linear-counting
# correction (documented; the eval shows the raw bias).
# ---------------------------------------------------------------------------

_HEXD = "0123456789abcdef"
# alpha_64 * m^2 * 2^49 as one literal double, identical in both engines
_HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
_HLL_NUM = _HLL_ALPHA * HLL_M * HLL_M * float(2**49)


def _hll_digit(engine: str, p: int) -> str:
    # BIGINT from the start: digit * 16^7 already overflows INT32
    # (ANSI-on errors, ANSI-off silently wraps)
    fn = "instr" if engine == "spark" else "strpos"
    return f"CAST({fn}('{_HEXD}', substr(h, {p}, 1)) - 1 AS BIGINT)"


def _hll_exprs(engine: str) -> tuple[str, str, str]:
    """(reg, v, rho) SQL fragments, generated once for both engines."""
    reg = f"(({_hll_digit(engine, 1)} * 16 + {_hll_digit(engine, 2)}) % {HLL_M})"
    terms = [
        f"{_hll_digit(engine, 3 + j)} * {16 ** (11 - j)}" for j in range(12)
    ]
    v = "(" + " + ".join(terms) + ")"
    rho = f"(CASE WHEN v = 0 THEN {HLL_VBITS + 1} ELSE {HLL_VBITS + 1} - length(bin(v)) END)"
    return reg, v, rho


def _hll_sql() -> str:
    reg, v, rho = _hll_exprs("duck")
    two49 = 2**49
    return f"""
WITH h AS (
  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events),
rr AS (SELECT event_type, {reg} AS reg, {v} AS v FROM h),
regs AS (
  SELECT event_type, reg, max({rho}) AS m FROM rr GROUP BY event_type, reg),
z AS (
  SELECT event_type,
         CAST(sum(CAST(1 AS BIGINT) << (49 - m)) AS BIGINT)
           + ({HLL_M} - count(*)) * {two49} AS z_int,
         count(*) AS n_regs
  FROM regs GROUP BY event_type),
ex AS (
  SELECT event_type, count(DISTINCT user_id) AS n_exact
  FROM events GROUP BY event_type)
SELECT ex.event_type,
       CAST(n_exact AS BIGINT) AS n_exact,
       CAST(n_regs AS BIGINT) AS n_regs,
       {_HLL_NUM!r} / CAST(z_int AS DOUBLE) AS hll_est,
       CAST(floor(abs({_HLL_NUM!r} / CAST(z_int AS DOUBLE) - n_exact)
                  * 1000000.0 / n_exact) AS BIGINT) AS err_ppm
FROM ex JOIN z USING (event_type)
ORDER BY event_type
"""


@query("sketch_hll_distinct_eval", _hll_sql())
def sketch_hll_distinct_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user HLL per event_type, built from scratch on md5
    bits, evaluated against the exact count -- estimate AND error are
    oracle-checked numbers. 100 TB shape: one linear scan, one
    map-side-combined groupBy onto at most |types| x 64 register rows
    (the register table IS the mergeable sketch state: max() merges
    shards/days for free), and the exact side is the one true shuffle.
    The estimator is raw HLL (no linear-counting small-range
    correction), which the eval makes visible instead of hiding."""
    reg, v, rho = _hll_exprs("spark")
    ev = load_table(spark, sf_dir, "events")
    h = ev.select("event_type", F.md5(F.col("user_id").cast("string")).alias("h"))
    rr = h.select("event_type", F.expr(reg).alias("reg"), F.expr(v).alias("v"))
    regs = rr.groupBy("event_type", "reg").agg(F.max(F.expr(rho)).alias("m"))
    z = regs.groupBy("event_type").agg(
        (
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(49 - m AS INT))"))
            + (F.lit(HLL_M) - F.count("*")) * F.lit(2**49)
        )
        .cast("long")
        .alias("z_int"),
        F.count("*").cast("long").alias("n_regs"),
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    est = F.lit(_HLL_NUM) / F.col("z_int").cast("double")
    return (
        ex.join(F.broadcast(z), "event_type")
        .select(
            "event_type",
            "n_exact",
            "n_regs",
            est.alias("hll_est"),
            F.floor(
                F.abs(est - F.col("n_exact")) * F.lit(1000000.0) / F.col("n_exact")
            )
            .cast("long")
            .alias("err_ppm"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Boilerplate removal: deterministic HTML chrome (title/nav/ads/footer
# lines, each link-bearing) wrapped around the document text, then the
# jusText-style keep rule -- drop any line containing links or with
# fewer than BOILER_MIN_ALNUM alphanumeric chars after tag-stripping.
# The cleaned text is md5-verified, so the oracle checks the full
# transform. Map-only: zero shuffles.
# ---------------------------------------------------------------------------

# strip(l): tags -> space, collapse spaces, trim (shared semantics;
# duck needs explicit 'g' flags, Spark is global by default)
_STRIP_DUCK = (
    "trim(regexp_replace(regexp_replace(l, '<[^>]*>', ' ', 'g'), ' +', ' ', 'g'))"
)
_STRIP_SPARK = "trim(regexp_replace(regexp_replace(l, '<[^>]*>', ' '), ' +', ' '))"
_ALNUM_DUCK = f"length(regexp_replace({_STRIP_DUCK}, '[^a-z0-9]', '', 'g'))"
_ALNUM_SPARK = f"length(regexp_replace({_STRIP_SPARK}, '[^a-z0-9]', ''))"
_NLINKS = "(length(l) - length(replace(l, '<a ', ''))) {div} 3"

_BOILER_HTML_DUCK = """concat(
  '<html><head><title>Doc ', CAST(doc_id AS VARCHAR), '</title></head><body>', chr(10),
  '<nav><a href="/home">home</a> | <a href="/about">about</a> | <a href="/login">login</a></nav>', chr(10),
  '<p>', text, '</p>', chr(10),
  '<div class="ads"><a href="/buy">click here buy now</a> <a href="/sub">subscribe today</a></div>', chr(10),
  '<footer><a href="/tos">terms</a> copyright 2024 example corp</footer>')"""


def _boiler_sql() -> str:
    nl = _NLINKS.format(div="//")
    cond = f"{nl} = 0 AND {_ALNUM_DUCK} >= {BOILER_MIN_ALNUM}"
    return f"""
WITH aug AS (
  SELECT doc_id, str_split({_BOILER_HTML_DUCK}, chr(10)) AS lines
  FROM documents),
kept AS (
  SELECT doc_id,
         len(lines) AS n_lines,
         [{_STRIP_DUCK} for l in lines if {cond}] AS clean_lines
  FROM aug)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(len(clean_lines) AS BIGINT) AS n_kept,
       md5(array_to_string(clean_lines, ' ')) AS clean_md5
FROM kept ORDER BY doc_id
"""


@query("text_boilerplate_strip", _boiler_sql())
def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate removal: drop link-bearing / low-text lines,
    keep the dense body text, md5-verify the cleaned output. The keep
    rule is the jusText/trafilatura signal (link density + text mass)
    in deterministic integer form. Map-only projection -- at 100 TB
    this runs at scan speed with zero shuffles; the per-doc line
    arrays are tiny (5 lines), so the interpreted HOFs never see a
    hot loop."""
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title></head><body>\n"),
        F.lit(
            '<nav><a href="/home">home</a> | <a href="/about">about</a>'
            ' | <a href="/login">login</a></nav>\n<p>'
        ),
        F.col("text"),
        F.lit(
            '</p>\n<div class="ads"><a href="/buy">click here buy now</a>'
            ' <a href="/sub">subscribe today</a></div>\n'
            '<footer><a href="/tos">terms</a> copyright 2024 example corp</footer>'
        ),
    )
    nl = _NLINKS.format(div="DIV")
    cond = f"{nl} = 0 AND {_ALNUM_SPARK} >= {BOILER_MIN_ALNUM}"
    return (
        docs.select("doc_id", F.split(html, "\n").alias("lines"))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.size("lines").cast("long").alias("n_lines"),
            F.expr(
                f"transform(filter(lines, l -> {cond}), l -> {_STRIP_SPARK})"
            ).alias("clean_lines"),
        )
        .select(
            "doc_id",
            "n_lines",
            F.size("clean_lines").cast("long").alias("n_kept"),
            F.md5(F.array_join("clean_lines", " ")).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# IVF-PQ ANN: the composed billion-scale serving shape -- IVF bounds
# WHICH vectors are scored, PQ bounds WHAT is read per scored vector.
# Both stages reuse the registered deterministic building blocks, so
# the composition keeps an exact oracle (unlike FAISS, whose kmeans
# makes this rows-only).
# ---------------------------------------------------------------------------


def _ivf_pq_sql() -> str:
    from .queries_llm5 import _cos_sql, _pq_cte

    cos_ec = _cos_sql("e.embedding", "c.cvec")
    adc = _cos_sql("q.embedding", "e.recon")
    return f"""
WITH seed AS (
  SELECT vec_id, embedding,
         row_number() OVER (ORDER BY
           md5(concat('{CENT_SALT}:', CAST(vec_id AS VARCHAR))), vec_id) AS rk
  FROM embeddings),
cent AS (SELECT vec_id AS cent_id, embedding AS cvec FROM seed WHERE rk <= {IVF_CENTROIDS}),
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
{_pq_cte()},
sims AS (
  SELECT cand.query_id, cand.neighbor_id, {adc} AS adc_cosine
  FROM cand
  JOIN embeddings q ON q.vec_id = cand.query_id
  JOIN enc e ON e.vec_id = cand.neighbor_id)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       adc_cosine,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY adc_cosine DESC, neighbor_id
       ) AS BIGINT) AS rank
FROM sims
QUALIFY rank <= {ANN_K}
"""


@query("ann_cosine_ivf_pq", _ivf_pq_sql())
def ann_cosine_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ADC top-k (IVFADC minus residuals): probe 6/16 cells,
    score only cell members, read only their PQ reconstructions. At
    100 TB this is ~37% of the corpus candidate-listed and ~3% of the
    bytes touched per candidate -- the two multiplicative savings that
    make billion-vector serving possible. Same cells as
    ann_cosine_ivf_sampled, same codebooks as ann_cosine_pq_adc, so
    recall composes measurably against both registered baselines."""
    from ..operators.similarity import cosine_topk_ivf_pq
    from .queries_llm5 import PQ_CODES, PQ_DIM, PQ_NSUB

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    out = cosine_topk_ivf_pq(
        emb, queries, "embedding", "vec_id",
        k=ANN_K, n_centroids=IVF_CENTROIDS, n_probe=IVF_PROBE,
        n_sub=PQ_NSUB, codes_per_sub=PQ_CODES, dim=PQ_DIM,
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "adc_cosine",
        F.col("rank").cast("long").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Audio window energy through the REAL mapInPandas kernel: synthetic
# "audio" blobs (md5-derived bytes, deliberately including a partial
# trailing window), framed into 16-byte windows, each window's exact
# integer energy value-checked -- DuckDB recomputes the same sums from
# ord() over the same string algebra. Completes the modality matrix:
# image = 1->1, video = 1->N frames, audio = 1->N windows.
# ---------------------------------------------------------------------------

AUDIO_WIN = 16


def _audio_windows_cte() -> str:
    """auds/wins/wenergy CTE chain (key, win_idx, n_bytes, energy) --
    the DuckDB twin of the audio kernel, shared by the energy-windows
    oracle and the silence-segments oracle (queries_llm10)."""
    seg_len = f"least({AUDIO_WIN}, length(payload) - w.wi * {AUDIO_WIN})"
    byte2 = (
        f"ord(substr(payload, w.wi * {AUDIO_WIN} + i, 1))"
        f" * ord(substr(payload, w.wi * {AUDIO_WIN} + i, 1))"
    )
    return f"""auds AS (
  SELECT CAST(s_suppkey AS BIGINT) AS key,
         concat(repeat(md5(CAST(s_suppkey AS VARCHAR)), s_suppkey % 3 + 2),
                substr(md5(CAST(s_suppkey AS VARCHAR)), 1,
                       CAST(s_suppkey % 7 AS INTEGER))) AS payload
  FROM supplier),
wins AS (
  SELECT key, payload,
         unnest(generate_series(0,
           (length(payload) + {AUDIO_WIN - 1}) // {AUDIO_WIN} - 1)) AS wi
  FROM auds),
wenergy AS (
  SELECT key,
         CAST(w.wi AS INTEGER) AS win_idx,
         CAST({seg_len} AS INTEGER) AS n_bytes,
         CAST(list_reduce([{byte2} for i in generate_series(1, {seg_len})],
                          (x, y) -> x + y) AS BIGINT) AS energy
  FROM wins w)"""


def _audio_sql() -> str:
    return f"""
WITH {_audio_windows_cte()}
SELECT key, win_idx, n_bytes, energy
FROM wenergy ORDER BY key, win_idx
"""


def audio_windows_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNORDERED kernel windows (key, win_idx, n_bytes, energy) -- the
    Spark twin of _audio_windows_cte, shared by the energy query
    (which adds the presentation orderBy) and the silence-segments
    query (which must NOT inherit a global sort before its per-key
    windows)."""
    from ..operators.multimodal import audio_energy_windows

    sup = load_table(spark, sf_dir, "supplier")
    # substring with a COLUMN length argument needs the SQL form
    payload = F.expr(
        "concat(repeat(md5(CAST(s_suppkey AS STRING)), CAST(s_suppkey % 3 + 2 AS INT)), "
        "substring(md5(CAST(s_suppkey AS STRING)), 1, CAST(s_suppkey % 7 AS INT)))"
    )
    auds = sup.select(
        F.col("s_suppkey").cast("long").alias("key"),
        F.struct(
            F.encode(payload, "utf-8").alias("bytes"),
            F.lit("audio/pcm").alias("mime"),
            F.struct(
                F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"),
                F.lit(None).cast("int").alias("duration_ms"),
            ).alias("meta"),
        ).alias("media"),
    )
    return audio_energy_windows(auds, window_bytes=AUDIO_WIN, key_col="key")


@query("multimodal_audio_energy_windows", _audio_sql())
def multimodal_audio_energy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framed audio energy via the Arrow mapInPandas kernel
    (operators/multimodal.audio_energy_windows): 1 blob -> one row per
    16-byte window, exact BIGINT energies, partial trailing window
    kept with its true length. The value check covers the full
    numpy-side arithmetic, not just row counts."""
    return audio_windows_df(spark, sf_dir).orderBy("key", "win_idx")


# ---------------------------------------------------------------------------
# Temperature-scaled mixture weights: w_i ~ p_i^alpha with alpha = 2
# (the exponentiated-share reweighting used for corpus/language
# balancing; alpha > 1 sharpens toward head sources, alpha < 1
# flattens -- mBERT/XLM-style alpha-sampling with the exponent chosen
# integer so the whole computation stays exact: n_i^2 cross-ratios,
# no pow()). Allocations use floor shares + largest-remainder so they
# sum EXACTLY to the budget.
# ---------------------------------------------------------------------------

MIX_ALPHA = 2  # integer exponent => exact arithmetic
MIX_BUDGET = 10_000


def _temp_mix_sql() -> str:
    return f"""
WITH n AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
s AS (
  SELECT source, n_docs, n_docs * n_docs AS w,
         sum(n_docs * n_docs) OVER () AS tot
  FROM n),
fl AS (
  SELECT source, n_docs,
         CAST((1000000 * w) // tot AS BIGINT) AS weight_ppm,
         CAST(({MIX_BUDGET} * w) // tot AS BIGINT) AS alloc_floor,
         ({MIX_BUDGET} * w) % tot AS rem
  FROM s),
rk AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rnk,
         {MIX_BUDGET} - sum(alloc_floor) OVER () AS short
  FROM fl)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       weight_ppm,
       CAST(alloc_floor + CASE WHEN rnk <= short THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM rk ORDER BY source
"""


@query("corpus_temperature_mixture", _temp_mix_sql())
def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alpha=2 temperature mixture over sources: exact squared-share
    weights and a largest-remainder allocation that sums exactly to
    the budget (floor shares alone under-allocate; the remainder rank
    is fully tiebroken). The share table is |sources|-sized -- every
    window here runs over a broadcast-scale frame, never the corpus.
    Note: weights use n^2 cross-ratios; at corpus scale feed counts in
    thousands to keep n^2 * budget within BIGINT."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    s = n.select(
        "source",
        "n_docs",
        (F.col("n_docs") * F.col("n_docs")).alias("w"),
    ).withColumn("tot", F.sum("w").over(Window.partitionBy()))
    fl = s.select(
        "source",
        "n_docs",
        F.expr("(1000000 * w) DIV tot").cast("long").alias("weight_ppm"),
        F.expr(f"({MIX_BUDGET} * w) DIV tot").cast("long").alias("alloc_floor"),
        F.expr(f"({MIX_BUDGET} * w) % tot").alias("rem"),
    )
    rk = fl.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.col("rem").desc(), F.col("source"))),
    ).withColumn(
        "short", F.lit(MIX_BUDGET) - F.sum("alloc_floor").over(Window.partitionBy())
    )
    return rk.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        "weight_ppm",
        (
            F.col("alloc_floor")
            + F.when(F.col("rnk") <= F.col("short"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc"),
    ).orderBy("source")
