"""Eighth LLM-pipeline batch: n-gram language-model quality scoring
(the CCNet/KenLM-style perplexity filter re-expressed in an exact
integer domain), embedding whitening as an applied TRANSFORM (the
consumer of emb_dimension_stats), and PII scrubbing as a transform
with an audit trail.

Scale themes:
  * the char-trigram LM is two corpus-level count tables bounded by
    charset^3 (REGARDLESS of corpus size) broadcast back onto a
    positional explode -- the same linear flatMap shape as the OOV
    scorer, with the model itself always broadcast-sized;
  * whitening joins a 64-row stats table (broadcast) onto the
    exploded vectors -- one narrow pass; every float in the output
    derives from exact integer atoms through an identical expression
    order in both engines, so even sqrt/division results hash-match;
  * PII scrub is a pure projection (regexp_replace chain) -- map-only,
    zero shuffles, with the match counts kept as the audit column
    every compliance pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators._parallel import fan_out_scan
from ..sources.tables import load_table
from .queries_llm import _NORM
from .registry import query


# ---------------------------------------------------------------------------
# Char-trigram LM quality score, integer domain. The model: corpus
# counts of trigrams and their bigram CONTEXTS (both restricted to
# positions 1..len-2 so numerator and denominator range over the
# same population). Per position, the conditional probability
# p(c3 | c1c2) = count3/count2 becomes ppm = floor(1e6*count3/count2)
# -- an exact BIGINT. Doc score = floor-mean of position ppms: high
# for text whose character transitions match the corpus, low for
# gibberish -- the perplexity-filter signal without ln()'s libm
# portability problem.
# ---------------------------------------------------------------------------

_LM_SQL = f"""
WITH t AS (
  SELECT doc_id, {_NORM} AS t FROM documents),
pos AS (
  SELECT doc_id,
         unnest(CASE WHEN length(t) >= 3
           THEN [{{'tri': substr(t, i, 3), 'bi': substr(t, i, 2)}}
                 for i in generate_series(1, length(t) - 2)]
           ELSE []::STRUCT(tri VARCHAR, bi VARCHAR)[] END) AS g
  FROM t),
grams AS (
  SELECT doc_id, g.tri AS tri, g.bi AS bi FROM pos),
c3 AS (SELECT tri, count(*) AS n3 FROM grams GROUP BY tri),
c2 AS (SELECT bi, count(*) AS n2 FROM grams GROUP BY bi),
scored AS (
  SELECT g.doc_id,
         CAST(floor(1000000.0 * c3.n3 / c2.n2) AS BIGINT) AS ppm
  FROM grams g JOIN c3 USING (tri) JOIN c2 USING (bi))
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_positions,
       CAST(sum(ppm) // count(*) AS BIGINT) AS lm_score_ppm
FROM scored GROUP BY doc_id
ORDER BY doc_id
"""


@query("quality_ngram_lm_score", _LM_SQL)
def quality_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained char-trigram LM score per document in exact ppm
    (the perplexity-style quality filter, integer domain). The model
    tables are charset^3-bounded -> always broadcast; the position
    explode is the one linear pass; per-doc agg is map-side
    combinable."""
    from ..operators._cache import track_persist
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    # fan the 1-split scan out before the regex normalize + position
    # explode (guide 2.5): measured 4.6 s of the query on n=1 task
    t = fan_out_scan(docs.select("doc_id", "text")).select(
        "doc_id", norm.alias("t")
    )
    # positions 1..len-2; explode positions then codegen substr (the
    # measured-faster pattern from text_oov_bigram_rate)
    grams = track_persist(
        t.where(F.length("t") >= 3)
        .select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(1), F.length("t") - 2)).alias("i"),
        )
        .select(
            "doc_id",
            F.expr("substring(t, i, 3)").alias("tri"),
            F.expr("substring(t, i, 2)").alias("bi"),
        )
    )
    c3 = grams.groupBy("tri").agg(F.count("*").alias("n3"))
    # NOTE (measured, A/B at sf0.1): since positions 1..len-2 are the
    # same population for both tables, c2 could be DERIVED from c3
    # (n2(b) = sum n3 over trigrams with prefix b), saving this
    # corpus-wide pass. Over the PERSISTED grams the direct agg is
    # ~0.5 s faster (5.0 vs 5.5 s warm best-of-3) because the derived
    # form forces an extra c3 materialization; at a scale where grams
    # cannot stay cached, flip to the derived form.
    c2 = grams.groupBy("bi").agg(F.count("*").alias("n2"))
    scored = (
        grams.join(F.broadcast(c3), "tri")
        .join(F.broadcast(c2), "bi")
        .select(
            "doc_id",
            F.floor(F.lit(1000000.0) * F.col("n3") / F.col("n2"))
            .cast("long")
            .alias("ppm"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_positions"),
            F.expr("sum(ppm) DIV count(*)").cast("long").alias("lm_score_ppm"),
        )
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "n_positions",
            "lm_score_ppm",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Whitening APPLIED: (v - mean)/std per dimension, every float
# derived from exact integer atoms (scaled sums and sums of squares)
# through the SAME expression order in both engines -- sqrt and
# division are correctly rounded per IEEE-754, so identical integer
# inputs give bit-identical whitened values. Dims with zero variance
# are excluded (none exist in random data; the guard keeps the
# division total).
# ---------------------------------------------------------------------------

_W_SCALE = 1048576  # 2^20

_WHITEN_SQL = f"""
WITH flat AS (
  SELECT vec_id, u.d AS dim, CAST(u.v AS DOUBLE) AS v,
         CAST(floor(CAST(u.v AS DOUBLE) * {_W_SCALE}) AS BIGINT) AS s
  FROM (
    SELECT vec_id,
           unnest([{{'d': i, 'v': embedding[i]}} for i in generate_series(1, len(embedding))]) AS u
    FROM embeddings)),
stats AS (
  SELECT dim,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(s) AS BIGINT) AS ssum,
         CAST(sum(s * s) AS BIGINT) AS ssq
  FROM flat GROUP BY dim),
var AS (
  -- variance numerator in DOUBLE: n*ssq - ssum^2 overflows BIGINT
  -- past ~10k vectors; both engines evaluate the identical double
  -- expression over exactly-derived integer atoms, so cross-engine
  -- equality is preserved without the overflow
  SELECT dim, n, ssum, ssq,
         CAST(n AS DOUBLE) * CAST(ssq AS DOUBLE)
           - CAST(ssum AS DOUBLE) * CAST(ssum AS DOUBLE) AS vnum
  FROM stats)
SELECT CAST(f.vec_id AS BIGINT) AS vec_id,
       CAST(f.dim AS BIGINT) AS dim,
       (f.v - CAST(ssum AS DOUBLE) / n / {_W_SCALE})
         / (sqrt(vnum) / n / {_W_SCALE}) AS w
FROM flat f JOIN var USING (dim)
WHERE vnum > 0
ORDER BY vec_id, dim
"""


@query("emb_whitening_apply", _WHITEN_SQL)
def emb_whitening_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-center + unit-variance scale every embedding dimension --
    the applied transform downstream of emb_dimension_stats. The
    64-row stats table broadcasts onto the exploded vectors (one
    narrow pass); floats derive from integer atoms via an identical
    expression order, so the oracle hash-matches bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v0")
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("dim"),
        F.col("v0").cast("double").alias("v"),
        F.floor(F.col("v0").cast("double") * _W_SCALE).cast("long").alias("s"),
    )
    stats = flat.groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("s").cast("long").alias("ssum"),
        F.sum(F.col("s") * F.col("s")).cast("long").alias("ssq"),
    )
    # double-domain variance numerator: BIGINT n*ssq - ssum^2 would
    # overflow past ~10k vectors; identical expression order in both
    # engines keeps the oracle hash-exact (see the SQL twin comment)
    var = stats.select(
        "dim",
        "n",
        "ssum",
        (
            F.col("n").cast("double") * F.col("ssq").cast("double")
            - F.col("ssum").cast("double") * F.col("ssum").cast("double")
        ).alias("vnum"),
    )
    mean = F.col("ssum").cast("double") / F.col("n") / F.lit(_W_SCALE)
    std = F.sqrt(F.col("vnum")) / F.col("n") / F.lit(_W_SCALE)
    return (
        flat.join(F.broadcast(var), "dim")
        .where(F.col("vnum") > 0)
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("dim").cast("long").alias("dim"),
            ((F.col("v") - mean) / std).alias("w"),
        )
        .orderBy("vec_id", "dim")
    )


# ---------------------------------------------------------------------------
# PII scrub with audit: deterministic synthetic PII (an email and a
# phone-shaped token derived from doc_id) appended to each text, then
# scrubbed by a regexp_replace chain; the match counts BEFORE
# scrubbing are the audit columns. Spark regexp_replace is global by
# default; the DuckDB twin passes the 'g' flag explicitly.
# ---------------------------------------------------------------------------

_PII_SQL = """
WITH aug AS (
  SELECT doc_id,
         concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                '@mail-', CAST(doc_id % 7 AS VARCHAR), '.example.com or ',
                CAST(100 + doc_id % 900 AS VARCHAR), '-555-',
                CAST(1000 + doc_id % 9000 AS VARCHAR)) AS t
  FROM documents),
scrubbed AS (
  SELECT doc_id,
         len(regexp_extract_all(t, '[a-z0-9._-]+@[a-z0-9.-]+')) AS n_emails,
         len(regexp_extract_all(t, '[0-9]{3}-555-[0-9]{4}')) AS n_phones,
         regexp_replace(
           regexp_replace(t, '[a-z0-9._-]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
           '[0-9]{3}-555-[0-9]{4}', '<PHONE>', 'g') AS clean
  FROM aug)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_emails AS BIGINT) AS n_emails,
       CAST(n_phones AS BIGINT) AS n_phones,
       md5(clean) AS clean_md5
FROM scrubbed ORDER BY doc_id
"""


@query("text_pii_scrub", _PII_SQL)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub emails and phone-shaped tokens to placeholders, keeping
    per-doc match counts as the audit trail -- map-only (zero
    shuffles), the compliance-transform twin of the PII DETECTION
    scorer in textops. The scrubbed text is verified by md5 so the
    oracle checks the full transform, not just the counts."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail-"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com or "),
        (F.lit(100) + F.col("doc_id") % 900).cast("string"),
        F.lit("-555-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
    )
    email = r"[a-z0-9._-]+@[a-z0-9.-]+"
    phone = r"[0-9]{3}-555-[0-9]{4}"
    aug = docs.select("doc_id", t.alias("t"))
    return aug.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(F.expr(f"regexp_extract_all(t, '{email}', 0)"))
        .cast("long")
        .alias("n_emails"),
        F.size(F.expr(f"regexp_extract_all(t, '{phone}', 0)"))
        .cast("long")
        .alias("n_phones"),
        F.md5(
            F.regexp_replace(
                F.regexp_replace(F.col("t"), email, "<EMAIL>"),
                phone,
                "<PHONE>",
            )
        ).alias("clean_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Multimodal frame sampling with an EXACT oracle: synthetic "video"
# blobs (bytes = repeat(md5(key), 4), duration from the key) run
# through the REAL mapInPandas fan-out kernel
# (operators/multimodal.sample_frames); each emitted frame is a
# content-addressed stub md5(bytes + '@ts'), so DuckDB recomputes the
# identical frame hashes from the same string algebra. This gives the
# video-shaped 1->N kernel a full value-check, like
# multimodal_byte_histogram does for the image-shaped 1->1 kernel.
# ---------------------------------------------------------------------------

_FRAME_EVERY_MS = 1000

# body shared with queries_llm15's shot-cut oracle (which wraps it in
# its own CTE and must not inherit the presentation ORDER BY)
_FRAME_BODY_SQL = f"""
WITH vids AS (
  SELECT CAST(s_suppkey AS BIGINT) AS key,
         repeat(md5(CAST(s_suppkey AS VARCHAR)), 4) AS payload,
         CAST((s_suppkey % 5 + 1) * 3000 AS INTEGER) AS duration_ms
  FROM supplier),
frames AS (
  SELECT key,
         unnest(generate_series(0, duration_ms // {_FRAME_EVERY_MS} - 1)) AS frame_idx,
         payload
  FROM vids)
SELECT key,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(frame_idx * {_FRAME_EVERY_MS} AS INTEGER) AS ts_ms,
       upper(md5(payload || '@' || CAST(frame_idx * {_FRAME_EVERY_MS} AS VARCHAR))) AS frame_hex
FROM frames"""

_FRAME_SQL = _FRAME_BODY_SQL + "\nORDER BY key, frame_idx\n"


def _video_stub_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic video blobs (payload/duration derived from supplier
    keys, the _FRAME_BODY_SQL twin) run through the REAL mapInPandas
    fan-out kernel. Shared by multimodal_frame_sample_fanout and
    queries_llm15's shot-cut query so the stub construction cannot
    drift between them while both oracles share _FRAME_BODY_SQL."""
    from ..operators.multimodal import sample_frames

    sup = load_table(spark, sf_dir, "supplier")
    payload = F.repeat(F.md5(F.col("s_suppkey").cast("string")), 4)
    vids = sup.select(
        F.col("s_suppkey").cast("long").alias("key"),
        F.struct(
            F.encode(payload, "utf-8").alias("bytes"),
            F.lit("video/mp4").alias("mime"),
            F.struct(
                F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"),
                ((F.col("s_suppkey") % 5 + 1) * 3000).cast("int").alias("duration_ms"),
            ).alias("meta"),
        ).alias("media"),
    )
    return sample_frames(vids, every_ms=_FRAME_EVERY_MS, key_col="key")


@query("multimodal_frame_sample_fanout", _FRAME_SQL)
def multimodal_frame_sample_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling through the real Arrow mapInPandas kernel:
    1 -> duration/every_ms rows per blob, frames as content-addressed
    stubs (no codecs in container; the fan-out arithmetic, schema and
    batch behavior are the production shape). F.hex(frame) exposes
    the stub digest for the exact oracle."""
    frames = _video_stub_frames(spark, sf_dir)
    return frames.select(
        "key",
        "frame_idx",
        "ts_ms",
        F.hex(F.col("frame")).alias("frame_hex"),
    ).orderBy("key", "frame_idx")


# ---------------------------------------------------------------------------
# ANN recall EVAL as a query: brute-force top-k is ground truth, the
# deterministic IVF variant is the candidate; per-query recall =
# |intersection| / k. Both sides already have exact oracles, so the
# eval composes them (the DuckDB twin wraps both statements as CTE
# subqueries) -- recall itself becomes an oracle-checked number, the
# eval-as-data discipline an ANN rollout needs before flipping
# traffic. k and IVF geometry match the registered queries.
# ---------------------------------------------------------------------------


def _ann_recall_sql() -> str:
    from . import queries_llm as _llm

    brute = _llm._ann_sql().strip()
    ivf = _llm._ivf_sampled_sql().strip()
    return f"""
WITH brute AS (
{brute}
),
ivf AS (
{ivf}
)
SELECT b.query_id,
       CAST(count(*) AS BIGINT) AS k,
       CAST(count(i.neighbor_id) AS BIGINT) AS n_matched,
       CAST(count(i.neighbor_id) AS DOUBLE) / count(*) AS recall
FROM brute b
LEFT JOIN ivf i
  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
GROUP BY b.query_id
ORDER BY b.query_id
"""


@query("ann_recall_eval", _ann_recall_sql())
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall of the deterministic IVF ANN against the
    brute-force ground truth -- the acceptance gate of any ANN
    deployment, expressed as one plan (both sides reuse the
    registered implementations; the ground-truth join is per-query,
    k-bounded)."""
    from . import queries_llm as _llm

    brute = _llm.ann_cosine_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    ivf = _llm.ann_cosine_ivf_sampled(spark, sf_dir).select(
        F.col("query_id").alias("i_qid"),
        F.col("neighbor_id").alias("i_nid"),
    )
    j = brute.join(
        ivf,
        (F.col("query_id") == F.col("i_qid"))
        & (F.col("neighbor_id") == F.col("i_nid")),
        "left",
    )
    return (
        j.groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("k"),
            F.count("i_nid").cast("long").alias("n_matched"),
            (F.count("i_nid").cast("double") / F.count("*")).alias("recall"),
        )
        .orderBy("query_id")
    )
