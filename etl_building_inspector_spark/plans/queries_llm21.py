"""Twenty-first LLM-pipeline batch: LSH banding design curve in exact
integer rationals (the S-curve that justifies a (bands, rows) choice
BEFORE any data is scanned), and the cross-language stopword signal
matrix (the separation evidence behind the stopword-vote lang-ID).

Oracle discipline per queries_core.py: the S-curve's probabilities
are rationals with power-of-ten denominators, so every output is an
exact integer ppm — a probability query with zero float operations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import LANG_STOPWORDS, tokens
from ..sources.tables import load_table
from .registry import query


# ---------------------------------------------------------------------------
# LSH S-curve: P(candidate | Jaccard s) = 1 - (1 - s^r)^b, evaluated
# at s = 0.1..0.9 for the registered config (b=4, r=2; k=8) and the
# alternative split (b=2, r=4). With s = t/10 every term is a
# rational over a power of ten: s^2 = t^2/100, (1-s^2)^4 =
# (100-t^2)^4 / 1e8 -- so the curve is EXACT integer arithmetic.
# ---------------------------------------------------------------------------

_SCURVE_SQL = """
WITH t AS (SELECT unnest(generate_series(1, 9)) AS s_tenths)
SELECT CAST(s_tenths AS BIGINT) AS s_tenths,
       CAST(s_tenths * s_tenths * 10000 AS BIGINT) AS band_match_ppm_b4r2,
       CAST((100000000 - (100 - s_tenths * s_tenths)
                         * (100 - s_tenths * s_tenths)
                         * (100 - s_tenths * s_tenths)
                         * (100 - s_tenths * s_tenths))
            // 100 AS BIGINT) AS p_candidate_ppm_b4r2,
       CAST((100000000
             - (10000 - s_tenths * s_tenths * s_tenths * s_tenths)
               * (10000 - s_tenths * s_tenths * s_tenths * s_tenths))
            // 100 AS BIGINT) AS p_candidate_ppm_b2r4
FROM t ORDER BY s_tenths
"""


@query("dedup_lsh_s_curve_design", _SCURVE_SQL)
def dedup_lsh_s_curve_design(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banding design curve, exactly: P(candidate | Jaccard=s) =
    1-(1-s^r)^b at s = 0.1..0.9 for the registered (b=4, r=2) config
    and the (b=2, r=4) alternative over the same k=8 signature. All
    integer ppm (s = t/10 makes every power a rational over a power
    of ten), so the 'probability' table is oracle-exact with zero
    float ops and zero data scanned -- read next to
    dedup_minhash_calibration (measured est-vs-exact) and
    dedup_threshold_sensitivity (measured survivor counts) to pick a
    config from evidence instead of folklore: b4r2 catches low-
    similarity pairs aggressively, b2r4 suppresses them."""
    t = spark.range(1, 10).select(F.col("id").alias("s_tenths"))
    t2 = F.col("s_tenths") * F.col("s_tenths")
    return t.select(
        F.col("s_tenths").cast("long").alias("s_tenths"),
        (t2 * 10000).cast("long").alias("band_match_ppm_b4r2"),
        F.expr(
            "(100000000 - (100 - s_tenths * s_tenths) * (100 - s_tenths * s_tenths)"
            " * (100 - s_tenths * s_tenths) * (100 - s_tenths * s_tenths)) DIV 100"
        ).alias("p_candidate_ppm_b4r2"),
        F.expr(
            "(100000000 - (10000 - s_tenths * s_tenths * s_tenths * s_tenths)"
            " * (10000 - s_tenths * s_tenths * s_tenths * s_tenths)) DIV 100"
        ).alias("p_candidate_ppm_b2r4"),
    ).orderBy("s_tenths")


# ---------------------------------------------------------------------------
# Stopword signal matrix: hit rate of every language's stopword set
# within every labeled language's documents -- the separation margin
# the stopword-vote lang-ID relies on, measured on the corpus itself.
# ---------------------------------------------------------------------------


def _signal_matrix_sql() -> str:
    from .queries_llm import _TOKS, _stop_hits_sql

    selects = []
    for sl, words in sorted(LANG_STOPWORDS.items()):
        selects.append(f"""
SELECT lang AS doc_lang, '{sl}' AS stopset_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(hits) AS BIGINT) AS stop_hits,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(hits) * 1000000 // sum(n_tok) AS BIGINT) AS hit_ppm
FROM (
  SELECT lang, {_stop_hits_sql("toks", words)} AS hits, len(toks) AS n_tok
  FROM (SELECT lang, {_TOKS} AS toks FROM documents) t
) s GROUP BY lang""")
    return "\nUNION ALL\n".join(selects) + "\nORDER BY doc_lang, stopset_lang"


@query("text_stopword_signal_matrix", _signal_matrix_sql())
def text_stopword_signal_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc language x stopword set) hit-rate matrix in ppm: the
    diagonal should dominate every row for the stopword-vote lang-ID
    (text_lang_id) to be trustworthy, and the matrix IS the evidence
    (an off-diagonal cell rivaling the diagonal -- e.g. es/fr sharing
    'la' -- is exactly where eval_langid_confusion's errors come
    from). On the synthetic fixture it delivers a real finding: the
    'en' column dominates EVERY row (the text is English-vocabulary
    regardless of the lang label), i.e. the labels are decorative and
    any text-derived lang-ID will disagree with them -- pinned in
    tests as the expected shape. One tokenize pass staged, five
    counted projections over it (one per stopset), each a
    groupBy(lang) of two ints per doc."""
    from ..operators._cache import track_persist

    docs = load_table(spark, sf_dir, "documents")
    staged = track_persist(
        docs.select("lang", tokens("text").alias("toks"))
    )
    outs = []
    for sl, words in sorted(LANG_STOPWORDS.items()):
        hits = F.size(F.filter(F.col("toks"), lambda x: x.isin(*words)))
        per = staged.select(
            F.col("lang").alias("doc_lang"),
            hits.alias("hits"),
            F.size("toks").alias("n_tok"),
        )
        outs.append(
            per.groupBy("doc_lang").agg(
                F.lit(sl).alias("stopset_lang"),
                F.count("*").alias("n_docs"),
                F.sum("hits").cast("long").alias("stop_hits"),
                F.sum("n_tok").cast("long").alias("n_tokens"),
                F.expr("sum(hits) * 1000000 DIV sum(n_tok)").alias(
                    "hit_ppm"
                ),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select(
        "doc_lang", "stopset_lang", "n_docs", "stop_hits", "n_tokens",
        "hit_ppm",
    ).orderBy("doc_lang", "stopset_lang")


# ---------------------------------------------------------------------------
# Blocking-strategy eval: recall on the planted-typo truth pairs vs
# candidate-pair workload, for THREE blocking keys over the same name
# universe. The trick that keeps it O(n): a truth pair (name, typo)
# is co-blocked by strategy S iff key_S(name) == key_S(typo) -- a
# ROW-WISE comparison, no join; the workload is the explosion-audit
# arithmetic (sum w*(w-1)/2 over key widths). So the whole
# recall-vs-cost table costs one projection + three key counts.
# ---------------------------------------------------------------------------


def _blocking_eval_sql() -> str:
    from .queries_llm15 import _phonetic_sql, _typo_sql

    typo = _typo_sql("n")
    strategies = {
        "exact_token": "split_part({x}, ' ', 1)",
        "phonetic": None,  # _phonetic_sql applied to the first token
        "prefix2": "substr(split_part({x}, ' ', 1), 1, 2)",
    }

    def key(strat: str, x: str) -> str:
        if strat == "phonetic":
            return _phonetic_sql(f"split_part({x}, ' ', 1)")
        return strategies[strat].format(x=x)

    selects = []
    for s in sorted(strategies):
        selects.append(f"""
SELECT '{s}' AS strategy,
       (SELECT CAST(count(*) AS BIGINT)
        FROM (SELECT n, {typo} AS typo
              FROM (SELECT p_name AS n, min(p_partkey) AS k FROM part
                    GROUP BY p_name) b WHERE k % 7 = 0) t
        WHERE typo <> n) AS n_truth,
       (SELECT CAST(count(*) AS BIGINT)
        FROM (SELECT n, {typo} AS typo
              FROM (SELECT p_name AS n, min(p_partkey) AS k FROM part
                    GROUP BY p_name) b WHERE k % 7 = 0) t
        WHERE typo <> n AND {key(s, "n")} = {key(s, "typo")}) AS n_found,
       (SELECT CAST(sum(w * (w - 1) // 2) AS BIGINT)
        FROM (SELECT count(*) AS w FROM (
                SELECT {key(s, "n")} AS kk FROM (
                  SELECT p_name AS n FROM part GROUP BY p_name
                  UNION ALL
                  SELECT typo AS n FROM (
                    SELECT n, {typo} AS typo
                    FROM (SELECT p_name AS n, min(p_partkey) AS k FROM part
                          GROUP BY p_name) b WHERE k % 7 = 0) p
                  WHERE typo <> n) u
              ) kk GROUP BY kk) w) AS n_candidate_pairs""")
    body = "\nUNION ALL\n".join(selects)
    return f"""
WITH out AS ({body})
SELECT strategy, n_truth, n_found,
       CAST(n_found * 1000000 // n_truth AS BIGINT) AS recall_ppm,
       n_candidate_pairs
FROM out ORDER BY strategy
"""


@query("er_blocking_strategy_eval", _blocking_eval_sql())
def er_blocking_strategy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall vs candidate workload for three ER blocking strategies
    (exact first token, simplified Soundex, 2-char prefix) on the
    planted-typo truth set (the llm15 generator, shared expression).
    A truth pair is co-blocked iff both sides produce the same key --
    a row-wise test, so recall costs one projection; the workload
    column is sum w*(w-1)/2 over that strategy's key widths (the
    join_explosion_audit arithmetic). This is the blocking decision
    table: the transposition typo defeats exact-token and prefix2
    (recall ~0) while the phonetic key survives it at comparable
    candidate cost -- measured, per strategy, before any pair is
    generated."""
    from .queries_llm15 import _phonetic_sql, _typo_sql

    part = load_table(spark, sf_dir, "part")
    base = part.groupBy(F.col("p_name").alias("n")).agg(
        F.min("p_partkey").alias("k")
    )
    from ..operators._cache import track_persist

    planted = track_persist(
        base.filter(F.col("k") % 7 == 0)
        .select("n", F.expr(_typo_sql("n")).alias("typo"))
        .filter(F.col("typo") != F.col("n"))
    )
    universe = track_persist(
        base.select("n").unionByName(planted.select(F.col("typo").alias("n")))
    )

    def key_expr(strat: str, x: str) -> str:
        if strat == "phonetic":
            return _phonetic_sql(f"split_part({x}, ' ', 1)")
        if strat == "exact_token":
            return f"split_part({x}, ' ', 1)"
        return f"substr(split_part({x}, ' ', 1), 1, 2)"

    outs = []
    for s in ("exact_token", "phonetic", "prefix2"):
        found = planted.agg(
            F.count("*").alias("n_truth"),
            F.sum(
                F.when(
                    F.expr(key_expr(s, "n")) == F.expr(key_expr(s, "typo")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_found"),
        )
        widths = (
            universe.select(F.expr(key_expr(s, "n")).alias("kk"))
            .groupBy("kk")
            .agg(F.count("*").alias("w"))
            .agg(
                F.sum(F.expr("w * (w - 1) DIV 2"))
                .cast("long")
                .alias("n_candidate_pairs")
            )
        )
        outs.append(
            found.crossJoin(F.broadcast(widths)).select(
                F.lit(s).alias("strategy"),
                F.col("n_truth").cast("long").alias("n_truth"),
                "n_found",
                F.expr("n_found * 1000000 DIV n_truth").alias("recall_ppm"),
                "n_candidate_pairs",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("strategy")
