"""Nineteenth LLM-pipeline batch: corpus mixture diversity (Simpson
rationals + fixed-order Shannon fold), deterministic token-budget
waterfilling, an exact-vs-normalized fingerprint dedup eval, and a
KMV (bottom-k / theta-sketch) distinct estimator eval.

Oracle discipline per queries_core.py: integers until the consumer's
division; the one float output (Shannon entropy) is computed by a
SEQUENTIAL fold over an array sorted by a total order, so both
engines accumulate in the identical IEEE order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint, tokens
from ..sources.tables import load_table
from .queries_llm import _DOCS_WITH_DUPS_SQL, _NORM, _TOKS, _docs_with_dups
from .registry import query


WATERFILL_BUDGET_FRACTION_INV = 2  # budget = total tokens DIV 2
KMV_K = 256
KMV_U32 = 4_294_967_296


# ---------------------------------------------------------------------------
# Mixture diversity: Simpson index as exact integer rationals plus
# Shannon entropy via a fixed-order fold, for both the source and the
# lang grouping. Diversity collapsing round-over-round is the signal
# that dedup/filtering is homogenizing the corpus.
# ---------------------------------------------------------------------------


def _diversity_scope_sql(scope: str) -> str:
    return f"""
SELECT '{scope}' AS scope,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(cnt * (cnt - 1)) AS BIGINT) AS simpson_num,
       CAST(sum(cnt) * (sum(cnt) - 1) AS BIGINT) AS simpson_den,
       list_reduce(
         list_transform(
           array_agg(CAST(cnt AS DOUBLE) ORDER BY cnt, g),
           p -> -(p / n) * ln(p / n)),
         (a, b) -> a + b) AS shannon_nats
FROM (SELECT {scope} AS g, count(*) AS cnt FROM documents GROUP BY 1),
     (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
GROUP BY n"""


_DIVERSITY_SQL = (
    _diversity_scope_sql("source")
    + "\nUNION ALL\n"
    + _diversity_scope_sql("lang")
    + "\nORDER BY scope"
)


@query("corpus_mixture_diversity", _DIVERSITY_SQL)
def corpus_mixture_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity by source and by lang: Simpson index as exact
    integer rationals (num = sum cnt*(cnt-1), den = N*(N-1) -- the
    probability two random docs share the group), and Shannon entropy
    in nats. The entropy is the one float: it is computed by a
    SEQUENTIAL fold over the group-count array sorted by (cnt, group)
    -- a total order both engines realize identically, so the IEEE
    accumulation order is pinned and the hash matches. Group counts
    are tiny (<= 20 rows) after one map-side-combinable count."""
    docs = load_table(spark, sf_dir, "documents")

    def scope(col: str) -> DataFrame:
        cnt = docs.groupBy(F.col(col).alias("g")).agg(
            F.count("*").alias("cnt")
        )
        one = cnt.agg(
            F.array_sort(F.collect_list(F.struct("cnt", "g"))).alias("arr"),
            F.count("*").cast("long").alias("n_groups"),
            F.sum(F.col("cnt") * (F.col("cnt") - 1))
            .cast("long")
            .alias("simpson_num"),
            (F.sum("cnt") * (F.sum("cnt") - 1))
            .cast("long")
            .alias("simpson_den"),
            F.sum("cnt").cast("double").alias("total"),
        )
        n = F.col("total")
        shannon = F.aggregate(
            F.transform(
                F.col("arr"),
                lambda s: -(s["cnt"].cast("double") / n)
                * F.log(s["cnt"].cast("double") / n),
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        )
        return one.select(
            F.lit(col).alias("scope"),
            "n_groups",
            "simpson_num",
            "simpson_den",
            shannon.alias("shannon_nats"),
        )

    return scope("source").unionByName(scope("lang")).orderBy("scope")


# ---------------------------------------------------------------------------
# Token-budget waterfill: allocate a global token budget across
# sources as evenly as availability allows -- sources below the
# waterline keep everything, the rest get the same share. The
# waterline is found in closed form on the aggregated (<= 20-row)
# availability table: take sources in ascending availability; the
# first source whose availability exceeds the equal-share of the
# remaining budget marks the line.
# ---------------------------------------------------------------------------

_WATERFILL_SQL = f"""
WITH avail AS (
  SELECT source, CAST(sum(len({_TOKS})) AS BIGINT) AS avail
  FROM documents GROUP BY source
), tot AS (
  SELECT sum(avail) AS total, count(*) AS n_src,
         sum(avail) // {WATERFILL_BUDGET_FRACTION_INV} AS budget
  FROM avail
), ranked AS (
  SELECT source, avail, budget, n_src,
         row_number() OVER (ORDER BY avail, source) AS rn,
         sum(avail) OVER (ORDER BY avail, source
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS prefix
  FROM avail, tot
), marked AS (
  SELECT *,
         CASE WHEN avail * (n_src - rn + 1) > budget - (prefix - avail)
              THEN rn END AS cand
  FROM ranked
), line AS (
  SELECT min(cand) AS istar FROM marked
), shared AS (
  SELECT m.*, line.istar,
         coalesce((SELECT max(prefix) FROM marked x
                   WHERE line.istar IS NOT NULL AND x.rn < line.istar), 0)
           AS prefix_before
  FROM marked m, line
)
SELECT source, CAST(avail AS BIGINT) AS avail_tokens,
       CAST(CASE WHEN istar IS NULL OR rn < istar THEN avail
                 ELSE (budget - prefix_before) // (n_src - istar + 1)
            END AS BIGINT) AS alloc_tokens,
       CAST(istar IS NOT NULL AND rn >= istar AS BOOLEAN) AS capped
FROM shared ORDER BY source
"""


@query("corpus_token_budget_waterfill", _WATERFILL_SQL)
def corpus_token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waterfill a token budget (half the corpus) across sources:
    every source keeps min(its tokens, waterline); the line is where
    equal-sharing the remaining budget stops covering the next-larger
    source. Closed form on the AGGREGATED availability table (<= 20
    rows after one shuffle): rank by availability, prefix-sum, the
    first rank whose availability exceeds the remaining equal share
    marks the line -- no iteration, no driver loop; integer floor
    division throughout (the remainder stays unallocated, documented).
    This is the mixture-rebalancing step between corpus accounting and
    sampling (corpus_mixture_deficit's sibling with a hard budget)."""
    docs = load_table(spark, sf_dir, "documents")
    avail = docs.groupBy("source").agg(
        F.sum(F.size(tokens("text"))).cast("long").alias("avail")
    )
    from ..operators._cache import track_persist

    avail = track_persist(avail)
    tot = avail.agg(
        F.sum("avail").alias("total"),
        F.count("*").alias("n_src"),
        F.expr(
            f"sum(avail) DIV {WATERFILL_BUDGET_FRACTION_INV}"
        ).alias("budget"),
    )
    w = Window.orderBy("avail", "source")
    ranked = (
        avail.crossJoin(F.broadcast(tot))
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "prefix",
            F.sum("avail").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    marked = ranked.withColumn(
        "cand",
        F.when(
            F.col("avail") * (F.col("n_src") - F.col("rn") + 1)
            > F.col("budget") - (F.col("prefix") - F.col("avail")),
            F.col("rn"),
        ),
    )
    from ..operators._cache import track_persist as _tp

    marked = _tp(marked)
    line = marked.agg(F.min("cand").alias("istar"))
    pre = marked.join(F.broadcast(line), how="cross").agg(
        F.coalesce(
            F.max(
                F.when(F.col("rn") < F.col("istar"), F.col("prefix"))
            ),
            F.lit(0),
        ).alias("prefix_before"),
        F.any_value("istar").alias("istar"),
    )
    shared = marked.crossJoin(F.broadcast(pre))
    alloc = F.when(
        F.col("istar").isNull() | (F.col("rn") < F.col("istar")),
        F.col("avail"),
    ).otherwise(
        F.expr("(budget - prefix_before) DIV (n_src - istar + 1)")
    )
    return shared.select(
        "source",
        F.col("avail").cast("long").alias("avail_tokens"),
        alloc.cast("long").alias("alloc_tokens"),
        (F.col("istar").isNotNull() & (F.col("rn") >= F.col("istar"))).alias(
            "capped"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Exact-bytes vs normalized fingerprint eval: how many duplicate docs
# a byte-exact dedup misses relative to the normalized one. Raw
# equality implies normalized equality, so norm dedup only drops MORE.
# ---------------------------------------------------------------------------

_BYTES_VS_NORM_SQL = f"""
WITH {_DOCS_WITH_DUPS_SQL.strip()},
fps AS (
  SELECT md5(text) AS fp_raw, md5({_NORM}) AS fp_norm FROM docs
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT fp_raw) AS BIGINT) AS groups_raw,
       CAST(count(DISTINCT fp_norm) AS BIGINT) AS groups_norm,
       CAST(count(*) - count(DISTINCT fp_raw) AS BIGINT) AS dup_docs_raw,
       CAST(count(*) - count(DISTINCT fp_norm) AS BIGINT) AS dup_docs_norm,
       CAST(count(DISTINCT fp_raw) - count(DISTINCT fp_norm) AS BIGINT)
         AS missed_by_raw
FROM fps
"""


@query("dedup_exact_bytes_vs_norm_eval", _BYTES_VS_NORM_SQL)
def dedup_exact_bytes_vs_norm_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-exact vs normalized-text dedup, one row: document count,
    group counts under each fingerprint, duplicates each would drop,
    and missed_by_raw = extra duplicates only normalization catches
    (raw-equal implies norm-equal, so the normalized partition is
    strictly coarser and the difference is well-defined). The eval
    that justifies paying for normalization before hashing. Two
    count-distincts over one projection -- same shuffle class as the
    dedup itself."""
    docs = _docs_with_dups(spark, sf_dir)
    fps = docs.select(
        F.md5("text").alias("fp_raw"), fingerprint("text").alias("fp_norm")
    )
    return fps.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("fp_raw").cast("long").alias("groups_raw"),
        F.countDistinct("fp_norm").cast("long").alias("groups_norm"),
        (F.count("*") - F.countDistinct("fp_raw"))
        .cast("long")
        .alias("dup_docs_raw"),
        (F.count("*") - F.countDistinct("fp_norm"))
        .cast("long")
        .alias("dup_docs_norm"),
        (F.countDistinct("fp_raw") - F.countDistinct("fp_norm"))
        .cast("long")
        .alias("missed_by_raw"),
    )


# ---------------------------------------------------------------------------
# KMV / theta-sketch distinct estimator eval: est = (k-1) * 2^32 /
# h_(k) where h_(k) is the k-th smallest u32 hash of the distinct
# keys. Deterministic (md5), so exactly oracle-checkable -- the
# bottom-k sibling of the HLL eval family.
# ---------------------------------------------------------------------------

_KMV_SQL = f"""
WITH h AS (
  SELECT DISTINCT CAST(concat('0x', substr(md5('kmv:' || CAST(l_orderkey AS VARCHAR)),
                                           1, 8)) AS BIGINT) AS hv
  FROM lineitem
), kth AS (
  -- greatest(.., 1): u32(md5) == 0 happens with p ~= 2^-32 per key;
  -- on a large key set that tail event would make h_k = 0 and the
  -- estimate divide by zero -- clamp identically on both engines
  SELECT greatest(max(hv), 1) AS h_k, count(*) AS k
  FROM (SELECT hv FROM h ORDER BY hv LIMIT {KMV_K}) t
), exact AS (
  SELECT count(DISTINCT l_orderkey) AS n FROM lineitem
)
SELECT CAST(n AS BIGINT) AS exact_distinct,
       CAST(k AS BIGINT) AS k,
       CAST((k - 1) * {KMV_U32} // h_k AS BIGINT) AS kmv_estimate,
       CAST(abs((k - 1) * {KMV_U32} // h_k - n) * 1000000 // n AS BIGINT)
         AS err_ppm
FROM kth, exact
"""


@query("sketch_bottomk_theta_eval", _KMV_SQL)
def sketch_bottomk_theta_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k / theta) distinct estimate vs exact, one row:
    keep the k=256 smallest u32(md5) hash values of the key; est =
    (k-1)*2^32/h_(k). The hash is the repo's portable md5 construction
    so the estimate is DETERMINISTIC and the oracle checks it exactly
    -- measuring real estimator error, not a seed lottery. Spark keeps
    the bottom-k via orderBy(hv).limit(k) = TakeOrdered (per-partition
    heap + driver merge, the same O(k)-state shape a production KMV
    accumulator uses; merging two KMV sketches = union + re-truncate,
    the mergeability the theta family is chosen for). The exact count
    is computed alongside because this is the EVAL; production uses
    the sketch precisely to avoid it."""
    li = load_table(spark, sf_dir, "lineitem")
    from ..operators.sampling import sample_hash_u32

    h = li.select(sample_hash_u32("l_orderkey", "kmv").alias("hv")).distinct()
    bottom = h.orderBy("hv").limit(KMV_K)
    # greatest(.., 1) guards the 2^-32-per-key hv == 0 tail (division
    # by zero in the estimate), clamped identically in the oracle
    kth = bottom.agg(
        F.greatest(F.max("hv"), F.lit(1)).alias("h_k"),
        F.count("*").alias("k"),
    )
    exact = li.agg(F.countDistinct("l_orderkey").alias("n"))
    return (
        kth.crossJoin(F.broadcast(exact))
        .select(
            F.col("n").cast("long").alias("exact_distinct"),
            F.col("k").cast("long").alias("k"),
            F.expr(f"(k - 1) * {KMV_U32} DIV h_k").alias("kmv_estimate"),
            F.expr(
                f"abs((k - 1) * {KMV_U32} DIV h_k - n) * 1000000 DIV n"
            ).alias("err_ppm"),
        )
    )
