"""Fourteenth LLM-pipeline batch: sketch set-algebra, weighted
categorical sampling, and the second privacy audit.

- sketch_hll_intersection_eval: audience/corpus overlap estimated by
  HLL inclusion-exclusion (est_a + est_b - est_union, union = register
  max-merge) vs the exact intersection — the overlap-planning
  primitive, its error oracle-checked.
- corpus_negative_sampling: word2vec-style unigram^0.75 negative
  sampling via inverse-CDF lookup — interval table from one ordered
  cumulative-sum pass, draws placed by a BUCKETIZED range join (the
  rangejoin.py shape), md5-derandomized. pow(x, 0.75) is computed as
  sqrt(x)*sqrt(sqrt(x)) — sqrt is IEEE-exact in both engines, so the
  weights are bit-identical without libm pow().
- privacy_l_diversity: groups passing k-anonymity can still leak if
  the sensitive attribute is uniform inside a group — report QI
  groups with fewer than L distinct sensitive values (Machanavajjhala
  et al., ICDE 2006), completing the privacy_k_anonymity pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.sampling import sample_hash_u32
from ..sources.tables import load_table
from .queries_llm import _TOKS
from .queries_llm9 import _HLL_NUM, HLL_M, _hll_exprs
from .queries_llm11 import _BAND
from .queries_llm12 import _HLL_EMPTY, _HLL_SHIFT
from .registry import query


# shared constants
OVERLAP_PAIRS = [("click", "purchase"), ("view", "click"), ("signup", "error")]
NS_DRAWS = 1000
NS_BUCKETS = 256  # inverse-CDF space is split into 2^32 / NS_BUCKETS cells
LDIV_L = 3  # minimum distinct sensitive values per released group
U32 = 2**32


# ---------------------------------------------------------------------------
# HLL intersection by inclusion-exclusion. The union sketch is the
# register-wise MAX of the two sides' registers (the only set op HLL
# supports natively); est_inter = est_a + est_b - est_union can go
# negative for small overlaps — the eval reports it signed, with the
# exact intersection beside it.
# ---------------------------------------------------------------------------


def _hll_inter_sql() -> str:
    reg, v, rho = _hll_exprs("duck")
    pairs_rows = " UNION ALL ".join(
        f"SELECT '{a}' AS type_a, '{b}' AS type_b" for a, b in OVERLAP_PAIRS
    )
    return f"""
WITH h AS (
  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h, user_id FROM events),
rr AS (SELECT event_type, user_id, {reg} AS reg, {v} AS v FROM h),
regs AS (
  SELECT event_type, reg, max({rho}) AS m
  FROM rr GROUP BY event_type, reg),
pairs AS ({pairs_rows}),
probes AS (
  SELECT type_a, type_b, type_a AS event_type FROM pairs
  UNION ALL
  SELECT type_a, type_b, type_b AS event_type FROM pairs),
uni AS (
  SELECT p.type_a, p.type_b, r.reg, max(r.m) AS m
  FROM probes p JOIN regs r ON r.event_type = p.event_type
  GROUP BY p.type_a, p.type_b, r.reg),
z1 AS (
  SELECT event_type,
         CAST(sum(CAST(1 AS BIGINT) << ({_HLL_SHIFT} - m)) AS BIGINT)
           + ({HLL_M} - count(*)) * {_HLL_EMPTY} AS z_int
  FROM regs GROUP BY event_type),
zu AS (
  SELECT type_a, type_b,
         CAST(sum(CAST(1 AS BIGINT) << ({_HLL_SHIFT} - m)) AS BIGINT)
           + ({HLL_M} - count(*)) * {_HLL_EMPTY} AS z_int
  FROM uni GROUP BY type_a, type_b),
exact AS (
  SELECT p.type_a, p.type_b, count(*) AS n_exact
  FROM pairs p
  JOIN (SELECT DISTINCT event_type, user_id FROM events) a
    ON a.event_type = p.type_a
  JOIN (SELECT DISTINCT event_type, user_id FROM events) b
    ON b.event_type = p.type_b AND b.user_id = a.user_id
  GROUP BY p.type_a, p.type_b)
SELECT zu.type_a, zu.type_b,
       CAST(coalesce(e.n_exact, 0) AS BIGINT) AS n_exact,
       {_HLL_NUM!r} / CAST(za.z_int AS DOUBLE)
         + {_HLL_NUM!r} / CAST(zb.z_int AS DOUBLE)
         - {_HLL_NUM!r} / CAST(zu.z_int AS DOUBLE) AS est_inter
FROM zu
JOIN z1 za ON za.event_type = zu.type_a
JOIN z1 zb ON zb.event_type = zu.type_b
LEFT JOIN exact e ON e.type_a = zu.type_a AND e.type_b = zu.type_b
ORDER BY zu.type_a, zu.type_b
"""


@query("sketch_hll_intersection_eval", _hll_inter_sql())
def sketch_hll_intersection_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user overlap between event-type pairs estimated by HLL
    inclusion-exclusion (union = register max-merge) vs the exact
    distinct intersection. 100 TB shape: the estimate path touches
    only register tables (64 rows per type) — overlap planning across
    N audiences costs N sketches + pairwise max-merges of 64-row
    frames, never a re-scan; the exact side exists to calibrate and
    is the one real shuffle."""
    reg, v, rho = _hll_exprs("spark")
    from ..operators._cache import track_persist

    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        "event_type",
        "user_id",
        F.md5(F.col("user_id").cast("string")).alias("h"),
    )
    rr = h.select("event_type", "user_id", F.expr(reg).alias("reg"), F.expr(v).alias("v"))
    regs = track_persist(
        rr.groupBy("event_type", "reg").agg(F.max(F.expr(rho)).alias("m"))
    )
    pairs = spark.createDataFrame(
        list(OVERLAP_PAIRS), "type_a string, type_b string"
    )
    # unpivot each pair into two probe rows and EQUI-join on the
    # probed type — an OR condition here compiles to a
    # BroadcastNestedLoopJoin, which the plan discipline forbids even
    # when bounded
    probes = pairs.selectExpr(
        "type_a", "type_b", "stack(2, type_a, type_b) AS event_type"
    )
    uni = (
        regs.join(F.broadcast(probes), "event_type")
        .groupBy("type_a", "type_b", "reg")
        .agg(F.max("m").alias("m"))
    )

    def z_of(df: DataFrame, keys: list[str], out: str) -> DataFrame:
        return df.groupBy(*keys).agg(
            (
                F.sum(
                    F.expr(
                        f"shiftleft(CAST(1 AS BIGINT), CAST({_HLL_SHIFT} - m AS INT))"
                    )
                )
                + (F.lit(HLL_M) - F.count("*")) * F.lit(_HLL_EMPTY)
            )
            .cast("long")
            .alias(out)
        )

    z1 = z_of(regs, ["event_type"], "z_int")
    zu = z_of(uni, ["type_a", "type_b"], "z_u")
    du = track_persist(h.select("event_type", "user_id").distinct())
    # explicit user equi-join (the shuffle key), THEN the tiny pair
    # semi-filter — never a types-only join that crosses user sets
    ua = du.withColumnsRenamed({"event_type": "type_a"})
    ub = du.withColumnsRenamed({"event_type": "type_b"})
    exact = (
        ua.join(ub, "user_id")
        .join(F.broadcast(pairs), ["type_a", "type_b"], "left_semi")
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n_exact"))
    )
    est = (
        F.lit(_HLL_NUM) / F.col("z_a").cast("double")
        + F.lit(_HLL_NUM) / F.col("z_b").cast("double")
        - F.lit(_HLL_NUM) / F.col("z_u").cast("double")
    )
    return (
        zu.join(
            F.broadcast(z1.withColumnsRenamed({"event_type": "type_a", "z_int": "z_a"})),
            "type_a",
        )
        .join(
            F.broadcast(z1.withColumnsRenamed({"event_type": "type_b", "z_int": "z_b"})),
            "type_b",
        )
        .join(exact, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.coalesce("n_exact", F.lit(0)).cast("long").alias("n_exact"),
            est.alias("est_inter"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# Unigram^0.75 negative sampling by inverse CDF: one ordered
# cumulative pass turns the weighted vocab into a partition of
# [0, 2^32); draws land in their interval through the bucketized
# range-join shape (intervals explode to the cells they overlap,
# draws hash to one cell, equi-join on cell + exact containment).
# ---------------------------------------------------------------------------

_BSZ = U32 // NS_BUCKETS


def _ns_sql() -> str:
    return f"""
WITH tk AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
vocab AS (SELECT tok, count(*) AS freq FROM tk GROUP BY tok),
wv AS (
  SELECT tok, freq,
         sqrt(CAST(freq AS DOUBLE)) * sqrt(sqrt(CAST(freq AS DOUBLE))) AS w
  FROM vocab),
cum0 AS (
  SELECT tok, freq, w,
         sum(w) OVER (ORDER BY tok
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
  FROM wv),
cum AS (
  -- total = LAST cumulative value, not sum() OVER (): an unordered
  -- whole-frame sum may fold doubles in a different order per engine;
  -- max(cw) reuses the one sequentially-folded series bit-for-bit
  SELECT tok, freq, w, cw, max(cw) OVER () AS total_w FROM cum0),
iv0 AS (
  SELECT tok, freq,
         CAST(floor(cw / total_w * {U32}) AS BIGINT) AS hi
  FROM cum),
iv AS (
  -- lo = previous row's hi, NOT an independent floor((cw - w)/...):
  -- (cw_i + w) - w != cw_i in floating point, and an ulp across an
  -- integer boundary would overlap/gap adjacent intervals. lag(hi)
  -- guarantees an exact partition of [0, 2^32).
  SELECT tok, freq,
         coalesce(lag(hi) OVER (ORDER BY tok), 0) AS lo, hi
  FROM iv0),
icells AS (
  SELECT tok, freq, lo, hi, cell
  FROM iv, unnest(generate_series(lo // {_BSZ}, (hi - 1) // {_BSZ})) AS u(cell)
  WHERE hi > lo),
draws AS (
  SELECT i AS draw_id,
         CAST(concat('0x', substr(md5(concat('ns:', CAST(i AS VARCHAR))), 1, 8))
              AS BIGINT) AS u
  FROM unnest(generate_series(0, {NS_DRAWS - 1})) AS t(i)),
placed AS (
  SELECT d.draw_id, c.tok, c.freq
  FROM draws d
  JOIN icells c ON c.cell = d.u // {_BSZ}
  WHERE d.u >= c.lo AND d.u < c.hi)
SELECT tok, CAST(max(freq) AS BIGINT) AS freq,
       CAST(count(*) AS BIGINT) AS n_draws
FROM placed
GROUP BY tok
ORDER BY n_draws DESC, tok
"""


@query("corpus_negative_sampling", _ns_sql())
def corpus_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic unigram^0.75 negative sampling (the word2vec
    noise distribution): vocab weights via sqrt-composed pow (bit
    exact, no libm), ONE ordered cumulative-sum pass builds the
    inverse-CDF partition of [0, 2^32), and md5 draws land by the
    bucketized range join — interval rows explode only to the cells
    they overlap (total fanout <= vocab + NS_BUCKETS), draws equi-join
    on their cell. 100 TB shape: the vocab CDF is a bounded artifact
    (vocab << corpus; broadcast at serving time), draws never touch
    the corpus, and nothing is quadratic."""
    from ..functions.text import tokens
    from ..operators._cache import track_persist

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
    )
    w = F.sqrt(F.col("freq").cast("double")) * F.sqrt(
        F.sqrt(F.col("freq").cast("double"))
    )
    wv = vocab.withColumn("w", w)
    w_cum = Window.orderBy("tok").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    # total = last cumulative value (max of the one sequentially
    # folded series), NOT an unordered whole-frame sum — see _ns_sql
    cum = wv.withColumn("cw", F.sum("w").over(w_cum)).withColumn(
        "total_w", F.max("cw").over(w_all)
    )
    # lo = lag(hi): exact partition of [0, 2^32) — see _ns_sql comment
    iv0 = cum.select(
        "tok",
        "freq",
        F.floor(F.col("cw") / F.col("total_w") * U32).cast("long").alias("hi"),
    )
    iv = iv0.withColumn(
        "lo", F.coalesce(F.lag("hi").over(Window.orderBy("tok")), F.lit(0))
    ).filter(F.col("hi") > F.col("lo"))
    icells = track_persist(
        iv.select(
            "tok",
            "freq",
            "lo",
            "hi",
            F.explode(
                F.sequence(
                    F.expr(f"lo DIV {_BSZ}"), F.expr(f"(hi - 1) DIV {_BSZ}")
                )
            ).alias("cell"),
        )
    )
    draws = spark.range(NS_DRAWS).select(
        F.col("id").alias("draw_id"),
        sample_hash_u32("id", "ns").alias("u"),
    )
    placed = (
        draws.withColumn("cell", F.expr(f"u DIV {_BSZ}"))
        .join(icells, "cell")
        .filter((F.col("u") >= F.col("lo")) & (F.col("u") < F.col("hi")))
    )
    return (
        placed.groupBy("tok")
        .agg(
            F.max("freq").cast("long").alias("freq"),
            F.count("*").cast("long").alias("n_draws"),
        )
        .orderBy(F.col("n_draws").desc(), "tok")
    )


# ---------------------------------------------------------------------------
# l-diversity: the leak k-anonymity misses. A QI group of size >= k
# whose SENSITIVE attribute is (near-)uniform still discloses it;
# report groups with fewer than L distinct sensitive values.
# QI here = (nation, balance band); sensitive = market segment.
# ---------------------------------------------------------------------------


def _ldiv_sql() -> str:
    cents = "CAST(round(c_acctbal * 100, 0) AS BIGINT)"
    band = _BAND.format(cents=cents, div="//")
    return f"""
SELECT CAST(c_nationkey AS INT) AS c_nationkey,
       CAST({band} AS BIGINT) AS bal_band,
       CAST(count(*) AS BIGINT) AS group_size,
       CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_distinct_sensitive
FROM customer
GROUP BY 1, 2
HAVING count(*) >= 2 AND count(DISTINCT c_mktsegment) < {LDIV_L}
ORDER BY c_nationkey, bal_band
"""


@query("privacy_l_diversity", _ldiv_sql())
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QI groups (nation, balance band) of size >= 2 whose market
    segment takes fewer than L distinct values — the homogeneity leak
    a pure k-anonymity gate (privacy_k_anonymity) cannot see
    (Machanavajjhala et al. 2006). One groupBy with a distinct-count,
    bounded output; the release gate's second report."""
    cust = load_table(spark, sf_dir, "customer")
    band = F.expr(
        _BAND.format(cents="CAST(round(c_acctbal * 100, 0) AS BIGINT)", div="DIV")
    ).cast("long")
    return (
        cust.groupBy(
            F.col("c_nationkey").cast("int").alias("c_nationkey"),
            band.alias("bal_band"),
        )
        .agg(
            F.count("*").cast("long").alias("group_size"),
            F.countDistinct("c_mktsegment").cast("long").alias("n_distinct_sensitive"),
        )
        .filter(
            (F.col("group_size") >= 2) & (F.col("n_distinct_sensitive") < LDIV_L)
        )
        .orderBy("c_nationkey", "bal_band")
    )
