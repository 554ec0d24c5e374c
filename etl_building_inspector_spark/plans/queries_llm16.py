"""Sixteenth LLM-pipeline batch: operational honesty reports — the
numbers an engine owner reads before trusting a capped/robust
pipeline at 100 TB.

- dedup_lsh_cap_loss_report: the bucket cap bounds the LSH self-join
  (the scale design), but every over-cap bucket silently forfeits
  w*(w-1)/2 candidate pairs. This query aggregates bucket widths from
  the EXACT banding construction (shared helper + shared CTE) and
  reports kept/lost candidate pairs per band — the no-silent-caps
  rule applied to the cap itself.
- outlier_winsorized_stats: per-group winsorized mean (clamp into
  [P5, P95] by the exact lower-percentile convention) next to the raw
  mean — the robust-stats sibling of the IQR/MAD outlier queries,
  everything in integer cents except the two final divisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .queries_llm import (
    MINHASH_BUCKET_CAP,
    MINHASH_K,
    SHINGLE_N,
    _docs_with_dups,
    _lsh_buckets_cte,
)
from .registry import query


WINSOR_LO_PPM = 50_000  # P5
WINSOR_HI_PPM = 950_000  # P95


# ---------------------------------------------------------------------------
# LSH cap-loss accounting. Candidate-pair counts are pure arithmetic
# on bucket widths (w*(w-1)/2), so the report costs ONE aggregation
# over the bucket table — no self-join, no pairs materialized.
# ---------------------------------------------------------------------------


def _cap_loss_sql() -> str:
    return f"""
WITH {_lsh_buckets_cte(MINHASH_K, 4, SHINGLE_N)},
widths AS (
  SELECT band, key, count(*) AS w FROM buckets GROUP BY band, key)
SELECT CAST(band AS BIGINT) AS band,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(CASE WHEN w > {MINHASH_BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap,
       CAST(max(w) AS BIGINT) AS max_width,
       CAST(sum(CASE WHEN w <= {MINHASH_BUCKET_CAP} THEN w * (w - 1) // 2 ELSE 0 END) AS BIGINT)
         AS pairs_kept,
       CAST(sum(CASE WHEN w > {MINHASH_BUCKET_CAP} THEN w * (w - 1) // 2 ELSE 0 END) AS BIGINT)
         AS pairs_lost
FROM widths
GROUP BY band
ORDER BY band
"""


@query("dedup_lsh_cap_loss_report", _cap_loss_sql())
def dedup_lsh_cap_loss_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the LSH bucket cap costs: per band, bucket count, over-cap
    buckets, max width, and candidate pairs kept vs LOST (w*(w-1)/2
    arithmetic on widths — no pairs are ever materialized, so the
    report is one bounded aggregation over the same bucket table the
    pairs query self-joins). pairs_lost > 0 is the signal to rethink
    the cap or route the hot buckets to exact_dedup; the no-silent-caps
    rule, applied to the cap itself."""
    from ..operators.dedup import minhash_lsh_buckets

    docs = _docs_with_dups(spark, sf_dir)
    buckets = minhash_lsh_buckets(
        docs, "text", "doc_id", k=MINHASH_K, bands=4, shingle_n=SHINGLE_N
    )
    widths = buckets.groupBy("band", "key").agg(F.count("*").alias("w"))
    cap = MINHASH_BUCKET_CAP
    pairs = F.expr("w * (w - 1) DIV 2")
    return (
        widths.groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum(F.when(F.col("w") > cap, 1).otherwise(0))
            .cast("long")
            .alias("n_over_cap"),
            F.max("w").cast("long").alias("max_width"),
            F.sum(F.when(F.col("w") <= cap, pairs).otherwise(F.lit(0)))
            .cast("long")
            .alias("pairs_kept"),
            F.sum(F.when(F.col("w") > cap, pairs).otherwise(F.lit(0)))
            .cast("long")
            .alias("pairs_lost"),
        )
        .select(
            F.col("band").cast("long").alias("band"),
            "n_buckets",
            "n_over_cap",
            "max_width",
            "pairs_kept",
            "pairs_lost",
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# Winsorized robust stats: exact lower-percentile bounds per group
# (value at rn = max(1, ceil(p * n)) under a deterministic sort),
# values clamped into [P5, P95], integer sums, one double division.
# ---------------------------------------------------------------------------


def _winsor_sql() -> str:
    return f"""
WITH c AS (
  SELECT c_nationkey AS grp,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
  FROM customer),
ranked AS (
  SELECT grp, cents,
         row_number() OVER (PARTITION BY grp ORDER BY cents) AS rn,
         count(*) OVER (PARTITION BY grp) AS n
  FROM c),
bounds AS (
  SELECT grp,
         max(CASE WHEN rn = greatest(1, (n * {WINSOR_LO_PPM} + 999999) // 1000000)
                  THEN cents END) AS p_lo,
         max(CASE WHEN rn = greatest(1, (n * {WINSOR_HI_PPM} + 999999) // 1000000)
                  THEN cents END) AS p_hi,
         max(n) AS n
  FROM ranked GROUP BY grp),
clamped AS (
  SELECT c.grp, b.n, b.p_lo, b.p_hi,
         CASE WHEN c.cents < b.p_lo THEN 1 ELSE 0 END AS clip_lo,
         CASE WHEN c.cents > b.p_hi THEN 1 ELSE 0 END AS clip_hi,
         least(greatest(c.cents, b.p_lo), b.p_hi) AS wcents,
         c.cents
  FROM c JOIN bounds b ON b.grp = c.grp)
SELECT CAST(grp AS INT) AS c_nationkey,
       CAST(max(n) AS BIGINT) AS n,
       CAST(max(p_lo) AS BIGINT) AS p5_cents,
       CAST(max(p_hi) AS BIGINT) AS p95_cents,
       CAST(sum(clip_lo) AS BIGINT) AS n_clipped_low,
       CAST(sum(clip_hi) AS BIGINT) AS n_clipped_high,
       CAST(sum(wcents) AS BIGINT) AS winsor_sum_cents,
       CAST(sum(wcents) AS DOUBLE) / max(n) AS winsor_mean_cents,
       CAST(sum(cents) AS DOUBLE) / max(n) AS raw_mean_cents
FROM clamped
GROUP BY grp
ORDER BY c_nationkey
"""


@query("outlier_winsorized_stats", _winsor_sql())
def outlier_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per nation: exact P5/P95 by the lower-rank
    convention (rn = ceil(p*n), deterministic sort on cents), values
    clamped, integer sums, winsorized vs raw mean side by side — the
    robust aggregate that survives balance outliers, next of kin to
    outlier_iqr_by_group / outlier_mad_by_group. One window pass per
    group + one join back; the same shape at any scale."""
    cust = load_table(spark, sf_dir, "customer")
    c = cust.select(
        F.col("c_nationkey").alias("grp"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    from ..operators._cache import track_persist

    c = track_persist(c)
    w_rank = Window.partitionBy("grp").orderBy("cents")
    w_n = Window.partitionBy("grp")
    ranked = c.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "n", F.count("*").over(w_n)
    )
    lo_rn = F.greatest(
        F.lit(1), F.expr(f"(n * {WINSOR_LO_PPM} + 999999) DIV 1000000")
    )
    hi_rn = F.greatest(
        F.lit(1), F.expr(f"(n * {WINSOR_HI_PPM} + 999999) DIV 1000000")
    )
    bounds = ranked.groupBy("grp").agg(
        F.max(F.when(F.col("rn") == lo_rn, F.col("cents"))).alias("p_lo"),
        F.max(F.when(F.col("rn") == hi_rn, F.col("cents"))).alias("p_hi"),
        F.max("n").alias("n"),
    )
    clamped = c.join(F.broadcast(bounds), "grp").select(
        "grp",
        "n",
        "p_lo",
        "p_hi",
        F.when(F.col("cents") < F.col("p_lo"), 1).otherwise(0).alias("clip_lo"),
        F.when(F.col("cents") > F.col("p_hi"), 1).otherwise(0).alias("clip_hi"),
        F.least(F.greatest("cents", "p_lo"), F.col("p_hi")).alias("wcents"),
        "cents",
    )
    return (
        clamped.groupBy("grp")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.max("p_lo").cast("long").alias("p5_cents"),
            F.max("p_hi").cast("long").alias("p95_cents"),
            F.sum("clip_lo").cast("long").alias("n_clipped_low"),
            F.sum("clip_hi").cast("long").alias("n_clipped_high"),
            F.sum("wcents").cast("long").alias("winsor_sum_cents"),
            (F.sum("wcents").cast("double") / F.max("n")).alias("winsor_mean_cents"),
            (F.sum("cents").cast("double") / F.max("n")).alias("raw_mean_cents"),
        )
        .select(
            F.col("grp").cast("int").alias("c_nationkey"),
            "n",
            "p5_cents",
            "p95_cents",
            "n_clipped_low",
            "n_clipped_high",
            "winsor_sum_cents",
            "winsor_mean_cents",
            "raw_mean_cents",
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# Growth accounting: per DAY, users classified new / retained /
# resurrected, plus churned-from-previous-day — the canonical
# lifecycle matrix at the granularity the one-month fixture supports.
# States derive from first-ever day and the previous active day via
# per-user windows; counts per day are bounded-key aggregates.
# ---------------------------------------------------------------------------


def _lifecycle_sql() -> str:
    return """
WITH active AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
hist AS (
  SELECT user_id, d,
         min(d) OVER (PARTITION BY user_id) AS first_d,
         lag(d) OVER (PARTITION BY user_id ORDER BY d) AS prev_d
  FROM active),
states AS (
  SELECT d,
         CASE WHEN d = first_d THEN 'new'
              WHEN prev_d = d - INTERVAL 1 DAY THEN 'retained'
              ELSE 'resurrected' END AS state
  FROM hist),
counts AS (
  SELECT d, state, count(*) AS n FROM states GROUP BY d, state),
churn AS (
  SELECT h.d + INTERVAL 1 DAY AS d, 'churned' AS state, count(*) AS n
  FROM hist h
  WHERE NOT EXISTS (
    SELECT 1 FROM active a
    WHERE a.user_id = h.user_id AND a.d = h.d + INTERVAL 1 DAY)
    AND h.d < (SELECT max(d) FROM active)
  GROUP BY 1, 2)
SELECT CAST(d AS DATE) AS day, state, CAST(n AS BIGINT) AS n_users
FROM (SELECT * FROM counts UNION ALL SELECT * FROM churn)
ORDER BY day, state
"""


@query("events_user_lifecycle_states", _lifecycle_sql())
def events_user_lifecycle_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting: new (first-ever day), retained
    (also active the previous day), resurrected (active before,
    skipped >= 1 day), churned (active on d, absent on d+1; charged
    to d+1; the final day has no verdict yet). Distinct (user, day)
    first — every window runs over the SMALL activity table. Bounded
    output: days x 4 states. Daily granularity because the fixture
    spans one month; the month/week variant is the same plan with a
    different bucket expression."""
    from ..operators._cache import track_persist

    ev = load_table(spark, sf_dir, "events")
    active = track_persist(
        ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    )
    w_first = Window.partitionBy("user_id")
    w_lag = Window.partitionBy("user_id").orderBy("d")
    hist = track_persist(
        active.withColumn("first_d", F.min("d").over(w_first)).withColumn(
            "prev_d", F.lag("d").over(w_lag)
        )
    )
    states = hist.select(
        "d",
        F.when(F.col("d") == F.col("first_d"), "new")
        .when(F.col("prev_d") == F.date_add("d", -1), "retained")
        .otherwise("resurrected")
        .alias("state"),
    )
    counts = states.groupBy("d", "state").agg(F.count("*").alias("n"))
    max_d = active.agg(F.max("d").alias("max_d"))
    nxt = hist.select("user_id", "d", F.date_add("d", 1).alias("nd"))
    churn = (
        nxt.join(
            active.withColumnsRenamed({"d": "nd"}),
            ["user_id", "nd"],
            "left_anti",
        )
        .crossJoin(F.broadcast(max_d))
        .filter(F.col("d") < F.col("max_d"))
        .groupBy(F.col("nd").alias("d"))
        .agg(F.count("*").alias("n"))
        .select("d", F.lit("churned").alias("state"), "n")
    )
    return (
        counts.unionByName(churn)
        .select(
            F.col("d").alias("day"), "state", F.col("n").cast("long").alias("n_users")
        )
        .orderBy("day", "state")
    )


# ---------------------------------------------------------------------------
# Composed privacy release gate: one report per QI cell (nation x
# balance band) carrying group size, sensitive diversity, both rule
# verdicts, and the release decision — what privacy_k_anonymity and
# privacy_l_diversity feed in practice.
# ---------------------------------------------------------------------------

GATE_K = 4
GATE_L = 3


def _release_gate_sql() -> str:
    from .queries_llm11 import _BAND

    cents = "CAST(round(c_acctbal * 100, 0) AS BIGINT)"
    band = _BAND.format(cents=cents, div="//")
    return f"""
SELECT CAST(c_nationkey AS INT) AS c_nationkey,
       CAST({band} AS BIGINT) AS bal_band,
       CAST(count(*) AS BIGINT) AS group_size,
       CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_distinct_sensitive,
       CAST(count(*) >= {GATE_K} AS BIGINT) AS k_ok,
       CAST(count(DISTINCT c_mktsegment) >= {GATE_L} AS BIGINT) AS l_ok,
       CAST(count(*) >= {GATE_K} AND count(DISTINCT c_mktsegment) >= {GATE_L} AS BIGINT)
         AS released
FROM customer
GROUP BY 1, 2
ORDER BY c_nationkey, bal_band
"""


@query("privacy_release_gate", _release_gate_sql())
def privacy_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed release decision per QI cell: k-anonymity
    (size >= K) AND l-diversity (sensitive diversity >= L) in one
    bounded groupBy — the report a data-release pipeline actually
    consumes, with both sub-verdicts visible so a failed cell says
    WHY. Same engine shape as the two audits it composes."""
    from .queries_llm11 import _BAND

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
        .select(
            "c_nationkey",
            "bal_band",
            "group_size",
            "n_distinct_sensitive",
            (F.col("group_size") >= GATE_K).cast("long").alias("k_ok"),
            (F.col("n_distinct_sensitive") >= GATE_L).cast("long").alias("l_ok"),
            (
                (F.col("group_size") >= GATE_K)
                & (F.col("n_distinct_sensitive") >= GATE_L)
            )
            .cast("long")
            .alias("released"),
        )
        .orderBy("c_nationkey", "bal_band")
    )
