"""Ninth analytics-surface batch: lag-1 autocorrelation by sufficient
statistics, min/max-preserving downsampling, rank-based embedding-norm
outliers, t-closeness (the third leg of the k-anonymity /
l-diversity / t-closeness privacy triad), and sessionization timeout
sensitivity.

Oracle discipline per queries_core.py: exact integer sufficient
statistics with the division left to the consumer, cross-multiplied
comparisons, row_number with total tiebreaks, timestamps compared at
full microsecond precision (epoch_micros <-> epoch_us, the
events_sessionize convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.timeutil import epoch_micros
from ..sources.tables import load_table
from .registry import query


NORM_OUTLIER_PCT = 1  # top 1% by norm per label
TCLOSENESS_T_PPM = 200_000  # t = 0.2
SESSION_TIMEOUTS_S = (600, 1800, 3600)


# ---------------------------------------------------------------------------
# Lag-1 autocorrelation per event_type over DAILY totals, as exact
# integer sufficient statistics. Daily totals are sums of per-row
# integer units (rounded BEFORE summing -- a float sum's result
# depends on partition merge order, an integer sum's does not), so
# (n, Sx, Sy, Sxy, Sxx, Syy) are exact and the consumer computes
# corr = num / sqrt(den_x * den_y) however it likes. Magnitudes:
# daily unit totals <= ~2e6, 30 days -> n*Sxy <= ~4e15, inside int64.
# ---------------------------------------------------------------------------

_ACF_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         sum(CAST(round(value, 0) AS BIGINT)) AS units
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT event_type,
         lag(units) OVER (PARTITION BY event_type ORDER BY day) AS x,
         units AS y
  FROM daily
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT) AS corr_num,
       CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS corr_den_x,
       CAST(count(*) * sum(y * y) - sum(y) * sum(y) AS BIGINT) AS corr_den_y
FROM pairs WHERE x IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


@query("timeseries_acf_lag1", _ACF_SQL)
def timeseries_acf_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation sufficient statistics per event_type over
    daily totals. Per-row values are rounded to integer units FIRST
    (float sums are partition-order-dependent; integer sums are not),
    the daily rollup is one map-side-combinable aggregation, the lag
    runs over ~30 rows per series, and the final stats shrink to one
    row per type. corr = num / sqrt(den_x*den_y) is the consumer's one
    division -- same shape as regression_slope_by_nation."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.round("value", 0).cast("long")).alias("units"))
    w = Window.partitionBy("event_type").orderBy("day")
    pairs = daily.select(
        "event_type",
        F.lag("units").over(w).alias("x"),
        F.col("units").alias("y"),
    ).filter(F.col("x").isNotNull())
    n = F.count("*")
    return (
        pairs.groupBy("event_type")
        .agg(
            n.alias("n_pairs"),
            (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
            .cast("long")
            .alias("corr_num"),
            (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x"))
            .cast("long")
            .alias("corr_den_x"),
            (n * F.sum(F.col("y") * F.col("y")) - F.sum("y") * F.sum("y"))
            .cast("long")
            .alias("corr_den_y"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Min/max-preserving downsample: per (event_type, day) keep exactly
# the extreme rows -- the downsampling that never hides a spike.
# One aggregation with struct-ordered min/max (no window, no sort).
# ---------------------------------------------------------------------------

_DOWNSAMPLE_SQL = """
WITH e AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(round(value * 100, 0) AS BIGINT) * 1000000000000
           + event_id AS ckey
  FROM events
), ext AS (
  SELECT event_type, day, min(ckey) AS min_key, max(ckey) AS max_key
  FROM e GROUP BY 1, 2
)
SELECT event_type, day, 'min' AS kind,
       CAST(min_key % 1000000000000 AS BIGINT) AS event_id,
       CAST(min_key // 1000000000000 AS BIGINT) AS cents FROM ext
UNION ALL
SELECT event_type, day, 'max' AS kind,
       CAST(max_key % 1000000000000 AS BIGINT) AS event_id,
       CAST(max_key // 1000000000000 AS BIGINT) AS cents FROM ext
"""


@query("timeseries_downsample_minmax", _DOWNSAMPLE_SQL)
def timeseries_downsample_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample each (event_type, day) bucket to exactly its min and
    max rows -- extremes survive, which is the property plotting and
    anomaly triage need. ONE aggregation over a composite integer
    order key, cents*1e12 + event_id (event_id < 1e12 and the encoded
    key < 2^63 by orders of magnitude at every fixture SF; cents must
    also be NON-NEGATIVE -- fixture min is 0.01 -- because the %/DIV
    decode assumes a non-negative key: with negative cents DuckDB's
    floor-based // and Spark's truncating DIV disagree and event_id
    would decode negative; a signed-value fixture would need the key
    offset by a fixture-max constant, ADVICE r5), so
    min/max ARE the lexicographic extremes -- tiebreak: the smaller
    event_id among equal-cents rows wins the min slot, the LARGER
    wins the max slot -- and both engines compare one BIGINT: no
    struct aggregation (DuckDB's min_by has no composite-key
    overload), no window function, no per-bucket sort; a single
    map-side-combinable shuffle regardless of rows per bucket."""
    ev = load_table(spark, sf_dir, "events")
    key = F.round(F.col("value") * 100, 0).cast("long") * F.lit(
        1_000_000_000_000
    ) + F.col("event_id")
    e = ev.select(
        "event_type", F.to_date("ts").alias("day"), key.alias("ckey")
    )
    ext = e.groupBy("event_type", "day").agg(
        F.min("ckey").alias("min_key"), F.max("ckey").alias("max_key")
    )
    mn = ext.select(
        "event_type",
        "day",
        F.lit("min").alias("kind"),
        F.expr("min_key % 1000000000000").alias("event_id"),
        F.expr("min_key DIV 1000000000000").alias("cents"),
    )
    mx = ext.select(
        "event_type",
        "day",
        F.lit("max").alias("kind"),
        F.expr("max_key % 1000000000000").alias("event_id"),
        F.expr("max_key DIV 1000000000000").alias("cents"),
    )
    return mn.unionByName(mx)


# ---------------------------------------------------------------------------
# Embedding-norm outliers, rank-based: top ceil(1%) per label by
# (norm2 DESC, vec_id). The norm is a sequential in-array fold
# (deterministic IEEE order on both engines); the cross-row part is
# pure ranking, so no float is ever summed across rows.
# ---------------------------------------------------------------------------

_NORM2_SQL = (
    "list_reduce([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) "
    "for i in generate_series(1, len(embedding))], (x, y) -> x + y)"
)

_NORM_OUTLIER_SQL = f"""
WITH n AS (
  SELECT label, vec_id, {_NORM2_SQL} AS norm2 FROM embeddings
), ranked AS (
  SELECT label, vec_id, norm2,
         row_number() OVER (PARTITION BY label ORDER BY norm2 DESC, vec_id)
           AS rank,
         count(*) OVER (PARTITION BY label) AS n_label
  FROM n
)
SELECT CAST(label AS BIGINT) AS label, CAST(vec_id AS BIGINT) AS vec_id,
       CAST(rank AS BIGINT) AS rank, norm2
FROM ranked
WHERE rank * 100 <= n_label * {NORM_OUTLIER_PCT} + 99
ORDER BY label, rank
"""


@query("emb_norm_percentile_outliers", _NORM_OUTLIER_SQL)
def emb_norm_percentile_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top ceil(1%) of vectors per label by squared L2 norm --
    degenerate/corrupted embeddings (all-large or denormal activations)
    show up as norm outliers before they poison a cosine index. The
    norm is a sequential fold over the array (same IEEE order both
    engines, the _DOT_SQL convention), ranking is rank*100 <=
    n*pct+99, i.e. rank <= ceil(n*pct/100) in integers. One window
    shuffle on label."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm2 = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    n = emb.select("label", "vec_id", norm2.alias("norm2"))
    w = Window.partitionBy("label").orderBy(F.col("norm2").desc(), "vec_id")
    ranked = n.select(
        "label",
        "vec_id",
        "norm2",
        F.row_number().over(w).alias("rank"),
        F.count("*").over(Window.partitionBy("label")).alias("n_label"),
    )
    return (
        ranked.filter(
            F.col("rank") * 100 <= F.col("n_label") * NORM_OUTLIER_PCT + 99
        )
        .select(
            F.col("label").cast("long").alias("label"),
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("rank").cast("long").alias("rank"),
            "norm2",
        )
        .orderBy("label", "rank")
    )


# ---------------------------------------------------------------------------
# t-closeness: total variation distance between each quasi-identifier
# group's sensitive-attribute distribution and the global one, in
# exact integer ppm. Completes the privacy triad next to
# privacy_k_anonymity and privacy_l_diversity.
# ---------------------------------------------------------------------------

_TCLOSENESS_SQL = f"""
WITH gc AS (
  SELECT c_nationkey AS nationkey, c_mktsegment AS seg, count(*) AS cnt_gc
  FROM customer GROUP BY 1, 2
), g AS (SELECT nationkey, sum(cnt_gc) AS n_g FROM gc GROUP BY 1),
s AS (SELECT seg, sum(cnt_gc) AS cnt_s FROM gc GROUP BY 1),
tot AS (SELECT sum(cnt_gc) AS n FROM gc),
grid AS (
  SELECT g.nationkey, g.n_g, s.seg, s.cnt_s, tot.n,
         coalesce(gc.cnt_gc, 0) AS cnt_gc
  FROM g CROSS JOIN s CROSS JOIN tot
  LEFT JOIN gc ON gc.nationkey = g.nationkey AND gc.seg = s.seg
)
SELECT CAST(nationkey AS BIGINT) AS nationkey,
       CAST(any_value(n_g) AS BIGINT) AS n_group,
       CAST(sum(abs(cnt_gc * n - cnt_s * n_g)) * 1000000
              // (2 * any_value(n_g) * any_value(n)) AS BIGINT) AS tvd_ppm,
       CAST(sum(abs(cnt_gc * n - cnt_s * n_g)) * 1000000
              // (2 * any_value(n_g) * any_value(n))
            > {TCLOSENESS_T_PPM} AS BOOLEAN) AS violates_t
FROM grid GROUP BY nationkey ORDER BY nationkey
"""


@query("privacy_t_closeness", _TCLOSENESS_SQL)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness per quasi-identifier group (nation): total
    variation distance between the group's market-segment distribution
    and the global one, as exact integer ppm -- TVD = sum|cnt_gc*n -
    cnt_s*n_g| / (2*n_g*n), cross-multiplied to a common denominator
    so no fraction is ever materialized. Groups missing a segment
    still contribute |0 - cnt_s*n_g| via the (group x segment) grid --
    a crossJoin of two AGGREGATED tiny frames (25 x 5), never of base
    tables. Completes the k-anonymity / l-diversity / t-closeness
    triad."""
    cust = load_table(spark, sf_dir, "customer")
    gc = cust.groupBy(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("seg"),
    ).agg(F.count("*").alias("cnt_gc"))
    from ..operators._cache import track_persist

    gc = track_persist(gc)
    g = gc.groupBy("nationkey").agg(F.sum("cnt_gc").alias("n_g"))
    s = gc.groupBy("seg").agg(F.sum("cnt_gc").alias("cnt_s"))
    tot = gc.agg(F.sum("cnt_gc").alias("n"))
    grid = (
        g.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(tot))
        .join(gc, ["nationkey", "seg"], "left")
        .withColumn("cnt_gc", F.coalesce("cnt_gc", F.lit(0)))
    )
    tvd_ppm = F.expr(
        "CAST(sum(abs(cnt_gc * n - cnt_s * n_g)) * 1000000 "
        "DIV (2 * any_value(n_g) * any_value(n)) AS BIGINT)"
    )
    return (
        grid.groupBy("nationkey")
        .agg(
            F.any_value("n_g").cast("long").alias("n_group"),
            tvd_ppm.alias("tvd_ppm"),
        )
        .select(
            F.col("nationkey").cast("long").alias("nationkey"),
            "n_group",
            "tvd_ppm",
            (F.col("tvd_ppm") > TCLOSENESS_T_PPM).alias("violates_t"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# Sessionization timeout sensitivity: session counts at three timeout
# choices from ONE pass over the gap column (a session count is just
# n_users + count(gaps exceeding the timeout)).
# ---------------------------------------------------------------------------


def _gap_sensitivity_sql() -> str:
    cases = ",\n         ".join(
        f"sum(CASE WHEN gap_us > {t * 1_000_000} THEN 1 ELSE 0 END) AS b{t}"
        for t in SESSION_TIMEOUTS_S
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({t} AS BIGINT) AS timeout_s, "
        f"CAST(n_users + b{t} AS BIGINT) AS n_sessions, "
        f"CAST(n_events AS BIGINT) AS n_events FROM agg"
        for t in SESSION_TIMEOUTS_S
    )
    return f"""
WITH gaps AS (
  SELECT user_id,
         epoch_us(CAST(ts AS TIMESTAMP))
           - epoch_us(CAST(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP))
           AS gap_us
  FROM events
), agg AS (
  SELECT count(*) AS n_events, count(DISTINCT user_id) AS n_users,
         {cases}
  FROM gaps
)
{rows}
ORDER BY timeout_s
"""


@query("sessionization_gap_sensitivity", _gap_sensitivity_sql())
def sessionization_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session counts at 10/30/60-minute timeouts from ONE pass: a
    gap-sessionization's session count is n_users + (gaps > timeout),
    so all three timeouts are conditional sums over the same lag
    column -- no re-sessionization per candidate, one window + one
    aggregate, then a 3-row unpivot. The decision data for choosing
    events_sessionize's timeout instead of inheriting 30min folklore.
    Gap arithmetic at full microsecond precision (epoch_micros <->
    epoch_us, the events_sessionize convention)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (epoch_micros(F.col("ts")) - epoch_micros(F.lag("ts").over(w))).alias(
            "gap_us"
        ),
    )
    aggs = [
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    ] + [
        F.sum(
            F.when(F.col("gap_us") > t * 1_000_000, 1).otherwise(0)
        ).alias(f"b{t}")
        for t in SESSION_TIMEOUTS_S
    ]
    agg = gaps.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({t} AS BIGINT), CAST(n_users + b{t} AS BIGINT)"
        for t in SESSION_TIMEOUTS_S
    )
    return agg.selectExpr(
        f"stack({len(SESSION_TIMEOUTS_S)}, {stack_args}) "
        "AS (timeout_s, n_sessions)",
        "CAST(n_events AS BIGINT) AS n_events",
    ).orderBy("timeout_s")
