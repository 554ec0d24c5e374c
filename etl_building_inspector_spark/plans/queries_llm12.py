"""Twelfth LLM-pipeline batch: sketch mergeability, layout-level scan
economics, and span-level augmentation — the "does it still work when
sharded / laid out / corrupted" evals.

- sketch_hll_merge_rollup: the HLL register table max-merged across
  monthly shards must equal the directly-built global registers — the
  mergeability identity every incremental distinct-count rollup
  relies on, made oracle-checkable data (the sketch sibling of
  incremental_agg_merge).
- sketch_histogram_quantile_eval: median estimated from a B-bin
  equi-width histogram vs the exact median, per group — the
  cheap-quantile error measurement, all integer.
- corpus_span_corruption: T5-style deterministic span masking
  (Raffel et al. 2020 §3.1.4's objective, derandomized): md5-derived
  span starts/lengths, overlaps merged, corrupted text md5-verified.
- file_skipping_effectiveness: zonemap (per-file min/max) pruning
  fraction for a predicate set under two physical layouts — the
  measurement that justifies sorting/clustering before write.

Discipline: integer domains, recomputable hashes instead of state,
deterministic tiebreaks, oracles generated from the same constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators._parallel import fan_out_scan
from ..sources.tables import load_table
from .queries_llm import _TOKS
from .queries_llm9 import _HLL_NUM, HLL_M, HLL_VBITS, _hll_exprs
from .registry import query

# z-denominator building blocks derived from the llm9 constants (a
# retune of HLL_M/HLL_VBITS there must flow through here, or the
# estimates silently desync while the shared-constant oracle still
# passes)
_HLL_SHIFT = HLL_VBITS + 1  # rho in [1, SHIFT]; weight of rho=r is 2^(SHIFT-r)
_HLL_EMPTY = 2**_HLL_SHIFT  # an absent register contributes 2^SHIFT (rho = 0)


# shared constants
HIST_BINS = 16
SPAN_START_MOD = 20  # 1-in-20 tokens starts a span
SPAN_MAX_LEN = 3
FILE_ROWS = 512  # simulated rows-per-file for the zonemap eval
# date-range predicates for the skipping eval (year windows)
SKIP_PREDS = [
    ("1993", "1993-01-01", "1994-01-01"),
    ("1995h1", "1995-01-01", "1995-07-01"),
    ("1997", "1997-01-01", "1998-01-01"),
    ("old", "1992-01-01", "1992-04-01"),
]


# ---------------------------------------------------------------------------
# HLL merge-rollup identity: build register tables per monthly shard,
# max-merge them, and prove (as data) the merged registers equal the
# registers built directly on the union — then both estimates agree
# bit-for-bit. This is WHY a 100 TB pipeline can maintain daily
# distinct-count sketches and roll them up without rescanning history.
# ---------------------------------------------------------------------------


def _hll_rollup_sql() -> str:
    reg, v, rho = _hll_exprs("duck")
    two49 = _HLL_EMPTY
    sh = _HLL_SHIFT
    return f"""
WITH h AS (
  SELECT event_type, strftime(ts, '%Y-%m') AS shard,
         md5(CAST(user_id AS VARCHAR)) AS h
  FROM events),
rr AS (SELECT event_type, shard, {reg} AS reg, {v} AS v FROM h),
shard_regs AS (
  SELECT event_type, shard, reg, max({rho}) AS m
  FROM rr GROUP BY event_type, shard, reg),
merged AS (
  SELECT event_type, reg, max(m) AS m
  FROM shard_regs GROUP BY event_type, reg),
direct AS (
  SELECT event_type, reg, max({rho}) AS m
  FROM rr GROUP BY event_type, reg),
mz AS (
  SELECT event_type,
         CAST(sum(CAST(1 AS BIGINT) << ({sh} - m)) AS BIGINT)
           + ({HLL_M} - count(*)) * {two49} AS z_int,
         count(*) AS n_regs
  FROM merged GROUP BY event_type),
dz AS (
  SELECT event_type,
         CAST(sum(CAST(1 AS BIGINT) << ({sh} - m)) AS BIGINT)
           + ({HLL_M} - count(*)) * {two49} AS z_int,
         count(*) AS n_regs
  FROM direct GROUP BY event_type),
shards AS (
  SELECT event_type, count(DISTINCT shard) AS n_shards FROM h GROUP BY event_type)
SELECT s.event_type,
       CAST(s.n_shards AS BIGINT) AS n_shards,
       CAST(mz.n_regs AS BIGINT) AS n_regs_merged,
       CAST(dz.n_regs AS BIGINT) AS n_regs_direct,
       {_HLL_NUM!r} / CAST(mz.z_int AS DOUBLE) AS est_merged,
       {_HLL_NUM!r} / CAST(dz.z_int AS DOUBLE) AS est_direct,
       CAST(mz.z_int = dz.z_int AS BIGINT) AS registers_equal
FROM shards s
JOIN mz ON mz.event_type = s.event_type
JOIN dz ON dz.event_type = s.event_type
ORDER BY s.event_type
"""


@query("sketch_hll_merge_rollup", _hll_rollup_sql())
def sketch_hll_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL mergeability as data: per-month register shards max-merged
    vs registers built directly on all events — z-denominators and
    estimates must agree exactly (registers_equal = 1 per type).
    100 TB shape: shards are what a daily incremental job persists
    (64 rows per type per day); the rollup is a bounded-key max over
    those rows, never a rescan of raw events."""
    reg, v, rho = _hll_exprs("spark")
    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        "event_type",
        F.date_format("ts", "yyyy-MM").alias("shard"),
        F.md5(F.col("user_id").cast("string")).alias("h"),
    )
    rr = h.select(
        "event_type", "shard", F.expr(reg).alias("reg"), F.expr(v).alias("v")
    )
    from ..operators._cache import track_persist

    rr = track_persist(rr)
    shard_regs = rr.groupBy("event_type", "shard", "reg").agg(
        F.max(F.expr(rho)).alias("m")
    )
    merged = shard_regs.groupBy("event_type", "reg").agg(F.max("m").alias("m"))
    direct = rr.groupBy("event_type", "reg").agg(F.max(F.expr(rho)).alias("m"))

    def z_of(regs: DataFrame) -> DataFrame:
        return regs.groupBy("event_type").agg(
            (
                F.sum(
                    F.expr(
                        f"shiftleft(CAST(1 AS BIGINT), CAST({_HLL_SHIFT} - m AS INT))"
                    )
                )
                + (F.lit(HLL_M) - F.count("*")) * F.lit(_HLL_EMPTY)
            )
            .cast("long")
            .alias("z_int"),
            F.count("*").cast("long").alias("n_regs"),
        )

    mz = z_of(merged).withColumnsRenamed(
        {"z_int": "z_merged", "n_regs": "n_regs_merged"}
    )
    dz = z_of(direct).withColumnsRenamed(
        {"z_int": "z_direct", "n_regs": "n_regs_direct"}
    )
    shards = h.groupBy("event_type").agg(
        F.countDistinct("shard").cast("long").alias("n_shards")
    )
    return (
        shards.join(mz, "event_type")
        .join(dz, "event_type")
        .select(
            "event_type",
            "n_shards",
            "n_regs_merged",
            "n_regs_direct",
            (F.lit(_HLL_NUM) / F.col("z_merged").cast("double")).alias("est_merged"),
            (F.lit(_HLL_NUM) / F.col("z_direct").cast("double")).alias("est_direct"),
            (F.col("z_merged") == F.col("z_direct"))
            .cast("long")
            .alias("registers_equal"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Histogram-quantile error eval: per order priority, estimate the
# median price from a HIST_BINS equi-width histogram (upper-edge
# convention, all integer) and report the error vs the exact lower
# median — the calibration that decides whether cheap histogram
# quantiles are good enough for a monitoring dashboard.
# ---------------------------------------------------------------------------


def _hist_quantile_sql() -> str:
    return f"""
WITH c AS (
  SELECT o_orderpriority AS grp,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders),
bounds AS (
  SELECT grp, min(cents) AS lo, max(cents) AS hi, count(*) AS n
  FROM c GROUP BY grp),
binned AS (
  SELECT c.grp, least({HIST_BINS} - 1, (c.cents - bo.lo) * {HIST_BINS} // (bo.hi - bo.lo + 1)) AS bin
  FROM c JOIN bounds bo ON bo.grp = c.grp),
hist AS (SELECT grp, bin, count(*) AS cnt FROM binned GROUP BY grp, bin),
cum AS (
  SELECT grp, bin, cnt,
         sum(cnt) OVER (PARTITION BY grp ORDER BY bin) AS cum_cnt
  FROM hist),
med_bin AS (
  SELECT grp, min(bin) AS bin
  FROM cum JOIN bounds USING (grp)
  WHERE cum_cnt >= (n + 1) // 2
  GROUP BY grp),
est AS (
  SELECT m.grp, bo.lo + (m.bin + 1) * (bo.hi - bo.lo + 1) // {HIST_BINS} AS est_cents
  FROM med_bin m JOIN bounds bo ON bo.grp = m.grp),
exact AS (
  SELECT grp, cents AS exact_cents FROM (
    SELECT grp, cents,
           row_number() OVER (PARTITION BY grp ORDER BY cents) AS rn,
           count(*) OVER (PARTITION BY grp) AS n
    FROM c) WHERE rn = (n + 1) // 2)
SELECT e.grp AS o_orderpriority,
       CAST(bo.n AS BIGINT) AS n,
       CAST(x.exact_cents AS BIGINT) AS exact_med_cents,
       CAST(e.est_cents AS BIGINT) AS est_med_cents,
       CAST(abs(e.est_cents - x.exact_cents) AS BIGINT) AS err_cents
FROM est e
JOIN exact x ON x.grp = e.grp
JOIN bounds bo ON bo.grp = e.grp
ORDER BY o_orderpriority
"""


@query("sketch_histogram_quantile_eval", _hist_quantile_sql())
def sketch_histogram_quantile_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median from a 16-bin equi-width histogram vs the exact lower
    median, per order priority — histogram-quantile error as
    oracle-checked data. 100 TB shape: the histogram is one
    map-side-combined groupBy onto |groups| x B rows (the monitoring
    path never sorts); only the EVAL's exact side pays the per-group
    sort, and it exists to calibrate the cheap path. Upper-bin-edge
    estimate convention, everything in BIGINT cents."""
    b = HIST_BINS
    orders = load_table(spark, sf_dir, "orders")
    c = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    from ..operators._cache import track_persist

    c = track_persist(c)
    bounds = c.groupBy("grp").agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count("*").alias("n"),
    )
    binned = c.join(F.broadcast(bounds), "grp").select(
        "grp",
        F.least(
            F.lit(b - 1),
            F.expr(f"(cents - lo) * {b} DIV (hi - lo + 1)"),
        ).alias("bin"),
    )
    hist = binned.groupBy("grp", "bin").agg(F.count("*").alias("cnt"))
    w_cum = Window.partitionBy("grp").orderBy("bin")
    cum = hist.withColumn("cum_cnt", F.sum("cnt").over(w_cum))
    med_bin = (
        cum.join(F.broadcast(bounds), "grp")
        .filter(F.col("cum_cnt") >= F.expr("(n + 1) DIV 2"))
        .groupBy("grp")
        .agg(F.min("bin").alias("bin"))
    )
    est = med_bin.join(F.broadcast(bounds), "grp").select(
        "grp", F.expr(f"lo + (bin + 1) * (hi - lo + 1) DIV {b}").alias("est_cents")
    )
    w_rank = Window.partitionBy("grp").orderBy("cents")
    w_n = Window.partitionBy("grp")
    exact = (
        c.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n", F.count("*").over(w_n))
        .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select("grp", F.col("cents").alias("exact_cents"))
    )
    return (
        est.join(exact, "grp")
        .join(F.broadcast(bounds.select("grp", "n")), "grp")
        .select(
            F.col("grp").alias("o_orderpriority"),
            F.col("n").cast("long").alias("n"),
            F.col("exact_cents").cast("long").alias("exact_med_cents"),
            F.col("est_cents").cast("long").alias("est_med_cents"),
            F.abs(F.col("est_cents") - F.col("exact_cents"))
            .cast("long")
            .alias("err_cents"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# T5-style span corruption, derandomized: token pos starts a span iff
# u32(md5(doc:pos)) % SPAN_START_MOD == 0, with span length
# 1 + (u32 // SPAN_START_MOD) % SPAN_MAX_LEN. A token is masked iff
# ANY of its SPAN_MAX_LEN predecessors (or itself) starts a span long
# enough to cover it — the hash is RECOMPUTABLE, so coverage is a
# closed-form OR over k in [0, SPAN_MAX_LEN), no self-join, no state.
# Sentinel count = masked-run starts (one <extra_id> per span group,
# merged overlaps and all), via one lag over the doc partition.
# ---------------------------------------------------------------------------


def _span_u32(engine: str, pos_expr: str) -> str:
    # u32 of md5('sc:' || doc_id || ':' || pos); hex->int spelled per
    # engine ('0x' string cast is DuckDB-only, conv() is Spark-only)
    if engine == "duck":
        return (
            f"CAST(concat('0x', substr(md5(concat('sc:', CAST(doc_id AS VARCHAR), "
            f"':', CAST({pos_expr} AS VARCHAR))), 1, 8)) AS BIGINT)"
        )
    return (
        f"CAST(conv(substr(md5(concat('sc:', CAST(doc_id AS STRING), "
        f"':', CAST({pos_expr} AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    )


def _span_masked(engine: str) -> str:
    div = "//" if engine == "duck" else "DIV"
    parts = []
    for k in range(SPAN_MAX_LEN):
        u = _span_u32(engine, f"pos - {k}")
        parts.append(
            f"(pos - {k} >= 1 AND ({u}) % {SPAN_START_MOD} = 0 "
            f"AND 1 + (({u}) {div} {SPAN_START_MOD}) % {SPAN_MAX_LEN} >= {k + 1})"
        )
    return "(" + " OR ".join(parts) + ")"


def _span_sql() -> str:
    masked = _span_masked("duck")
    return f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
pos AS (
  SELECT doc_id, i AS pos, toks[i] AS tok
  FROM tk, unnest(generate_series(1, len(toks))) AS u(i)),
m AS (
  SELECT doc_id, pos, tok, {masked} AS is_masked FROM pos),
runs AS (
  SELECT doc_id, pos, tok, is_masked,
         CASE WHEN is_masked AND NOT coalesce(
           lag(is_masked) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
         THEN 1 ELSE 0 END AS run_start
  FROM m),
pieces AS (
  SELECT doc_id, pos,
         CASE WHEN NOT is_masked THEN tok
              WHEN run_start = 1 THEN '<X>'
              ELSE NULL END AS piece,
         is_masked, run_start
  FROM runs)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN is_masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       CAST(sum(run_start) AS BIGINT) AS n_spans,
       CAST(1000000 * sum(CASE WHEN is_masked THEN 1 ELSE 0 END) // count(*) AS BIGINT)
         AS mask_ppm,
       md5(string_agg(piece, ' ' ORDER BY pos)) AS corrupted_md5
FROM pieces
GROUP BY doc_id
ORDER BY doc_id
"""


@query("corpus_span_corruption", _span_sql())
def corpus_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic T5 span corruption: md5-derived span starts and
    lengths, overlapping spans merged into one sentinel, corrupted
    text md5-verified per doc. 100 TB shape: coverage is a closed-form
    OR over SPAN_MAX_LEN recomputable hashes (no state, no self-join);
    the only per-doc ordering work is the run-start lag and the
    ordered join of pieces, both inside the doc partition."""
    from ..functions.text import tokens

    masked = _span_masked("spark")
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"))
    pos = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    m = pos.withColumn("is_masked", F.expr(masked))
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = m.withColumn(
        "run_start",
        F.when(
            F.col("is_masked")
            & ~F.coalesce(F.lag("is_masked").over(w), F.lit(False)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    pieces = runs.withColumn(
        "piece",
        F.when(~F.col("is_masked"), F.col("tok"))
        .when(F.col("run_start") == 1, F.lit("<X>"))
        .otherwise(F.lit(None).cast("string")),
    )
    # ordered concat inside groupBy: sort (pos, piece) structs, then
    # project pieces — no second window pass
    return (
        pieces.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.col("is_masked").cast("int")).cast("long").alias("n_masked"),
            F.sum("run_start").cast("long").alias("n_spans"),
            F.expr(
                "1000000 * sum(CAST(is_masked AS INT)) DIV count(*)"
            )
            .cast("long")
            .alias("mask_ppm"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("piece").isNotNull(),
                                    F.struct("pos", "piece"),
                                )
                            )
                        ),
                        lambda s: s["piece"],
                    ),
                    " ",
                )
            ).alias("corrupted_md5"),
        )
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "n_tokens",
            "n_masked",
            "n_spans",
            "mask_ppm",
            "corrupted_md5",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Zonemap file-skipping effectiveness: simulate FILE_ROWS-row files
# under two layouts (arrival order = orderkey; clustered = orderdate),
# compute per-file min/max orderdate, and for each predicate report
# how many files a zonemap prunes. The measurement that justifies
# clustering before write — on real tables this reads parquet
# footers; here the layouts are simulated so the number is
# oracle-exact.
# ---------------------------------------------------------------------------


def _skip_sql() -> str:
    preds = " UNION ALL ".join(
        f"SELECT '{pid}' AS pred_id, TIMESTAMP '{lo} 00:00:00' AS lo, "
        f"TIMESTAMP '{hi} 00:00:00' AS hi"
        for pid, lo, hi in SKIP_PREDS
    )
    return f"""
WITH layouts AS (
  SELECT 'arrival' AS layout,
         (row_number() OVER (ORDER BY o_orderkey) - 1) // {FILE_ROWS} AS file_id,
         o_orderdate
  FROM orders
  UNION ALL
  SELECT 'clustered' AS layout,
         (row_number() OVER (ORDER BY o_orderdate, o_orderkey) - 1) // {FILE_ROWS} AS file_id,
         o_orderdate
  FROM orders),
zonemaps AS (
  SELECT layout, file_id, min(o_orderdate) AS dmin, max(o_orderdate) AS dmax,
         count(*) AS n_rows
  FROM layouts GROUP BY layout, file_id),
preds AS ({preds})
SELECT z.layout, p.pred_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN z.dmax < p.lo OR z.dmin >= p.hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pruned,
       CAST(sum(CASE WHEN z.dmax < p.lo OR z.dmin >= p.hi THEN 0 ELSE z.n_rows END) AS BIGINT)
         AS n_rows_scanned
FROM zonemaps z CROSS JOIN preds p
GROUP BY z.layout, p.pred_id
ORDER BY z.layout, p.pred_id
"""


@query("file_skipping_effectiveness", _skip_sql())
def file_skipping_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-layout zonemap pruning: files of FILE_ROWS rows under
    arrival vs date-clustered order, per-file [min,max] orderdate, and
    the pruned-file / scanned-row counts for four date predicates.
    The clustered layout should prune nearly everything outside the
    window; arrival order prunes almost nothing — the quantified case
    for clustering before write (same family as zorder_bucket_stats).
    NOTE the global row_number here SIMULATES the two layouts for an
    oracle-exact eval; a real table derives file_id from parquet
    metadata (provenance_file_counts does), paying no sort."""
    orders = load_table(spark, sf_dir, "orders")
    rows = FILE_ROWS

    def layout(name: str, *order_cols: str) -> DataFrame:
        w = Window.orderBy(*order_cols)
        return orders.select(
            F.lit(name).alias("layout"),
            ((F.row_number().over(w) - 1) / rows)
            .cast("long")
            .alias("file_id"),
            "o_orderdate",
        )

    layouts = layout("arrival", "o_orderkey").unionByName(
        layout("clustered", "o_orderdate", "o_orderkey")
    )
    zonemaps = layouts.groupBy("layout", "file_id").agg(
        F.min("o_orderdate").alias("dmin"),
        F.max("o_orderdate").alias("dmax"),
        F.count("*").alias("n_rows"),
    )
    preds = spark.createDataFrame(
        [(pid, f"{lo} 00:00:00", f"{hi} 00:00:00") for pid, lo, hi in SKIP_PREDS],
        "pred_id string, lo string, hi string",
    ).select(
        "pred_id",
        F.col("lo").cast("timestamp").alias("lo"),
        F.col("hi").cast("timestamp").alias("hi"),
    )
    pruned = F.when(
        (F.col("dmax") < F.col("lo")) | (F.col("dmin") >= F.col("hi")), 1
    ).otherwise(0)
    return (
        zonemaps.crossJoin(F.broadcast(preds))
        .groupBy("layout", "pred_id")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum(pruned).cast("long").alias("n_pruned"),
            F.sum(
                F.when(pruned == 1, F.lit(0)).otherwise(F.col("n_rows"))
            )
            .cast("long")
            .alias("n_rows_scanned"),
        )
        .orderBy("layout", "pred_id")
    )
