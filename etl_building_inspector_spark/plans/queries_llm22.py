"""Twenty-second LLM-pipeline batch: curriculum phases, winnow-window
sensitivity, retrieval-confidence margins, exact embedding dedup,
KMV mergeability proof, truncation-loss curve, per-source token TVD,
partition-size planning, word-length histogram, hapax ratios,
length percentiles by language, and radius-search sensitivity.

Oracle discipline per queries_core.py: integer counts/ppm via DIV,
cross-multiplied distances, per-row deterministic cosines (shared
sequential fold), exact percentiles at ceil(p*n).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens, winnow_fingerprints
from ..operators._parallel import fan_out_scan
from ..sources.tables import load_table
from .queries_llm import _TOKS
from .queries_llm18 import _RANGE_DOT, _RANGE_NC, _RANGE_NQ
from .registry import query


WINNOW_SENS_W = (4, 8, 16)
TRUNC_LENGTHS = (32, 64, 128)
MARGIN_QUERIES = 10
RADIUS_LADDER_PPK = (200, 250, 300)  # cosine thresholds in parts-per-1000
PLAN_TARGET_BYTES = 134_217_728  # 128 MiB


# ---------------------------------------------------------------------------
# Curriculum phases: per-source quality terciles (mean chars per doc,
# total tiebreak), then phase weights 1 / rank / rank^2 normalized to
# ppm -- the data-curriculum schedule (diverse early, high-quality
# late) as one deterministic integer table.
# ---------------------------------------------------------------------------

_CURRICULUM_SQL = """
WITH q AS (
  SELECT source, sum(length(text)) // count(*) AS mean_chars
  FROM documents GROUP BY source
), ranked AS (
  SELECT source, mean_chars,
         ntile(3) OVER (ORDER BY mean_chars, source) AS tercile
  FROM q
), phases AS (
  SELECT r.source, r.tercile, p.phase,
         CASE p.phase WHEN 1 THEN 1
                      WHEN 2 THEN r.tercile
                      ELSE r.tercile * r.tercile END AS w
  FROM ranked r CROSS JOIN (SELECT unnest([1, 2, 3]) AS phase) p
)
SELECT CAST(phase AS BIGINT) AS phase, source,
       CAST(tercile AS BIGINT) AS tercile,
       CAST(w * 1000000 // sum(w) OVER (PARTITION BY phase) AS BIGINT)
         AS weight_ppm
FROM phases ORDER BY phase, source
"""


@query("corpus_curriculum_phases", _CURRICULUM_SQL)
def corpus_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-phase data curriculum: sources ranked into quality
    terciles (mean chars/doc, total tiebreak), phase weights 1 /
    tercile / tercile^2 normalized to integer ppm -- uniform early,
    quality-tilted late. The whole schedule is arithmetic over the
    per-source aggregate (20 rows); sampling executes it via
    sample_weighted / mixture_resample."""
    docs = load_table(spark, sf_dir, "documents")
    q = docs.groupBy("source").agg(
        F.expr("sum(length(text)) DIV count(*)").alias("mean_chars")
    )
    ranked = q.withColumn(
        "tercile",
        F.ntile(3).over(Window.orderBy("mean_chars", "source")),
    )
    phases = ranked.crossJoin(
        F.broadcast(
            spark.range(1, 4).select(F.col("id").alias("phase"))
        )
    ).withColumn(
        "w",
        F.when(F.col("phase") == 1, 1)
        .when(F.col("phase") == 2, F.col("tercile"))
        .otherwise(F.col("tercile") * F.col("tercile")),
    )
    return (
        phases.withColumn(
            "tot", F.sum("w").over(Window.partitionBy("phase"))
        )
        .select(
            F.col("phase").cast("long").alias("phase"),
            "source",
            F.col("tercile").cast("long").alias("tercile"),
            F.expr("w * 1000000 DIV tot").alias("weight_ppm"),
        )
        .orderBy("phase", "source")
    )


# ---------------------------------------------------------------------------
# Winnow window sensitivity: fingerprint volume at w in {4, 8, 16} --
# the guarantee length is k+w-1, the storage is ~2/(w+1) of hashes;
# this is the measured curve between them.
# ---------------------------------------------------------------------------


def _winnow_sens_sql() -> str:
    from .queries_llm import _shingles_sql

    k = 3
    u32 = "CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT)"
    selects = []
    for w in WINNOW_SENS_W:
        selects.append(f"""
SELECT CAST({w} AS BIGINT) AS w,
       CAST(sum(len(fps)) AS BIGINT) AS n_fingerprints,
       CAST(sum(len(h)) AS BIGINT) AS n_hashes
FROM (
  SELECT h,
    CASE WHEN len(h) < {w} THEN list_distinct(h)
         ELSE list_distinct([list_min(h[i:i+{w - 1}])
               for i in generate_series(1, len(h) - {w - 1})]) END AS fps
  FROM (
    SELECT list_transform({_shingles_sql(_TOKS, k)}, x -> {u32}) AS h
    FROM documents) t
) m""")
    return "\nUNION ALL\n".join(selects) + "\nORDER BY w"


@query("dedup_winnow_window_sensitivity", _winnow_sens_sql())
def dedup_winnow_window_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing storage-vs-guarantee curve: distinct fingerprints
    kept at w = 4, 8, 16 next to the raw k-gram hash count -- larger w
    stores fewer fingerprints (~2/(w+1)) but only guarantees matches
    of length >= k+w-1. Three narrow array-fold passes over one
    cached hash projection; the choice this informs is
    text_winnow_fingerprints' w."""
    from ..functions.text import _u32_of, shingles
    from ..operators._cache import track_persist

    docs = fan_out_scan(load_table(spark, sf_dir, "documents"))
    staged = track_persist(
        docs.select(F.transform(shingles("text", 3), _u32_of).alias("h"))
    )
    outs = []
    for w in WINNOW_SENS_W:
        fps = winnow_fingerprints("", k=3, w=w, hashes=F.col("h"))
        outs.append(
            staged.agg(
                F.lit(w).cast("long").alias("w"),
                F.sum(F.size(fps)).cast("long").alias("n_fingerprints"),
                F.sum(F.size("h")).cast("long").alias("n_hashes"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("w")


# ---------------------------------------------------------------------------
# Retrieval-confidence margins: cos(top1) - cos(top2) per query from
# the brute-force ranking. A thin margin means the retrieval decision
# is noise-level -- the eval behind choosing k and score cutoffs.
# ---------------------------------------------------------------------------

_MARGIN_SQL = f"""
WITH scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         {_RANGE_DOT} / ({_RANGE_NQ} * {_RANGE_NC}) AS cos
  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {MARGIN_QUERIES}
), ranked AS (
  SELECT q_id, c_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
  FROM scored
)
SELECT CAST(q_id AS BIGINT) AS q_id,
       CAST(max(CASE WHEN rn = 1 THEN c_id END) AS BIGINT) AS top1_id,
       max(CASE WHEN rn = 1 THEN cos END) AS cos1,
       max(CASE WHEN rn = 2 THEN cos END) AS cos2,
       max(CASE WHEN rn = 1 THEN cos END)
         - max(CASE WHEN rn = 2 THEN cos END) AS margin
FROM ranked WHERE rn <= 2 GROUP BY q_id ORDER BY q_id
"""


@query("ann_topk_margin_eval", _MARGIN_SQL)
def ann_topk_margin_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 vs top-2 cosine margin per query from the brute-force
    ranking (10 broadcast queries x corpus stream): a margin near 0
    says the nearest-neighbor decision is noise -- the number that
    justifies a score cutoff or a larger k before trusting retrieval.
    Cosines are the shared sequential fold; the margin is one
    subtraction of two per-row-deterministic doubles."""
    from ..operators.similarity import _cosine

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < MARGIN_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    cos = _cosine(F.col("qe"), F.col("embedding"))
    scored = (
        emb.select(F.col("vec_id").alias("c_id"), "embedding")
        .crossJoin(F.broadcast(q))
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id", cos.alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "c_id")
    ranked = scored.select(
        "q_id", "c_id", "cos", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 2)
    return (
        ranked.groupBy("q_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("c_id")))
            .cast("long")
            .alias("top1_id"),
            F.max(F.when(F.col("rn") == 1, F.col("cos"))).alias("cos1"),
            F.max(F.when(F.col("rn") == 2, F.col("cos"))).alias("cos2"),
            (
                F.max(F.when(F.col("rn") == 1, F.col("cos")))
                - F.max(F.when(F.col("rn") == 2, F.col("cos")))
            ).alias("margin"),
        )
        .select(
            F.col("q_id").cast("long").alias("q_id"),
            "top1_id",
            "cos1",
            "cos2",
            "margin",
        )
        .orderBy("q_id")
    )


# ---------------------------------------------------------------------------
# Exact embedding dedup: GROUP BY the vector itself (array equality),
# over a planted-dup fixture (vec_id + 1e5 clones of every 10th
# vector) -- the byte-identical-vector census before any ANN runs.
# ---------------------------------------------------------------------------

_EMB_EXACT_SQL = """
WITH vecs AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 10 = 0
), g AS (
  SELECT embedding, count(*) AS sz FROM vecs GROUP BY embedding
)
SELECT CAST(sz AS BIGINT) AS group_size,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sz * count(*) AS BIGINT) AS n_vectors
FROM g GROUP BY sz ORDER BY sz
"""


@query("dedup_embedding_exact", _EMB_EXACT_SQL)
def dedup_embedding_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical embedding census: GROUP BY the array column
    itself (both engines hash arrays element-wise, no string
    round-trip -- float formatting is NOT portable, array equality
    is), over a planted-clone fixture. Identical vectors are the
    cheapest dedup win an ANN pipeline has (they collapse BEFORE
    index build); size-1 groups mean the win is zero and the budget
    belongs to near-dup. One aggregation on the 256-byte key."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    clones = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 10 == 0)
        .select((F.col("vec_id") + 100_000).alias("vec_id"), "embedding")
    )
    vecs = emb.unionByName(clones)
    g = vecs.groupBy("embedding").agg(F.count("*").alias("sz"))
    return (
        g.groupBy("sz")
        .agg(F.count("*").alias("n_groups"))
        .select(
            F.col("sz").cast("long").alias("group_size"),
            "n_groups",
            (F.col("sz") * F.col("n_groups")).cast("long").alias("n_vectors"),
        )
        .orderBy("group_size")
    )


# ---------------------------------------------------------------------------
# KMV mergeability, proved on data: bottom-k of a union == re-truncated
# union of the halves' bottom-ks. The property that makes theta
# sketches a distributed aggregate.
# ---------------------------------------------------------------------------

_KMV_MERGE_SQL = """
WITH h AS (
  SELECT DISTINCT l_orderkey % 2 AS half,
         CAST(concat('0x', substr(md5('kmv:' || CAST(l_orderkey AS VARCHAR)),
                                  1, 8)) AS BIGINT) AS hv
  FROM lineitem
), direct AS (
  SELECT max(hv) AS h_k FROM (
    SELECT hv FROM (SELECT DISTINCT hv FROM h) u ORDER BY hv LIMIT 256) t
), half_sketches AS (
  SELECT half, hv FROM (
    SELECT half, hv,
           row_number() OVER (PARTITION BY half ORDER BY hv) AS rn
    FROM h) r WHERE rn <= 256
), merged AS (
  SELECT max(hv) AS h_k FROM (
    SELECT hv FROM (SELECT DISTINCT hv FROM half_sketches) u
    ORDER BY hv LIMIT 256) t
)
SELECT CAST(direct.h_k AS BIGINT) AS direct_hk,
       CAST(merged.h_k AS BIGINT) AS merged_hk,
       direct.h_k = merged.h_k AS merge_exact
FROM direct, merged
"""


@query("sketch_kmv_merge_eval", _KMV_MERGE_SQL)
def sketch_kmv_merge_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta mergeability, proved on data: split the keys into two
    halves, keep each half's 256 smallest hashes, merge and
    re-truncate -- the k-th minimum equals the direct sketch's EXACTLY
    (the global k smallest are the k smallest within their own halves
    too, the reservoir-merge argument). merge_exact must be true; this
    identity is why a KMV accumulates as a distributed aggregate with
    O(k) state per partition."""
    li = load_table(spark, sf_dir, "lineitem")
    from ..operators._cache import track_persist
    from ..operators.sampling import sample_hash_u32

    h = track_persist(
        li.select(
            (F.col("l_orderkey") % 2).alias("half"),
            sample_hash_u32("l_orderkey", "kmv").alias("hv"),
        ).distinct()
    )
    direct = (
        h.select("hv").distinct().orderBy("hv").limit(256)
        .agg(F.max("hv").alias("direct_hk"))
    )
    w = Window.partitionBy("half").orderBy("hv")
    half_sketches = (
        h.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 256)
    )
    merged = (
        half_sketches.select("hv").distinct().orderBy("hv").limit(256)
        .agg(F.max("hv").alias("merged_hk"))
    )
    return direct.crossJoin(F.broadcast(merged)).select(
        F.col("direct_hk").cast("long").alias("direct_hk"),
        F.col("merged_hk").cast("long").alias("merged_hk"),
        (F.col("direct_hk") == F.col("merged_hk")).alias("merge_exact"),
    )


# ---------------------------------------------------------------------------
# Truncation loss curve: tokens kept vs lost at context lengths
# L in {32, 64, 128} under single-document truncation.
# ---------------------------------------------------------------------------


def _trunc_sql() -> str:
    cases = ",\n  ".join(
        f"CAST(sum(least(n, {L})) AS BIGINT) AS kept_{L}, "
        f"CAST(sum(greatest(n - {L}, 0)) AS BIGINT) AS lost_{L}"
        for L in TRUNC_LENGTHS
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({L} AS BIGINT) AS context_len, kept_{L} AS kept_tokens, "
        f"lost_{L} AS lost_tokens, "
        f"CAST(lost_{L} * 1000000 // (kept_{L} + lost_{L}) AS BIGINT) "
        f"AS lost_ppm FROM agg"
        for L in TRUNC_LENGTHS
    )
    return f"""
WITH t AS (SELECT len({_TOKS}) AS n FROM documents),
agg AS (SELECT {cases} FROM t)
{rows}
ORDER BY context_len
"""


@query("pack_truncation_loss_curve", _trunc_sql())
def pack_truncation_loss_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens kept vs LOST at context lengths 32/64/128 under
    truncate-to-context packing (each doc contributes min(n, L))
    -- the one-pass curve that says whether a context length wastes
    the corpus (lost_ppm) before any packing runs; read next to
    pack_efficiency_stats (padding waste) for the full picture. One
    narrow aggregate, three conditional sums, 3-row unpivot."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(F.size(tokens("text")).alias("n"))
    aggs = []
    for L in TRUNC_LENGTHS:
        aggs += [
            F.sum(F.least(F.col("n"), F.lit(L))).cast("long").alias(
                f"kept_{L}"
            ),
            F.sum(F.greatest(F.col("n") - L, F.lit(0)))
            .cast("long")
            .alias(f"lost_{L}"),
        ]
    agg = t.agg(*aggs)
    stack = ", ".join(
        f"CAST({L} AS BIGINT), kept_{L}, lost_{L}, "
        f"lost_{L} * 1000000 DIV (kept_{L} + lost_{L})"
        for L in TRUNC_LENGTHS
    )
    return agg.selectExpr(
        f"stack({len(TRUNC_LENGTHS)}, {stack}) "
        "AS (context_len, kept_tokens, lost_tokens, lost_ppm)"
    ).orderBy("context_len")


# ---------------------------------------------------------------------------
# Per-source token TVD vs the global unigram distribution, exact ppm
# (the same cross-multiplied grid as privacy_t_closeness, applied to
# text drift).
# ---------------------------------------------------------------------------

_SOURCE_TVD_SQL = f"""
WITH tok AS (
  SELECT source, unnest({_TOKS}) AS token FROM documents
), sc AS (SELECT source, token, count(*) AS c FROM tok GROUP BY 1, 2),
st AS (SELECT source, sum(c) AS n_s FROM sc GROUP BY 1),
vc AS (SELECT token, sum(c) AS c_v FROM sc GROUP BY 1),
tot AS (SELECT sum(c) AS n FROM sc),
grid AS (
  SELECT st.source, st.n_s, vc.token, vc.c_v, tot.n,
         coalesce(sc.c, 0) AS c_sv
  FROM st CROSS JOIN vc CROSS JOIN tot
  LEFT JOIN sc ON sc.source = st.source AND sc.token = vc.token
)
SELECT source,
       CAST(any_value(n_s) AS BIGINT) AS n_tokens,
       CAST(sum(abs(c_sv * n - c_v * n_s)) * 1000000
              // (2 * any_value(n_s) * any_value(n)) AS BIGINT) AS tvd_ppm
FROM grid GROUP BY source ORDER BY source
"""


@query("corpus_source_token_tvd", _SOURCE_TVD_SQL)
def corpus_source_token_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total variation distance between each source's unigram
    distribution and the corpus's, in exact integer ppm (the
    privacy_t_closeness grid applied to text drift): the source whose
    tvd_ppm spikes is the one whose text stopped looking like the
    corpus -- the per-source drift monitor a mixture owner reads.
    Grid = (sources x vocab) built from AGGREGATES (never raw rows);
    absent cells contribute |0 - c_v*n_s| via the left join; the
    handful-of-rows st side is broadcast-hinted so the grid build is
    a BroadcastNestedLoopJoin at any scale (VERDICT r5 #6, AQE can't
    pick a shuffle). Magnitude bound: sum|...| <= 2*n*n_s, so the
    *1e6 numerator stays inside int64 only while n*n_s < 2^63/2e6
    ~= 4.6e12 (holds through ~sf1 token volumes); past it the ENGINE
    RAISES (raise_error branch below, ADVICE r5) instead of silently
    wrapping in non-ANSI mode while the HUGEINT oracle keeps going --
    the documented escape is pre-normalizing cells to integer ppm
    (costs at most 1 ppm per cell)."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators._cache import track_persist

    sc = track_persist(
        docs.select("source", F.explode(tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("c"))
    )
    st = sc.groupBy("source").agg(F.sum("c").alias("n_s"))
    vc = sc.groupBy("token").agg(F.sum("c").alias("c_v"))
    tot = sc.agg(F.sum("c").alias("n"))
    grid = (
        F.broadcast(st)
        .crossJoin(vc)
        .crossJoin(F.broadcast(tot))
        .join(sc, ["source", "token"], "left")
        .withColumn("c_sv", F.coalesce("c", F.lit(0)))
    )
    # 4611686018427 = floor(2^63 / 2e6): past this n*n_s the *1e6
    # numerator can exceed int64 -- fail loudly, don't wrap. The
    # guard's OWN comparison runs in DOUBLE (ADVICE r6): an int64
    # product n_s*n wraps negative past 2^63 in non-ANSI mode, so an
    # integer-typed guard would silently never fire in exactly the
    # regime it exists to flag; the double product is monotone and
    # its <1 ulp error at the threshold is irrelevant for a guard.
    return (
        grid.groupBy("source")
        .agg(
            F.any_value("n_s").cast("long").alias("n_tokens"),
            F.expr(
                "CAST(CASE WHEN CAST(any_value(n_s) AS DOUBLE) * "
                "CAST(any_value(n) AS DOUBLE) > "
                "4611686018427E0 THEN raise_error("
                "'corpus_source_token_tvd: n*n_s exceeds the "
                "int64-safe ppm bound (2^63/2e6); pre-normalize "
                "cells to integer ppm') "
                "ELSE sum(abs(c_sv * n - c_v * n_s)) * 1000000 "
                "DIV (2 * any_value(n_s) * any_value(n)) END AS BIGINT)"
            ).alias("tvd_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Partition-size planning: rows, estimated bytes, file count at a
# 128 MiB target, rows per file -- per table, from one aggregate each.
# ---------------------------------------------------------------------------

_PLANNING_SQL = f"""
SELECT 'documents' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(length(text) + 32) AS BIGINT) AS est_bytes,
  CAST(greatest(sum(length(text) + 32) // {PLAN_TARGET_BYTES}, 1) AS BIGINT)
    AS n_files,
  CAST(count(*) // greatest(sum(length(text) + 32) // {PLAN_TARGET_BYTES}, 1)
       AS BIGINT) AS rows_per_file
FROM documents
UNION ALL
SELECT 'lineitem', CAST(count(*) AS BIGINT),
  CAST(count(*) * 64 AS BIGINT),
  CAST(greatest(count(*) * 64 // {PLAN_TARGET_BYTES}, 1) AS BIGINT),
  CAST(count(*) // greatest(count(*) * 64 // {PLAN_TARGET_BYTES}, 1) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'events', CAST(count(*) AS BIGINT),
  CAST(sum(56 + length(props)) AS BIGINT),
  CAST(greatest(sum(56 + length(props)) // {PLAN_TARGET_BYTES}, 1) AS BIGINT),
  CAST(count(*) // greatest(sum(56 + length(props)) // {PLAN_TARGET_BYTES}, 1)
       AS BIGINT)
FROM events
ORDER BY tbl
"""


@query("layout_partition_size_planning", _PLANNING_SQL)
def layout_partition_size_planning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-count planning at a 128 MiB target from documented
    per-row byte estimates (variable text/props lengths + fixed-width
    overhead; lineitem flat 64 B/row): n_files = max(est/target, 1),
    rows_per_file = rows/n_files. The number compaction_bin_plan
    consumes as its target and maxPartitionBytes tuning starts from.
    One aggregate per table, integer DIV throughout."""

    def plan(df, name, bytes_expr):
        return df.agg(
            F.lit(name).alias("tbl"),
            F.count("*").alias("n_rows"),
            F.sum(bytes_expr).cast("long").alias("est_bytes"),
            F.greatest(
                F.expr(
                    f"sum({bytes_expr_sql[name]}) DIV {PLAN_TARGET_BYTES}"
                ),
                F.lit(1).cast("long"),
            ).alias("n_files"),
        ).select(
            "tbl",
            "n_rows",
            "est_bytes",
            "n_files",
            F.expr("n_rows DIV n_files").alias("rows_per_file"),
        )

    bytes_expr_sql = {
        "documents": "length(text) + 32",
        "lineitem": "64",
        "events": "56 + length(props)",
    }
    d = plan(
        load_table(spark, sf_dir, "documents"),
        "documents",
        F.length("text") + 32,
    )
    l = plan(load_table(spark, sf_dir, "lineitem"), "lineitem", F.lit(64))
    e = plan(
        load_table(spark, sf_dir, "events"),
        "events",
        F.lit(56) + F.length("props"),
    )
    return d.unionByName(l).unionByName(e).orderBy("tbl")


# ---------------------------------------------------------------------------
# Word-length histogram: tokenizer-design data (where does the ~4
# chars/token BPE assumption actually sit on this corpus).
# ---------------------------------------------------------------------------

_WORD_LEN_SQL = f"""
WITH tok AS (SELECT unnest({_TOKS}) AS t FROM documents)
SELECT CAST(least(length(t), 15) AS BIGINT) AS token_len,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM tok GROUP BY 1 ORDER BY token_len
"""


@query("text_word_length_histogram", _WORD_LEN_SQL)
def text_word_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram (clamped at 15+): the distribution the
    ceil(len/4) BPE estimate and any subword vocab size budget rest
    on -- measured, not assumed. One explode + one bounded count."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("t"))
        .select(
            F.least(F.length("t"), F.lit(15))
            .cast("long")
            .alias("token_len")
        )
        .groupBy("token_len")
        .agg(F.count("*").alias("n_tokens"))
        .orderBy("token_len")
    )


# ---------------------------------------------------------------------------
# Hapax ratio by source: share of token occurrences that are
# corpus-hapax (global frequency 1) -- vocabulary novelty per source.
# ---------------------------------------------------------------------------

_HAPAX_SQL = f"""
WITH tok AS (SELECT source, unnest({_TOKS}) AS t FROM documents),
freq AS (SELECT t, count(*) AS c FROM tok GROUP BY t)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN freq.c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(sum(CASE WHEN freq.c = 1 THEN 1 ELSE 0 END) * 1000000
              // count(*) AS BIGINT) AS hapax_ppm
FROM tok JOIN freq ON tok.t = freq.t
GROUP BY source ORDER BY source
"""


@query("text_hapax_ratio_by_source", _HAPAX_SQL)
def text_hapax_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of each source's token occurrences that are corpus-level
    hapax legomena (global frequency exactly 1), in ppm: high hapax =
    novel/noisy vocabulary (OCR garbage also lands here), near-zero =
    formulaic text. Global frequencies come from one token aggregate;
    the per-source rollup joins tokens back on the token key (same
    shuffle class as tfidf)."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators._cache import track_persist

    tok = track_persist(
        docs.select("source", F.explode(tokens("text")).alias("t"))
    )
    freq = tok.groupBy("t").agg(F.count("*").alias("c"))
    return (
        tok.join(freq, "t")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_hapax"),
            F.expr(
                "sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 "
                "DIV count(*)"
            ).alias("hapax_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Length percentiles per language: exact ceil(p*n) convention.
# ---------------------------------------------------------------------------

_LENGTH_PCT_SQL = """
WITH ranked AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang, CAST(any_value(n) AS BIGINT) AS n_docs,
       CAST(max(CASE WHEN rn = (n + 3) // 4 THEN n_chars END) AS BIGINT)
         AS p25_chars,
       CAST(max(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS BIGINT)
         AS p50_chars,
       CAST(max(CASE WHEN rn = (3 * n + 3) // 4 THEN n_chars END) AS BIGINT)
         AS p75_chars,
       CAST(max(CASE WHEN rn = (19 * n + 19) // 20 THEN n_chars END) AS BIGINT)
         AS p95_chars
FROM ranked GROUP BY lang ORDER BY lang
"""


@query("corpus_length_percentiles_by_lang", _LENGTH_PCT_SQL)
def corpus_length_percentiles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75/p95 document length per language at the
    ceil(p*n) rank under the (n_chars, doc_id) total order -- length
    filters and packing budgets are usually set per language, and
    these are the numbers to set them from."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("lang")).alias("n"),
    )

    def pick(num: str) -> F.Column:
        return F.max(
            F.when(F.col("rn") == F.expr(num), F.col("n_chars"))
        ).cast("long")

    return (
        ranked.groupBy("lang")
        .agg(
            F.any_value("n").cast("long").alias("n_docs"),
            pick("(n + 3) DIV 4").alias("p25_chars"),
            pick("(n + 1) DIV 2").alias("p50_chars"),
            pick("(3 * n + 3) DIV 4").alias("p75_chars"),
            pick("(19 * n + 19) DIV 20").alias("p95_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Radius-search sensitivity: neighbor counts per query at a cosine
# threshold ladder, from ONE brute pass.
# ---------------------------------------------------------------------------


def _radius_sens_sql() -> str:
    counts = ",\n       ".join(
        f"CAST(sum(CASE WHEN cos >= {t / 1000} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_ge_{t}"
        for t in RADIUS_LADDER_PPK
    )
    return f"""
WITH scored AS (
  SELECT q.vec_id AS q_id,
         {_RANGE_DOT} / ({_RANGE_NQ} * {_RANGE_NC}) AS cos
  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 5
)
SELECT CAST(q_id AS BIGINT) AS q_id,
       {counts}
FROM scored GROUP BY q_id ORDER BY q_id
"""


@query("ann_radius_sensitivity", _radius_sens_sql())
def ann_radius_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor counts per query at cosine >= 0.20 / 0.25 / 0.30 from
    ONE brute-force pass (conditional sums over the same scored rows)
    -- how fast the neighborhood shrinks as the radius tightens, the
    data behind ann_range_search's threshold. Broadcast query block,
    corpus streams once."""
    from ..operators.similarity import _cosine

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    cos = _cosine(F.col("qe"), F.col("embedding"))
    scored = (
        emb.select(F.col("vec_id").alias("c_id"), "embedding")
        .crossJoin(F.broadcast(q))
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", cos.alias("cos"))
    )
    aggs = [
        F.sum(F.when(F.col("cos") >= t / 1000, 1).otherwise(0))
        .cast("long")
        .alias(f"n_ge_{t}")
        for t in RADIUS_LADDER_PPK
    ]
    return (
        scored.groupBy("q_id")
        .agg(*aggs)
        .select(F.col("q_id").cast("long").alias("q_id"),
                *[f"n_ge_{t}" for t in RADIUS_LADDER_PPK])
        .orderBy("q_id")
    )
