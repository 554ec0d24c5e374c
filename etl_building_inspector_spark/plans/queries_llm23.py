"""Twenty-third LLM-pipeline batch (the round-9 freeze-lift, VERDICT
r8 #6: additions land only with oracle twin + independent recompute +
head-window slot + scale argument, all in one commit):

- decontaminate_incremental_bloom: benchmark suites arrive in batches;
  the refresh screens only the base-clean corpus against only the new
  batch's (mergeable) Bloom filter, with an exact confirm join.
- pack_bucketed_greedy: document->bin assignment under power-of-two
  length bucketing -- the applyInPandas-FREE packing for the 100 TB
  path (pack_greedy's first-fit walk is sequential per group; this
  variant is one window + integer arithmetic, fully declarative).

Oracle discipline per queries_core.py: integer ids/counts, CASE
priority for the batch label, deterministic (source, bucket, doc_id)
window order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .queries_llm import _TOKS, _shingles_sql
from .queries_llm2 import DECON_BENCH_MOD, DECON_N
from .queries_llm3 import PACK_BUDGET
from .registry import query


# ---------------------------------------------------------------------------
# Incremental decontamination refresh: base suite = even benchmark
# docs, delta suite = odd benchmark docs (same % MOD split as the
# existing decon queries, halved deterministically). The bloom is a
# prefilter on both passes; the confirm joins restore exactness, so
# the twin is the plain two-batch gram intersection with CASE
# priority base > delta (a doc hitting both suites is 'base': the
# refresh never re-reads already-quarantined docs).
# ---------------------------------------------------------------------------

_INCR_DECON_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, list_distinct({_shingles_sql("toks", DECON_N)}) AS grams FROM t),
base AS (SELECT DISTINCT unnest(grams) AS g FROM sh
         WHERE doc_id % {DECON_BENCH_MOD} = 0 AND (doc_id // {DECON_BENCH_MOD}) % 2 = 0),
delta AS (SELECT DISTINCT unnest(grams) AS g FROM sh
          WHERE doc_id % {DECON_BENCH_MOD} = 0 AND (doc_id // {DECON_BENCH_MOD}) % 2 = 1),
train AS (SELECT * FROM sh WHERE doc_id % {DECON_BENCH_MOD} <> 0),
ex AS (SELECT doc_id, unnest(grams) AS g FROM train),
bh AS (SELECT doc_id, count(*) AS n FROM ex JOIN base USING (g) GROUP BY 1),
dh AS (SELECT doc_id, count(*) AS n FROM ex JOIN delta USING (g) GROUP BY 1)
SELECT CAST(train.doc_id AS BIGINT) AS doc_id,
  CASE WHEN coalesce(bh.n, 0) > 0 THEN 'base'
       WHEN coalesce(dh.n, 0) > 0 THEN 'delta'
       ELSE 'clean' END AS status,
  CAST(CASE WHEN coalesce(bh.n, 0) > 0 THEN bh.n
            WHEN coalesce(dh.n, 0) > 0 THEN dh.n
            ELSE 0 END AS BIGINT) AS n_hits
FROM train LEFT JOIN bh USING (doc_id) LEFT JOIN dh USING (doc_id)
"""


@query("decontaminate_incremental_bloom", _INCR_DECON_SQL)
def decontaminate_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental Bloom decontamination refresh (operators/textops.py::
    bloom_decontaminate_incremental): per-batch blooms are mergeable
    (OR == bloom-of-union, pinned in tests/test_r9_properties.py), the delta
    pass probes only base-clean docs against only the delta bloom, and
    both passes confirm-join exactly -- the 100 TB refresh cost is
    O(|delta suite| + |base-clean corpus|), never a rebuild."""
    from ..operators.textops import bloom_decontaminate_incremental

    docs = load_table(spark, sf_dir, "documents")
    in_bench = F.col("doc_id") % DECON_BENCH_MOD == 0
    batch = F.expr(f"doc_id DIV {DECON_BENCH_MOD}") % 2
    bench_base = docs.filter(in_bench & (batch == 0))
    bench_delta = docs.filter(in_bench & (batch == 1))
    train = docs.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
    out = bloom_decontaminate_incremental(
        train, bench_base, bench_delta, "text", "doc_id", n=DECON_N
    )
    return out.withColumn("doc_id", F.col("doc_id").cast("long"))


# ---------------------------------------------------------------------------
# Bucketed greedy packing: quantize each doc's length to the next
# power of two (same bucket expression as pack_length_bucket_waste),
# then bins take floor(budget / bucket) docs each in (source, bucket,
# doc_id) order. Every doc fits whole (no straddling), waste is
# bounded by the bucket rounding, and -- unlike first-fit -- the
# assignment is ONE window + integer arithmetic: no applyInPandas, no
# per-group sequential walk, shardable and resumable by construction.
# ---------------------------------------------------------------------------

_BUCKETED_PACK_SQL = f"""
WITH t AS (SELECT doc_id, source, len({_TOKS}) AS n FROM documents),
b AS (
  SELECT doc_id, source, n,
         CASE WHEN n <= 1 THEN 1
              ELSE (CAST(1 AS BIGINT) << length(bin(n - 1))) END AS bucket
  FROM t),
r AS (
  SELECT doc_id, source, n, bucket,
         GREATEST(1, {PACK_BUDGET} // bucket) AS per_bin,
         row_number() OVER (PARTITION BY source, bucket ORDER BY doc_id) - 1 AS rk
  FROM b)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       source,
       CAST(bucket AS BIGINT) AS bucket,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(rk // per_bin AS BIGINT) AS bin_seq,
       CAST(rk % per_bin AS BIGINT) AS slot
FROM r
"""


@query("pack_bucketed_greedy", _BUCKETED_PACK_SQL)
def pack_bucketed_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandas-free packing assignment (VERDICT r8 #6): per
    (source, bucket), bin_seq = rank DIV per_bin and slot = rank MOD
    per_bin with per_bin = max(1, budget DIV bucket). One hash
    shuffle on (source, bucket); at 100 TB the window's partition is
    a single source's single length-bucket -- if one such slice ever
    exceeds task memory, sub-shard the window key by doc_id DIV span
    exactly as pack_concat_chunks shards its prefix sum. Docs longer
    than the budget get per_bin=1 (one doc per bin; truncation is a
    separate policy -- see pack_truncation_loss_curve)."""
    from ..functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        token_count("text").cast("long").alias("n_tokens"),
    )
    b = t.withColumn(
        "bucket",
        F.expr(
            "CASE WHEN n_tokens <= 1 THEN CAST(1 AS BIGINT) "
            "ELSE shiftleft(CAST(1 AS BIGINT), length(bin(n_tokens - 1))) END"
        ),
    )
    per_bin = F.greatest(F.lit(1), F.expr(f"{PACK_BUDGET} DIV bucket")).cast(
        "long"
    )
    rk = (
        F.row_number().over(
            Window.partitionBy("source", "bucket").orderBy("doc_id")
        )
        - 1
    ).cast("long")
    return b.select(
        "doc_id",
        "source",
        "bucket",
        "n_tokens",
        rk.alias("__rk"),
        per_bin.alias("__pb"),
    ).select(
        "doc_id",
        "source",
        "bucket",
        "n_tokens",
        F.expr("__rk DIV __pb").cast("long").alias("bin_seq"),
        (F.col("__rk") % F.col("__pb")).cast("long").alias("slot"),
    )
