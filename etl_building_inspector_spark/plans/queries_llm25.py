"""Twenty-fifth LLM-pipeline batch (round-10 session additions, under
the four-artifact discipline: oracle twin + independent recompute +
head-window slot + SCALING.md entry per query):

- dedup_cluster_incremental: INCREMENTAL connected components -- the
  standing component assignment absorbs a batch of new near-dup edges
  via operators/graph.merge_components instead of re-running CC over
  the full pair graph. Shares dedup_cluster_assign's recursive-CTE
  rebuild oracle, so hash equality IS the merge == rebuild proof at
  the query level (the operator-level pin, including the
  bridge-two-components case that defined the r8 over-merge class,
  lives in tests/test_r10b_properties.py). This completes the
  incremental family: blooms (decontaminate_incremental_bloom), band
  indexes (dedup_minhash_index_refresh), and now the cluster state
  those indexes feed.

- text_collocations_pmi: top-k bigram collocations by integer
  ppm-scaled PMI lift (operators/textops.collocation_pmi) -- the
  corpus-statistics operator a phrase-aware tokenizer/quality
  pipeline needs, exact in DECIMAL/HUGEINT arithmetic in both
  engines.

The streaming addition (streaming_minhash_refresh) lives in
queries_streaming.py with its family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import minhash_lsh_pairs
from ..operators.graph import connected_components, merge_components
from ..operators.textops import collocation_pmi
from ..operators._cache import track_persist
from ..sources.tables import load_table
from .queries_llm import _TOKS, MINHASH_BUCKET_CAP
from .queries_llm2 import _cluster_sql, _docs_with_dups
from .registry import query


# ---------------------------------------------------------------------------
# Incremental CC refresh. Edge split: "today's crawl" is doc_id % 10
# == 7 (the same batch-arrival narrative as the minhash refresh), so
# delta edges are the pairs TOUCHING a new doc and base edges are the
# pairs among old docs. base ∪ delta is the full LSH pair graph, so
# the oracle is dedup_cluster_assign's _cluster_sql() unchanged --
# the merge path must reproduce the rebuild bit-for-bit.
# ---------------------------------------------------------------------------


@query("dedup_cluster_incremental", _cluster_sql())
def dedup_cluster_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering contract as dedup_cluster_assign, computed
    INCREMENTALLY: CC over yesterday's edges, then
    operators/graph.merge_components absorbs today's edge batch by
    running CC on the REDUCED graph (base component labels + new
    nodes; <= |delta| edges) and relabeling through it.

    100 TB shape: the daily cost is CC on the delta, not the corpus
    -- the standing assignment streams through one relabel join. The
    bucket cap matches the oracle's (the r8 lesson: cap asymmetry
    over-merges at scale)."""
    docs = _docs_with_dups(spark, sf_dir)
    # cap MUST match the oracle's _minhash_lsh_sql() default (r8)
    pairs = track_persist(
        minhash_lsh_pairs(
            docs, "text", "doc_id", max_bucket_width=MINHASH_BUCKET_CAP
        ).select("id_a", "id_b")
    )
    is_delta = (F.col("id_a") % 10 == 7) | (F.col("id_b") % 10 == 7)
    base = connected_components(pairs.filter(~is_delta), "id_a", "id_b")
    out = merge_components(base, pairs.filter(is_delta), "id_a", "id_b")
    return out.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


# ---------------------------------------------------------------------------
# Bigram PMI collocations. DuckDB twin: parallel unnest of the two
# offset list slices zips positionally (the bigram stream), HUGEINT
# // for the exact integer lift; the engine uses DECIMAL(20,0) `div`
# -- both equal Python big-int floor division (pinned in
# tests/test_r10b_properties.py).
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5
PMI_K = 100


@query(
    "text_collocations_pmi",
    f"""
WITH t AS (SELECT {_TOKS} AS toks FROM documents),
uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1
),
n AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM uni),
bi AS (
  SELECT unnest(toks[1:len(toks) - 1]) AS w1,
         unnest(toks[2:len(toks)]) AS w2
  FROM t WHERE len(toks) >= 2
),
big AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
  FROM bi GROUP BY 1, 2 HAVING count(*) >= {PMI_MIN_COUNT}
),
scored AS (
  SELECT w1, w2, c_xy, u1.c AS c_w1, u2.c AS c_w2,
    CAST(CAST(c_xy AS HUGEINT) * n_tok * 1000000
         // (CAST(u1.c AS HUGEINT) * u2.c) AS BIGINT) AS pmi_ratio_ppm
  FROM big JOIN uni u1 ON u1.tok = w1 JOIN uni u2 ON u2.tok = w2 CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY pmi_ratio_ppm DESC, w1, w2) AS rk
  FROM scored
)
SELECT w1, w2, c_xy, c_w1, c_w2, pmi_ratio_ppm, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {PMI_K}
""",
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 bigram collocations by exact integer PMI lift (see
    operators/textops.collocation_pmi for the 100 TB shape: two
    map-side-combined aggregates, broadcast 1-row N, vocab joins left
    to AQE, TakeOrderedAndProject top-k)."""
    docs = load_table(spark, sf_dir, "documents")
    return collocation_pmi(docs, "text", min_count=PMI_MIN_COUNT, k=PMI_K)
