"""Twenty-fourth LLM-pipeline batch (the round-10 freeze-lift,
VERDICT r9 #5: additions land only with oracle twin + independent
recompute + head-window slot + SCALING.md entry, all in one commit):

- dedup_minhash_index_refresh: the near-dup twin of
  decontaminate_incremental_bloom -- the standing banded MinHash
  index absorbs a corpus batch by MERGING band aggregates (count/min
  are monoids), then today's batch probes the refreshed index. The
  engine takes the merge path; the DuckDB twin builds the refreshed
  index from scratch -- hash equality IS the mergeability proof at
  the query level (the operator-level pin lives in
  tests/test_r10_properties.py).

The streaming freeze-lift (streaming_decontaminate_bloom) lives in
queries_streaming.py with its family; the non-convex spatial join in
queries_spatial.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .queries_llm6 import _INC_BANDS, _INC_K, _inc_minhash_sql
from .registry import query


# ---------------------------------------------------------------------------
# Incremental MinHash-LSH index refresh. Corpus split: the standing
# index was built from doc_id % 10 NOT IN (3, 7); batch doc_id % 10
# = 3 arrives and is ABSORBED by merge; batch doc_id % 10 = 7 is
# today's probe. The refreshed index is therefore over % 10 <> 7 --
# exactly dedup_incremental_minhash's index set, so the two queries
# share _inc_minhash_sql() as their oracle: same semantics, two
# engine strategies (from-scratch build vs standing-index merge),
# the precedent set by dedup_cluster_assign / _lss.
# ---------------------------------------------------------------------------


@query("dedup_minhash_index_refresh", _inc_minhash_sql())
def dedup_minhash_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe today's batch against a standing band index REFRESHED by
    merge (operators/dedup.py::minhash_band_index /
    merge_minhash_band_indexes / probe_minhash_band_index).

    100 TB shape: the refresh re-shingles ONLY the absorbed batch --
    the standing index rows (one per (band, key), mergeable count/min
    summaries) union with the batch's and re-aggregate; the base
    corpus text is never re-read. Probe fanout stays <= bands x |new
    docs| regardless of index skew because the index side is one row
    per key. This completes the "corpora arrive in batches" story for
    near-dup the way decontaminate_incremental_bloom completed it for
    contamination (reference anchor: D2's content-hash dedup is the
    degenerate exact-match case, building-inspector.js:238-249)."""
    from ..operators.dedup import (
        merge_minhash_band_indexes,
        minhash_band_index,
        probe_minhash_band_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mod = F.col("doc_id") % 10
    base = docs.filter((mod != 3) & (mod != 7))
    absorbed = docs.filter(mod == 3)
    today = docs.filter(mod == 7)

    idx_base = minhash_band_index(base, "text", "doc_id", k=_INC_K, bands=_INC_BANDS)
    idx_batch = minhash_band_index(
        absorbed, "text", "doc_id", k=_INC_K, bands=_INC_BANDS
    )
    refreshed = merge_minhash_band_indexes(idx_base, idx_batch)
    out = probe_minhash_band_index(
        today, refreshed, "text", "doc_id", k=_INC_K, bands=_INC_BANDS
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "hit_bands",
        "n_index_docs",
        "first_match_id",
    )
