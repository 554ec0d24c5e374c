"""Distributed sampling operators for corpus curation.

Four shapes a training-data pipeline needs (reference has no sampling
at all -- this is north-star extension surface, like textops.py's
stratified_sample):

- ``bottom_k_sample``: EXACT-k uniform sample via bottom-k on a salted
  md5 hash. The deterministic twin of a reservoir sample: "k smallest
  hash values" is a uniform k-subset, reproducible across runs,
  engines, and repartitionings, so it is DuckDB-oracle-checkable.
  Physically `orderBy(hash).limit(k)` compiles to
  TakeOrderedAndProject: each task keeps a k-row heap, the driver
  merges P partial heaps -- no global sort, no shuffle of the data.
  At 100 TB that is one narrow scan + k*P rows of driver traffic.
- ``group_bottom_k``: exact-k per group (per-source / per-language
  caps) via row_number over the same hash order. One hash-partitioned
  shuffle on the group key; skewed groups cost only their own rows.
- ``hash_split``: deterministic train/valid/test assignment by hash
  range -- a pure narrow projection. The split survives re-sharding,
  backfills, and engine swaps, unlike randomSplit() whose assignment
  depends on partitioning.
- ``reservoir_sample_deterministic``: the reservoir STRUCTURE (per-task
  O(k) state via mapInPandas, then a merge of the partial reservoirs)
  with a hash priority, so the sample is bottom-k's and
  partitioning-independent.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _md5_key(id_col: Column | str, salt: str) -> Column:
    """md5(salt:id) as a hex string: the one deterministic-sampling
    hash every sampler here (and textops') derives from."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.md5(F.concat(F.lit(salt + ":"), c.cast("string")))


def sample_hash_u32(id_col: Column | str, salt: str) -> Column:
    """u32(md5(salt:id)) -- the shared hash-threshold sampling value
    (hash_split, textops.stratified_sample, the mixture-resample,
    epoch-shuffle and negative-sampling queries; DuckDB twin:
    CAST(concat('0x', substr(md5(...), 1, 8)) AS BIGINT))."""
    return F.conv(F.substring(_md5_key(id_col, salt), 1, 8), 16, 10).cast("long")


def sample_order(id_col: str, salt: str) -> tuple[Column, Column]:
    """(md5(salt:id) asc, id asc): the total order of every bottom-k
    sample and per-group rank (bottom_k_sample, group_bottom_k,
    textops.domain_cap, the similarity centroid and codebook samples,
    the class-balanced and epoch-shuffle queries). The id tiebreak
    makes it total."""
    return _md5_key(id_col, salt).asc(), F.col(id_col).asc()


def bottom_k_sample(
    df: DataFrame, id_col: str, k: int, salt: str = "rsv"
) -> DataFrame:
    """Exact-k uniform sample: the k rows with the smallest salted md5
    hash (ties broken by id for full determinism). Narrow scan +
    per-partition top-k heap (TakeOrderedAndProject)."""
    return df.orderBy(*sample_order(id_col, salt)).limit(k)


def group_bottom_k(
    df: DataFrame, group_col: str, id_col: str, k: int, salt: str = "grp"
) -> DataFrame:
    """Exact-k uniform sample per group, with the sample rank exposed
    as `rn` (1..k). One shuffle on the group key."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(*sample_order(id_col, salt))
    return (
        df.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
    )


def hash_split(df: DataFrame, id_col: str, salt: str = "split") -> DataFrame:
    """Deterministic 80/10/10 train/valid/test split: bucket =
    u32(md5(salt:id)) % 100, assigned to the first split whose upper
    boundary (80, 90, 100) exceeds it. Pure projection -- no shuffle,
    no state, replayable on any engine that has md5."""
    pct = sample_hash_u32(id_col, salt) % 100
    return df.withColumn(
        "split",
        F.when(pct < 80, F.lit("train")).otherwise(
            F.when(pct < 90, F.lit("valid")).otherwise(F.lit("test"))
        ),
    )


def reservoir_sample_deterministic(
    df: DataFrame, id_col: str, k: int, salt: str = "rsvm"
) -> DataFrame:
    """Per-partition reservoir MERGE with a deterministic priority
    (VERDICT r3 #8): stage 1 computes priority = md5(salt:id) JVM-side
    (codegen, no Python hashing) and each task's mapInPandas kernel
    holds only its k smallest-priority rows (bounded O(k) state, the
    reservoir invariant); stage 2 merges the <= k*P partial reservoirs
    by global bottom-k on the same priority. Because the priority is a
    pure function of the row id, the result is independent of
    partitioning and run order -- exactly the k globally-smallest
    hashes -- so a DuckDB ORDER BY md5 LIMIT k oracle checks it
    bit-for-bit. This is the reservoir STRUCTURE (what you need when
    rows are too wide to TakeOrdered through the driver raw, or when
    the sample feeds a further distributed stage) with the bottom-k
    sample's reproducibility."""
    with_pri = df.withColumn("__pri", _md5_key(id_col, salt))

    def local_reservoir(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kept: pd.DataFrame | None = None
        for pdf in batches:
            kept = pdf if kept is None else pd.concat(
                [kept, pdf], ignore_index=True
            )
            if len(kept) > k:
                # sort_values, not nsmallest: the priority is a hex
                # string (object dtype), which nsmallest rejects
                kept = kept.sort_values(["__pri", id_col]).head(k)
        if kept is not None and len(kept) > 0:
            yield kept

    candidates = with_pri.mapInPandas(local_reservoir, schema=with_pri.schema)
    return (
        candidates.orderBy(F.col("__pri").asc(), F.col(id_col).asc())
        .limit(k)
        .drop("__pri")
    )
