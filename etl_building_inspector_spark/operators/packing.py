"""Training-batch assembly: sequence packing of a document corpus into
fixed token-budget contexts.

Two industry-standard packings, both deterministic (stable under
re-partitioning, so shardable and resumable):

- pack_concat_chunks: GPT-style concatenate-then-chunk. All documents
  are laid end-to-end in doc-id order and cut every `chunk_tokens`
  tokens; a document maps to a [chunk_first, chunk_last] span plus its
  offset in the first chunk. The global token prefix-sum is computed
  DISTRIBUTED: per-shard window cumsums plus a tiny per-shard base
  offset table (one row per shard) — never a single-partition global
  window, which would serialize the whole corpus through one task at
  100 TB.

- pack_greedy: first-fit-sequential bin packing WITHIN a group
  (source/shard): walk docs in id order, open a new bin whenever the
  budget would overflow. Inherently sequential per group, so it runs
  as applyInPandas over the group key — groups pack in parallel, the
  sequential walk touches each group once. This is the packing used
  when documents must not straddle context boundaries.

No reference analog (the reference is a record ETL, not a training
pipeline); part of the LLM-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import token_count


def pack_concat_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 256,
    shard_span: int = 4096,
) -> DataFrame:
    """Concatenate-and-chunk packing. Returns one row per document:
    (id, n_tokens, start_offset, chunk_first, chunk_last,
    offset_in_chunk), all long.

    Distributed prefix sum: shard = floor(id / shard_span) is monotone
    in id, so (shard asc, id asc) is the global id order. Within-shard
    cumsums are ordinary partitioned windows; shard base offsets come
    from a window over the per-shard totals — a table with one row per
    shard (corpus_rows / shard_span ~ millions at 100 TB: still tiny),
    broadcast back. No stage ever orders more than one shard's rows on
    one task.
    """
    t = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        token_count(text_col).cast("long").alias("n_tokens"),
        (F.floor(F.col(id_col) / shard_span)).cast("long").alias("__shard"),
    )
    w_in = (
        Window.partitionBy("__shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = t.withColumn(
        "__within", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
    )
    shard_tot = t.groupBy("__shard").agg(F.sum("n_tokens").alias("__tot"))
    w_sh = Window.orderBy("__shard").rowsBetween(Window.unboundedPreceding, -1)
    bases = shard_tot.select(
        "__shard", F.coalesce(F.sum("__tot").over(w_sh), F.lit(0)).alias("__base")
    )
    c = F.lit(int(chunk_tokens))
    start = F.col("__base") + F.col("__within")
    last_tok = start + F.col("n_tokens") - 1
    return (
        t.join(F.broadcast(bases), "__shard")
        .select(
            "doc_id",
            "n_tokens",
            start.alias("start_offset"),
            F.floor(start / c).cast("long").alias("chunk_first"),
            F.when(F.col("n_tokens") == 0, F.floor(start / c))
            .otherwise(F.floor(last_tok / c))
            .cast("long")
            .alias("chunk_last"),
            (start % c).alias("offset_in_chunk"),
        )
    )


def pack_greedy(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    budget: int = 256,
) -> DataFrame:
    """First-fit-sequential packing per group: docs in id order
    accumulate into the current bin until adding one would exceed
    `budget`; that doc opens the next bin. A document larger than the
    budget gets a bin of its own (and overflows it — callers split or
    drop oversize docs upstream). Returns (group, doc_id, n_tokens,
    bin, bin_fill) with bin numbering starting at 0 per group.

    The walk is sequential BY DEFINITION (bin state carries across
    docs), so parallelism comes from the group key: applyInPandas
    shuffles each group to one task and packs groups concurrently. At
    100 TB the group is a shard/source key with bounded size — the
    same contract as any per-shard packing job.
    """
    b = int(budget)
    src = df.select(
        F.col(group_col).cast("string").alias("grp"),
        F.col(id_col).cast("long").alias("doc_id"),
        token_count(text_col).cast("long").alias("n_tokens"),
    )

    def _pack(pdf):  # type: ignore[no-untyped-def]
        import pandas as pd

        pdf = pdf.sort_values("doc_id", kind="mergesort").reset_index(drop=True)
        bins, fills = [], []
        cur_bin, cur_fill = 0, 0
        first = True
        for n in pdf["n_tokens"]:
            n = int(n)
            if first:
                cur_fill = n
                first = False
            elif cur_fill + n <= b:
                cur_fill += n
            else:
                cur_bin += 1
                cur_fill = n
            bins.append(cur_bin)
            fills.append(cur_fill)
        return pd.DataFrame(
            {
                "grp": pdf["grp"],
                "doc_id": pdf["doc_id"],
                "n_tokens": pdf["n_tokens"],
                "bin": pd.Series(bins, dtype="int64"),
                "bin_fill": pd.Series(fills, dtype="int64"),
            }
        )

    return src.groupBy("grp").applyInPandas(
        _pack, "grp string, doc_id long, n_tokens long, bin long, bin_fill long"
    )
