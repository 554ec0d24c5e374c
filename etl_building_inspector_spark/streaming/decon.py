"""Streaming decontamination: the benchmark suite ARRIVES AS A
STREAM, and each micro-batch's mergeable Bloom filter incrementally
quarantines more of the (static) training corpus (VERDICT r9 #5c --
wiring queries_llm23's mergeable blooms into the streaming family).

foreachBatch is the right sink because the per-batch work (build
the batch bloom, screen only the STILL-CLEAN corpus docs,
confirm-join exactly) is stateful table
maintenance that declarative streaming sinks can't express. The
running quarantine set is the cross-batch state; because a doc is
screened only while clean, each batch's cost is O(|batch suite| +
|clean corpus grams|) and a doc already flagged is never re-read --
the same refresh contract as textops.bloom_decontaminate_incremental,
executed incrementally over an unbounded suite source.

Determinism: within a micro-batch the handler processes suite rows
grouped by their batch tag in ASCENDING order, and the staging layer
feeds files in tag order (strictly increasing mtimes +
maxFilesPerTrigger=1) -- so `flagged_batch` equals min(batch with a
gram hit) no matter how the source coalesces files, which is exactly
the SQL oracle's formulation.

At 100 TB the corpus gram table is the persisted artifact (one text
scan, reused every batch); per batch the bloom (128 KiB) broadcasts,
the probe is a narrow vectorized pass over the clean subset, and the
confirm join broadcasts the batch's exact gram pairs (suites are MBs
by contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._dist import ensure_workers_can_import
from ..functions.text import shingles, tokens
from ..operators._cache import track_persist
from ..operators.textops import _bloom_build, _bloom_positions, _gram_hash_pair


def streaming_bloom_decontaminate(
    spark: SparkSession,
    train: DataFrame,
    suite_stream: DataFrame,
    text_col: str,
    id_col: str,
    batch_col: str,
    n: int = 4,
    num_bits: int = 1 << 20,
    k_hashes: int = 5,
) -> DataFrame:
    """Run the suite stream to completion, incrementally flagging
    train docs; return one batch row per train doc --
    (id, flagged_batch, n_hits), flagged_batch = -1 for clean docs.

    `suite_stream` is a STREAMING DataFrame of benchmark docs carrying
    (id_col, text_col, batch_col). n_hits counts the doc's distinct
    grams present in its flagging batch's gram set (exact: bloom false
    positives die in the confirm join).
    """
    import numpy as np
    import pandas as pd

    ensure_workers_can_import(spark)

    # one corpus text scan, persisted: (id, ha, hb) int64 gram rows
    # serve every batch's probe
    tr = train.select(F.col(id_col), tokens(text_col).alias("__t")).select(
        F.col(id_col),
        F.array_distinct(shingles(text_col, n, toks=F.col("__t"))).alias("__g"),
    )
    ha, hb = _gram_hash_pair(F.col("__gg"))
    ex = track_persist(
        tr.select(id_col, F.explode("__g").alias("__gg")).select(
            F.col(id_col), ha.alias("__ha"), hb.alias("__hb")
        )
    )
    spine = train.select(F.col(id_col)).distinct()

    nb, kh = int(num_bits), int(k_hashes)
    state: dict = {"flagged": {}}  # id -> (batch, n_hits)

    def _screen_one_suite_batch(b: int, pairs: "np.ndarray") -> None:
        """Probe the still-clean corpus against suite batch b."""
        if pairs.size == 0:
            return
        bloom = _bloom_build(pairs[:, 0], pairs[:, 1], nb, kh)
        bc = spark.sparkContext.broadcast(bloom)

        @F.pandas_udf("boolean")
        def _might_contain(has, hbs):  # type: ignore[no-untyped-def]
            arr = bc.value
            p = _bloom_positions(
                has.to_numpy(dtype=np.int64), hbs.to_numpy(dtype=np.int64),
                nb, kh,
            )
            hit = ((arr[p >> 3] >> (p & 7).astype(np.uint8)) & 1).all(axis=1)
            return pd.Series(hit)

        flagged_ids = list(state["flagged"])
        clean_ex = ex
        if flagged_ids:
            quarantined = spark.createDataFrame(
                pd.DataFrame({id_col: flagged_ids}), schema=f"{id_col} long"
            )
            clean_ex = ex.join(F.broadcast(quarantined), id_col, "left_anti")
        pair_df = spark.createDataFrame(
            pd.DataFrame({"__ha": pairs[:, 0], "__hb": pairs[:, 1]}),
            schema="__ha long, __hb long",
        )
        hits = (
            clean_ex.filter(_might_contain(F.col("__ha"), F.col("__hb")))
            .join(F.broadcast(pair_df), ["__ha", "__hb"])
            .groupBy(id_col)
            .agg(F.count("*").alias("__n"))
            .collect()
        )
        for r in hits:
            state["flagged"][r[id_col]] = (b, int(r["__n"]))

    def _apply_batch(suite_batch: DataFrame, epoch_id: int) -> None:
        # ONE Spark job per micro-batch for the suite-side gram prep
        # (r11, VERDICT r10 #4): tokenize + shingle + hash the batch's
        # docs tagged by suite batch, collect the (tag, ha, hb) rows,
        # and group driver-side. This replaces three jobs -- the
        # isEmpty() probe (an empty batch collects zero rows), the
        # text collect, and the per-tag re-upload + gram collect --
        # while computing the exact same per-tag distinct gram sets
        # with the exact same Spark hash semantics (per-doc
        # array_distinct + cross-doc np.unique, unchanged).
        gha, ghb = _gram_hash_pair(F.col("__g"))
        prs = (
            suite_batch.select(
                F.col(batch_col), tokens(text_col).alias("__t")
            )
            .select(
                F.col(batch_col),
                F.explode(
                    F.array_distinct(shingles(text_col, n, toks=F.col("__t")))
                ).alias("__g"),
            )
            .select(F.col(batch_col), gha.alias("__a"), ghb.alias("__b"))
            .collect()
        )
        if not prs:
            return
        by_b: dict[int, list[tuple[int, int]]] = {}
        for r in prs:
            by_b.setdefault(int(r[batch_col]), []).append((r["__a"], r["__b"]))
        for b in sorted(by_b):  # ascending tag order within the trigger
            arr = np.unique(
                np.array(by_b[b], dtype=np.int64).reshape(-1, 2), axis=0
            )
            _screen_one_suite_batch(b, arr)

    # maxFilesPerTrigger is the SOURCE's option (the caller sets it on
    # readStream); here we only drain the stream to completion
    q = suite_stream.writeStream.foreachBatch(_apply_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    flg = state["flagged"]
    if flg:
        flagged_df = spark.createDataFrame(
            pd.DataFrame(
                {
                    id_col: list(flg),
                    "__fb": [v[0] for v in flg.values()],
                    "__nh": [v[1] for v in flg.values()],
                }
            ),
            schema=f"{id_col} long, __fb long, __nh long",
        )
    else:
        flagged_df = spark.createDataFrame([], schema=f"{id_col} long, __fb long, __nh long")
    return (
        spine.join(F.broadcast(flagged_df), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__fb"), F.lit(-1)).cast("long").alias("flagged_batch"),
            F.coalesce(F.col("__nh"), F.lit(0)).cast("long").alias("n_hits"),
        )
    )
