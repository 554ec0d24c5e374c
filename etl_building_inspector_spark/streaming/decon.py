"""Streaming decontamination: the benchmark suite ARRIVES AS A
STREAM, and each micro-batch incrementally quarantines more of the
(static) training corpus through the same Bloom screen as the batch
and incremental operators (operators/textops.py: suite_gram_pairs,
corpus_gram_rows, bloom_screen).

foreachBatch is the right sink because the per-batch work (collect
the batch's gram pairs per suite tag, screen only the STILL-CLEAN
corpus docs, confirm exactly) is stateful table maintenance that
declarative streaming sinks can't express. The running quarantine
set is the cross-batch state, kept on the driver; because a doc is
screened only while clean, each batch's cost is O(|batch suite| +
|clean corpus grams|) and a doc already flagged is never re-read --
the refresh contract of textops.bloom_decontaminate_incremental,
executed over an unbounded suite source. Each micro-batch runs one
suite collect plus one screen per suite tag it carries.

Determinism: within a micro-batch the handler screens suite tags in
ASCENDING order, and the staging layer feeds files in tag order
(strictly increasing mtimes + maxFilesPerTrigger=1) -- so
`flagged_batch` equals min(batch with a gram hit) no matter how the
source coalesces files, which is exactly the SQL oracle's
formulation.

At 100 TB the corpus gram rows are the persisted artifact (one text
scan, reused by every batch's screen and by the output spine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.textops import bloom_screen, corpus_gram_rows, suite_gram_pairs


def streaming_bloom_decontaminate(
    spark: SparkSession,
    train: DataFrame,
    suite_stream: DataFrame,
    text_col: str,
    id_col: str,
    batch_col: str,
    n: int = 4,
) -> DataFrame:
    """Run the suite stream to completion, incrementally flagging
    train docs; return one batch row per train doc --
    (id, flagged_batch, n_hits), flagged_batch = -1 for clean docs.

    `suite_stream` is a STREAMING DataFrame of benchmark docs carrying
    (id_col, text_col, batch_col). n_hits counts the doc's distinct
    grams present in its flagging batch's gram set (exact: bloom false
    positives die in the confirm join).
    """
    import pandas as pd

    ex = corpus_gram_rows(train, text_col, id_col, n)
    flagged: dict = {}  # id -> (batch, n_hits)

    def _apply_batch(suite_batch: DataFrame, epoch_id: int) -> None:
        pairs = suite_gram_pairs(suite_batch, text_col, n, F.col(batch_col))
        for b in sorted(pairs):  # ascending tag order within the trigger
            clean_ex = ex
            if flagged:
                quarantined = spark.createDataFrame(
                    pd.DataFrame({id_col: list(flagged)}),
                    schema=f"{id_col} long",
                )
                clean_ex = ex.join(F.broadcast(quarantined), id_col, "left_anti")
            hits = bloom_screen(clean_ex, pairs[b], id_col)
            for r in hits.collect():
                flagged[r[id_col]] = (b, int(r["__hits"]))

    # maxFilesPerTrigger is the SOURCE's option (the caller sets it on
    # readStream); here we only drain the stream to completion
    q = suite_stream.writeStream.foreachBatch(_apply_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    flagged_df = spark.createDataFrame(
        pd.DataFrame(
            {
                id_col: list(flagged),
                "__fb": [v[0] for v in flagged.values()],
                "__nh": [v[1] for v in flagged.values()],
            }
        ),
        schema=f"{id_col} long, __fb long, __nh long",
    )
    return (
        ex.select(id_col)
        .distinct()
        .join(F.broadcast(flagged_df), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__fb"), F.lit(-1)).cast("long").alias("flagged_batch"),
            F.coalesce(F.col("__nh"), F.lit(0)).cast("long").alias("n_hits"),
        )
    )
