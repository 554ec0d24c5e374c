"""Edge cases of the Bloom decontamination family (batch, incremental
and streaming operators over the one shared screen in
operators/textops.py), on a hand-built corpus with n=4 and two suite
batches:

* doc 1 hits both batches (1 gram of batch 0, 2 grams of batch 1), so
  it must be flagged by batch 0;
* doc 2 hits batch 1 only (2 grams);
* doc 3 has fewer than 4 tokens: zero grams, so its corpus gram row
  carries NULL hashes, which the screen must drop before its kernel;
* doc 4 is clean;
* one suite doc has no grams.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from etl_building_inspector_spark.operators.textops import (
    bloom_decontaminate,
    bloom_decontaminate_incremental,
    decontaminate_ngrams,
)
from etl_building_inspector_spark.streaming.decon import (
    streaming_bloom_decontaminate,
)

N = 4
TRAIN = [
    (1, "alpha beta gamma delta x red green blue yellow orange"),
    (2, "one red green blue yellow orange two"),
    (3, "too short"),
    (4, "nothing here matches any suite text at all"),
]
SUITE = [  # (doc_id, text, batch)
    (101, "alpha beta gamma delta epsilon", 0),
    (102, "red green blue yellow orange", 1),
    (103, "tiny one", 1),
]


def _train(spark):
    return spark.createDataFrame(TRAIN, "doc_id long, text string")


def _suite(spark, batch=None):
    rows = [r for r in SUITE if batch is None or r[2] == batch]
    return spark.createDataFrame(rows, "doc_id long, text string, batch long")


def test_bloom_decontaminate_equals_exact_path(spark):
    train, suite = _train(spark), _suite(spark)
    got = bloom_decontaminate(train, suite, "text", "doc_id", n=N)
    ref = decontaminate_ngrams(train, suite, "text", "doc_id", n=N)
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0
    assert {r["doc_id"]: tuple(r)[1:] for r in got.collect()} == {
        1: (7, 3, True),
        2: (4, 2, True),
        3: (0, 0, False),
        4: (5, 0, False),
    }


def test_bloom_decontaminate_incremental_statuses(spark):
    out = bloom_decontaminate_incremental(
        _train(spark), _suite(spark, 0), _suite(spark, 1), "text", "doc_id", n=N
    )
    assert {r["doc_id"]: (r["status"], r["n_hits"]) for r in out.collect()} == {
        1: ("base", 1),
        2: ("delta", 2),
        3: ("clean", 0),
        4: ("clean", 0),
    }


def test_streaming_bloom_decontaminate_flags_min_batch(spark, tmp_path):
    # one file per batch tag, mtimes increasing in tag order, read one
    # file per trigger
    suite_dir = tmp_path / "suite"
    suite_dir.mkdir()
    cols = ["doc_id", "text", "batch"]
    for b in (0, 1):
        path = suite_dir / f"b{b}.parquet"
        part = pd.DataFrame([r for r in SUITE if r[2] == b], columns=cols)
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), path)
        os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
    stream = (
        spark.readStream.schema("doc_id long, text string, batch long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(suite_dir))
    )
    out = streaming_bloom_decontaminate(
        spark, _train(spark), stream, "text", "doc_id", "batch", n=N
    )
    assert {
        r["doc_id"]: (r["flagged_batch"], r["n_hits"]) for r in out.collect()
    } == {1: (0, 1), 2: (1, 2), 3: (-1, 0), 4: (-1, 0)}
