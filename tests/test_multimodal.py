"""Multimodal plumbing tests: binary media columns and the
mapInPandas kernels (frame sampling, audio energy windows, aHash)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_building_inspector_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def media_df(spark, sf_dir):
    """A deterministic fake media column (bytes derived from the key via
    md5): stands in for reading real blobs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    payload = F.repeat(F.md5(F.col("doc_id").cast("string")), 4)
    return docs.withColumn(
        "media",
        F.struct(
            F.encode(payload, "utf-8").alias("bytes"),
            F.lit("image/png").alias("mime"),
            F.struct(
                (F.col("doc_id") % 64 + 1).cast("int").alias("width"),
                (F.col("doc_id") % 48 + 1).cast("int").alias("height"),
                F.lit(None).cast("int").alias("duration_ms"),
            ).alias("meta"),
        ),
    )


def test_media_schema(media_df):
    f = dict(media_df.dtypes)["media"]
    assert "bytes:binary" in f.replace(" ", "")
    assert "mime:string" in f.replace(" ", "")


def test_binary_column_pruned_when_not_selected(media_df):
    # selecting only the key must not carry the binary through the plan
    plan = media_df.select("doc_id")._jdf.queryExecution().optimizedPlan().toString()
    assert "bytes" not in plan


def test_sample_frames_fanout(spark, media_df):
    """frame sampling: one row per every_ms instant of duration_ms
    (1->N fan-out), deterministic frame bytes, images (null duration)
    degrade to a single frame."""
    from pyspark.sql import functions as F

    from etl_building_inspector_spark.operators.multimodal import (
        sample_frames,
    )

    vids = media_df.withColumn(
        "media",
        F.col("media").withField(
            "meta.duration_ms",
            (F.col("doc_id") % 3 * 1000 + 2500).cast("int"),
        ),
    )
    out = sample_frames(vids, every_ms=1000, key_col="doc_id")
    per_key = {
        r["key"]: r["n"]
        for r in out.groupBy("key").agg(F.count("*").alias("n")).collect()
    }
    for r in vids.select(F.col("doc_id").alias("key"), "media.meta.duration_ms").collect():
        assert per_key[r.key] == max(1, r.duration_ms // 1000)
    # deterministic + distinct instants
    f = out.filter(F.col("key") == out.first().key).collect()
    assert len({r.ts_ms for r in f}) == len(f)
    # image media (null duration) -> exactly one frame
    one = sample_frames(media_df, every_ms=1000, key_col="doc_id")
    counts = one.groupBy("key").count().collect()
    assert all(r["count"] == 1 for r in counts)


def test_audio_energy_windows_kernel(spark):
    """Exact window energies including the partial trailing window:
    recompute one blob's energies in plain python against the Arrow
    kernel's output."""
    from etl_building_inspector_spark.operators.multimodal import (
        audio_energy_windows,
    )

    payload = b"abcdefghijklmnopQRSTUVWXYZ012345xyz"  # 35 bytes: 2 full + 3
    df = spark.createDataFrame([(7, payload)], "key long, bytes binary").select(
        "key",
        F.struct(
            F.col("bytes"),
            F.lit("audio/pcm").alias("mime"),
            F.struct(
                F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"),
                F.lit(None).cast("int").alias("duration_ms"),
            ).alias("meta"),
        ).alias("media"),
    )
    rows = {r.win_idx: r for r in audio_energy_windows(df, window_bytes=16).collect()}
    assert set(rows) == {0, 1, 2}
    for w in range(3):
        seg = payload[w * 16 : (w + 1) * 16]
        assert rows[w].n_bytes == len(seg)
        assert rows[w].energy == sum(b * b for b in seg)


def test_audio_energy_empty_padding_single_window(spark):
    """A blob shorter than one window still yields exactly one row."""
    from etl_building_inspector_spark.operators.multimodal import (
        audio_energy_windows,
    )

    df = spark.createDataFrame([(1, b"ab")], "key long, bytes binary").select(
        "key",
        F.struct(
            F.col("bytes"),
            F.lit("audio/pcm").alias("mime"),
            F.struct(
                F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"),
                F.lit(None).cast("int").alias("duration_ms"),
            ).alias("meta"),
        ).alias("media"),
    )
    out = audio_energy_windows(df, window_bytes=16).collect()
    assert len(out) == 1
    assert out[0].n_bytes == 2 and out[0].energy == 97 * 97 + 98 * 98


def test_image_ahash_kernel_exact(spark):
    """aHash bits recomputed in plain python against the Arrow kernel:
    bit i set iff byte_i * 64 > sum(bytes), halves split at bit 32."""
    from etl_building_inspector_spark.operators.multimodal import image_ahash

    payload = bytes(range(64))  # strictly increasing: top half brighter
    df = spark.createDataFrame([(3, payload)], "key long, bytes binary").select(
        "key",
        F.struct(
            F.col("bytes"),
            F.lit("image/gray8").alias("mime"),
            F.struct(
                F.lit(8).cast("int").alias("width"),
                F.lit(8).cast("int").alias("height"),
                F.lit(None).cast("int").alias("duration_ms"),
            ).alias("meta"),
        ).alias("media"),
    )
    row = image_ahash(df).collect()[0]
    total = sum(payload)
    lo = sum(1 << i for i in range(32) if payload[i] * 64 > total)
    hi = sum(1 << (i - 32) for i in range(32, 64) if payload[i] * 64 > total)
    assert (row.h_lo, row.h_hi) == (lo, hi)
