"""Multimodal columns: image/audio/video as opaque binary + typed
metadata (north-star extension).

Pattern: a `media` struct column
    media: STRUCT<bytes: BINARY, mime: STRING,
                  meta: STRUCT<width INT, height INT, duration_ms INT>>
flows through the relational plan untouched (binary columns are
just bytes to Tungsten; column pruning skips them when not selected --
which is exactly why media belongs in its OWN columns, never inside a
JSON blob).

Kernels run as Arrow-batched mapInPandas: one Python worker per
partition, zero-copy binary transfer. The package depends on no
codec (PIL/ffmpeg): frame sampling emits content-addressed stubs, and audio energy and aHash are exact byte arithmetic -- the
Spark-side plumbing (schema, batch iteration, partitioning) is real
and tested; swap a kernel body for a real codec in production.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_FRAME_SCHEMA = "key long, frame_idx int, frame binary, ts_ms int"


def sample_frames(
    df: DataFrame, every_ms: int = 1000, key_col: str = "key"
) -> DataFrame:
    """Video frame sampling: one output ROW PER SAMPLED FRAME (the
    1->N fan-out shape that distinguishes video from image kernels --
    mapInPandas yields more rows than it consumes). Sample instants
    are every `every_ms` over meta.duration_ms; the frame decode at
    each instant needs a codec the package does not depend on
    (ffmpeg), so the kernel emits a deterministic content-addressed
    frame stub per instant -- the fan-out arithmetic, schema, and
    partition behavior are the real thing.

    At scale the fan-out multiplies rows by duration/every_ms: keep
    the frame column OUT of downstream shuffles (extract features
    immediately, or write frames to object storage and carry keys).
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, idxs, frames, tss = [], [], [], []
            for key, b, dur in zip(
                pdf["key"], pdf["bytes"], pdf["duration_ms"]
            ):
                d = 0 if pd.isna(dur) else int(dur)  # null = still image
                n = max(1, d // every_ms)
                for i in range(n):
                    ts = i * every_ms
                    keys.append(key)
                    idxs.append(i)
                    frames.append(
                        hashlib.md5(b + f"@{ts}".encode()).digest()
                    )
                    tss.append(ts)
            yield pd.DataFrame(
                {
                    "key": pd.Series(keys, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame": pd.Series(frames, dtype=object),
                    "ts_ms": pd.Series(tss, dtype="int32"),
                }
            )

    slim = df.select(
        F.col(key_col).alias("key"),
        F.col("media.bytes").alias("bytes"),
        F.col("media.meta.duration_ms").alias("duration_ms"),
    )
    return slim.mapInPandas(kernel, schema=_FRAME_SCHEMA)


# --- audio: fixed-size window features --------------------------------------

_AUDIO_SCHEMA = "key long, win_idx int, n_bytes int, energy long"


def audio_energy_windows(
    df: DataFrame, window_bytes: int = 16, key_col: str = "key"
) -> DataFrame:
    """Audio feature extraction: one output row per fixed-size sample
    window -- the 1->ceil(len/window) fan-out shape of framed audio
    DSP (RMS/energy per frame). Treating the blob as unsigned 8-bit
    PCM, each window emits its exact integer energy (sum of squared
    sample values); the last partial window keeps its true n_bytes.
    No codec needed: the arithmetic is bytes-in, BIGINT-out, so this
    kernel is fully value-checkable in the oracle.

    At scale the window features are what flows downstream (VAD,
    loudness normalization, silence trimming all reduce over them);
    the blob itself never enters a shuffle.
    """
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, idxs, sizes, energies = [], [], [], []
            for key, b in zip(pdf["key"], pdf["bytes"]):
                arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
                n_win = max(1, -(-len(arr) // window_bytes))
                for w in range(n_win):
                    seg = arr[w * window_bytes : (w + 1) * window_bytes]
                    keys.append(key)
                    idxs.append(w)
                    sizes.append(len(seg))
                    energies.append(int((seg * seg).sum()))
            yield pd.DataFrame(
                {
                    "key": pd.Series(keys, dtype="int64"),
                    "win_idx": pd.Series(idxs, dtype="int32"),
                    "n_bytes": pd.Series(sizes, dtype="int32"),
                    "energy": pd.Series(energies, dtype="int64"),
                }
            )

    slim = df.select(
        F.col(key_col).alias("key"), F.col("media.bytes").alias("bytes")
    )
    return slim.mapInPandas(kernel, schema=_AUDIO_SCHEMA)


# --- image: perceptual average-hash (aHash) ---------------------------------

_AHASH_SCHEMA = "key long, h_lo long, h_hi long"


def image_ahash(df: DataFrame, key_col: str = "key") -> DataFrame:
    """Perceptual average-hash over an 8x8 grayscale image: bit i set
    when pixel i is brighter than the image mean (the classic aHash;
    resize+grayscale happen upstream -- here the 64 bytes ARE the
    8x8 plane, codec-free). Emitted as TWO 32-bit halves in BIGINTs
    (h_lo = bits 0..31, h_hi = bits 32..63): signed-64 wraparound
    never enters either engine, and hamming distance is
    bit_count(xor(lo)) + bit_count(xor(hi)).

    The mean comparison is cross-multiplied (pixel * 64 > total), so
    the bits are exact integers -- the oracle recomputes the identical
    hash from the same byte algebra.
    """
    import numpy as np

    # bit weights for the two 32-bit halves, built once per executor
    _w32 = (np.int64(1) << np.arange(32, dtype=np.int64))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {"key": pd.Series(dtype="int64"),
                     "h_lo": pd.Series(dtype="int64"),
                     "h_hi": pd.Series(dtype="int64")}
                )
                continue
            # one python loop per ROW to unpack the object column; all
            # per-pixel arithmetic is vectorized over the (n, 64) batch
            mats = np.stack(
                [
                    np.frombuffer(bytes(b[:64]).ljust(64, b"\0"), dtype=np.uint8)
                    for b in pdf["bytes"]
                ]
            ).astype(np.int64)
            totals = mats.sum(axis=1)
            mask = (mats * 64) > totals[:, None]
            lo = (mask[:, :32] * _w32).sum(axis=1)
            hi = (mask[:, 32:] * _w32).sum(axis=1)
            yield pd.DataFrame(
                {
                    "key": pd.Series(np.asarray(pdf["key"], dtype="int64")),
                    "h_lo": pd.Series(lo, dtype="int64"),
                    "h_hi": pd.Series(hi, dtype="int64"),
                }
            )

    slim = df.select(
        F.col(key_col).alias("key"), F.col("media.bytes").alias("bytes")
    )
    return slim.mapInPandas(kernel, schema=_AHASH_SCHEMA)
