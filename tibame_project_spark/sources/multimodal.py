"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Engine extension (BASELINE.json north star). The Spark-side plumbing —
schema, Arrow batch shape, mapInPandas signatures, partition sizing — is real
and tested; the actual media decode is STUBBED because no image/audio libs
exist in this container: ``decode_fn=None`` uses a deterministic fake
(byte-statistics features); a real decoder (PIL/librosa/ffmpeg) plugs in as
``decode_fn``.

Scale notes: binary payloads ride the normal columnar path (parquet binary),
so partition sizing must budget for payload width —
``spark.sql.files.maxPartitionBytes`` governs scan splits; the mapInPandas
batch size (``spark.sql.execution.arrow.maxRecordsPerBatch``) bounds peak
Python memory to batch_rows × payload.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def _fake_decode(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for a real decoder: per-bucket byte means.
    Replaces (not approximates) image-decode → embed in this container."""
    if not payload:
        return [0.0] * dim
    step = max(1, len(payload) // dim)
    return [
        float(sum(payload[i * step : (i + 1) * step]) % 256) / 255.0
        for i in range(dim)
    ]


def extract_features(
    media: DataFrame,
    *,
    decode_fn: Callable[[bytes], list[float]] | None = None,
    dim: int = 8,
) -> DataFrame:
    """mapInPandas feature extraction over a MEDIA-schema DataFrame.

    Arrow-batched: each pandas chunk holds a bounded number of binary
    payloads; decode happens per element inside the batch. The output drops
    the payload, so downstream stages shuffle features, never bytes.
    """
    from tibame_project_spark.partitioning import ensure_parallelism

    media = ensure_parallelism(media)  # decode is CPU-dense per row
    fn = decode_fn or (lambda b: _fake_decode(b, dim))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["content"].map(lambda b: len(b) if b is not None else 0),
                    "feature": pdf["content"].map(lambda b: fn(bytes(b)) if b is not None else None),
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


def sample_frames(
    media: DataFrame,
    *,
    every_ms: int = 1000,
) -> DataFrame:
    """Frame sampling plan for video rows: one output row per sampled frame
    timestamp, computed from metadata only (decode stubbed). Demonstrates
    the explode-on-metadata pattern: frame enumeration is a pure column
    expression; the (stubbed) per-frame decode would ride extract_features."""
    n_frames = (F.col("meta.duration_ms") / every_ms).cast("int")
    return (
        media.filter(F.col("kind") == "video")
        .withColumn("frame_idx", F.explode(F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)))))
        .withColumn("frame_ts_ms", F.col("frame_idx") * every_ms)
        .select("media_id", "frame_idx", "frame_ts_ms", "meta")
    )


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes_in", T.LongType()),
        T.StructField("n_bytes_out", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def _fake_resize(payload: bytes, target_bytes: int) -> bytes:
    """Deterministic stand-in for a real resize/transcode: nearest-neighbor
    byte subsampling — every ceil(n/target)-th byte, the 1-D analogue of
    image downsampling. Replaces (not approximates) PIL.thumbnail/ffmpeg
    scale in this container."""
    if not payload or len(payload) <= target_bytes:
        return payload
    step = -(-len(payload) // target_bytes)  # ceil division
    return payload[::step]


def resize_media(
    media: DataFrame,
    *,
    target_bytes: int = 256,
    resize_fn: Callable[[bytes], bytes] | None = None,
) -> DataFrame:
    """mapInPandas resize/transcode over a MEDIA-schema DataFrame — the
    payload-shrinking stage a media pipeline runs before shipping bytes
    anywhere (thumbnail, audio downsample, frame transcode). binary in →
    binary out WITH the payload retained, so unlike ``extract_features``
    this stage's output still pays payload width — run it early, write the
    resized table, and let every downstream stage read the small payloads.

    Arrow-batched like the other multimodal stages; the real resizer
    (PIL thumbnail / ffmpeg scale) plugs in as ``resize_fn``, the default
    is the deterministic fake (byte subsampling)."""
    from tibame_project_spark.partitioning import ensure_parallelism

    media = ensure_parallelism(media)
    fn = resize_fn or (lambda b: _fake_resize(b, target_bytes))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = pdf["content"].map(
                lambda b: fn(bytes(b)) if b is not None else None
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes_in": pdf["content"].map(
                        lambda b: len(b) if b is not None else 0
                    ),
                    "n_bytes_out": resized.map(
                        lambda b: len(b) if b is not None else 0
                    ),
                    "content": resized,
                }
            )

    return media.mapInPandas(run, RESIZE_SCHEMA)
