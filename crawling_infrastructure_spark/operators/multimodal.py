"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns + typed metadata, processed with mapInPandas in Arrow batches.

The container has no image/audio codecs, so the *decode* step is stubbed
(deterministic fake features, or NotImplementedError for the real-codec
path) while everything Spark-side — schema, batch shape, partition sizing —
is real and tested. Swapping the stub for PIL/torchaudio changes ONE
function, not the plan.

Scale note: binary payloads ride the Arrow transfer; keep
``spark.sql.execution.arrow.maxRecordsPerBatch`` sized so batch_bytes =
records x avg_payload stays ~10-100 MB per Python worker."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_DIM = 8

MEDIA_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def decode_media(payload: bytes) -> np.ndarray:
    """REAL decode path — requires codec libs absent from this container."""
    raise NotImplementedError(
        "media decode requires PIL/libav; use fake_feature() in this sandbox"
    )


def fake_feature(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in feature: byte-histogram moments. Same shape,
    dtype, and batch mechanics as a real embedding."""
    if not payload:
        return np.zeros(dim, dtype=np.float32)
    arr = np.frombuffer(payload, dtype=np.uint8)
    chunks = np.array_split(arr.astype(np.float32), dim)
    return np.array([c.mean() if len(c) else 0.0 for c in chunks], dtype=np.float32)


def sniff_format(payload: bytes) -> str:
    if not payload:
        return "empty"
    if payload[:2] == b"\xff\xd8":
        return "jpeg"
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if payload[:4] == b"RIFF":
        return "riff"
    return "unknown"


def sniff_format_col(payload) -> F.Column:
    """JVM-side twin of sniff_format: magic-byte dispatch as hex-prefix
    compares — whole-stage codegen, zero Python."""
    p = F.coalesce(payload, F.lit(b""))
    return (
        F.when(F.length(p) == 0, F.lit("empty"))
        .when(F.hex(F.substring(p, 1, 2)) == "FFD8", F.lit("jpeg"))
        .when(F.hex(F.substring(p, 1, 8)) == "89504E470D0A1A0A", F.lit("png"))
        .when(F.hex(F.substring(p, 1, 4)) == "52494646", F.lit("riff"))
        .otherwise(F.lit("unknown"))
    )


def extract_media_features(
    media: DataFrame, id_col: str = "media_id", payload_col: str = "payload",
) -> DataFrame:
    """(id, binary payload) -> (id, n_bytes, format, feature[dim]).

    Split by where the work belongs: n_bytes (length on binary) and format
    (magic-byte dispatch) are plain JVM expressions; only the decode/feature
    step is Python, as a SCALAR Arrow-batched pandas UDF. Because the
    feature is one projected expression (not a mapInPandas that rewrites the
    whole row set), Catalyst prunes the Python stage entirely when a caller
    drops the feature column — a metadata-only query over 100 TB of media
    never launches a Python worker. The decode is the stubbed step
    (fake_feature); a real codec (decode_media) slots in here."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def feature_udf(payloads: pd.Series) -> pd.Series:
        return pd.Series(
            [
                fake_feature(bytes(p) if p is not None else b"").tolist()
                for p in payloads
            ]
        )

    p = F.col(payload_col)
    return media.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.coalesce(F.length(p), F.lit(0)).cast("long").alias("n_bytes"),
        sniff_format_col(p).alias("format"),
        feature_udf(p).alias("feature"),
    )


def frame_sample_plan(media: DataFrame, every_nth: int = 10) -> DataFrame:
    """Video frame-sampling *plan*: expands (media_id, n_frames) metadata to
    (media_id, frame_idx) rows JVM-side with sequence+explode; the decode of
    each sampled frame is the stubbed step."""
    return media.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)), F.lit(every_nth))
        ).alias("frame_idx"),
    )


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("pixels", T.BinaryType(), True),
    ]
)


def fake_decode_image(payload: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic decode stand-in: tile the payload bytes into a
    (height, width) uint8 grid. Same array contract a real decoder
    (PIL.Image -> np.asarray) satisfies; replays byte-identically."""
    if not payload:
        return np.zeros((height, width), dtype=np.uint8)
    arr = np.frombuffer(payload, dtype=np.uint8)
    reps = -(-(width * height) // len(arr))
    return np.tile(arr, reps)[: width * height].reshape(height, width)


def resize_media(
    media: DataFrame,
    width: int,
    height: int,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """(id, binary payload) -> (id, width, height, pixels) resized via
    nearest-neighbor over the decoded array — the resize leg of the
    decode/feature/resize/frame-sample quartet. mapInPandas (not a scalar
    UDF): resize REPLACES the payload column rather than extending the row,
    so the batch both consumes and emits binary columns and the output
    schema is declared once (RESIZE_SCHEMA). The decode is the stubbed
    step (fake_decode_image); the nearest-neighbor index arithmetic, Arrow
    batch mechanics, and schema are the real thing a PIL-backed decoder
    slots under unchanged."""

    def run(batches):
        for pdf in batches:
            ids, pix = [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload) if payload is not None else b""
                img = fake_decode_image(raw, max(width * 2, 1), max(height * 2, 1))
                ys = (np.arange(height) * img.shape[0] // height).astype(np.int64)
                xs = (np.arange(width) * img.shape[1] // width).astype(np.int64)
                ids.append(mid)
                pix.append(img[np.ix_(ys, xs)].tobytes())
            yield pd.DataFrame(
                {
                    "media_id": np.asarray(ids, dtype=np.int64),
                    "width": np.full(len(ids), width, dtype=np.int32),
                    "height": np.full(len(ids), height, dtype=np.int32),
                    "pixels": pix,
                }
            )

    return media.select(
        F.col(id_col).cast("long").alias(id_col), F.col(payload_col)
    ).mapInPandas(run, RESIZE_SCHEMA)
