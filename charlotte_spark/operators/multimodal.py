"""Multimodal column handling (SURVEY §2.2 D72).

Media assets are opaque ``binary`` columns plus a typed metadata
struct — the layout a 100 TB multimodal corpus uses (bytes inline for
small assets, or a URI + byte-range for large ones; both shapes below).
Decode / feature-extraction runs as Arrow-batched ``mapInPandas`` so
each task processes a columnar batch of blobs without JVM round-trips
per asset.

Codec selection is by capability detection: if PIL/Pillow imports, the
real decoder runs; otherwise (this container has no codec libs) a
deterministic stub (derived from the bytes' md5) stands in, with a
one-time logged notice. ``CHARLOTTE_FAKE_DECODE=1`` forces the stub
even when a codec is present (deterministic tests). The Spark plumbing
(schemas, batching, partitioning, UDF signatures) is identical on both
paths.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DECODED_IMAGE = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("format", T.StringType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)


def attach_media_meta(df: DataFrame, binary_col: str, kind: str) -> DataFrame:
    """Add the typed metadata struct next to an opaque binary column."""
    b = F.col(binary_col)
    return df.withColumn(
        "media_meta",
        F.struct(
            F.lit(kind).alias("kind"),
            F.length(b).cast("long").alias("content_length"),
            F.md5(b).alias("content_md5"),
            F.lit(None).cast("string").alias("uri"),
        ),
    )


def _fake_decode(data: bytes) -> tuple[int, int, int, str, float]:
    """Deterministic stand-in for an image codec (md5-derived)."""
    h = hashlib.md5(data).digest()
    width = 64 + h[0] * 4
    height = 64 + h[1] * 4
    channels = 3 if h[2] % 2 == 0 else 1
    fmt = ("png", "jpeg", "webp")[h[3] % 3]
    mean_luma = h[4] / 255.0
    return width, height, channels, fmt, mean_luma


def _pil_decode(data: bytes) -> tuple[int, int, int, str, float]:
    """Real codec path (only reachable when Pillow is installed)."""
    import io

    import numpy as np
    from PIL import Image

    with Image.open(io.BytesIO(data)) as im:
        width, height = im.size
        channels = len(im.getbands())
        fmt = (im.format or "unknown").lower()
        luma = np.asarray(im.convert("L"), dtype=np.float64)
        return width, height, channels, fmt, float(luma.mean() / 255.0)


def codec_available() -> bool:
    """True iff a real image codec (Pillow) imports in this environment."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except Exception:
        return False


_notified = False


def decode_image_batch(df: DataFrame, id_col: str, binary_col: str) -> DataFrame:
    """Arrow-batched decode: (id, bytes) -> DECODED_IMAGE rows.

    Capability-detected: uses Pillow when importable, else the
    deterministic stub (one-time logged notice). Works with no
    environment configuration; CHARLOTTE_FAKE_DECODE=1 forces the stub.
    """
    use_real = codec_available() and os.environ.get("CHARLOTTE_FAKE_DECODE") != "1"
    if not use_real:
        global _notified
        if not _notified:
            import logging

            logging.getLogger(__name__).info(
                "no image codec available (or CHARLOTTE_FAKE_DECODE=1): "
                "decode_image_batch uses the deterministic md5-derived stub"
            )
            _notified = True

    def decode(batches):
        dec = _pil_decode if use_real else _fake_decode
        for pdf in batches:
            decoded = [dec(bytes(b)) for b in pdf[binary_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "channels": [d[2] for d in decoded],
                    "format": [d[3] for d in decoded],
                    "mean_luma": [d[4] for d in decoded],
                }
            )

    return df.select(F.col(id_col), F.col(binary_col)).mapInPandas(decode, DECODED_IMAGE)


def sample_frames(df: DataFrame, id_col: str, binary_col: str, every_n: int = 10) -> DataFrame:
    """Video frame-sampling plumbing: one row per sampled frame index.

    Frame count is stubbed from the blob length (a real build reads the
    container header); the explode/batch shape is the production one.
    """
    n_frames = (F.length(binary_col) % 100 + 1).cast("int")
    return df.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))).alias("frame_idx"),
    )
