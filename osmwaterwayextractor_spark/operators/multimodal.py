"""Multimodal column plumbing (graft brief).

Image/audio/video payloads are opaque ``binary`` columns with typed metadata.
The DECODE step is stubbed (no image/audio libs in this container — each stub
is a deterministic fake clearly marked, or raises NotImplementedError when
``strict=True``); the Spark-side plumbing — schemas, Arrow batch shapes,
``mapInPandas`` signatures, partition sizing — is real and tested, so a real
decoder drops in by replacing one function.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "media_id string, kind string, feature array<float>, feat_dim int"
THUMB_SCHEMA = "media_id string, thumb binary, thumb_w int, thumb_h int"


def synthesize_media(docs: DataFrame, media_ref_col: str = "media_ref") -> DataFrame:
    """Deterministic fake media table from media refs (payload = utf8 bytes of
    the ref — stands in for fetched bytes; metadata derived from a stable hash)."""
    h = F.abs(F.xxhash64(media_ref_col))
    return docs.where(F.col(media_ref_col) != "").select(
        F.col(media_ref_col).alias("media_id"),
        F.when(h % 3 == 0, "image").when(h % 3 == 1, "audio").otherwise("video").alias("kind"),
        F.encode(F.col(media_ref_col), "utf-8").alias("payload"),
        ((h % 1920) + 1).cast("int").alias("width"),
        ((h % 1080) + 1).cast("int").alias("height"),
        F.when(h % 3 == 1, 16000).otherwise(None).cast("int").alias("sample_rate"),
        F.when(h % 3 == 2, ((h % 300) + 1)).otherwise(None).cast("int").alias("n_frames"),
    )


def _decode_stub(payload: bytes, kind: str, strict: bool) -> np.ndarray:
    """STUB decoder. Real pipelines plug PIL/ffmpeg here; this container has
    neither, so we derive a deterministic fake pixel/sample array from a
    sha256 of the payload (stable across runs/partitions)."""
    if strict:
        raise NotImplementedError("media decode requires image/audio libs not present here")
    digest = hashlib.sha256(payload or b"").digest()
    return np.frombuffer(digest, dtype=np.uint8).astype(np.float32)


def extract_features(media: DataFrame, feat_dim: int = 32, strict: bool = False) -> DataFrame:
    """mapInPandas feature extraction: Arrow-batched binary in, fixed-dim
    float vectors out — the real batch shape a GPU/CPU encoder would use."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                raw = _decode_stub(bytes(payload) if payload is not None else b"", kind, strict)
                v = np.resize(raw, feat_dim) / 255.0
                feats.append(v.astype(np.float32))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": feats,
                    "feat_dim": feat_dim,
                }
            )

    return media.mapInPandas(kernel, schema=FEATURE_SCHEMA)


def resize_images(media: DataFrame, max_side: int = 256, strict: bool = False) -> DataFrame:
    """Resize plumbing for image rows: computes target dims JVM-side, emits a
    stub thumbnail payload (sha256 of source) via mapInPandas."""
    imgs = media.where(F.col("kind") == "image").withColumn(
        "scale",
        F.when(
            F.greatest("width", "height") > max_side,
            max_side / F.greatest("width", "height"),
        ).otherwise(1.0),
    ).withColumn("thumb_w", F.greatest(F.round(F.col("width") * F.col("scale")).cast("int"), F.lit(1))) \
     .withColumn("thumb_h", F.greatest(F.round(F.col("height") * F.col("scale")).cast("int"), F.lit(1)))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            thumbs = []
            for payload in pdf["payload"]:
                raw = _decode_stub(bytes(payload) if payload is not None else b"", "image", strict)
                thumbs.append(raw.astype(np.uint8).tobytes())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "thumb": thumbs,
                    "thumb_w": pdf["thumb_w"],
                    "thumb_h": pdf["thumb_h"],
                }
            )

    return imgs.mapInPandas(kernel, schema=THUMB_SCHEMA)


def sample_frames(media: DataFrame, every_n: int = 30) -> DataFrame:
    """Frame-sample plan for video rows — frame indexes JVM-side (sequence),
    one row per sampled frame; the decode of each frame stays stubbed."""
    vids = media.where((F.col("kind") == "video") & F.col("n_frames").isNotNull())
    return vids.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))).alias("frame_idx"),
    )
