"""Multimodal column plumbing: opaque ``binary`` payloads + typed
metadata, with decode / feature-extract / frame-sample as Arrow
pandas UDFs over ``mapInPandas``.

The actual media decoding is STUBBED (this container has no
PIL/ffmpeg/torchaudio): ``_decode_stub`` produces a deterministic
fake byte->feature mapping, clearly marked. Everything Spark-side —
schema, partitioning, UDF signature, Arrow batch shape — is real and
tested; swapping the stub for a real decoder changes no plan.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

FEATURE_SCHEMA = "doc_id long, mime string, features array<float>"

FRAME_SCHEMA = "doc_id long, frame_idx int, frame binary"


def attach_blob(docs: DataFrame) -> DataFrame:
    """Wrap each document as an opaque media row: binary payload +
    typed metadata (the engine treats payloads as bytes; only metadata
    is columnar/filterable — the 100 TB pattern for images/audio)."""
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.when(F.col("doc_id") % 3 == 0, "image/png")
         .when(F.col("doc_id") % 3 == 1, "audio/wav")
         .otherwise("video/mp4").alias("mime"),
        (F.pmod(F.xxhash64("doc_id"), F.lit(1024)) + 64).cast("int").alias("width"),
        (F.pmod(F.xxhash64("doc_id", F.lit(1)), F.lit(768)) + 64).cast("int").alias("height"),
        F.length("text").cast("long").alias("n_bytes"),
        F.encode("text", "utf-8").alias("payload"),
    )


def _decode_stub(payload: bytes, n_features: int) -> np.ndarray:
    """STUB decoder: deterministic bytes -> feature vector.

    A real deployment replaces this body with e.g. PIL decode +
    CNN features; the Arrow batching around it is unchanged. The fake
    is sha256-seeded so tests are exactly reproducible."""
    h = hashlib.sha256(payload).digest()
    raw = np.frombuffer((h * ((4 * n_features) // len(h) + 1))[: 4 * n_features],
                        dtype=np.uint32)
    return (raw.astype(np.float64) / np.iinfo(np.uint32).max).astype(np.float32)


def extract_features(media: DataFrame, n_features: int = 16) -> DataFrame:
    """Feature extraction over media payloads — Arrow-batched; one
    Python roundtrip per batch, never per row."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _decode_stub(bytes(p), n_features) for p in pdf["payload"]
            ]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "mime": pdf["mime"],
                "features": feats,
            })

    return media.mapInPandas(kernel, FEATURE_SCHEMA)


RESIZED_SCHEMA = (
    "doc_id long, mime string, width int, height int, n_bytes long, "
    "payload binary"
)


def resize_images(media: DataFrame, target_w: int = 224,
                  target_h: int = 224) -> DataFrame:
    """Image resize over the media rows (images only — metadata
    predicate prunes the other modalities before Python). STUB pixel
    math: the payload is truncated/zero-padded to the target byte
    budget deterministically (a real deployment decodes + bilinear-
    resamples inside the same Arrow batch loop); the metadata update,
    modality filter, batch shape, and output schema are the real
    contract."""
    budget = target_w * target_h * 3 // 64  # fake 64:1 'compression'

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out = [bytes(p)[:budget].ljust(budget, b"\0")
                   for p in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "mime": pdf["mime"],
                "width": np.full(len(pdf), target_w, dtype=np.int32),
                "height": np.full(len(pdf), target_h, dtype=np.int32),
                "n_bytes": np.full(len(pdf), budget, dtype=np.int64),
                "payload": out,
            })

    return (media.where(F.col("mime") == "image/png")
            .mapInPandas(kernel, RESIZED_SCHEMA))


def frame_sample(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame sampling for video payloads: n_frames evenly spaced byte
    slices (STUB for real frame extraction; the explode shape and
    per-frame binary schema are the real contract)."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            frames = []
            for p in pdf["payload"]:
                p = bytes(p)
                step = max(1, len(p) // n_frames)
                frames.extend(p[i * step:(i + 1) * step]
                              for i in range(n_frames))
            yield pd.DataFrame({
                "doc_id": np.repeat(pdf["doc_id"].to_numpy(), n_frames),
                "frame_idx": np.tile(np.arange(n_frames), n),
                "frame": frames,
            })

    return (media.where(F.col("mime") == "video/mp4")
            .mapInPandas(kernel, FRAME_SCHEMA))
