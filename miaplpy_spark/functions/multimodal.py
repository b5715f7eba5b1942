"""Multimodal column plumbing: opaque ``binary`` payloads + typed
metadata, with decode + feature extraction as an Arrow-batched pandas
UDF over ``mapInPandas``.

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

