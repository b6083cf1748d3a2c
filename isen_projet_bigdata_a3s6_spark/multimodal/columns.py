"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata (BASELINE.json north_star surface).

The Spark-side plumbing is real and tested — schemas, partition-preserving
``mapInPandas`` batch shape, Arrow transfer — while the codec step itself is
stubbed (image/audio libraries are not in this container): decode either
raises ``NotImplementedError`` (strict mode) or produces a deterministic
fake derived from the bytes (test mode). Swapping in a real decoder is a
one-function change; nothing about the distributed plan moves.

Scale posture: media blobs stay in executor-side Arrow batches end-to-end
(never collected); per-batch work is embarrassingly parallel; metadata-only
queries never touch the binary column thanks to parquet column pruning.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def decode_image_stub(data: bytes, strict: bool = False) -> np.ndarray:
    """STUB decode: a real implementation would call Pillow/opencv here.
    ``strict=True`` raises (production posture without codecs); otherwise
    returns a deterministic fake 8x8x3 array seeded by the content hash so
    downstream plumbing (resize/feature-extract) is testable."""
    if strict:
        raise NotImplementedError(
            "image codecs are not available in this environment; "
            "plug Pillow/opencv into decode_image_stub"
        )
    seed = int.from_bytes(hashlib.sha256(data or b"").digest()[:4], "big")
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)


_FEATURE_SCHEMA = (
    "media_id long, width int, height int, channels int, "
    "mean_r double, mean_g double, mean_b double"
)


def extract_image_features(
    df: DataFrame, id_col: str = "media_id", binary_col: str = "content"
) -> DataFrame:
    """Decode + feature-extract over ``mapInPandas``: Arrow batches in,
    per-image decode (stubbed), per-channel means out. The batch loop,
    schema, and partitioning are the production shape — only the decoder
    body is fake."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for mid, blob in zip(pdf[id_col], pdf[binary_col]):
                img = decode_image_stub(bytes(blob) if blob is not None else b"")
                out.append(
                    {
                        "media_id": int(mid),
                        "width": img.shape[1],
                        "height": img.shape[0],
                        "channels": img.shape[2],
                        "mean_r": float(img[:, :, 0].mean()),
                        "mean_g": float(img[:, :, 1].mean()),
                        "mean_b": float(img[:, :, 2].mean()),
                    }
                )
            yield pd.DataFrame(out, columns=[
                "media_id", "width", "height", "channels", "mean_r", "mean_g", "mean_b",
            ])

    return df.select(id_col, binary_col).mapInPandas(batches, _FEATURE_SCHEMA)
