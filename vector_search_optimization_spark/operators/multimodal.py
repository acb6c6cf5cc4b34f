"""Multimodal asset processing (engine extension; SURVEY build brief).

Image/audio/video payloads ride as opaque ``binary`` columns with typed
metadata (schemas.ASSETS); decode / feature-extract / resize / frame-sample
run as Arrow-batched ``mapInPandas`` stages so the binary bytes stream
through executors without driver round-trips.

The container has no image/audio codecs (no PIL/ffmpeg), so the decode
step is STUBBED: a deterministic fake derives pixel/sample statistics from
the payload bytes — the Spark-side plumbing (schema, batching,
partitioning, UDF signatures) is real and tested, and a real decoder
replaces ``_fake_decode`` without touching the plan.

Reference analog: the OCR ingest path caps images at 768px (ocr.py:1) and
routes bytes to a vision model (L4) — the same binary-in, features-out
shape implemented here.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAX_IMAGE_PX = 768  # ocr.py:1 — reference's vision-input size cap

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.StringType()),
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha_prefix", T.StringType()),
        T.StructField("feature_vec", T.ArrayType(T.FloatType())),
    ]
)


def _fake_decode(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for a codec: byte-histogram features.

    Real deployments replace this with PIL/librosa/ffmpeg decoding; the
    signature (bytes -> float vector) is the contract.
    """
    if not payload:
        return np.zeros(16, dtype=np.float32)
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist, _ = np.histogram(arr, bins=16, range=(0, 256))
    return (hist / max(1, len(arr))).astype(np.float32)


def extract_features(assets: DataFrame) -> DataFrame:
    """Binary → feature-vector stage over mapInPandas (Arrow batches),
    decoding with the deterministic fake (no codecs in this container —
    clearly marked stub)."""
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats, shas, sizes = [], [], []
            for payload in pdf["payload"]:
                b = bytes(payload) if payload is not None else b""
                feats.append([float(x) for x in _fake_decode(b)])
                shas.append(hashlib.sha256(b).hexdigest()[:16])
                sizes.append(len(b))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "n_bytes": sizes,
                    "sha_prefix": shas,
                    "feature_vec": feats,
                }
            )

    return assets.select("asset_id", "modality", "payload").mapInPandas(
        batches, schema=FEATURES_SCHEMA
    )


def resize_plan(assets: DataFrame) -> DataFrame:
    """Pure-plan resize bookkeeping: target dimensions under the size cap
    (aspect-preserving), computed as column expressions. The pixel work
    itself belongs in a decoder UDF; this stage decides and records the
    geometry so the expensive decode only runs on assets that need it."""
    scale = F.when(
        F.greatest("width", "height") > MAX_IMAGE_PX,
        MAX_IMAGE_PX / F.greatest("width", "height").cast("double"),
    ).otherwise(F.lit(1.0))
    return assets.withColumn("resize_scale", F.round(scale, 6)).withColumn(
        "target_width", F.floor(F.col("width") * scale).cast("int")
    ).withColumn(
        "target_height", F.floor(F.col("height") * scale).cast("int")
    ).withColumn(
        "needs_resize", F.col("resize_scale") < 1.0
    )


def frame_sample_plan(assets: DataFrame) -> DataFrame:
    """Video frame-sampling plan: one output row per sampled timestamp
    (explode of a sequence — a UDTF-shaped operator with no Python).
    Decode of the actual frames is the stubbed decoder's job."""
    video = assets.where(F.col("modality") == "video")
    stamps = F.sequence(
        F.lit(0).cast("long"),
        F.greatest(F.col("duration_ms") - 1, F.lit(0)).cast("long"),
        F.lit(1000).cast("long"),
    )
    return video.select(
        "asset_id",
        F.posexplode(stamps).alias("frame_idx", "frame_ts_ms"),
    )
