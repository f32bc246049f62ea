"""Multimodal (image/audio/video) column plumbing for training pipelines.

Media travel as opaque ``binary`` payloads with typed metadata — the only
representation that survives 100 TB: Spark never interprets the bytes, so
scans prune to (id, meta) unless a stage actually touches ``payload``
(column pruning keeps the binary out of shuffles that don't need it).

The decode kernels (image decode, audio resample, video frame extraction)
need PIL/ffmpeg-class libraries that are NOT in this container, so each
kernel is split:

- the Spark side — schema, partition sizing, ``mapInPandas`` batch shape,
  Arrow transfer, output contract — is REAL and tested;
- the byte-level codec is a ``Codec`` hook: the default raises
  ``NotImplementedError`` naming the library to install, and a
  deterministic fake codec (pure numpy over the payload bytes) stands in
  for tests and plan-shape validation.

Batches flow through ``mapInPandas`` (not applyInPandas): decode is
row-local, so no shuffle is induced; ``spark.sql.files.maxPartitionBytes``
and ``maxRecordsPerBatch`` govern memory per task, which matters because
decoded frames can be 100x the payload size.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("mime", StringType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)

Codec = Callable[[bytes], np.ndarray]


def real_image_decode(payload: bytes) -> np.ndarray:
    raise NotImplementedError(
        "image decode requires Pillow (`pip install pillow`) which is not "
        "in this container; inject a Codec or use fake_decode for tests"
    )


def fake_decode(feature_dim: int = 16) -> Codec:
    """Deterministic stand-in codec: payload bytes -> fixed-dim float32.

    Pure function of the bytes (folded buckets, mean-normalized) so tests
    get stable values through the full Arrow round-trip.
    """

    def codec(payload: bytes) -> np.ndarray:
        arr = np.frombuffer(payload, dtype=np.uint8)
        if len(arr) == 0:
            return np.zeros(feature_dim, dtype=np.float32)
        pad = (-len(arr)) % feature_dim
        folded = np.pad(arr, (0, pad)).reshape(-1, feature_dim)
        return (folded.mean(axis=0) / 255.0).astype(np.float32)

    return codec


def extract_features(
    df: DataFrame,
    codec: Codec | None = None,
    feature_dim: int = 16,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """payload -> float feature vector via Arrow-batched mapInPandas.

    The per-batch loop is over MEDIA ITEMS (each a whole file), not Spark
    rows of a relational plan — exactly the granularity a real decoder
    needs; the vector math inside the codec is numpy-vectorized.
    """
    codec = codec or fake_decode(feature_dim)
    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("feature", ArrayType(FloatType())),
            StructField("payload_bytes", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [codec(bytes(p)) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].to_numpy(),
                    "feature": [f.tolist() for f in feats],
                    "payload_bytes": [len(bytes(p)) for p in pdf[payload_col]],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, schema)


def frame_sample(
    df: DataFrame,
    every_ms: int = 1000,
    id_col: str = "media_id",
    payload_col: str = "payload",
    duration_col: str = "duration_ms",
    frame_codec: Callable[[bytes, int], bytes] | None = None,
) -> DataFrame:
    """Sample frames at a fixed period: one output row per (media, frame).

    Frame TIMES come from pure exprs (sequence/explode — no Python);
    only byte extraction runs in the batched kernel. The default frame
    codec is a deterministic fake (a byte slice keyed by the timestamp);
    a real one seeks the container stream at frame_ts.
    """
    if frame_codec is None:

        def frame_codec(payload: bytes, ts: int) -> bytes:  # deterministic fake
            if not payload:
                return b""
            start = ts % max(len(payload), 1)
            return payload[start : start + 64]

    times = df.select(
        id_col,
        payload_col,
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col(duration_col) - 1, F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("frame_ts"),
    )
    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("frame_ts", LongType()),
            StructField("frame", BinaryType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].to_numpy(),
                    "frame_ts": pdf["frame_ts"].to_numpy(),
                    "frame": [
                        frame_codec(bytes(p), int(t))
                        for p, t in zip(pdf[payload_col], pdf["frame_ts"])
                    ],
                }
            )

    return times.mapInPandas(run, schema)


def synthetic_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table in MEDIA_SCHEMA (tests/bench only)."""
    rng = np.random.default_rng(seed)
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        size = int(rng.integers(128, 4096))
        payload = rng.integers(0, 256, size, dtype=np.uint8).tobytes()
        rows.append(
            {
                "media_id": i,
                "kind": kind,
                "mime": {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
                "payload": payload,
                "width": int(rng.integers(32, 512)) if kind == "image" else None,
                "height": int(rng.integers(32, 512)) if kind == "image" else None,
                "duration_ms": int(rng.integers(1000, 8000)) if kind != "image" else None,
            }
        )
    # Plain row dicts, NOT a pandas frame: pandas coerces the partially-None
    # width/height columns to float64, which the non-Arrow createDataFrame
    # verifier path rejects against IntegerType ("can not accept 346.0").
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
