"""Multimodal column plumbing (task brief): image/audio/video as opaque
``binary`` columns with typed metadata structs.

The Spark-side plumbing — schemas, partition-friendly batch iteration,
Arrow UDF signatures — is real and tested; the actual codec work is
STUBBED deterministically (image/audio libraries are not dependencies
of this package; on a real cluster they would be shipped via
--archives). Each stub is clearly marked and isolated so a
real decoder drops in without touching the plan."""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("digest", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), False),
    ]
)


def _fake_decode_features(payload: bytes, dim: int = 16) -> list[float]:
    """STUB — deterministic fake for the decode/feature-extract step.

    A real implementation would decode with PIL/ffmpeg/torchaudio here
    (inside the same batch loop — the plumbing does not change). The
    fake hashes the payload into a fixed-dim float vector so tests can
    assert end-to-end determinism and batch shapes."""
    if payload is None:
        return [0.0] * dim
    h = hashlib.sha256(payload).digest()
    return [((h[i % 32] / 255.0) * 2 - 1) for i in range(dim)]


def extract_media_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """mapInPandas over binary payloads → feature vectors.

    Arrow ships binary columns zero-copy; batches are bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch so a partition of
    large blobs cannot OOM a worker."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": payloads.map(lambda b: 0 if b is None else len(b)).astype("int32"),
                    "digest": payloads.map(
                        lambda b: hashlib.sha256(b or b"").hexdigest()
                    ),
                    "feature": payloads.map(lambda b: _fake_decode_features(b, dim)),
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        _batches, schema=FEATURE_SCHEMA
    )
