"""Multimodal column plumbing: opaque binary media + typed metadata.

Image/audio/video payloads are treated as opaque ``binary`` columns with
a typed metadata struct alongside; decode and feature extraction run
as Arrow-batched pandas UDFs over ``mapInPandas``.

The actual codecs (PIL/ffmpeg/torchaudio) are NOT in this container, so
``decode_media`` raises ``NotImplementedError`` by design; everything
around it — schema, batch iteration, partitioning, deterministic fake
featurization used by tests — is real Spark plumbing that would carry a
real decoder unchanged.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType()),
                    T.StructField("n_bytes", T.LongType()),
                    T.StructField("checksum", T.StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_DIM = 8


def text_as_media(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Build a media table from text payloads (the container has no real
    media; bytes are bytes — the pipeline doesn't care)."""
    media = F.encode(F.col(text_col), "UTF-8")
    return docs.select(
        F.col(id_col).alias("media_id"),
        media.alias("media"),
        F.struct(
            F.lit("text/plain").alias("format"),
            F.octet_length(F.col(text_col)).cast("long").alias("n_bytes"),
            F.md5(media).alias("checksum"),
        ).alias("meta"),
    )


def decode_media(media_df: DataFrame) -> DataFrame:
    """Real decode entry point — STUB: no image/audio codecs are baked
    into this environment.  Raises at plan build time, not mid-job."""
    raise NotImplementedError(
        "media codecs (PIL/ffmpeg) are not available in this container; "
        "use extract_features(fake=True) for the deterministic test path"
    )


def _fake_features(payload: bytes) -> np.ndarray:
    """Deterministic stand-in featurizer: md5 → FEATURE_DIM float32 in
    [0, 1).  Replaced by a real encoder in production; identical batch
    shape and dtype contract."""
    digest = hashlib.md5(payload).digest()
    raw = np.frombuffer(digest[: FEATURE_DIM * 2], dtype=np.uint16)
    return (raw / 65536.0).astype(np.float32)


def extract_features(media_df: DataFrame, fake: bool = True) -> DataFrame:
    """(media_id, features: array<float>): Arrow-batched feature
    extraction via mapInPandas — the decode+embed stage shape."""
    if not fake:
        return decode_media(media_df)

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("features", T.ArrayType(T.FloatType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _fake_features(bytes(b)).tolist() if b is not None else None
                for b in pdf["media"]
            ]
            yield pd.DataFrame({"media_id": pdf["media_id"], "features": feats})

    return media_df.select("media_id", "media").mapInPandas(run, out_schema)
