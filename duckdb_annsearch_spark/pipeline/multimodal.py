"""Multimodal columns: image/audio/video as opaque BINARY + typed metadata.

The Spark-side plumbing is real: the media schema, Arrow-batched
``mapInPandas`` feature extraction per executor partition, payload bytes
never on the driver.  The features are NOT decoded media: for every
payload, whatever its kind or leading bytes, the feature vector is the
payload's md5 digest as ``FEATURE_DIM`` bytes / 255 (NULL hashes as
``b""``).  No codec decodes images, audio or video here; a real pipeline
swaps :func:`decode_features` for a library decoder (PIL, ``soundfile``,
``av``) behind the same signature.  The md5 contract is what the
``media_features`` query's DuckDB oracle checks.

Schema conventions:
  media(media_id long, kind string, payload binary, meta map<string,string>)
  features: (media_id long, feature array<float>)
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

MEDIA_SCHEMA = "media_id long, kind string, payload binary, meta map<string,string>"
FEATURE_DIM = 16


def make_media_df(spark, rows: list[tuple[int, str, bytes, dict]]) -> DataFrame:
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def decode_features(payload: bytes | None) -> np.ndarray:
    """md5 bytes of the payload -> FEATURE_DIM float32 values in [0, 1]."""
    h = hashlib.md5(payload or b"").digest()
    return np.frombuffer(h, dtype=np.uint8).astype(np.float32) / 255.0


def extract_features(df: DataFrame) -> DataFrame:
    """(media_id, feature ARRAY<FLOAT>[16]) via Arrow-batched mapInPandas;
    see :func:`decode_features` for the feature contract."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_features(p).tolist() for p in pdf["payload"]]
            yield pd.DataFrame({"media_id": pdf["media_id"], "feature": feats})

    return df.select("media_id", "payload").mapInPandas(
        run, "media_id long, feature array<float>"
    )
