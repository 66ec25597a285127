"""The binary media columns of the ``multimodal_features`` query.

:func:`media_table` packs each embedding as a little-endian float32
payload in an opaque binary column, and :func:`extract_features` decodes
it back over Arrow batches to (dim, md5 checksum, first/last/sum, L2
norm). The SQL oracle checks that round trip byte for byte.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("vec_id", LongType(), False),
        StructField("media", BinaryType(), False),
        StructField("media_type", StringType(), False),
        StructField("n_bytes", LongType(), False),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("vec_id", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("dim", IntegerType(), False),
        StructField("checksum", StringType(), False),
        # decoded-from-bytes element values: equality with the *original*
        # floats (DuckDB oracle reads them from the embeddings table)
        # proves the binary round-trip byte-for-byte — any payload
        # corruption changes them. f32 → double casts are exact.
        StructField("first_val", DoubleType(), False),
        StructField("last_val", DoubleType(), False),
        StructField("sum_val", DoubleType(), False),
        StructField("l2_norm", DoubleType(), False),
    ]
)


def media_table(emb: DataFrame) -> DataFrame:
    """Build the opaque-binary media table from the embeddings table:
    each vector serialized as a little-endian float32 tensor payload."""

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                np.asarray(v, dtype="<f4").tobytes() for v in pdf["embedding"]
            ]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "media": payloads,
                    "media_type": "tensor/f32",
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    return emb.mapInPandas(pack, MEDIA_SCHEMA)


def extract_features(media: DataFrame) -> DataFrame:
    """Decode stand-in + feature extraction over Arrow batches: payload →
    (dim, md5 checksum, L2 norm). The shape every real decoder plugs into."""
    import hashlib

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vid, payload in zip(pdf["vec_id"], pdf["media"]):
                buf = bytes(payload)
                arr = np.frombuffer(buf, dtype="<f4")
                # sequential float64 accumulation → bit-stable across runs
                # and engines (matches DuckDB's list_sum ordering)
                total = sum(float(x) for x in arr)
                norm = float(np.sqrt(sum(float(x) * float(x) for x in arr)))
                rows.append(
                    (int(vid), len(buf), int(arr.size), hashlib.md5(buf).hexdigest(),
                     float(arr[0]) if arr.size else 0.0,
                     float(arr[-1]) if arr.size else 0.0,
                     total, norm)
                )
            yield pd.DataFrame(
                rows,
                columns=["vec_id", "n_bytes", "dim", "checksum",
                         "first_val", "last_val", "sum_val", "l2_norm"],
            )

    return media.mapInPandas(feats, FEATURE_SCHEMA)
