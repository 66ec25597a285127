"""Bloom-filter deduplication — the Dolma "BFF" pattern, Spark-native.

The use case a join can't serve at crawl scale: dedupe TODAY's crawl
against EVERY PREVIOUS dump without shuffling 10^12 historical keys.
A Bloom filter compresses the historical key set into a fixed bitmap
(GBs for hundreds of billions of keys at ~1% FPP) that broadcasts to
every executor; the probe is then a MAP-ONLY pass over the new crawl —
zero shuffle, versus an anti-join that would shuffle both corpora.

Semantics (standard Bloom): **no false negatives** — every key that was
fed to :func:`bloom_build` probes ``maybe_seen=True`` — and a tunable
false-positive rate, which here means a small, quantified recall loss
(fresh documents wrongly dropped as dupes), the same trade Dolma's BFF
and CCNet's hash-prefix dedup make.

Engineering shape:

* hashing happens JVM-side (``F.xxhash64`` — whole-stage codegen; two
  independent 64-bit streams via a salt column) so Python never touches
  document text;
* per-partition bitmaps are built with vectorized numpy bit-sets over
  Arrow batches and OR-merged with ``treeReduce`` (depth 2: P partition
  bitmaps merge through sqrt(P) combiners, never P×bitmap bytes through
  the driver) — one of the rare legitimate RDD uses (per-partition
  imperative state);
* the probe broadcasts the bitmap once per executor
  (``SparkContext.broadcast``) and answers membership per Arrow batch
  with two gathers and an AND-reduce.

Derived-index positions use Kirsch–Mitzenmacher double hashing
(g_i = h1 + i·h2 mod m, h2 forced odd, m a power of two), which
preserves the standard FPP bound with only two base hashes.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, BooleanType, StructField, StructType

# salt for the second hash stream: xxhash64 has a fixed seed in Spark, so
# independence comes from appending a constant column to the hashed tuple
_H2_SALT = 0x9E3779B9


def _hash_cols(key_col: str):
    h1 = F.xxhash64(F.col(key_col))
    h2 = F.xxhash64(F.col(key_col), F.lit(_H2_SALT))
    return h1.alias("_bf_h1"), h2.alias("_bf_h2")


def _positions(h1: np.ndarray, h2: np.ndarray, num_bits: int, num_hashes: int) -> np.ndarray:
    """(rows, k) bit positions. uint64 wrap-around arithmetic is exactly
    the mod-2^64 the scheme wants; the mask is mod-m for power-of-two m."""
    u1 = np.ascontiguousarray(h1, dtype=np.int64).view(np.uint64)
    u2 = np.ascontiguousarray(h2, dtype=np.int64).view(np.uint64) | np.uint64(1)
    i = np.arange(num_hashes, dtype=np.uint64)
    return (u1[:, None] + i[None, :] * u2[:, None]) & np.uint64(num_bits - 1)


def bloom_build(
    df: DataFrame,
    key_col: str = "text",
    num_bits: int = 1 << 22,
    num_hashes: int = 7,
) -> bytes:
    """Build the filter over ``df[key_col]`` and return the packed bitmap
    (``num_bits/8`` bytes). Deterministic: the bitmap is a pure OR-fold of
    per-key bit sets, so any partitioning, ordering, or retry yields the
    IDENTICAL bytes. Driver never sees more than ~sqrt(P)+1 bitmaps at
    once (treeReduce)."""
    if num_bits & (num_bits - 1):
        raise ValueError("num_bits must be a power of two")
    nb, nh = num_bits, num_hashes

    schema = StructType([StructField("bitmap", BinaryType())])

    def build(batches):
        import pandas as pd

        bits = np.zeros(nb >> 3, dtype=np.uint8)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pos = _positions(pdf["_bf_h1"].to_numpy(), pdf["_bf_h2"].to_numpy(), nb, nh)
            flat = pos.reshape(-1)
            np.bitwise_or.at(bits, (flat >> np.uint64(3)).astype(np.int64),
                             (np.uint8(1) << (flat & np.uint64(7)).astype(np.uint8)))
        yield pd.DataFrame({"bitmap": [bits.tobytes()]})

    maps = df.select(*_hash_cols(key_col)).mapInPandas(build, schema)
    merged = (
        maps.rdd.map(lambda r: np.frombuffer(r["bitmap"], dtype=np.uint8))
        .treeReduce(np.bitwise_or, depth=2)
    )
    return merged.tobytes()


def bloom_probe_df(
    df: DataFrame,
    bloom: bytes,
    key_col: str = "text",
    num_hashes: int = 7,
) -> DataFrame:
    """Append ``maybe_seen`` (boolean): true iff all ``num_hashes`` bit
    positions of the key are set in ``bloom``. Map-only: JVM hash columns
    → one Arrow stage gathering against the executor-broadcast bitmap —
    no shuffle at any corpus size."""
    num_bits = len(bloom) << 3
    if num_bits & (num_bits - 1):
        raise ValueError("bitmap length must be a power-of-two bit count")
    nh = num_hashes
    bc = df.sparkSession.sparkContext.broadcast(bloom)

    out_schema = StructType(df.schema.fields + [StructField("maybe_seen", BooleanType())])

    def probe(batches):
        bits = np.frombuffer(bc.value, dtype=np.uint8)
        nb = len(bits) << 3
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pos = _positions(pdf["_bf_h1"].to_numpy(), pdf["_bf_h2"].to_numpy(), nb, nh)
            hit = (bits[(pos >> np.uint64(3)).astype(np.int64)]
                   >> (pos & np.uint64(7)).astype(np.uint8)) & 1
            res = pdf.drop(columns=["_bf_h1", "_bf_h2"])
            res["maybe_seen"] = hit.all(axis=1)
            yield res

    return df.withColumns(
        {"_bf_h1": F.xxhash64(F.col(key_col)),
         "_bf_h2": F.xxhash64(F.col(key_col), F.lit(_H2_SALT))}
    ).mapInPandas(probe, out_schema)
