"""Bloom-filter dedup (bloom.py): build determinism, the no-false-negative
guarantee, measured FPP, and the map-only probe."""

import numpy as np
from pyspark.sql import functions as F

from pypdfocr_spark import bloom


def _docs(spark, texts, start=0):
    return spark.createDataFrame(
        [(start + i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )


def test_build_deterministic_across_layouts(spark):
    df = _docs(spark, [f"doc number {i}" for i in range(500)])
    a = bloom.bloom_build(df, num_bits=1 << 16, num_hashes=5)
    b = bloom.bloom_build(df.repartition(11), num_bits=1 << 16, num_hashes=5)
    c = bloom.bloom_build(df.coalesce(1), num_bits=1 << 16, num_hashes=5)
    assert a == b == c
    assert len(a) == (1 << 16) >> 3


def test_build_matches_local_replica(spark):
    """Pin the distributed bitmap against a local numpy replica fed the
    SAME JVM xxhash64 values — verifies the partition bit-set + treeReduce
    OR machinery bit-for-bit."""
    df = _docs(spark, [f"t{i}" for i in range(200)])
    nb, nh = 1 << 14, 4
    got = np.frombuffer(bloom.bloom_build(df, num_bits=nb, num_hashes=nh), np.uint8)
    hashes = df.select(
        F.xxhash64("text").alias("h1"),
        F.xxhash64("text", F.lit(bloom._H2_SALT)).alias("h2"),
    ).collect()
    want = np.zeros(nb >> 3, dtype=np.uint8)
    for r in hashes:
        pos = bloom._positions(np.array([r["h1"]]), np.array([r["h2"]]), nb, nh)[0]
        for p in pos:
            want[int(p) >> 3] |= 1 << (int(p) & 7)
    assert np.array_equal(got, want)


def test_no_false_negatives(spark):
    texts = [f"reference doc {i} body" for i in range(1000)]
    ref = _docs(spark, texts)
    bm = bloom.bloom_build(ref, num_bits=1 << 16, num_hashes=5)
    probed = bloom.bloom_probe_df(ref, bm, num_hashes=5)
    assert probed.where(~F.col("maybe_seen")).count() == 0   # the guarantee


def test_measured_fpp_within_bound(spark):
    n = 2000
    ref = _docs(spark, [f"ref {i}" for i in range(n)])
    fresh = _docs(spark, [f"fresh {i}" for i in range(n)], start=10_000)
    # 2^15 bits and 11 hashes: the standard sizing for 2,000 keys at 1%
    # (bits -n·ln p / ln²2 rounded up to a power of two, hashes m/n·ln 2)
    nb, nh = 1 << 15, 11
    bm = bloom.bloom_build(ref, num_bits=nb, num_hashes=nh)
    fp = bloom.bloom_probe_df(fresh, bm, num_hashes=nh) \
              .where(F.col("maybe_seen")).count()
    # deterministic given the fixed hash; 3x headroom over the design FPP
    assert fp / n <= 0.03


def test_probe_preserves_rows_and_schema(spark):
    df = _docs(spark, ["a", "b"]).withColumn("extra", F.length("text"))
    bm = bloom.bloom_build(_docs(spark, ["a"]), num_bits=1 << 10, num_hashes=3)
    out = bloom.bloom_probe_df(df, bm, num_hashes=3)
    assert out.columns == ["doc_id", "text", "extra", "maybe_seen"]
    rows = {r["text"]: r for r in out.collect()}
    assert rows["a"]["maybe_seen"] and rows["a"]["extra"] == 1


def test_probe_plan_is_shuffle_free(spark):
    df = _docs(spark, ["x"])
    bm = bloom.bloom_build(df, num_bits=1 << 10, num_hashes=3)
    plan = bloom.bloom_probe_df(df, bm, num_hashes=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
