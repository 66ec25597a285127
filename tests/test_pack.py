"""Sequence packing (pack.py): concat-chunk replica parity, window
fullness/coverage invariants, layout + shard-count invariance."""

import random

import pytest

from pypdfocr_spark import pack


def _corpus(spark, n, seed=0, max_tokens=37):
    rng = random.Random(seed)
    rows, nid = [], 0
    for _ in range(n):
        nid += rng.randint(1, 9)  # sparse, irregular ids
        rows.append((nid, rng.randint(0, max_tokens)))
    return rows, spark.createDataFrame(rows, "doc_id LONG, n_tokens LONG")


def _concat_replica(rows, L):
    """Brute-force single-stream replica of the concat layout."""
    expected, start = set(), 0
    for did, n in sorted(rows):
        if n == 0:
            continue
        for wid in range(start // L, (start + n - 1) // L + 1):
            ws = wid * L
            lo, hi = max(start, ws), min(start + n, ws + L)
            expected.add((wid, did, lo - start, lo - ws, hi - lo))
        start += n
    return expected


def _rows_set(df):
    return {tuple(r) for r in df.collect()}


def test_pack_concat_matches_replica(spark):
    rows, df = _corpus(spark, 500, seed=1)
    got = _rows_set(pack.pack_concat(df, 64, n_shards=8))
    assert got == _concat_replica(rows, 64)


def test_pack_concat_windows_full_docs_covered(spark):
    rows, df = _corpus(spark, 400, seed=2)
    out = pack.pack_concat(df, 128, n_shards=4).collect()
    total = sum(n for _, n in rows)
    by_win, by_doc = {}, {}
    for r in out:
        by_win[r["window_id"]] = by_win.get(r["window_id"], 0) + r["n_tokens"]
        by_doc[r["doc_id"]] = by_doc.get(r["doc_id"], 0) + r["n_tokens"]
    last = max(by_win)
    assert set(by_win) == set(range(last + 1))  # no window skipped
    for wid, tot in by_win.items():
        assert tot == (128 if wid < last else total - 128 * last)
    for did, n in rows:
        assert by_doc.get(did, 0) == n  # every token placed exactly once


def test_pack_concat_layout_and_shard_invariant(spark):
    rows, df = _corpus(spark, 300, seed=3)
    base = _rows_set(pack.pack_concat(df, 64, n_shards=8))
    assert _rows_set(pack.pack_concat(df.repartition(7), 64, n_shards=8)) == base
    assert _rows_set(pack.pack_concat(df, 64, n_shards=3)) == base
    assert _rows_set(pack.pack_concat(df, 64, n_shards=1)) == base
    ids = sorted(r[0] for r in rows)
    explicit = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    got = _rows_set(pack.pack_concat(df, 64, n_shards=3, boundaries=explicit))
    assert got == base


def test_pack_concat_rejects_bad_context(spark):
    _, df = _corpus(spark, 5)
    with pytest.raises(ValueError):
        pack.pack_concat(df, 0)
