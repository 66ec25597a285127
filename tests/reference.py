"""Scalar and all-pairs references the tests check the package's
vectorized and bucketed operators against.

Each function here is the plain, one-document-at-a-time (or all-pairs)
statement of a semantic the package implements at scale:

* ``minhash_signature`` / ``simhash64`` / ``quality_stats`` /
  ``bag_fingerprint`` — the per-document math of ``dedup`` and
  ``textops``, in pure Python/hashlib;
* ``embedding_near_dup_pairs`` — the exact O(n²) cosine verifier for
  ``dedup.embedding_near_dup_pairs_lsh``.

No entry point runs them; they exist to be compared against.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pypdfocr_spark.kernels.textstats import MINHASH_P, STOPWORDS, minhash_coeffs, tokens_of
from pypdfocr_spark.similarity import dot_expr, norm_expr


def md5_prefix_int(s: str) -> int:
    """First 15 hex chars of md5 as an int (< 2^60, sign-safe in BIGINT)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def shingles(text: str, k: int = 3) -> list[str]:
    """Distinct token k-grams (space-joined), order-independent set."""
    toks = tokens_of(text)
    if len(toks) < k:
        return sorted({" ".join(toks)}) if toks else []
    return sorted({" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)})


def minhash_signature(text: str, num_hashes: int = 16, k: int = 3) -> list[int]:
    """MinHash over token k-gram shingles with the shared coefficient
    schedule; empty docs → all MINHASH_P (sentinel max)."""
    sh = shingles(text, k)
    if not sh:
        return [MINHASH_P] * num_hashes
    xs = [md5_prefix_int(s) % MINHASH_P for s in sh]
    return [min((a * x + b) % MINHASH_P for x in xs) for a, b in minhash_coeffs(num_hashes)]


def simhash64(text: str) -> int:
    """64-bit SimHash over whitespace tokens, md5-based bit sampling."""
    toks = tokens_of(text)
    if not toks:
        return 0
    acc = [0] * 64
    for t in toks:
        h = int.from_bytes(hashlib.md5(t.encode("utf-8")).digest()[:8], "big")
        for bit in range(64):
            acc[bit] += 1 if (h >> bit) & 1 else -1
    out = 0
    for bit in range(64):
        if acc[bit] > 0:
            out |= 1 << bit
    return out


def hamming64(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def quality_stats(text: str) -> dict:
    """Length / punctuation / stopword-ratio features for corpus quality
    filtering (training-data pipeline op)."""
    toks = tokens_of(text)
    n_tokens = len(toks)
    n_chars = len(text)
    n_alpha = sum(1 for c in text if c.isalpha())
    n_punct = sum(1 for c in text if c in ".,;:!?\"'()-")
    n_stop = sum(1 for t in toks if t.lower() in STOPWORDS)
    mean_tok = (sum(len(t) for t in toks) / n_tokens) if n_tokens else 0.0
    return {
        "n_tokens": n_tokens,
        "n_chars": n_chars,
        "alpha_ratio": (n_alpha / n_chars) if n_chars else 0.0,
        "punct_ratio": (n_punct / n_chars) if n_chars else 0.0,
        "stopword_ratio": (n_stop / n_tokens) if n_tokens else 0.0,
        "mean_token_len": mean_tok,
    }


def bag_fingerprint(text: str) -> str:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token set — SQL-reproducible (list_sort/list_distinct + md5)."""
    toks = sorted(set(tokens_of(text)))
    return hashlib.md5(" ".join(toks).encode("utf-8")).hexdigest()


def embedding_near_dup_pairs(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs over ALL pairs — O(n²) by
    construction, so only for small test inputs. Cosine uses the same
    JVM higher-order-function arithmetic as the LSH form (per-side norms,
    ``similarity.dot_expr``), so a pair both forms emit has the same
    score."""
    a = emb.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        norm_expr(F.col(vec_col)).alias("_na"),
    )
    b = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        norm_expr(F.col(vec_col)).alias("_nb"),
    )
    cosine = dot_expr(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine)
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
