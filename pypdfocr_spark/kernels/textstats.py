"""Text-analysis kernels for the training-data pipeline ops: the
constants the Spark operators and the DuckDB oracle share (MinHash
coefficients, language markers, stopwords), the vectorized SimHash
kernel, and the pure-Python language-ID.

The math is plain Python/hashlib and, where expressed with md5,
reproducible in ANSI SQL for the DuckDB oracle
(``('0x' || substr(md5(s),1,15))::BIGINT`` ≡ Spark
``conv(substring(md5(s),1,15),16,10)``). The scalar references the
tests check the vectorized forms against live in tests/reference.py.
"""

from __future__ import annotations

import hashlib

# MinHash arithmetic stays far below 2^63 so the identical formula runs in
# Spark SQL and DuckDB BIGINTs with no overflow: shingle → md5 prefix int
# (< 2^60) → reduce mod P → (a·x + b) mod P with small a, b.
MINHASH_P = 1_000_000_007

# Deterministic MinHash coefficient schedule — shared with the SQL oracle.
def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    return [(2 * i + 1, 7919 * (i + 1)) for i in range(num_hashes)]


def tokens_of(text: str) -> list[str]:
    return text.split()


def simhash64_many(texts: list[str]) -> list[int]:
    """Vectorized SimHash over a batch of texts — identical output to
    the scalar ``simhash64`` in tests/reference.py (pytest-asserted),
    returned as signed int64.

    The per-token md5 is computed once per *distinct* token in the batch
    (natural-language token frequency makes the cache hit rate high); the
    O(tokens×64) bit-vote loop becomes one numpy broadcast per doc:
    (T,64) bit matrix → column sum → sign → packed bits. ~10-50× less
    interpreted Python than the scalar loop on real text.
    """
    import numpy as np

    shifts = np.arange(64, dtype=np.uint64)
    one = np.uint64(1)
    cache: dict[str, int] = {}
    out: list[int] = []
    for text in texts:
        toks = (text or "").split()
        if not toks:
            out.append(0)
            continue
        hs = np.empty(len(toks), dtype=np.uint64)
        for i, t in enumerate(toks):
            h = cache.get(t)
            if h is None:
                h = int.from_bytes(hashlib.md5(t.encode("utf-8")).digest()[:8], "big")
                cache[t] = h
            hs[i] = h
        bits = ((hs[:, None] >> shifts) & one).astype(np.int64)
        votes = 2 * bits.sum(axis=0) - len(toks)  # (+1/-1 votes per bit)
        v = int((((votes > 0).astype(np.uint64)) << shifts).sum(dtype=np.uint64))
        out.append(v - (1 << 64) if v >= (1 << 63) else v)
    return out


# ---- language ID (n-gram / marker-word heuristic) ----
# Marker stopwords per language; scoring = count of marker hits among
# tokens, argmax with deterministic tie-break on language code.
LANG_MARKERS: dict[str, frozenset] = {
    "en": frozenset({"the", "a", "of", "and", "is"}),
    "de": frozenset({"der", "die", "das", "und", "ist"}),
    "fr": frozenset({"le", "la", "et", "est", "les"}),
    "es": frozenset({"el", "la", "y", "es", "los"}),
}


def lang_id(text: str) -> str:
    toks = tokens_of(text.lower())
    best_lang, best_score = "unk", 0
    for lang in sorted(LANG_MARKERS):
        score = sum(1 for t in toks if t in LANG_MARKERS[lang])
        if score > best_score:
            best_lang, best_score = lang, score
    return best_lang


# ---- quality scoring ----
STOPWORDS = frozenset(
    "the a of and is in to for on with at by an be this that".split()
)
