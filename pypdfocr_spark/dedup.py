"""Deduplication operators for the training-data pipeline (brief: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup).

Everything except SimHash is pure built-in DataFrame algebra — shingling
uses higher-order array functions (``transform``/``sequence``/``slice``),
hashing uses ``md5``+``conv``, so the hot path stays inside whole-stage
codegen with zero Python. SimHash needs per-bit vote accumulation →
vectorized pandas UDF over Arrow batches.

Scale notes (100 TB):

* exact: one hash-aggregate shuffle on a 32-hex key; map-side partial agg.
* n-gram Jaccard: the shingle self-join explodes on hot shingles — cap
  candidate fan-out by dropping shingles with document-frequency above
  ``max_df`` (stopword-shingles contribute candidates, not evidence).
* MinHash LSH: band-bucket join produces candidates linear in near-dup
  count, not quadratic in corpus size; signatures are 16 BIGINTs/doc.
* embedding near-dup: :func:`embedding_near_dup_pairs_lsh` (sign-LSH
  bucket equi-join on a slim index, exact-cosine filtered).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kernels.textstats import MINHASH_P, minhash_coeffs, simhash64_many

# ---------------------------------------------------------------- exact dedup
def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: md5 over the raw text (the reference's only
    content hash is md5, ref: pypdfocr/pypdfocr_filer_evernote.py:221-227).

    Returns (content_hash, keeper_id, dup_count) — keeper = min id, the
    deterministic survivor convention.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


# the C4-style canonical form: lowercase, map whitespace runs (incl.
# newlines/tabs) to single spaces FIRST, then strip punctuation/symbols,
# then re-collapse (stripping can leave doubled spaces: 'a , b' → 'a  b').
# Stripping before the whitespace pass would DELETE newlines outright,
# wrongly merging 'ab\ncd' with 'abcd' and failing to merge 'hello\nworld'
# with 'hello world'. The keep-class is Unicode letters/digits
# (\p{L}\p{N}) — an ASCII [a-z0-9] class would normalize EVERY non-Latin
# document (CJK, Cyrillic, Arabic…) to the empty string and collapse
# them all into one bogus duplicate group.
#
# The whitespace class is spelled out as LITERAL characters rather than
# \s because Java regex and DuckDB's RE2 disagree on \s (Java includes
# U+000B vertical tab, RE2 does not, and neither matches Unicode spaces
# like NBSP) — 'ab\x0Bcd' would canonicalize to 'ab cd' on Spark but
# 'abcd' on the oracle (ADVICE r3). The set is Python str.split()'s
# whitespace set — the same contract the simhash tokenizer already pins
# — so NBSP/ideographic-space separated words stay separated instead of
# being fused by the strip pass.
WS_CHARS = (
    " \t\n\x0b\x0c\r\x1c\x1d\x1e\x1f\x85\u00a0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)
NORM_WS_CLASS_RE = "[" + WS_CHARS + "]+"
NORM_STRIP_RE = "[^\\p{L}\\p{N} ]"
NORM_WS_RE = " +"


def canonical_text(col):
    """The C4-style canonical form of a text column (see NORM_* above).
    Exposed so tests can pin its invariants (idempotence, whitespace
    insensitivity) directly."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(col), NORM_WS_CLASS_RE, " "),
                NORM_STRIP_RE,
                "",
            ),
            NORM_WS_RE,
            " ",
        )
    )


def normalized_exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Fuzzy-exact dedup (the C4 recipe): documents identical after
    canonicalization — lowercase, punctuation stripped, whitespace
    collapsed, trimmed — are one group. Per-doc output: the canonical
    hash, the group's keeper (min id), and an ``is_keeper`` flag, via a
    min-over-window on the hash — one shuffle, no join back. Catches the
    near-universal trivial variants (case, trailing punctuation,
    double spaces) that raw-md5 dedup misses.
    """
    from pyspark.sql.window import Window

    canon = canonical_text(F.col(text_col))
    # a document whose canon is empty (pure punctuation/symbols) falls
    # back to its RAW text — grouping every such doc together would be a
    # bogus merge, not a dedup
    norm = F.when(canon == "", F.col(text_col)).otherwise(canon)
    hashed = df.select(F.col(id_col), F.md5(norm).alias("norm_hash"))
    keeper = F.min(id_col).over(Window.partitionBy("norm_hash"))
    return hashed.select(
        F.col(id_col),
        F.col("norm_hash"),
        keeper.alias("keeper_id"),
        (F.col(id_col) == keeper).alias("is_keeper"),
    )


# ---------------------------------------------------------- shingles (shared)
def shingle_array_expr(text_col: str, k: int = 3):
    """Distinct token k-gram shingles of a text column as an ARRAY
    expression — split → sequence/transform sliding window →
    array_distinct, no explode. Shared by the exploding form below and
    by map-only consumers (the streaming decontamination gate computes
    per-doc overlap as array_intersect against the eval-set array,
    avoiding the explode+groupBy that streaming can't run stateless)."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    kgrams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return F.array_distinct(kgrams)


def with_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Explode distinct token k-gram shingles per document — entirely
    JVM-side: split → sequence/transform sliding window → array_distinct
    → explode."""
    return df.select(
        F.col(id_col), F.explode(shingle_array_expr(text_col, k)).alias("shingle")
    )


def contamination_overlap_expr(text_col: str, eval_shingles: list[str], k: int = 2):
    """Map-only form of the decontamination count: per-row
    ``size(array_intersect(doc_shingles, eval_set))`` against the eval
    shingle set as ONE array literal. Exactly :func:`decontaminate`'s
    n_overlap (both sides are distinct sets — pytest-pinned equal), but
    with no explode/groupBy, so it runs stateless inside a streaming
    micro-batch. Legitimate for the same reason decontaminate's broadcast
    is: an eval suite is bounded by construction (MBs, not corpus-scale);
    the literal IS that broadcast, resident in the plan."""
    return F.size(
        F.array_intersect(
            shingle_array_expr(text_col, k), F.lit(sorted(eval_shingles))
        )
    )


def contamination_overlap_udf(eval_shingles: list[str], k: int = 2):
    """Arrow-batched scale form of :func:`contamination_overlap_expr` for
    LARGE eval suites (VERDICT r4 #3): the shingle set rides in the UDF
    closure instead of the expression tree. PySpark ships serialized
    commands above 1 MB through a real Spark broadcast
    (``_prepare_for_python_RDD``), so a multi-million-shingle suite costs
    one torrent broadcast per executor — not a multi-MB array literal
    re-serialized into every task's plan. The UDF is stateless, so it is
    legal in any streaming output mode.

    Why not the stream-static join the batch :func:`decontaminate` uses:
    the per-document overlap COUNT after an (exploded-shingle ⋈ eval-set)
    join is a streaming aggregation keyed on doc_id — a non-event-time
    key, which append mode cannot finalize. A join would also force the
    explode+shuffle back into the stream. The closure broadcast keeps the
    gate map-only.

    Tokenization mirrors ``shingle_array_expr`` exactly: single-space
    split (empties kept), whole-text fallback when n < k, distinct
    shingles; parity is pytest-pinned against the expression form.
    """
    shingle_set = frozenset(eval_shingles)

    @F.pandas_udf("int")
    def _overlap(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                # expression-form parity: split(NULL) nulls the n>=k
                # condition, so when().otherwise() falls through to
                # array(concat_ws(' ', NULL)) == [''] — null text
                # shingles like empty text, it does not null the count
                t = ""
            toks = t.split(" ")
            if len(toks) >= k:
                grams = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
            else:
                grams = {" ".join(toks)}
            out.append(len(grams & shingle_set))
        return pd.Series(out, dtype="Int32")

    return _overlap


# ------------------------------------------------------- decontamination
def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 2,
    min_overlap: int = 3,
    mode: str = "map",
    literal_max: int = 100_000,
) -> DataFrame:
    """Benchmark decontamination: per training document, how many of its
    distinct token k-gram shingles appear in ``benchmark`` (a table with
    the same text column — the eval set), and a contaminated flag at
    ``min_overlap``. The standard pre-training hygiene step: documents
    leaking eval n-grams are dropped or flagged before training.

    ``mode="map"`` (default since round 5): the eval shingle set is
    bounded by construction (an eval suite is MBs, not corpus-scale), so
    it is collected once and the per-doc overlap becomes a MAP-ONLY
    column over one corpus scan — zero exchanges, no shingle explode.
    Up to ``literal_max`` shingles that column is
    :func:`contamination_overlap_expr` (array_intersect in codegen);
    above it, :func:`contamination_overlap_udf` (the set rides a
    broadcast UDF closure — per-batch frozenset lookup instead of a
    per-row scan of a giant literal). Replaces the round-3 shape that
    exploded EVERY corpus document's shingles through a broadcast join
    and re-aggregated them (one shuffle + tokens× join input); that
    shape remains as ``mode="join"`` — the semantic cross-check pytest
    pins row-identical — and as the fallback if the eval set ever grows
    past what a driver round-trip should carry.
    """
    if mode not in ("map", "join"):
        raise ValueError(f"mode must be 'map' or 'join', got {mode!r}")
    bench_sh = (
        with_shingles(benchmark, id_col, text_col, k)
        .select("shingle")
        .distinct()
    )
    if mode == "map":
        eval_shingles = [r[0] for r in bench_sh.collect()]
        if not eval_shingles:
            n_overlap = F.lit(0)
        elif len(eval_shingles) <= literal_max:
            n_overlap = contamination_overlap_expr(text_col, eval_shingles, k)
        else:
            n_overlap = contamination_overlap_udf(eval_shingles, k)(F.col(text_col))
        # project the overlap ONCE, derive the flag from the column —
        # repeating the expression in both output columns would evaluate
        # it twice (expression-form CSE is best-effort; a duplicated
        # Python UDF call is never deduplicated)
        return df.select(
            F.col(id_col), n_overlap.cast("long").alias("n_overlap")
        ).select(
            F.col(id_col),
            F.col("n_overlap"),
            (F.col("n_overlap") >= min_overlap).alias("contaminated"),
        )
    doc_sh = with_shingles(df, id_col, text_col, k)
    hits = (
        doc_sh.join(F.broadcast(bench_sh.withColumn("_hit", F.lit(1))), "shingle", "left")
        .groupBy(id_col)
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_overlap"))
    )
    return hits.select(
        F.col(id_col),
        F.col("n_overlap").cast("long").alias("n_overlap"),
        (F.col("n_overlap") >= min_overlap).alias("contaminated"),
    )


# ---------------------------------------------------------- line-level dedup
def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    hash_keys: bool = False,
) -> DataFrame:
    """CCNet-style line-level deduplication: drop every line that occurs
    in ``min_docs`` or more *distinct* documents (boilerplate — cookie
    banners, nav footers, subscribe prompts — repeats across a crawl;
    body text does not), reassemble each document from its surviving
    lines in original order. Output covers the full corpus: docs whose
    every line was boilerplate come back with ``clean_text=''``.

    Plan shape: posexplode → one map-side-combinable
    (line → count_distinct(doc)) agg → mark duplicated lines with a LEFT
    join back → ONE per-doc aggregation that both filters (collect_list
    skips the nulled dup structs) and counts totals — so the corpus is
    scanned twice (the line-count side and the reassembly side), never a
    third time for totals, and no final doc-level outer join is needed
    (all-boilerplate docs survive the groupBy with an empty kept list).
    The default join key is the raw line string so the DuckDB oracle is
    exact. ``hash_keys=True`` is the 100-TB variant: both the agg and
    the join key on ``xxhash64(line)`` instead, so the duplicate-count
    shuffle and the mark-join ship 8-byte keys rather than raw
    boilerplate lines (often hundreds of bytes each — the dominant
    shuffle payload of this op at crawl scale). Semantics are identical
    up to xxhash64 collisions — a 10^12-line corpus implies ~dozens of
    birthday collisions, each falsely dropping one line, which a hygiene
    op tolerates; parity vs the exact path on the sandbox corpus is
    pytest-pinned.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    # join key: the raw line by default (oracle-exact, no extra column —
    # duplicating the string into a second column would double the mark-
    # join's per-row shuffle payload); xxhash64(line) under hash_keys
    key = F.xxhash64(F.col("line")).alias("_k") if hash_keys else F.col("line")
    key_name = "_k" if hash_keys else "line"
    dup = (
        # blank lines are structure, not boilerplate: nearly every real
        # document contains one, so counting them would strip all
        # paragraph breaks corpus-wide — exempt them from the dup test
        lines.where(F.col("line") != "")
        .select(F.col(id_col), key)
        .groupBy(key_name)
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select(key_name, F.lit(True).alias("_dup"))
    )
    marked = (
        lines.withColumn("_k", key).join(dup, "_k", "left")
        if hash_keys
        else lines.join(dup, "line", "left")
    )
    # when() without otherwise -> null for dup lines; collect_list drops nulls
    kept_struct = F.when(F.col("_dup").isNull(), F.struct("pos", "line"))
    return (
        marked.groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(kept_struct)).alias("kl"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .select(
            F.col(id_col),
            F.array_join(F.transform("kl", lambda x: x["line"]), "\n").alias("clean_text"),
            F.size("kl").cast("int").alias("n_lines_kept"),
            (F.col("n_total") - F.size("kl")).cast("int").alias("n_lines_removed"),
        )
    )


# ---------------------------------------------------------- n-gram Jaccard
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    cache_registry: list | None = None,
) -> DataFrame:
    """Candidate near-dup pairs by token k-gram Jaccard ≥ threshold.

    shingle self-join on equal shingles → per-pair intersection count →
    Jaccard = |∩| / (|A| + |B| − |∩|). ``max_df`` drops ubiquitous
    shingles before the join (skew + fan-out control at scale).

    ``cache_registry``: the pruned shingle relation is persisted (three
    consumers); pass a list to receive the persisted DataFrame so a
    caller looping many invocations in one session can ``.unpersist()``
    it deterministically once the result is consumed, instead of relying
    on LRU eviction / ContextCleaner GC (ADVICE r3).
    """
    sh = with_shingles(df, id_col, text_col, k)
    if max_df is not None:
        # Anti-join away ubiquitous shingles with NO broadcast hint: at
        # sandbox scale AQE broadcasts the tiny hot set on its own, but on
        # a 100-TB corpus the hot set (every stopword bigram) is millions
        # of rows and a forced F.broadcast OOMs the driver. Unhinted, AQE
        # falls back to a shuffle anti-join whose skewed stream-side
        # partitions it can split (skewJoin supports the left side of
        # LEFT ANTI). A window-count restructure was rejected: a window
        # partitioned by shingle pins each hot shingle's rows to ONE
        # unsplittable task — worse than the join it replaces. The
        # groupBy side is map-side combined, so only partial counts
        # shuffle.
        hot = sh.groupBy("shingle").count().where(F.col("count") > max_df).select("shingle")
        sh = sh.join(hot, "shingle", "left_anti")
    # The pruned shingle relation feeds three consumers (sizes + both
    # self-join sides); unpersisted, Spark re-runs the split/explode scan
    # for each. Persist it once (MEMORY_AND_DISK default). Lifecycle:
    # the result is returned LAZY, so this function cannot pair the
    # persist with an unpersist (that would drop the cache before the
    # caller computes anything); the blocks are LRU-evicted under
    # pressure and GC'd with the DataFrame by the ContextCleaner. A
    # caller looping many invocations in one session can reclaim eagerly
    # via ``cache_registry`` (or spark.catalog.clearCache()). The 100-TB
    # analog is materializing the shingle index as a table bucketed by
    # shingle before the self-join (``bucketBy`` + ``saveAsTable``) — one
    # explode pass either way.
    sh = sh.persist()
    if cache_registry is not None:
        cache_registry.append(sh)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, on="shingle")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


# ------------------------------------------------------------- MinHash + LSH
def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    num_hashes: int = 16, k: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature as ``num_hashes`` columns ``mh0..mhN`` —
    same arithmetic as the scalar reference in tests/reference.py and the SQL
    oracle: x = md5-prefix-int(shingle) mod P; mh_i = min((a_i·x+b_i) mod P).

    Aggregation is a single groupBy with N min() aggregates — map-side
    combinable, one shuffle of (id, N longs).
    """
    sh = with_shingles(df, id_col, text_col, k)
    x = (
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast("long")
        % F.lit(MINHASH_P)
    ).alias("x")
    sh = sh.select(id_col, x)
    aggs = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    num_hashes: int = 16, bands: int = 4, k: int = 3,
    max_bucket: int | None = None,
    cache_registry: list | None = None,
) -> DataFrame:
    """LSH candidate pairs: split the signature into ``bands`` bands of
    ``num_hashes/bands`` rows; docs sharing any full band are candidates.
    The band-bucket equi-join replaces the all-pairs O(n²) comparison.

    ``max_bucket`` (the ``max_df`` analog, VERDICT r4 #1): drop
    (band, bucket) groups holding more than ``max_bucket`` docs before
    the self-join. Without it, a degenerate bucket — identical
    boilerplate/empty-doc signatures, the same pathology
    :func:`ngram_jaccard_pairs` defends against with ``max_df`` —
    emits O(|bucket|²) candidate pairs out of a single join key, and
    AQE skew-split cannot help because the *output* is quadratic.
    Oversize buckets are boilerplate by definition; dropping them trades
    recall on exact-duplicate floods (which exact_dedup catches anyway)
    for a bounded candidate volume. Same anti-join shape as ``max_df``:
    un-hinted, so AQE broadcasts the (tiny) hot-bucket set at sandbox
    scale but falls back to a skew-splittable shuffle anti-join when the
    hot set itself is large.

    ``cache_registry``: with ``max_bucket`` set, the band relation feeds
    three consumers (counts + both join sides); it is persisted once and
    appended here so looping callers can ``.unpersist()`` eagerly
    (same lifecycle contract as :func:`ngram_jaccard_pairs`).
    """
    rows = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, k)
    bands_df = sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat_ws(
                            "_", *[F.col(f"mh{bi * rows + r}") for r in range(rows)]
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    if max_bucket is not None:
        bands_df = bands_df.persist()
        if cache_registry is not None:
            cache_registry.append(bands_df)
        hot = (
            bands_df.groupBy("band", "bucket")
            .count()
            .where(F.col("count") > max_bucket)
            .select("band", "bucket")
        )
        bands_df = bands_df.join(hot, ["band", "bucket"], "left_anti")
    a = bands_df.alias("a")
    b = bands_df.alias("b")
    return (
        a.join(b, on=["band", "bucket"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


# ------------------------------------------------------------------- SimHash
def simhash_signatures(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per doc via an Arrow-batched mapInPandas stage
    (per-bit vote accumulation has no built-in expression form). The
    kernel is numpy-vectorized with a per-batch token→hash cache
    (kernels.textstats.simhash64_many); identical output to the scalar
    reference ``simhash64`` (tests/reference.py) and to the DuckDB
    bit-vote oracle. Returned as the signed-64 reinterpretation for
    BIGINT storage."""

    def gen(batches):
        for pdf in batches:
            sigs = simhash64_many(list(pdf[text_col]))
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": pd.Series(sigs, dtype="int64")})

    return df.select(id_col, text_col).mapInPandas(gen, f"{id_col} long, simhash long")


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Dedup clusters from near-dup pairs: connected components by
    iterative min-label propagation accelerated with pointer jumping.

    Each round does (1) one edge-join + map-side-combinable min aggregate
    (every node adopts the min label among itself and its neighbors), then
    (2) one pointer-jump on the label table itself (every node adopts its
    current *label's* label). The jump is what makes long chains converge
    in O(log diameter) rounds instead of O(diameter) — a depth-1000 path
    graph finishes in ~10 rounds, so ``max_iter`` is an anomaly backstop,
    not a tuning knob. ``localCheckpoint`` truncates the growing lineage
    so round N doesn't replay rounds 1..N-1; the driver-side convergence
    check is a count on the label table (one row per node in any pair).

    If the loop exhausts ``max_iter`` with labels still changing, the
    result would be silently wrong — so it raises (default) or warns,
    per ``on_nonconverged`` ('raise' | 'warn').

    Returns (node, component) with component = min node id reachable.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iter):
        neigh_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("neigh_component"))
        )
        propagated = labels.join(neigh_min, labels.node == neigh_min.src, "left").select(
            "node",
            F.least(
                F.col("component"),
                F.coalesce(F.col("neigh_component"), F.col("component")),
            ).alias("component"),
        )
        # pointer jump: component ← component's component (path halving)
        parent = propagated.select(
            F.col("node").alias("p_node"), F.col("component").alias("p_component")
        )
        new_labels = (
            propagated.join(parent, propagated.component == parent.p_node, "left")
            .select(
                "node",
                F.coalesce(F.col("p_component"), F.col("component")).alias("component"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        msg = (
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; labels would be wrong — raise max_iter"
        )
        if on_nonconverged == "warn":
            import warnings

            warnings.warn(msg, RuntimeWarning, stacklevel=2)
        else:
            raise RuntimeError(msg)
    return labels


def dedup_keepers(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """End-to-end dedup keeper selection — the composite a training-data
    pipeline actually runs: (1) exact dedup keeps the min-id copy per
    md5; (2) n-gram-Jaccard near-dup pairs over the exact keepers feed
    connected components; (3) each near-dup cluster keeps its min-id
    representative. Returns the surviving (id) set.

    Plan: one hash agg (exact), the pruned shingle self-join (near-dup),
    the O(log d) component rounds, then two anti/semi joins — every stage
    is the already-oracled primitive, composed.
    """
    exact = exact_dedup(df, id_col, text_col).select(
        F.col("keeper_id").alias(id_col)
    )
    kept = df.join(exact, id_col, "semi")
    pairs = ngram_jaccard_pairs(kept, id_col, text_col, k, threshold, max_df)
    comp = connected_components(pairs)
    dupes = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return kept.select(id_col).join(dupes, id_col, "left_anti")


def embedding_near_dup_pairs_lsh(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.95, n_planes: int = 8, probe_bits: int = 1,
    n_tables: int = 1, dim: int | None = None,
    max_bucket: int | None = None,
    cache_registry: list | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-bucketed — the 100-TB path.

    Candidates are id pairs whose sign-LSH buckets differ in ≤
    ``probe_bits`` planes in ANY of ``n_tables`` independent tables
    (similarity.bucket_index; one side exploded into probe buckets,
    equi-join on (table, bucket), distinct) — candidate volume is
    ~n·L·Σ(m choose i)/2^m per vector, not n²/2. Candidate generation
    runs on the slim (id, table, bucket) index; vectors join back only
    for surviving candidates; exact cosine then filters, so precision is
    1 and recall is tuned by (m, L, probe_bits) — see
    tests/test_ops.py::test_lsh_topk_multiprobe_recall for measured
    recall on the driver corpus.

    The single-table candidate rule is SQL-expressible —
    ``bit_count(xor(bucket_a, bucket_b)) <= probe_bits`` — which is what
    lets the DuckDB oracle check this exactly.

    ``max_bucket`` (VERDICT r4 #1, the ``max_df`` analog): drop index
    rows whose own (table, bucket) holds more than ``max_bucket``
    vectors before candidate generation. A degenerate bucket — near-zero
    or boilerplate-identical embeddings hashing to one sign pattern —
    otherwise emits O(|bucket|²) candidate pairs from a single join key,
    and the output itself is quadratic so AQE cannot save it. Pruning
    removes the bucket's members from BOTH join sides (the probe
    explosion runs on survivors only), so with the cap the candidate set
    is exactly {(a, b): both survive, hamming(bucket_a, bucket_b) ≤
    probe_bits} — still a SQL-expressible rule the oracle mirrors with a
    HAVING-count prune. Exact-dup floods this drops are caught upstream
    by exact_dedup; with ``n_tables > 1`` a vector pruned in one table
    still participates via its other tables.
    """
    from .similarity import bucket_index, dot_expr, infer_dim, norm_expr, probe_masks

    if dim is None:
        dim = infer_dim(emb, vec_col)
    idx = bucket_index(emb, id_col, vec_col, n_planes, n_tables, dim)
    if max_bucket is not None:
        # the index is slim (id, table, bucket) but COMPUTING it is not —
        # each bucket is n_planes array dot products per vector, and with
        # the cap it feeds three consumers (the count + both join sides).
        # Persist it once, same contract as minhash_lsh_pairs' band
        # relation (measured: the unpersisted form cost +25% on the whole
        # query at sf0.1, REGRESSION_r5).
        idx = idx.persist()
        if cache_registry is not None:
            cache_registry.append(idx)
        hot = (
            idx.groupBy("table", "bucket")
            .count()
            .where(F.col("count") > max_bucket)
            .select("table", "bucket")
        )
        idx = idx.join(hot, ["table", "bucket"], "left_anti")
    probes = F.array(
        *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in probe_masks(n_planes, probe_bits)]
    )
    a = idx.select(
        F.col("id").alias("id_a"), "table", F.explode(probes).alias("bucket")
    )
    b = idx.select(F.col("id").alias("id_b"), "table", "bucket")
    cand = (
        a.join(b, ["table", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if n_tables > 1:
        cand = cand.distinct()  # a pair may collide in several tables
    # r6: per-side norms (once per vector, not once per candidate pair) —
    # bit-identical arithmetic, see similarity.dot_expr
    va = emb.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        norm_expr(F.col(vec_col)).alias("_na"),
    )
    vb = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        norm_expr(F.col(vec_col)).alias("_nb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine",
            dot_expr(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb")),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
