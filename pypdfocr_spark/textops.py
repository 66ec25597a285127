"""Text-analysis operators (brief: language-ID, quality scoring, token
counting, document fingerprinting) over the ``documents`` table.

All built-in expressions (whole-stage codegen; no Python) with formulas
mirrored 1:1 by the DuckDB oracle SQL — the same marker sets / stopword
lists live in kernels.textstats for the pure-Python form.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .kernels.textstats import LANG_MARKERS, STOPWORDS


def _tokens(text_col: str) -> Column:
    return F.split(F.col(text_col), " ")


def _marker_hits(text_col: str, markers: frozenset) -> Column:
    arr = F.array(*[F.lit(m) for m in sorted(markers)])
    return F.size(F.filter(_tokens(text_col), lambda t: F.array_contains(arr, F.lower(t))))


def lang_pred_expr(text_col: str) -> tuple[Column, Column]:
    """(pred_lang, score) as pure column expressions — argmax of marker
    hits with score>0, ties → lexicographically first language (matches
    kernels.textstats.lang_id). Exposed as expressions so a fused
    curation pass can inline the gate into one corpus scan instead of a
    join (recipe.curate, VERDICT r3 #5); repeated score subtrees are
    deterministic, so whole-stage codegen CSEs them."""
    pred = F.lit("unk")
    best = F.lit(0)
    # iterate langs in sorted order; strictly-greater keeps the first max
    for lang in sorted(LANG_MARKERS):
        score = _marker_hits(text_col, LANG_MARKERS[lang])
        cond = score > best
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
        best = F.when(cond, score).otherwise(best)
    return pred, best


def lang_id_df(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Marker-stopword language ID: score per language = count of marker
    tokens; argmax with score>0, ties → lexicographically first language
    (matches kernels.textstats.lang_id)."""
    pred, best = lang_pred_expr(text_col)
    return df.select(F.col(id_col), pred.alias("pred_lang"), best.alias("score"))


# GPT-2-style pre-tokenizer classes: letter runs, digit runs, single
# non-alnum-non-space marks. The alternation is RE2-safe so the IDENTICAL
# pattern runs in Spark (Java regex) and DuckDB (RE2) — no lookarounds.
PRETOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def token_count_df(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace token count + two BPE-ish estimates, all pure
    expressions: ceil(chars/4) per token (the ~4-chars-per-token
    heuristic) and a GPT-2-style regex pre-tokenizer count (letter runs /
    digit runs / punctuation marks) — the quantity a real BPE tokenizer's
    merge count is bounded by."""
    toks = _tokens(text_col)
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.aggregate(
            toks, F.lit(0), lambda acc, t: acc + F.ceil(F.length(t) / F.lit(4.0)).cast("int")
        ).alias("n_subwords"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(PRETOKEN_RE), F.lit(0))).alias(
            "n_pretokens"
        ),
    )


def quality_score_df(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Length / stopword-ratio / mean-token-length quality features."""
    toks = _tokens(text_col)
    stop_arr = F.array(*[F.lit(s) for s in sorted(STOPWORDS)])
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
    return df.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("n_chars"),
        n_tokens.alias("n_tokens"),
        (n_stop / n_tokens).alias("stopword_ratio"),
        (
            F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)) / n_tokens
        ).alias("mean_token_len"),
    )


# PII patterns — RE2-safe (no lookarounds/backrefs) so the IDENTICAL
# strings run in Spark (Java regex) and DuckDB (RE2). Non-overlapping
# left-to-right matching is the same on both engines.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
PHONE_RE = "\\+[0-9][0-9 -]{7,}[0-9]"


def pii_df(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """PII signals per document: email / IPv4 / international-phone match
    counts plus the md5 of the email-scrubbed text (emails replaced by
    the ``[EMAIL]`` sentinel) — the scrub a training pipeline applies
    before tokenization, hash-verifiable without shipping the text.
    All JVM expressions (regexp_count / regexp_replace)."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.regexp_count(t, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(t, F.lit(IPV4_RE)).alias("n_ipv4"),
        F.regexp_count(t, F.lit(PHONE_RE)).alias("n_phones"),
        F.md5(F.regexp_replace(t, EMAIL_RE, "[EMAIL]")).alias("scrubbed_md5"),
    )


# symbol marks the Gopher rules count against words: hash signs and
# ellipses (both the three-dot and the single-char form). RE2-safe.
SYMBOL_RE = "#|\\.\\.\\.|…"


def gopher_exprs(
    text_col: str,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    min_alpha_frac: float = 0.8,
    max_symbol_ratio: float = 0.1,
) -> dict[str, Column]:
    """The Gopher-rule features and booleans as pure column expressions,
    keyed by output column name — exposed so a fused curation pass can
    inline the quality gate into one scan (recipe.curate, VERDICT r3 #5).
    """
    toks = _tokens(text_col)
    n = F.size(toks)
    mean_len = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)) / n
    alpha_frac = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))) / n
    symbol_ratio = F.regexp_count(F.col(text_col), F.lit(SYMBOL_RE)) / n
    ok_len = (n >= min_tokens) & (n <= max_tokens)
    ok_mean = (mean_len >= min_mean_len) & (mean_len <= max_mean_len)
    ok_alpha = alpha_frac >= min_alpha_frac
    ok_symbol = symbol_ratio <= max_symbol_ratio
    return {
        "n_tokens": n,
        "mean_token_len": mean_len,
        "alpha_frac": alpha_frac,
        "symbol_ratio": symbol_ratio,
        "ok_n_tokens": ok_len,
        "ok_mean_len": ok_mean,
        "ok_alpha": ok_alpha,
        "ok_symbol": ok_symbol,
        "keep": ok_len & ok_mean & ok_alpha & ok_symbol,
    }


def gopher_filter_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    min_alpha_frac: float = 0.8,
    max_symbol_ratio: float = 0.1,
) -> DataFrame:
    """Gopher-style document quality filter (Rae et al. 2021 §A1.1.2,
    public report): keep a document only if its token count, mean token
    length, alphabetic-word fraction, and symbol-to-word ratio all sit
    inside the configured bounds. Emits one boolean per rule plus the
    conjunction, so a pipeline can both filter and report per-rule drop
    rates. Pure JVM expressions — no UDFs, fully codegen'd; the agg a
    100-TB filter stage needs is a map-only pass.
    """
    e = gopher_exprs(
        text_col,
        min_tokens=min_tokens,
        max_tokens=max_tokens,
        min_mean_len=min_mean_len,
        max_mean_len=max_mean_len,
        min_alpha_frac=min_alpha_frac,
        max_symbol_ratio=max_symbol_ratio,
    )
    n, mean_len = e["n_tokens"], e["mean_token_len"]
    alpha_frac, symbol_ratio = e["alpha_frac"], e["symbol_ratio"]
    ok_len, ok_mean = e["ok_n_tokens"], e["ok_mean_len"]
    ok_alpha, ok_symbol = e["ok_alpha"], e["ok_symbol"]
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        mean_len.alias("mean_token_len"),
        alpha_frac.alias("alpha_frac"),
        symbol_ratio.alias("symbol_ratio"),
        ok_len.alias("ok_n_tokens"),
        ok_mean.alias("ok_mean_len"),
        ok_alpha.alias("ok_alpha"),
        ok_symbol.alias("ok_symbol"),
        (ok_len & ok_mean & ok_alpha & ok_symbol).alias("keep"),
    )


def fingerprint_df(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Order-insensitive bag fingerprint: md5 of the space-joined sorted
    distinct token set (``bag_fingerprint`` in tests/reference.py)."""
    toks = _tokens(text_col)
    return df.select(
        F.col(id_col),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))).alias("fingerprint"),
    )


def top_terms_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document: rank by term frequency,
    rarity (corpus document frequency, ascending) as the tiebreak, term
    string as the final deterministic tiebreak. This is the
    exact-arithmetic surrogate of tf-idf ranking — a real tf·ln(N/df)
    score is avoided ON PURPOSE: ln() is not bit-identical across
    engines/libms, which would break the hash-exact oracle; the
    (tf desc, df asc) lexicographic order preserves tf-idf's intent with
    integer-only comparisons.

    Distributed shape (r6 restructure — guide §2.4 "two operations keyed
    the same way can share one exchange"): the docs are hash-partitioned
    by id BEFORE the token explode (the exchange ships documents, not
    ~tokens× (doc, term) rows), so the (doc, term) tf aggregation needs
    NO exchange (HashPartitioning(id) satisfies the (id, term)
    clustering) and the final per-doc top-k window needs NO exchange or
    re-sort shuffle either — it reuses the same partitioning. Only the
    vocabulary-sized df aggregate still shuffles (slim, map-side
    combined), and it joins back on term (AQE decides broadcast vs
    shuffle; at 100 TB the df side is the classic stopword skew point
    and AQE's skew-join split applies to the probe side). The former
    shape exchanged the fat tf relation twice more (once for the agg,
    once back to doc partitioning for the window).
    """
    from pyspark.sql.window import Window

    tf = (
        df.select(F.col(id_col), F.col(text_col))
        .repartition(F.col(id_col))
        .select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term"))
        .where(F.col("term") != "")  # space runs split into '' pseudo-terms
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(dfreq, "term")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col(id_col),
            F.col("term"),
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def chunk_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Fixed-size token chunking with overlap — the standard prep step
    that turns variable-length documents into training-window rows.
    Chunk k covers tokens [k·stride, k·stride + chunk_tokens); the last
    chunk may be short; every token is covered and consecutive chunks
    overlap by ``chunk_tokens − stride``. Pure expressions: a per-row
    ``sequence`` of chunk indices (bounded fan-out ≈ n/stride), explode,
    ``slice`` + ``array_join`` — no Python, no shuffle beyond whatever
    consumes the chunks.
    """
    if stride <= 0 or stride > chunk_tokens:
        raise ValueError(
            "stride must be in (0, chunk_tokens] — a larger stride would "
            "silently skip tokens between consecutive chunks"
        )
    toks = _tokens(text_col)
    n = F.size(toks)
    k_max = F.when(n <= chunk_tokens, F.lit(0)).otherwise(
        F.ceil((n - chunk_tokens) / F.lit(stride)).cast("long")
    )
    with_k = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.explode(F.sequence(F.lit(0).cast("long"), k_max)).alias("chunk_id"),
    )
    piece = F.slice(
        F.col("_toks"), (F.col("chunk_id") * stride + 1).cast("int"), chunk_tokens
    )
    return with_k.select(
        F.col(id_col),
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("int").alias("n_chunk_tokens"),
    )
