"""Web-corpus operators a Common-Crawl-scale training-data pipeline needs
beyond the reference's own surface (BASELINE.json north_rule: the input is
an Iceberg table of web pages): URL canonicalization, per-host rollups,
deterministic stratified sampling, and Gopher-style repetition statistics.

Everything is built-in expressions (whole-stage codegen, zero Python, zero
UDFs) and every formula is mirrored 1:1 by DuckDB oracle SQL in
``__spark_entry__`` — regexes are RE2-safe (no lookarounds, no
backreferences) so the IDENTICAL pattern string runs on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# RE2-safe building blocks shared with the oracle SQL
FRAGMENT_RE = "#.*$"
HEAD_RE = "^[a-zA-Z]+://[^/?#]*"  # scheme://host[:port]
QUERY_RE = "\\?.*$"
HOST_RE = "^[a-z]+://([^/:?#]+)"

# query parameters dropped by canonicalization (click-tracking noise that
# fragments URL-level dedup at crawl scale)
TRACKING_PREFIXES = ("utm_", "fbclid=", "gclid=")


def canonicalize_url(url: Column) -> Column:
    """Canonical form of a URL, step by step:

    1. strip the fragment (``#...``);
    2. lowercase the scheme://host[:port] head (RFC 3986: scheme and host
       are case-insensitive; the path is NOT touched);
    3. drop default ports (``:80`` for http, ``:443`` for https);
    4. drop tracking query params (utm_*, fbclid, gclid), and the ``?``
       itself when nothing survives;
    5. percent-encode spaces in the path;
    6. strip a trailing slash from a non-root path.

    Pure expressions; the same algorithm is spelled in SQL by
    ``oracle_sql()['url_canonicalize']``.
    """
    u = F.regexp_replace(url, FRAGMENT_RE, "")
    head = F.lower(F.regexp_extract(u, HEAD_RE, 0))
    tail = F.substring(u, F.length(head) + 1, F.length(u))
    # default ports — endswith+trim instead of a regex backreference
    # (Spark spells backrefs $1, DuckDB \\1; avoid the divergence)
    head = (
        F.when(
            head.startswith("http://") & head.endswith(":80"),
            F.substring(head, F.lit(1), F.length(head) - 3),
        )
        .when(
            head.startswith("https://") & head.endswith(":443"),
            F.substring(head, F.lit(1), F.length(head) - 4),
        )
        .otherwise(head)
    )
    path = F.regexp_replace(tail, QUERY_RE, "")
    query = F.when(tail.contains("?"), F.regexp_replace(tail, "^[^?]*\\?", "")).otherwise(
        F.lit("")
    )
    def _is_dropped(p: Column) -> Column:
        # fold over TRACKING_PREFIXES so the constant is authoritative —
        # extending it must change the filter (and the oracle SQL, which
        # mirrors the same list)
        cond = p == ""
        for prefix in TRACKING_PREFIXES:
            cond = cond | p.startswith(prefix)
        return cond

    kept = F.filter(F.split(query, "&"), lambda p: ~_is_dropped(p))
    query_out = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    path = F.replace(path, F.lit(" "), F.lit("%20"))
    path = F.when(
        path.endswith("/") & (F.length(path) > 1),
        F.substring(path, F.lit(1), F.length(path) - 1),
    ).otherwise(path)
    return F.concat(head, path, query_out)


def canonicalize_url_df(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    return df.select(
        F.col(id_col), canonicalize_url(F.col(url_col)).alias("canon_url")
    )


def host_of(canon_url: Column) -> Column:
    return F.regexp_extract(canon_url, HOST_RE, 1)


def host_stats_df(
    df: DataFrame, url_col: str = "canon_url", chars_col: str = "n_chars"
) -> DataFrame:
    """Per-host rollup (doc count, distinct canonical URLs, total chars) —
    the numbers behind per-domain caps and crawl-politeness budgeting.
    One map-side-combinable hash aggregation; at 10^12 rows the host key
    is low-cardinality relative to docs, so partial aggregation collapses
    almost everything before the shuffle."""
    return (
        df.select(host_of(F.col(url_col)).alias("host"), F.col(url_col), F.col(chars_col))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(url_col).alias("n_urls"),
            F.sum(chars_col).alias("total_chars"),
        )
    )


# Per-language sample-keep thresholds, compared lexicographically against
# the first 8 hex digits of md5(doc_id) — fixed-width lowercase hex, so
# string order == numeric order, and both engines compute the identical
# digest of the identical string. '80000000' keeps ~1/2, '40000000' ~1/4.
SAMPLE_THRESHOLDS: dict[str, str] = {
    "en": "80000000",
    "de": "40000000",
    "es": "40000000",
    "fr": "40000000",
    "zh": "40000000",
}
DEFAULT_THRESHOLD = "20000000"  # ~1/8 for any unlisted language


def stratified_sample_df(
    df: DataFrame,
    id_col: str = "doc_id",
    strat_col: str = "lang",
    thresholds: dict[str, str] | None = None,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff the md5 prefix
    of its id clears the stratum's threshold. No RNG, no seed plumbing —
    the same row set falls out on any cluster, any partitioning, any
    retry (resume-safe by construction, unlike ``df.sample`` whose
    output changes with the split layout)."""
    thresholds = thresholds or SAMPLE_THRESHOLDS
    h = F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
    thr = F.lit(DEFAULT_THRESHOLD)
    for lang in sorted(thresholds):
        thr = F.when(F.col(strat_col) == lang, F.lit(thresholds[lang])).otherwise(thr)
    return df.where(h < thr).select(F.col(id_col), F.col(strat_col), h.alias("sample_key"))


def repetition_stats_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per document: distinct-token ratio
    and the most-frequent token's share. Expression-only and per-row
    (O(distinct × tokens) inside codegen) — ZERO shuffle, versus the
    explode→groupBy spelling that would shuffle every token of a 100-TB
    corpus to count within-document duplicates."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    uniq = F.array_distinct(toks)
    top = F.array_max(
        F.transform(uniq, lambda d: F.size(F.filter(toks, lambda t: t == d)))
    )
    return df.select(
        F.col(id_col),
        # long like every other count column in the battery — the
        # width-exact oracle type probe (ADVICE r4) compares int64==int64
        n.cast("long").alias("n_tokens"),
        (F.size(uniq).cast("double") / n).alias("distinct_ratio"),
        (top.cast("double") / n).alias("top_token_frac"),
    )


def grouped_quantiles_df(
    df: DataFrame,
    group_col: str = "lang",
    value_col: str = "n_chars",
    id_col: str = "doc_id",
    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Exact discrete quantiles of ``value_col`` per group
    (``percentile_disc`` semantics: the value at rank ``ceil(q*n)`` under
    a DETERMINISTIC order — ties broken by ``id_col`` so the answer is
    unique and oracle-exact). Corpus analytics staple: length
    distributions per language drive filter thresholds.

    One shuffle + one per-group sort (row_number window), then a
    conditional agg — no second pass, no join. At 100 TB a hot group
    (one language = half the corpus) pins a window partition; the scale
    alternatives are approx_percentile (one combinable pass, no sort) or
    a range-partitioned two-pass rank lookup — this exact form is for
    analytics at the scales where exactness is wanted.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(value_col, id_col)
    ranked = df.select(
        F.col(group_col),
        F.col(value_col),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy(group_col)).alias("n"),
    )
    # rank in decimal arithmetic: double q*n drifts above the exact
    # product for many (q, n) pairs (0.07*100 = 7.000...001 -> ceil 8);
    # casting q to decimal(18,10) pins the intended 10-dp value and the
    # decimal product is exact
    aggs = [
        F.max(
            F.when(
                F.col("rn")
                == F.ceil(F.lit(q).cast("decimal(18,10)") * F.col("n")),
                F.col(value_col),
            )
        ).alias(f"p{int(q * 100)}")
        for q in qs
    ]
    return ranked.groupBy(group_col).agg(
        F.max("n").cast("long").alias("n_docs"), *aggs
    )


def dup_ngram_frac_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Gopher-style duplicate n-gram fraction (Rae et al. 2021 §A1.1.2
    family): how much of the document consists of word n-grams that occur
    more than once in it — high values mean templated / looping text.
    Definition pinned exactly (both engines, the oracle mirrors it 1:1):
    every positional n-gram (space-joined), a gram is duplicated when its
    string occurs ≥2 in the doc, and
    ``dup_gram_frac = Σ_{dup grams} count / n_grams`` — the fraction of
    n-gram OCCURRENCES that are duplicated, a true [0,1] quantity (0 for
    gram-less short docs). ``dup_gram_chars`` (Σ count·len over dup
    grams) stays as a raw weight but is deliberately NOT divided by
    len(text): overlapping occurrences double-count characters, so that
    ratio can exceed 1 and must not be compared against published
    character-coverage thresholds.

    Unlike ``repetition_stats_df`` (expression-only, O(distinct·tokens)
    per row — fine for unigrams), counting n-gram multiplicity in-row is
    O(tokens²); here the grams explode → one map-side-combinable
    (doc, gram) count → per-doc agg → join back (LEFT keeps gram-less
    short docs at 0). Linear work, shuffles keyed on (doc, gram) then
    doc — the scalable spelling for 10k-token crawl documents.
    """
    toks = F.split(F.col(text_col), " ")
    nt = F.size(toks)
    grams = F.when(
        nt >= n,
        F.transform(
            F.sequence(F.lit(0), nt - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = df.select(F.col(id_col), F.explode(grams).alias("gram"))
    per_doc = (
        g.groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("c") >= 2, F.col("c") * F.length(F.col("gram"))).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("dup_gram_chars"),
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0)))
            .cast("long")
            .alias("dup_gram_occ"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("dup_gram_chars"), F.lit(0)).cast("long").alias("dup_gram_chars"),
            F.coalesce(
                F.col("dup_gram_occ") / F.col("n_grams"), F.lit(0.0)
            ).alias("dup_gram_frac"),
        )
    )


HEX_DIGITS = "0123456789abcdef"


def shard_assign_df(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 8,
) -> DataFrame:
    """Deterministic training-shard assignment: shard = (first two md5
    hex digits of the id, read as 0..255) mod ``n_shards``, position =
    rank of the full md5 key within the shard. Like
    ``stratified_sample_df``, zero RNG: the same rows land in the same
    shard at the same position on any cluster, any partitioning, any
    retry — what makes a 10^12-doc training-data shuffle resumable and
    auditable. Hex digits are mapped via ``instr`` so the IDENTICAL
    integer falls out of the DuckDB oracle (no engine-specific hex→int
    conversion). One shuffle (the per-shard rank window).
    """
    from pyspark.sql.window import Window

    h = F.md5(F.col(id_col).cast("string"))
    d1 = F.instr(F.lit(HEX_DIGITS), F.substring(h, 1, 1)) - 1
    d2 = F.instr(F.lit(HEX_DIGITS), F.substring(h, 2, 1)) - 1
    shard = ((d1 * 16 + d2) % n_shards).cast("int")
    w = Window.partitionBy("shard").orderBy("shard_key", id_col)
    return (
        df.select(F.col(id_col), h.alias("shard_key"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
    )


# ---------------------------------------------------------------------------
# URL filtering (C4 / RefinedWeb style): domain blocklists + URL-token scores
# ---------------------------------------------------------------------------

# Second-level public suffixes where the registered domain is three labels
# deep, not two ("example.co.uk", not "co.uk"). A deliberately small,
# documented subset of the public-suffix list — the full list is a data
# file a production deployment swaps in; the ALGORITHM (last-2 vs last-3
# labels keyed on this set) is what matters here.
PUBLIC_SLD = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ac.jp", "ne.jp",
    "com.br", "com.cn", "com.mx", "co.in", "co.kr", "com.tr",
)

# URL badword tiers (C4 §2.2 badword filtering / RefinedWeb §G.1 URL
# scoring, re-weighted): a HARD token bans a URL on its own; SOFT tokens
# ban only in combination. Token lists are intentionally short and
# documented — a deployment swaps in its curated lists; the scoring
# machinery is the deliverable.
URL_HARD_TOKENS = ("porn", "xxx", "escort", "hentai", "xvideo")
URL_SOFT_TOKENS = ("casino", "poker", "viagra", "webcam", "adult", "sexy", "pills")
URL_HARD_WEIGHT = 1.0
URL_SOFT_WEIGHT = 0.4
URL_BLOCK_THRESHOLD = 1.0


def registered_domain(host: Column) -> Column:
    """Registered (pay-level) domain of a host: the last two labels, or
    the last three when the last two are a second-level public suffix
    (``PUBLIC_SLD``). Pure expressions — ``aa.bb.example.co.uk`` →
    ``example.co.uk``, ``www.example.com`` → ``example.com``."""
    parts = F.split(host, "\\.")
    n = F.size(parts)
    last2 = F.array_join(F.slice(parts, F.greatest(n - 1, F.lit(1)), n), ".")
    last3 = F.array_join(F.slice(parts, F.greatest(n - 2, F.lit(1)), n), ".")
    is_sld = F.lit(False)
    for s in PUBLIC_SLD:
        is_sld = is_sld | (last2 == s)
    return F.when(is_sld & (n >= 3), last3).otherwise(last2)


def url_token_score(url: Column) -> Column:
    """Badword score of a URL: sum of tier weights over case-insensitive
    substring hits (each token counted once — presence, not frequency,
    so a spammy URL repeating one token cannot self-amplify past its
    tier). Expression-only; runs in whole-stage codegen."""
    u = F.lower(url)
    score = F.lit(0.0)
    for t in URL_HARD_TOKENS:
        score = score + F.when(u.contains(t), F.lit(URL_HARD_WEIGHT)).otherwise(F.lit(0.0))
    for t in URL_SOFT_TOKENS:
        score = score + F.when(u.contains(t), F.lit(URL_SOFT_WEIGHT)).otherwise(F.lit(0.0))
    return score


def url_filter_df(
    df: DataFrame,
    blocklist: DataFrame | None = None,
    id_col: str = "doc_id",
    url_col: str = "url",
    threshold: float = URL_BLOCK_THRESHOLD,
    mode: str = "fast",
) -> DataFrame:
    """URL-level page filtering (the FIRST curation gate a crawl pipeline
    runs — it needs no page bytes, only the URL column): per row emit the
    canonical URL, host, registered domain, badword ``url_score``, the
    blocklist verdict, and the combined ``keep`` flag.

    ``blocklist`` is a one-column ``dom`` DataFrame of blocked domains
    (registered domains or exact hosts). Two probe modes:

    * ``mode="fast"`` (default): a row is blocked iff its exact host OR
      its registered domain is listed. Two broadcast LEFT joins — the
      probe side never shuffles, so at 100 TB this stays one map pass
      (the blocklist side is millions of rows ≈ tens of MB: broadcast
      territory, and ``F.broadcast`` pins it).
    * ``mode="all"``: a row is blocked iff ANY dot-suffix of its host is
      listed (``a.b.example.com`` matches a listed ``b.example.com``).
      Still join-shuffle-free: the suffix walk happens inside an
      ``exists`` over a bounded suffix array joined per-suffix via the
      same broadcast hash — spelled as explode → broadcast left-semi →
      re-aggregate, ONE doc_id shuffle. Use when the blocklist carries
      deep subdomains; ``fast`` covers registered-domain lists (the
      common case) with zero shuffles.
    """
    canon = canonicalize_url(F.col(url_col)).alias("canon_url")
    base = df.select(F.col(id_col), F.col(url_col), canon)
    base = base.select(
        id_col,
        url_col,
        "canon_url",
        host_of(F.col("canon_url")).alias("host"),
        registered_domain(host_of(F.col("canon_url"))).alias("reg_domain"),
        url_token_score(F.col("canon_url")).alias("url_score"),
    )
    if blocklist is None:
        blocked = F.lit(False)
        out = base
    elif mode == "fast":
        bl = F.broadcast(blocklist.select(F.col("dom")).distinct())
        out = (
            base.join(
                bl.withColumnRenamed("dom", "host").withColumn("_bh", F.lit(True)),
                "host",
                "left",
            )
            .join(
                bl.withColumnRenamed("dom", "reg_domain").withColumn("_bd", F.lit(True)),
                "reg_domain",
                "left",
            )
        )
        blocked = F.coalesce(F.col("_bh"), F.lit(False)) | F.coalesce(
            F.col("_bd"), F.lit(False)
        )
    elif mode == "all":
        parts = F.split(F.col("host"), "\\.")
        n = F.size(parts)
        sufs = F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.array_join(F.slice(parts, i, n), "."),
        )
        hits = (
            base.select(F.col(id_col), F.explode(sufs).alias("dom"))
            .join(F.broadcast(blocklist.select("dom").distinct()), "dom", "left_semi")
            .select(id_col)
            .distinct()
            .withColumn("_bs", F.lit(True))
        )
        out = base.join(hits, id_col, "left")
        blocked = F.coalesce(F.col("_bs"), F.lit(False))
    else:
        raise ValueError(f"unknown mode {mode!r}")
    return out.select(
        id_col,
        url_col,
        "canon_url",
        "host",
        "reg_domain",
        "url_score",
        blocked.alias("blocked_domain"),
        (~blocked & (F.col("url_score") < F.lit(float(threshold)))).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Per-domain caps (C4/RefinedWeb style)
# ---------------------------------------------------------------------------


def domain_cap_df(
    df: DataFrame,
    id_col: str = "doc_id",
    domain_col: str = "reg_domain",
    cap: int = 1000,
) -> DataFrame:
    """Deterministic per-domain document cap (the C4/RefinedWeb "at most
    K pages per domain" rule): within each domain keep the ``cap`` rows
    with the smallest ``md5(id)`` — a uniform random-but-reproducible
    choice, same keep-set on any cluster layout or retry. One shuffle
    (the per-domain rank window); a hot mega-domain pins one window
    partition, which is exactly the row set the cap is about to discard,
    and AQE skew-split handles the sort spill."""
    from pyspark.sql.window import Window

    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(domain_col).orderBy("cap_key", id_col)
    return (
        df.select(F.col(id_col), F.col(domain_col), h.alias("cap_key"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= cap)
        .select(id_col, domain_col, "cap_key")
    )
