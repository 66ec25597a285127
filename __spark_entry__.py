"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline at sf0.001.
``queries()`` exposes every implemented operator from SURVEY.md §2 plus
the training-data ops; ``oracle_sql()`` carries the DuckDB-equivalent SQL
for every SQL-expressible one (checked at sf0.01).

Column names are aliased identically on both sides — the driver sorts
columns by name before value-hashing.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pypdfocr_spark import (
    dedup,
    events,
    multimodal,
    pack,
    pipeline,
    recipe,
    similarity,
    spans,
    textops,
    webops,
)
from pypdfocr_spark.config import ExtractConfig
from pypdfocr_spark.corpus import HEAVY_REPEAT

# LSH bucket-size cap (VERDICT r4 #1) applied by BOTH the Spark queries
# and their oracles (HAVING-count prune), so the driver hash-verifies
# the capped semantics. 64 is a no-op on the driver corpus (largest
# band-bucket there is far smaller) but binds on boilerplate floods.
LSH_MAX_BUCKET = 64

# ----------------------------------------------------------------- helpers
def _spread(df: DataFrame, denom: int = 2) -> DataFrame:
    """Spread a single-file fixture table across the cluster (r6).

    ``denom`` divides the partition count (which is always derived from
    the cluster's parallelism, never a constant). Default 2: this host
    exposes 2 SMT threads per physical core, and the spread's consumers
    are dense compute (JVM expressions, numpy batches) that saturates at
    the PHYSICAL core count — measured at both sf0.1 and sf1.0,
    par/2 partitions beat par on every opted-in query (less exchange,
    scheduling, and cached-block overhead at identical throughput;
    e.g. sf1.0 simhash 0.77→0.61 s, host_stats 0.95→0.70 s,
    decontaminate 1.31→0.93 s). On a cluster whose executors expose one
    thread per core, pass denom=1.

    The driver's documents/embeddings/events parquet files are ONE file
    with ONE row group — an unsplittable scan (the parquet reader can
    only split at row-group boundaries), so every map-side stage over
    them ran on a single task regardless of core count: the whole
    per-row compute of simhash, the embedding cosines, the sliding-
    window explode, the shingle/minhash pipeline etc. serialized onto
    one core. Guide §2.5 ("input skew: one huge unsplittable file …
    repartition immediately after the read"): one round-robin exchange
    of the small fixture relation, sized by the cluster's parallelism
    (scale-adaptive — local[N] here, executor total on a cluster; never
    a constant). The library operators themselves stay repartition-
    free: a production table arrives with real splits, this belongs to
    the fixture reader. Round-robin keeps Spark's sort-before-
    repartition determinism; every aggregation downstream of these
    three tables is order-insensitive (counts/longs, per-row floats, or
    deterministic rank windows), so results are bit-identical. The
    TPC-H tables (lineitem/orders/customer) are deliberately NOT
    spread: their queries round() double sums whose value depends on
    partial-aggregation grouping — reordering those would risk flipping
    a rounding boundary vs the frozen oracle.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(max(par // denom, 1))


# Which queries opt in (measured at sf1.0, BENCH/r06_before_sf1.0.jsonl →
# OPTIMIZATION_r06.md): the exchange costs ~0.15-0.3 s on these tables,
# so it pays only where the map-side per-row work it parallelizes is the
# dominant cost (simhash −73%, shingle/minhash pipelines, embedding
# cosines, the sliding-window explode, the decontamination intersect's
# corpus side). Cheap scan-project queries (route/source/filename/...)
# and slim-relation queries (pack_windows — its +2.5 s regression under
# a blanket spread is what forced the opt-in design) stay on the raw
# single-task scan, which is faster than paying the exchange.
def _docs(
    spark: SparkSession, sf_dir: str, spread: bool = False, denom: int = 2
) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return _spread(df, denom) if spread else df

def _emb(spark: SparkSession, sf_dir: str, spread: bool = False) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return _spread(df) if spread else df

def _events(spark: SparkSession, sf_dir: str, spread: bool = False) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _spread(df) if spread else df

def _corpus_path(sf_dir: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir))
    return f"/tmp/pypdfocr_spark_corpus_{tag}"


# The deterministic url construction (corpus.doc_url) as SQL — shared by
# several oracles.
URL_SQL = (
    "'https://site' || CAST(doc_id % 97 AS VARCHAR) || '.example/' || source || '/' || "
    "(CASE WHEN doc_id % 20 = 7 THEN 'my doc spark ' ELSE 'p' END) || CAST(doc_id AS VARCHAR) || "
    "(CASE WHEN doc_id % 10 = 3 THEN '_ocr.pdf' WHEN doc_id % 10 = 6 THEN '_test.pdf' "
    " WHEN doc_id % 3 = 0 THEN '.html' ELSE '.pdf' END)"
)

# Routing CASE chain = ordered first-match over DEFAULT_TARGETS
# (config order decides; within a folder OR is equivalent to first-hit).
ROUTE_SQL = (
    "CASE WHEN contains(lower({t}), 'spark') THEN 'spark_docs' "
    "WHEN contains(lower({t}), 'window') OR contains(lower({t}), 'vector') THEN 'analytics' "
    "WHEN contains(lower({t}), 'column') OR contains(lower({t}), 'table') THEN 'storage' "
    "ELSE 'default' END"
)

# expected normalized extracted text per doc (heavy docs repeat tokens)
EXPECTED_NORM_SQL = (
    f"CASE WHEN doc_id % 100 = 0 THEN rtrim(repeat(text || ' ', {HEAVY_REPEAT})) ELSE text END"
)
# token count of the single-spaced text
NTOK_SQL = "len(string_split(text, ' '))"
# page count: html docs → 1; pdf docs → ceil(tokens/40)
NPAGES_SQL = (
    f"CASE WHEN doc_id % 3 = 0 THEN 1 "
    f"ELSE CAST(ceil((CASE WHEN doc_id % 100 = 0 THEN {NTOK_SQL} * {HEAVY_REPEAT} ELSE {NTOK_SQL} END) / 40.0) AS BIGINT) END"
)

LANG_MARKERS_SQL = {
    "en": "('the','a','of','and','is')",
    "de": "('der','die','das','und','ist')",
    "fr": "('le','la','et','est','les')",
    "es": "('el','la','y','es','los')",
}
STOPWORDS_SQL = "('the','a','of','and','is','in','to','for','on','with','at','by','an','be','this','that')"


# ------------------------------------------------------------------ queries
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline over the sf0.001-derived corpus."""
    return pipeline.extract_from_documents(
        spark, "/root/testdata/sf0.001", ExtractConfig(),
        corpus_path=_corpus_path("/root/testdata/sf0.001"),
    )


def _q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = pipeline.extract_from_documents(
        spark, sf_dir, ExtractConfig(), corpus_path=_corpus_path(sf_dir)
    )
    return df.select(
        "url",
        "extracted_norm",
        F.col("n_pages").cast("long").alias("n_pages"),
        "status",
    )


def _q_route_first_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P1+P4 single-page semantics over documents.text (the reference's
    # _get_matching_folder, ref: pypdfocr_pdffiler.py:51-60)
    t = F.lower(F.col("text"))
    route = (
        F.when(t.contains("spark"), F.lit("spark_docs"))
        .when(t.contains("window") | t.contains("vector"), F.lit("analytics"))
        .when(t.contains("column") | t.contains("table"), F.lit("storage"))
        .otherwise(F.lit("default"))
    )
    return _docs(spark, sf_dir).select("doc_id", route.alias("route"))


def _q_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _q_route_first_match(spark, sf_dir)
        .groupBy("route")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _q_source_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # S3/P5: skip own outputs (ref: pypdfocr_watcher.py:95-96).
    # Url built with pure expressions (no Python) — mirrors URL_SQL.
    url = F.concat(
        F.lit("https://site"), (F.col("doc_id") % 97).cast("string"), F.lit(".example/"),
        F.col("source"), F.lit("/"),
        F.when(F.col("doc_id") % 20 == 7, F.lit("my doc spark ")).otherwise(F.lit("p")),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 10 == 3, F.lit("_ocr.pdf"))
        .when(F.col("doc_id") % 10 == 6, F.lit("_test.pdf"))
        .when(F.col("doc_id") % 3 == 0, F.lit(".html"))
        .otherwise(F.lit(".pdf")),
    )
    df = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    return df.where(~F.col("url").endswith("_ocr.pdf") & ~F.col("url").endswith("_test.pdf"))


def _q_normalize_ascii(spark: SparkSession, sf_dir: str) -> DataFrame:
    # S6: ascii-ignore + newline→space over a deterministically dirtied
    # text (the driver corpus is pure ascii, so inject é and \n first)
    dirty = F.concat(F.col("text"), F.lit("\n"), F.lit("caf"), F.expr("char(233)"), F.lit(" fin"))
    clean = F.regexp_replace(
        F.regexp_replace(dirty, "[^\\x00-\\x7F]", ""), "\n", " "
    )
    return _docs(spark, sf_dir).select("doc_id", clean.alias("norm_text"))


def _q_filename_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # T11 space→underscore (ref: pypdfocr_watcher.py:56-74)
    url = F.concat(
        F.lit("https://site"), (F.col("doc_id") % 97).cast("string"), F.lit(".example/"),
        F.col("source"), F.lit("/"),
        F.when(F.col("doc_id") % 20 == 7, F.lit("my doc spark ")).otherwise(F.lit("p")),
        F.col("doc_id").cast("string"), F.lit(".pdf"),
    )
    return _docs(spark, sf_dir).select(
        "doc_id", F.regexp_replace(url, " ", "_").alias("clean_url")
    )


def _q_uniquify_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # K2 filename-uniquify ≙ row_number over (route, ordered)
    # (ref: pypdfocr_filer.py:52-65)
    routed = _q_route_first_match(spark, sf_dir).join(
        _docs(spark, sf_dir).select("doc_id", "n_chars"), "doc_id"
    )
    w = Window.partitionBy("route").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return routed.select(
        "doc_id", "route", F.row_number().over(w).cast("long").alias("uniq_no")
    ).where(F.col("uniq_no") <= 3)


def _q_resume_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    # O4 resume primitive: EXCEPT-by-key via left_anti
    docs = _docs(spark, sf_dir)
    committed = docs.where(F.col("doc_id") % 7 == 0).select("doc_id")
    return docs.join(committed, "doc_id", "left_anti").select("doc_id")


def _q_page_count_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A5 page counts (feeds the skew/salting decision, SURVEY §4)
    ntok = F.size(F.split(F.col("text"), " "))
    n_pages = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(1).cast("long")).otherwise(
            F.ceil(
                F.when(F.col("doc_id") % 100 == 0, ntok * HEAVY_REPEAT).otherwise(ntok)
                / 40.0
            )
        )
    )
    return (
        _docs(spark, sf_dir)
        .select(n_pages.alias("n_pages"))
        .groupBy("n_pages")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _q_lineage_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # metrics-style agg (TPC-H Q1 shape): map-side-combinable partial aggs
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_mktsegment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # broadcast dim join (customer is tiny) + agg
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def _q_top_orders_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    rev = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    return (
        rev.join(o, rev.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("l_orderkey", "c_name", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def _q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no spread: the session window's own exchange on user_id is the
    # first real operator — a pre-spread would be a second, pure-overhead
    # exchange (measured +0.4 s at sf0.1)
    out = events.sessionize(_events(spark, sf_dir), gap_seconds=300)
    return out.select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        "n_events",
        "session_start",
        "session_end",
    )


def _pinned_utc(spark: SparkSession, build):
    """Build a DataFrame with the session TZ pinned to UTC, then restore
    the caller's zone.  Spark binds the session zone into Cast/timestamp
    expressions at analysis time, so forcing ``.schema`` before restoring
    locks UTC semantics into the returned plan while leaving the session
    state untouched — a hostile-zone harness (check_oracle --adversarial)
    keeps its zone for every later query instead of being silently
    reverted by the first windowed one (ADVICE r3)."""
    prev = spark.conf.get("spark.sql.session.timeZone", None)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        df = build()
        df.schema  # force analysis under the UTC pin
        return df
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.session.timeZone")
        else:
            spark.conf.set("spark.sql.session.timeZone", prev)


def _q_tumbling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Window key = epoch seconds by integer arithmetic (timezone-proof on
    # both engines regardless of the driver session's TZ); pin UTC too so
    # an NTZ→timestamp cast can't shift under a non-UTC driver session.
    def build() -> DataFrame:
        ev = _events(spark, sf_dir).withColumn(
            "value_cents", F.round(F.col("value") * 100).cast("long")
        )
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        window_start = (F.floor(us / F.lit(3_600_000_000)) * 3600).cast("long")
        return ev.groupBy(
            window_start.alias("window_start"), F.col("event_type")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_cents").alias("sum_value_cents"),
        )

    return _pinned_utc(spark, build)


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir))


def _q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_df prunes ubiquitous shingles before the self-join — candidate
    # fan-out control, the knob that keeps this linear-ish at corpus scale
    # denom=4: the persisted shingle relation's cached reps (what the
    # bench median measures) pay fixed per-block overhead in each of the
    # three downstream consumers; 8 blocks matched the raw scan's cached
    # cost while keeping the uncached explode ~7x faster than 1-task
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir, spread=True, denom=4), k=2, threshold=0.5, max_df=150
    ).select("id_a", "id_b", "n_common", F.round("jaccard", 9).alias("jaccard"))


def _q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters: connected components over the n-gram Jaccard
    near-dup pair graph (iterative min-label propagation — checked
    against a DuckDB recursive-CTE transitive closure)."""
    pairs = dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir, spread=True, denom=4), k=2, threshold=0.5, max_df=150
    )
    return dedup.connected_components(pairs).select("node", "component")


def _q_dedup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the end-to-end dedup composite: exact → near-dup clusters → keepers
    return dedup.dedup_keepers(
        _docs(spark, sf_dir, spread=True, denom=4), k=2, threshold=0.5, max_df=150
    )


def _q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_bucket caps the band-bucket fan-out (VERDICT r4 #1); the value
    # is mirrored in the oracle's HAVING prune, so the row stays
    # hash-verified whether or not the cap binds at this scale.
    return dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir, spread=True), num_hashes=16, bands=4, k=3,
        max_bucket=LSH_MAX_BUCKET,
    )


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_signatures(_docs(spark, sf_dir, spread=True))


def _q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = similarity.brute_force_topk(
        _emb(spark, sf_dir, spread=True), query_ids=list(range(10)), k=5
    )
    return out.select(
        "query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id",
        F.round("cosine", 9).alias("cosine"),
    )


def _q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = similarity.ivf_topk(
        _emb(spark, sf_dir, spread=True), query_ids=list(range(10)), k=5,
        n_centroids=16, n_probe=4,
    )
    return out.select(
        "query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id",
        F.round("cosine", 9).alias("cosine"),
    )


def _q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The 100-TB near-dup path: sign-LSH bucket + 1-bit multiprobe
    # candidates, exact-cosine filtered. Oracle reproduces the identical
    # candidate rule via bit_count(xor(bucket_a, bucket_b)) <= 1.
    return dedup.embedding_near_dup_pairs_lsh(
        _emb(spark, sf_dir, spread=True), threshold=0.3, n_planes=8, probe_bits=1,
        max_bucket=LSH_MAX_BUCKET,
    ).select("id_a", "id_b", F.round("cosine", 9).alias("cosine"))


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = textops.lang_id_df(_docs(spark, sf_dir))
    return out.select("doc_id", "pred_lang", F.col("score").cast("long").alias("score"))


def _q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = textops.quality_score_df(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("stopword_ratio", 9).alias("stopword_ratio"),
        F.round("mean_token_len", 9).alias("mean_token_len"),
    )


def _q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = textops.token_count_df(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_subwords").cast("long").alias("n_subwords"),
        F.col("n_pretokens").cast("long").alias("n_pretokens"),
    )


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.fingerprint_df(_docs(spark, sf_dir))


def _q_extract_spans_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level pipeline (the central nested type, SURVEY §1.1 #4):
    per-doc line/word counts over the parsed span tree — SQL-checkable
    because the corpus layout is deterministic (8 words/line on the PDF
    path, 12 per <p> on the HTML path)."""
    corpus_df = pipeline.cached_corpus(spark, sf_dir, _corpus_path(sf_dir))
    df = spans.extract_spans(corpus_df, ExtractConfig())
    n_lines = F.aggregate(
        F.col("spans"), F.lit(0), lambda acc, p: acc + F.size(p["lines"])
    )
    n_words = F.aggregate(
        F.col("spans"),
        F.lit(0),
        lambda acc, p: acc
        + F.aggregate(p["lines"], F.lit(0), lambda a2, ln: a2 + F.size(ln["words"])),
    )
    return df.select(
        "url",
        F.col("n_pages").cast("long").alias("n_pages"),
        n_lines.cast("long").alias("n_lines"),
        n_words.cast("long").alias("n_words"),
    )


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The SQL-checkable projection: every selected value is decoded *from
    # the binary tensor payload* on the Spark side but computed from the
    # original float column by the oracle — equality proves the binary
    # round-trip byte-for-byte. (The md5 checksum column stays in
    # FEATURE_SCHEMA and is pytest-verified; IEEE-754 bit extraction is
    # not expressible in DuckDB SQL.)
    media = multimodal.media_table(_emb(spark, sf_dir, spread=True))
    return multimodal.extract_features(media).select(
        "vec_id",
        "n_bytes",
        F.col("dim").cast("long").alias("dim"),
        F.round("first_val", 9).alias("first_val"),
        F.round("last_val", 9).alias("last_val"),
        F.round("sum_val", 9).alias("sum_val"),
        F.round("l2_norm", 9).alias("l2_norm"),
    )


# ------------------------------------------------------- web-corpus ops
def _dirty_url_col() -> F.Column:
    """A deterministically 'dirtied' URL per doc — uppercase heads,
    default ports, tracking params, fragments, trailing slashes — so the
    canonicalizer has real work; mirrored 1:1 by DIRTY_URL_SQL."""
    head = F.concat(
        F.lit("https://site"), (F.col("doc_id") % 97).cast("string"), F.lit(".example")
    )
    head = F.when(F.col("doc_id") % 5 == 0, F.upper(head)).otherwise(head)
    head = F.when(F.col("doc_id") % 7 == 0, F.concat(head, F.lit(":443"))).otherwise(head)
    path = F.concat(
        F.lit("/"), F.col("source"), F.lit("/"),
        F.when(F.col("doc_id") % 20 == 7, F.lit("my doc spark ")).otherwise(F.lit("p")),
        F.col("doc_id").cast("string"), F.lit(".html"),
    )
    path = F.when(F.col("doc_id") % 11 == 0, F.concat(path, F.lit("/"))).otherwise(path)
    suffix = (
        F.when(F.col("doc_id") % 4 == 1, F.lit("?utm_source=feed&fbclid=abc123"))
        .when(F.col("doc_id") % 4 == 2, F.lit("?a=1&utm_medium=email&b=2"))
        .when(F.col("doc_id") % 4 == 3, F.lit("#section-2"))
        .otherwise(F.lit(""))
    )
    return F.concat(head, path, suffix)


DIRTY_URL_SQL = (
    "(CASE WHEN doc_id % 5 = 0 THEN upper('https://site' || CAST(doc_id % 97 AS VARCHAR) || '.example') "
    " ELSE 'https://site' || CAST(doc_id % 97 AS VARCHAR) || '.example' END) || "
    "(CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END) || "
    "'/' || source || '/' || (CASE WHEN doc_id % 20 = 7 THEN 'my doc spark ' ELSE 'p' END) || "
    "CAST(doc_id AS VARCHAR) || '.html' || (CASE WHEN doc_id % 11 = 0 THEN '/' ELSE '' END) || "
    "(CASE WHEN doc_id % 4 = 1 THEN '?utm_source=feed&fbclid=abc123' "
    " WHEN doc_id % 4 = 2 THEN '?a=1&utm_medium=email&b=2' "
    " WHEN doc_id % 4 = 3 THEN '#section-2' ELSE '' END)"
)

# the canonicalization algorithm of webops.canonicalize_url as a DuckDB
# SELECT over (doc_id, url [, extra cols]) — one step per CTE
CANON_SQL = """
    WITH s1 AS (SELECT *, regexp_replace(url, '#.*$', '') AS u FROM __IN__),
    s2 AS (SELECT *, lower(regexp_extract(u, '^[a-zA-Z]+://[^/?#]*')) AS head0 FROM s1),
    s3 AS (SELECT *,
                  CASE WHEN starts_with(head0, 'http://') AND head0 LIKE '%:80'
                            THEN substr(head0, 1, len(head0) - 3)
                       WHEN starts_with(head0, 'https://') AND head0 LIKE '%:443'
                            THEN substr(head0, 1, len(head0) - 4)
                       ELSE head0 END AS head,
                  substr(u, len(head0) + 1) AS tail
           FROM s2),
    s4 AS (SELECT *,
                  replace(regexp_replace(tail, '\\?.*$', ''), ' ', '%20') AS path0,
                  CASE WHEN contains(tail, '?')
                       THEN regexp_replace(tail, '^[^?]*\\?', '') ELSE '' END AS q
           FROM s3),
    s5 AS (SELECT *,
                  CASE WHEN path0 LIKE '%/' AND len(path0) > 1
                       THEN substr(path0, 1, len(path0) - 1) ELSE path0 END AS path,
                  list_filter(string_split(q, '&'),
                              p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'fbclid=')
                                        OR starts_with(p, 'gclid=') OR p = '')) AS kept
           FROM s4)
    SELECT *, head || path ||
           (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END)
           AS canon_url
    FROM s5
"""


def _q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return webops.canonicalize_url_df(
        _docs(spark, sf_dir).select("doc_id", _dirty_url_col().alias("url"))
    )


def _q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    canon = _docs(spark, sf_dir, spread=True).select(
        "n_chars",
        webops.canonicalize_url(_dirty_url_col()).alias("canon_url"),
    )
    return webops.host_stats_df(canon)


# url_filter fixture: already-canonical URLs (canonicalization has its own
# oracled slot) with subdomains, a public-SLD suffix, and badword query
# strings, so host extraction, registered-domain logic, the blocklist
# joins, and the token score all have real work. Mirrored by URLF_SQL.
_URLF_BLOCKLIST = ("site13.example", "www.site20.example", "example.co.uk")


def _urlf_url_col() -> F.Column:
    host = F.concat(
        F.when(F.col("doc_id") % 4 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("site"), (F.col("doc_id") % 97).cast("string"),
        F.when(F.col("doc_id") % 6 == 0, F.lit(".example.co.uk")).otherwise(
            F.lit(".example")
        ),
    )
    tail = (
        F.when(F.col("doc_id") % 13 == 0, F.lit("?q=xxx-escort"))
        .when(F.col("doc_id") % 17 == 0, F.lit("?q=casino"))
        .when(F.col("doc_id") % 19 == 0, F.lit("?q=viagra-poker-webcam"))
        .otherwise(F.lit(""))
    )
    return F.concat(
        F.lit("https://"), host, F.lit("/p"), F.col("doc_id").cast("string"),
        F.lit(".html"), tail,
    )


def _q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", _urlf_url_col().alias("url"))
    bl = spark.createDataFrame([(d,) for d in _URLF_BLOCKLIST], "dom STRING")
    return webops.url_filter_df(docs, bl, mode="fast")


def _q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 7 synthetic registered domains over ~500 docs; cap=40 binds on all
    # of them, so the md5 rank ordering itself is hash-verified
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("dom"), (F.col("doc_id") % 7).cast("string"), F.lit(".example")
        ).alias("reg_domain"),
    )
    return webops.domain_cap_df(docs, cap=40)


def _q_pack_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    return pack.pack_concat(counts, 64, n_shards=8)


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return webops.stratified_sample_df(_docs(spark, sf_dir))


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ratios are single int/int divisions — IEEE-identical on both
    # engines, no rounding needed
    return webops.repetition_stats_df(_docs(spark, sf_dir))


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stand-in eval set: every 50th doc; the corpus is everything else
    # bench side feeds a tiny driver collect — raw 1-task scan; only
    # the corpus side (the per-doc overlap compute) is spread
    bench = _docs(spark, sf_dir).where(F.col("doc_id") % 50 == 0)
    corpus = _docs(spark, sf_dir, spread=True).where(F.col("doc_id") % 50 != 0)
    return dedup.decontaminate(corpus, bench, k=2, min_overlap=3)


def _q_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the synthetic corpus is PII-free — inject deterministic emails /
    # IPs / phones first (same trick as normalize_ascii's é injection),
    # mirrored by the oracle's SQL CASE chain
    dirty = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 6 == 0, F.lit(" contact alice.smith@example.org now"))
        .when(F.col("doc_id") % 6 == 1, F.lit(" server at 192.168.1.77 port"))
        .when(F.col("doc_id") % 6 == 2, F.lit(" call +1 555-123-4567 today"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 15 == 0, F.lit(" cc bob@test.io")).otherwise(F.lit("")),
    )
    return textops.pii_df(
        _docs(spark, sf_dir).select("doc_id", dirty.alias("text"))
    )


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the driver corpus is single-line; inject crawl boilerplate lines
    # deterministically (mirrored by the oracle's CASE chain) so the
    # cross-document line counts have something to find
    nl = F.lit("\n")
    dirty = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("Subscribe to our newsletter"), nl,
                F.col("text"), nl,
                F.lit("Copyright 2024 Example Corp"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("Cookie notice: we use cookies"), nl, F.col("text")),
        )
        .otherwise(F.col("text"))
    )
    return dedup.line_dedup(
        _docs(spark, sf_dir).select("doc_id", dirty.alias("text")), min_docs=2
    )


def _q_sliding_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cents pattern (exact integer sums) + epoch-integer window keys,
    # both TZ-proof — see _q_tumbling_events
    def build() -> DataFrame:
        ev = _events(spark, sf_dir, spread=True).withColumn(
            "value_cents", F.round(F.col("value") * 100).cast("long")
        )
        return events.sliding_counts(
            ev, value_col="value_cents", window_seconds=3600, slide_seconds=900
        )

    return _pinned_utc(spark, build)


def _q_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # inject trivial variants (case, trailing punctuation, doubled
    # spaces) that raw-md5 dedup can't merge; mirrored by the oracle
    dirty = (
        F.when(F.col("doc_id") % 4 == 0, F.upper(F.col("text")))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.col("text"), F.lit("!!")))
        .when(F.col("doc_id") % 4 == 2, F.regexp_replace(F.col("text"), " ", "  "))
        .otherwise(F.col("text"))
    )
    return dedup.normalized_exact_dedup(
        _docs(spark, sf_dir).select("doc_id", dirty.alias("text"))
    )


def _q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return webops.grouped_quantiles_df(_docs(spark, sf_dir))


def _q_dup_ngram_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    return webops.dup_ngram_frac_df(_docs(spark, sf_dir), n=2)


def _q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.top_terms_df(_docs(spark, sf_dir), k=3)


def _q_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.chunk_df(_docs(spark, sf_dir), chunk_tokens=32, stride=24)


def _q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return webops.shard_assign_df(_docs(spark, sf_dir), n_shards=8)


def _q_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the fused single-scan curation run (parity-pinned vs the composed
    # form): eval set = every 50th doc (same framing as the decontaminate
    # query), corpus = the rest
    bench = _docs(spark, sf_dir).where(F.col("doc_id") % 50 == 0)
    corpus = _docs(spark, sf_dir, spread=True).where(F.col("doc_id") % 50 != 0)
    return recipe.curate(corpus, bench, min_tokens=30)


def _q_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return recipe.curation_report(_q_corpus_curate(spark, sf_dir))


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # point-in-time lookup: each click joined to the user's latest
    # purchase at-or-before the click (LEFT: clicks before any purchase
    # keep nulls). Oracle is DuckDB's native ASOF LEFT JOIN — an
    # independent formulation of the same semantics.
    ev = _events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    # pre-aggregate to one row per (user, ts): asof_join (and DuckDB's
    # ASOF) is ambiguous under right-side ties — the docstring's stated
    # precondition, enforced here so the hash check can never go flaky
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    return events.asof_join(clicks, purchases, right_cols=("value",))


def _q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # inject symbol/non-alpha junk into every 7th doc (mirrored by the
    # oracle) so each rule has both passing and failing documents;
    # min_tokens=30 splits the 10..99-token driver corpus ~20/80
    dirty = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" #### ... 12 9")).otherwise(F.lit("")),
    )
    return textops.gopher_filter_df(
        _docs(spark, sf_dir).select("doc_id", dirty.alias("text")), min_tokens=30
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "extract_text": _q_extract_text,
        "route_first_match": _q_route_first_match,
        "route_counts": _q_route_counts,
        "source_filter": _q_source_filter,
        "normalize_ascii": _q_normalize_ascii,
        # md5_docs retired in r5 (A4 stays hash-verified through
        # dedup_exact's identical md5 grouping) to free a driver slot
        # for url_filter.
        "filename_normalize": _q_filename_normalize,
        "uniquify_rownum": _q_uniquify_rownum,
        "resume_anti": _q_resume_anti,
        "page_count_hist": _q_page_count_hist,
        "lineage_rollup": _q_lineage_rollup,
        "mktsegment_revenue": _q_mktsegment_revenue,
        "top_orders_3way": _q_top_orders_3way,
        "sessionize_events": _q_sessionize_events,
        "tumbling_events": _q_tumbling_events,
        "dedup_exact": _q_dedup_exact,
        "dedup_ngram_jaccard": _q_dedup_ngram_jaccard,
        "dedup_components": _q_dedup_components,
        "dedup_keepers": _q_dedup_keepers,
        # minhash_signatures retired in r5: minhash_lsh_pairs' oracle
        # recomputes the full shingle→minhash→band pipeline from scratch
        # in SQL, so signature correctness stays transitively
        # hash-verified; the freed slot goes to domain_cap.
        "minhash_lsh_pairs": _q_minhash_lsh_pairs,
        "simhash": _q_simhash,
        "embedding_topk": _q_embedding_topk,
        # embedding_lsh_topk retired in r5: the sign-LSH bucket machinery
        # stays oracled through embedding_neardup_lsh and the exact-topk
        # path through embedding_topk/embedding_ivf_topk (recall vs brute
        # force additionally pytest-pinned); the freed slot goes to
        # pack_windows.
        "embedding_ivf_topk": _q_embedding_ivf_topk,
        # embedding_neardup (exact all-pairs verifier) is deliberately NOT
        # registered: the driver checks at most 50 queries (r3: 51 registered,
        # 50 checked, curation_report dropped), and the exact path is the
        # guarded small-slice verifier already pytest-parity-checked against
        # embedding_neardup_lsh (tests/test_ops.py::
        # test_embedding_neardup_lsh_subset_and_recall).  VERDICT r3 #4.
        "embedding_neardup_lsh": _q_embedding_neardup_lsh,
        "lang_id": _q_lang_id,
        "quality_score": _q_quality_score,
        "token_count": _q_token_count,
        "fingerprint": _q_fingerprint,
        "extract_spans_stats": _q_extract_spans_stats,
        "multimodal_features": _q_multimodal_features,
        "url_canonicalize": _q_url_canonicalize,
        "host_stats": _q_host_stats,
        "url_filter": _q_url_filter,
        "domain_cap": _q_domain_cap,
        "pack_windows": _q_pack_windows,
        "stratified_sample": _q_stratified_sample,
        "repetition_stats": _q_repetition_stats,
        "decontaminate": _q_decontaminate,
        "pii_counts": _q_pii,
        "line_dedup": _q_line_dedup,
        "gopher_filter": _q_gopher_filter,
        "asof_join": _q_asof_join,
        "sliding_events": _q_sliding_events,
        "normalized_dedup": _q_normalized_dedup,
        "length_quantiles": _q_length_quantiles,
        "dup_ngram_frac": _q_dup_ngram_frac,
        "top_terms": _q_top_terms,
        "chunk_windows": _q_chunk,
        "shard_assign": _q_shard_assign,
        "corpus_curate": _q_corpus_curate,
        "curation_report": _q_curation_report,
    }


def oracle_sql() -> dict[str, str]:
    route_text = ROUTE_SQL.format(t="text")
    shingle2 = (
        "list_distinct(list_transform(generate_series(1, greatest(len(string_split(text,' '))-1,1)), "
        "i -> array_to_string(string_split(text,' ')[i:i+1], ' ')))"
    )
    shingle3 = (
        "list_distinct(list_transform(generate_series(1, greatest(len(string_split(text,' '))-2,1)), "
        "i -> array_to_string(string_split(text,' ')[i:i+2], ' ')))"
    )
    # url_filter: fixture URL + badword score + registered domain, each
    # generated FROM the webops constants so oracle and engine cannot
    # drift (token order matters — double addition is order-sensitive).
    urlf_url = (
        "'https://' || (CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END) || "
        "'site' || CAST(doc_id % 97 AS VARCHAR) || "
        "(CASE WHEN doc_id % 6 = 0 THEN '.example.co.uk' ELSE '.example' END) || "
        "'/p' || CAST(doc_id AS VARCHAR) || '.html' || "
        "(CASE WHEN doc_id % 13 = 0 THEN '?q=xxx-escort' "
        " WHEN doc_id % 17 = 0 THEN '?q=casino' "
        " WHEN doc_id % 19 = 0 THEN '?q=viagra-poker-webcam' ELSE '' END)"
    )
    urlf_score = "CAST(0.0 AS DOUBLE)" + "".join(
        f" + CASE WHEN contains(lower(url), '{t}') THEN CAST({w} AS DOUBLE)"
        f" ELSE CAST(0.0 AS DOUBLE) END"
        for t, w in (
            [(t, webops.URL_HARD_WEIGHT) for t in webops.URL_HARD_TOKENS]
            + [(t, webops.URL_SOFT_WEIGHT) for t in webops.URL_SOFT_TOKENS]
        )
    )
    sld_list = ", ".join(f"'{s}'" for s in webops.PUBLIC_SLD)
    urlf_last2 = (
        "array_to_string(list_slice(parts, greatest(len(parts)-1, 1), len(parts)), '.')"
    )
    urlf_last3 = (
        "array_to_string(list_slice(parts, greatest(len(parts)-2, 1), len(parts)), '.')"
    )
    urlf_block = ", ".join(f"'{d}'" for d in _URLF_BLOCKLIST)
    lang_score = {
        lang: f"len(list_filter(string_split(text,' '), t -> lower(t) IN {m}))"
        for lang, m in LANG_MARKERS_SQL.items()
    }
    # 16-hash MinHash signature aggregates (LSH banding: 4 bands × 4 rows)
    mh16 = ", ".join(
        f"min((({2*i+1}::BIGINT * x + {7919*(i+1)}) % 1000000007)) AS mh{i}"
        for i in range(16)
    )
    lsh_bands = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, "
        + " || '_' || ".join(f"mh{bi*4+r}::VARCHAR" for r in range(4))
        + " AS bucket FROM sig"
        for bi in range(4)
    )
    # sign-LSH bucket over an embedding column — the IDENTICAL md5-derived
    # plane weights as similarity.hyperplane_bucket (table 0), inlined as
    # exact round-trip double literals
    from pypdfocr_spark.similarity import plane_weights

    def _wlit(w: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in w) + "]"

    emb_bucket = " + ".join(
        f"(CASE WHEN list_sum(list_transform(generate_series(1, len(embedding)), "
        f"d -> embedding[d]::DOUBLE * ({_wlit(w)})[d])) >= 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p, w in enumerate(plane_weights(8, 64, table=0))
    )
    d = {
        "extract_text": f"""
            SELECT url, {EXPECTED_NORM_SQL} AS extracted_norm, {NPAGES_SQL} AS n_pages,
                   'ok' AS status
            FROM (SELECT doc_id, text, {URL_SQL} AS url FROM documents)
            WHERE NOT (url LIKE '%!_ocr.pdf' ESCAPE '!') AND NOT (url LIKE '%!_test.pdf' ESCAPE '!')
        """,
        "route_first_match": f"SELECT doc_id, {route_text} AS route FROM documents",
        "route_counts": f"""
            SELECT route, count(*) AS n_docs
            FROM (SELECT {route_text} AS route FROM documents) GROUP BY route
        """,
        "source_filter": f"""
            SELECT doc_id, url FROM (SELECT doc_id, {URL_SQL} AS url FROM documents)
            WHERE NOT (url LIKE '%!_ocr.pdf' ESCAPE '!') AND NOT (url LIKE '%!_test.pdf' ESCAPE '!')
        """,
        "normalize_ascii": """
            SELECT doc_id,
                   replace(regexp_replace(text || chr(10) || 'caf' || chr(233) || ' fin',
                                          '[^\\x00-\\x7F]', '', 'g'), chr(10), ' ') AS norm_text
            FROM documents
        """,
        "url_filter": f"""
            WITH d AS (SELECT doc_id, {urlf_url} AS url FROM documents),
            h AS (
                SELECT doc_id, url, url AS canon_url,
                       regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1) AS host
                FROM d
            ),
            p AS (SELECT *, string_split(host, '.') AS parts FROM h),
            g AS (
                SELECT doc_id, url, canon_url, host,
                       CASE WHEN len(parts) >= 3 AND {urlf_last2} IN ({sld_list})
                            THEN {urlf_last3} ELSE {urlf_last2} END AS reg_domain,
                       {urlf_score} AS url_score
                FROM p
            )
            SELECT doc_id, url, canon_url, host, reg_domain, url_score,
                   (host IN ({urlf_block}) OR reg_domain IN ({urlf_block}))
                       AS blocked_domain,
                   (NOT (host IN ({urlf_block}) OR reg_domain IN ({urlf_block}))
                    AND url_score < CAST(1.0 AS DOUBLE)) AS keep
            FROM g
        """,
        "domain_cap": """
            SELECT doc_id, reg_domain, cap_key FROM (
                SELECT doc_id, reg_domain, cap_key,
                       row_number() OVER (
                           PARTITION BY reg_domain ORDER BY cap_key, doc_id
                       ) AS rn
                FROM (
                    SELECT doc_id,
                           'dom' || CAST(doc_id % 7 AS VARCHAR) || '.example'
                               AS reg_domain,
                           md5(CAST(doc_id AS VARCHAR)) AS cap_key
                    FROM documents
                )
            ) WHERE rn <= 40
        """,
        "pack_windows": """
            WITH c AS (
                SELECT doc_id,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                FROM documents
            ),
            p AS (
                SELECT doc_id, n,
                       CAST(coalesce(sum(n) OVER (
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS BIGINT) AS s
                FROM c WHERE n > 0
            ),
            e AS (
                SELECT doc_id, n, s,
                       unnest(generate_series(s // 64, (s + n - 1) // 64))
                           AS window_id
                FROM p
            )
            SELECT CAST(window_id AS BIGINT) AS window_id, doc_id,
                   CAST(greatest(window_id * 64 - s, 0) AS BIGINT) AS doc_offset,
                   CAST(greatest(s - window_id * 64, 0) AS BIGINT) AS window_offset,
                   CAST(least(s + n, window_id * 64 + 64)
                        - greatest(s, window_id * 64) AS BIGINT) AS n_tokens
            FROM e
        """,
        "filename_normalize": f"""
            SELECT doc_id,
                   replace('https://site' || CAST(doc_id % 97 AS VARCHAR) || '.example/' || source || '/' ||
                           (CASE WHEN doc_id % 20 = 7 THEN 'my doc spark ' ELSE 'p' END) ||
                           CAST(doc_id AS VARCHAR) || '.pdf', ' ', '_') AS clean_url
            FROM documents
        """,
        "uniquify_rownum": f"""
            SELECT doc_id, route, uniq_no FROM (
                SELECT doc_id, route,
                       row_number() OVER (PARTITION BY route ORDER BY n_chars DESC, doc_id) AS uniq_no
                FROM (SELECT doc_id, n_chars, {route_text} AS route FROM documents)
            ) WHERE uniq_no <= 3
        """,
        "resume_anti": "SELECT doc_id FROM documents WHERE doc_id % 7 <> 0",
        "page_count_hist": f"""
            SELECT n_pages, count(*) AS n_docs
            FROM (SELECT {NPAGES_SQL} AS n_pages FROM documents) GROUP BY n_pages
        """,
        "lineage_rollup": """
            SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price, count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "mktsegment_revenue": """
            SELECT c_mktsegment, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "top_orders_3way": """
            SELECT l_orderkey, c_name, revenue FROM (
                SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
                FROM lineitem GROUP BY l_orderkey
            ) r JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
            ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        "sessionize_events": """
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
                   min(ts) AS session_start, max(ts) AS session_end
            FROM (
                SELECT user_id, ts,
                       sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
                FROM (
                    SELECT user_id, ts,
                           CASE WHEN prev_ts IS NULL
                                     OR (epoch_us(ts) - epoch_us(prev_ts)) > 300000000
                                THEN 1 ELSE 0 END AS is_start
                    FROM (SELECT user_id, ts,
                                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
                          FROM events)
                )
            ) GROUP BY user_id, session_id
        """,
        "tumbling_events": """
            -- Same integer arithmetic as the Spark side: floor(epoch_us /
            -- 3600e6) * 3600, spelled as a floor-mod so it matches Spark's
            -- F.floor on pre-1970 timestamps too (DuckDB's integer '//'
            -- truncates toward zero).  The CAST(ts AS TIMESTAMP) first is
            -- the timezone armor: if the harness exposes ts as TIMESTAMPTZ
            -- via a plain ::TIMESTAMPTZ cast under a non-UTC TimeZone (the
            -- instant shifts by the zone offset but the wall time is
            -- preserved — the only exposure consistent with sessionize
            -- passing while time_bucket-based tumbling hash-failed in
            -- r1/r2), casting back to naive under the same zone recovers
            -- the original wall time, and epoch_us(naive) reads that wall
            -- time as UTC — exactly what Spark computes with its session
            -- zone pinned to UTC.  On a plain naive view the cast is a
            -- no-op.  Verified invariant under {naive, ::TIMESTAMPTZ} ×
            -- {UTC, America/New_York, Asia/Kathmandu} on DuckDB 1.0.0.
            SELECT CAST((epoch_us(CAST(ts AS TIMESTAMP))
                         - ((epoch_us(CAST(ts AS TIMESTAMP)) % 3600000000) + 3600000000) % 3600000000
                        ) / 1000000 AS BIGINT) AS window_start,
                   event_type, count(*) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
            FROM events GROUP BY 1, 2
        """,
        "dedup_exact": """
            SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id, count(*) AS dup_count
            FROM documents GROUP BY 1
        """,
        "dedup_ngram_jaccard": f"""
            WITH sh0 AS (
                SELECT doc_id, unnest({shingle2}) AS shingle FROM documents
            ),
            keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 150),
            sh AS (SELECT doc_id, shingle FROM sh0 JOIN keep USING (shingle)),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                FROM sh a JOIN sh b USING (shingle)
                WHERE a.doc_id < b.doc_id GROUP BY 1, 2
            )
            SELECT id_a, id_b, n_common,
                   round(n_common / (sa.n + sb.n - n_common), 9) AS jaccard
            FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
            WHERE n_common / (sa.n + sb.n - n_common) >= 0.5
        """,
        "dedup_components": f"""
            WITH RECURSIVE sh0 AS (
                SELECT doc_id, unnest({shingle2}) AS shingle FROM documents
            ),
            keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 150),
            sh AS (SELECT doc_id, shingle FROM sh0 JOIN keep USING (shingle)),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            cand AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                FROM sh a JOIN sh b USING (shingle)
                WHERE a.doc_id < b.doc_id GROUP BY 1, 2
            ),
            pairs AS (
                SELECT id_a, id_b FROM cand
                JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
                WHERE n_common / (sa.n + sb.n - n_common) >= 0.5
            ),
            edges AS (
                SELECT id_a AS s, id_b AS d FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ),
            reach(n, r) AS (
                SELECT s, s FROM (SELECT DISTINCT s FROM edges)
                UNION
                SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.n
            )
            SELECT n AS node, min(r) AS component FROM reach GROUP BY n
        """,
        "dedup_keepers": f"""
            WITH RECURSIVE keepers AS (
                SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
            ),
            d2 AS (SELECT d.doc_id, d.text FROM documents d JOIN keepers USING (doc_id)),
            sh0 AS (SELECT doc_id, unnest({shingle2}) AS shingle FROM d2),
            keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 150),
            sh AS (SELECT doc_id, shingle FROM sh0 JOIN keep USING (shingle)),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            cand AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                FROM sh a JOIN sh b USING (shingle)
                WHERE a.doc_id < b.doc_id GROUP BY 1, 2
            ),
            pairs AS (
                SELECT id_a, id_b FROM cand
                JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
                WHERE n_common / (sa.n + sb.n - n_common) >= 0.5
            ),
            edges AS (
                SELECT id_a AS s, id_b AS d FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ),
            reach(n, r) AS (
                SELECT s, s FROM (SELECT DISTINCT s FROM edges)
                UNION
                SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.n
            ),
            comp AS (SELECT n AS node, min(r) AS component FROM reach GROUP BY n)
            SELECT doc_id FROM d2
            WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
        """,
        "minhash_lsh_pairs": f"""
            WITH x AS (
                SELECT doc_id,
                       ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 1000000007 AS x
                FROM (SELECT doc_id, unnest({shingle3}) AS shingle FROM documents)
            ),
            sig AS (SELECT doc_id, {mh16} FROM x GROUP BY doc_id),
            bands_all AS ({lsh_bands}),
            -- max_bucket prune, mirroring dedup.minhash_lsh_pairs
            hot AS (
                SELECT band, bucket FROM bands_all
                GROUP BY band, bucket HAVING count(*) > {LSH_MAX_BUCKET}
            ),
            bands AS (
                SELECT b.* FROM bands_all b
                ANTI JOIN hot h ON b.band = h.band AND b.bucket = h.bucket
            )
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b USING (band, bucket)
            WHERE a.doc_id < b.doc_id
        """,
        "simhash": """
            -- tokenization must match Python str.split() exactly: split
            -- on runs of PYTHON's whitespace set (incl. unicode spaces,
            -- NBSP, \\x1c-\\x1f, \\x85 — RE2's ASCII \\s would miss
            -- those), drop empties
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(text,
                           '[\\t\\n\\x0b\\x0c\\r\\x1c-\\x1f \\x85\\x{00a0}\\x{1680}\\x{2000}-\\x{200a}\\x{2028}\\x{2029}\\x{202f}\\x{205f}\\x{3000}]+'),
                           t -> t <> '')) AS tok
                FROM documents
            ),
            h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS hv FROM toks),
            bits AS (
                SELECT doc_id, b, sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
                FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) bs
                GROUP BY doc_id, b
            )
            SELECT doc_id,
                   sum(CASE WHEN acc > 0 THEN
                            CASE WHEN b = 63 THEN -9223372036854775808
                                 ELSE (1::BIGINT << b) END
                       ELSE 0 END)::BIGINT AS simhash
            FROM bits GROUP BY doc_id
        """,
        "embedding_ivf_topk": """
            WITH cent AS (
                SELECT vec_id AS centroid_id, embedding AS cv
                FROM embeddings WHERE vec_id < 16
            ),
            assign AS (
                SELECT vec_id, centroid_id FROM (
                    SELECT e.vec_id, c.centroid_id,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]) DESC,
                                        c.centroid_id
                           ) AS r
                    FROM embeddings e, cent c
                ) WHERE r = 1
            ),
            qprobe AS (
                SELECT query_id, centroid_id FROM (
                    SELECT q.vec_id AS query_id, c.centroid_id,
                           row_number() OVER (
                               PARTITION BY q.vec_id
                               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cv::DOUBLE[]) DESC,
                                        c.centroid_id
                           ) AS r
                    FROM embeddings q, cent c WHERE q.vec_id < 10
                ) WHERE r <= 4
            )
            SELECT query_id, rank, neighbor_id, round(cosine, 9) AS cosine FROM (
                SELECT p.query_id, a.vec_id AS neighbor_id,
                       list_cosine_similarity(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]) AS cosine,
                       row_number() OVER (
                           PARTITION BY p.query_id
                           ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]) DESC,
                                    a.vec_id
                       ) AS rank
                FROM qprobe p
                JOIN assign a USING (centroid_id)
                JOIN embeddings qe ON qe.vec_id = p.query_id
                JOIN embeddings ne ON ne.vec_id = a.vec_id
                WHERE a.vec_id <> p.query_id
            ) WHERE rank <= 5
        """,
        "embedding_neardup_lsh": f"""
            WITH bk_all AS (SELECT vec_id, embedding, {emb_bucket} AS bucket FROM embeddings),
            -- max_bucket prune, mirroring dedup.embedding_near_dup_pairs_lsh
            hotb AS (
                SELECT bucket FROM bk_all
                GROUP BY bucket HAVING count(*) > {LSH_MAX_BUCKET}
            ),
            bk AS (
                SELECT b.* FROM bk_all b ANTI JOIN hotb h ON b.bucket = h.bucket
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 9) AS cosine
            FROM bk a JOIN bk b
              ON bit_count(xor(a.bucket::BIGINT, b.bucket::BIGINT)) <= 1
             AND a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
        """,
        "multimodal_features": """
            SELECT vec_id, CAST(4 * len(embedding) AS BIGINT) AS n_bytes,
                   CAST(len(embedding) AS BIGINT) AS dim,
                   round(embedding[1]::DOUBLE, 9) AS first_val,
                   round(embedding[len(embedding)]::DOUBLE, 9) AS last_val,
                   round(list_sum(list_transform(embedding, x -> x::DOUBLE)), 9) AS sum_val,
                   round(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))), 9) AS l2_norm
            FROM embeddings
        """,
        "embedding_topk": """
            SELECT query_id, rank, neighbor_id, round(cosine, 9) AS cosine FROM (
                SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                       list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) AS cosine,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
                                    n.vec_id
                       ) AS rank
                FROM embeddings q, embeddings n
                WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id
            ) WHERE rank <= 5
        """,
        "lang_id": f"""
            SELECT doc_id,
                   CASE WHEN best > 0 THEN
                        CASE WHEN sc_de = best THEN 'de'
                             WHEN sc_en = best THEN 'en'
                             WHEN sc_es = best THEN 'es'
                             ELSE 'fr' END
                   ELSE 'unk' END AS pred_lang,
                   CAST(best AS BIGINT) AS score
            FROM (
                SELECT doc_id, sc_de, sc_en, sc_es, sc_fr,
                       greatest(sc_de, sc_en, sc_es, sc_fr) AS best
                FROM (
                    SELECT doc_id,
                           {lang_score['de']} AS sc_de, {lang_score['en']} AS sc_en,
                           {lang_score['es']} AS sc_es, {lang_score['fr']} AS sc_fr
                    FROM documents
                )
            )
        """,
        "quality_score": f"""
            SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   round(len(list_filter(string_split(text, ' '), t -> lower(t) IN {STOPWORDS_SQL}))
                         / len(string_split(text, ' ')), 9) AS stopword_ratio,
                   round(list_sum(list_transform(string_split(text, ' '), t -> length(t)))
                         / len(string_split(text, ' ')), 9) AS mean_token_len
            FROM documents
        """,
        "token_count": """
            SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(list_sum(list_transform(string_split(text, ' '),
                                                t -> CAST(ceil(length(t) / 4.0) AS INT))) AS BIGINT) AS n_subwords,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_pretokens
            FROM documents
        """,
        "fingerprint": """
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
            FROM documents
        """,
        "extract_spans_stats": f"""
            SELECT url, {NPAGES_SQL} AS n_pages,
                   CAST(CASE WHEN doc_id % 3 = 0 THEN ceil(T / 12.0) ELSE ceil(T / 8.0) END AS BIGINT) AS n_lines,
                   CAST(T AS BIGINT) AS n_words
            FROM (
                SELECT doc_id, text, {URL_SQL} AS url,
                       (CASE WHEN doc_id % 100 = 0 THEN {NTOK_SQL} * {HEAVY_REPEAT} ELSE {NTOK_SQL} END) AS T
                FROM documents
            )
            WHERE NOT (url LIKE '%!_ocr.pdf' ESCAPE '!') AND NOT (url LIKE '%!_test.pdf' ESCAPE '!')
        """,
        "url_canonicalize": (
            "SELECT doc_id, canon_url FROM ("
            + CANON_SQL.replace(
                "__IN__",
                f"(SELECT doc_id, {DIRTY_URL_SQL} AS url FROM documents)",
            )
            + ")"
        ),
        "host_stats": (
            "SELECT regexp_extract(canon_url, '^[a-z]+://([^/:?#]+)', 1) AS host, "
            "count(*) AS n_docs, count(DISTINCT canon_url) AS n_urls, "
            "CAST(sum(n_chars) AS BIGINT) AS total_chars FROM ("
            + CANON_SQL.replace(
                "__IN__",
                f"(SELECT doc_id, n_chars, {DIRTY_URL_SQL} AS url FROM documents)",
            )
            + ") GROUP BY 1"
        ),
        "stratified_sample": """
            -- fixed-width lowercase hex: string order == numeric order,
            -- and md5 of the identical id string is identical on both
            -- engines — deterministic, partition-independent sampling
            SELECT doc_id, lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS sample_key
            FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
                  CASE lang WHEN 'en' THEN '80000000'
                            WHEN 'de' THEN '40000000' WHEN 'es' THEN '40000000'
                            WHEN 'fr' THEN '40000000' WHEN 'zh' THEN '40000000'
                            ELSE '20000000' END
        """,
        "repetition_stats": """
            -- int/int divisions: IEEE-identical on both engines, no rounding
            SELECT doc_id, len(l) AS n_tokens,
                   CAST(len(list_distinct(l)) AS DOUBLE) / len(l) AS distinct_ratio,
                   CAST(list_max(list_transform(list_distinct(l),
                            d -> len(list_filter(l, x -> x = d)))) AS DOUBLE) / len(l)
                       AS top_token_frac
            FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        """,
        "decontaminate": f"""
            WITH bench AS (
                SELECT DISTINCT unnest({shingle2}) AS shingle
                FROM documents WHERE doc_id % 50 = 0
            ),
            sh AS (
                SELECT doc_id, unnest({shingle2}) AS shingle
                FROM documents WHERE doc_id % 50 <> 0
            )
            SELECT s.doc_id, CAST(count(b.shingle) AS BIGINT) AS n_overlap,
                   count(b.shingle) >= 3 AS contaminated
            FROM sh s LEFT JOIN bench b USING (shingle)
            GROUP BY s.doc_id
        """,
        "pii_counts": f"""
            WITH dirty AS (
                SELECT doc_id, text ||
                    (CASE WHEN doc_id % 6 = 0 THEN ' contact alice.smith@example.org now'
                          WHEN doc_id % 6 = 1 THEN ' server at 192.168.1.77 port'
                          WHEN doc_id % 6 = 2 THEN ' call +1 555-123-4567 today'
                          ELSE '' END) ||
                    (CASE WHEN doc_id % 15 = 0 THEN ' cc bob@test.io' ELSE '' END)
                    AS text
                FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '{textops.EMAIL_RE}')) AS INT) AS n_emails,
                   CAST(len(regexp_extract_all(text, '{textops.IPV4_RE}')) AS INT) AS n_ipv4,
                   CAST(len(regexp_extract_all(text, '{textops.PHONE_RE}')) AS INT) AS n_phones,
                   md5(regexp_replace(text, '{textops.EMAIL_RE}', '[EMAIL]', 'g')) AS scrubbed_md5
            FROM dirty
        """,
        "line_dedup": """
            WITH dirty AS (
                SELECT doc_id,
                    CASE WHEN doc_id % 3 = 0 THEN
                             'Subscribe to our newsletter' || chr(10) || text
                             || chr(10) || 'Copyright 2024 Example Corp'
                         WHEN doc_id % 3 = 1 THEN
                             'Cookie notice: we use cookies' || chr(10) || text
                         ELSE text END AS text
                FROM documents
            ),
            lines AS (
                SELECT doc_id, unnest(ls) AS line,
                       unnest(generate_series(1, len(ls))) AS pos
                FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM dirty)
            ),
            dup AS (
                -- blank lines are structure, not boilerplate (mirrors
                -- dedup.line_dedup's exemption)
                SELECT line FROM lines WHERE line <> ''
                GROUP BY line HAVING count(DISTINCT doc_id) >= 2
            ),
            kept AS (
                SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                       count(*) AS n_kept
                FROM lines
                WHERE line NOT IN (SELECT line FROM dup)
                GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(k.clean_text, '') AS clean_text,
                   CAST(coalesce(k.n_kept, 0) AS INT) AS n_lines_kept,
                   CAST(len(string_split(d.text, chr(10))) - coalesce(k.n_kept, 0) AS INT)
                       AS n_lines_removed
            FROM dirty d LEFT JOIN kept k USING (doc_id)
        """,
        "gopher_filter": f"""
            WITH dirty AS (
                SELECT doc_id,
                       text || (CASE WHEN doc_id % 7 = 0 THEN ' #### ... 12 9'
                                     ELSE '' END) AS text
                FROM documents
            ),
            feat AS (
                SELECT doc_id,
                       len(string_split(text, ' ')) AS n,
                       list_sum(list_transform(string_split(text, ' '), t -> len(t)))
                           / len(string_split(text, ' ')) AS mean_token_len,
                       len(list_filter(string_split(text, ' '),
                                       t -> regexp_matches(t, '[A-Za-z]')))
                           / len(string_split(text, ' ')) AS alpha_frac,
                       len(regexp_extract_all(text, '{textops.SYMBOL_RE}'))
                           / len(string_split(text, ' ')) AS symbol_ratio
                FROM dirty
            )
            SELECT doc_id,
                   CAST(n AS INT) AS n_tokens,
                   mean_token_len,
                   alpha_frac,
                   symbol_ratio,
                   n >= 30 AND n <= 100000 AS ok_n_tokens,
                   mean_token_len >= 3.0 AND mean_token_len <= 10.0 AS ok_mean_len,
                   alpha_frac >= 0.8 AS ok_alpha,
                   symbol_ratio <= 0.1 AS ok_symbol,
                   (n >= 30 AND n <= 100000)
                       AND (mean_token_len >= 3.0 AND mean_token_len <= 10.0)
                       AND alpha_frac >= 0.8
                       AND symbol_ratio <= 0.1 AS keep
            FROM feat
        """,
        "asof_join": """
            -- right side pre-aggregated to one row per (user, ts): ASOF
            -- is ambiguous under right ties (mirrors the Spark query fn)
            SELECT l.event_id, l.user_id, l.ts,
                   r.ts AS matched_ts, r.value AS matched_value
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'click') l
            ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value FROM events
                            WHERE event_type = 'purchase' GROUP BY 1, 2) r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "sliding_events": """
            -- hopping windows via slide-index explode; same TZ-armored
            -- floor-mod epoch arithmetic as tumbling_events (W=3600 s,
            -- S=900 s; membership [start, start+W), k in
            -- (floor((t-W)/S), floor(t/S)])
            WITH ev AS (
                SELECT event_type,
                       CAST(round(value * 100) AS BIGINT) AS value_cents,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS us
                FROM events
            ),
            ex AS (
                SELECT event_type, value_cents,
                       unnest(generate_series(
                           CAST(((us - 3600000000)
                                 - (((us - 3600000000) % 900000000) + 900000000) % 900000000)
                                / 900000000 AS BIGINT) + 1,
                           CAST((us - ((us % 900000000) + 900000000) % 900000000)
                                / 900000000 AS BIGINT)
                       )) AS k
                FROM ev
            )
            SELECT CAST(k * 900 AS BIGINT) AS window_start, event_type,
                   count(*) AS n_events, CAST(sum(value_cents) AS BIGINT) AS sum_value_cents
            FROM ex GROUP BY 1, 2
        """,
        "normalized_dedup": """
            WITH dirty AS (
                SELECT doc_id,
                    CASE WHEN doc_id % 4 = 0 THEN upper(text)
                         WHEN doc_id % 4 = 1 THEN text || '!!'
                         WHEN doc_id % 4 = 2 THEN replace(text, ' ', '  ')
                         ELSE text END AS text
                FROM documents
            ),
            h AS (
                -- whitespace class -> space FIRST, then strip, then
                -- re-collapse (same order as dedup.normalized_exact_dedup)
                SELECT doc_id,
                       md5(CASE WHEN canon = '' THEN text ELSE canon END) AS norm_hash
                FROM (
                    SELECT doc_id, text,
                           trim(regexp_replace(regexp_replace(regexp_replace(
                               lower(text), '__WSCLASS__', ' ', 'g'),
                               '[^\\p{L}\\p{N} ]', '', 'g'), ' +', ' ', 'g')) AS canon
                    FROM dirty
                )
            )
            SELECT doc_id, norm_hash,
                   min(doc_id) OVER (PARTITION BY norm_hash) AS keeper_id,
                   doc_id = min(doc_id) OVER (PARTITION BY norm_hash) AS is_keeper
            FROM h
        """,
        "length_quantiles": """
            -- percentile_disc at rank ceil(q*n) under a deterministic
            -- (value, id) order — unique answer, exact on both engines
            WITH ranked AS (
                SELECT lang, n_chars,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY n_chars, doc_id) AS rn,
                       count(*) OVER (PARTITION BY lang) AS n
                FROM documents
            )
            SELECT lang,
                   CAST(max(n) AS BIGINT) AS n_docs,
                   max(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT)
                            THEN n_chars END) AS p25,
                   max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                            THEN n_chars END) AS p50,
                   max(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT)
                            THEN n_chars END) AS p75
            FROM ranked GROUP BY lang
        """,
        "dup_ngram_frac": """
            -- positional (non-distinct) 2-grams; generate_series(1, 0)
            -- is empty for sub-2-token docs, the LEFT join zeroes them
            WITH g AS (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, len(string_split(text, ' ')) - 1),
                           i -> array_to_string(string_split(text, ' ')[i:i+1], ' ')
                       )) AS gram
                FROM documents
            ),
            pg AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
            agg AS (
                SELECT doc_id, sum(c) AS n_grams,
                       sum(CASE WHEN c >= 2 THEN c * len(gram) ELSE 0 END)
                           AS dup_gram_chars,
                       sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_occ
                FROM pg GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(coalesce(a.dup_gram_chars, 0) AS BIGINT) AS dup_gram_chars,
                   coalesce(a.dup_occ / a.n_grams, 0.0) AS dup_gram_frac
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        "top_terms": """
            -- exact-arithmetic tf-idf surrogate: rank by (tf desc,
            -- corpus df asc, term asc) — see textops.top_terms_df
            WITH tf AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents
            ),
            tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf
                    WHERE term <> '' GROUP BY 1, 2),
            dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
            ranked AS (
                SELECT t.doc_id, t.term, t.tf, d.df,
                       row_number() OVER (PARTITION BY t.doc_id
                                          ORDER BY t.tf DESC, d.df ASC, t.term ASC)
                           AS rank
                FROM tfc t JOIN dfc d USING (term)
            )
            SELECT doc_id, term,
                   CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
                   CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 3
        """,
        "chunk_windows": """
            -- chunk k covers tokens [k*24, k*24+32); list slice [a:b] is
            -- inclusive and clamps, matching Spark's slice(start, 32)
            WITH t AS (
                SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            ),
            k AS (
                SELECT doc_id, toks,
                       unnest(generate_series(0,
                           CASE WHEN len(toks) <= 32 THEN 0
                                ELSE CAST(ceil((len(toks) - 32) / 24.0) AS BIGINT)
                           END)) AS chunk_id
                FROM t
            )
            SELECT doc_id,
                   CAST(chunk_id AS INT) AS chunk_id,
                   array_to_string(toks[chunk_id*24+1 : chunk_id*24+32], ' ')
                       AS chunk_text,
                   CAST(len(toks[chunk_id*24+1 : chunk_id*24+32]) AS INT)
                       AS n_chunk_tokens
            FROM k
        """,
        "shard_assign": """
            WITH h AS (
                SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS shard_key
                FROM documents
            ),
            s AS (
                SELECT doc_id, shard_key,
                       CAST(((strpos('0123456789abcdef', substr(shard_key, 1, 1)) - 1) * 16
                             + (strpos('0123456789abcdef', substr(shard_key, 2, 1)) - 1))
                            % 8 AS INT) AS shard
                FROM h
            )
            SELECT doc_id, shard_key, shard,
                   CAST(row_number() OVER (PARTITION BY shard
                                           ORDER BY shard_key, doc_id) AS BIGINT) AS pos
            FROM s
        """,
        "corpus_curate": f"""
            -- the composed curation recipe: each CTE is the SAME formula
            -- as its standalone oracled query, over the corpus slice
            WITH corpus AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
            ),
            lid AS (
                SELECT doc_id,
                       (best > 0 AND CASE WHEN sc_de = best THEN 'de'
                                          WHEN sc_en = best THEN 'en'
                                          WHEN sc_es = best THEN 'es'
                                          ELSE 'fr' END = 'en') AS passed_lang
                FROM (
                    SELECT doc_id, sc_de, sc_en, sc_es, sc_fr,
                           greatest(sc_de, sc_en, sc_es, sc_fr) AS best
                    FROM (
                        SELECT doc_id,
                               {lang_score['de']} AS sc_de, {lang_score['en']} AS sc_en,
                               {lang_score['es']} AS sc_es, {lang_score['fr']} AS sc_fr
                        FROM corpus
                    )
                )
            ),
            gf AS (
                SELECT doc_id,
                       (n >= 30 AND n <= 100000
                        AND mean_len >= 3.0 AND mean_len <= 10.0
                        AND alpha >= 0.8 AND sym <= 0.1) AS passed_quality
                FROM (
                    SELECT doc_id,
                           len(string_split(text, ' ')) AS n,
                           list_sum(list_transform(string_split(text, ' '), t -> len(t)))
                               / len(string_split(text, ' ')) AS mean_len,
                           len(list_filter(string_split(text, ' '),
                                           t -> regexp_matches(t, '[A-Za-z]')))
                               / len(string_split(text, ' ')) AS alpha,
                           len(regexp_extract_all(text, '{textops.SYMBOL_RE}'))
                               / len(string_split(text, ' ')) AS sym
                    FROM corpus
                )
            ),
            nd AS (
                SELECT doc_id,
                       doc_id = min(doc_id) OVER (PARTITION BY norm_hash) AS is_keeper
                FROM (
                    SELECT doc_id,
                           md5(CASE WHEN canon = '' THEN text ELSE canon END) AS norm_hash
                    FROM (
                        SELECT doc_id, text,
                               trim(regexp_replace(regexp_replace(regexp_replace(
                                   lower(text), '__WSCLASS__', ' ', 'g'),
                                   '[^\\p{{L}}\\p{{N}} ]', '', 'g'), ' +', ' ', 'g')) AS canon
                        FROM corpus
                    )
                )
            ),
            bench_sh AS (
                SELECT DISTINCT unnest({shingle2}) AS shingle
                FROM documents WHERE doc_id % 50 = 0
            ),
            corpus_sh AS (
                SELECT doc_id, unnest({shingle2}) AS shingle FROM corpus
            ),
            dc AS (
                SELECT s.doc_id, count(b.shingle) >= 3 AS contaminated
                FROM corpus_sh s LEFT JOIN bench_sh b USING (shingle)
                GROUP BY s.doc_id
            )
            SELECT c.doc_id, lid.passed_lang, gf.passed_quality,
                   nd.is_keeper, dc.contaminated,
                   (lid.passed_lang AND gf.passed_quality AND nd.is_keeper
                    AND NOT dc.contaminated) AS survived
            FROM corpus c
            JOIN lid USING (doc_id) JOIN gf USING (doc_id)
            JOIN nd USING (doc_id) JOIN dc USING (doc_id)
        """,
    }
    # the one-row operational report is an aggregation over the SAME
    # composed curation SQL — build it from the entry above so the two
    # oracles can never drift apart
    d["curation_report"] = f"""
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN passed_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_passed_lang,
               CAST(sum(CASE WHEN passed_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_passed_quality,
               CAST(sum(CASE WHEN is_keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_keepers,
               CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
               CAST(sum(CASE WHEN survived THEN 1 ELSE 0 END) AS BIGINT) AS n_survived
        FROM ({d["corpus_curate"]})
    """
    # shared whitespace class: literal characters identical under Java
    # regex and DuckDB RE2 (dedup.WS_CHARS — see the ADVICE-r3 note there);
    # substituted late so plain- and f-string oracles both pick it up
    ws_class = "[" + dedup.WS_CHARS + "]+"
    d = {k: v.replace("__WSCLASS__", ws_class) for k, v in d.items()}
    return d
