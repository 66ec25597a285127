"""Web-corpus ops (webops.py): URL canonicalization, host rollup,
deterministic stratified sampling, repetition stats."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from pypdfocr_spark import webops


def _canon(spark, urls):
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "doc_id INT, url STRING")
    rows = webops.canonicalize_url_df(df).orderBy("doc_id").collect()
    return [r["canon_url"] for r in rows]


def test_canonicalize_url_rules(spark):
    got = _canon(spark, [
        "HTTPS://Example.COM/Path/Doc.html#frag",        # case + fragment
        "https://example.com:443/a",                     # default port
        "http://example.com:80/a",                       # default port (http)
        "http://example.com:8080/a",                     # NON-default port kept
        "https://example.com/p?utm_source=x&fbclid=1",   # all-tracking query
        "https://example.com/p?a=1&utm_medium=m&b=2",    # mixed query
        "https://example.com/dir/",                      # trailing slash
        "https://example.com/",                          # root slash KEPT
        "https://example.com/my doc.pdf",                # space
    ])
    assert got == [
        "https://example.com/Path/Doc.html",
        "https://example.com/a",
        "http://example.com/a",
        "http://example.com:8080/a",
        "https://example.com/p",
        "https://example.com/p?a=1&b=2",
        "https://example.com/dir",
        "https://example.com/",
        "https://example.com/my%20doc.pdf",
    ]


def test_host_stats_rollup(spark):
    df = spark.createDataFrame(
        [("https://a.com/x", 10), ("https://a.com/y", 20), ("https://a.com/x", 5),
         ("https://b.org/z", 7)],
        "canon_url STRING, n_chars INT",
    )
    rows = {r["host"]: r for r in webops.host_stats_df(df).collect()}
    assert rows["a.com"]["n_docs"] == 3 and rows["a.com"]["n_urls"] == 2
    assert rows["a.com"]["total_chars"] == 35 and rows["b.org"]["n_docs"] == 1


def test_stratified_sample_deterministic_and_stratified(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "zh") for i in range(400)], "doc_id INT, lang STRING"
    )
    a = {r["doc_id"] for r in webops.stratified_sample_df(df).collect()}
    b = {r["doc_id"] for r in webops.stratified_sample_df(df.repartition(7)).collect()}
    assert a == b  # partition-layout independent (resume-safe)
    en = sum(1 for i in a if i % 2 == 0) / 200
    zh = sum(1 for i in a if i % 2 == 1) / 200
    assert en == pytest.approx(0.5, abs=0.15)   # '80000000' ≈ 1/2
    assert zh == pytest.approx(0.25, abs=0.12)  # '40000000' ≈ 1/4


def test_repetition_stats_values_and_no_shuffle(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x y z w")], "doc_id INT, text STRING"
    )
    out = webops.repetition_stats_df(df)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["n_tokens"] == 5
    assert rows[1]["distinct_ratio"] == pytest.approx(2 / 5)
    assert rows[1]["top_token_frac"] == pytest.approx(3 / 5)
    assert rows[2]["distinct_ratio"] == 1.0 and rows[2]["top_token_frac"] == pytest.approx(1 / 4)
    # the 100-TB claim: expression-only, ZERO shuffle in the plan
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_grouped_quantiles_exact(spark):
    from pypdfocr_spark import webops

    # group g: values 10,20,30,40 -> n=4; p25=rank1=10, p50=rank2=20, p75=rank3=30
    # group h: single value -> all quantiles equal it
    df = spark.createDataFrame(
        [(1, "g", 40), (2, "g", 10), (3, "g", 30), (4, "g", 20), (5, "h", 7)],
        ["doc_id", "lang", "n_chars"],
    )
    rows = {r["lang"]: r for r in webops.grouped_quantiles_df(df).collect()}
    assert rows["g"]["n_docs"] == 4
    assert (rows["g"]["p25"], rows["g"]["p50"], rows["g"]["p75"]) == (10, 20, 30)
    assert (rows["h"]["p25"], rows["h"]["p50"], rows["h"]["p75"]) == (7, 7, 7)


def test_dup_ngram_frac(spark):
    from pypdfocr_spark import webops

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),      # "a b" x3, "b a" x2 -> all 5 grams dup
            (2, "w x y z"),          # 3 grams, all unique
            (3, "solo"),             # <2 tokens -> zero grams, kept at 0
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in webops.dup_ngram_frac_df(df, n=2).collect()}
    assert rows[1]["n_grams"] == 5 and rows[1]["dup_gram_chars"] == 5 * 3
    assert rows[1]["dup_gram_frac"] == 1.0  # every occurrence is a dup; bounded [0,1]
    assert rows[2]["dup_gram_chars"] == 0 and rows[2]["dup_gram_frac"] == 0.0
    assert rows[3]["n_grams"] == 0 and rows[3]["dup_gram_frac"] == 0.0


# ---------------------------------------------------------------------------
# URL filtering + domain ops
# ---------------------------------------------------------------------------


def test_registered_domain_rules(spark):
    df = spark.createDataFrame(
        [(0, "www.example.com"), (1, "a.b.example.co.uk"), (2, "example.org"),
         (3, "localhost"), (4, "news.site.com.au"), (5, "deep.sub.tld.co.jp")],
        "doc_id INT, host STRING",
    )
    rows = df.select("doc_id", webops.registered_domain(F.col("host")).alias("d")) \
             .orderBy("doc_id").collect()
    assert [r["d"] for r in rows] == [
        "example.com", "example.co.uk", "example.org",
        "localhost", "site.com.au", "tld.co.jp",
    ]


def test_url_token_score_tiers(spark):
    df = spark.createDataFrame(
        [(0, "https://example.com/recipes"),
         (1, "https://example.com/PORN/x"),             # hard, case-insensitive
         (2, "https://example.com/casino"),             # one soft: below threshold
         (3, "https://example.com/casino-poker-pills"), # three soft: over
         (4, "https://example.com/casino/casino")],     # repeated soft counts ONCE
        "doc_id INT, url STRING",
    )
    out = {r["doc_id"]: r for r in webops.url_filter_df(df).collect()}
    assert out[0]["url_score"] == 0.0 and out[0]["keep"]
    assert out[1]["url_score"] == 1.0 and not out[1]["keep"]
    assert abs(out[2]["url_score"] - 0.4) < 1e-12 and out[2]["keep"]
    assert abs(out[3]["url_score"] - 1.2) < 1e-12 and not out[3]["keep"]
    assert abs(out[4]["url_score"] - 0.4) < 1e-12 and out[4]["keep"]


def _bl(spark, doms):
    return spark.createDataFrame([(d,) for d in doms], "dom STRING")


def test_url_blocklist_fast_matches_host_and_regdomain(spark):
    df = spark.createDataFrame(
        [(0, "https://www.spam.com/a"),        # reg domain listed
         (1, "https://bad.example.org/b"),     # exact host listed
         (2, "https://good.example.org/c"),    # sibling host NOT listed
         (3, "https://shop.spam.co.uk/d"),     # reg domain (SLD form) listed
         (4, "https://clean.net/e")],
        "doc_id INT, url STRING",
    )
    bl = _bl(spark, ["spam.com", "bad.example.org", "spam.co.uk"])
    out = {r["doc_id"]: r for r in webops.url_filter_df(df, blocklist=bl).collect()}
    assert [out[i]["blocked_domain"] for i in range(5)] == [True, True, False, True, False]
    assert [out[i]["keep"] for i in range(5)] == [False, False, True, False, True]


def test_url_blocklist_all_mode_suffix_walk(spark):
    # "all" catches a listed DEEP subdomain from an even deeper host;
    # "fast" by design does not (the listed dom is neither the host nor
    # the registered domain).
    df = spark.createDataFrame(
        [(0, "https://x.tracker.ads.example.com/p"), (1, "https://example.com/q")],
        "doc_id INT, url STRING",
    )
    bl = _bl(spark, ["ads.example.com"])
    fast = {r["doc_id"]: r["blocked_domain"]
            for r in webops.url_filter_df(df, blocklist=bl, mode="fast").collect()}
    full = {r["doc_id"]: r["blocked_domain"]
            for r in webops.url_filter_df(df, blocklist=bl, mode="all").collect()}
    assert fast == {0: False, 1: False}
    assert full == {0: True, 1: False}


def test_url_filter_fast_plan_zero_exchange_and_broadcast(spark):
    df = spark.createDataFrame([(0, "https://a.com/x")], "doc_id INT, url STRING")
    bl = _bl(spark, ["a.com"])
    plan = webops.url_filter_df(df, blocklist=bl)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the PROBE side never shuffles: the only hash exchanges allowed are
    # the blocklist-side distinct() (keyed on dom/host/reg_domain), never
    # a repartition of the page rows (keyed on doc_id)
    assert "hashpartitioning(doc_id" not in plan


def test_domain_cap_deterministic_across_layouts(spark):
    import hashlib
    rows = [(i, "big.com" if i % 4 else "small.org") for i in range(64)]
    df = spark.createDataFrame(rows, "doc_id INT, reg_domain STRING")
    got = webops.domain_cap_df(df, cap=10)
    ids = sorted(r["doc_id"] for r in got.collect())
    ids_re = sorted(r["doc_id"] for r in
                    webops.domain_cap_df(df.repartition(13), cap=10).collect())
    assert ids == ids_re
    # local replica: per domain, keep the 10 smallest md5(id) keys
    bydom = {}
    for i, d in rows:
        bydom.setdefault(d, []).append((hashlib.md5(str(i).encode()).hexdigest(), i))
    want = sorted(i for d, lst in bydom.items() for _, i in sorted(lst)[:10])
    assert ids == want
