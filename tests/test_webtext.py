"""Web-crawl ingestion front end: WARC framing, HTTP payload decode,
HTML main-text extraction, and the fused archive→corpus Spark path."""

import zlib

import pytest

from pypdfocr_spark import webtext


PAGE = b"""<!DOCTYPE html>
<html lang="en-US">
<head>
  <meta charset="utf-8">
  <meta name="description" content="A test page about crawling.">
  <title>  Crawl   Me  </title>
  <style>p { color: red }</style>
  <script>var x = "<p>not text</p>";</script>
</head>
<body>
  <header><h1>Site Header Words Everywhere All The Time</h1></header>
  <nav><a href="/a">Home page link</a> <a href="/b">About page link here</a></nav>
  <article>
    <p>This is the first real paragraph of the article, with enough
    words to clear the minimum and almost no links at all.</p>
    <p>Short one.</p>
    <p>A second substantial paragraph follows here, talking about
    entities like &amp; and &lt;tags&gt; and caf\xc3\xa9 culture.</p>
    <p><a href="/x">link</a> <a href="/y">link</a> <a href="/z">more
    link text than anything else in this block</a> trailing.</p>
  </article>
  <footer><p>Copyright notice with plenty of words that should never
  survive extraction because it is footer context.</p></footer>
</body>
</html>"""


def test_warc_roundtrip_plain_and_gzip():
    """encode_warc → iter_warc_records is exact for both layouts:
    warcinfo/request/response record types, header values, block bytes;
    per-record gzip members (the Common Crawl layout) parse identically
    to the plain concatenation; obs-fold header continuations join."""
    resp = webtext.encode_http_response(PAGE)
    records = [
        {"type": "warcinfo", "block": b"software: fixture\r\n",
         "content_type": "application/warc-fields"},
        {"type": "request", "uri": "http://example.com/",
         "block": b"GET / HTTP/1.1\r\nHost: example.com\r\n\r\n"},
        {"type": "response", "uri": "http://example.com/", "block": resp,
         "headers": {"X-Folded": "first\r\n  second part"}},
    ]
    for gz in (False, True):
        buf = webtext.encode_warc(records, gzip_members=gz)
        got = webtext.parse_warc(buf)
        assert [r["headers"]["warc-type"] for r in got] == [
            "warcinfo", "request", "response"
        ]
        assert got[0]["block"] == b"software: fixture\r\n"
        assert got[2]["block"] == resp
        assert got[2]["headers"]["warc-target-uri"] == "http://example.com/"
        assert got[2]["headers"]["x-folded"] == "first second part"
        assert got[2]["version"] == "1.0"

    # structural corruption raises: truncated block, bad version line
    with pytest.raises(ValueError, match="truncated final WARC record"):
        webtext.parse_warc(webtext.encode_warc(records)[:-30])
    with pytest.raises(ValueError, match="WARC version line"):
        webtext.parse_warc(b"HTTP/1.1 200 OK\r\n\r\n\r\n\r\n")
    with pytest.raises(ValueError, match="truncated gzip member"):
        webtext.parse_warc(
            webtext.encode_warc(records, gzip_members=True)[:-10]
        )


def test_http_response_decode_paths():
    """The HTTP layer peels exactly: status line, first-wins headers,
    chunked transfer decoding, gzip and raw-deflate content-encoding —
    all combinations reconstruct the entity bytes."""
    body = PAGE * 3
    for chunked in (False, True):
        for gz in (False, True):
            msg = webtext.encode_http_response(
                body, chunked=chunked, gzip_body=gz
            )
            status, headers, got = webtext.parse_http_response(msg)
            assert (status, got) == (200, body), (chunked, gz)
            assert headers["content-type"] == "text/html"
    # raw deflate (no zlib wrapper) — the misbehaving-server case
    raw = zlib.compressobj(9, zlib.DEFLATED, -15)
    msg = webtext.encode_http_response(
        raw.compress(body) + raw.flush(),
        extra_headers={"Content-Encoding": "deflate"},
    )
    assert webtext.parse_http_response(msg)[2] == body
    status, _, _ = webtext.parse_http_response(
        webtext.encode_http_response(b"gone", status=404)
    )
    assert status == 404
    with pytest.raises(ValueError, match="blank line"):
        webtext.parse_http_response(b"HTTP/1.1 200 OK\r\n")
    with pytest.raises(ValueError, match="status line"):
        webtext.parse_http_response(b"nonsense\r\n\r\nbody")


def test_extract_html_blocks_and_boilerplate():
    """Block segmentation + the jusText-lite verdicts: title/lang/meta
    surface; script/style content never leaks; entities decode; header,
    nav, footer context and link-dense or too-short blocks drop; the
    two substantial article paragraphs survive in order."""
    x = webtext.extract_html(PAGE)
    assert x["title"] == "Crawl Me"
    assert x["lang"] == "en"
    assert x["meta_description"] == "A test page about crawling."
    assert x["charset"] == "utf-8"
    lines = x["text"].split("\n")
    assert len(lines) == 2 and x["n_good_blocks"] == 2
    assert lines[0].startswith("This is the first real paragraph")
    assert "& and <tags> and café culture" in lines[1]
    for leaked in ("not text", "color: red", "Site Header", "Copyright",
                   "Home page link", "Short one", "more link text"):
        assert leaked not in x["text"], leaked
    assert x["n_blocks"] > x["n_good_blocks"]
    assert 0.0 < x["link_density"] < 1.0

    # charset paths: meta latin-1, BOM utf-16, bogus meta falls to utf-8
    latin = ("<html><head><meta charset=latin-1></head><body><p>"
             "caf\xe9 is a word among many other words here</p>"
             "</body></html>").encode("latin-1")
    got = webtext.extract_html(latin)
    assert got["charset"] == "latin-1" and "café" in got["text"]
    bom = "<p>utf sixteen words fill this paragraph nicely</p>".encode(
        "utf-16"
    )
    assert webtext.extract_html(bom)["charset"] == "utf-16"
    weird = b"<meta charset=not-a-real-charset><p>words words words words words</p>"
    assert webtext.extract_html(weird)["charset"] == "utf-8"
    # malformed tag soup must not raise
    webtext.extract_html(b"<p><b>unclosed <a href='x' <div>>>&bogus;")


def test_html_text_expr_matches_duckdb(spark):
    """The expression-only strip path is JVM-side (no BatchEvalPython /
    mapInPandas in the plan) and byte-identical to DuckDB running the
    SAME regex constants — the oracle-parity discipline without a
    driver-battery slot (battery is capped at 50)."""
    import duckdb

    pages = [
        PAGE.decode("utf-8"),
        "<p>a &amp;amp; b &lt;c&gt; &quot;d&quot; &#39;e&#39; &nbsp;f</p>",
        "plain text, no markup at all",
        "<SCRIPT>x</SCRIPT><Style>y</Style><!-- z --><div>kept</div>",
        "",
    ]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(pages)], "doc_id long, html string"
    )
    out = webtext.html_strip_df(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "mapInPandas" not in plan.lower()
    got = {r["doc_id"]: r["text"] for r in out.collect()}

    con = duckdb.connect()
    expr = "html"
    for pat, rep in webtext.HTML_STRIP_STEPS:
        p, r = pat.replace("'", "''"), rep.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{r}', 'g')"
    expr = f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))"
    con.execute("create table t(doc_id bigint, html varchar)")
    con.executemany("insert into t values (?, ?)", list(enumerate(pages)))
    want = dict(con.execute(f"select doc_id, {expr} from t").fetchall())
    assert got == want
    assert "kept" in got[3] and "x" not in got[3].split()
    assert got[1] == "a &amp; b <c> \"d\" 'e' f"


def test_warc_extract_spark_e2e(spark):
    """The fused crawl front door over real mapInPandas: two archives
    (one gzip-membered, one plain, one corrupt) → documents-shaped
    rows. Non-200s, non-HTML, and non-response records gate out; the
    HTTP-header charset overrides the sniff; errors are rows, not task
    failures; and the output composes with exact dedup downstream."""
    from pyspark.sql import functions as F

    from pypdfocr_spark import dedup

    latin_page = ("<html><body><p>caf\xe9 page with the necessary extra "
                  "words to pass</p></body></html>").encode("latin-1")
    records = [
        {"type": "warcinfo", "block": b"software: fixture\r\n",
         "content_type": "application/warc-fields"},
        {"type": "response", "uri": "http://a.example/page",
         "block": webtext.encode_http_response(PAGE, chunked=True,
                                               gzip_body=True)},
        {"type": "response", "uri": "http://a.example/missing",
         "block": webtext.encode_http_response(b"gone", status=404)},
        {"type": "response", "uri": "http://a.example/img",
         "block": webtext.encode_http_response(
             b"\x89PNG", content_type="image/png")},
        {"type": "response", "uri": "http://a.example/latin",
         "block": webtext.encode_http_response(
             latin_page, content_type="text/html; charset=latin-1")},
    ]
    arc1 = webtext.encode_warc(records, gzip_members=True)
    arc2 = webtext.encode_warc(
        [{"type": "response", "uri": "http://b.example/page",
          "block": webtext.encode_http_response(PAGE)}]
    )
    df = spark.createDataFrame(
        [("s3://crawl/arc1.warc.gz", bytearray(arc1)),
         ("s3://crawl/arc2.warc", bytearray(arc2)),
         ("s3://crawl/bad.warc", bytearray(b"not a warc at all"))],
        "url string, payload binary",
    )
    out = webtext.warc_extract(df)
    rows = {r["url"]: r for r in out.collect()}
    assert set(rows) == {"http://a.example/page", "http://a.example/latin",
                         "http://b.example/page", "s3://crawl/bad.warc"}
    a = rows["http://a.example/page"]
    assert a["ok"] and a["title"] == "Crawl Me" and a["n_good_blocks"] == 2
    assert a["fetch_ts"] == "2020-01-02T03:04:05Z"
    assert rows["http://a.example/latin"]["charset"] == "latin-1"
    assert "café" in rows["http://a.example/latin"]["text"]
    assert rows["s3://crawl/bad.warc"]["ok"] is False
    assert rows["s3://crawl/bad.warc"]["error"]
    # identical page fetched from two hosts → exact dedup keeps one
    docs = (
        out.where("ok")
        .select(F.xxhash64("url", "fetch_ts").alias("doc_id"), "text")
    )
    keepers = dedup.exact_dedup(docs, id_col="doc_id", text_col="text")
    assert keepers.count() == 2  # page (×2 hosts → 1) + latin

    # warc_table: the record-level view keeps every record with HTTP
    # layers peeled, and the corrupt archive is one error row
    t = webtext.warc_table(df)
    recs = t.collect()
    assert len(recs) == len(records) + 1 + 1
    by_key = {(r["archive"], r["rec_idx"]): r for r in recs}
    info = by_key[("s3://crawl/arc1.warc.gz", 0)]
    assert info["warc_type"] == "warcinfo" and info["http_status"] is None
    page = by_key[("s3://crawl/arc1.warc.gz", 1)]
    assert page["http_status"] == 200 and bytes(page["payload"]) == PAGE
    assert page["http_content_type"] == "text/html"
    assert by_key[("s3://crawl/arc1.warc.gz", 2)]["http_status"] == 404
    bad = by_key[("s3://crawl/bad.warc", -1)]
    assert bad["error"] and bad["warc_type"] is None


def test_surt_and_cdx_index(spark):
    """The capture index: SURT canonicalization groups URL variants;
    warc_cdx_table maps every response record to its (archive, offset,
    length) byte span + sha1:BASE32 digest of the DECODED entity; and
    fetch_warc_record resolves a CDX row back to the exact record for
    both archive layouts — the range-GET round trip that makes a 100 TB
    corpus point-addressable."""
    import base64
    import hashlib

    assert webtext.surt_key("https://WWW.Example.COM:443/A/b?b=2&a=1") == (
        "com,example)/a/b?a=1&b=2"
    )
    assert webtext.surt_key("http://sub.example.com:8080/") == (
        "com,example,sub:8080)/"
    )
    assert webtext.surt_key("http://user@example.com") == "com,example)/"

    records = [
        {"type": "warcinfo", "block": b"software: fixture\r\n",
         "content_type": "application/warc-fields"},
        {"type": "response", "uri": "https://www.example.com/page?b=2&a=1",
         "date": "2020-03-04T05:06:07Z",
         "block": webtext.encode_http_response(PAGE, gzip_body=True)},
        {"type": "response", "uri": "https://example.com/other",
         "block": webtext.encode_http_response(b"hello world",
                                               content_type="text/plain")},
    ]
    for gz in (True, False):
        arc = webtext.encode_warc(records, gzip_members=gz)
        name = "s3://crawl/a.warc.gz" if gz else "s3://crawl/a.warc"
        df = spark.createDataFrame(
            [(name, bytearray(arc))], "url string, payload binary"
        )
        rows = sorted(
            webtext.warc_cdx_table(df).collect(), key=lambda r: r["offset"]
        )
        assert len(rows) == 2  # warcinfo filtered out
        first = rows[0]
        assert first["surt"] == "com,example)/page?a=1&b=2"
        assert first["ts"] == "20200304050607"
        assert first["http_status"] == 200 and first["mime"] == "text/html"
        want = "sha1:" + base64.b32encode(
            hashlib.sha1(PAGE).digest()
        ).decode()
        assert first["digest"] == want  # digest of the DECODED entity
        # the round trip: slice the span out of the archive, re-parse
        rec = webtext.fetch_warc_record(
            arc, first["offset"], first["length"]
        )
        assert rec["headers"]["warc-target-uri"] == (
            "https://www.example.com/page?b=2&a=1"
        )
        status, _, body = webtext.parse_http_response(rec["block"])
        assert status == 200 and body == PAGE
        # spans tile the archive with no overlap
        spans = [(r["offset"], r["length"]) for r in rows]
        assert all(ln > 0 for _, ln in spans)
        assert spans[0][0] + spans[0][1] <= spans[1][0] + 1

    with pytest.raises(ValueError, match="more than one WARC record"):
        both = webtext.encode_warc(records[:2])  # two records...
        c = zlib.compressobj(9, zlib.DEFLATED, 31)
        one_member = c.compress(both) + c.flush()  # ...in ONE member
        list(webtext.iter_warc_member_spans(one_member))


def test_sitemap_parsing_and_table(spark):
    """Frontier seeding: urlset and sitemapindex documents (namespace
    prefixes, gzip compression) parse to entry rows; corrupt XML is an
    error row, not a failure."""
    urlset = b"""<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url><loc>https://example.com/</loc><lastmod>2020-01-01</lastmod>
    <changefreq>daily</changefreq><priority>0.8</priority></url>
  <url><loc>https://example.com/about</loc></url>
  <url><priority>0.5</priority></url>
</urlset>"""
    idx = b"""<sm:sitemapindex xmlns:sm="http://www.sitemaps.org/schemas/sitemap/0.9">
  <sm:sitemap><sm:loc>https://example.com/s1.xml</sm:loc></sm:sitemap>
  <sm:sitemap><sm:loc>https://example.com/s2.xml.gz</sm:loc></sm:sitemap>
</sm:sitemapindex>"""
    x = webtext.parse_sitemap(urlset)
    assert x["kind"] == "urlset"
    assert x["entries"] == [
        ("https://example.com/", "2020-01-01", "daily", 0.8),
        ("https://example.com/about", None, None, None),
    ]  # loc-less entry dropped
    c = zlib.compressobj(9, zlib.DEFLATED, 31)
    gz = c.compress(urlset) + c.flush()
    assert webtext.parse_sitemap(gz) == x  # gzip unwraps
    y = webtext.parse_sitemap(idx)
    assert y["kind"] == "sitemapindex" and len(y["entries"]) == 2
    with pytest.raises(ValueError, match="not a sitemap"):
        webtext.parse_sitemap(b"<html></html>")

    df = spark.createDataFrame(
        [("https://example.com/sitemap.xml", bytearray(gz)),
         ("https://bad.example/sitemap.xml", bytearray(b"<open tag"))],
        "url string, payload binary",
    )
    rows = webtext.sitemap_table(df).collect()
    good = [r for r in rows if r["error"] is None]
    bad = [r for r in rows if r["error"] is not None]
    assert len(good) == 2 and len(bad) == 1
    assert good[0]["priority"] == 0.8 and good[0]["kind"] == "urlset"


def test_warc_to_wet_roundtrip(spark):
    """The WET derivation round-trips through this module's own
    readers: conversion records carry the extracted text as UTF-8
    text/plain payloads with WARC-Refers-To back-links, and reading the
    WET archive with warc_table yields exactly warc_extract's texts."""
    records = [
        {"type": "response", "uri": "http://a.example/page",
         "block": webtext.encode_http_response(PAGE)},
        {"type": "response", "uri": "http://a.example/missing",
         "block": webtext.encode_http_response(b"gone", status=404)},
        {"type": "response", "uri": "http://a.example/page2",
         "block": webtext.encode_http_response(PAGE.replace(
             b"first real paragraph", b"other real paragraph"))},
    ]
    arc = webtext.encode_warc(records, gzip_members=True)
    df = spark.createDataFrame(
        [("s3://crawl/a.warc.gz", bytearray(arc))],
        "url string, payload binary",
    )
    wet_rows = webtext.warc_to_wet(df).collect()
    assert len(wet_rows) == 1 and wet_rows[0]["n_records"] == 2  # 404 gated
    wet = bytes(wet_rows[0]["wet"])

    # read the WET back with the module's own record reader
    wet_df = spark.createDataFrame(
        [("s3://crawl/a.warc.wet.gz", bytearray(wet))],
        "url string, payload binary",
    )
    got = {
        r["target_uri"]: bytes(r["payload"]).decode("utf-8")
        for r in webtext.warc_table(wet_df).collect()
    }
    want = {
        r["url"]: r["text"] for r in webtext.warc_extract(df).collect()
    }
    assert got == want and len(got) == 2
    recs = webtext.parse_warc(wet)
    assert all(r["headers"]["warc-type"] == "conversion" for r in recs)
    assert all(r["headers"]["content-type"] == "text/plain" for r in recs)
    assert recs[0]["headers"]["warc-refers-to"].startswith("<urn:uuid:")


def _arc(host, n):
    return webtext.encode_warc(
        [{"type": "response", "uri": f"http://{host}/p{i}",
          "block": webtext.encode_http_response(PAGE)}
         for i in range(n)],
        gzip_members=True,
    )


def test_crawl_lineage_commit_resume(spark, tmp_path):
    """The resumable crawl job: commit appends the docs once, and
    per-archive lineage is a grouped read of the committed docs; lineage
    counts and failure lists are exact, and a resume run sees ONLY the
    archives absent from the committed docs — re-running after an
    interruption never double-appends. Archive provenance rides every
    output row (warc_extract's first column)."""
    out_dir = str(tmp_path / "crawl_out")
    batch1 = spark.createDataFrame(
        [("s3://c/a1.warc.gz", bytearray(_arc("a.example", 2))),
         ("s3://c/bad.warc.gz", bytearray(b"\x1f\x8bgarbage"))],
        "url string, payload binary",
    )
    # no snapshot yet: resume is a no-op and the lineage view is empty
    assert webtext.crawl_resume_filter(batch1, out_dir).count() == 2
    assert webtext.crawl_lineage(spark, out_dir).count() == 0

    stats = webtext.crawl_commit(webtext.warc_extract(batch1), out_dir)
    assert spark.read.parquet(f"{out_dir}/docs").count() == 3  # 2 pages + 1 error row
    lin = {r["archive"]: r for r in
           webtext.crawl_lineage(spark, out_dir).collect()}
    assert lin["s3://c/a1.warc.gz"]["doc_count"] == 2
    assert lin["s3://c/a1.warc.gz"]["ok_count"] == 2
    assert lin["s3://c/a1.warc.gz"]["char_count"] > 0
    assert lin["s3://c/a1.warc.gz"]["failures"] == []
    assert lin["s3://c/bad.warc.gz"]["ok_count"] == 0
    assert lin["s3://c/bad.warc.gz"]["failures"] == ["s3://c/bad.warc.gz"]
    assert lin["s3://c/a1.warc.gz"]["run_id"] == stats["run_id"]
    docs = spark.read.parquet(f"{out_dir}/docs")
    assert set(docs.columns) == {f.name for f in webtext.WARC_DOC_SCHEMA} | {"run_id"}
    assert docs.where("ok").count() == 2

    # resume: batch = old archives + one new; only the new one survives
    batch2 = batch1.union(
        spark.createDataFrame(
            [("s3://c/a2.warc.gz", bytearray(_arc("b.example", 3)))],
            "url string, payload binary",
        )
    )
    todo = webtext.crawl_resume_filter(batch2, out_dir)
    assert [r["url"] for r in todo.collect()] == ["s3://c/a2.warc.gz"]
    webtext.crawl_commit(webtext.warc_extract(todo), out_dir)
    docs = spark.read.parquet(f"{out_dir}/docs")
    assert docs.where("ok").count() == 5  # 2 + 3, no double-append
    assert docs.select("url").distinct().count() == 6  # incl. error row
    # a third run has nothing left to do
    assert webtext.crawl_resume_filter(batch2, out_dir).count() == 0


def test_crawl_commit_replay_after_append_crash(spark, tmp_path, monkeypatch):
    """A crash right after the docs append, then a replay of the same
    batch: resume reads the committed docs, so the replay skips the
    archive, its pages are in the docs table once, and the lineage view
    shows the archive once, under the first run's id."""
    from pypdfocr_spark import catalog

    out_dir = str(tmp_path / "crawl_out")
    batch = spark.createDataFrame(
        [("s3://c/a1.warc.gz", bytearray(_arc("a.example", 2)))],
        "url string, payload binary",
    )
    real_append = catalog.append

    def append_then_crash(df, target):
        real_append(df, target)
        monkeypatch.setattr(catalog, "append", real_append)
        raise RuntimeError("injected crash after the docs append")

    monkeypatch.setattr(catalog, "append", append_then_crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        webtext.crawl_commit(webtext.warc_extract(batch), out_dir, run_id="first")

    todo = webtext.crawl_resume_filter(batch, out_dir)
    webtext.crawl_commit(webtext.warc_extract(todo), out_dir, run_id="replay")
    docs = spark.read.parquet(f"{out_dir}/docs")
    assert sorted(r["url"] for r in docs.collect()) == [
        "http://a.example/p0", "http://a.example/p1",
    ]
    lin = webtext.crawl_lineage(spark, out_dir).collect()
    assert [(r["run_id"], r["archive"], r["doc_count"]) for r in lin] == [
        ("first", "s3://c/a1.warc.gz", 2),
    ]


def test_warc_extract_with_outlinks(spark):
    """with_outlinks=True rides the link graph out of the SAME pass:
    the outlinks array matches linkgraph.extract_outlinks on the raw
    page, resolves against the record's target URI, explodes JVM-side
    into host_graph/pagerank, and error rows carry a null array."""
    from pyspark.sql import functions as F

    from pypdfocr_spark import linkgraph

    records = [
        {"type": "response", "uri": "http://a.example/page",
         "block": webtext.encode_http_response(PAGE)},
    ]
    df = spark.createDataFrame(
        [("s3://c/a.warc", bytearray(webtext.encode_warc(records))),
         ("s3://c/bad.warc", bytearray(b"junk"))],
        "url string, payload binary",
    )
    out = webtext.warc_extract(df, with_outlinks=True)
    rows = {r["url"]: r for r in out.collect()}
    links = rows["http://a.example/page"]["outlinks"]
    want = linkgraph.extract_outlinks(PAGE, "http://a.example/page")
    assert [(l["dst_url"], l["anchor_text"], l["nofollow"]) for l in links] == want
    assert {l["dst_url"] for l in links} == {
        f"http://a.example/{p}" for p in "abxyz"
    }
    assert rows["s3://c/bad.warc"]["outlinks"] is None

    # plain form unchanged: same rows, no outlinks column
    plain = webtext.warc_extract(df)
    assert "outlinks" not in plain.columns
    assert plain.count() == out.count()

    # JVM-side explode feeds the graph ops directly
    g = linkgraph.host_graph(
        out.where("ok").select(
            F.col("url").alias("src_url"),
            F.explode("outlinks").alias("l"),
        ).select("src_url", F.col("l.dst_url").alias("dst_url"),
                 F.col("l.nofollow").alias("nofollow")),
        drop_self=False,
    )
    got = {(r["src"], r["dst"]): r["n_links"] for r in g.collect()}
    assert got == {("a.example", "a.example"): 5}


META_PAGE = b"""<!doctype html><html lang="en"><head>
<meta charset="utf-8"><title> The  Story </title>
<link rel="canonical" href="https://ex.com/story">
<meta property="og:title" content="OG Story">
<meta property="og:type" content="article">
<meta property="og:url" content="https://ex.com/story?utm=x">
<meta property="og:site_name" content="Example">
<meta property="og:locale" content="en_US">
<meta property="article:published_time" content="2024-03-05T10:00:00Z">
<meta property="article:modified_time" content="2024-03-06T08:30:00+02:00">
<script type="application/ld+json">
{"@context":"https://schema.org","@graph":[
  {"@type":"NewsArticle","headline":"LD Story",
   "datePublished":"2024-03-05T09:00:00+01:00",
   "author":{"@type":"Person","name":"A. Writer"},
   "publisher":{"name":"Example"}},
  {"@type":"BreadcrumbList"}]}
</script>
<script type="application/ld+json">{this is not json</script>
</head><body>
<div itemscope itemtype="https://schema.org/Product">
  <span itemprop="name">Widget</span></div>
<p>body text</p></body></html>"""


def test_parse_html_metadata_og_jsonld_microdata():
    """OpenGraph, article times (normalized to UTC), canonical, JSON-LD
    @graph walk (types, headline, typed author/publisher), microdata
    itemtypes, and malformed-JSON-LD counting — one pass, no fatal."""
    m = webtext.parse_html_metadata(META_PAGE)
    assert m["title"] == "The Story"
    assert m["canonical_url"] == "https://ex.com/story"
    assert m["og"]["title"] == "OG Story"
    assert m["og"]["type"] == "article"
    assert m["og"]["site_name"] == "Example"
    assert m["og"]["locale"] == "en_US"
    # meta article:published_time wins over JSON-LD datePublished and is
    # normalized to UTC isoformat
    assert m["article_published"] == "2024-03-05T10:00:00+00:00"
    assert m["article_modified"] == "2024-03-06T06:30:00+00:00"
    assert m["jsonld_types"] == ["NewsArticle", "BreadcrumbList"]
    assert m["jsonld_headline"] == "LD Story"
    assert m["jsonld_author"] == "A. Writer"
    assert m["jsonld_publisher"] == "Example"
    assert m["microdata_types"] == ["https://schema.org/Product"]
    assert m["n_jsonld_blocks"] == 2
    assert m["n_jsonld_errors"] == 1


def test_parse_html_metadata_edge_shapes():
    """Pages with no annotations; type lists; author as string list;
    unparsable dates pass through verbatim; JSON-LD fallback for the
    publish date when no article:published_time meta exists."""
    empty = webtext.parse_html_metadata(b"<p>plain</p>")
    assert empty["og"] == {} and empty["jsonld_types"] == []
    assert empty["article_published"] is None

    h = (b'<script type="application/ld+json">'
         b'[{"@type":["Article","CreativeWork"],"author":["X","Y"],'
         b'"datePublished":"not-a-date"}]</script>')
    m = webtext.parse_html_metadata(h)
    assert m["jsonld_types"] == ["Article", "CreativeWork"]
    assert m["jsonld_author"] == "X"
    assert m["article_published"] == "not-a-date"  # verbatim passthrough

    # naive datetime: no zone math invented
    h2 = b'<meta property="article:published_time" content="2023-01-02T03:04:05">'
    assert (webtext.parse_html_metadata(h2)["article_published"]
            == "2023-01-02T03:04:05")


def test_html_metadata_table_spark(spark):
    """The Spark op: typed columns, corrupt rows ok=false, and the plan
    is one mapInPandas stage with zero Exchange."""
    rows = [
        ("https://ex.com/story", bytearray(META_PAGE)),
        ("https://ex.com/plain", bytearray(b"<html><body>hi</body></html>")),
    ]
    df = spark.createDataFrame(rows, "url string, payload binary")
    out = webtext.html_metadata_table(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    got = {r["url"]: r for r in out.collect()}
    story = got["https://ex.com/story"]
    assert story["ok"] and story["og_title"] == "OG Story"
    assert story["article_published"] == "2024-03-05T10:00:00+00:00"
    assert story["jsonld_types"] == ["NewsArticle", "BreadcrumbList"]
    assert story["n_jsonld_errors"] == 1
    plain = got["https://ex.com/plain"]
    assert plain["ok"] and plain["og_title"] is None
    assert plain["jsonld_types"] == []


def test_warc_extract_with_metadata(spark):
    """with_metadata=True surfaces the structured-annotation layer as a
    page_meta struct in the SAME fused pass (composes with
    with_outlinks); corrupt archives carry a null struct."""
    records = [
        {"type": "response", "uri": "https://ex.com/story",
         "block": webtext.encode_http_response(META_PAGE)},
    ]
    arc = webtext.encode_warc(records, gzip_members=True)
    df = spark.createDataFrame(
        [("s3://crawl/meta.warc.gz", bytearray(arc)),
         ("s3://crawl/bad.warc", bytearray(b"junk"))],
        "url string, payload binary",
    )
    out = webtext.warc_extract(df, with_outlinks=True, with_metadata=True)
    assert "outlinks" in out.columns and "page_meta" in out.columns
    rows = {r["url"]: r for r in out.collect()}
    pm = rows["https://ex.com/story"]["page_meta"]
    assert pm["og_title"] == "OG Story"
    assert pm["canonical_url"] == "https://ex.com/story"
    assert pm["article_published"] == "2024-03-05T10:00:00+00:00"
    assert list(pm["jsonld_types"]) == ["NewsArticle", "BreadcrumbList"]
    assert pm["n_jsonld_errors"] == 1
    assert rows["s3://crawl/bad.warc"]["page_meta"] is None


RSS_FEED = b"""<?xml version="1.0"?>
<rss version="2.0" xmlns:dc="http://purl.org/dc/elements/1.1/">
<channel><title>Ex Blog</title><link>https://ex.com/</link>
<item><title>Post One</title><link>https://ex.com/1</link>
 <guid isPermaLink="false">p1</guid>
 <pubDate>Tue, 05 Mar 2024 10:00:00 GMT</pubDate>
 <dc:creator>A. Writer</dc:creator>
 <description>First post.</description>
 <category>news</category><category>tech</category></item>
<item><title>Post Two</title><link>https://ex.com/2</link>
 <dc:date>2024-03-06T08:30:00+02:00</dc:date></item>
</channel></rss>"""

ATOM_FEED = b"""<feed xmlns="http://www.w3.org/2005/Atom">
<title>Atom Ex</title>
<link rel="self" href="https://ex.com/feed.xml"/>
<link href="https://ex.com/"/>
<entry><title>E1</title><id>tag:e1</id>
 <link rel="alternate" href="https://ex.com/e1"/>
 <published>2024-03-05T09:00:00Z</published>
 <updated>2024-03-05T11:00:00Z</updated>
 <author><name>B</name></author>
 <summary>Sum</summary>
 <category term="x"/></entry></feed>"""


def test_parse_feed_rss_atom_rdf():
    """RSS 2.0 (dc:-decorated), Atom 1.0 (rel-aware links, author/name),
    and RDF-rooted RSS 1.0 (rdf:about fallback link) all normalize to
    the same entry shape; RFC 822 AND ISO dates → UTC ISO; gzip
    unwrapped; non-feed XML gates."""
    import gzip as _gzip

    m = webtext.parse_feed(RSS_FEED)
    assert m["kind"] == "rss" and m["title"] == "Ex Blog"
    t, link, eid, pub, upd, author, summary, cats = m["entries"][0]
    assert (t, link, eid, author) == ("Post One", "https://ex.com/1",
                                      "p1", "A. Writer")
    assert pub == "2024-03-05T10:00:00+00:00"  # RFC 822 → UTC ISO
    assert cats == ["news", "tech"]
    assert m["entries"][1][3] == "2024-03-06T06:30:00+00:00"  # dc:date

    m = webtext.parse_feed(ATOM_FEED)
    assert m["kind"] == "atom" and m["link"] == "https://ex.com/"
    t, link, eid, pub, upd, author, summary, cats = m["entries"][0]
    assert (t, link, eid, author, summary, cats) == (
        "E1", "https://ex.com/e1", "tag:e1", "B", "Sum", ["x"])
    assert upd == "2024-03-05T11:00:00+00:00"

    rdf = (b'<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
           b' xmlns="http://purl.org/rss/1.0/">'
           b'<channel rdf:about="https://ex.com/"><title>R</title></channel>'
           b'<item rdf:about="https://ex.com/r1"><title>R1</title></item>'
           b"</rdf:RDF>")
    m = webtext.parse_feed(rdf)
    assert m["kind"] == "rdf" and m["entries"][0][1] == "https://ex.com/r1"

    assert webtext.parse_feed(_gzip.compress(ATOM_FEED))["kind"] == "atom"
    with pytest.raises(ValueError, match="not a feed"):
        webtext.parse_feed(b"<html></html>")


def test_feed_table_spark(spark):
    """One row per entry with feed-level columns carried; corrupt
    documents → one error row; zero Exchange."""
    df = spark.createDataFrame(
        [("https://ex.com/rss", bytearray(RSS_FEED)),
         ("https://ex.com/atom", bytearray(ATOM_FEED)),
         ("https://ex.com/bad", bytearray(b"nope"))],
        "url string, payload binary",
    )
    out = webtext.feed_table(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    rows = out.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    assert len(by_src["https://ex.com/rss"]) == 2
    assert by_src["https://ex.com/rss"][0]["feed_title"] == "Ex Blog"
    assert by_src["https://ex.com/atom"][0]["link"] == "https://ex.com/e1"
    (bad,) = by_src["https://ex.com/bad"]
    assert bad["error"] and bad["kind"] is None


def test_parse_html_metadata_hostile_jsonld_recursion():
    """A crafted page with thousands of nested JSON-LD brackets must
    count as a block error (RecursionError from json.loads), never
    propagate — hostile-input DoS guard on the crawl front door
    (ADVICE r5)."""
    h = (b'<script type="application/ld+json">' + b"[" * 3000
         + b'</script><p>body</p>')
    m = webtext.parse_html_metadata(h)
    assert m["n_jsonld_blocks"] == 1
    assert m["n_jsonld_errors"] == 1
    assert m["jsonld_types"] == []


def test_html_metadata_table_error_row_width(spark):
    """The except branch emits a schema-width row with ok=false
    (ADVICE r5: a hand-counted tuple was one element short, so any
    payload hitting the branch killed the task instead of honoring the
    documented ok=false contract)."""
    rows = [
        ("https://ex.com/story", bytearray(META_PAGE)),
        ("https://ex.com/null", None),  # bytes(None) raises → error row
    ]
    df = spark.createDataFrame(rows, "url string, payload binary")
    got = {r["url"]: r for r in webtext.html_metadata_table(df).collect()}
    bad = got["https://ex.com/null"]
    assert bad["ok"] is False and bad["error"]
    assert bad["title"] is None and bad["n_jsonld_blocks"] is None
    assert got["https://ex.com/story"]["ok"] is True
