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
        got = list(webtext.iter_warc_records(buf))
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
        list(webtext.iter_warc_records(webtext.encode_warc(records)[:-30]))
    with pytest.raises(ValueError, match="WARC version line"):
        list(webtext.iter_warc_records(b"HTTP/1.1 200 OK\r\n\r\n\r\n\r\n"))
    with pytest.raises(ValueError, match="truncated gzip member"):
        list(webtext.iter_warc_records(
            webtext.encode_warc(records, gzip_members=True)[:-10]
        ))


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


def test_warc_extract_spark_e2e(spark):
    """The fused crawl front door over real mapInPandas: two archives
    (one gzip-membered, one plain, one corrupt) → documents-shaped
    rows. Non-200s, non-HTML, and non-response records gate out; the
    HTTP-header charset overrides the sniff; a charset whose codec
    refuses errors="replace" (idna) decodes as utf-8 instead of ending
    the archive; errors are rows, not task failures; and the output
    composes with exact dedup downstream."""
    from pyspark.sql import functions as F

    from pypdfocr_spark import dedup

    latin_page = ("<html><body><p>caf\xe9 page with the necessary extra "
                  "words to pass</p></body></html>").encode("latin-1")
    idna_page = (b"<html><body><p>a page whose server declares the idna "
                 b"codec as its charset</p></body></html>")
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
        {"type": "response", "uri": "http://a.example/idna",
         "block": webtext.encode_http_response(
             idna_page, content_type="text/html; charset=idna")},
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
    assert set(rows) == {"http://a.example/page", "http://a.example/idna",
                         "http://a.example/latin", "http://b.example/page",
                         "s3://crawl/bad.warc"}
    a = rows["http://a.example/page"]
    assert a["ok"] and a["title"] == "Crawl Me" and a["n_good_blocks"] == 2
    assert a["fetch_ts"] == "2020-01-02T03:04:05Z"
    idna = rows["http://a.example/idna"]
    assert idna["ok"] and idna["charset"] == "utf-8"
    assert "declares the idna codec" in idna["text"]
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
    assert keepers.count() == 3  # page (×2 hosts → 1) + idna + latin

