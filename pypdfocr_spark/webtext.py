"""Web-crawl ingestion front-end: WARC record parsing and HTML
main-text extraction — the operators that turn a Common-Crawl-style
archive into the ``documents``-shaped corpus every downstream curation
op (dedup, quality gates, decontamination, shard assignment) consumes.

The reference engine's front door is a directory of PDFs
(pypdfocr.py:391 ``_get_filenames``); a web-scale corpus's front door
is an archive of HTTP captures. Same pipeline position, crawl-native
formats.

Scale notes (100 TB Common Crawl layout):

* CC stores ~1 GB ``.warc.gz`` files where EVERY record is its own gzip
  member — that is what makes an archive splittable at record
  boundaries without a central index. :func:`iter_warc_records` streams
  members with ``zlib.decompressobj`` and parses complete records off
  the front of a rolling buffer, so peak memory is O(largest record),
  never O(archive).
* Parallelism comes from the file count (~90k files per crawl), one
  task per archive: ``spark.read.format("binaryFile")`` →
  :func:`warc_table`. There is no shuffle anywhere on this path — the
  extraction is a single ``mapInPandas`` stage, and
  :func:`warc_extract` fuses record parsing + HTML extraction into ONE
  Arrow hop so payload bytes cross the Python boundary once.
* Corrupt archives/records/pages become ``error`` rows, not task
  failures — at crawl scale malformed input is a certainty, and one
  bad record must not kill a 1 GB task.
"""

from __future__ import annotations

import json
import re
import zlib
from html.parser import HTMLParser
from typing import Iterator

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# --------------------------------------------------------------------------
# WARC/1.x record framing (ISO 28500)
# --------------------------------------------------------------------------


def _parse_one_record(buf: bytes, pos: int) -> "tuple[dict, int] | None":
    """Parse one WARC record starting at ``pos`` (after any inter-record
    CRLFs). Returns (record, next_pos), or None when the buffer ends
    before the record is complete (the streaming caller waits for more
    bytes). Raises ValueError on structural corruption."""
    n = len(buf)
    while pos < n and buf[pos : pos + 2] == b"\r\n":
        pos += 2
    if pos >= n:
        return None
    head_end = buf.find(b"\r\n\r\n", pos)
    if head_end < 0:
        return None
    head = buf[pos:head_end].decode("utf-8", errors="replace")
    lines = head.split("\r\n")
    if not lines[0].startswith("WARC/"):
        raise ValueError(f"expected a WARC version line, got {lines[0][:40]!r}")
    headers: "dict[str, str]" = {}
    last_key = None
    for line in lines[1:]:
        if line[:1] in (" ", "\t") and last_key is not None:
            headers[last_key] += " " + line.strip()  # obs-fold continuation
            continue
        if ":" not in line:
            raise ValueError(f"malformed WARC header line {line[:40]!r}")
        key, val = line.split(":", 1)
        last_key = key.strip().lower()
        headers[last_key] = val.strip()
    try:
        length = int(headers["content-length"])
    except KeyError:
        raise ValueError("WARC record without Content-Length") from None
    block_start = head_end + 4
    if block_start + length + 4 > n:
        return None  # incomplete: need the block + the 2-CRLF trailer
    if buf[block_start + length : block_start + length + 4] != b"\r\n\r\n":
        raise ValueError("WARC record block not followed by CRLFCRLF")
    record = {
        "version": lines[0][5:],
        "headers": headers,
        "block": buf[block_start : block_start + length],
    }
    return record, block_start + length + 4


def iter_warc_records(payload: bytes) -> Iterator[dict]:
    """Stream records out of a WARC archive, plain or ``.warc.gz`` with
    per-record gzip members (the Common Crawl layout). Holds only the
    not-yet-parsed tail in memory. Each record dict carries ``version``,
    lower-cased ``headers``, and the raw ``block`` bytes."""
    if payload[:2] == b"\x1f\x8b":
        buf = bytearray()
        pos = 0
        total = len(payload)
        while pos < total:
            d = zlib.decompressobj(31)
            buf += d.decompress(payload[pos:])
            if not d.eof:
                raise ValueError("truncated gzip member in WARC archive")
            pos = total - len(d.unused_data)
            # drain complete records before inflating the next member
            at = 0
            while True:
                got = _parse_one_record(bytes(buf), at)
                if got is None:
                    break
                rec, at = got
                yield rec
            del buf[:at]
        if bytes(buf).strip(b"\r\n"):
            raise ValueError("trailing bytes after the last WARC record")
    else:
        at = 0
        while True:
            got = _parse_one_record(payload, at)
            if got is None:
                if payload[at:].strip(b"\r\n"):
                    raise ValueError("truncated final WARC record")
                return
            rec, at = got
            yield rec


def parse_warc(payload: bytes) -> "list[dict]":
    """All records of a WARC archive as a list (tests/small archives;
    the Spark path uses the streaming iterator)."""
    return list(iter_warc_records(payload))


def _decode_chunked(body: bytes) -> bytes:
    """RFC 9112 chunked transfer decoding — WARC response blocks capture
    the HTTP message as sent, so chunked bodies appear verbatim."""
    out = bytearray()
    pos = 0
    while True:
        nl = body.find(b"\r\n", pos)
        if nl < 0:
            raise ValueError("chunked body without a size line")
        size = int(body[pos:nl].split(b";")[0], 16)
        if size == 0:
            return bytes(out)
        out += body[nl + 2 : nl + 2 + size]
        if body[nl + 2 + size : nl + 4 + size] != b"\r\n":
            raise ValueError("chunk data not terminated by CRLF")
        pos = nl + 4 + size


def parse_http_response(block: bytes) -> "tuple[int, dict, bytes]":
    """(status, lower-cased headers, decoded body) from the raw HTTP
    response message a WARC ``response`` record stores. Undoes chunked
    transfer coding and gzip/deflate content-encoding — the capture is
    the wire format, the corpus wants the entity bytes."""
    sep = block.find(b"\r\n\r\n")
    if sep < 0:
        raise ValueError("HTTP message without a blank line")
    head = block[:sep].decode("latin-1")
    body = block[sep + 4 :]
    lines = head.split("\r\n")
    parts = lines[0].split(None, 2)
    if len(parts) < 2 or not parts[0].startswith("HTTP/"):
        raise ValueError(f"malformed HTTP status line {lines[0][:40]!r}")
    status = int(parts[1])
    headers: "dict[str, str]" = {}
    last_key = None
    for line in lines[1:]:
        if line[:1] in (" ", "\t") and last_key is not None:
            headers[last_key] += " " + line.strip()
            continue
        key, val = line.split(":", 1)
        last_key = key.strip().lower()
        headers.setdefault(last_key, val.strip())
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _decode_chunked(body)
    enc = headers.get("content-encoding", "").lower()
    if enc in ("gzip", "x-gzip"):
        body = zlib.decompress(body, 47)  # 47 = auto-detect zlib/gzip
    elif enc == "deflate":
        try:
            body = zlib.decompress(body)
        except zlib.error:  # servers that send raw deflate
            body = zlib.decompress(body, -15)
    return status, headers, body


# --------------------------------------------------------------------------
# HTML → text
# --------------------------------------------------------------------------
#
# Two paths, mirroring the repo-wide pattern (textops expression gates vs
# kernel forms):
#  * html_text_expr — a JVM-side regexp_replace chain (whole-stage
#    codegen, zero Python) for bulk tag stripping; the regexes are
#    RE2-safe module constants shared verbatim with DuckDB for parity
#    tests. Handles the named basics; numeric charrefs and structure
#    need the parser path.
#  * extract_html — stdlib HTMLParser with block segmentation and a
#    jusText-style boilerplate classifier (link density + block length
#    + nav/footer context). Deterministic, malformed-tolerant.

# Order matters: specific entities first, &amp; LAST, so "&amp;lt;"
# decodes to the literal text "&lt;" (one decoding pass, not two).
HTML_STRIP_STEPS: "tuple[tuple[str, str], ...]" = (
    (r"(?s)<!--.*?-->", " "),
    (r"(?is)<script\b[^>]*>.*?</script>", " "),
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    (r"(?s)<[^>]*>", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    (r"&apos;", "'"),
    (r"&nbsp;", " "),
    (r"&amp;", "&"),
)


def html_text_expr(col: Column) -> Column:
    """Tag-stripped, entity-decoded, whitespace-collapsed text as a pure
    column expression (no Python). Known limits, identical on the DuckDB
    side by construction: attribute values containing ``>`` truncate
    that tag early, and only the named basic entities decode."""
    out = col
    for pat, rep in HTML_STRIP_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def html_strip_df(
    df: DataFrame, id_col: str = "doc_id", html_col: str = "html"
) -> DataFrame:
    """Bulk tag-strip over an HTML string column — the cheap first pass
    a crawl pipeline runs before any per-block analysis."""
    return df.select(
        F.col(id_col), html_text_expr(F.col(html_col)).alias("text")
    )


_BLOCK_TAGS = frozenset(
    "p div li ul ol dl dd dt h1 h2 h3 h4 h5 h6 table tr td th blockquote "
    "pre article section header footer nav aside main figure figcaption "
    "br hr form fieldset".split()
)
_SKIP_TAGS = frozenset("script style noscript template svg iframe".split())
_BOILER_CONTEXT = frozenset("nav footer header aside form".split())
_VOID_TAGS = frozenset("br hr img meta link input".split())


class _BlockParser(HTMLParser):
    """Segment an HTML document into text blocks at block-level tag
    boundaries, tracking per-block anchor-text length (link density)
    and whether the block sits inside boilerplate context
    (nav/footer/header/aside/form). stdlib HTMLParser with
    convert_charrefs=True gives full entity/charref decoding and
    malformed-input tolerance for free."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: "list[tuple[str, int, bool]]" = []
        self._parts: "list[str]" = []
        self._link_chars = 0
        self._a_depth = 0
        self._skip_depth = 0
        self._boiler_depth = 0
        self._in_title = False
        self.title = ""
        self.lang = None
        self.meta_description = None

    def _flush(self) -> None:
        text = re.sub(r"\s+", " ", "".join(self._parts)).strip()
        if text:
            self.blocks.append((text, self._link_chars, self._boiler_depth > 0))
        self._parts = []
        self._link_chars = 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
            return
        if tag == "html":
            for k, v in attrs:
                if k == "lang" and v:
                    self.lang = v.split("-")[0].lower()
        elif tag == "meta":
            d = dict(attrs)
            if d.get("name", "").lower() == "description":
                self.meta_description = d.get("content")
        elif tag == "title":
            self._in_title = True
        elif tag == "a":
            self._a_depth += 1
        if tag in _BLOCK_TAGS:
            self._flush()
            if tag in _BOILER_CONTEXT and tag not in _VOID_TAGS:
                self._boiler_depth += 1

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if tag == "title":
            self._in_title = False
        elif tag == "a":
            self._a_depth = max(0, self._a_depth - 1)
        if tag in _BLOCK_TAGS:
            self._flush()
            if tag in _BOILER_CONTEXT:
                self._boiler_depth = max(0, self._boiler_depth - 1)

    def handle_data(self, data):
        if self._skip_depth:
            return
        if self._in_title:
            self.title += data
            return
        self._parts.append(data)
        if self._a_depth:
            self._link_chars += len(data)

    def close(self):
        super().close()
        self._flush()


_CHARSET_RE = re.compile(
    rb"""(?i)<meta[^>]+charset\s*=\s*["']?\s*([a-z0-9_.:-]+)"""
)


def sniff_charset(payload: bytes) -> str:
    """BOM, then ``<meta charset=…>`` / http-equiv content-type in the
    first 2 KiB, else utf-8 — the WHATWG sniff order, abbreviated."""
    if payload[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"
    if payload[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return "utf-16"
    m = _CHARSET_RE.search(payload[:2048])
    if m:
        name = m.group(1).decode("latin-1").lower()
        try:
            b"x".decode(name)
        except (LookupError, UnicodeDecodeError):
            return "utf-8"
        return name
    return "utf-8"


def extract_html(
    payload: bytes,
    min_words: int = 5,
    max_link_density: float = 0.33,
    http_charset: "str | None" = None,
) -> dict:
    """Main-text extraction from raw HTML bytes: charset sniff → block
    segmentation → boilerplate classification. A block is GOOD when it
    is outside nav/footer/header/aside/form context, has ≥ ``min_words``
    whitespace words, and its anchor-text fraction is ≤
    ``max_link_density`` — the jusText/boilerpipe core heuristics
    (Pomikálek 2011) without the language-specific stopword table, so
    the verdict is language-neutral and deterministic. Returns the
    joined good-block text plus the per-doc diagnostics a curation gate
    filters on.

    Relationship to ``kernels.htmlx.strip_boilerplate``: htmlx is the
    frozen subtree-drop kernel inside the oracled ``extract_text`` path
    (its output is pinned byte-exact by the driver battery, so it must
    not change); THIS is the crawl-grade extractor — charset handling,
    per-block verdicts, title/lang/meta surfacing — for the WARC front
    door, where diagnostics matter more than byte-stability."""
    charset = http_charset or sniff_charset(bytes(payload))
    try:
        html = bytes(payload).decode(charset, errors="replace")
    except LookupError:
        html = bytes(payload).decode("utf-8", errors="replace")
    p = _BlockParser()
    p.feed(html)
    p.close()
    good: "list[str]" = []
    total_chars = 0
    total_link = 0
    for text, link_chars, boiler_ctx in p.blocks:
        total_chars += len(text)
        total_link += min(link_chars, len(text))
        if boiler_ctx:
            continue
        if len(text.split()) < min_words:
            continue
        if len(text) > 0 and link_chars / len(text) > max_link_density:
            continue
        good.append(text)
    return {
        "title": re.sub(r"\s+", " ", p.title).strip() or None,
        "lang": p.lang,
        "meta_description": p.meta_description,
        "text": "\n".join(good),
        "n_blocks": len(p.blocks),
        "n_good_blocks": len(good),
        "link_density": (total_link / total_chars) if total_chars else 0.0,
        "charset": charset,
    }


# --------------------------------------------------------------------------
# Spark operators
# --------------------------------------------------------------------------

def _http_fields(rec: dict):
    """(status, content-type, body|None) for response records; the
    block verbatim for everything else."""
    ctype = rec["headers"].get("content-type", "")
    if ctype.split(";")[0].strip().lower() == "application/http":
        status, hh, body = parse_http_response(rec["block"])
        return status, hh.get("content-type"), body, hh
    return None, None, rec["block"], {}


WARC_TABLE_SCHEMA = StructType(
    [
        StructField("archive", StringType()),
        StructField("rec_idx", IntegerType()),
        StructField("warc_type", StringType()),
        StructField("record_id", StringType()),
        StructField("target_uri", StringType()),
        StructField("warc_date", StringType()),
        StructField("content_type", StringType()),
        StructField("http_status", IntegerType()),
        StructField("http_content_type", StringType()),
        StructField("payload", BinaryType()),
        StructField("n_bytes", LongType()),
        StructField("error", StringType()),
    ]
)


def warc_table(
    df: DataFrame, url_col: str = "url", payload_col: str = "payload"
) -> DataFrame:
    """One row per WARC record from a table of whole-archive binary
    payloads (``spark.read.format("binaryFile")`` → rename ``path``/
    ``content``). Response records get the HTTP layer peeled (status,
    content-type, entity body after chunked/content-encoding decode);
    other record types carry their block verbatim. A corrupt archive
    yields one error row; a corrupt record inside a good archive yields
    an error row for that record and parsing continues at the next gzip
    member. No shuffle: one mapInPandas stage, parallelism = archive
    count (the CC layout: ~90k × 1 GB files per crawl)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in WARC_TABLE_SCHEMA]
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf[url_col], pdf[payload_col]):
                try:
                    for i, rec in enumerate(iter_warc_records(bytes(payload))):
                        h = rec["headers"]
                        try:
                            status, hct, body, _ = _http_fields(rec)
                            err = None
                        except (ValueError, zlib.error) as exc:
                            status, hct, body, err = None, None, None, str(exc)
                        rows.append(
                            (
                                url, i, h.get("warc-type"),
                                h.get("warc-record-id"),
                                h.get("warc-target-uri"), h.get("warc-date"),
                                h.get("content-type"), status, hct,
                                body, len(body) if body is not None else 0,
                                err,
                            )
                        )
                except (ValueError, zlib.error) as exc:
                    rows.append(
                        (url, -1, None, None, None, None, None, None, None,
                         None, 0, str(exc))
                    )
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, WARC_TABLE_SCHEMA)


def read_warc_archives(spark, path_glob: str) -> DataFrame:
    """Convenience source: binaryFile scan → (url, payload) the shape
    :func:`warc_table` takes. At 100 TB, set
    ``spark.sql.files.maxPartitionBytes`` ≥ the archive size so one
    archive is never split mid-file (binaryFile never splits, but small
    files coalesce per task — the desired behavior)."""
    raw = spark.read.format("binaryFile").load(path_glob)
    return raw.select(
        F.col("path").alias("url"), F.col("content").alias("payload")
    )


HTML_DOC_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("fetch_ts", StringType()),
        StructField("title", StringType()),
        StructField("lang", StringType()),
        StructField("meta_description", StringType()),
        StructField("text", StringType()),
        StructField("n_blocks", IntegerType()),
        StructField("n_good_blocks", IntegerType()),
        StructField("link_density", DoubleType()),
        StructField("charset", StringType()),
        StructField("n_chars", LongType()),
        StructField("ok", BooleanType()),
        StructField("error", StringType()),
    ]
)


def html_extract_table(
    df: DataFrame,
    url_col: str = "url",
    payload_col: str = "payload",
    ts_col: "str | None" = None,
    min_words: int = 5,
    max_link_density: float = 0.33,
) -> DataFrame:
    """Per-page main-text extraction over a binary HTML column — block
    segmentation + boilerplate verdicts in one mapInPandas stage.
    Corrupt pages come back ok=false with the error text."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in HTML_DOC_SCHEMA]
        for pdf in batches:
            ts = pdf[ts_col] if ts_col else [None] * len(pdf)
            rows = []
            for url, payload, when in zip(pdf[url_col], pdf[payload_col], ts):
                try:
                    x = extract_html(
                        bytes(payload),
                        min_words=min_words,
                        max_link_density=max_link_density,
                    )
                    rows.append(
                        (
                            url, when, x["title"], x["lang"],
                            x["meta_description"], x["text"], x["n_blocks"],
                            x["n_good_blocks"], x["link_density"],
                            x["charset"], len(x["text"]), True, None,
                        )
                    )
                except Exception as exc:  # malformed page ≠ dead task
                    rows.append(
                        (url, when, None, None, None, None, None, None,
                         None, None, None, False, str(exc))
                    )
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, HTML_DOC_SCHEMA)


# --------------------------------------------------------------------------
# Structured metadata: OpenGraph / JSON-LD / microdata / canonical
# --------------------------------------------------------------------------

_OG_KEYS = (
    "title", "type", "url", "image", "site_name", "description", "locale",
)

_ARTICLEISH = frozenset(
    [
        "Article", "NewsArticle", "BlogPosting", "Report",
        "ScholarlyArticle", "TechArticle", "WebPage",
    ]
)


def _norm_date(s: "str | None") -> "str | None":
    """Normalize an ISO-8601-ish date string to UTC isoformat; unparsable
    strings pass through verbatim (the raw value still carries signal —
    curation can regex-filter on it)."""
    if not s:
        return None
    from datetime import datetime, timezone

    txt = s.strip()
    try:
        dt = datetime.fromisoformat(txt.replace("Z", "+00:00"))
    except ValueError:
        return txt
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc)
    return dt.isoformat()


def _jsonld_walk(node, types: "list[str]", article: dict) -> None:
    """Collect every ``@type`` and the first article-ish node's headline/
    date/author/publisher from a parsed JSON-LD tree (incl. ``@graph``
    containers and nested/typed author objects — schema.org allows a
    string, an object, or a list for most of these)."""
    if isinstance(node, list):
        for x in node:
            _jsonld_walk(x, types, article)
        return
    if not isinstance(node, dict):
        return
    t = node.get("@type")
    tlist = [t] if isinstance(t, str) else [x for x in (t or []) if isinstance(x, str)]
    types.extend(tlist)
    if not article and (
        any(x in _ARTICLEISH for x in tlist)
        or "headline" in node
        or "datePublished" in node
    ):
        def name_of(v):
            if isinstance(v, list):
                v = v[0] if v else None
            if isinstance(v, dict):
                v = v.get("name")
            return v if isinstance(v, str) else None

        article["headline"] = (
            node.get("headline") if isinstance(node.get("headline"), str) else None
        )
        article["datePublished"] = (
            node.get("datePublished")
            if isinstance(node.get("datePublished"), str)
            else None
        )
        article["dateModified"] = (
            node.get("dateModified")
            if isinstance(node.get("dateModified"), str)
            else None
        )
        article["author"] = name_of(node.get("author"))
        article["publisher"] = name_of(node.get("publisher"))
    if "@graph" in node:
        _jsonld_walk(node["@graph"], types, article)
    for key in ("mainEntity", "mainEntityOfPage"):
        if isinstance(node.get(key), (dict, list)):
            _jsonld_walk(node[key], types, article)


class _MetaParser(HTMLParser):
    """One pass over the document head+body collecting the machine-
    readable annotations a curation pipeline keys on: ``<meta property=
    "og:*">`` (the Open Graph protocol), ``article:*`` times,
    ``<link rel="canonical">``, ``<script type="application/ld+json">``
    bodies (script content arrives through handle_data raw — HTMLParser
    treats script as CDATA, so JSON survives unescaped), and microdata
    ``itemtype`` declarations."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.og: "dict[str, str]" = {}
        self.article_meta: "dict[str, str]" = {}
        self.canonical = None
        self.jsonld_raw: "list[str]" = []
        self.microdata_types: "list[str]" = []
        self.title = ""
        self._in_title = False
        self._in_jsonld = False
        self._jsonld_parts: "list[str]" = []

    def handle_starttag(self, tag, attrs):
        d = dict(attrs)
        if tag == "meta":
            key = (d.get("property") or d.get("name") or "").strip().lower()
            content = d.get("content")
            if content is None:
                return
            if key.startswith("og:"):
                self.og.setdefault(key[3:], content)
            elif key.startswith("article:"):
                self.article_meta.setdefault(key[8:], content)
        elif tag == "link":
            rels = (d.get("rel") or "").lower().split()
            if "canonical" in rels and d.get("href") and self.canonical is None:
                self.canonical = d["href"].strip()
        elif tag == "script":
            typ = (d.get("type") or "").strip().lower()
            if typ == "application/ld+json":
                self._in_jsonld = True
                self._jsonld_parts = []
        elif tag == "title":
            self._in_title = True
        if "itemscope" in d and d.get("itemtype"):
            self.microdata_types.append(d["itemtype"].strip())

    def handle_endtag(self, tag):
        if tag == "script" and self._in_jsonld:
            self._in_jsonld = False
            self.jsonld_raw.append("".join(self._jsonld_parts))
        elif tag == "title":
            self._in_title = False

    def handle_data(self, data):
        if self._in_jsonld:
            self._jsonld_parts.append(data)
        elif self._in_title:
            self.title += data


def parse_html_metadata(
    payload: "bytes | str", http_charset: "str | None" = None
) -> dict:
    """Extract the structured-annotation layer of one HTML page:
    OpenGraph properties, article times, the canonical URL, JSON-LD
    ``@type``s + first-article fields, and microdata itemtypes.

    The DOM-heuristic complement to :func:`extract_html`: where that
    scores rendered text blocks, this reads the annotations publishers
    embed for machines — at curation scale these are the cheapest
    high-precision signals for page type (Article vs Product vs
    Forum…), publish date, and canonical-duplicate collapse. Malformed
    JSON-LD blocks are counted, never fatal."""
    if isinstance(payload, (bytes, bytearray, memoryview)):
        buf = bytes(payload)
        charset = http_charset or sniff_charset(buf)
        try:
            html = buf.decode(charset, errors="replace")
        except LookupError:
            html = buf.decode("utf-8", errors="replace")
    else:
        html = payload
    p = _MetaParser()
    try:
        p.feed(html)
        p.close()
    except Exception:
        pass  # salvage whatever was collected before the parse error
    types: "list[str]" = []
    article: dict = {}
    n_err = 0
    for raw in p.jsonld_raw:
        txt = raw.strip()
        if not txt:
            continue
        try:
            _jsonld_walk(json.loads(txt), types, article)
        except (ValueError, RecursionError):
            # RecursionError: a crafted page with thousands of nested
            # JSON-LD brackets ('['*2000) blows the parser's recursion
            # limit — hostile input must count as a block error, not
            # kill the task (ADVICE r5)
            n_err += 1
    seen = set()
    types_uniq = [t for t in types if not (t in seen or seen.add(t))]
    seen2 = set()
    micro_uniq = [
        t for t in p.microdata_types if not (t in seen2 or seen2.add(t))
    ]
    published = _norm_date(
        p.article_meta.get("published_time") or article.get("datePublished")
    )
    modified = _norm_date(
        p.article_meta.get("modified_time") or article.get("dateModified")
    )
    return {
        "title": re.sub(r"\s+", " ", p.title).strip() or None,
        "canonical_url": p.canonical,
        "og": p.og,
        "article_published": published,
        "article_modified": modified,
        "jsonld_types": types_uniq,
        "jsonld_headline": article.get("headline"),
        "jsonld_author": article.get("author"),
        "jsonld_publisher": article.get("publisher"),
        "microdata_types": micro_uniq,
        "n_jsonld_blocks": len(p.jsonld_raw),
        "n_jsonld_errors": n_err,
    }


HTML_META_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("title", StringType()),
        StructField("canonical_url", StringType()),
        StructField("og_title", StringType()),
        StructField("og_type", StringType()),
        StructField("og_url", StringType()),
        StructField("og_image", StringType()),
        StructField("og_site_name", StringType()),
        StructField("og_description", StringType()),
        StructField("og_locale", StringType()),
        StructField("article_published", StringType()),
        StructField("article_modified", StringType()),
        StructField("jsonld_types", ArrayType(StringType())),
        StructField("jsonld_headline", StringType()),
        StructField("jsonld_author", StringType()),
        StructField("jsonld_publisher", StringType()),
        StructField("microdata_types", ArrayType(StringType())),
        StructField("n_jsonld_blocks", IntegerType()),
        StructField("n_jsonld_errors", IntegerType()),
        StructField("ok", BooleanType()),
        StructField("error", StringType()),
    ]
)


def html_metadata_table(
    df: DataFrame,
    url_col: str = "url",
    payload_col: str = "payload",
) -> DataFrame:
    """Structured-metadata extraction over a binary HTML column — one
    mapInPandas stage, zero shuffle, same scale shape as
    :func:`html_extract_table`. Corrupt pages come back ok=false."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in HTML_META_SCHEMA]
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf[url_col], pdf[payload_col]):
                try:
                    m = parse_html_metadata(bytes(payload))
                    og = m["og"]
                    rows.append(
                        (
                            url, m["title"], m["canonical_url"],
                            *[og.get(k) for k in _OG_KEYS],
                            m["article_published"], m["article_modified"],
                            m["jsonld_types"], m["jsonld_headline"],
                            m["jsonld_author"], m["jsonld_publisher"],
                            m["microdata_types"], m["n_jsonld_blocks"],
                            m["n_jsonld_errors"], True, None,
                        )
                    )
                except Exception as exc:  # malformed page ≠ dead task
                    # width derived from the schema (ADVICE r5: a
                    # hand-counted tuple was one None short, turning the
                    # documented ok=false contract into a task-killing
                    # DataFrame-width error)
                    rows.append(
                        (url,) + (None,) * (len(cols) - 3) + (False, str(exc))
                    )
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, HTML_META_SCHEMA)


WARC_DOC_SCHEMA = StructType(
    [StructField("archive", StringType())] + list(HTML_DOC_SCHEMA.fields)
)

_OUTLINK_FIELD = StructField(
    "outlinks",
    ArrayType(
        StructType(
            [
                StructField("dst_url", StringType()),
                StructField("anchor_text", StringType()),
                StructField("nofollow", BooleanType()),
            ]
        )
    ),
)

WARC_DOC_LINKS_SCHEMA = StructType(list(WARC_DOC_SCHEMA.fields) + [_OUTLINK_FIELD])

_PAGE_META_FIELD = StructField(
    "page_meta",
    StructType(
        [
            f
            for f in HTML_META_SCHEMA.fields
            if f.name not in ("url", "ok", "error")
        ]
    ),
)


def _page_meta_struct(body: bytes, charset: "str | None") -> dict:
    m = parse_html_metadata(body, http_charset=charset)
    og = m["og"]
    out = {f"og_{k}": og.get(k) for k in _OG_KEYS}
    out.update(
        {
            "title": m["title"],
            "canonical_url": m["canonical_url"],
            "article_published": m["article_published"],
            "article_modified": m["article_modified"],
            "jsonld_types": m["jsonld_types"],
            "jsonld_headline": m["jsonld_headline"],
            "jsonld_author": m["jsonld_author"],
            "jsonld_publisher": m["jsonld_publisher"],
            "microdata_types": m["microdata_types"],
            "n_jsonld_blocks": m["n_jsonld_blocks"],
            "n_jsonld_errors": m["n_jsonld_errors"],
        }
    )
    return out


def warc_extract(
    df: DataFrame,
    url_col: str = "url",
    payload_col: str = "payload",
    min_words: int = 5,
    max_link_density: float = 0.33,
    with_outlinks: bool = False,
    with_metadata: bool = False,
) -> DataFrame:
    """The fused crawl front door: WARC archives in, ``documents``-shaped
    corpus out (url, fetch_ts, title, lang, text, diagnostics) — record
    framing, HTTP decode, HTML-200-only gating, and main-text extraction
    in ONE mapInPandas stage so payload bytes cross the Arrow boundary
    once (the same fusion argument as recipe.curate's fused mode).
    Downstream composes directly: ``F.xxhash64(url, fetch_ts)`` is the
    deterministic doc_id, textops/dedup/recipe take it from there.

    ``with_outlinks=True`` additionally emits each page's followable
    ``<a href>`` links as an ``outlinks`` array column (the Common Crawl
    WAT pattern: text corpus AND link graph from one pass over the
    payload bytes — the bytes never cross Arrow twice).
    ``F.explode("outlinks")`` then feeds ``linkgraph.host_graph`` /
    ``pagerank`` JVM-side; the array stays bounded by the page's own
    link count. Costs one extra HTML parse per page, which is still far
    cheaper than re-reading and re-decoding 100 TB of WARC bytes in a
    second job.

    ``with_metadata=True`` additionally emits the structured-annotation
    layer (:func:`parse_html_metadata`: OpenGraph, article times,
    canonical URL, JSON-LD, microdata) as one ``page_meta`` struct
    column — same fusion argument, same single pass over the bytes."""

    fields = list(WARC_DOC_SCHEMA.fields)
    if with_outlinks:
        fields.append(_OUTLINK_FIELD)
    if with_metadata:
        fields.append(_PAGE_META_FIELD)
    schema = StructType(fields)
    n_extra = int(with_outlinks) + int(with_metadata)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .linkgraph import extract_outlinks

        cols = [f.name for f in schema]
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf[url_col], pdf[payload_col]):
                try:
                    records = iter_warc_records(bytes(payload))
                    for rec in records:
                        h = rec["headers"]
                        if h.get("warc-type") != "response":
                            continue
                        try:
                            status, hct, body, hh = _http_fields(rec)
                        except (ValueError, zlib.error) as exc:
                            err = (url, h.get("warc-target-uri"),
                                   h.get("warc-date"), None, None, None,
                                   None, None, None, None, None, None,
                                   False, str(exc))
                            rows.append(err + (None,) * n_extra)
                            continue
                        mime = (hct or "").split(";")[0].strip().lower()
                        if status != 200 or mime not in (
                            "text/html", "application/xhtml+xml"
                        ):
                            continue
                        m = re.search(
                            r"(?i)charset\s*=\s*([a-z0-9_.:-]+)", hct or ""
                        )
                        charset = m.group(1).lower() if m else None
                        x = extract_html(
                            body,
                            min_words=min_words,
                            max_link_density=max_link_density,
                            http_charset=charset,
                        )
                        row = (
                            url,
                            h.get("warc-target-uri"), h.get("warc-date"),
                            x["title"], x["lang"], x["meta_description"],
                            x["text"], x["n_blocks"], x["n_good_blocks"],
                            x["link_density"], x["charset"],
                            len(x["text"]), True, None,
                        )
                        if with_outlinks:
                            row = row + (
                                extract_outlinks(
                                    body,
                                    h.get("warc-target-uri") or url,
                                    http_charset=charset,
                                ),
                            )
                        if with_metadata:
                            row = row + (_page_meta_struct(body, charset),)
                        rows.append(row)
                except (ValueError, zlib.error) as exc:
                    err = (url, url, None, None, None, None, None, None,
                           None, None, None, None, False, str(exc))
                    rows.append(err + (None,) * n_extra)
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, schema)


# --------------------------------------------------------------------------
# Fixture encoders (tests only — deterministic, no timestamps)
# --------------------------------------------------------------------------


def encode_http_response(
    body: bytes,
    status: int = 200,
    content_type: str = "text/html",
    chunked: bool = False,
    gzip_body: bool = False,
    extra_headers: "dict[str, str] | None" = None,
) -> bytes:
    """A raw HTTP/1.1 response message the way a WARC response block
    stores it — optionally chunk-coded and/or gzip content-encoded to
    exercise the decode path."""
    if gzip_body:
        c = zlib.compressobj(9, zlib.DEFLATED, 31)
        body = c.compress(body) + c.flush()
    headers = {"Content-Type": content_type}
    if gzip_body:
        headers["Content-Encoding"] = "gzip"
    if chunked:
        headers["Transfer-Encoding"] = "chunked"
        chunks = [body[i : i + 37] for i in range(0, len(body), 37)]
        body = b"".join(
            f"{len(c):x}".encode() + b"\r\n" + c + b"\r\n" for c in chunks
        ) + b"0\r\n\r\n"
    else:
        headers["Content-Length"] = str(len(body))
    headers.update(extra_headers or {})
    reason = {200: "OK", 301: "Moved Permanently", 404: "Not Found"}.get(
        status, "Status"
    )
    head = f"HTTP/1.1 {status} {reason}\r\n" + "".join(
        f"{k}: {v}\r\n" for k, v in headers.items()
    )
    return head.encode("latin-1") + b"\r\n" + body


def encode_warc(records: "list[dict]", gzip_members: bool = False) -> bytes:
    """WARC/1.0 archive fixture. Each record dict: ``type``, ``block``
    (bytes), optional ``uri``/``date``/``content_type``/``headers``.
    With ``gzip_members=True`` every record is its own gzip member —
    the Common Crawl layout (zlib's gzip header pins mtime=0, so the
    fixture is byte-deterministic)."""
    out = bytearray()
    for i, rec in enumerate(records):
        headers = {
            "WARC-Type": rec["type"],
            "WARC-Record-ID": f"<urn:uuid:00000000-0000-0000-0000-{i:012d}>",
            "WARC-Date": rec.get("date", "2020-01-02T03:04:05Z"),
            "Content-Length": str(len(rec["block"])),
        }
        if rec["type"] in ("response", "request"):
            headers["Content-Type"] = rec.get(
                "content_type",
                f"application/http; msgtype={rec['type']}",
            )
        elif "content_type" in rec:
            headers["Content-Type"] = rec["content_type"]
        if "uri" in rec:
            headers["WARC-Target-URI"] = rec["uri"]
        headers.update(rec.get("headers", {}))
        member = (
            b"WARC/1.0\r\n"
            + "".join(f"{k}: {v}\r\n" for k, v in headers.items()).encode()
            + b"\r\n"
            + rec["block"]
            + b"\r\n\r\n"
        )
        if gzip_members:
            c = zlib.compressobj(9, zlib.DEFLATED, 31)
            member = c.compress(member) + c.flush()
        out += member
    return bytes(out)


# --------------------------------------------------------------------------
# CDX-style record index (SURT keys + archive byte spans)
# --------------------------------------------------------------------------
#
# Common Crawl is random-accessible because an external index maps every
# capture to (archive file, compressed byte offset, length): a reader
# range-GETs one gzip member and inflates one record. warc_cdx_table
# builds exactly that index — the asset that lets the 100 TB corpus be
# SAMPLED (1-in-N captures) or point-looked-up without scanning archives.


def surt_key(url: str) -> str:
    """pywb-style SURT canonicalization: lowercase, host reversed with
    commas (``com,example``), default port and leading ``www.`` dropped,
    query parameters sorted — ``com,example)/path?a=1&b=2``. Groups every
    capture of a URL across crawls under one sortable key."""
    u = url.strip().lower()
    m = re.match(r"^[a-z][a-z0-9+.-]*://([^/?#]*)(.*)$", u)
    if not m:
        return u
    netloc, rest = m.group(1), m.group(2)
    host = netloc.rsplit("@", 1)[-1]  # drop userinfo
    port = ""
    if ":" in host:
        host, port = host.rsplit(":", 1)
        if port in ("80", "443", ""):
            port = ""
    if host.startswith("www."):
        host = host[4:]
    key = ",".join(reversed(host.split(".")))
    if port:
        key += ":" + port
    path, q = (rest.split("?", 1) + [""])[:2] if "?" in rest else (rest, "")
    path = path or "/"
    if q:
        q = "&".join(sorted(q.split("&")))
        return f"{key}){path}?{q}"
    return f"{key}){path}"


def iter_warc_member_spans(payload: bytes) -> "Iterator[tuple[dict, int, int]]":
    """(record, offset, length) per record, where offset/length address
    the bytes a range reader fetches: the record's own gzip member for
    ``.warc.gz`` (requires the Common Crawl one-record-per-member
    layout — raises if a member holds more or less than one record),
    the record's literal byte span for plain WARC."""
    if payload[:2] == b"\x1f\x8b":
        pos = 0
        total = len(payload)
        while pos < total:
            d = zlib.decompressobj(31)
            data = d.decompress(payload[pos:])
            if not d.eof:
                raise ValueError("truncated gzip member in WARC archive")
            end = total - len(d.unused_data)
            got = _parse_one_record(data, 0)
            if got is None:
                raise ValueError(
                    "gzip member without a complete WARC record "
                    "(CDX indexing requires the one-record-per-member layout)"
                )
            rec, at = got
            if data[at:].strip(b"\r\n"):
                raise ValueError("gzip member holds more than one WARC record")
            yield rec, pos, end - pos
            pos = end
    else:
        at = 0
        while True:
            start = at
            # skip inter-record CRLFs so the span starts at 'WARC/'
            while payload[start : start + 2] == b"\r\n":
                start += 2
            got = _parse_one_record(payload, at)
            if got is None:
                if payload[at:].strip(b"\r\n"):
                    raise ValueError("truncated final WARC record")
                return
            rec, at = got
            yield rec, start, at - start


CDX_SCHEMA = StructType(
    [
        StructField("surt", StringType()),
        StructField("ts", StringType()),
        StructField("url", StringType()),
        StructField("warc_type", StringType()),
        StructField("http_status", IntegerType()),
        StructField("mime", StringType()),
        StructField("digest", StringType()),
        StructField("archive", StringType()),
        StructField("offset", LongType()),
        StructField("length", LongType()),
        StructField("error", StringType()),
    ]
)


def warc_cdx_table(
    df: DataFrame,
    url_col: str = "url",
    payload_col: str = "payload",
    types: "tuple[str, ...]" = ("response",),
) -> DataFrame:
    """The capture index: one row per WARC record of the given types
    with SURT key, 14-digit timestamp, HTTP status/mime, a
    ``sha1:BASE32`` digest of the decoded entity payload (the CDX
    convention), and the (archive, offset, length) byte span a range
    reader needs. One mapInPandas stage, no shuffle; at scale, write
    ``repartitionByRange("surt").sortWithinPartitions("surt", "ts")``
    for the sharded sorted layout lookups binary-search."""
    import base64
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in CDX_SCHEMA]
        for pdf in batches:
            rows = []
            for archive, payload in zip(pdf[url_col], pdf[payload_col]):
                try:
                    for rec, off, ln in iter_warc_member_spans(bytes(payload)):
                        h = rec["headers"]
                        wtype = h.get("warc-type")
                        if wtype not in types:
                            continue
                        uri = h.get("warc-target-uri") or ""
                        date = h.get("warc-date") or ""
                        ts = re.sub(r"[^0-9]", "", date)[:14]
                        try:
                            status, mime, body, _ = _http_fields(rec)
                        except (ValueError, zlib.error) as exc:
                            rows.append(
                                (surt_key(uri), ts, uri, wtype, None, None,
                                 None, archive, off, ln, str(exc))
                            )
                            continue
                        digest = "sha1:" + base64.b32encode(
                            hashlib.sha1(body).digest()
                        ).decode("ascii")
                        rows.append(
                            (
                                surt_key(uri), ts, uri, wtype, status,
                                (mime or "").split(";")[0].strip() or None,
                                digest, archive, off, ln, None,
                            )
                        )
                except (ValueError, zlib.error) as exc:
                    rows.append(
                        (None, None, None, None, None, None, None, archive,
                         None, None, str(exc))
                    )
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, CDX_SCHEMA)


def fetch_warc_record(archive: bytes, offset: int, length: int) -> dict:
    """Resolve one CDX row against archive bytes — the range-GET
    consumer: slice [offset, offset+length), inflate if it is a gzip
    member, parse exactly one record. Proves the index round-trips."""
    span = archive[offset : offset + length]
    recs = parse_warc(span)
    if len(recs) != 1:
        raise ValueError(f"CDX span holds {len(recs)} records, expected 1")
    return recs[0]


# --------------------------------------------------------------------------
# Sitemaps (crawl frontier seeding) and WET conversion (derived text)
# --------------------------------------------------------------------------


def parse_sitemap(payload: bytes) -> dict:
    """A sitemaps.org document → ``{"kind": "urlset"|"sitemapindex",
    "entries": [(loc, lastmod, changefreq, priority), ...]}``. Handles
    gzip-compressed sitemaps and is namespace-tolerant (tags matched by
    local name — real-world sitemaps use every prefix imaginable).
    For a sitemapindex the entries are the child sitemap locs."""
    import xml.etree.ElementTree as ET

    buf = bytes(payload)
    if buf[:2] == b"\x1f\x8b":
        buf = zlib.decompress(buf, 47)
    root = ET.fromstring(buf)
    local = root.tag.rsplit("}", 1)[-1]
    if local not in ("urlset", "sitemapindex"):
        raise ValueError(f"not a sitemap document: root <{local}>")
    entries = []
    for child in root:
        if child.tag.rsplit("}", 1)[-1] not in ("url", "sitemap"):
            continue
        fields = {"loc": None, "lastmod": None, "changefreq": None,
                  "priority": None}
        for el in child:
            name = el.tag.rsplit("}", 1)[-1]
            if name in fields and el.text is not None:
                fields[name] = el.text.strip()
        if fields["loc"]:
            entries.append(
                (
                    fields["loc"], fields["lastmod"], fields["changefreq"],
                    float(fields["priority"]) if fields["priority"] else None,
                )
            )
    return {"kind": local, "entries": entries}


SITEMAP_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("kind", StringType()),
        StructField("loc", StringType()),
        StructField("lastmod", StringType()),
        StructField("changefreq", StringType()),
        StructField("priority", DoubleType()),
        StructField("error", StringType()),
    ]
)


def sitemap_table(
    df: DataFrame, url_col: str = "url", payload_col: str = "payload"
) -> DataFrame:
    """Frontier seeding: fetched sitemap documents (binary, possibly
    gzipped) → one row per URL entry (or per child sitemap for an
    index — feed those locs back through a second fetch+pass). Corrupt
    documents → one error row."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in SITEMAP_SCHEMA]
        for pdf in batches:
            rows = []
            for src, payload in zip(pdf[url_col], pdf[payload_col]):
                try:
                    x = parse_sitemap(bytes(payload))
                    for loc, lastmod, freq, prio in x["entries"]:
                        rows.append(
                            (src, x["kind"], loc, lastmod, freq, prio, None)
                        )
                except Exception as exc:
                    rows.append((src, None, None, None, None, None, str(exc)))
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, SITEMAP_SCHEMA)


def _feed_date(s: "str | None") -> "str | None":
    """Feed timestamps → UTC ISO: RFC 822 (RSS pubDate) via
    email.utils, else ISO-8601 (Atom / dc:date) via _norm_date;
    unparsable values pass through verbatim, same contract as
    :func:`_norm_date`."""
    if not s:
        return None
    txt = s.strip()
    from email.utils import parsedate_to_datetime

    try:
        dt = parsedate_to_datetime(txt)
    except (TypeError, ValueError):
        dt = None
    if dt is not None:
        from datetime import timezone

        if dt.tzinfo is not None:
            dt = dt.astimezone(timezone.utc)
        return dt.isoformat()
    return _norm_date(txt)


def parse_feed(payload: bytes) -> dict:
    """An RSS 2.0 / RSS 1.0 (RDF) / Atom 1.0 document →
    ``{"kind", "title", "link", "entries": [...]}`` — the third frontier
    seed source next to sitemaps and outlinks, and a curation-grade
    document source (feeds carry clean titles/dates/authors for exactly
    the pages a crawler wants next). Namespace-tolerant local-name
    matching like :func:`parse_sitemap` (real feeds use every prefix
    imaginable: plain RSS, content:/dc:-decorated RSS, RDF-rooted RSS
    1.0, default-namespaced Atom); gzip unwrapped; dates normalized to
    UTC ISO (RFC 822 and ISO-8601 forms) with verbatim passthrough.
    Each entry: (title, link, entry_id, published, updated, author,
    summary, categories)."""
    import xml.etree.ElementTree as ET

    buf = bytes(payload)
    if buf[:2] == b"\x1f\x8b":
        buf = zlib.decompress(buf, 47)
    root = ET.fromstring(buf)

    def L(el) -> str:
        return el.tag.rsplit("}", 1)[-1].lower()

    def text(el) -> "str | None":
        return (el.text or "").strip() or None if el is not None else None

    kind_local = L(root)
    entries = []
    feed_title = feed_link = None
    if kind_local == "feed":  # Atom 1.0
        kind = "atom"
        for el in root:
            n = L(el)
            if n == "title" and feed_title is None:
                feed_title = text(el)
            elif n == "link" and feed_link is None:
                if el.get("rel", "alternate") == "alternate":
                    feed_link = el.get("href")
            elif n == "entry":
                e = {"categories": []}
                for c in el:
                    m = L(c)
                    if m == "title":
                        e.setdefault("title", text(c))
                    elif m == "link":
                        if c.get("rel", "alternate") == "alternate":
                            e.setdefault("link", c.get("href"))
                    elif m == "id":
                        e.setdefault("entry_id", text(c))
                    elif m == "published":
                        e.setdefault("published", text(c))
                    elif m == "updated":
                        e.setdefault("updated", text(c))
                    elif m in ("summary", "content"):
                        e.setdefault("summary", text(c))
                    elif m == "author":
                        for cc in c:
                            if L(cc) == "name":
                                e.setdefault("author", text(cc))
                    elif m == "category":
                        if c.get("term"):
                            e["categories"].append(c.get("term"))
                entries.append(e)
    elif kind_local in ("rss", "rdf"):  # RSS 2.0 / RSS 1.0
        kind = "rss" if kind_local == "rss" else "rdf"
        for el in root.iter():
            if L(el) == "channel":
                for c in el:
                    n = L(c)
                    if n == "title" and feed_title is None:
                        feed_title = text(c)
                    elif n == "link" and feed_link is None:
                        feed_link = text(c)
                break
        for item in root.iter():
            if L(item) != "item":
                continue
            e = {"categories": []}
            for c in item:
                m = L(c)
                if m == "title":
                    e.setdefault("title", text(c))
                elif m == "link":
                    e.setdefault("link", text(c))
                elif m == "guid":
                    e.setdefault("entry_id", text(c))
                elif m in ("pubdate", "date"):  # pubDate / dc:date
                    e.setdefault("published", text(c))
                elif m in ("author", "creator"):  # author / dc:creator
                    e.setdefault("author", text(c))
                elif m == "description":
                    e.setdefault("summary", text(c))
                elif m == "category":
                    if text(c):
                        e["categories"].append(text(c))
            if kind == "rdf" and "link" not in e:
                e["link"] = item.get(
                    "{http://www.w3.org/1999/02/22-rdf-syntax-ns#}about"
                )
            entries.append(e)
    else:
        raise ValueError(f"not a feed document: root <{kind_local}>")
    out_entries = [
        (
            e.get("title"), e.get("link"), e.get("entry_id"),
            _feed_date(e.get("published")), _feed_date(e.get("updated")),
            e.get("author"), e.get("summary"), e["categories"],
        )
        for e in entries
    ]
    return {"kind": kind, "title": feed_title, "link": feed_link,
            "entries": out_entries}


FEED_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("kind", StringType()),
        StructField("feed_title", StringType()),
        StructField("feed_link", StringType()),
        StructField("title", StringType()),
        StructField("link", StringType()),
        StructField("entry_id", StringType()),
        StructField("published", StringType()),
        StructField("updated", StringType()),
        StructField("author", StringType()),
        StructField("summary", StringType()),
        StructField("categories", ArrayType(StringType())),
        StructField("error", StringType()),
    ]
)


def feed_table(
    df: DataFrame, url_col: str = "url", payload_col: str = "payload"
) -> DataFrame:
    """Fetched feed documents (binary, possibly gzipped) → one row per
    entry — same shape and scale notes as :func:`sitemap_table` (one
    mapInPandas stage, zero shuffle, corrupt documents → one error
    row). The link column feeds the frontier; title/published/author
    feed curation."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in FEED_SCHEMA]
        for pdf in batches:
            rows = []
            for src, payload in zip(pdf[url_col], pdf[payload_col]):
                try:
                    x = parse_feed(bytes(payload))
                    for e in x["entries"]:
                        rows.append(
                            (src, x["kind"], x["title"], x["link"]) + e
                            + (None,)
                        )
                except Exception as exc:
                    rows.append(
                        (src, None, None, None, None, None, None, None,
                         None, None, None, None, str(exc))
                    )
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, FEED_SCHEMA)


WET_SCHEMA = StructType(
    [
        StructField("archive", StringType()),
        StructField("wet", BinaryType()),
        StructField("n_records", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("error", StringType()),
    ]
)


def warc_to_wet(
    df: DataFrame,
    url_col: str = "url",
    payload_col: str = "payload",
    gzip_members: bool = True,
    min_words: int = 5,
    max_link_density: float = 0.33,
) -> DataFrame:
    """The WET derivation: for each WARC archive, a companion archive of
    ``conversion`` records — one per extracted HTML page, payload =
    UTF-8 main text, ``WARC-Refers-To`` linking back to the source
    response record — the Common Crawl text-distribution format, so the
    extracted corpus ships as WARC and round-trips through this module's
    own readers. One archive in → one archive out, same task, no
    shuffle; write with ``partitionBy`` on a crawl/segment column at
    scale."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in WET_SCHEMA]
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf[url_col], pdf[payload_col]):
                try:
                    recs = []
                    for rec in iter_warc_records(bytes(payload)):
                        h = rec["headers"]
                        if h.get("warc-type") != "response":
                            continue
                        try:
                            status, hct, body, _ = _http_fields(rec)
                        except (ValueError, zlib.error):
                            continue
                        mime = (hct or "").split(";")[0].strip().lower()
                        if status != 200 or mime not in (
                            "text/html", "application/xhtml+xml"
                        ):
                            continue
                        m = re.search(
                            r"(?i)charset\s*=\s*([a-z0-9_.:-]+)", hct or ""
                        )
                        x = extract_html(
                            body,
                            min_words=min_words,
                            max_link_density=max_link_density,
                            http_charset=m.group(1).lower() if m else None,
                        )
                        text = x["text"].encode("utf-8")
                        recs.append(
                            {
                                "type": "conversion",
                                "uri": h.get("warc-target-uri"),
                                "date": h.get("warc-date",
                                              "2020-01-02T03:04:05Z"),
                                "content_type": "text/plain",
                                "block": text,
                                "headers": {
                                    "WARC-Refers-To": h.get(
                                        "warc-record-id", ""
                                    ),
                                },
                            }
                        )
                    wet = encode_warc(recs, gzip_members=gzip_members)
                    rows.append((url, wet, len(recs), len(wet), None))
                except (ValueError, zlib.error) as exc:
                    rows.append((url, None, None, None, str(exc)))
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, WET_SCHEMA)


# --------------------------------------------------------------------------
# Crawl lineage + archive-granularity resume (north rule: per-partition
# lineage rows, resumable from the last committed snapshot)
# --------------------------------------------------------------------------


def crawl_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-ARCHIVE metrics of every crawl commit to ``out_dir`` — the
    natural lineage unit for the crawl path, because one task processes
    one archive end-to-end: (run_id, archive, doc_count, ok_count,
    char_count, failures). A grouped read of the committed docs table by
    ``run_id`` and ``archive``, JVM-side and map-side-combinable; empty
    before the first commit."""
    try:
        docs = spark.read.parquet(f"{out_dir}/docs")
    except AnalysisException:  # no commit yet
        return spark.createDataFrame(
            [], "run_id string, archive string, doc_count long, ok_count long, "
            "char_count long, failures array<string>",
        )
    return docs.groupBy("run_id", "archive").agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.sum(F.col("ok").cast("long")).alias("ok_count"),
        F.coalesce(
            F.sum(F.when(F.col("ok"), F.col("n_chars"))), F.lit(0)
        ).alias("char_count"),
        F.filter(
            F.collect_list(F.when(~F.col("ok"), F.col("url"))),
            lambda x: x.isNotNull(),
        ).alias("failures"),
    )


def crawl_commit(
    extracted: DataFrame, out_dir: str, run_id: "str | None" = None
) -> dict:
    """Append crawl extraction output, each row stamped with ``run_id``,
    to ``<out_dir>/docs``; returns the run id. The same contract as
    ``lineage.commit``: one append per commit, in which the extraction
    runs once. :func:`crawl_lineage` reads lineage from the committed
    docs, and :func:`crawl_resume_filter` skips their archives."""
    from . import catalog, lineage

    run_id = run_id or lineage.new_run_id()
    catalog.append(extracted.withColumn("run_id", F.lit(run_id)), f"{out_dir}/docs")
    return {"run_id": run_id}


def crawl_resume_filter(
    archives_df: DataFrame, out_dir: str, url_col: str = "url"
) -> DataFrame:
    """Drop whole archives already committed: input LEFT ANTI JOIN the
    ``archive`` column of ``<out_dir>/docs``, the way
    ``lineage.resume_filter`` reads the data table. Resume granularity
    is the archive, exactly the task granularity: a re-run after an
    interruption re-reads only archives with no committed document, and
    never double-appends. An archive that yields no document row (no
    HTML 200 response) is re-read on every run. The committed side is
    one slim string column; AQE broadcasts it until the crawl history
    grows past the threshold, then it is a shuffled anti-join."""
    spark = archives_df.sparkSession
    try:
        done = (
            spark.read.parquet(f"{out_dir}/docs")
            .select(F.col("archive").alias(url_col))
            .distinct()
        )
    except Exception:
        return archives_df
    return archives_df.join(done, on=url_col, how="left_anti")
