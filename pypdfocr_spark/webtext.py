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
  :func:`warc_extract`. There is no shuffle anywhere on this path — the
  extraction is a single ``mapInPandas`` stage that fuses record parsing
  + HTML extraction into ONE Arrow hop, so payload bytes cross the
  Python boundary once.
* Corrupt archives/records/pages become ``error`` rows, not task
  failures — at crawl scale malformed input is a certainty, and one
  bad record must not kill a 1 GB task.
"""

from __future__ import annotations

import re
import zlib
from html.parser import HTMLParser
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
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


# A block counts as main text with at least this many whitespace words and
# at most this fraction of anchor-text characters.
MIN_WORDS = 5
MAX_LINK_DENSITY = 0.33

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


def extract_html(payload: bytes, http_charset: "str | None" = None) -> dict:
    """Main-text extraction from raw HTML bytes: charset sniff → block
    segmentation → boilerplate classification. A block is GOOD when it
    is outside nav/footer/header/aside/form context, has ≥ ``MIN_WORDS``
    whitespace words, and its anchor-text fraction is ≤
    ``MAX_LINK_DENSITY`` — the jusText/boilerpipe core heuristics
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
    except (LookupError, UnicodeError):
        # unknown codec, or one (idna, punycode) that refuses
        # errors="replace": the row reports the charset that decoded it
        charset = "utf-8"
        html = bytes(payload).decode(charset, errors="replace")
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
        if len(text.split()) < MIN_WORDS:
            continue
        if len(text) > 0 and link_chars / len(text) > MAX_LINK_DENSITY:
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
    """(status, content-type, body) for response records; (None, None,
    block verbatim) for everything else."""
    ctype = rec["headers"].get("content-type", "")
    if ctype.split(";")[0].strip().lower() == "application/http":
        status, hh, body = parse_http_response(rec["block"])
        return status, hh.get("content-type"), body
    return None, None, rec["block"]


def read_warc_archives(spark, path_glob: str) -> DataFrame:
    """Convenience source: binaryFile scan → (url, payload) the shape
    :func:`warc_extract` takes. At 100 TB, set
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

WARC_DOC_SCHEMA = StructType(
    [StructField("archive", StringType())] + list(HTML_DOC_SCHEMA.fields)
)


def warc_extract(df: DataFrame) -> DataFrame:
    """The fused crawl front door: WARC archives in (``url`` = archive
    path, ``payload`` = archive bytes, the :func:`read_warc_archives`
    shape), ``documents``-shaped corpus out (url, fetch_ts, title, lang,
    text, diagnostics) — record framing, HTTP decode, HTML-200-only
    gating, and main-text extraction in ONE mapInPandas stage so payload
    bytes cross the Arrow boundary once. Downstream composes directly:
    ``F.xxhash64(url, fetch_ts)`` is the deterministic doc_id,
    textops/dedup/recipe take it from there."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in WARC_DOC_SCHEMA]
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf["url"], pdf["payload"]):
                try:
                    for rec in iter_warc_records(bytes(payload)):
                        h = rec["headers"]
                        if h.get("warc-type") != "response":
                            continue
                        try:
                            status, hct, body = _http_fields(rec)
                        except (ValueError, zlib.error) as exc:
                            rows.append(
                                (url, h.get("warc-target-uri"),
                                 h.get("warc-date"), None, None, None, None,
                                 None, None, None, None, None, False, str(exc))
                            )
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
                            body, http_charset=m.group(1).lower() if m else None
                        )
                        rows.append(
                            (
                                url,
                                h.get("warc-target-uri"), h.get("warc-date"),
                                x["title"], x["lang"], x["meta_description"],
                                x["text"], x["n_blocks"], x["n_good_blocks"],
                                x["link_density"], x["charset"],
                                len(x["text"]), True, None,
                            )
                        )
                except (ValueError, zlib.error) as exc:
                    rows.append(
                        (url, url, None, None, None, None, None, None,
                         None, None, None, None, False, str(exc))
                    )
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, WARC_DOC_SCHEMA)


# --------------------------------------------------------------------------
# Fixture encoders (the tests' archives and webtext_bench.py's archive set —
# deterministic, no timestamps)
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

