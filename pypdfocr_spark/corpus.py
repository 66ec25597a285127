"""Deterministic Common-Crawl-style corpus construction (FIXTURES.md F1/F2)
and the single-machine oracle extraction.

The corpus is derived row-by-row from the driver's ``documents`` parquet
table ``(doc_id, text, lang, source, n_chars)`` — no external data, no
randomness — so the same construction runs at every scale factor and the
full pipeline output is checkable in ANSI SQL: by construction, the
normalized extracted text of a document equals its source ``text``
(repeated HEAVY_REPEAT× for the skew-tail docs), and the url is a pure
SQL expression of ``doc_id``/``source``.

Deterministic rules (mirrored in ``__spark_entry__.oracle_sql``):

* url        = ``https://site{doc_id%97}.example/{source}/{name}{suffix}``
  - name     = ``'my doc spark '`` if doc_id%20==7 else ``'p'``, + doc_id
    (spaces + a routing keyword in ~5% of names → exercises the
    filename-fallback path, ref: pypdfocr/pypdfocr_pdffiler.py:70-71,
    and the space-normalizer, ref: pypdfocr/pypdfocr_watcher.py:56-74)
  - suffix   = ``_ocr.pdf`` if doc_id%10==3, ``_test.pdf`` if doc_id%10==6
    (≈20% excluded by the S3 source filter,
    ref: pypdfocr/pypdfocr_watcher.py:95-96), else ``.html`` if
    doc_id%3==0 else ``.pdf``
* warc_ts    = 2024-01-01T00:00:00 + doc_id·37 s
* heavy tail = doc_id%100==0 → content tokens repeated HEAVY_REPEAT× →
  multi-hundred-page docs (the skew the salting stage must break,
  BASELINE.json north_star)
* html payload (doc_id%3==0): boilerplate-wrapped body, 12 tokens per <p>
* pdf payload: synthetic page codec — 8 words/line, 5 lines/page
  (40 words/page) on a US-letter px grid at the page's native dpi;
  native dpi = 200 if doc_id%7==0 else 400 if doc_id%11==0 else 300
  (exercises the dpi clamp/round/max, ref: pypdfocr/pypdfocr_gs.py:150-156);
  rotate = (doc_id+page_no)%4 → {0,90,180,270}
  (exercises the rotation corner map, ref: pypdfocr/pypdfocr_pdf.py:332-337);
  greyscale = doc_id%2==0 (device selection, ref: pypdfocr_gs.py:196-203)
"""

from __future__ import annotations

from datetime import datetime, timedelta

from .kernels import codec, hocr, htmlx
from .kernels.normalize import normalize_page_text

HEAVY_REPEAT = 200
WORDS_PER_LINE = 8
LINES_PER_PAGE = 5
WORDS_PER_PAGE = WORDS_PER_LINE * LINES_PER_PAGE
EPOCH = datetime(2024, 1, 1)

EXCLUDED_SUFFIXES = ("_ocr.pdf", "_test.pdf")  # ref: pypdfocr_watcher.py:95-96


def doc_url(doc_id: int, source: str) -> str:
    name = ("my doc spark " if doc_id % 20 == 7 else "p") + str(doc_id)
    if doc_id % 10 == 3:
        suffix = "_ocr.pdf"
    elif doc_id % 10 == 6:
        suffix = "_test.pdf"
    elif doc_id % 3 == 0:
        suffix = ".html"
    else:
        suffix = ".pdf"
    return f"https://site{doc_id % 97}.example/{source}/{name}{suffix}"


def doc_ts(doc_id: int) -> datetime:
    # mod keeps replicated ids (offset 10^7 per copy, see
    # pipeline.build_corpus_df) inside the pandas ns-timestamp range;
    # original driver ids (< 10^7) are unaffected
    return EPOCH + timedelta(seconds=37 * (doc_id % 10_000_000))


def content_tokens(doc_id: int, text: str) -> list[str]:
    toks = text.split(" ") if text else []
    if doc_id % 100 == 0:
        toks = toks * HEAVY_REPEAT
    return toks


def native_dpi(doc_id: int) -> int:
    if doc_id % 7 == 0:
        return 200
    if doc_id % 11 == 0:
        return 400
    return 300


def build_html_payload(doc_id: int, tokens: list[str]) -> bytes:
    from html import escape

    paras = [
        "<p>" + escape(" ".join(tokens[i : i + 12])) + "</p>"
        for i in range(0, len(tokens), 12)
    ]
    page = (
        "<!DOCTYPE html><html><head><title>doc</title>"
        "<style>body{font:12px}</style><script>var x=1;</script></head>"
        "<body><nav><ul><li>Home</li><li>About</li></ul></nav>"
        "<header><h1>Site Header</h1></header>"
        '<div class="main"><article>' + "".join(paras) + "</article></div>"
        "<footer>© example footer</footer>"
        "<script>trackPage();</script></body></html>"
    )
    return page.encode("utf-8")


def build_pdf_payload(doc_id: int, tokens: list[str]) -> bytes:
    dpi = native_dpi(doc_id)
    scale = dpi / 300.0
    pages = []
    for pstart in range(0, len(tokens), WORDS_PER_PAGE):
        ptoks = tokens[pstart : pstart + WORDS_PER_PAGE]
        page_no = pstart // WORDS_PER_PAGE
        words = []
        for j, t in enumerate(ptoks):
            line_no = j // WORDS_PER_LINE
            col = j % WORDS_PER_LINE
            x0 = 50 + col * 300
            y0 = 100 + line_no * 60
            b300 = [x0, y0, x0 + 20 + 12 * len(t), y0 + 40]
            words.append(
                {
                    "t": t,
                    "b": [codec.round_half_away(c * scale) for c in b300],
                    "l": line_no,
                    "fs": 10,
                }
            )
        pages.append(
            {
                "dpi": dpi,
                "rotate": (doc_id + page_no) % 4 * 90,
                "greyscale": doc_id % 2 == 0,
                "w_px": codec.round_half_away(2550 * scale),
                "h_px": codec.round_half_away(3300 * scale),
                "words": words,
            }
        )
    return codec.encode_doc(pages)


def build_corpus_row(doc_id: int, text: str, lang: str, source: str) -> dict:
    """One F1-shaped row (url, warc_ts, html, text, lang) from one
    documents-table row."""
    url = doc_url(doc_id, source)
    tokens = content_tokens(doc_id, text)
    if url.endswith(".html"):
        payload = build_html_payload(doc_id, tokens)
    else:
        payload = build_pdf_payload(doc_id, tokens)
    return {
        "url": url,
        "warc_ts": doc_ts(doc_id),
        "html": payload,
        "text": text,
        "lang": lang,
    }


# ---------------------------------------------------------------- extraction
def extract_doc_spans(payload: bytes) -> tuple[list[list[dict]], str]:
    """Single-pass extraction to the span level: payload → (per-page span
    lists, status). Spans are the engine's central nested type (SURVEY
    §1.1 #4): line dicts with bbox/textangle/baseline and positioned words
    (parse+placement, ref: pypdfocr/pypdfocr_pdf.py:269-351). HTML docs
    carry no geometry → their single page is one synthetic line whose
    words have empty boxes.
    """
    if codec.is_syn_pdf(payload):
        pages = codec.decode_doc(payload)
        if pages is None:
            return ([], "decode_error")
        if not pages:
            return ([], "ok")
        geom = codec.detect_geometry(pages)
        raster = codec.rasterize(pages, geom["output_dpi"])
        hocr_doc = hocr.emit_hocr(raster)
        return (
            hocr.parse_hocr_all(hocr_doc, geom["height_pt"], geom["output_dpi"]),
            "ok",
        )
    head = payload.lstrip()[:15].lower()
    if head.startswith(b"<!doctype") or head.startswith(b"<html"):
        try:
            text = htmlx.strip_boilerplate(payload.decode("utf-8", errors="replace"))
        except Exception:
            return ([], "html_error")
        lines = [
            {
                "bbox": [], "textangle": 0, "baseline": [0.0, 0.0],
                "words": [
                    {"text": w, "bbox": [], "font_size": 0,
                     "x_pt": 0.0, "y_pt": 0.0, "angle": 0}
                    for w in ln.split(" ") if w
                ],
            }
            for ln in text.split("\n") if ln
        ]
        return ([lines], "ok")
    return ([], "unsupported")


def extract_doc(payload: bytes) -> tuple[list[str], str]:
    """Single-pass extraction: payload → (per-page texts, status).

    The one kernel both Spark paths and the oracle call; the document
    text is ``"\\n".join(pages)`` and the per-page list feeds the
    page-early-exit routing (P2, ref: pypdfocr_pdffiler.py:66-68).

    PDF path = the reference dataflow: decode ("pdfimages/identify",
    ref: pypdfocr_gs.py:117-166) → geometry → rasterize at output dpi
    ("gs", ref: pypdfocr_gs.py:170-218) → hOCR per page ("tesseract",
    ref: pypdfocr_tesseract.py:154-183) → parse + reassemble
    (ref: pypdfocr_pdf.py:269-351). HTML path = boilerplate strip.
    """
    if codec.is_syn_pdf(payload):
        pages = codec.decode_doc(payload)
        if pages is None:
            return ([], "decode_error")
        if not pages:
            return ([], "ok")
        geom = codec.detect_geometry(pages)
        raster = codec.rasterize(pages, geom["output_dpi"])
        hocr_doc = hocr.emit_hocr(raster)
        # r6: text-only parse — identical admission rules and text, skips
        # the placement/fontspec work the text surface discards (the
        # span-level pipeline keeps the full parse in extract_doc_spans)
        return (hocr.page_texts_from_hocr(hocr_doc), "ok")
    head = payload.lstrip()[:15].lower()
    if head.startswith(b"<!doctype") or head.startswith(b"<html"):
        try:
            text = htmlx.strip_boilerplate(payload.decode("utf-8", errors="replace"))
        except Exception:
            return ([], "html_error")
        return ([text], "ok")
    return ([], "unsupported")


def oracle_extract(rows: list[dict], targets, default: str) -> list[dict]:
    """Single-machine oracle: full pipeline over F1 rows, returning
    (url, extracted_text, extracted_norm, route, n_pages, status) for every
    non-excluded row — the byte-identity reference for the Spark pipeline."""
    from .kernels.route import route_document

    out = []
    for r in rows:
        if r["url"].endswith(EXCLUDED_SUFFIXES):
            continue
        raw_pages, status = extract_doc(r["html"])
        text, n_pages = "\n".join(raw_pages), len(raw_pages)
        norm_pages = [normalize_page_text(p) for p in raw_pages]
        route = route_document(
            norm_pages, r["url"], targets, use_filename=True, default=default
        )
        out.append(
            {
                "url": r["url"],
                "extracted_text": text,
                "extracted_norm": normalize_page_text(text),
                "route": route,
                "n_pages": n_pages,
                "status": status,
            }
        )
    return out
