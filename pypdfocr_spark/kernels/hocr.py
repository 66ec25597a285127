"""hOCR kernel: spec-conformant emitter + parser + text-placement math.

The parser reimplements, verbatim-in-semantics, the parse half of the
reference's ``PyPdf.add_text_layer`` (ref: pypdfocr/pypdfocr_pdf.py:269-351):

* garbage-tolerant: any XML parse error → the page contributes no text and
  no error is raised (ref: pypdfocr/pypdfocr_pdf.py:276-281);
* body → ``ocr_page`` div with ``id == 'page_%d'`` → all XHTML ``span``
  descendants with ``class == 'ocr_line'`` → child ``ocrx_word`` spans;
* ``title`` attribute regexes — identical patterns to the reference
  (ref: pypdfocr/pypdfocr_pdf.py:83-86):
    - bbox:      ``bbox((\\s+\\d+){4})``
    - baseline:  ``baseline((\\s+[\\d\\.\\-]+){2})`` (absent → ``[0, 0]``,
      ref :304-307)
    - fontspec:  ``x_font\\s+(.+);\\s+x_fsize\\s+(\\d+)`` (absent →
      fontsize 8, ref :357-364)
    - textangle: ``textangle\\s+(\\d+)`` (absent → 0, ref :298-302)
* word text = ``' '.join`` of every descendant ``.text`` (ref :315-319),
  then ``.strip()`` at draw time (ref :347);
* placement: angle → anchor-corner map ``{0:(x0,y0), 90:(x0,y1),
  180:(x2,y3), 270:(x2,y1)}``, any other angle falls back to ``(x0,y1[sic 0])``
  — exactly ``coords.get(textangle, (box[0], box[1]))``
  (ref: pypdfocr/pypdfocr_pdf.py:332-337);
* point coordinates: ``(x*72/dpi, height − y*72/dpi)``
  (ref: pypdfocr/pypdfocr_pdf.py:349).

The emitter is the deterministic stand-in for Tesseract (``tesseract img
base -psm 1 -c hocr_font_info=1 -l <lang> hocr``, ref:
pypdfocr/pypdfocr_tesseract.py:154-183): this sandbox has no tesseract
binary, so the corpus generator renders word boxes to hOCR and the parser
consumes them — exercising the parser, defaults, placement math, and
reassembly for real. A subprocess-backed Tesseract kernel drops in behind
the same function signature on a real cluster (mirroring the reference's
``binary:`` config override, ref: pypdfocr/pypdfocr.py:314-324).
"""

from __future__ import annotations

import re
from html import escape
from xml.etree.ElementTree import Element, fromstring

# Identical regexes to the reference (pypdfocr/pypdfocr_pdf.py:83-86).
REGEX_BBOX = re.compile(r"bbox((\s+\d+){4})")
REGEX_BASELINE = re.compile(r"baseline((\s+[\d\.\-]+){2})")
REGEX_FONTSPEC = re.compile(r"x_font\s+(.+);\s+x_fsize\s+(\d+)")
REGEX_TEXTANGLE = re.compile(r"textangle\s+(\d+)")

XHTML_NS = "http://www.w3.org/1999/xhtml"

# Angle → anchor corner, exactly pypdfocr/pypdfocr_pdf.py:332-337.
_CORNER = {
    0: lambda b: (b[0], b[1]),
    90: lambda b: (b[0], b[3]),  # facing right
    180: lambda b: (b[2], b[3]),  # upside down
    270: lambda b: (b[2], b[1]),  # facing left
}


def _atoi(text: str):
    """int if all digits else unchanged (ref: pypdfocr/pypdfocr_pdf.py:258-259)."""
    return int(text) if text.isdigit() else text


def natural_keys(text: str) -> list:
    """Human-order sort key (ref: pypdfocr/pypdfocr_pdf.py:261-267).

    Kept for parity/testing only — the engine carries an explicit
    ``page_no`` int column instead of recovering order from filenames
    (SURVEY §2.7 O1).
    """
    return [_atoi(c) for c in re.split(r"(\d+)", text)]


def _find_body(root: Element) -> Element:
    body = None
    for child in root:
        if child.tag in ("body", f"{{{XHTML_NS}}}body"):
            body = child
    # Tolerate a bare <body> root or page divs at top level.
    return body if body is not None else root


def parse_hocr_page(hocr_xml: str, page_num: int, height: float, dpi: float) -> list[dict]:
    """Parse one hOCR document and return the line/word spans for page
    ``page_num`` with placement already computed.

    Returns a list of line dicts::

        {"bbox": [x0,y0,x1,y1], "textangle": int, "baseline": [a,b],
         "words": [{"text": str, "bbox": [..4 floats..], "font_size": int,
                    "x_pt": float, "y_pt": float, "angle": int}]}

    Any parse failure returns ``[]`` — the page contributes no text, the
    pipeline never dies on a garbage page
    (ref: pypdfocr/pypdfocr_pdf.py:276-281).
    """
    try:
        root = fromstring(hocr_xml)
    except Exception:
        return []

    page: Element | None = None
    for cand in _find_body(root):
        if cand.attrib.get("class") != "ocr_page":
            continue
        if cand.attrib.get("id") == "page_%d" % page_num:
            page = cand
            break
    if page is None:
        return []
    return _parse_page_element(page, height, dpi)


def parse_hocr_all(hocr_xml: str, height: float, dpi: float) -> list[list[dict]]:
    """Parse the hOCR tree ONCE and return spans for every ``ocr_page``
    div in document order — linear in document size, unlike calling
    :func:`parse_hocr_page` per page (which re-parses the XML each time;
    that shape only exists on the per-page exploded path where each task
    holds a single-page hOCR)."""
    try:
        root = fromstring(hocr_xml)
    except Exception:
        return []
    return [
        _parse_page_element(cand, height, dpi)
        for cand in _find_body(root)
        if cand.attrib.get("class") == "ocr_page"
    ]


_SPAN_TAG = f"{{{XHTML_NS}}}span"
_PT_PER_PX = 72.0


def _parse_page_element(page: Element, height: float, dpi: float) -> list[dict]:
    # Hot loop of the whole engine (~100k words/sec/core): same semantics
    # as the reference's parse (see module doc), with the per-word Python
    # overhead shaved — childless-word fast path instead of an iter()
    # round trip, inlined corner dispatch for the 99% textangle==0 case,
    # single attrib lookup per element. Byte-identity is pinned by the
    # golden tests and the extract_text oracle.
    lines: list[dict] = []
    bbox_search = REGEX_BBOX.search  # hoisted: ~2.5 regex searches/word
    fontspec_search = REGEX_FONTSPEC.search
    for line in page.iter(_SPAN_TAG):  # C-level iterator ≡ findall('.//span')
        la = line.attrib
        if la.get("class") != "ocr_line":
            continue
        title = la.get("title", "")
        bbox_m = bbox_search(title)
        if bbox_m is None:
            # reference would raise AttributeError per line; we degrade
            # per-page like its outer try (no text rather than crash)
            continue
        linebox = [float(i) for i in bbox_m.group(1).split()]

        angle_m = REGEX_TEXTANGLE.search(title)
        textangle = _atoi(angle_m.group(1)) if angle_m else 0

        base_m = REGEX_BASELINE.search(title)
        baseline = [float(i) for i in base_m.group(1).split()] if base_m else [0.0, 0.0]
        plain = textangle == 0

        words = []
        for word in line:
            wa = word.attrib
            if wa.get("class") != "ocrx_word":
                continue
            if len(word) == 0:
                # childless word: iter() would yield only the element
                word_text = word.text or ""
            else:
                # ' '.join of every descendant .text (ref :315-319)
                word_text = " ".join(t for t in (c.text for c in word.iter()) if t)
            wtitle = wa.get("title", "")
            box_m = bbox_search(wtitle)
            if box_m is None:
                continue
            box = [float(i) for i in box_m.group(1).split()]
            if plain:
                x, y = box[0], box[1]
            else:
                x, y = _CORNER.get(textangle, _CORNER[0])(box)
            fs_m = fontspec_search(wtitle)
            # x_fsize matches \d+ → always an int when present (ref :357-364)
            font_size = int(fs_m.group(2)) if fs_m else 8
            words.append(
                {
                    "text": word_text.strip(),
                    "bbox": box,
                    "font_size": font_size,
                    # keep the exact reference expression order — (x*72)/dpi
                    # and x*(72/dpi) differ in final float bits
                    "x_pt": x * _PT_PER_PX / dpi,
                    "y_pt": height - y * _PT_PER_PX / dpi,
                    "angle": textangle,
                }
            )
        lines.append(
            {"bbox": linebox, "textangle": textangle, "baseline": baseline, "words": words}
        )
    return lines


def page_texts_from_hocr(hocr_xml: str) -> list[str]:
    """Per-page text directly from the hOCR tree — the text-only
    projection of ``parse_hocr_all`` + ``page_text_from_spans`` (r6
    optimization, guide §1.2 "don't compute things you throw away"):
    the text surface never uses placement math, fontspec, baseline,
    textangle, or the bbox float values, so this path skips parsing them.
    Word/line admission is UNCHANGED — the same class checks and the
    same ``REGEX_BBOX`` gate on the same titles — so the emitted text is
    byte-identical (pinned by test_kernels parity + the extract_text
    oracle). Parse failure → ``[]``, exactly like ``parse_hocr_all``.
    """
    try:
        root = fromstring(hocr_xml)
    except Exception:
        return []
    bbox_search = REGEX_BBOX.search
    out: list[str] = []
    for page in _find_body(root):
        if page.attrib.get("class") != "ocr_page":
            continue
        parts: list[str] = []
        for line in page.iter(_SPAN_TAG):
            la = line.attrib
            if la.get("class") != "ocr_line":
                continue
            if bbox_search(la.get("title", "")) is None:
                continue
            texts: list[str] = []
            for word in line:
                wa = word.attrib
                if wa.get("class") != "ocrx_word":
                    continue
                if bbox_search(wa.get("title", "")) is None:
                    continue
                if len(word) == 0:
                    wt = word.text or ""
                else:
                    wt = " ".join(t for t in (c.text for c in word.iter()) if t)
                wt = wt.strip()
                if wt:
                    texts.append(wt)
            if texts:
                parts.append(" ".join(texts))
        out.append("\n".join(parts))
    return out


def page_text_from_spans(lines: list[dict]) -> str:
    """Reassemble page text: word texts joined by ``' '`` within a line,
    lines joined by ``'\\n'`` — the deterministic text surface the byte-
    identity contract checks (SURVEY §1.1 #5; cf. extractText-based golden
    checks in the reference's test/test_pypdfocr.py:20-28)."""
    out = []
    for line in lines:
        words = [w["text"] for w in line["words"] if w["text"]]
        if words:
            out.append(" ".join(words))
    return "\n".join(out)


def emit_hocr(pages: list[dict]) -> str:
    """Deterministic hOCR emitter (Tesseract stand-in, see module doc).

    ``pages`` is a list of page dicts with ``words`` =
    ``[{"t": text, "b": [x0,y0,x1,y1], "l": line_no}]`` laid out on a
    px grid (FIXTURES.md F2). Emits one multi-page hOCR document with
    line-level bbox/baseline/textangle and word-level bbox + fontspec —
    the attribute shapes Tesseract produces under
    ``-psm 1 -c hocr_font_info=1``.
    """
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        f'<html xmlns="{XHTML_NS}">',
        "<head><title></title></head>",
        "<body>",
    ]
    for pno, page in enumerate(pages, start=1):
        w_px = page.get("w_px", 2550)
        h_px = page.get("h_px", 3300)
        angle = int(page.get("rotate", 0))
        parts.append(
            f'<div class="ocr_page" id="page_{pno}" '
            f'title="image page_{pno}; bbox 0 0 {w_px} {h_px}; ppageno {pno - 1}">'
        )
        by_line: dict[int, list[dict]] = {}
        for w in page["words"]:
            by_line.setdefault(int(w["l"]), []).append(w)
        # r6 hot-loop shave (same emitted bytes, pinned by golden tests):
        # one pass computes the line box instead of four genexpr passes,
        # and each word emits via a single f-string append
        append = parts.append
        for lno in sorted(by_line):
            ws = by_line[lno]
            b = ws[0]["b"]
            x0, y0, x1, y1 = b[0], b[1], b[2], b[3]
            for w in ws[1:]:
                b = w["b"]
                if b[0] < x0:
                    x0 = b[0]
                if b[1] < y0:
                    y0 = b[1]
                if b[2] > x1:
                    x1 = b[2]
                if b[3] > y1:
                    y1 = b[3]
            title = f"bbox {x0} {y0} {x1} {y1}; baseline 0 -2"
            if angle:
                title += f"; textangle {angle}"
            append(f'<span class="ocr_line" title="{title}">')
            for w in ws:
                b = w["b"]
                append(
                    f'<span class="ocrx_word" title="bbox {b[0]} {b[1]} {b[2]} {b[3]}; '
                    f"x_wconf 95; x_font Helvetica; x_fsize {int(w.get('fs', 10))}\">"
                    f'{escape(w["t"])}</span>'
                )
            append("</span>")
        parts.append("</div>")
    parts.append("</body></html>")
    return "".join(parts)
