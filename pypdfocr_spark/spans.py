"""Span-level extraction output — the engine's central nested type
(SURVEY §1.1 #4): per-page arrays of hOCR lines with bbox / textangle /
baseline and positioned words (render-mode-3 "text layer" as data,
SURVEY §1.1 #5; ref: pypdfocr/pypdfocr_pdf.py:269-351).

``extract_spans`` runs ``pipeline``'s one extraction plan (source
filter, light/heavy split, in-place explode, salt, JVM reassembly) with
the two span kernels below. Light docs carry their nested span structs
straight through Arrow; heavy pages carry their parsed ``lines`` as a
nested column through the salted shuffle, and
``pipeline._jvm_reassemble`` folds them into ``spans`` — the shuffle
carries per-page results only, never payloads.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StructField,
    StructType,
)

from . import corpus as ck
from .config import ExtractConfig
from .kernels import codec, hocr
from .kernels.normalize import normalize_page_text
from .kernels.route import first_matching_folder, route_document
from .pipeline import DECODE, EMIT, PARSE, RASTERIZE, _doc_page_rows, _extract_plan
from .schema import EXTRACTED_SCHEMA, LINE_SCHEMA, PAGE_TEXT_SCHEMA

PAGE_SPANS_FIELD = StructField(
    "spans",
    ArrayType(
        StructType(
            [
                StructField("page_no", IntegerType(), False),
                StructField("lines", ArrayType(LINE_SCHEMA), True),
            ]
        )
    ),
    True,
)
EXTRACTED_SPANS_SCHEMA = StructType(EXTRACTED_SCHEMA.fields + [PAGE_SPANS_FIELD])
# heavy-path page rows: PAGE_TEXT_SCHEMA plus the page's parsed lines
PAGE_SPANS_SCHEMA = StructType(
    PAGE_TEXT_SCHEMA.fields + [StructField("lines", ArrayType(LINE_SCHEMA), True)]
)


def _doc_rows_with_spans(pdf: pd.DataFrame, cfg: ExtractConfig) -> pd.DataFrame:
    t0 = time.monotonic()
    out = []
    for url, ts, payload, lang in zip(pdf["url"], pdf["warc_ts"], pdf["html"], pdf["lang"]):
        payload = bytes(payload)
        try:
            spans_by_page, status = ck.extract_doc_spans(payload)
            page_texts = [hocr.page_text_from_spans(s) for s in spans_by_page]
            text = "\n".join(page_texts)
            norm_pages = [normalize_page_text(p) for p in page_texts]
            route = route_document(
                norm_pages, url, cfg.targets,
                use_filename=cfg.use_filename, default=cfg.default_route,
            )
            spans = [
                {"page_no": i, "lines": lines}
                for i, lines in enumerate(spans_by_page)
            ]
        except Exception as exc:
            text, status, spans, page_texts, norm_pages = (
                "", f"error:{type(exc).__name__}", [], [], []
            )
            route = route_document(
                [], url, cfg.targets, use_filename=cfg.use_filename, default=cfg.default_route,
            )
        # doc norm = the page norms joined by space, as in
        # pipeline._extract_rows (the S6 identity)
        out.append(
            (url, ts, lang, text, " ".join(norm_pages), route,
             len(page_texts), status, len(payload), 0.0, spans)
        )
    res = pd.DataFrame(out, columns=[f.name for f in EXTRACTED_SPANS_SCHEMA.fields])
    res["wall_ms"] = (time.monotonic() - t0) * 1000.0 / max(len(out), 1)
    return res


def _page_span_rows(pdf: pd.DataFrame, cfg: ExtractConfig) -> pd.DataFrame:
    """Per-page span kernel: PAGE_SPANS_SCHEMA rows — ``_page_text_rows``'s
    columns (text from the parsed lines) plus the page's ``lines``. A
    ``doc`` row runs ``corpus.extract_doc_spans``, the light path's
    dispatch."""
    t0 = time.monotonic()
    out = []
    for url, ts, lang, pno, n, height, dpi, kind, data, nbytes in zip(
        pdf["url"], pdf["warc_ts"], pdf["lang"], pdf["page_no"], pdf["n_pages"],
        pdf["height_pt"], pdf["output_dpi"], pdf["kind"], pdf["page_json"],
        pdf["byte_count"],
    ):
        if kind == "doc":
            try:
                spans_by_page, status = ck.extract_doc_spans(bytes(data))
                texts = [hocr.page_text_from_spans(s) for s in spans_by_page]
            except Exception as exc:  # data error → row, never task failure
                spans_by_page, texts, status = [], [], f"error:{type(exc).__name__}"
            rows = _doc_page_rows(url, ts, lang, texts, status, nbytes, cfg)
            out.extend(r + (0.0, lines) for r, lines in zip(rows, spans_by_page or [[]]))
            continue
        status, text, lines, phase = "ok", "", [], DECODE
        try:
            page = codec.loads_json(bytes(data))
        except Exception:
            page = None
        if not isinstance(page, dict):
            status = "decode_error"
        else:
            try:
                phase = RASTERIZE
                raster = codec.rasterize([page], int(dpi))
                phase = EMIT
                hocr_doc = hocr.emit_hocr(raster)
                phase = PARSE
                lines = hocr.parse_hocr_page(hocr_doc, 1, float(height), int(dpi))
                text = hocr.page_text_from_spans(lines)
            except Exception as exc:  # data error → row, never task failure
                text, lines, status = "", [], f"error:{type(exc).__name__}"
        norm = normalize_page_text(text)
        out.append(
            (url, ts, lang, int(pno), int(n), text, norm,
             first_matching_folder(norm, cfg.targets), status, phase, int(nbytes), 0.0, lines)
        )
    res = pd.DataFrame(out, columns=[f.name for f in PAGE_SPANS_SCHEMA.fields])
    res["wall_ms"] = (time.monotonic() - t0) * 1000.0 / max(len(out), 1)
    return res


def extract_spans(corpus_df: DataFrame, cfg: ExtractConfig | None = None) -> DataFrame:
    """Extraction with the ``spans`` nested column populated (both paths):
    EXTRACTED_SPANS_SCHEMA rows from ``pipeline._extract_plan``, the same
    plan ``pipeline.extract`` runs, with the span kernels.

    Always runs the builtin codec chain: the span tree comes from the
    engine's own hOCR emit/parse round-trip. (A subprocess-backed spans
    variant would parse real tesseract hOCR through the same
    kernels.hocr parser — the parser is shared; only the wiring is
    builtin-pinned here.)"""
    from dataclasses import replace

    cfg = replace(cfg or ExtractConfig(), ocr_strategy="builtin")
    return _extract_plan(
        corpus_df, cfg,
        _doc_rows_with_spans, EXTRACTED_SPANS_SCHEMA,
        _page_span_rows, PAGE_SPANS_SCHEMA,
    )
