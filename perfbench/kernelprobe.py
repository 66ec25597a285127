"""In-process timing of the extraction kernels on a sample of corpus rows.

Each phase is timed with the thread CPU clock around a direct call into
``pypdfocr_spark.kernels``, in the order ``corpus.extract_doc`` runs them.
"""

from __future__ import annotations

import time
from collections import defaultdict

from pypdfocr_spark.config import DEFAULT_ROUTE, DEFAULT_TARGETS
from pypdfocr_spark.kernels import codec, hocr, htmlx
from pypdfocr_spark.kernels.normalize import normalize_page_text
from pypdfocr_spark.kernels.route import route_document

# (metric name, phase, unit the phase is counted in)
PHASES = (
    ("codec.decode_ms_per_doc", "decode", "pdf_docs"),
    ("codec.rasterize_ms_per_page", "rasterize", "pdf_pages"),
    ("hocr.emit_ms_per_page", "emit", "pdf_pages"),
    ("hocr.parse_ms_per_page", "parse", "pdf_pages"),
    ("htmlx.strip_ms_per_doc", "strip", "html_docs"),
    ("normalize.ms_per_page", "normalize", "pages"),
    ("route.ms_per_doc", "route", "docs"),
)


def count_units(rows) -> dict[str, int]:
    """Units of kernel work in ``rows`` of (url, payload, n_pages)."""
    n: dict[str, int] = defaultdict(int)
    for _url, payload, n_pages in rows:
        n["docs"] += 1
        n["pages"] += n_pages
        if codec.is_syn_pdf(payload):
            n["pdf_docs"] += 1
            n["pdf_pages"] += n_pages
        else:
            n["html_docs"] += 1
    return dict(n)


def time_phases(rows) -> tuple[dict[str, float], dict[str, int]]:
    """CPU seconds per phase and unit counts over ``rows`` of (url, payload)."""
    sec: dict[str, float] = defaultdict(float)
    n: dict[str, int] = defaultdict(int)
    clock = time.thread_time
    for url, payload in rows:
        if codec.is_syn_pdf(payload):
            t = clock()
            pages = codec.decode_doc(payload) or []
            sec["decode"] += clock() - t
            geom = codec.detect_geometry(pages)
            t = clock()
            raster = codec.rasterize(pages, geom["output_dpi"])
            sec["rasterize"] += clock() - t
            t = clock()
            doc = hocr.emit_hocr(raster)
            sec["emit"] += clock() - t
            t = clock()
            texts = hocr.page_texts_from_hocr(doc)
            sec["parse"] += clock() - t
            n["pdf_docs"] += 1
            n["pdf_pages"] += len(pages)
        else:
            t = clock()
            texts = [htmlx.strip_boilerplate(payload.decode("utf-8", errors="replace"))]
            sec["strip"] += clock() - t
            n["html_docs"] += 1
        t = clock()
        norms = [normalize_page_text(p) for p in texts]
        sec["normalize"] += clock() - t
        t = clock()
        route_document(norms, url, DEFAULT_TARGETS, use_filename=True, default=DEFAULT_ROUTE)
        sec["route"] += clock() - t
        n["docs"] += 1
        n["pages"] += len(texts)
    return dict(sec), dict(n)


def per_unit_ms(sec: dict[str, float], n: dict[str, int]) -> dict[str, float]:
    """The ``PHASES`` metrics: ms per unit (0 where the sample had none)."""
    return {
        name: (sec.get(phase, 0.0) * 1000.0 / n[unit]) if n.get(unit) else 0.0
        for name, phase, unit in PHASES
    }


def kernel_cpu_s(ms: dict[str, float], units: dict[str, int]) -> float:
    """Estimated kernel CPU seconds for a pass over ``units`` of work."""
    return sum(ms[name] * units.get(unit, 0) for name, _phase, unit in PHASES) / 1000.0
