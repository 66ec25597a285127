"""Span-level output + directory sink tests."""

import pytest

from pypdfocr_spark import pipeline, sinks, spans
from pypdfocr_spark.config import ExtractConfig
from pypdfocr_spark.kernels import hocr

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def spans_out(spark):
    df = spans.extract_spans(pipeline.build_corpus_df(spark, SF_SMOKE), ExtractConfig())
    return {r["url"]: r for r in df.collect()}


def test_spans_roundtrip_text(spark, spans_out):
    """The text reassembled from the spans column equals extracted_text —
    the invariant from SURVEY §2.3 T6: identical span list ⇒ identical
    text. Holds on both the light and the exploded heavy path."""
    assert len(spans_out) == 400
    checked_heavy = 0
    for url, row in spans_out.items():
        span_pages = row["spans"]
        assert [p["page_no"] for p in span_pages] == list(range(len(span_pages)))
        rebuilt = "\n".join(
            hocr.page_text_from_spans([ln.asDict(recursive=True) for ln in p["lines"]])
            for p in span_pages
        )
        assert rebuilt == row["extracted_text"], url
        if row["n_pages"] > 50:
            checked_heavy += 1
    assert checked_heavy >= 1


def test_spans_geometry_fields(spans_out):
    pdf_rows = [r for r in spans_out.values() if r["url"].endswith(".pdf") and r["n_pages"]]
    row = pdf_rows[0]
    line = row["spans"][0]["lines"][0]
    w = line["words"][0]
    assert len(w["bbox"]) == 4
    assert w["font_size"] == 10
    # placement is points: x_pt = x0*72/dpi (ref: pypdfocr_pdf.py:349)
    assert w["x_pt"] > 0 and w["y_pt"] > 0


def test_dirs_sink_uniquify(spark, tmp_path):
    df = spark.createDataFrame(
        [
            ("https://a/x/doc.pdf", "r1", "t"),
            ("https://b/y/doc.pdf", "r1", "t"),   # same basename+route → _1
            ("https://c/z/doc.pdf", "r2", "t"),   # different route → no suffix
        ],
        ["url", "route", "extracted_text"],
    )
    named = sinks.DirsSink.with_artifact_names(df)
    got = {r["url"]: r["artifact_name"] for r in named.collect()}
    assert got["https://a/x/doc.pdf"] == "doc_ocr.pdf"
    assert got["https://b/y/doc.pdf"] == "doc_1_ocr.pdf"
    assert got["https://c/z/doc.pdf"] == "doc_ocr.pdf"
    sinks.DirsSink().write(df, str(tmp_path / "routed"))
    routes = {r["route"] for r in spark.read.parquet(str(tmp_path / "routed")).select("route").collect()}
    assert routes == {"r1", "r2"}
