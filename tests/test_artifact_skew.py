"""Artifact (T9/T10/K1) rendering math + skew-spread evidence tests."""

import json
import math

import pytest
from pyspark.sql import functions as F

from pypdfocr_spark import artifact, pipeline, spans
from pypdfocr_spark.config import ExtractConfig

from tests.conftest import SF_SMOKE


def _word(text, x, y, angle=0, size=10):
    return {"text": text, "bbox": [0, 0, 1, 1], "font_size": size,
            "x_pt": x, "y_pt": y, "angle": angle}


def test_render_text_page_unrotated_keeps_placement():
    page = artifact.render_text_page(
        [{"bbox": [], "textangle": 0, "baseline": [0, 0],
          "words": [_word("hi", 100.0, 700.0)]}],
        612.0, 792.0, rotate=0,
    )
    w = page["words"][0]
    assert (w["x"], w["y"]) == (100.0, 700.0)
    assert w["mode"] == 3 and w["font"] == "Helvetica"


def test_render_text_page_rotation_ctm():
    # 90° merge rotation around (width/2, width/2) = (306, 306)
    # (ref: pypdfocr_pdf.py:194 passes the width for both coordinates)
    page = artifact.render_text_page(
        [{"bbox": [], "textangle": 0, "baseline": [0, 0],
          "words": [_word("hi", 306.0, 0.0)]}],
        612.0, 792.0, rotate=90,
    )
    w = page["words"][0]
    # rotating (306, 0) by 90° around (306, 306) → (612, 306)
    assert math.isclose(w["x"], 612.0, abs_tol=1e-6)
    assert math.isclose(w["y"], 306.0, abs_tol=1e-6)


def test_searchable_doc_roundtrip():
    blob = artifact.render_searchable_doc(
        [[{"bbox": [], "textangle": 0, "baseline": [0, 0],
           "words": [_word("a", 1.0, 2.0), _word("b", 3.0, 4.0)]}], []],
        612.0, 792.0, rotations=[0, 180],
    )
    assert blob.startswith(b"%SYNOCR1%")
    doc = json.loads(blob[len(b"%SYNOCR1%"):])
    assert len(doc["pages"]) == 2
    assert [w["t"] for w in doc["pages"][0]["words"]] == ["a", "b"]
    assert doc["pages"][1]["rotate"] == 180


def test_with_artifacts_column(spark):
    df = spans.extract_spans(pipeline.build_corpus_df(spark, SF_SMOKE), ExtractConfig())
    out = artifact.with_artifacts(df.where(F.col("n_pages") <= 3).limit(5))
    rows = out.collect()
    assert rows
    for r in rows:
        assert bytes(r["artifact"]).startswith(b"%SYNOCR1%")
        doc = json.loads(bytes(r["artifact"])[9:])
        n_words_artifact = sum(len(p["words"]) for p in doc["pages"])
        n_words_spans = sum(len(ln["words"]) for p in r["spans"] for ln in p["lines"])
        assert n_words_artifact == n_words_spans


def test_heavy_pages_spread_across_partitions(spark):
    """Skew evidence: a multi-hundred-page doc's pages land on many
    partitions after the salt (north rule: explicit skew handling) —
    measured on the heavy page stage both extractions run."""
    cfg = ExtractConfig()
    _, heavy = pipeline._split(pipeline.build_corpus_df(spark, SF_SMOKE), cfg)
    k = spark.sparkContext.defaultParallelism
    pages = pipeline._salted_pages(heavy, cfg).select(
        "url", F.spark_partition_id().alias("pid")
    )
    per_doc = (
        pages.groupBy("url")
        .agg(F.countDistinct("pid").alias("n_parts"), F.count(F.lit(1)).alias("n_pages"))
        .collect()
    )
    big = [r for r in per_doc if r["n_pages"] >= 100]
    assert big, "smoke corpus must contain 100+ page docs"
    for r in big:
        # pages of one doc spread over (almost) all partitions
        assert r["n_parts"] >= min(k, r["n_pages"]) * 0.5, r


def test_size_split_uses_stats_column(spark):
    """The light/heavy predicate must reach the parquet scan as a pushed
    filter on the stats-bearing n_bytes column (row-group pruning)."""
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        pipeline.build_corpus_df(spark, SF_SMOKE).write.parquet(f"{d}/c")
        corpus = spark.read.parquet(f"{d}/c")
        df = pipeline.extract(corpus, ExtractConfig())
        # formatted explain keeps full (untruncated) PushedFilters lines
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # the size predicate itself must reach the scans' pushed filters,
        # not merely appear in ReadSchema (light branch: Or(IsNull, LtEq);
        # heavy branch: GreaterThan)
        pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        assert any("GreaterThan(n_bytes" in ln for ln in pushed), pushed
        assert any(
            "Or(IsNull(n_bytes)" in ln or "LessThanOrEqual(n_bytes" in ln for ln in pushed
        ), pushed

def test_with_artifacts_pdf_roundtrip(spark):
    """fmt="pdf": the artifact column is a REAL searchable PDF whose
    invisible text layer reads back (pdfimages.extract_pdf_text) with
    exactly the span words in order — the searchable round trip over
    actual extraction output."""
    from pypdfocr_spark import pdfimages

    df = spans.extract_spans(pipeline.build_corpus_df(spark, SF_SMOKE), ExtractConfig())
    out = artifact.with_artifacts(df.where(F.col("n_pages") <= 3).limit(5), fmt="pdf")
    rows = out.collect()
    assert rows
    for r in rows:
        blob = bytes(r["artifact"])
        assert blob.startswith(b"%PDF-1.4")
        pages = pdfimages.extract_pdf_text(blob)
        got_words = [w["text"] for p in pages for w in p]
        want_words = [
            w["text"] for p in r["spans"] for ln in p["lines"] for w in ln["words"]
        ]
        assert got_words == want_words
        assert all(w["mode"] == 3 for p in pages for w in p)  # invisible layer
