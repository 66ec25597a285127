"""Explicit StructTypes for every table the engine touches.

Schema system is **fixed** — declared, never inferred (SURVEY §1.2):
byte-identical output requires stable types across the Arrow boundary.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# F1 input table (BASELINE.json input_hint): Common-Crawl-style pages.
# n_bytes (payload size) is carried as a stats-bearing column so the
# light/heavy split can prune at the parquet/Iceberg row-group level —
# `length(html) > T` cannot push down, `n_bytes > T` can (min/max stats).
CORPUS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("n_bytes", LongType(), True),
    ]
)

# The engine's central nested type: parsed hOCR spans (SURVEY §1.1 #4).
WORD_SCHEMA = StructType(
    [
        StructField("text", StringType(), True),
        StructField("bbox", ArrayType(DoubleType()), True),
        StructField("font_size", IntegerType(), True),
        StructField("x_pt", DoubleType(), True),
        StructField("y_pt", DoubleType(), True),
        StructField("angle", IntegerType(), True),
    ]
)
LINE_SCHEMA = StructType(
    [
        StructField("bbox", ArrayType(DoubleType()), True),
        StructField("textangle", IntegerType(), True),
        StructField("baseline", ArrayType(DoubleType()), True),
        StructField("words", ArrayType(WORD_SCHEMA), True),
    ]
)

# Extraction output (FIXTURES.md F7 `extracted`).
EXTRACTED_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("lang", StringType(), True),
        StructField("extracted_text", StringType(), True),
        StructField("extracted_norm", StringType(), True),
        StructField("route", StringType(), True),
        StructField("n_pages", IntegerType(), True),
        StructField("status", StringType(), True),
        StructField("byte_count", LongType(), True),
        # per-row share of the Arrow batch's Python compute time; summed
        # per physical partition into the lineage wall_ms metric
        StructField("wall_ms", DoubleType(), True),
    ]
)

# Per-page intermediate rows on the heavy (exploded) path. ``kind`` is set
# by the explode alone, never read from the payload: "page" (page_json is
# one SYNPDF page line), "staged" (page_json is the explode's own
# {pdf_path, page, greyscale} JSON) or "doc" (page_json is the whole
# payload, n_pages 0, run by the light path's dispatch).
PAGE_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("lang", StringType(), True),
        StructField("page_no", IntegerType(), False),
        StructField("n_pages", IntegerType(), False),
        StructField("height_pt", DoubleType(), False),
        StructField("output_dpi", IntegerType(), False),
        StructField("kind", StringType(), False),
        StructField("page_json", BinaryType(), False),
        StructField("byte_count", LongType(), True),
    ]
)

# Per-page status rides through the salted shuffle so heavy-document
# failures surface in the reassembled doc status (and thus in lineage
# failure accounting) exactly like light-path failures do.
PAGE_TEXT_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("lang", StringType(), True),
        StructField("page_no", IntegerType(), False),
        StructField("n_pages", IntegerType(), False),
        StructField("page_text", StringType(), True),
        # per-page S6 normalization + first-matching route folder, computed
        # in the same Python pass as the page text so document reassembly
        # can stay entirely JVM-side (collect_list + array_sort + array_join
        # — no grouped Python stage, no second Arrow round trip of the text)
        StructField("norm_text", StringType(), True),
        StructField("route_match", StringType(), True),
        StructField("status", StringType(), False),
        # phase a failed page row failed in (decode 0, rasterize 1, emit
        # hOCR 2, parse 3): reassembly reports the failure the light path,
        # which runs each phase over all pages before the next, hits first
        StructField("fail_phase", IntegerType(), False),
        StructField("byte_count", LongType(), True),
        StructField("wall_ms", DoubleType(), True),
    ]
)

# Lineage / metrics table (FIXTURES.md F7 `lineage`; north_rule).
LINEAGE_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("doc_count", LongType(), False),
        StructField("byte_count", LongType(), False),
        StructField("failures", ArrayType(StringType()), False),
        StructField("wall_ms", LongType(), False),
    ]
)
