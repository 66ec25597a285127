"""The distributed extraction pipeline (SURVEY §3.1 rebuild trace).

Logical plan::

    scan(parquet documents)                         # driver table
      → mapInPandas(build_corpus)                   # F1 rows (url, ts, html, text, lang)
      → where(NOT url endswith _ocr.pdf/_test.pdf)  # S3 source filter, JVM-side
      ├─ light docs (payload ≤ threshold):
      │    mapInPandas(light kernel)                # whole doc in one task, NO shuffle
      └─ heavy docs (payload > threshold):          # the skew tail
           mapInPandas(explode_pages)               # doc → page/staged rows, or one doc row
           → repartition(K, xxhash64(url, page_no)) # salt: spread one doc's pages
           → mapInPandas(page kernel)               # per-page OCR+parse+norm+route-match
           → groupBy(url).agg(...)                  # JVM reassembly: collect_list
                                                    #   + array_sort + array_join +
                                                    #   ordered route reduction
      → unionByName

One plan serves both extractions (``_extract_plan``); only the two
kernels, each with its output schema, differ:

* ``extract`` (text columns): ``_extract_rows`` / ``_page_text_rows``;
* ``spans.extract_spans`` (text columns + the nested ``spans`` column):
  ``spans._doc_rows_with_spans`` / ``spans._page_span_rows``, whose page
  rows also carry each page's parsed ``lines``.

The payload kind (SYNPDF, HTML, real PDF, garbage) is decided in one
place, the light path's dispatch (``_doc_kernel`` → ``corpus.extract_doc``,
``corpus.extract_doc_spans`` for spans). The explode only splits what it
can page-split and stamps each row's ``kind`` itself; a heavy doc it
cannot split is one ``doc`` row that the page kernel hands to that same
dispatch, so the two paths cannot disagree on what a payload is.

Why this shape at 100 TB:

* The S3 filter and the light/heavy split are Catalyst expressions
  (``endswith``, ``n_bytes``, and on the materialized corpus its
  ``size_class`` partition column) — pushed/pruned JVM-side, no Python.
* 99% of documents never shuffle: one Arrow round-trip, map-only.
* The 1% multi-hundred-page tail — which would otherwise pin a task per
  AQE's inability to split a single row — is exploded to page granularity
  *before* the expensive stage and hash-spread across the cluster
  (SURVEY §4: salt *pages*, AQE can't split a row).
* The reassembly shuffle only carries the per-page results (text, norm,
  route match, and for spans the parsed lines) — never the raster
  payloads.
* All Python work is Arrow-batched ``mapInPandas``; per-batch failure
  capture keeps data errors out of task retries
  (graceful degradation, ref: pypdfocr/pypdfocr_pdf.py:276-281).

Fixed driver cost per call. The filters, the split and the reassembly
are SQL expression strings (``where("...")``, ``F.expr``,
``selectExpr``): a composed ``Column`` costs py4j round trips per
operator while the plan is built, a string one per expression. The plan
is the same either way. Config values that reach SQL text (route
keywords, folder names, the default route) go through ``sql_string``.

When the heavy branch is left out. ``_extract_plan`` returns the light
branch alone when ``_provably_empty`` shows that the heavy branch's
input has no rows: its physical plan before AQE holds only file scans,
filters and projections, and every scan is a path read whose pruned file
listing is empty. That is the case for a light-only corpus materialized
by ``materialize_corpus`` under a threshold at or above
``HEAVY_PAYLOAD_BYTES``: the heavy branch's ``size_class = 'heavy'``
partition has no files. It is sound because none of those operators can
make a row out of no input rows, and the listing read is the one the
plan would scan. Anything else keeps the branch: a join (a
``resume_filter`` anti-join), an aggregate, a union, an in-memory, local
or RDD leaf, a catalog table, a streaming frame. The proof runs no Spark
job and generates no code, and the output schema is the same either way.
Leaving the branch out saves a pass its page-stage job and AQE's
re-planning between jobs.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from . import corpus as ck
from .config import HEAVY_PAYLOAD_BYTES, ExtractConfig
from .kernels import codec, hocr
from .kernels.normalize import normalize_page_text
from .kernels.route import first_matching_folder, route_document
from .schema import (
    CORPUS_SCHEMA,
    EXTRACTED_SCHEMA,
    PAGE_SCHEMA,
    PAGE_TEXT_SCHEMA,
)

EXCLUDED_SUFFIXES = ck.EXCLUDED_SUFFIXES


# --------------------------------------------------------------- corpus build
def build_corpus_df(spark: SparkSession, sf_dir: str, replicate: int = 1) -> DataFrame:
    """Derive the F1 Common-Crawl-style corpus from the driver's
    ``documents`` parquet — deterministic per doc_id (corpus.py rules),
    built executor-side in Arrow batches.

    ``replicate`` > 1 deterministically replicates the seed rows with
    disjoint doc_id ranges (offset 10^7 per copy) — used to build a
    corpus large enough that compute dominates scheduling overhead in the
    scaling-efficiency measurement (BASELINE.md protocol)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, t, l, s in zip(pdf["doc_id"], pdf["text"], pdf["lang"], pdf["source"]):
                r = ck.build_corpus_row(int(d), t, l, s)
                r["n_bytes"] = len(r["html"])
                rows.append(r)
            yield pd.DataFrame(rows, columns=[f.name for f in CORPUS_SCHEMA.fields])

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    if replicate > 1:
        copies = spark.range(replicate).select((F.col("id") * 10_000_000).alias("doc_offset"))
        docs = docs.crossJoin(copies).select(
            (F.col("doc_id") + F.col("doc_offset")).alias("doc_id"), "text", "lang", "source"
        )
    # The driver parquet is a single small file → a single input split →
    # every downstream Python stage would serialize onto one task. Spread
    # the (tiny) seed rows across the cluster before the payload-building
    # stage, unconditionally: this path only ever derives a corpus from
    # the small seed table (at 100 TB the pipeline scans the real corpus
    # table and never runs this), so the repartition is always warranted
    # and costs one shuffle of the seed rows — no RDD-conversion job to
    # probe the current partitioning.
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return docs.mapInPandas(gen, CORPUS_SCHEMA)


# ----------------------------------------------------------- light-path UDFs
def _doc_kernel(payload: bytes, cfg: ExtractConfig):
    """Strategy dispatch per document: real %PDF payloads go to the
    subprocess-backed gs+tesseract kernel when the (driver-resolved)
    strategy selects it; everything else uses the builtin codec."""
    if cfg.ocr_strategy == "subprocess" and payload.startswith(b"%PDF"):
        from .kernels import subproc

        return subproc.extract_doc_subprocess(
            payload, gs_binary=cfg.gs_binary,
            tesseract_binary=cfg.tesseract_binary,
            preprocess=cfg.preprocess, convert_binary=cfg.convert_binary,
            pdfimages_binary=cfg.pdfimages_binary,
            identify_binary=cfg.identify_binary,
        )
    return ck.extract_doc(payload)


def _extract_rows(pdf: pd.DataFrame, cfg: ExtractConfig) -> pd.DataFrame:
    t0 = time.monotonic()
    out = []
    for url, ts, payload, lang in zip(pdf["url"], pdf["warc_ts"], pdf["html"], pdf["lang"]):
        payload = bytes(payload)
        try:
            pages, status = _doc_kernel(payload, cfg)
            text, n_pages = "\n".join(pages), len(pages)
            norm_pages = [normalize_page_text(p) for p in pages]
            route = route_document(
                norm_pages, url, cfg.targets,
                use_filename=cfg.use_filename, default=cfg.default_route,
            )
        except Exception as exc:  # data error → row, never task failure
            text, n_pages, status, norm_pages = "", 0, f"error:{type(exc).__name__}", []
            route = route_document(
                [], url, cfg.targets, use_filename=cfg.use_filename, default=cfg.default_route,
            )
        # doc norm = per-page norms joined by space — equal to
        # normalize_page_text(text) because ascii-ignore distributes over
        # concat and the joining '\n' itself normalizes to ' ' (the same
        # S6 identity _jvm_reassemble relies on); avoids re-normalizing
        # the whole document text a second time (r6)
        out.append(
            (url, ts, lang, text, " ".join(norm_pages), route, n_pages, status, len(payload))
        )
    # per-row share of this batch's Python compute → lineage wall_ms
    share = (time.monotonic() - t0) * 1000.0 / max(len(out), 1)
    res = pd.DataFrame(out, columns=[f.name for f in EXTRACTED_SCHEMA.fields][:-1])
    res["wall_ms"] = share
    return res


# ----------------------------------------------------------- heavy-path UDFs
def _split_doc(payload: bytes, cfg: ExtractConfig) -> list[tuple] | None:
    """A heavy payload's (page_no, n_pages, height_pt, output_dpi, kind,
    page_json) rows, or ``None`` when it does not page-split: ``page``
    rows for a SYNPDF doc with at least one line, every line valid UTF-8
    and a first line that is a dict ``detect_geometry`` accepts;
    ``staged`` rows for a probed real PDF (below)."""
    page_lines = codec.split_pages(payload)  # byte split, no parse
    if page_lines:
        try:
            # strict, like the light path's decode_doc: a non-UTF-8 line
            # leaves the whole doc to the light dispatch (decode_error)
            for ln in page_lines:
                ln.decode("utf-8")
            first = codec.loads_json(page_lines[0])
            if not isinstance(first, dict):
                return None
            geom = codec.detect_geometry([first])
        except Exception:
            return None
        n = len(page_lines)
        return [
            (pno, n, geom["height_pt"], geom["output_dpi"], "page", line)
            for pno, line in enumerate(page_lines)
        ]
    # real PDF under the subprocess strategy: stage the payload once to
    # shared scratch, probe the page count + geometry, and emit one slim
    # (path, page) row per page — each rasterized by its own task via gs
    # -dFirstPage/-dLastPage downstream. This is what breaks the
    # multi-hundred-page skew the explode exists for; the reference's
    # analog is the in-host page pool (pypdfocr_tesseract.py:138-150).
    # Page-split staging REQUIRES cfg.scratch_dir (a mount every executor
    # can reach): with an executor-local default the shuffled (path, page)
    # rows would point at files that exist on one host only and pages
    # would silently blank on a multi-host cluster — so no scratch_dir
    # (or a probe failure) means the safe single-task ``doc`` row instead.
    if not (cfg.ocr_strategy == "subprocess" and payload.startswith(b"%PDF")
            and cfg.scratch_dir is not None):
        return None
    from .kernels import subproc

    try:
        path = subproc.stage_pdf(payload, cfg.scratch_dir)
        n = subproc.pdf_page_count(path, pdfinfo=cfg.pdfinfo_binary)
        geom = subproc.detect_dpi(
            path, pdfimages=cfg.pdfimages_binary, identify=cfg.identify_binary,
        )
    except Exception:
        return None
    if not n:
        return None
    return [
        (pno, n, geom["height_pt"], geom["output_dpi"], "staged",
         json.dumps({"pdf_path": path, "page": pno + 1,
                     "greyscale": geom["greyscale"]}).encode("utf-8"))
        for pno in range(n)
    ]


def _explode_rows(pdf: pd.DataFrame, cfg: ExtractConfig) -> pd.DataFrame:
    """Split a heavy document into PAGE_SCHEMA rows — a cheap splitter
    only (``_split_doc``). The expensive work (rasterize at the output
    dpi, hOCR, parse) happens downstream in the salted per-page stage;
    doing it here would pin one task per multi-hundred-page doc, exactly
    the skew the explode exists to break.

    A payload ``_split_doc`` cannot split (HTML, an empty or undecodable
    SYNPDF, an unprobed PDF, anything else) becomes ONE ``doc`` row
    carrying the payload, which the page kernel runs through the light
    path's own dispatch — so the payload-kind decision is made in one
    place, and nothing in the payload can pick a branch."""
    out = []
    for url, ts, payload, lang in zip(pdf["url"], pdf["warc_ts"], pdf["html"], pdf["lang"]):
        payload = bytes(payload)
        rows = _split_doc(payload, cfg) or [(0, 0, 792.0, 300, "doc", payload)]
        out.extend((url, ts, lang, *row, len(payload)) for row in rows)
    return pd.DataFrame(out, columns=[f.name for f in PAGE_SCHEMA.fields])


# Phase rank of a failed ``page`` row, in the light path's order: it
# decodes every page, then rasterizes, emits hOCR and parses each in turn
# over all pages, so its first failure is the lowest (rank, page_no).
DECODE, RASTERIZE, EMIT, PARSE = range(4)


def _doc_page_rows(url, ts, lang, texts, status, nbytes, cfg: ExtractConfig) -> list[tuple]:
    """A ``doc`` row's page-kernel output: one row PER PAGE, so reassembly
    keeps page boundaries and routes with the light path's per-page early
    exit (P2); no pages → one empty row that matches no route, so the doc
    routes by filename fallback / default, as on the light path."""
    rows = []
    for i, text in enumerate(texts):
        norm = normalize_page_text(text)
        rows.append(
            (url, ts, lang, i, len(texts), text, norm,
             first_matching_folder(norm, cfg.targets), status, DECODE, int(nbytes))
        )
    return rows or [(url, ts, lang, 0, 0, "", "", None, status, DECODE, int(nbytes))]


def _page_text_rows(pdf: pd.DataFrame, cfg: ExtractConfig) -> pd.DataFrame:
    """Per-page OCR kernel: rasterize the native-dpi page at the document
    output dpi, emit+parse hOCR, reassemble text — the compute-heavy stage,
    running on hash-spread page rows. Emits a per-page ``status`` so heavy
    failures reach lineage (statuses mirror corpus.extract_doc: ok /
    decode_error / html_error / unsupported / error:<Type>) and, for a
    failed ``page`` row, the phase it failed in (``fail_phase``; ``staged``
    and ``doc`` rows report ``DECODE``). A ``doc`` row runs ``_doc_kernel``,
    the light path's dispatch."""
    t0 = time.monotonic()
    out = []
    for url, ts, lang, pno, n, height, dpi, kind, data, nbytes in zip(
        pdf["url"], pdf["warc_ts"], pdf["lang"], pdf["page_no"], pdf["n_pages"],
        pdf["height_pt"], pdf["output_dpi"], pdf["kind"], pdf["page_json"],
        pdf["byte_count"],
    ):
        if kind == "doc":
            try:
                texts, status = _doc_kernel(bytes(data), cfg)
            except Exception as exc:  # data error → row, never task failure
                texts, status = [], f"error:{type(exc).__name__}"
            out.extend(_doc_page_rows(url, ts, lang, texts, status, nbytes, cfg))
            continue
        status, text, phase = "ok", "", DECODE
        try:
            page = codec.loads_json(bytes(data))
        except Exception:
            page = None
        if not isinstance(page, dict):
            status = "decode_error"  # parity: corpus.decode_doc → None
        else:
            try:
                if kind == "staged":
                    # distributed page split of a staged real PDF: this
                    # task rasterizes + OCRs exactly ONE page
                    from .kernels import subproc

                    try:
                        text = subproc.extract_page_subprocess(
                            page["pdf_path"], int(page["page"]), int(dpi),
                            bool(page.get("greyscale", True)), float(height),
                            gs_binary=cfg.gs_binary,
                            tesseract_binary=cfg.tesseract_binary,
                            preprocess=cfg.preprocess,
                            convert_binary=cfg.convert_binary,
                        )
                    except subproc.OcrError:
                        status = "ocr_error"
                    except subproc.SubprocessKernelError:
                        status = "decode_error"
                else:
                    phase = RASTERIZE
                    raster = codec.rasterize([page], int(dpi))
                    phase = EMIT
                    hocr_doc = hocr.emit_hocr(raster)
                    phase = PARSE
                    # r6: text-only parse (see hocr.page_texts_from_hocr);
                    # emit_hocr of a single page always emits one
                    # page_1 div, so index 0 is the page parse_hocr_page
                    # would have selected by id
                    texts = hocr.page_texts_from_hocr(hocr_doc)
                    text = texts[0] if texts else ""
            except Exception as exc:  # data error → row, never task failure
                text, status = "", f"error:{type(exc).__name__}"
        norm = normalize_page_text(text)
        out.append(
            (url, ts, lang, int(pno), int(n), text, norm,
             first_matching_folder(norm, cfg.targets), status, phase, int(nbytes))
        )
    share = (time.monotonic() - t0) * 1000.0 / max(len(out), 1)
    res = pd.DataFrame(out, columns=[f.name for f in PAGE_TEXT_SCHEMA.fields][:-1])
    res["wall_ms"] = share
    return res


def sql_string(value) -> str:
    """``value`` as a Spark SQL string literal, or ``NULL`` for None.

    Route keywords, folder names and the default route come from the
    user's YAML config and are spliced into SQL text, so every backslash
    and quote is escaped: the literal reads back as exactly ``str(value)``
    (``%``, ``_`` and non-ASCII text included) and nothing in it can end
    the literal. This assumes Spark's default string-literal parsing
    (``spark.sql.parser.escapedStringLiterals=false``); under the legacy
    setting the escapes are kept verbatim, which still cannot end the
    literal."""
    if value is None:
        return "NULL"
    return "'" + str(value).replace("\\", "\\\\").replace("'", "\\'") + "'"


def _filename_route_expr(url_sql: str, targets) -> str:
    """JVM form of ``first_matching_folder(url, targets)`` as SQL text: an
    ordered CASE WHEN chain of substring tests on the lowered url — exact
    parity with the Python kernel because keywords are already lowercased
    (route.normalize_targets) and the match is plain substring."""
    whens = [
        f"WHEN {'true' if kw == '' else f'instr(lower({url_sql}), {sql_string(kw)}) > 0'}"
        f" THEN {sql_string(folder)}"
        for folder, kws in targets
        for kw in kws
    ]
    if not whens:
        return "CAST(NULL AS STRING)"
    return f"CASE {' '.join(whens)} ELSE CAST(NULL AS STRING) END"


def _jvm_reassemble(pages_df: DataFrame, cfg: ExtractConfig) -> DataFrame:
    """Heavy-path document reassembly as pure JVM aggregation. The
    per-page Python stage already produced ``norm_text`` and
    ``route_match``; rebuilding the document is then collect_list +
    array_sort + array_join and an ordered route reduction, all inside
    whole-stage codegen, with no Python stage. The reference is
    ``corpus.oracle_extract``: tests/test_pipeline.py::
    test_jvm_reassembly_parity pins every output row to it.

    Semantics:

    * doc status = the status of the first failure in the light path's
      order — lowest phase rank, then lowest page — via
      ``min(struct(fail_phase, page_no, status))`` over non-ok rows;
    * failed docs collapse to (text='', n_pages=0) and route only through
      the filename fallback / default — page matches are ignored;
    * doc text = page texts joined by newline; doc norm = per-page norms
      joined by space (ascii-ignore distributes over concat and the
      joining newline itself normalizes to a space, so this equals
      ``normalize_page_text(text)`` — the S6 contract);
    * route = first page (by page_no) with a match → its folder, else
      filename fallback (when enabled), else the default;
    * when the page rows carry parsed ``lines`` (``spans.extract_spans``),
      ``spans`` = ``struct(page_no, lines)`` of each page with
      ``page_no < n_pages`` in page order, and ``[]`` for failed docs.

    The expressions are SQL text: each composed ``Column`` costs py4j
    round trips while the plan is built, a SQL string one.
    """
    fields = "page_no, n_pages, page_text, norm_text, route_match"
    with_lines = "lines" in pages_df.columns
    if with_lines:
        fields += ", lines"
    g = pages_df.groupBy("url").agg(
        F.expr(f"array_sort(collect_list(struct({fields}))) AS _p"),
        F.expr("min(CASE WHEN status != 'ok' THEN struct(fail_phase, page_no, status) END) AS _bad"),
        F.expr("min(warc_ts) AS warc_ts"),
        F.expr("min(lang) AS lang"),
        F.expr("min(byte_count) AS byte_count"),
        F.expr("sum(wall_ms) AS wall_ms"),
    )
    ok = "_bad IS NULL"
    route = (
        f"CASE WHEN {ok} THEN get(filter(_p, x -> x.route_match IS NOT NULL), 0).route_match"
        " ELSE CAST(NULL AS STRING) END"
    )
    if cfg.use_filename:
        route = f"coalesce({route}, {_filename_route_expr('url', cfg.targets)})"
    route = f"coalesce({route}, CAST({sql_string(cfg.default_route)} AS STRING))"
    spans = []
    if with_lines:
        spans = [
            f"transform(filter(_p, x -> ({ok}) AND x.page_no < x.n_pages),"
            " x -> struct(x.page_no AS page_no, x.lines AS lines)) AS spans"
        ]
    return g.selectExpr(
        "url",
        "warc_ts",
        "lang",
        f"CASE WHEN {ok} THEN array_join(transform(_p, x -> x.page_text), '\\n', '')"
        " ELSE '' END AS extracted_text",
        f"CASE WHEN {ok} THEN array_join(transform(_p, x -> x.norm_text), ' ', '')"
        " ELSE '' END AS extracted_norm",
        f"{route} AS route",
        f"CAST(CASE WHEN {ok} THEN get(_p, 0).n_pages ELSE 0 END AS INT) AS n_pages",
        f"CASE WHEN {ok} THEN 'ok' ELSE _bad.status END AS status",
        "byte_count",
        "wall_ms",
        *spans,
    )


# ------------------------------------------------------------------ pipeline
def source_filter(corpus_df: DataFrame) -> DataFrame:
    """S3/P5: drop the engine's own outputs before any Python runs
    (ref: pypdfocr/pypdfocr_watcher.py:95-96)."""
    return corpus_df.where(
        " AND ".join(f"NOT endswith(url, {sql_string(suf)})" for suf in EXCLUDED_SUFFIXES)
    )


def _split(corpus_df: DataFrame, cfg: ExtractConfig) -> tuple[DataFrame, DataFrame]:
    """Source filter, then the (light, heavy) size split: one ``where``
    per branch, its condition SQL text."""
    src = source_filter(corpus_df)
    columns = corpus_df.columns
    t = int(cfg.heavy_payload_bytes)
    if "n_bytes" not in columns:
        light, heavy = f"NOT (length(html) > {t})", f"length(html) > {t}"
    else:
        # The n_bytes predicates decide each row's branch, so any threshold
        # and any unpartitioned table give the same rows. A coalesce()
        # wrapper would defeat row-group pushdown, so the bare column is
        # compared and rows with a null n_bytes fall to the light branch
        # (Or(IsNull, LtEq) pushes).
        light, heavy = f"n_bytes IS NULL OR n_bytes <= {t}", f"n_bytes > {t}"
    # On materialize_corpus's layout the size_class partition predicate
    # prunes the other class's files at planning, so each branch lists
    # and packs only its own files. It is added only where the threshold
    # implies it: a light doc under a lower threshold sits in the light
    # partition but belongs to the heavy branch, and vice versa.
    partitioned = "n_bytes" in columns and "size_class" in columns
    if partitioned and t <= HEAVY_PAYLOAD_BYTES:
        light = f"({light}) AND size_class = 'light'"
    if partitioned and t >= HEAVY_PAYLOAD_BYTES:
        heavy = f"({heavy}) AND size_class = 'heavy'"
    light_df, heavy_df = src.where(light), src.where(heavy)
    if partitioned:
        light_df, heavy_df = light_df.drop("size_class"), heavy_df.drop("size_class")
    return light_df, heavy_df


def _salted_pages(heavy: DataFrame, cfg: ExtractConfig) -> DataFrame:
    """Heavy docs → PAGE_SCHEMA rows, hash-spread by (url, page_no)."""
    # After the salt, page rows are uniform-cost (one page each), so the
    # right partition count is the cluster's parallelism — not a multiple:
    # every extra partition is one more Python-worker dispatch, and the
    # r4 sweep measured 4× parallelism costing ~2× the whole stage in
    # tiny-task overhead (32→128 partitions: 1.04s→2.7s on 7.9k pages).
    # Page-count skew is already broken by the per-page salt itself.
    k = heavy.sparkSession.sparkContext.defaultParallelism
    return (
        # Explode IN PLACE at the scan — no pre-spread shuffle. The
        # explode is a byte split (no parse, ~2 ms/doc), so input-file
        # clustering of heavy docs costs microseconds per task, while a
        # pre-repartition would ship every heavy document's RAW payload
        # a second time (the salt exchange right after this ships the
        # same bytes page-split — once is enough).
        heavy.mapInPandas(lambda it: (_explode_rows(pdf, cfg) for pdf in it), PAGE_SCHEMA)
        .repartition(k, F.expr("xxhash64(url, page_no)"))
    )


# The physical operators (before AQE) under which a plan whose every file
# scan lists no file yields no row: none of them makes a row from nothing.
_EMPTY_PROOF_NODES = frozenset(
    "org.apache.spark.sql.execution." + n for n in ("FileSourceScanExec", "FilterExec", "ProjectExec")
)
_FILE_SCAN = "org.apache.spark.sql.execution.FileSourceScanExec"


def _provably_empty(df: DataFrame) -> bool:
    """True only when ``df`` provably has no rows, read from its physical
    plan before AQE (``sparkPlan``): every node is a file scan, a filter
    or a projection, and every scan is a path read whose pruned listing
    holds no file, so the scan reads no row. Anything else (a
    join, an aggregate, an in-memory, local or RDD leaf, a streaming
    frame, a catalog table, whose listing may change before the plan
    runs) is not a proof. Runs no Spark job and generates no code: the
    listing is the one the reader already made, pruned in memory."""
    if df._jdf.isStreaming():
        return False
    nodes, scans = [df._jdf.queryExecution().sparkPlan()], []
    while nodes:
        node = nodes.pop()
        name = node.getClass().getName()
        if name not in _EMPTY_PROOF_NODES:
            return False
        if name == _FILE_SCAN:
            scans.append(node)
        children = node.children()
        nodes.extend(children.apply(i) for i in range(children.size()))
    # checked only once every node is known: a scan under a join could
    # carry a dynamic-pruning filter whose evaluation runs a job
    return all(
        s.tableIdentifier().isEmpty() and s.selectedPartitions().totalNumberOfFiles() == 0
        for s in scans
    )


def _extract_plan(
    corpus_df: DataFrame,
    cfg: ExtractConfig,
    light_rows, light_schema,
    page_rows, page_schema,
) -> DataFrame:
    """The one extraction plan (module doc): ``light_rows`` maps light
    docs to ``light_schema`` rows; ``page_rows`` maps salted page rows to
    ``page_schema`` (PAGE_TEXT_SCHEMA, optionally plus ``lines``), which
    ``_jvm_reassemble`` folds back into documents."""
    light, heavy = _split(corpus_df, cfg)
    light_out = light.mapInPandas(lambda it: (light_rows(pdf, cfg) for pdf in it), light_schema)
    if _provably_empty(heavy):
        return light_out
    heavy_out = _salted_pages(heavy, cfg).mapInPandas(
        lambda it: (page_rows(pdf, cfg) for pdf in it), page_schema
    )
    return light_out.unionByName(_jvm_reassemble(heavy_out, cfg))


def extract(corpus_df: DataFrame, cfg: ExtractConfig | None = None) -> DataFrame:
    """Full extraction: corpus rows → EXTRACTED_SCHEMA rows (module doc)."""
    cfg = cfg or ExtractConfig()
    # resolve ONCE on the driver so executors never probe PATH; the
    # resolved value ships inside the broadcast config closure. Always
    # routed through resolve_ocr_strategy so a typo'd strategy string
    # raises here instead of silently running the builtin codec.
    from dataclasses import replace

    from . import envcheck

    cfg = replace(cfg, ocr_strategy=envcheck.resolve_ocr_strategy(cfg.ocr_strategy))
    return _extract_plan(
        corpus_df, cfg, _extract_rows, EXTRACTED_SCHEMA, _page_text_rows, PAGE_TEXT_SCHEMA
    )


# The file layout materialize_corpus writes, stamped into the corpus
# directory as ``_LAYOUT`` once the write is done (Spark and pyarrow skip
# ``_``-prefixed files). A cached corpus is reused only under this stamp;
# bump it whenever the layout or the corpus bytes change.
CORPUS_LAYOUT = "size-class-partition-v2"
# The layout the benchmark scripts write for a replicated corpus
# (``build_corpus_df(replicate=k)``): one repartition(192) sorted by
# n_bytes, light and heavy rows mixed.
REPLICATED_LAYOUT = "replicated-repartition192-v1"


def corpus_layout(path: str) -> str | None:
    """The ``_LAYOUT`` stamp of a materialized corpus, or None without one."""
    try:
        with open(os.path.join(path, "_LAYOUT")) as f:
            return f.read().strip()
    except OSError:
        return None


def stamp_corpus_layout(path: str, layout: str) -> None:
    with open(os.path.join(path, "_LAYOUT"), "w") as f:
        f.write(layout + "\n")


def materialize_corpus(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    """Write the derived corpus as a parquet table and return a reader.

    In production the Common-Crawl corpus IS a table (Iceberg) — the
    pipeline scans it, it is not generated mid-query. Materializing makes
    the sandbox match that shape and keeps the light/heavy branch split
    from re-running the (expensive) payload construction: each branch
    re-scans parquet instead.

    Layout (guide §6 "partitioning and sort order on write determine how
    well readers can skip data"): one write, partitioned by a
    ``size_class`` column (``size_class=light`` / ``size_class=heavy``
    directories, split at ``HEAVY_PAYLOAD_BYTES``). ``_split`` turns each
    branch's size test into a partition filter that is pruned at
    planning, so each branch lists and packs only its own files: the
    light files are not packed together with heavy ones into fewer tasks,
    and on a corpus with no heavy rows the heavy branch has no files to
    scan. Each class gets one file per core (``par`` = defaultParallelism)
    sorted by n_bytes: heavy rows are few but fat (at sf1.0, 1% of docs
    carry ~60% of bytes), and the heavy branch's page explode
    parallelizes at file granularity. At warehouse scale the equivalent
    knob is the table's target file size, not a file count. Iceberg
    mapping: a size-class partition / z-order at ingest.
    """
    par = spark.sparkContext.defaultParallelism
    size_class = F.when(F.col("n_bytes") > HEAVY_PAYLOAD_BYTES, "heavy").otherwise("light")
    (
        build_corpus_df(spark, sf_dir)
        .withColumn("size_class", size_class)
        .repartition(par)
        .sortWithinPartitions("size_class", "n_bytes")
        .write.mode("overwrite")
        .partitionBy("size_class")
        .parquet(path)
    )
    stamp_corpus_layout(path, CORPUS_LAYOUT)
    return _read_corpus(spark, path)


def _read_corpus(spark: SparkSession, path: str) -> DataFrame:
    # the schema is given, not inferred: a corpus with no rows has no
    # files to infer it from
    schema = StructType(CORPUS_SCHEMA.fields + [StructField("size_class", StringType())])
    return spark.read.schema(schema).parquet(path)


def cached_corpus(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    """The corpus materialized at ``path``, reused only when it carries the
    current ``CORPUS_LAYOUT`` stamp and rebuilt otherwise (the overwrite in
    :func:`materialize_corpus` wipes the stale files)."""
    if corpus_layout(path) == CORPUS_LAYOUT:
        return _read_corpus(spark, path)
    return materialize_corpus(spark, sf_dir, path)


def extract_from_documents(
    spark: SparkSession,
    sf_dir: str,
    cfg: ExtractConfig | None = None,
    corpus_path: str | None = None,
) -> DataFrame:
    """Convenience: driver documents table → corpus → extraction.

    With ``corpus_path`` the corpus is materialized (or reused if it
    carries the current ``CORPUS_LAYOUT`` stamp) and extraction scans it
    like the production table.
    """
    if corpus_path is None:
        return extract(build_corpus_df(spark, sf_dir), cfg)
    return extract(cached_corpus(spark, sf_dir, corpus_path), cfg)
