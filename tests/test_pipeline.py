"""Spark pipeline integration tests: byte-identity vs the pure-Python
oracle, skew path equivalence, lineage accounting, resume semantics.

This is the rebuild analog of the reference's end-to-end golden tests
(test/test_pypdfocr.py:51-83): run the real pipeline over a corpus,
assert the extracted text — here byte-identical per url, which is
strictly stronger than the reference's keyword-tolerant check.
"""

import glob
import os
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pypdfocr_spark import corpus as ck
from pypdfocr_spark import lineage, pipeline, spans
from pypdfocr_spark.config import DEFAULT_ROUTE, DEFAULT_TARGETS, ExtractConfig

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def corpus_rows():
    tbl = pq.read_table(f"{SF_SMOKE}/documents.parquet").to_pylist()
    return [
        ck.build_corpus_row(r["doc_id"], r["text"], r["lang"], r["source"]) for r in tbl
    ]


@pytest.fixture(scope="module")
def oracle_rows(corpus_rows):
    return ck.oracle_extract(corpus_rows, DEFAULT_TARGETS, DEFAULT_ROUTE)


@pytest.fixture(scope="module")
def extracted(spark):
    df = pipeline.extract_from_documents(spark, SF_SMOKE, ExtractConfig())
    return {r["url"]: r.asDict() for r in df.collect()}


def test_byte_identity_per_url(oracle_rows, extracted):
    """Every url's extracted_text is byte-identical to the single-machine
    oracle — including the heavy docs that took the exploded page path."""
    assert len(extracted) == len(oracle_rows)
    for o in oracle_rows:
        s = extracted[o["url"]]
        assert s["extracted_text"] == o["extracted_text"], o["url"]
        assert s["extracted_norm"] == o["extracted_norm"], o["url"]
        assert s["route"] == o["route"], o["url"]
        assert s["n_pages"] == o["n_pages"], o["url"]
        assert s["status"] == o["status"], o["url"]


def test_heavy_docs_took_page_path(oracle_rows, extracted):
    heavy = [o for o in oracle_rows if o["n_pages"] > 50]
    assert heavy, "corpus must contain a skew tail"
    for o in heavy:
        assert extracted[o["url"]]["extracted_text"] == o["extracted_text"]


def test_source_filter_excludes_own_outputs(spark):
    df = pipeline.build_corpus_df(spark, SF_SMOKE)
    total = df.count()
    kept = pipeline.source_filter(df).count()
    assert total == 500 and kept == 400  # 20% _ocr.pdf/_test.pdf


def test_lineage_accounts_every_doc(spark, tmp_path):
    cfg = ExtractConfig()
    out = pipeline.extract_from_documents(spark, SF_SMOKE, cfg)
    stats = lineage.commit(out, str(tmp_path), run_id="r1")
    assert stats["run_id"] == "r1"
    # one append per commit: lineage is a view, not a second table
    assert not (tmp_path / "lineage").exists()
    lin = lineage.lineage_table(spark, str(tmp_path))
    agg = lin.agg(F.sum("doc_count").alias("n"), F.sum("byte_count").alias("b")).first()
    assert agg["n"] == 400
    assert agg["b"] > 0
    assert lin.where(F.col("run_id") != "r1").count() == 0


def test_resume_skips_committed(spark, tmp_path):
    cfg = ExtractConfig()
    corpus_df = pipeline.source_filter(pipeline.build_corpus_df(spark, SF_SMOKE))
    # commit the first half (by url hash), then resume over the full input
    first_half = corpus_df.where(F.xxhash64("url") % 2 == 0)
    lineage.commit(pipeline.extract(first_half, cfg), str(tmp_path), run_id="half")
    remaining = lineage.resume_filter(corpus_df, str(tmp_path))
    committed_n = first_half.count()
    assert remaining.count() == 400 - committed_n
    # nothing already committed reappears
    done = {r["url"] for r in spark.read.parquet(f"{tmp_path}/extracted").select("url").collect()}
    todo = {r["url"] for r in remaining.select("url").collect()}
    assert not (done & todo)
    # the anti-join's committed side is not de-duplicated first: a
    # left-anti join does not need it
    plan = remaining._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate(keys=[url#" not in plan, plan

    # commit the remainder: its plan scans the extracted table through the
    # anti-join, and its lineage must still count every row it appended
    lineage.commit(pipeline.extract(remaining, cfg), str(tmp_path), run_id="rest")
    appended = {
        r["run_id"]: r["n"]
        for r in lineage.lineage_table(spark, str(tmp_path))
        .groupBy("run_id").agg(F.sum("doc_count").alias("n")).collect()
    }
    assert appended == {"half": committed_n, "rest": 400 - committed_n}
    assert spark.read.parquet(f"{tmp_path}/extracted").count() == 400


def test_commit_empty_writes_no_lineage_rows(spark, tmp_path):
    from pypdfocr_spark.schema import EXTRACTED_SCHEMA

    empty = spark.createDataFrame([], EXTRACTED_SCHEMA)
    stats = lineage.commit(empty, str(tmp_path), run_id="empty")
    assert stats["run_id"] == "empty"
    assert spark.read.parquet(f"{tmp_path}/extracted").count() == 0
    assert lineage.lineage_table(spark, str(tmp_path)).count() == 0


def test_commit_lineage_partition_is_write_partition(spark, tmp_path):
    """Lineage partition ids (read from the written files' names) are
    the spark_partition_id() of the rows the commit wrote."""
    rows = [(f"u{i}", "ok" if i % 5 else "error:X", 10 * i) for i in range(60)]
    df = spark.createDataFrame(rows, "url string, status string, byte_count long")
    df = df.repartition(3, "url")
    expected = {
        (r["p"], r["n"], r["b"])
        for r in df.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n"), F.sum("byte_count").alias("b")).collect()
    }
    lineage.commit(df, str(tmp_path), run_id="p")
    lin = lineage.lineage_table(spark, str(tmp_path)).collect()
    assert {(r["partition_id"], r["doc_count"], r["byte_count"]) for r in lin} == expected
    assert sorted(u for r in lin for u in r["failures"]) == sorted(
        u for u, st, _ in rows if st != "ok"
    )


def test_resume_noop_without_snapshot(spark, tmp_path):
    corpus_df = pipeline.source_filter(pipeline.build_corpus_df(spark, SF_SMOKE))
    assert lineage.resume_filter(corpus_df, str(tmp_path / "nope")).count() == 400
    assert lineage.lineage_table(spark, str(tmp_path / "nope")).count() == 0


def test_resume_filter_plans_without_a_job(spark, tmp_path):
    """The resume anti-join and the lineage view read the committed table
    with its columns given, so building either plan runs no Spark job (an
    inferred parquet schema costs one per read, on every resume pass and
    every streaming micro-batch)."""
    from pypdfocr_spark.schema import EXTRACTED_SCHEMA

    corpus_df = pipeline.source_filter(pipeline.build_corpus_df(spark, SF_SMOKE))
    urls = [r["url"] for r in corpus_df.select("url").orderBy("url").limit(5).collect()]
    committed = spark.createDataFrame(
        [(u, None, None, "", "", "default", 0, "ok", 1, 0.0) for u in urls], EXTRACTED_SCHEMA
    )
    lineage.commit(committed, str(tmp_path), run_id="c")

    sc = spark.sparkContext
    sc.setJobGroup("resume-plan", "build the resume and lineage plans")
    try:
        remaining = lineage.resume_filter(corpus_df, str(tmp_path))
        lin = lineage.lineage_table(spark, str(tmp_path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("resume-plan") == []
    assert remaining.count() == 400 - len(urls)
    assert lin.agg(F.sum("doc_count")).first()[0] == len(urls)


def test_extract_rows_error_rows_do_not_leak(monkeypatch):
    """A row whose kernel raises becomes an error row with empty text and
    norm, whether it is the first row of the batch or follows an ok row
    (whose norm must not carry over)."""
    import datetime

    import pandas as pd

    real = pipeline._doc_kernel

    def kernel(payload, cfg):
        if payload.startswith(b"boom"):
            raise ValueError("boom")
        return real(payload, cfg)

    monkeypatch.setattr(pipeline, "_doc_kernel", kernel)
    ts = datetime.datetime(2024, 1, 1)
    ok = b"<html><body><p>spark window text</p></body></html>"
    payloads = [b"boom-first", ok, b"boom-later", ok]
    pdf = pd.DataFrame({
        "url": [f"https://a.example/{i}.html" for i in range(4)],
        "warc_ts": [ts] * 4, "html": payloads, "lang": ["en"] * 4,
    })
    out = pipeline._extract_rows(pdf, ExtractConfig())
    assert len(out) == 4
    for i in (0, 2):
        assert out["status"][i] == "error:ValueError"
        assert out["extracted_text"][i] == ""
        assert out["extracted_norm"][i] == ""
        assert out["n_pages"][i] == 0
    for i in (1, 3):
        assert out["status"][i] == "ok"
        assert "spark window" in out["extracted_norm"][i]


@pytest.mark.parametrize("extract_fn", [pipeline.extract, spans.extract_spans],
                         ids=["extract", "extract_spans"])
def test_jvm_reassembly_parity(spark, corpus_rows, oracle_rows, extract_fn):
    """Both extractions run the one plan, so both must be row-identical to
    ``corpus.oracle_extract`` — over the real corpus (heavy tail
    included) AND the heavy failure fixtures (decode_error, unsupported,
    mixed-page statuses, heavy HTML), on all six oracle columns.
    ``extract_spans``'s ``spans`` column must equal
    ``corpus.extract_doc_spans`` page by page for ok docs, and be empty
    for failed ones, on both paths."""
    import datetime

    from pypdfocr_spark.kernels import codec
    from pypdfocr_spark.schema import CORPUS_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    pad = 300_000
    good_page = {"dpi": 300, "w_px": 2550, "h_px": 3300,
                 "words": [{"t": "spark window", "b": [10, 10, 80, 40], "l": 0}]}
    plain_page = {"dpi": 300, "w_px": 2550, "h_px": 3300,
                  "words": [{"t": "nothing-here", "b": [10, 10, 80, 40], "l": 0}]}
    fixtures = [
        ("https://a.example/corrupt.pdf", ts,
         codec.MAGIC + b'{"dpi":300,"words":[]}\n{garbage' + b"x" * pad, "", "en"),
        ("https://a.example/blob.bin", ts, b"\x00\x01" + b"y" * pad, "", "en"),
        # huge HTML → ok via boilerplate strip
        ("https://a.example/big.html", ts,
         b"<html><body><p>" + b"word " * (pad // 5) + b"</p></body></html>", "", "en"),
        # routed via a page match on a late page (page-order reduction)
        ("https://a.example/late-route.pdf", ts,
         codec.encode_doc([plain_page] * 200 + [good_page]), "", "en"),
        # no page match → filename fallback ('table' ∈ targets['storage'])
        ("https://a.example/table-report.pdf", ts,
         codec.encode_doc([plain_page] * 200), "", "en"),
    ]
    fixture_df = spark.createDataFrame(
        [(u, t, p, x, l, len(p)) for (u, t, p, x, l) in fixtures], CORPUS_SCHEMA
    )
    corpus_df = pipeline.build_corpus_df(spark, SF_SMOKE).unionByName(fixture_df)
    cfg = ExtractConfig()
    cols = ["url", "extracted_text", "extracted_norm", "route", "n_pages", "status"]
    want = oracle_rows + ck.oracle_extract(
        [{"url": u, "html": p} for (u, _, p, _, _) in fixtures],
        cfg.targets, cfg.default_route,
    )
    out = extract_fn(corpus_df, cfg).collect()
    got = sorted(tuple(r[c] for c in cols) for r in out)
    assert got == sorted(tuple(o[c] for c in cols) for o in want)
    assert len(got) == len(oracle_rows) + len(fixtures)
    by_url = {r[0]: r for r in got}
    assert by_url["https://a.example/late-route.pdf"][cols.index("route")] == "spark_docs"
    assert by_url["https://a.example/table-report.pdf"][cols.index("route")] == "storage"
    if extract_fn is spans.extract_spans:
        payloads = {r["url"]: r["html"] for r in corpus_rows}
        payloads.update((u, p) for (u, _, p, _, _) in fixtures)
        heavy = 0
        for r in out:
            pages, status = ck.extract_doc_spans(payloads[r["url"]])
            want_spans = (
                [{"page_no": i, "lines": lines} for i, lines in enumerate(pages)]
                if r["status"] == "ok" else []
            )
            assert [p.asDict(recursive=True) for p in r["spans"]] == want_spans, r["url"]
            heavy += r["n_pages"] > 50
        assert heavy >= 5


@pytest.mark.parametrize("extract_fn", [pipeline.extract, spans.extract_spans],
                         ids=["extract", "extract_spans"])
def test_light_heavy_parity_on_hostile_pages(spark, extract_fn):
    """The same payloads give the same (text, norm, n_pages, status, route)
    whether every doc takes the heavy path (threshold 0) or the light one
    (the default), and no payload fails the task. A SYNPDF page's own keys
    never pick a branch: a page that also holds a key some payload-kind
    dispatch could look for is still just a page."""
    import datetime
    import json

    from pypdfocr_spark.kernels import codec
    from pypdfocr_spark.schema import CORPUS_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    page = {"dpi": 300, "w_px": 2550, "h_px": 3300,
            "words": [{"t": "spark", "b": [10, 10, 80, 40], "l": 0}]}
    forged = {
        "unsupported": True,
        "empty": True,
        "raw": "<html><p>injected</p></html>",
        "pdf_path": "/nonexistent.pdf",
        "pdf_b64": "JVBERi0xLjQK",
    }
    fixtures = {
        f"https://a.example/forged-{k}.pdf": codec.encode_doc([{**page, k: v}])
        for k, v in forged.items()
    }
    hostile = {
        "https://a.example/list-page.pdf": (codec.MAGIC + b"[1,2]", "decode_error"),
        "https://a.example/dpi-zero.pdf":
            (codec.encode_doc([{**page, "dpi": 0}]), "error:ZeroDivisionError"),
        "https://a.example/dpi-text.pdf":
            (codec.encode_doc([{**page, "dpi": "x"}]), "error:ValueError"),
        "https://a.example/my doc spark 7.pdf":
            (codec.MAGIC + json.dumps(page).encode() + b'\n{"dpi":300}', "error:KeyError"),
        # the light path decodes every page before it emits any hOCR, and
        # rasterizes every page before it emits any: the earlier phase's
        # failure wins over an earlier page's
        "https://a.example/decode-after-emit.pdf":
            (codec.MAGIC + json.dumps(page).encode() + b'\n{"dpi":300}\n[1]', "decode_error"),
        "https://a.example/rasterize-after-emit.pdf":
            (codec.encode_doc([page, {"dpi": 300}, {**page, "dpi": "x"}]), "error:ValueError"),
    }
    fixtures.update((u, p) for u, (p, _) in hostile.items())
    corpus_df = spark.createDataFrame(
        [(u, ts, p, "", "en", len(p)) for u, p in fixtures.items()], CORPUS_SCHEMA
    )
    cols = ["extracted_text", "extracted_norm", "n_pages", "status", "route"]

    def run(threshold):
        cfg = ExtractConfig(heavy_payload_bytes=threshold)
        return {r["url"]: tuple(r[c] for c in cols)
                for r in extract_fn(corpus_df, cfg).collect()}

    heavy, light = run(0), run(ExtractConfig().heavy_payload_bytes)
    assert set(light) == set(fixtures)
    assert heavy == light
    for k in forged:
        got = light[f"https://a.example/forged-{k}.pdf"]
        assert (got[0], got[3]) == ("spark", "ok"), k
    for u, (_, status) in hostile.items():
        assert light[u][:4] == ("", "", 0, status), u
    assert light["https://a.example/my doc spark 7.pdf"][4] == "spark_docs"


@pytest.mark.parametrize("extract_fn", [pipeline.extract, spans.extract_spans],
                         ids=["extract", "extract_spans"])
def test_extraction_plan_shape(spark, tmp_path, extract_fn):
    """Python stages and exchanges per plan are tracked figures: both
    extractions run the one plan — three mapInPandas stages (light,
    explode, page), no grouped Python stage, and two exchanges (the salt
    and the JVM reassembly's groupBy)."""
    import re

    pipeline.build_corpus_df(spark, SF_SMOKE).write.parquet(str(tmp_path / "c"))
    corpus = spark.read.parquet(str(tmp_path / "c"))
    plan = extract_fn(corpus, ExtractConfig())._jdf.queryExecution().executedPlan().toString()

    def nodes(name):
        return len(re.findall(rf"^[\s:+-]*{name}\b", plan, re.M))

    assert (nodes("MapInPandas"), nodes("FlatMapGroupsInPandas"), nodes("Exchange")) == (
        3, 0, 2
    ), plan


def test_heavy_path_failures_reach_status_and_lineage(spark, tmp_path):
    """A failing HEAVY document must surface a non-ok status (and thus a
    lineage failure), not be silently committed as ok — per-page statuses
    ride the salted shuffle and reassemble to the first non-ok status."""
    import datetime

    from pypdfocr_spark.kernels import codec
    from pypdfocr_spark.schema import CORPUS_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    pad = 300_000  # > heavy_payload_bytes → heavy branch
    good_page = {"dpi": 300, "w_px": 2550, "h_px": 3300,
                 "words": [{"t": "hello", "b": [10, 10, 80, 40], "l": 0}]}
    rows = [
        # corrupt SYNPDF: valid magic, garbage page JSON on page 2
        ("https://a.example/corrupt.pdf", ts,
         codec.MAGIC + b'{"dpi":300,"words":[]}\n{garbage' + b"x" * pad, "", "en"),
        # non-HTML garbage payload → unsupported
        ("https://a.example/blob.bin", ts, b"\x00\x01" + b"y" * pad, "", "en"),
        # huge HTML → ok via boilerplate strip
        ("https://a.example/big.html", ts,
         b"<html><body><p>" + b"word " * (pad // 5) + b"</p></body></html>", "", "en"),
        # valid multi-page SYNPDF padded heavy via many pages
        ("https://a.example/good.pdf", ts,
         codec.encode_doc([good_page] * 400), "", "en"),
    ]
    corpus_df = spark.createDataFrame(
        [(u, t, p, x, l, len(p)) for (u, t, p, x, l) in rows], CORPUS_SCHEMA
    )
    out = {r["url"]: r.asDict() for r in pipeline.extract(corpus_df, ExtractConfig()).collect()}
    assert out["https://a.example/corrupt.pdf"]["status"] == "decode_error"
    assert out["https://a.example/corrupt.pdf"]["extracted_text"] == ""
    assert out["https://a.example/corrupt.pdf"]["n_pages"] == 0
    assert out["https://a.example/blob.bin"]["status"] == "unsupported"
    assert out["https://a.example/big.html"]["status"] == "ok"
    assert "word" in out["https://a.example/big.html"]["extracted_text"]
    assert out["https://a.example/good.pdf"]["status"] == "ok"
    assert out["https://a.example/good.pdf"]["n_pages"] == 400

    lineage.commit(pipeline.extract(corpus_df, ExtractConfig()), str(tmp_path), run_id="t")
    lin = lineage.lineage_table(spark, str(tmp_path)).collect()
    assert sum(r["doc_count"] for r in lin) == 4
    failed = {u for r in lin for u in r["failures"]}
    assert "https://a.example/corrupt.pdf" in failed
    assert "https://a.example/blob.bin" in failed
    assert "https://a.example/good.pdf" not in failed


def test_materialize_corpus_size_class_file_layout(spark, tmp_path):
    """The corpus is partitioned by size class: light rows under
    ``size_class=light`` and heavy rows under ``size_class=heavy``, with
    every row group's n_bytes range on its own directory's side of the
    threshold, and the reader returns exactly the same url set as the
    direct corpus build."""
    from pypdfocr_spark.config import HEAVY_PAYLOAD_BYTES

    path = str(tmp_path / "corpus")
    out = pipeline.materialize_corpus(spark, SF_SMOKE, path)
    direct = pipeline.build_corpus_df(spark, SF_SMOKE)
    assert sorted(r["url"] for r in out.select("url").collect()) == sorted(
        r["url"] for r in direct.select("url").collect()
    )
    files = glob.glob(path + "/size_class=*/*.parquet")
    assert files
    classes = {os.path.basename(os.path.dirname(f)) for f in files}
    assert classes == {"size_class=light", "size_class=heavy"}
    misplaced = []
    for f in files:
        heavy = os.path.basename(os.path.dirname(f)) == "size_class=heavy"
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for i in range(g.num_columns):
                c = g.column(i)
                if c.path_in_schema == "n_bytes":
                    lo, hi = c.statistics.min, c.statistics.max
                    if (lo <= HEAVY_PAYLOAD_BYTES) if heavy else (hi > HEAVY_PAYLOAD_BYTES):
                        misplaced.append((f, lo, hi))
    assert misplaced == [], f"row groups on the wrong side of the threshold: {misplaced}"


def test_materialize_empty_corpus_reads_back_empty(spark, tmp_path):
    """A corpus with no rows writes no partition directories, and still
    reads back (and extracts) as an empty table of the corpus schema."""
    os.makedirs(tmp_path / "sf")
    docs = pq.read_table(f"{SF_SMOKE}/documents.parquet").slice(0, 0)
    pq.write_table(docs, str(tmp_path / "sf" / "documents.parquet"))
    corpus_df = pipeline.materialize_corpus(spark, str(tmp_path / "sf"), str(tmp_path / "c"))
    assert corpus_df.count() == 0
    assert pipeline.extract(corpus_df, ExtractConfig()).count() == 0


@pytest.mark.parametrize("extract_fn", [pipeline.extract, spans.extract_spans],
                         ids=["extract", "extract_spans"])
def test_partitioned_corpus_keeps_threshold_rule(spark, tmp_path, extract_fn):
    """On the size-class partitioned corpus, every heavy_payload_bytes
    gives the same rows: 0 (all docs heavy, so the light partition's docs
    must reach the heavy branch), the default, and one above every
    payload (all docs light, so the heavy partition's docs must reach the
    light branch)."""
    corpus_df = pipeline.materialize_corpus(spark, SF_SMOKE, str(tmp_path / "corpus"))
    above_all = corpus_df.agg(F.max("n_bytes")).first()[0] + 1
    cols = ["extracted_text", "extracted_norm", "n_pages", "status", "route"]
    if extract_fn is spans.extract_spans:
        cols.append("spans")

    def run(threshold):
        out = extract_fn(corpus_df, ExtractConfig(heavy_payload_bytes=threshold)).collect()
        assert len(out) == 400
        return {r["url"]: tuple(r[c] for c in cols) for r in out}

    default = run(ExtractConfig().heavy_payload_bytes)
    assert run(0) == default
    assert run(above_all) == default


@pytest.fixture(scope="module")
def light_only_corpus(spark, tmp_path_factory):
    """sf0.001 without its heavy rows, materialized: a size-class corpus
    with no ``size_class=heavy`` partition. Returns its path."""
    from pypdfocr_spark.config import HEAVY_PAYLOAD_BYTES

    docs = pq.read_table(f"{SF_SMOKE}/documents.parquet")
    light = [
        len(ck.build_corpus_row(d, t, l, s)["html"]) <= HEAVY_PAYLOAD_BYTES
        for d, t, l, s in zip(*(docs.column(c).to_pylist()
                                for c in ("doc_id", "text", "lang", "source")))
    ]
    assert not all(light)
    root = tmp_path_factory.mktemp("light_only")
    os.makedirs(root / "sf")
    pq.write_table(docs.filter(light), str(root / "sf" / "documents.parquet"))
    path = str(root / "corpus")
    pipeline.materialize_corpus(spark, str(root / "sf"), path)
    return path


@pytest.fixture(scope="module")
def mixed_corpus(spark, tmp_path_factory):
    """sf0.001 materialized: light rows and the heavy tail. Returns its path."""
    path = str(tmp_path_factory.mktemp("mixed") / "corpus")
    pipeline.materialize_corpus(spark, SF_SMOKE, path)
    return path


def test_light_only_corpus_runs_no_explode_and_fills_every_core(spark, light_only_corpus):
    """On a corpus with no heavy rows the heavy branch scans no files, so
    the plan proves it empty and leaves it out: an extract pass runs one
    job, the light stage, which reads one light file per task — not the
    light files packed two per task together with the heavy branch's
    files, and no page stage over an empty salt shuffle."""
    path = light_only_corpus
    corpus_df = spark.read.parquet(path)

    sc = spark.sparkContext
    sc.setJobGroup("light-only-placement", "one extract pass")
    try:
        pipeline.extract(corpus_df, ExtractConfig()).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup("light-only-placement"))
    # the status store is fed by the listener bus, which may lag the job
    deadline = time.monotonic() + 30
    while any(tracker.getJobInfo(j).status != "SUCCEEDED" for j in jobs):
        assert time.monotonic() < deadline, [tracker.getJobInfo(j) for j in jobs]
        time.sleep(0.05)
    ran = []
    for job in jobs:
        for stage in sorted(tracker.getJobInfo(job).stageIds):
            info = tracker.getStageInfo(stage)
            if info is not None and info.numCompletedTasks > 0:
                ran.append(info.numTasks)
    # the light stage alone, with one task per light file
    par = sc.defaultParallelism
    assert ran == [par], ran
    assert not os.path.exists(os.path.join(path, "size_class=heavy"))
    light_files = glob.glob(os.path.join(path, "size_class=light", "*.parquet"))
    assert len(light_files) == par


def _map_in_pandas_nodes(df) -> int:
    return df._jdf.queryExecution().logical().toString().count("MapInPandas")


@pytest.mark.parametrize("extract_fn", [pipeline.extract, spans.extract_spans],
                         ids=["extract", "extract_spans"])
@pytest.mark.parametrize("case", ["light_only", "size_class_with_heavy", "union_in_memory",
                                  "threshold_below_partition_split", "resume_anti_join"])
def test_heavy_branch_left_out_only_when_provably_empty(
    spark, tmp_path, corpus_rows, oracle_rows, light_only_corpus, mixed_corpus, case, extract_fn
):
    """The heavy branch is left out only on a light-only materialized
    corpus. Wherever heavy rows can reach it — a size-class corpus with
    heavy rows, a light-only corpus unioned with in-memory heavy rows, a
    threshold below the partition split (light-partition rows belong to
    the heavy branch), a resume anti-join over a mixed corpus — it runs,
    and every case's rows equal ``corpus.oracle_extract``. The output
    schema, nullability included, is the light kernel's in every case,
    so a commit appends the same schema whether the branch ran or not."""
    from pyspark.sql.types import StringType, StructField, StructType

    from pypdfocr_spark.config import HEAVY_PAYLOAD_BYTES
    from pypdfocr_spark.schema import CORPUS_SCHEMA, EXTRACTED_SCHEMA

    cols = ["extracted_text", "extracted_norm", "route", "n_pages", "status"]
    oracle = {o["url"]: tuple(o[c] for c in cols) for o in oracle_rows}
    light_only = spark.read.parquet(light_only_corpus)
    mixed = spark.read.parquet(mixed_corpus)
    cfg = ExtractConfig()
    if case == "light_only":
        corpus_df = light_only
    elif case == "size_class_with_heavy":
        corpus_df = mixed
    elif case == "union_in_memory":
        heavy_rows = [
            (r["url"], r["warc_ts"], r["html"], r["text"], r["lang"], len(r["html"]), "heavy")
            for r in corpus_rows if len(r["html"]) > HEAVY_PAYLOAD_BYTES
        ]
        assert heavy_rows
        schema = StructType(CORPUS_SCHEMA.fields + [StructField("size_class", StringType())])
        corpus_df = light_only.unionByName(spark.createDataFrame(heavy_rows, schema))
    elif case == "threshold_below_partition_split":
        sizes = sorted(r["n_bytes"] for r in light_only.select("n_bytes").collect())
        cfg = ExtractConfig(heavy_payload_bytes=sizes[len(sizes) // 2])
        corpus_df = light_only
    else:
        out_dir = str(tmp_path / "out")
        lineage.commit(
            pipeline.extract(mixed.where("size_class = 'light' AND xxhash64(url) % 2 = 0"), cfg),
            out_dir,
        )
        corpus_df = lineage.resume_filter(mixed, out_dir)
    urls = [r["url"] for r in corpus_df.select("url").collect()]
    want = {u: oracle[u] for u in urls if not u.endswith(ck.EXCLUDED_SUFFIXES)}

    out_df = extract_fn(corpus_df, cfg)
    assert _map_in_pandas_nodes(out_df) == (1 if case == "light_only" else 3)
    light_schema = (
        spans.EXTRACTED_SPANS_SCHEMA if extract_fn is spans.extract_spans else EXTRACTED_SCHEMA
    )
    assert out_df.schema.json() == light_schema.json()
    out = out_df.collect()
    got = {r["url"]: tuple(r[c] for c in cols) for r in out}
    assert len(got) == len(out)
    assert got == want
    # every case but the light-only one hands the heavy branch rows
    assert (pipeline._split(corpus_df, cfg)[1].count() == 0) == (case == "light_only")


def test_empty_proof_runs_no_job_and_compiles_no_code(spark, light_only_corpus):
    """The emptiness proof reads the plan and the reader's file listing
    only: no Spark job, no generated code. A frame whose emptiness shows
    only by running it (an in-memory leaf) is no proof."""
    from pypdfocr_spark.config import HEAVY_PAYLOAD_BYTES

    sc = spark.sparkContext
    # a threshold no other test plans, so code generated for this filter
    # would be compiled here, not found in the codegen cache
    cfg = ExtractConfig(heavy_payload_bytes=HEAVY_PAYLOAD_BYTES + 7919)
    _, heavy = pipeline._split(spark.read.parquet(light_only_corpus), cfg)
    compiled = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    before = compiled.getCount()
    sc.setJobGroup("empty-proof", "the heavy branch's emptiness proof")
    try:
        assert pipeline._provably_empty(heavy)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("empty-proof") == []
    assert compiled.getCount() == before
    assert not pipeline._provably_empty(heavy.limit(1))
    cached = spark.read.parquet(light_only_corpus).cache()
    try:
        assert not pipeline._provably_empty(pipeline._split(cached, cfg)[1])
    finally:
        cached.unpersist()


def _py4j_commands(spark, monkeypatch, build) -> int:
    """py4j commands this thread sends while ``build()`` runs, leaving out
    py4j's object-release messages (``m``/``d``)."""
    import threading

    client = spark.sparkContext._gateway._gateway_client
    send, me, sent = client.send_command, threading.get_ident(), []

    def counting(command, *args, **kwargs):
        if threading.get_ident() == me and not command.startswith("m\nd\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    try:
        build()
    finally:
        monkeypatch.undo()
    return len(sent)


def test_extract_plan_build_py4j_budget(spark, monkeypatch, light_only_corpus, mixed_corpus):
    """Building an extract plan costs a bounded number of py4j round trips:
    the plan is built from SQL strings (226 commands on a mixed corpus,
    76 on a light-only one, where the heavy branch is left out; composed
    Columns cost 1,234). A rewrite back to composed Columns would bring
    back about a thousand round trips per call."""
    for path, bound in ((mixed_corpus, 300), (light_only_corpus, 100)):
        corpus_df = spark.read.parquet(path)
        n = _py4j_commands(spark, monkeypatch, lambda: pipeline.extract(corpus_df, ExtractConfig()))
        assert n <= bound, (path, n)


@pytest.mark.parametrize("extract_fn", [pipeline.extract, spans.extract_spans],
                         ids=["extract", "extract_spans"])
def test_config_strings_in_sql_keep_route_parity(spark, extract_fn):
    """Route keywords, folder names and the default route reach SQL text
    on the heavy path (filename fallback, default). Values holding quotes,
    backslashes, LIKE wildcards, non-ASCII text or an injection-shaped
    string route the same on the heavy path as on the light path
    (``route_document``), and ``sql_string`` reads back as the value."""
    import datetime

    from pypdfocr_spark.kernels import codec
    from pypdfocr_spark.kernels.route import normalize_targets, route_document
    from pypdfocr_spark.schema import CORPUS_SCHEMA

    values = ["it's", "a\\b", "50%", "_u_", "ünïcødé", "x') OR true --", "\\'", "--"]
    got = spark.sql("SELECT " + ", ".join(pipeline.sql_string(v) for v in values)).first()
    assert list(got) == values
    assert spark.sql(f"SELECT {pipeline.sql_string(None)} AS v").first()["v"] is None

    targets = normalize_targets([
        ("it's", ["x') or true --"]),
        ("back\\slash", ["a\\b"]),
        ("50%_off", ["50%"]),
        ("under_score", ["_u_"]),
        ("ünï", ["ünï"]),
        ("x') OR true --", ["quote'd"]),
    ])
    default = "d'e\\f') --"
    ts = datetime.datetime(2024, 1, 1)
    page = {"dpi": 300, "w_px": 2550, "h_px": 3300,
            "words": [{"t": "nothing", "b": [10, 10, 80, 40], "l": 0}]}
    payload = codec.encode_doc([page])
    names = ["x') or true --", "a\\b", "50%", "_u_", "ÜNÏ", "quote'd",
             "aub-50x", "plain"]  # the last two match only under LIKE wildcards, or nothing
    urls = [f"https://a.example/{n}.pdf" for n in names]
    corpus_df = spark.createDataFrame(
        [(u, ts, payload, "", "en", len(payload)) for u in urls], CORPUS_SCHEMA
    )

    def routes(threshold):
        cfg = ExtractConfig(targets=targets, default_route=default, heavy_payload_bytes=threshold)
        out = extract_fn(corpus_df, cfg)
        assert _map_in_pandas_nodes(out) == 3
        return {r["url"]: r["route"] for r in out.collect()}

    want = {u: route_document(["nothing"], u, targets, use_filename=True, default=default)
            for u in urls}
    assert want[urls[0]] == "it's" and want[urls[-1]] == want[urls[-2]] == default
    assert len(set(want.values())) == 7
    assert routes(0) == want
    assert routes(ExtractConfig().heavy_payload_bytes) == want


def test_extract_from_documents_rebuilds_stale_corpus(spark, tmp_path):
    """A cached corpus is reused only under the current ``_LAYOUT`` stamp:
    a stale stamp makes extract_from_documents wipe and rebuild it, and
    a current one makes it read the files already there."""
    path = str(tmp_path / "corpus")
    pipeline.materialize_corpus(spark, SF_SMOKE, path)
    assert pipeline.corpus_layout(path) == pipeline.CORPUS_LAYOUT
    (tmp_path / "corpus" / "_LAYOUT").write_text("an-older-layout\n")

    def parquet_files():
        return set(glob.glob(path + "/**/*.parquet", recursive=True))

    stale = parquet_files()
    assert stale

    pipeline.extract_from_documents(spark, SF_SMOKE, corpus_path=path)
    assert pipeline.corpus_layout(path) == pipeline.CORPUS_LAYOUT
    rebuilt = parquet_files()
    assert rebuilt and rebuilt.isdisjoint(stale)

    pipeline.extract_from_documents(spark, SF_SMOKE, corpus_path=path)
    assert parquet_files() == rebuilt
