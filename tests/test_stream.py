"""Streaming (watch-mode) tests: incremental file arrival and idempotent
commits across restarts — the rebuild analog of the reference's watcher
state-machine tests (test/test_watcher.py:37-79)."""

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
