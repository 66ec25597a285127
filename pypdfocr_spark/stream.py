"""Structured Streaming variant — the reference's watch mode (SURVEY §2.9).

The reference's watcher is a hand-rolled state machine: watchdog FS events
→ a ``{path: last_touch}`` dict guarded by a lock, a 3 s quiescence
debounce, ``-1`` sentinels for processed files, and an infinite
restart-on-exception loop (ref: pypdfocr/pypdfocr_watcher.py:28-50,95-149,
pypdfocr/pypdfocr.py:461-471). Here each piece maps to an engine facility:

* new-file detection   → ``readStream`` file source (built-in)
* quiescence debounce  → atomic moves into the watched directory. The
  file source reads each parquet file whole once it is listed, so a
  producer writes elsewhere and renames the finished file in; a file is
  never seen half-written, which is what the reference's 3 s wait guards
  against. No operator here groups events by ``(url, warc_ts)``: that
  would debounce rows, not files, and reproduce nothing of the wait.
* processed-set dedupe → idempotent per-batch ``left_anti`` against the
  committed output (resume_filter) + checkpointed source offsets —
  strictly stronger than the reference's sentinel dict (exactly-once
  instead of at-least-once)
* restart loop         → checkpoint recovery. Each start processes the
  files present then and exits (``availableNow``); a supervisor that
  restarts it picks up only the files added since.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from . import lineage
from .config import ExtractConfig
from .pipeline import extract
from .schema import CORPUS_SCHEMA


def watch_extract(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint_dir: str,
    cfg: ExtractConfig | None = None,
) -> StreamingQuery:
    """Process the corpus parquet files present in ``input_path`` when the
    query starts, then stop (an ``availableNow`` trigger): the batch
    extraction pipeline runs per micro-batch with idempotent commits, and
    the checkpoint makes the next start pick up only the files added
    since.

    ``foreachBatch`` reuses the exact batch dataflow (same kernels, same
    plan) — the reference similarly funnels watch-mode files into the
    single-file conversion path (ref: pypdfocr/pypdfocr.py:461-471 →
    _convert_and_file_email). The resume_filter anti-join makes re-delivered
    files no-ops, so restart-after-crash cannot double-commit a url.
    """
    cfg = cfg or ExtractConfig()
    stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(input_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        remaining = lineage.resume_filter(batch_df, out_dir)
        result = extract(remaining, cfg)
        lineage.commit(result, out_dir, run_id=f"stream-{batch_id}")

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
