"""Structured Streaming variant — the reference's watch mode (SURVEY §2.9).

The reference's watcher is a hand-rolled state machine: watchdog FS events
→ a ``{path: last_touch}`` dict guarded by a lock, a 3 s quiescence
debounce, ``-1`` sentinels for processed files, and an infinite
restart-on-exception loop (ref: pypdfocr/pypdfocr_watcher.py:28-50,95-149,
pypdfocr/pypdfocr.py:461-471). Here each piece maps to an engine facility:

* new-file detection   → ``readStream`` file source (built-in)
* quiescence debounce  → ``session_window`` over the event timestamp with
  a watermark: a key emits only after ``gap`` with no new events
* processed-set dedupe → idempotent per-batch ``left_anti`` against the
  committed output (resume_filter) + checkpointed source offsets —
  strictly stronger than the reference's sentinel dict (exactly-once
  instead of at-least-once)
* restart loop         → checkpoint recovery (``awaitTermination`` +
  driver supervision)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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
    available_now: bool = True,
) -> StreamingQuery:
    """Watch ``input_path`` for new corpus parquet files and run the batch
    extraction pipeline per micro-batch with idempotent commits.

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

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def debounced_ready_stateful(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    gap_seconds: int = 3,
) -> DataFrame:
    """The watcher state machine as a custom stateful operator
    (``applyInPandasWithState``) — the closest engine analog of the
    reference's ``{path: last_touch}`` dict + poll loop
    (ref: pypdfocr/pypdfocr_watcher.py:28-50,95-149):

    * every event for a key updates ``(n_events, last_touch)`` in the
      state store (the dict entry, ref :97-108);
    * a processing-time timeout of ``gap_seconds`` is (re)armed on each
      update (the quiescence scan_interval, ref :37,125-149);
    * when the timeout fires — no events for the whole gap — the key is
      emitted as ready and its state removed (the ``-1`` sentinel purge,
      ref :102-104,139-145).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdf_iter, state):
        if state.hasTimedOut:
            n, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "url": [key[0]],
                    "n_events": [n],
                    "last_touch": [pd.Timestamp(last_us, unit="us")],
                }
            )
        else:
            n, last_us = state.get if state.exists else (0, 0)
            for pdf in pdf_iter:
                if len(pdf):
                    n += len(pdf)
                    last_us = max(last_us, int(pdf[ts_col].max().value // 1000))
            state.update((n, last_us))
            state.setTimeoutDuration(gap_seconds * 1000)

    return df.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType="url string, n_events long, last_touch timestamp",
        stateStructType="n long, last long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def tumbling_stream(
    df: DataFrame,
    ts_col: str = "ts",
    by_col: str = "event_type",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming tumbling-window rollup: ``withWatermark`` + ``window()``
    grouped agg — the Structured Streaming form of
    ``events.tumbling_counts`` (late rows beyond the watermark are
    dropped; windows finalize and emit once in append mode). The window
    key is emitted as epoch seconds, matching the batch mirror's
    timezone-proof convention.

    Watermarks require TIMESTAMP (not NTZ) event time, so the column is
    cast first — deterministic because the session zone is pinned to UTC
    (session.get_spark)."""
    df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col(by_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 6).alias("sum_value"),
        )
        .select(
            F.unix_seconds(F.col("window.start").cast("timestamp")).alias("window_start"),
            by_col,
            "n_events",
            "sum_value",
        )
    )


def sliding_stream(
    df: DataFrame,
    ts_col: str = "ts",
    by_col: str = "event_type",
    value_col: str = "value",
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming sliding (hopping) window rollup — the Structured
    Streaming form of ``events.sliding_counts``: ``window()`` with a
    ``slideDuration`` assigns each event to its W/S overlapping windows,
    watermark finalizes them for append-mode emission. Window key emitted
    as epoch seconds, matching the batch mirror's timezone-proof
    convention."""
    df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window, slide), F.col(by_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 6).alias("sum_value"),
        )
        .select(
            F.unix_seconds(F.col("window.start").cast("timestamp")).alias("window_start"),
            by_col,
            "n_events",
            "sum_value",
        )
    )


def curate_stream(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = "en",
    min_tokens: int = 30,
    min_overlap: int = 3,
    dedup_keys: bool = True,
    shingle_literal_max: int = 100_000,
    dedup_ttl: str | None = None,
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Streaming corpus curation — the incremental form of
    ``recipe.curate``: documents arriving on a stream pass the SAME four
    gates and only survivors are emitted.

    Streaming-first re-expression of each gate:

    * language + Gopher quality: the identical pure expressions the batch
      recipe inlines (``textops.lang_pred_expr`` / ``gopher_exprs``) —
      stateless, map-only.
    * decontamination, sized to the eval suite (VERDICT r4 #3): up to
      ``shingle_literal_max`` distinct eval shingles the set is inlined
      as ONE array literal (``dedup.contamination_overlap_expr`` —
      zero Python, array_intersect in codegen); above it, the set moves
      into an Arrow pandas-UDF closure
      (``dedup.contamination_overlap_udf``) that PySpark ships via a
      real broadcast — one copy per executor instead of a multi-MB
      literal in every serialized task plan. Both forms are stateless
      and compute the identical n_overlap (pytest-pinned); a
      stream-static join was rejected because the per-doc overlap count
      is a non-event-time streaming aggregation append mode cannot
      finalize (see contamination_overlap_udf's docstring).
    * duplicate gate: ``dropDuplicates`` on the canonical hash — Spark's
      stateful streaming dedup. Semantics differ from batch BY DESIGN:
      (a) a stream keeps the FIRST ARRIVAL of each canon group, batch
      keeps min(doc_id) — you cannot know a smaller id is coming; and
      (b) the stream dedups only GATE-PASSERS, while batch picks the
      keeper over ALL docs before gating — so a group whose min-id
      member fails a gate yields ZERO batch survivors but one stream
      survivor (the first gate-passing arrival). Batch survivor count is
      therefore a LOWER bound on the stream's, equal only on corpora
      where every batch keeper passes its gates.
      Dedup state is keyed by 32-hex norm_hash and grows with distinct
      documents. ``dedup_ttl`` bounds it: with a duration string (e.g.
      ``'1 hour'``) the stream watermarks ``ts_col`` by the TTL and uses
      ``dropDuplicatesWithinWatermark``, so duplicate arrivals inside
      the TTL still dedupe while state older than the watermark is
      evicted — at crawl scale state is then O(docs per TTL window),
      not O(corpus). ``dedup_keys=False`` disables the stateful stage
      entirely (gates stay stateless).

    Emits (id, norm_hash, n_overlap[, ts]) per surviving document —
    append-mode compatible: every operator here is either stateless or
    streaming dedup, no aggregation that would need a watermark to
    finalize.
    """
    from . import dedup as dd
    from . import textops

    eval_shingles = [
        r[0]
        for r in dd.with_shingles(benchmark, id_col, text_col, k=2)
        .select("shingle")
        .distinct()
        .collect()
    ]
    pred, _ = textops.lang_pred_expr(text_col)
    keep = textops.gopher_exprs(text_col, min_tokens=min_tokens)["keep"]
    canon = dd.canonical_text(F.col(text_col))
    norm = F.when(canon == "", F.col(text_col)).otherwise(canon)
    if len(eval_shingles) <= shingle_literal_max:
        n_overlap = dd.contamination_overlap_expr(text_col, eval_shingles, k=2)
    else:
        n_overlap = dd.contamination_overlap_udf(eval_shingles, k=2)(F.col(text_col))
    out_cols = [F.col(id_col), "norm_hash", F.col("n_overlap").cast("long")]
    if dedup_ttl is not None:
        # the event-time column must survive the projection for
        # dropDuplicatesWithinWatermark's state eviction to bind to it
        docs = docs.withWatermark(ts_col, dedup_ttl)
        out_cols.append(F.col(ts_col))
    gated = (
        docs.withColumn("_pl", pred == lang)
        .withColumn("_pq", keep)
        .withColumn("n_overlap", n_overlap)
        .withColumn("norm_hash", F.md5(norm))
        .where(
            F.col("_pl") & F.col("_pq") & (F.col("n_overlap") < min_overlap)
        )
        .select(*out_cols)
    )
    if not dedup_keys:
        return gated
    if dedup_ttl is not None:
        return gated.dropDuplicatesWithinWatermark(["norm_hash"])
    return gated.dropDuplicates(["norm_hash"])


def debounced_ready(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    gap: str = "3 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Quiescence debounce as a streaming session window: a key is 'ready'
    when ``gap`` passes with no new events — the reference's
    scan_interval semantics (default 3 s,
    ref: pypdfocr/pypdfocr_watcher.py:37,125-149). Emits one row per
    closed session: (key, n_events, last_touch)."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(ts_col).alias("last_touch"),
        )
        .select(key_col, "n_events", "last_touch")
    )
