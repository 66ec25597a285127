"""Sequence packing — turning a curated, tokenized corpus into the
fixed-length training examples an LLM loader actually consumes. The
input is the slim (doc_id, n_tokens) relation ``textops.token_count_df``
produces; text never enters any shuffle here.

Two standard layouts:

* :func:`pack_concat` — the GPT-2/Pile layout: concatenate every
  document's tokens in ``doc_id`` order and cut the stream every
  ``context_len`` tokens. Documents split across window boundaries; no
  padding anywhere. Output is the (window, doc) overlap map — enough for
  a loader to materialize any window by slicing the named documents.
  The global running-token position is a **distributed prefix sum**:
  quantile-bucketed order-preserving shards → within-shard window cumsum
  (one slim hash shuffle) → per-shard totals (map-side-combinable tiny
  agg) → single-partition cumsum over ``n_shards`` rows → broadcast join
  back. The naive formulation — one global ``Window.orderBy(id)`` with
  no partitioning — funnels the corpus through a single task and dies at
  scale; it is deliberately not used. Output depends only on the total
  (doc_id) order, so it is invariant to input layout and shard count.

* :func:`pack_greedy` — the no-split layout (SFT-style): next-fit
  packing in doc_id order within deterministic hash shards. A document
  never crosses a bin boundary, bins hold ≤ ``context_len`` tokens, and
  an overlong document gets a bin of its own with ``truncated`` set for
  the consumer to handle. Packing one bin stream is inherently
  sequential, so it runs as one ``applyInPandas`` over value-hashed
  shards — shard identity is a pure function of ``doc_id``, so the
  output is layout-invariant and resumable.

Both expect unique ``doc_id``s (dedup runs upstream in this package) and
non-negative, non-null counts.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

_SHARD_BITS = 40  # pack_greedy: up to 2^40 bins per shard


def _order_shard_col(id_col: str, boundaries: "list[int]"):
    """Order-preserving shard id: the number of boundaries ≤ id. Any
    boundary set yields correct output (the prefix sum depends only on
    the total order); quantile boundaries merely balance the shards."""
    if not boundaries:
        return F.lit(0)
    barr = F.lit(np.asarray(boundaries, dtype=np.int64).tolist()).cast(
        "array<long>"
    )
    return F.size(F.filter(barr, lambda b: b <= F.col(id_col)))


PACK_CONCAT_SCHEMA = "window_id LONG, doc_id LONG, doc_offset LONG, window_offset LONG, n_tokens LONG"


def pack_concat(
    df: DataFrame,
    context_len: int,
    id_col: str = "doc_id",
    count_col: str = "n_tokens",
    n_shards: int = 64,
    boundaries: "list[int] | None" = None,
) -> DataFrame:
    """Concat-and-chunk packing map: one row per (window, document)
    overlap, where window ``k`` covers global token positions
    [k·L, (k+1)·L) of the corpus-wide concatenation in ``doc_id`` order.

    Columns: ``window_id``, ``doc_id``, ``doc_offset`` (first token of
    the document that falls in this window), ``window_offset`` (where it
    lands inside the window), ``n_tokens`` (tokens contributed). Every
    window is exactly full except the last; zero-token documents emit
    nothing.

    ``boundaries`` (sorted doc_id split points, len = n_shards−1) skips
    the approxQuantile pass — pass the previous run's boundaries, or ids
    from a catalog, when the corpus is big enough that one extra slim
    scan matters. At scale size ``n_shards`` so one shard's (id, count)
    pairs sort comfortably in a task (~tens of millions of rows).
    """
    if context_len < 1:
        raise ValueError("context_len must be >= 1")
    L = int(context_len)
    slim = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(count_col).cast("long").alias("n"),
    )
    if boundaries is None:
        if n_shards <= 1:
            boundaries = []
        else:
            qs = [i / n_shards for i in range(1, n_shards)]
            boundaries = [int(b) for b in slim.approxQuantile("doc_id", qs, 0.001)]
    sharded = slim.withColumn("_shard", _order_shard_col("doc_id", boundaries))
    w_in = Window.partitionBy("_shard").orderBy("doc_id")
    within = sharded.withColumn(
        "_local_end", F.sum("n").over(w_in)
    )  # cumsum INCLUDING this row; start = off + _local_end - n
    totals = sharded.groupBy("_shard").agg(F.sum("n").alias("_tot"))
    w_sh = Window.orderBy("_shard").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "_shard",
        F.coalesce(F.sum("_tot").over(w_sh), F.lit(0)).alias("_off"),
    )
    pos = (
        within.join(F.broadcast(offs), "_shard")
        .where(F.col("n") > 0)
        .withColumn("_start", F.col("_off") + F.col("_local_end") - F.col("n"))
    )
    first = F.floor(F.col("_start") / L)
    last = F.floor((F.col("_start") + F.col("n") - 1) / L)
    out = pos.withColumn("window_id", F.explode(F.sequence(first, last)))
    ws = F.col("window_id") * L
    return out.select(
        F.col("window_id").cast("long"),
        "doc_id",
        F.greatest(ws - F.col("_start"), F.lit(0)).cast("long").alias("doc_offset"),
        F.greatest(F.col("_start") - ws, F.lit(0))
        .cast("long")
        .alias("window_offset"),
        (
            F.least(F.col("_start") + F.col("n"), ws + L)
            - F.greatest(F.col("_start"), ws)
        )
        .cast("long")
        .alias("n_tokens"),
    )


PACK_GREEDY_SCHEMA = StructType(
    [
        StructField("bin_id", LongType()),
        StructField("doc_id", LongType()),
        StructField("n_tokens", LongType()),
        StructField("bin_offset", LongType()),
        StructField("truncated", BooleanType()),
    ]
)


def pack_greedy(
    df: DataFrame,
    context_len: int,
    id_col: str = "doc_id",
    count_col: str = "n_tokens",
    n_shards: int = 64,
) -> DataFrame:
    """No-split next-fit packing: within each deterministic hash shard,
    walk documents in ``doc_id`` order keeping one open bin; a document
    that does not fit closes the bin and opens the next. Guarantees:
    every bin's total ≤ ``context_len`` unless it holds exactly one
    overlong document (``truncated`` true — the consumer truncates or
    drops it); a document never crosses bins; ``bin_offset`` is the
    document's token position inside its bin.

    ``bin_id`` = shard · 2^40 + ordinal, so ids are globally unique and
    stable. Shard = xxhash64(doc_id) mod n_shards — a pure value
    function, so the packing is invariant to input layout/partitioning
    and reproducible across runs (unlike spark_partition_id schemes).
    One shuffle on the slim (id, count) relation; the per-shard walk is
    O(shard rows) numpy, no text involved.
    """
    if context_len < 1:
        raise ValueError("context_len must be >= 1")
    L = int(context_len)
    shift = np.int64(1) << _SHARD_BITS

    slim = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(count_col).cast("long").alias("n_tokens"),
        F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(n_shards)).alias(
            "_shard"
        ),
    )

    def pack(key, pdf):
        import pandas as pd

        shard = int(key[0])
        pdf = pdf.sort_values("doc_id", kind="mergesort")
        c = pdf["n_tokens"].to_numpy()
        bins = np.empty(len(c), dtype=np.int64)
        offsets = np.empty(len(c), dtype=np.int64)
        b, fill = -1, L + 1  # forces the first row to open bin 0
        for i, n in enumerate(c):
            if fill + n > L:
                b += 1
                fill = 0
            bins[i] = b
            offsets[i] = fill
            fill += n
        return pd.DataFrame(
            {
                "bin_id": shard * shift + bins,
                "doc_id": pdf["doc_id"].to_numpy(),
                "n_tokens": c,
                "bin_offset": offsets,
                "truncated": c > L,
            }
        )

    return slim.groupBy("_shard").applyInPandas(pack, PACK_GREEDY_SCHEMA)
