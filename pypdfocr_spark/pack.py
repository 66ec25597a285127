"""Sequence packing — turning a curated, tokenized corpus into the
fixed-length training examples an LLM loader actually consumes. The
input is the slim (doc_id, n_tokens) relation ``textops.token_count_df``
produces; text never enters any shuffle here.

:func:`pack_concat` builds the GPT-2/Pile layout: concatenate every
document's tokens in ``doc_id`` order and cut the stream every
``context_len`` tokens. Documents split across window boundaries; no
padding anywhere. Output is the (window, doc) overlap map — enough for a
loader to materialize any window by slicing the named documents. The
global running-token position is a **distributed prefix sum**:
quantile-bucketed order-preserving shards → within-shard window cumsum
(one slim hash shuffle) → per-shard totals (map-side-combinable tiny
agg) → single-partition cumsum over ``n_shards`` rows → broadcast join
back. The naive formulation — one global ``Window.orderBy(id)`` with no
partitioning — funnels the corpus through a single task and dies at
scale; it is deliberately not used. Output depends only on the total
(doc_id) order, so it is invariant to input layout and shard count.

It expects unique ``doc_id``s (dedup runs upstream in this package) and
non-negative, non-null counts.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


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
