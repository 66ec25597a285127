"""Event-stream operators in batch form — the relational mirror of the
reference's watch-mode semantics (SURVEY §2.9): quiescence debounce →
gap-based sessionization; per-interval rollup → sliding windows;
point-in-time lookup → as-of join. The tumbling rollup is the declared
query ``tumbling_events`` itself (``__spark_entry__._q_tumbling_events``),
its one implementation.

All are pure window/agg algebra (no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def sessionize(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 300,
) -> DataFrame:
    """Gap sessionization: a new session starts when the time since the
    previous event of the same key exceeds ``gap_seconds`` — the batch
    analog of the watcher's quiescence debounce (a file is 'done' after
    scan_interval with no touches, ref: pypdfocr/pypdfocr_watcher.py:125-149,
    default 3 s, ref :37).

    Returns one row per session: (key, session_id, n_events, session_start,
    session_end).
    """
    w = Window.partitionBy(key_col).orderBy(ts_col)
    # microsecond integer arithmetic — exact, and bit-reproducible by the
    # DuckDB oracle (epoch_us); second-granularity casts would round
    # sub-second gaps differently across engines
    # cast covers TIMESTAMP_NTZ parquet columns; the zone shift cancels in
    # the lag difference
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = us - F.lag(us).over(w)
    starts = df.withColumn(
        "is_start",
        F.when(gap.isNull() | (gap > gap_seconds * 1_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    with_sid = starts.withColumn(
        "session_id", F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return with_sid.groupBy(key_col, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
    )


def sliding_counts(
    df: DataFrame,
    ts_col: str = "ts",
    by_col: str = "event_type",
    value_col: str = "value",
    window_seconds: int = 3600,
    slide_seconds: int = 900,
) -> DataFrame:
    """Sliding (hopping) window rollup: every event contributes to the
    ``window_seconds / slide_seconds`` overlapping windows that contain
    it, convention ``[start, start + window)``. The window key is epoch
    seconds (long) by integer arithmetic on ``unix_micros``, never
    ``date_trunc`` on a timestamp, whose rendering depends on the session
    timezone (the r1/r2 lesson; the ``tumbling_events`` query also
    keys by epoch seconds). Membership is an explode over an array of
    slide starts — bounded fan-out (W/S rows per event, a constant), then one
    map-side-combinable agg. No Python, no window functions, no range
    join: at 100 TB the cost is (W/S)× the tumbling rollup, linear in
    input.
    """
    if window_seconds % slide_seconds:
        raise ValueError("window_seconds must be a multiple of slide_seconds")
    m = window_seconds // slide_seconds
    s_us = slide_seconds * 1_000_000
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    # Integer-exact membership (review fix): an event at t belongs to the
    # m consecutive slide-aligned starts ending at t's own slide floor,
    # base = t - pmod(t, S) — pure long arithmetic, no double division
    # whose quotient could round across a window edge at |epoch_us|
    # approaching 2^53. The final µs→s division goes through decimal
    # (the numerator is a multiple of 10^6, so the quotient is exact).
    base_us = us - F.pmod(us, F.lit(s_us))
    # r6: the m window starts are unrolled into a plain array literal of
    # expressions — F.sequence + F.transform are CodegenFallback
    # (interpreted lambda per element per row); the array of m
    # subtractions is flat codegen. Values are identical: j·S is folded
    # into one long literal per slot.
    exploded = df.select(
        F.col(by_col),
        F.col(value_col),
        F.explode(
            F.array(*[base_us - F.lit(j * s_us) for j in range(m)])
        ).alias("_ws_us"),
    )
    return (
        exploded.groupBy(
            (F.col("_ws_us").cast("decimal(30,0)") / F.lit(1_000_000))
            .cast("long")
            .alias("window_start"),
            F.col(by_col),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias(f"sum_{value_col}"),
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    right_cols: tuple[str, ...] = ("value",),
    block_seconds: int | None = None,
) -> DataFrame:
    """As-of join: each left row picks the latest right row of the same
    key with ``right.ts <= left.ts`` (inclusive — DuckDB ``ASOF JOIN``
    default), LEFT-outer (unmatched left rows keep nulls). The classic
    point-in-time lookup (price as of trade time; last purchase as of a
    click) that Spark has no built-in operator for.

    Spark-first formulation — NOT a join at all: union the two sides with
    a side tag, one window sort per key, ``last(_rv, ignorenulls)`` over
    the unbounded-preceding frame, keep left rows. One shuffle on the key
    (exactly what any sort-merge as-of needs), no range-explosion, no
    per-row Python. At equal timestamps the right row sorts first
    (side 0 < 1) so it is visible to the left row, matching the
    inclusive >= semantics. Right rows are assumed unique per
    (key, ts) — pre-aggregate otherwise, as the oracle's ASOF is
    ambiguous under such ties too.

    At 100 TB: key-skew splits via AQE don't apply to window sorts, so a
    hot key (one user with 10^8 events) pins the default path to one
    unsplittable task. ``block_seconds`` enables the skew-safe variant:
    rows are bucketed into time blocks of that width, the window
    partitions on (key, block) — a hot key now spreads over as many
    tasks as it spans blocks — and a compact per-(key, block) carry
    frame (one row per non-empty block, NOT per event) propagates the
    last right value across block boundaries with a second, tiny window.
    Output is row-identical to the default path (pytest-pinned on a
    one-hot-key fixture); cost is one extra combinable agg + one
    equi-join on (key, block).
    """
    rv = F.struct(
        F.col(ts_col).alias("ts"), *[F.col(c).alias(c) for c in right_cols]
    )
    r = right.select(
        F.col(key_col), F.col(ts_col), F.lit(0).alias("_side"), rv.alias("_rv")
    )
    rv_type = r.schema["_rv"].dataType
    l = left.withColumn("_side", F.lit(1)).withColumn(
        "_rv", F.lit(None).cast(rv_type)
    )
    u = l.unionByName(r, allowMissingColumns=True)
    if block_seconds is None:
        w = (
            Window.partitionBy(key_col)
            .orderBy(ts_col, "_side")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        matched = u.withColumn("_m", F.last("_rv", ignorenulls=True).over(w)).where(
            F.col("_side") == 1
        )
    else:
        if block_seconds <= 0:
            raise ValueError("block_seconds must be positive")
        blk = F.floor(
            F.unix_micros(F.col(ts_col).cast("timestamp"))
            / F.lit(block_seconds * 1_000_000)
        ).alias("_blk")
        u = u.withColumn("_blk", blk)
        # pass 1: prefix-last WITHIN each (key, block) — the skew split;
        # same (ts, _side) order as the default path, so equal-timestamp
        # inclusive semantics carry over unchanged
        w_in = (
            Window.partitionBy(key_col, "_blk")
            .orderBy(ts_col, "_side")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        u = u.withColumn("_m_in", F.last("_rv", ignorenulls=True).over(w_in))
        # pass 2: carry-in per block = last right value of any STRICTLY
        # earlier block, computed on the compact one-row-per-(key, block)
        # frame. max_by on ts is safe: right rows are unique per (key, ts)
        # by contract.
        blk_last = (
            u.where(F.col("_side") == 0)
            .groupBy(key_col, "_blk")
            .agg(F.max_by("_rv", F.col(ts_col)).alias("_blk_last"))
        )
        all_blocks = u.select(key_col, "_blk").distinct()
        w_carry = (
            Window.partitionBy(key_col)
            .orderBy("_blk")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carry = (
            all_blocks.join(blk_last, [key_col, "_blk"], "left")
            .withColumn("_carry", F.last("_blk_last", ignorenulls=True).over(w_carry))
            .select(key_col, "_blk", "_carry")
        )
        matched = (
            u.where(F.col("_side") == 1)
            .join(carry, [key_col, "_blk"])
            .withColumn("_m", F.coalesce(F.col("_m_in"), F.col("_carry")))
        )
    return matched.select(
        *[F.col(c) for c in left.columns],
        F.col("_m.ts").alias("matched_ts"),
        *[F.col(f"_m.{c}").alias(f"matched_{c}") for c in right_cols],
    )
