"""Event-time windowing + watermarking helpers (the §2.9 capability
gaps: the reference captures a timestamp and never uses it — no
watermark, no window, no late-data policy, T3).

All helpers work on streaming AND batch DataFrames (Spark's window
functions are mode-agnostic), which is how the oracle gate verifies
their semantics in batch (plans/streaming_queries.py) while the
streaming tests exercise state + late-data handling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _window_aggregate(
    df: DataFrame, win: Column, keys: list[str], aggs: list[Column], prefix: str
) -> DataFrame:
    """``aggs`` per (``win``, ``keys``) group, the window struct
    flattened to ``<prefix>_start``/``<prefix>_end`` columns."""
    out = df.groupBy(win.alias("win"), *[F.col(k) for k in keys]).agg(*aggs)
    return out.select(
        F.col("win.start").alias(f"{prefix}_start"),
        F.col("win.end").alias(f"{prefix}_end"),
        *[c for c in out.columns if c != "win"],
    )


def tumbling_counts(
    df: DataFrame, ts_col: str, width: str, keys: list[str], aggs: list[Column]
) -> DataFrame:
    """Tumbling-window aggregation; emits window start/end columns."""
    return _window_aggregate(
        df, F.window(F.col(ts_col), width), keys, aggs, "window"
    )


def sliding_counts(
    df: DataFrame,
    ts_col: str,
    width: str,
    slide: str,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Sliding windows ``width`` wide every ``slide``: each event lands
    in width/slide windows."""
    return _window_aggregate(
        df, F.window(F.col(ts_col), width, slide), keys, aggs, "window"
    )


def session_aggregate(
    df: DataFrame, ts_col: str, gap: str, keys: list[str], aggs: list[Column]
) -> DataFrame:
    """Session windows: a session extends while events arrive within
    ``gap`` of the previous one."""
    return _window_aggregate(
        df, F.session_window(F.col(ts_col), gap), keys, aggs, "session"
    )


def dedup_within_watermark(
    df: DataFrame, keys: list[str], ts_col: str, delay: str = "10 minutes"
) -> DataFrame:
    """Streaming dedup with bounded state: duplicates arriving within
    the watermark horizon are dropped; state older than the horizon is
    evicted (the H4 duplicate-on-restart fix for at-least-once
    sources)."""
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: Column,
    left_ts: str,
    right_ts: str,
    lower: str,
    upper: str,
    delay: str = "1 hour",
) -> DataFrame:
    """Stream-stream (or batch) inner join bounded to a time interval:
    rows pair when ``on`` holds and
    ``left_ts + lower <= right_ts <= left_ts + upper``.

    In streaming mode both sides get event-time watermarks, which is
    what lets Spark BOUND the join state: a buffered left row can be
    evicted once the right watermark passes ``left_ts + upper`` (and
    vice versa) — without the interval condition the state grows
    forever. Batch mode applies the same predicate directly, which is
    how the oracle gate checks the semantics while
    tests/test_streaming.py proves the stateful replay matches.

    Column names must be disjoint across the two inputs (rename before
    calling — streaming self-joins on one source need distinct
    lineages anyway).
    """
    lts, rts = F.col(left_ts), F.col(right_ts)
    cond = (
        on
        & (rts >= lts + F.expr(f"interval {lower}"))
        & (rts <= lts + F.expr(f"interval {upper}"))
    )
    if left.isStreaming:
        left = left.withWatermark(left_ts, delay)
    if right.isStreaming:
        right = right.withWatermark(right_ts, delay)
    return left.join(right, cond, "inner")
