"""Streaming-capable sessionization via ``session_window``.

The reference handles clickstream sessions purely in batch
(/root/reference/03_gold/03_gold_aggregate.py:166 groups a pre-built
session_id; late/duplicate data is handled by full overwrite +
keep-latest dedupe). The Spark-native equivalent is a gap-based
``session_window`` aggregation that runs IDENTICALLY in batch and in
Structured Streaming — the same ``session_rollup`` column expressions
serve both, which is the whole point of building batch-first on
DataFrame transforms (SURVEY.md §2.9).

Streaming adds: ``withWatermark`` to bound state for late events and
``dropDuplicates`` on event_id for at-least-once sources.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def session_rollup(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "event_ts",
    gap: str = "30 minutes",
    revenue_when: Column | None = None,
) -> DataFrame:
    """Per-(user, session_window) rollup: event count, bounds, revenue.

    Works on a batch DataFrame as-is; on a streaming DataFrame apply
    ``with_late_data_handling`` first.
    """
    revenue = (
        revenue_when
        if revenue_when is not None
        else F.when(F.col("event_type") == "purchase", F.col("amount_usd")).otherwise(
            F.lit(0.0)
        )
    )
    return (
        events.groupBy(
            F.col(user_col),
            F.session_window(F.col(ts_col), gap).alias("session"),
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.min(ts_col).alias("session_start_ts"),
            F.max(ts_col).alias("session_end_ts"),
            F.sum(revenue.cast("decimal(30,6)")).cast("double").alias("session_revenue"),
        )
    )


def windowed_rollup(
    events: DataFrame,
    ts_col: str = "event_ts",
    window_len: str = "1 hour",
    slide: str | None = None,
    keys: tuple[str, ...] = ("event_type",),
    revenue_col: str = "amount_usd",
) -> DataFrame:
    """Tumbling (or, with ``slide``, sliding/hopping) time-window
    rollup — the fixed-window twin of ``session_rollup`` and the
    streaming form of the batch hourly hypertable rollup
    (registry ``ext_time_bucket_rollup``). Identical column
    expressions run in batch and under readStream+watermark; revenue
    sums in DECIMAL so partition/trigger order cannot change it.
    Deliberately no countDistinct: it is unsupported in streaming
    aggs — use approx_count_distinct there (ext_sketch_profile)."""
    win = (
        F.window(F.col(ts_col), window_len, slide)
        if slide
        else F.window(F.col(ts_col), window_len)
    )
    return events.groupBy(win.alias("win"), *[F.col(k) for k in keys]).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col(revenue_col).cast("decimal(30,6)")).cast("double").alias(
            "total_value"
        ),
    )


def with_late_data_handling(
    stream: DataFrame,
    ts_col: str = "event_ts",
    event_id_col: str = "event_id",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermark + dedupe for a streaming source: bounds session/dedupe
    state to ``watermark`` and drops duplicate event ids within it."""
    return stream.withWatermark(ts_col, watermark).dropDuplicates(
        [event_id_col, ts_col]
    )


def streaming_session_metrics(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "event_ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """End-to-end streaming sessionization: watermark → dedupe →
    session_window rollup. Append-mode compatible (sessions emit once
    the watermark passes their close)."""
    deduped = with_late_data_handling(stream, ts_col, watermark=watermark)
    return session_rollup(deduped, user_col, ts_col, gap)
