"""Structured-Streaming operators over the ``events`` stream shape.

The reference has no streaming surface (SURVEY.md §2.A: no
streams/watermarks), but a Common-Crawl-scale ingestion pipeline does:
pages/events arrive continuously and the same windowed aggregations must
run incrementally. Both entry points here accept a *batch or streaming*
DataFrame — the transformation is identical (that is the point of
Structured Streaming), so the batch variant is what the DuckDB oracle
checks and the streaming variant is exercised with an in-memory stream in
tests.

Watermarking bounds state: with a 10-minute watermark, window state older
than (max event time − 10 min) is evicted — at web scale this is what
keeps a day-long run's state size O(windows in flight), not O(stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_WINDOW = "1 hour"
DEFAULT_WATERMARK = "10 minutes"


def windowed_event_counts(
    events: DataFrame,
    window: str = DEFAULT_WINDOW,
    watermark: str | None = None,
) -> DataFrame:
    """(window_start, event_type, n_events, total_value) tumbling windows.

    Pass ``watermark`` only for streaming inputs (it is a no-op wrapped in
    late-data semantics for batch)."""
    e = events
    if watermark is not None:
        e = e.withWatermark("ts", watermark)
    return (
        e.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # micro-unit accumulation: order/engine-independent sum
            # (see operators/relational._dsum)
            F.round(
                F.sum(F.round(F.col("value") * F.lit(1e6), 0).cast("decimal(38,0)")).cast(
                    "double"
                )
                / F.lit(1e6),
                6,
            ).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """(user_id, session_start, session_end, n_events) via session windows —
    the built-in stateful operator (F.session_window), no custom state."""
    e = events
    if watermark is not None:
        e = e.withWatermark("ts", watermark)
    return (
        e.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
