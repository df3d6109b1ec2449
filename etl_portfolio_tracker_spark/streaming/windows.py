"""Streaming windowed aggregations over event streams (SURVEY §2.12
extension tier): tumbling windows with watermarked late-data
handling. Batch sliding and session windows live in
operators/sessions.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..derive import dsum


def tumbling_counts(events: DataFrame, size: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Tumbling window per event_type; append-mode-compatible (the
    window closes when the watermark passes its end)."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", size), "event_type")
            .agg(F.count("*").alias("n_events"),
                 dsum(F.col("value")).cast("double").alias("sum_value"))
            .select(F.col("window.start").alias("win_start"),
                    F.col("window.end").alias("win_end"),
                    "event_type", "n_events", "sum_value"))
