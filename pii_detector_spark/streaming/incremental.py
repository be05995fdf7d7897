"""Late-data-tolerant event rollups: the watermark + window pattern over
the ``events`` table shape."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_metrics(events: DataFrame) -> DataFrame:
    """10-minute tumbling-window event counts with a 30-minute watermark
    (batch-compatible: works on a static events DataFrame too)."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
