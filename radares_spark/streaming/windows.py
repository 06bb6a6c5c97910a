"""Streaming windowed aggregation.

The radar fact table's native grain is a 15-minute grid (96
slots/day, src/clean_data.py:54); with a live feed the same grid is a
tumbling ``F.window(ts, '15 minutes')`` with a watermark for late data
(SURVEY §2.11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_15min(events: DataFrame) -> DataFrame:
    """(window_start, event_type, n, total_value) per 15-min slot.

    Append-mode compatible: the watermark bounds state, late rows
    beyond it are dropped (the batch backfill path re-derives the slot
    exactly — same operator family as the radar grid)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )

