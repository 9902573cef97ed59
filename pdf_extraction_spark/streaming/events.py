"""Event-stream operators: event-time tumbling-window aggregation.

The reference has no streaming surface (SURVEY.md §2.8) — this is the
engine-side extension a training-data pipeline needs for telemetry/event
tables. ``windowed_counts`` is a batch DataFrame op, checked by the
``events_window`` correctness gate against a DuckDB oracle; the same
plan runs on a stream once the source carries a watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_counts(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling event-time window per event_type: count + value sum."""
    return (events
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value").alias("value_sum"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "value_sum"))
