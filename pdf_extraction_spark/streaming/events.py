"""Event-stream operators: event-time tumbling-window aggregation.

The reference has no streaming surface (SURVEY.md §2.8) — this is the
engine-side extension a training-data pipeline needs for telemetry/event
tables. One aggregation, two execution modes over identical semantics:

- ``windowed_counts``: batch DataFrame op (used by the correctness gate
  against a DuckDB oracle);
- ``windowed_counts_stream``: the same logical plan as a Structured
  Streaming query with an event-time watermark for late data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .extract import read_stream


def windowed_counts(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling event-time window per event_type: count + value sum."""
    return (events
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value").alias("value_sum"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "value_sum"))


def windowed_counts_stream(spark: SparkSession, source_dir: str,
                           schema: str, window: str = "1 hour",
                           watermark: str = "2 hours") -> DataFrame:
    """Streaming twin: file source -> watermark -> same windowed agg.

    At scale this is the kappa-style ingestion path: late events beyond the
    watermark are dropped deterministically; state is bounded by
    (watermark / window) * |event_type| rows per partition.
    """
    stream = (read_stream(spark, source_dir, schema)
              .withWatermark("ts", watermark))
    return (stream
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value").alias("value_sum"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "value_sum"))
