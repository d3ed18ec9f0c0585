"""Event-time windowed aggregation with a watermark over the events stream.

The extraction core needs no event-time semantics (SURVEY.md §2.7), but a
training-data ingestion pipeline monitors its feed: this operator rolls
the events stream into 10-minute tumbling windows per event_type, with a
30-minute watermark bounding state for late data — the standard
readStream → watermark → window → writeStream shape, reusable over any
timestamped table (e.g. crawl-fetch logs at 10^12 scale)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from crawspark.schema import EVENTS
from crawspark.streaming import drain


def windowed_event_counts(spark: SparkSession, input_path: str,
                          window: str = "10 minutes",
                          watermark: str = "30 minutes") -> DataFrame:
    return (spark.readStream.schema(EVENTS).parquet(input_path)
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n_events", "sum_value"))


def run_windowed_available_now(spark: SparkSession, input_path: str,
                               output_path: str,
                               checkpoint_path: str) -> None:
    drain(windowed_event_counts(spark, input_path)
          .writeStream.format("parquet").option("path", output_path),
          checkpoint_path)
