"""Streaming session-window aggregation over the events stream.

``F.session_window`` is the stateful merge-windows operator: each event
opens a [ts, ts+gap) window, overlapping windows merge, and a session
closes when the event-time watermark passes its end (append mode emits
only CLOSED sessions — an availableNow drain finalizes every session
whose end the final watermark reached; still-open sessions stay in
state, which is exactly the 10^12-scale semantics: a feed's trailing
sessions are not final until the gap has provably elapsed). Batch
parity: the same session_window expression over the static table equals
the drained sink plus the withheld open tail (tests/test_sessions.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from crawspark.schema import EVENTS
from crawspark.streaming import drain


def session_aggregate(df: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Shared shape for the batch and streaming sides: per (user,
    session) event count, value sum, and the session's [start, end)
    bounds (end = last event + gap, Spark session semantics)."""
    return (df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("session_value"))
            .select("user_id",
                    F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events", "session_value"))


def streaming_sessions(spark: SparkSession, input_path: str,
                       gap: str = "30 minutes",
                       watermark: str = "0 seconds") -> DataFrame:
    stream = (spark.readStream.schema(EVENTS).parquet(input_path)
              .withWatermark("ts", watermark))
    return session_aggregate(stream, gap)


def run_sessions_available_now(spark: SparkSession, input_path: str,
                               output_path: str, checkpoint_path: str,
                               gap: str = "30 minutes") -> None:
    drain(streaming_sessions(spark, input_path, gap)
          .writeStream.format("parquet").option("path", output_path),
          checkpoint_path)


def run_dedup_within_watermark(spark: SparkSession, input_path: str,
                               output_path: str, checkpoint_path: str,
                               watermark: str = "1 days") -> None:
    """Built-in bounded-state streaming dedup:
    ``dropDuplicatesWithinWatermark`` keeps the first event per key and
    drops later duplicates arriving within the watermark delay; state
    for a key expires once the watermark passes it — the API twin of
    the custom applyInPandasWithState first-seen operator
    (streaming/stateful.py), with eviction built in. At 10^12 events
    the watermark IS the dedup contract: duplicates are only promised
    to be caught within the delay window, so state stays bounded."""
    stream = (spark.readStream.schema(EVENTS).parquet(input_path)
              .withWatermark("ts", watermark)
              .dropDuplicatesWithinWatermark(["event_id"]))
    drain(stream.writeStream.format("parquet").option("path", output_path),
          checkpoint_path)
