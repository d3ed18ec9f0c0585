"""Watermarked stream-stream interval join (SURVEY.md §2.7 extension).

The crawl/ingestion monitoring shape the other streaming operators don't
cover: two live event feeds correlated per user within a bounded time
interval. Both sides carry watermarks and the join condition pairs an
equality key with a time range — exactly what Structured Streaming needs
to bound the join state (rows older than watermark + interval are evicted
instead of accumulating forever, the property that keeps this runnable
against an unbounded 10^12-event feed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from crawspark.sources import local_frame

_EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")


def stream_stream_user_join(spark: SparkSession, left_path: str,
                            right_path: str,
                            interval: str = "10 minutes",
                            watermark: str = "30 minutes") -> DataFrame:
    """Inner-join two event streams on user_id where the right event
    falls within ``interval`` AFTER the left event (inclusive bounds)."""
    left = (spark.readStream.schema(_EVENTS_SCHEMA).parquet(left_path)
            .withWatermark("ts", watermark).alias("l"))
    right = (spark.readStream.schema(_EVENTS_SCHEMA).parquet(right_path)
             .withWatermark("ts", watermark).alias("r"))
    cond = F.expr(
        f"l.user_id = r.user_id AND r.ts >= l.ts "
        f"AND r.ts <= l.ts + interval {interval}")
    return (left.join(right, cond)
            .select(F.col("l.user_id").alias("user_id"),
                    F.col("l.event_id").alias("left_id"),
                    F.col("r.event_id").alias("right_id")))


def run_join_available_now(spark: SparkSession, left_path: str,
                           right_path: str, output_path: str,
                           checkpoint_path: str,
                           timeout_sec: int = 300,
                           watermark: str = "30 minutes") -> bool:
    """Drain the interval join with availableNow. NOTE: if the drain
    splits into multiple microbatches, rows older than watermark +
    interval are evicted between batches — that is correct streaming
    semantics, but callers comparing against a BATCH join must pass a
    watermark covering the input's full time span (see the registry
    query's span-derived watermark)."""
    joined = stream_stream_user_join(spark, left_path, right_path,
                                     watermark=watermark)
    q = (joined.writeStream.format("parquet")
         .option("path", output_path)
         .option("checkpointLocation", checkpoint_path)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    return q.awaitTermination(timeout_sec)


def stream_stream_user_join_left(spark: SparkSession, left_path: str,
                                 right_path: str,
                                 interval: str = "10 minutes",
                                 watermark: str = "30 minutes",
                                 files_per_trigger: int | None = None
                                 ) -> DataFrame:
    """LEFT OUTER variant of the interval join: matched pairs stream out
    like the inner join; a left event with NO right partner within the
    interval is emitted with a null right_id — but only once the global
    watermark (the MIN across both streams) passes l.ts + interval, which
    proves no matching right event can still arrive. That timing is the
    whole difficulty of draining this join, see run_left_join_drained."""
    rl = spark.readStream.schema(_EVENTS_SCHEMA)
    rr = spark.readStream.schema(_EVENTS_SCHEMA)
    if files_per_trigger:
        rl = rl.option("maxFilesPerTrigger", files_per_trigger)
        rr = rr.option("maxFilesPerTrigger", files_per_trigger)
    left = rl.parquet(left_path).withWatermark("ts", watermark).alias("l")
    right = rr.parquet(right_path).withWatermark("ts", watermark).alias("r")
    cond = F.expr(
        f"l.user_id = r.user_id AND r.ts >= l.ts "
        f"AND r.ts <= l.ts + interval {interval}")
    return (left.join(right, cond, "leftOuter")
            .select(F.col("l.user_id").alias("user_id"),
                    F.col("l.event_id").alias("left_id"),
                    F.col("r.event_id").alias("right_id")))


def append_watermark_sentinels(spark: SparkSession, path: str,
                               ts, start_id: int = -1) -> None:
    """Append ONE single-row parquet file with a far-future event time.
    Structured Streaming's file source orders batches by file mtime, so a
    sentinel written after the data files lands in a LATER microbatch and
    advances that stream's watermark past every real event."""
    row = [(start_id, ts, -999, "sentinel", 0.0, "")]
    (local_frame(spark, row, _EVENTS_SCHEMA)
     .coalesce(1).write.mode("append").parquet(path))


def run_left_join_drained(spark: SparkSession, left_path: str,
                          right_path: str, output_path: str,
                          checkpoint_path: str, sentinel_ts,
                          watermark: str,
                          timeout_sec: int = 300) -> bool:
    """Drain the LEFT OUTER interval join COMPLETELY with availableNow.

    Outer rows only emit when the min-of-both-streams watermark passes
    l.ts + interval, and state eviction runs one microbatch AFTER the
    watermark advance — so a plain drain of the data files would retain
    every unmatched left row in state forever and emit nothing. The
    protocol here: the caller appends TWO far-future sentinel events to
    EACH stream (append_watermark_sentinels), written after the data so
    mtime ordering puts them in trailing microbatches; with
    maxFilesPerTrigger=1 the first sentinel pair advances both stream
    watermarks, and the second pair forces the subsequent batches in
    which the expired left state flushes as null-right rows. Sentinel
    rows (negative ids) join only each other and are filtered by the
    caller. `sentinel_ts` must exceed max(event ts) + watermark delay +
    interval, or the flush is not guaranteed."""
    import time as _time

    for p in (left_path, right_path):
        append_watermark_sentinels(spark, p, sentinel_ts, start_id=-1)
        _time.sleep(0.1)  # mtime-order the four sentinel files
    for p in (left_path, right_path):
        append_watermark_sentinels(spark, p, sentinel_ts, start_id=-2)
        _time.sleep(0.1)
    joined = stream_stream_user_join_left(
        spark, left_path, right_path, watermark=watermark,
        files_per_trigger=1)
    q = (joined.writeStream.format("parquet")
         .option("path", output_path)
         .option("checkpointLocation", checkpoint_path)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    return q.awaitTermination(timeout_sec)
