"""Watermarked stream-stream interval join (SURVEY.md §2.7 extension).

The crawl/ingestion monitoring shape the other streaming operators don't
cover: two live event feeds correlated per user within a bounded time
interval. Both sides carry watermarks and the join condition pairs an
equality key with a time range — exactly what Structured Streaming needs
to bound the join state (rows older than watermark + interval are evicted
instead of accumulating forever, the property that keeps this runnable
against an unbounded 10^12-event feed). One builder,
``stream_stream_user_join``, serves the inner join and the LEFT OUTER
join (``how``); the outer join needs the sentinel-drain protocol of
``run_left_join_drained`` to emit its unmatched rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from crawspark.schema import EVENTS
from crawspark.sources import local_frame
from crawspark.streaming import drain


def stream_stream_user_join(left: DataFrame, right: DataFrame,
                            how: str = "inner",
                            interval: str = "10 minutes",
                            watermark: str = "30 minutes") -> DataFrame:
    """Join two event streams on user_id where the right event falls
    within ``interval`` AFTER the left event (inclusive bounds). With
    ``how="leftOuter"`` matched pairs stream out like the inner join; a
    left event with NO right partner within the interval is emitted with
    a null right_id — but only once the global watermark (the MIN across
    both streams) passes l.ts + interval, which proves no matching right
    event can still arrive. That timing is the whole difficulty of
    draining the outer join, see run_left_join_drained."""
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    cond = F.expr(
        f"l.user_id = r.user_id AND r.ts >= l.ts "
        f"AND r.ts <= l.ts + interval {interval}")
    return (l.join(r, cond, how)
            .select(F.col("l.user_id").alias("user_id"),
                    F.col("l.event_id").alias("left_id"),
                    F.col("r.event_id").alias("right_id")))


def run_join_available_now(spark: SparkSession, left_path: str,
                           right_path: str, output_path: str,
                           checkpoint_path: str,
                           watermark: str = "30 minutes") -> None:
    """Drain the inner interval join. NOTE: if the drain splits into
    multiple microbatches, rows older than watermark + interval are
    evicted between batches — that is correct streaming semantics, but
    callers comparing against a BATCH join must pass a watermark covering
    the input's full time span (see the registry query's span-derived
    watermark)."""
    read = spark.readStream.schema(EVENTS)
    joined = stream_stream_user_join(read.parquet(left_path),
                                     read.parquet(right_path),
                                     watermark=watermark)
    drain(joined.writeStream.format("parquet").option("path", output_path),
          checkpoint_path)


def append_watermark_sentinels(spark: SparkSession, path: str,
                               ts, start_id: int = -1) -> None:
    """Append ONE single-row parquet file with a far-future event time.
    Structured Streaming's file source orders batches by file mtime, so a
    sentinel written after the data files lands in a LATER microbatch and
    advances that stream's watermark past every real event."""
    row = [(start_id, ts, -999, "sentinel", 0.0, "")]
    (local_frame(spark, row, EVENTS)
     .coalesce(1).write.mode("append").parquet(path))


def run_left_join_drained(spark: SparkSession, left_path: str,
                          right_path: str, output_path: str,
                          checkpoint_path: str, sentinel_ts,
                          watermark: str) -> None:
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
    read = spark.readStream.schema(EVENTS).option("maxFilesPerTrigger", 1)
    joined = stream_stream_user_join(read.parquet(left_path),
                                     read.parquet(right_path), "leftOuter",
                                     watermark=watermark)
    drain(joined.writeStream.format("parquet").option("path", output_path),
          checkpoint_path)
