"""Streaming session windows: boundary semantics pinned empirically
(exact-gap merge is inclusive; append emits sessions with
end <= final watermark, inclusive), plus batch-vs-stream parity —
the drained sink equals the batch session_window result minus the
still-open tail."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawspark.streaming.sessions import (
    run_sessions_available_now,
    session_aggregate,
)


def _events(spark, rows):
    return (spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, "
              "value double, props string")
        .selectExpr("event_id", "cast(ts as timestamp) ts", "user_id",
                    "event_type", "value", "props"))


def test_exact_gap_merges_and_open_tail_withheld(spark, tmp_path):
    inp, out, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    rows = [
        (1, "2024-01-01 00:00:00", 1, "a", 1.0, ""),
        (2, "2024-01-01 00:30:00", 1, "a", 2.0, ""),  # exactly gap: merges
        (3, "2024-01-01 04:30:00", 3, "a", 1.0, ""),  # end 05:00 == max: emits
        (4, "2024-01-01 05:00:00", 9, "a", 1.0, ""),  # open tail: withheld
    ]
    _events(spark, rows).coalesce(1).write.parquet(inp)
    run_sessions_available_now(spark, inp, out, ck)
    got = {(r["user_id"], str(r["session_start"]), str(r["session_end"]),
            r["n_events"], r["session_value"])
           for r in spark.read.parquet(out).collect()}
    assert got == {
        (1, "2024-01-01 00:00:00", "2024-01-01 01:00:00", 2, 3.0),
        (3, "2024-01-01 04:30:00", "2024-01-01 05:00:00", 1, 1.0),
    }


def test_stream_equals_batch_minus_open_sessions(spark, tmp_path):
    inp, out, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.coalesce(2).write.parquet(inp)
    run_sessions_available_now(spark, inp, out, ck)
    streamed = {tuple(r) for r in spark.read.parquet(out).collect()}
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    batch = session_aggregate(ev)
    closed = {tuple(r) for r in
              batch.filter(F.col("session_end") <= F.lit(max_ts)).collect()}
    open_tail = batch.filter(F.col("session_end") > F.lit(max_ts)).count()
    assert streamed == closed
    assert open_tail > 0  # the withheld set is non-empty on this corpus
