"""Watermarked tumbling-window aggregation over the events stream matches
the equivalent batch aggregation once the stream is fully drained."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from crawspark.sources import read_testdata
from crawspark.streaming.windowed import run_windowed_available_now


def test_windowed_counts_match_batch(spark, sf_dir, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    # Stage the events table as stream input files.
    read_testdata(spark, sf_dir, "events").coalesce(2).write.parquet(inp)

    # Append mode emits only windows the watermark has closed; add a late
    # max-ts batch so every earlier window finalizes deterministically.
    mx = read_testdata(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    (spark.createDataFrame(
        [(999999, mx, 0, "closer", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")
     .coalesce(1).write.mode("append").parquet(inp))

    run_windowed_available_now(spark, inp, out, ck)
    got = {(r["window_start"], r["event_type"]): r["n_events"]
           for r in spark.read.parquet(out).collect()}

    batch = (spark.read.parquet(inp)
             .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
             .agg(F.count("*").alias("n")))
    expected_all = {(r["w"]["start"], r["event_type"]): r["n"]
                    for r in batch.collect()}
    # Every emitted window must match batch exactly...
    assert got, "stream emitted nothing"
    for k, v in got.items():
        assert expected_all[k] == v
    # ...and coverage must be substantial (only watermark-open tail differs).
    assert len(got) >= 0.8 * len(expected_all)
    shutil.rmtree(ck, ignore_errors=True)
