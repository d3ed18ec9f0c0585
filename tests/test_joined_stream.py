"""Stream-stream interval join: the drained stream's pairs equal the
equivalent batch join exactly, and a re-drain with the checkpoint kept
emits nothing new (exactly-once over the file source)."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawspark.sources import read_testdata
from crawspark.streaming.joined import run_join_available_now


def test_stream_join_matches_batch(spark, sf_dir, tmp_path):
    left = str(tmp_path / "left")
    right = str(tmp_path / "right")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    events = read_testdata(spark, sf_dir, "events")
    events.filter(F.col("event_id") % 2 == 0).coalesce(2).write.parquet(left)
    events.filter(F.col("event_id") % 2 == 1).coalesce(2).write.parquet(right)

    run_join_available_now(spark, left, right, out, ck)
    got = sorted((r["user_id"], r["left_id"], r["right_id"])
                 for r in spark.read.parquet(out).collect())

    l = spark.read.parquet(left).alias("l")
    r = spark.read.parquet(right).alias("r")
    batch = (l.join(r, F.expr(
        "l.user_id = r.user_id AND r.ts >= l.ts "
        "AND r.ts <= l.ts + interval 10 minutes"))
        .select(F.col("l.user_id").alias("user_id"),
                F.col("l.event_id").alias("left_id"),
                F.col("r.event_id").alias("right_id")))
    expected = sorted((x["user_id"], x["left_id"], x["right_id"])
                      for x in batch.collect())
    assert got == expected and got, "stream join must equal the batch join"

    # second drain with the checkpoint kept: nothing new to process
    run_join_available_now(spark, left, right, out, ck)
    again = spark.read.parquet(out).count()
    assert again == len(got)
