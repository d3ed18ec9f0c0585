"""Stateful streaming dedup: first occurrence wins across micro-batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawspark.streaming import drain
from crawspark.streaming.stateful import first_seen_dedup_stream


def _write_batch(spark, rows, path, mode):
    (spark.createDataFrame(rows, "doc_id string, content_hash string")
     .coalesce(1).write.mode(mode).parquet(path))


def test_first_seen_dedup_across_batches(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    _write_batch(spark, [("d1", "h1"), ("d2", "h1"), ("d3", "h2")],
                 inp, "overwrite")

    def drain_input() -> None:
        stream = (spark.readStream
                  .schema("doc_id string, content_hash string").parquet(inp))
        drain(first_seen_dedup_stream(stream)
              .writeStream.format("parquet").option("path", out), ck)

    drain_input()
    got = {(r["content_hash"], r["doc_id"])
           for r in spark.read.parquet(out).collect()}
    assert got == {("h1", "d1"), ("h2", "d3")}

    # Second batch: h1/h2 are dups (state remembers), h3 is new.
    _write_batch(spark, [("d9", "h1"), ("d8", "h3"), ("d7", "h2")],
                 inp, "append")
    drain_input()
    got = {(r["content_hash"], r["doc_id"])
           for r in spark.read.parquet(out).collect()}
    assert got == {("h1", "d1"), ("h2", "d3"), ("h3", "d8")}
