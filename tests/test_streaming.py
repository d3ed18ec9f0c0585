"""AvailableNow streaming extraction: drains current input, exactly-once
across re-invocations, matches the batch extractor's results."""

from __future__ import annotations

from crawspark.corpus import make_doc
from crawspark.oracle import extract_document
from crawspark.schema import DOCUMENTS_INTERLEAVED
from crawspark.streaming import drain
from crawspark.streaming.extract_stream import run_available_now


def _write(spark, docs, path, mode):
    df = spark.createDataFrame(
        [(d["doc_id"], d["spans"]) for d in docs], schema=DOCUMENTS_INTERLEAVED)
    df.coalesce(2).write.mode(mode).parquet(path)


def test_available_now_incremental(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    first = [make_doc(42, i) for i in range(20)]
    _write(spark, first, inp, "overwrite")
    run_available_now(spark, inp, out, ck)
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {d["doc_id"] for d in first}

    # New files land; second drain processes ONLY them (no duplicates).
    second = [make_doc(43, i) for i in range(10)]
    _write(spark, second, inp, "append")
    run_available_now(spark, inp, out, ck)
    rows = spark.read.parquet(out).collect()
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == 30 and len(set(ids)) == 30

    # Value parity with the batch/oracle path.
    by_id = {r["doc_id"]: r.asDict(recursive=True) for r in rows}
    d = first[0]
    exp = extract_document(d["doc_id"], d["spans"])
    assert [(s["kind"], s["text"]) for s in by_id[d["doc_id"]]["spans"]] == \
        [(s["kind"], s["text"]) for s in exp["spans"]]


def test_stream_score_exactly_once_redrain(spark, tmp_path):
    # The streaming classifier-scoring path: drain equals the batch
    # scorer row for row, and a manual re-drain with the checkpoint
    # KEPT appends nothing (exactly-once bookkeeping).
    import pytest

    from pyspark.sql import functions as F

    from crawspark.operators.lmquality import _clf_train, clf_score_docs
    from crawspark.sources import read_testdata

    sf = "/root/testdata/sf0.001"
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    docs = read_testdata(spark, sf, "documents")
    # repartition, not coalesce: the source reads as ONE partition
    # and coalesce cannot increase it — one file would mean one batch
    (docs.select("doc_id", "source", "text")
     .repartition(4).write.parquet(inp))
    _, _, _, w = _clf_train(spark, sf)

    def drain_input() -> None:
        stream = (spark.readStream.schema(
            "doc_id long, source string, text string")
            .option("maxFilesPerTrigger", 1).parquet(inp))
        drain(stream.writeStream.foreachBatch(
            lambda b, _i: clf_score_docs(b, w).write.mode("append")
            .parquet(out)), ck)

    drain_input()
    # the drain must actually SPLIT into microbatches (maxFilesPerTrigger
    # is a source option; on the writer it is silently ignored and the
    # 4-file input collapses to one batch — review finding): the stream
    # checkpoint records one offset file per microbatch
    import os
    n_batches = len([f for f in os.listdir(os.path.join(ck, "offsets"))
                     if not f.startswith(".")])
    assert n_batches >= 2, n_batches
    got = {r["doc_id"]: r["score"]
           for r in spark.read.parquet(out).collect()}
    batch = {r["doc_id"]: r["score"]
             for r in clf_score_docs(docs, w).collect()}
    # tolerance, not float equality: the two runs sum x*w under
    # different physical partitionings, so z can differ in the last ulp
    # and flip a round-to-4dp boundary (review finding)
    assert len(got) == 500 and got.keys() == batch.keys()
    for d in got:
        assert got[d] == pytest.approx(batch[d], abs=1e-4), d
    drain_input()  # checkpoint kept: no new files, nothing appended
    assert spark.read.parquet(out).count() == 500


def test_left_outer_interval_join_emits_unmatched(spark, tmp_path):
    # The sentinel-drain protocol (run_left_join_drained): matched pairs
    # stream like the inner join; left events with no partner inside the
    # 10-minute interval emit with a NULL right_id once both watermarks
    # pass their expiry. Hand-built case covers all three outcomes:
    # matched, partner-outside-interval, no-partner-at-all.
    from datetime import datetime, timedelta

    from crawspark.streaming.joined import run_left_join_drained

    t0 = datetime(2026, 1, 1, 12, 0, 0)
    left_rows = [
        (1, t0, 100, "l", 0.0, ""),                        # matched
        (2, t0 + timedelta(minutes=5), 101, "l", 0.0, ""),  # partner late
        (3, t0 + timedelta(minutes=1), 102, "l", 0.0, ""),  # no partner
    ]
    right_rows = [
        (11, t0 + timedelta(minutes=2), 100, "r", 0.0, ""),   # pairs w/ 1
        (12, t0 + timedelta(minutes=20), 101, "r", 0.0, ""),  # 15min gap
    ]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    left, right, out, ck = (str(tmp_path / d)
                            for d in ("left", "right", "out", "ck"))
    spark.createDataFrame(left_rows, schema).repartition(2) \
        .write.mode("overwrite").parquet(left)
    spark.createDataFrame(right_rows, schema).repartition(2) \
        .write.mode("overwrite").parquet(right)
    # watermark 1h covers the 20-minute span; sentinel beyond
    # max_ts + 1h + 10min with margin
    sentinel_ts = t0 + timedelta(hours=3)
    run_left_join_drained(spark, left, right, out, ck,
                          sentinel_ts=sentinel_ts, watermark="1 hour")
    got = {(r.user_id, r.left_id, r.right_id)
           for r in spark.read.parquet(out).filter("left_id >= 0").collect()}
    assert got == {(100, 1, 11), (101, 2, None), (102, 3, None)}, got


def test_stream_moji_exactly_once_redrain(spark, tmp_path):
    # The streamed mojibake repair: multi-microbatch drain equals the
    # batch repair row for row (hashes are exact string md5s — no float
    # tolerance needed), and a re-drain with the checkpoint KEPT
    # appends nothing.
    import os

    from crawspark.operators.textops import moji_augment, moji_repair
    from crawspark.sources import read_testdata

    sf = "/root/testdata/sf0.001"
    inp, out, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    docs = read_testdata(spark, sf, "documents")
    moji_augment(docs).repartition(4).write.parquet(inp)

    def drain_input() -> None:
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(inp))
        drain(stream.writeStream.foreachBatch(
            lambda b, _i: moji_repair(b).write.mode("append").parquet(out)),
            ck)

    drain_input()
    n_batches = len([f for f in os.listdir(os.path.join(ck, "offsets"))
                     if not f.startswith(".")])
    assert n_batches >= 2, n_batches
    got = {r["doc_id"]: (r["n_fixed"], r["fixed_md5"])
           for r in spark.read.parquet(out).collect()}
    batch = {r["doc_id"]: (r["n_fixed"], r["fixed_md5"])
             for r in moji_repair(moji_augment(docs)).collect()}
    assert got == batch
    n = len(got)
    drain_input()  # checkpoint kept: no new files, nothing appended
    assert spark.read.parquet(out).count() == n


def test_drain_timeout_stops_query(spark, tmp_path, monkeypatch):
    # A drain still running at DRAIN_TIMEOUT_S raises TimeoutError AND
    # stops its query: the next invocation clears the checkpoint and
    # sink, which must never race a query that is still writing.
    import os
    import time

    import pytest

    import crawspark.streaming as streaming

    inp, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    spark.range(0, 4, 1, 4).write.parquet(inp)
    assert len([f for f in os.listdir(inp) if f.endswith(".parquet")]) == 4
    monkeypatch.setattr(streaming, "DRAIN_TIMEOUT_S", 1)
    stream = (spark.readStream.schema("id long")
              .option("maxFilesPerTrigger", 1).parquet(inp))
    with pytest.raises(TimeoutError):
        drain(stream.writeStream.foreachBatch(lambda _b, _i: time.sleep(3)),
              ck)
    assert spark.streams.active == []
