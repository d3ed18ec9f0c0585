"""Heavy-tail memory kill-test (VERDICT r3 next-round #5): a monster
document cannot OOM a worker. The byte-bounded re-chunk generator is
exercised directly (pure Python, tracemalloc-audited) and the checkpointed
resume end to end with a 100x-outlier shard."""

from __future__ import annotations

import tracemalloc

from crawspark.operators.extract import (
    _chunk_docs,
    _interleaved_batch as _batch,
    _iter_rows,
    extract_documents,
)
from crawspark.oracle import extract_document

MB = 1 << 20


def _doc(doc_id: str, payload: str) -> dict:
    return {"doc_id": doc_id,
            "spans": [{"kind": "html", "text": payload,
                       "media_ref": None, "offset": 0}]}


def _rows(batches):
    return (row for batch in batches for row in _iter_rows(batch))


def test_rechunk_memory_bounded_by_target():
    """Streaming 48 MB of payload through the re-chunker with a 1 MB
    target must hold peak Python heap near the target + one slice — NOT
    the whole stream (the r3 full-batch to_pylist() held every row of an
    input batch as Python objects at once)."""
    page = "<p>" + "the word of the day " * 500 + "</p>"  # ~10 KB

    def gen():
        # 4 input batches x 2000 docs x ~10 KB = ~80 MB total payload.
        # Source-side dicts share ONE page string (cheap to build), but
        # to_pylist() materializes a DISTINCT str per row — so the old
        # full-batch conversion held ~20 MB of row objects per batch and
        # fails this bound; slice-wise conversion holds ~1.3 MB.
        for b in range(4):
            yield _batch([_doc(f"d{b}-{i}", page) for i in range(2000)])

    # Warm-up pass: lazy module imports triggered by the first Arrow
    # conversion (~14 MB of module objects) must not count as pipeline
    # memory.
    for _ in _chunk_docs(_rows([_batch([_doc("w", page)])]), 1 * MB):
        pass

    tracemalloc.start()
    tracemalloc.reset_peak()
    n_rows = 0
    for chunk in _chunk_docs(_rows(gen()), 1 * MB):
        n_rows += len(chunk)  # consume and drop — the streaming regime
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert n_rows == 4 * 2000
    # Peak holds: pending chunk (~1 MB payload + per-object overhead) +
    # one 128-row conversion slice (~1.3 MB) + one source batch's Python
    # strings (~3 MB before Arrow conversion frees them). 12 MB is 4x
    # slack over that; the broken (full-batch copy) regime measures >2x
    # higher because every batch doubles into pylist rows at once.
    assert peak < 12 * MB, f"re-chunk peak {peak / MB:.1f} MB"


def test_monster_doc_travels_alone():
    monster = "x" * (5 * MB)
    docs = ([_doc(f"s{i}", "small page") for i in range(10)]
            + [_doc("monster", monster)]
            + [_doc(f"t{i}", "small page") for i in range(10)])
    chunks = list(_chunk_docs(_rows([_batch(docs)]), 1 * MB))
    # The monster flushes the chunk it lands in; smaller docs never ride
    # along after it, and no chunk exceeds target + one monster.
    monster_chunk = next(c for c in chunks
                         if any(r["doc_id"] == "monster" for r in c))
    assert monster_chunk[-1]["doc_id"] == "monster"
    for c in chunks:
        payload = sum(len(s["text"] or "") for r in c for s in r["spans"])
        assert payload <= 1 * MB + 5 * MB


def test_monster_doc_spark_parity(spark):
    # One 4 MB real-HTML outlier (400x the median page) through the
    # mapInArrow path: exact span-sequence parity with the frozen oracle.
    para = "<p>" + "the story of the village was told in the winter " * 40 \
        + "</p>"
    html = ("<html><head><title>Monster | Site</title></head><body>"
            "<div id='content' class='article-body'>" + para * 2200
            + "</div></body></html>")
    assert len(html) > 4 * MB
    docs = [_doc("monster", html), _doc("small", "<p>tiny</p>")]
    df = spark.createDataFrame(
        [(d["doc_id"], d["spans"]) for d in docs],
        schema="doc_id string, spans array<struct<kind:string,text:string,"
               "media_ref:string,offset:int>>")
    got = {r["doc_id"]: r.asDict(recursive=True)
           for r in extract_documents(df).collect()}
    exp = extract_document("monster", docs[0]["spans"])
    assert got["monster"]["n_spans"] == exp["n_spans"] == 2201
    assert [(s["kind"], s["text"]) for s in got["monster"]["spans"]] \
        == [(s["kind"], s["text"]) for s in exp["spans"]]


def test_checkpointed_resume_heavy_shard(spark, tmp_path):
    """Checkpointed resume on a shard holding a 100x outlier: correct
    metrics, oracle-equal output, and a rerun processes nothing."""
    from crawspark.checkpoint import CheckpointedExtraction
    from crawspark.corpus import make_doc
    from crawspark.schema import DOCUMENTS_INTERLEAVED
    from crawspark.sources.tables import ParquetBackend

    docs = [make_doc(7, i, min_paras=2, max_paras=4) for i in range(30)]
    big_para = "<p>" + "all of the people were there for the story " * 60 \
        + "</p>"
    docs.append(_doc("outlier", (
        "<html><head><title>Big | Site</title></head><body>"
        "<div id='content' class='article-body'>" + big_para * 900
        + "</div></body></html>")))
    inp = str(tmp_path / "in")
    df = spark.createDataFrame(
        [(d["doc_id"], d["spans"]) for d in docs],
        schema=DOCUMENTS_INTERLEAVED)
    df.repartition(3).write.mode("overwrite").parquet(inp)
    ck = CheckpointedExtraction(ParquetBackend(str(tmp_path / "hv")),
                                n_parts=3)
    r1 = ck.run(spark, spark.read.parquet(inp), "hv", "2026-01-01 00:00:00")
    assert r1["partitions_processed"] == 3 and r1["docs_out"] == 31
    got = {r["doc_id"]: r.asDict(recursive=True)
           for r in ck.backend.read(spark, "extracted_spans").collect()}
    assert len(got) == 31
    exp = extract_document("outlier", docs[-1]["spans"])
    g = got["outlier"]
    assert [(s["kind"], s["text"], s["media_ref"]) for s in g["spans"]] \
        == [(s["kind"], s["text"], s["media_ref"]) for s in exp["spans"]]
    # resume: nothing re-processed
    r2 = ck.run(spark, spark.read.parquet(inp), "hv", "2026-01-01 01:00:00")
    assert r2["partitions_processed"] == 0
