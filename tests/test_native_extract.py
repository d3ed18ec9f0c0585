"""Worker-native extraction job: results match the JVM-path extraction and
the oracle; file-granular resume skips completed shards."""

from __future__ import annotations

from crawspark.corpus import make_doc
from crawspark.operators.native_extract import (
    native_extract_job,
    run_native_checkpointed,
)
from crawspark.oracle import extract_document
from crawspark.schema import DOCUMENTS_INTERLEAVED


def _write_input(spark, path, n=40):
    docs = [make_doc(42, i) for i in range(n)]
    df = spark.createDataFrame(
        [(d["doc_id"], d["spans"]) for d in docs], schema=DOCUMENTS_INTERLEAVED)
    df.repartition(4).write.mode("overwrite").parquet(path)
    return docs


def test_native_matches_oracle(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    docs = _write_input(spark, inp)
    metrics = native_extract_job(spark, inp, out).collect()
    assert sum(m["docs_out"] for m in metrics) == 40
    got = {r["doc_id"]: r.asDict(recursive=True)
           for r in spark.read.parquet(out).collect()}
    for d in docs:
        exp = extract_document(d["doc_id"], d["spans"])
        g = got[d["doc_id"]]
        assert [(s["kind"], s["text"], s["media_ref"]) for s in g["spans"]] \
            == [(s["kind"], s["text"], s["media_ref"]) for s in exp["spans"]]
        assert g["lang"] == exp["lang"]


def test_split_units_match_whole_files(spark, tmp_path):
    # Row-group-range work units (plan_units — the wide-cluster
    # straggler-tail fix) must produce content-identical extraction:
    # same doc set, same spans, same metric totals as per-file tasks.
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from crawspark.operators.native_extract import plan_units

    inp = str(tmp_path / "in")
    docs = [make_doc(7, i) for i in range(40)]
    import os

    os.makedirs(inp)
    for shard in range(4):
        part = docs[shard * 10:(shard + 1) * 10]
        tbl = pa.Table.from_pylist(
            [{"doc_id": d["doc_id"], "spans": d["spans"]} for d in part])
        # multi-RG shards (3 rows per row group -> 4 RGs each)
        pq.write_table(tbl, f"{inp}/part-{shard}.parquet",
                       row_group_size=3)
    units = plan_units(sorted(f"{inp}/{f}" for f in os.listdir(inp)), 8)
    assert len(units) == 8 and all(hi > lo for _, lo, hi in units)
    m_whole = native_extract_job(spark, inp, str(tmp_path / "w"))
    m_split = native_extract_job(spark, inp, str(tmp_path / "s"),
                                 target_units=8)
    agg = lambda m: tuple(m.agg(F.sum("docs_out"),  # noqa: E731
                                F.sum("spans_out")).collect()[0])
    assert agg(m_whole) == agg(m_split)
    w = spark.read.parquet(str(tmp_path / "w")).select(
        "doc_id", "lang", "n_spans")
    s = spark.read.parquet(str(tmp_path / "s")).select(
        "doc_id", "lang", "n_spans")
    assert w.exceptAll(s).count() == 0 and s.exceptAll(w).count() == 0


def test_split_units_handle_zero_rowgroup_files(spark, tmp_path):
    # Spark writes zero-row-group parquet files for empty partitions;
    # plan_units must plan them as one empty unit (r5 review finding:
    # divmod-by-zero crashed planning), and split mode must refuse to
    # combine with checkpointed resume (sub-file units carry no
    # fingerprints).
    import pytest
    from pyspark.sql import functions as F

    inp = str(tmp_path / "in")
    docs = [make_doc(9, i) for i in range(6)]
    df = spark.createDataFrame(
        [(d["doc_id"], d["spans"]) for d in docs],
        schema=DOCUMENTS_INTERLEAVED)
    # partition by a filter that leaves one partition empty
    df.repartition(3, F.col("doc_id")).where("doc_id != 'nope'") \
        .write.mode("overwrite").parquet(inp)
    # force an empty part file alongside
    spark.createDataFrame([], DOCUMENTS_INTERLEAVED) \
        .coalesce(1).write.mode("append").parquet(inp)
    m = native_extract_job(spark, inp, str(tmp_path / "out"),
                           target_units=64)
    assert m.agg(F.sum("docs_out")).collect()[0][0] == 6
    with pytest.raises(ValueError, match="incompatible"):
        native_extract_job(spark, inp, str(tmp_path / "out2"),
                           done_files={"x.parquet"}, target_units=8)


def test_native_resume_invalidates_on_drift(spark, tmp_path):
    # A checkpointed shard whose input file is rewritten must be
    # re-extracted on resume (fingerprint mismatch), while untouched
    # shards stay skipped.
    import os

    import pyarrow.parquet as pq

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    _write_input(spark, inp)
    r1 = run_native_checkpointed(spark, inp, out, ck, "r1",
                                 "2026-01-01 00:00:00")
    assert r1["files_processed"] == 4
    target = sorted(f for f in os.listdir(inp) if f.endswith(".parquet"))[0]
    path = os.path.join(inp, target)
    tbl = pq.read_table(path)
    pq.write_table(tbl.slice(0, tbl.num_rows - 1), path)  # drop one doc
    r2 = run_native_checkpointed(spark, inp, out, ck, "r1",
                                 "2026-01-01 01:00:00")
    assert r2["files_processed"] == 1 and r2["files_skipped"] == 3
    n_docs = spark.read.parquet(out).count()
    assert n_docs == 39  # drifted shard re-extracted with one fewer doc


def test_native_resume_invalidates_on_payload_drift(spark, tmp_path):
    # ADVICE r2: a rewritten shard with UNCHANGED doc_ids but different
    # payload bytes must also re-extract (content signature component of
    # the fingerprint), not silently keep stale output.
    import os

    import pyarrow.parquet as pq

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    _write_input(spark, inp)
    run_native_checkpointed(spark, inp, out, ck, "r1", "2026-01-01 00:00:00")
    target = sorted(f for f in os.listdir(inp) if f.endswith(".parquet"))[0]
    path = os.path.join(inp, target)
    tbl = pq.read_table(path)
    rows = tbl.to_pylist()  # same doc_ids, payload replaced
    for r in rows:
        for s in r["spans"]:
            if s["kind"] == "html":
                s["text"] = "<html><body><p>rewritten payload body "
                s["text"] += "with enough words to extract now</p></body></html>"
    import pyarrow as pa

    pq.write_table(pa.Table.from_pylist(rows, schema=tbl.schema), path)
    r2 = run_native_checkpointed(spark, inp, out, ck, "r1",
                                 "2026-01-01 01:00:00")
    assert r2["files_processed"] == 1 and r2["files_skipped"] == 3


def test_native_checkpoint_resume(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    _write_input(spark, inp)
    r1 = run_native_checkpointed(spark, inp, out, ck, "r1",
                                 "2026-01-01 00:00:00")
    assert r1["files_processed"] == 4 and r1["docs_out"] == 40
    # Re-run: everything skipped, output unchanged.
    before = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    r2 = run_native_checkpointed(spark, inp, out, ck, "r1",
                                 "2026-01-01 01:00:00")
    assert r2["files_processed"] == 0 and r2["files_skipped"] == 4
    after = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert before == after and len(before) == 40


def test_native_inputs_a_b_a_equal_single_run_on_a(spark, tmp_path):
    # One input file rewritten A -> B -> A under one run_id: the third run
    # must compare against B's (latest) fingerprint and re-extract, so the
    # output equals a single run on A, not B's stale shard.
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    inp = str(tmp_path / "in")
    os.makedirs(inp)
    path = os.path.join(inp, "part-0.parquet")

    def write(seed):
        docs = [make_doc(seed, i) for i in range(8)]
        pq.write_table(pa.Table.from_pylist(
            [{"doc_id": d["doc_id"], "spans": d["spans"]} for d in docs]),
            path)

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    runs = []
    for hour, seed in enumerate((42, 43, 42)):
        write(seed)
        runs.append(run_native_checkpointed(
            spark, inp, out, ck, "r1", f"2026-01-01 0{hour}:00:00"))
    assert [r["files_processed"] for r in runs] == [1, 1, 1]
    single = str(tmp_path / "single")
    run_native_checkpointed(spark, inp, single, str(tmp_path / "ck1"), "r1",
                            "2026-01-01 00:00:00")

    def rows(p):
        return sorted((r["doc_id"], r["lang"], r["n_spans"], str(r["spans"]))
                      for r in spark.read.parquet(p).collect())
    assert rows(out) == rows(single)
