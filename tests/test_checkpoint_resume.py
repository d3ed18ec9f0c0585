"""Idempotent-resume contract (SURVEY.md §5.2.4): interrupt after k
partitions, re-run, output equals a single uninterrupted run and no
partition is double-counted."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawspark.checkpoint import CheckpointedExtraction
from crawspark.corpus import make_doc
from crawspark.schema import DOCUMENTS_INTERLEAVED
from crawspark.sources.tables import ParquetBackend, local_frame


@pytest.fixture()
def docs_df(spark):
    # A JVM-local input: a createDataFrame(<list>) input would add its
    # own PythonRDD stage to every scan of it.
    docs = [make_doc(42, i) for i in range(60)]
    return local_frame(spark, [(d["doc_id"], d["spans"]) for d in docs],
                       DOCUMENTS_INTERLEAVED)


def _results(spark, backend):
    return {r["doc_id"]: (r["n_spans"], r["lang"])
            for r in backend.read(spark, "extracted_spans").collect()}


def test_interrupt_then_resume_equals_single_run(spark, docs_df, tmp_path):
    single = CheckpointedExtraction(ParquetBackend(str(tmp_path / "single")),
                                    n_parts=8)
    r = single.run(spark, docs_df, run_id="r1", completed_ts="2026-01-01 00:00:00")
    assert r["partitions_processed"] == 8 and r["docs_out"] == 60
    expected = _results(spark, single.backend)

    resumed = CheckpointedExtraction(ParquetBackend(str(tmp_path / "resumed")),
                                     n_parts=8)
    # "Crash" after 3 partitions...
    r1 = resumed.run(spark, docs_df, run_id="r1",
                     completed_ts="2026-01-01 00:00:00", max_partitions=3)
    assert r1["partitions_processed"] == 3
    # ...then resume: only the remaining 5 run.
    r2 = resumed.run(spark, docs_df, run_id="r1",
                     completed_ts="2026-01-01 01:00:00")
    assert r2["partitions_processed"] == 5
    assert _results(spark, resumed.backend) == expected

    # Third invocation: nothing pending, results unchanged.
    r3 = resumed.run(spark, docs_df, run_id="r1",
                     completed_ts="2026-01-01 02:00:00")
    assert r3["partitions_processed"] == 0
    assert _results(spark, resumed.backend) == expected

    # Checkpoint lineage: each partition exactly once, counts consistent.
    ckpt = resumed.backend.read(spark, "checkpoint").collect()
    keys = [c["partition_key"] for c in ckpt]
    assert len(keys) == 8 and len(set(keys)) == 8
    assert sum(c["docs_out"] for c in ckpt) == 60
    assert all(c["docs_in"] == c["docs_out"] for c in ckpt)
    assert all(c["input_fingerprint"] for c in ckpt)


def test_resume_over_snapshot_backend_with_time_travel(spark, docs_df,
                                                       tmp_path):
    # The Iceberg-semantics backend drives the SAME resume contract
    # (overwrite_partitions = atomic snapshot commit), and the interrupted
    # intermediate state stays readable as its own snapshot — the
    # overwritePartitions wire-up the r2 verdict deferred on the missing
    # runtime jar, exercised via the local emulation.
    from crawspark.sources.tables import SnapshotParquetBackend

    be = SnapshotParquetBackend(str(tmp_path / "snap"))
    ck = CheckpointedExtraction(be, n_parts=8)
    r1 = ck.run(spark, docs_df, run_id="r1",
                completed_ts="2026-01-01 00:00:00", max_partitions=3)
    assert r1["partitions_processed"] == 3
    v_partial = be.current_version("extracted_spans")
    partial = _results(spark, be)
    r2 = ck.run(spark, docs_df, run_id="r1",
                completed_ts="2026-01-01 01:00:00")
    assert r2["partitions_processed"] == 5
    full = _results(spark, be)
    assert len(full) == 60 and set(partial) <= set(full)
    # time travel: the pre-resume snapshot is still exactly readable
    travelled = {r["doc_id"]: (r["n_spans"], r["lang"]) for r in
                 be.read_version(spark, "extracted_spans", v_partial)
                 .collect()}
    assert travelled == partial
    # matches the plain-parquet backend's output bit for bit
    ref = CheckpointedExtraction(ParquetBackend(str(tmp_path / "ref")),
                                 n_parts=8)
    ref.run(spark, docs_df, run_id="r1", completed_ts="2026-01-01 00:00:00")
    assert _results(spark, ref.backend) == full


def test_input_drift_invalidates_checkpoint(spark, docs_df, tmp_path):
    ck = CheckpointedExtraction(ParquetBackend(str(tmp_path / "drift")),
                                n_parts=4)
    ck.run(spark, docs_df, run_id="r1", completed_ts="2026-01-01 00:00:00")
    # Same run_id but different input → fingerprints mismatch → all rerun.
    docs2 = [make_doc(43, i) for i in range(30)]
    df2 = spark.createDataFrame(
        [(d["doc_id"], d["spans"]) for d in docs2], schema=DOCUMENTS_INTERLEAVED)
    r = ck.run(spark, df2, run_id="r1", completed_ts="2026-01-01 01:00:00")
    assert r["partitions_processed"] == 4
    assert r["docs_out"] == 30


def test_input_payload_drift_invalidates_checkpoint(spark, docs_df, tmp_path):
    # ADVICE r2: documents rewritten under their old doc_ids must
    # re-extract their partition, not keep its stale output.
    from crawspark.checkpoint import with_partition_key
    from crawspark.oracle import extract_document

    ck = CheckpointedExtraction(ParquetBackend(str(tmp_path / "payload")),
                                n_parts=4)
    ck.run(spark, docs_df, run_id="r1", completed_ts="2026-01-01 00:00:00")
    keyed = with_partition_key(docs_df, 4).collect()
    target = min(r["partition_key"] for r in keyed)
    rewritten = {r["doc_id"]: make_doc(43, i)["spans"]
                 for i, r in enumerate(keyed) if r["partition_key"] == target}
    df2 = spark.createDataFrame(
        [(r["doc_id"], rewritten.get(r["doc_id"], r["spans"])) for r in keyed],
        schema=DOCUMENTS_INTERLEAVED)
    r = ck.run(spark, df2, run_id="r1", completed_ts="2026-01-01 01:00:00")
    assert r["partitions_processed"] == 1
    assert r["docs_out"] == len(rewritten)
    got = _results(spark, ck.backend)
    assert len(got) == 60
    for doc_id, spans in rewritten.items():
        exp = extract_document(doc_id, spans)
        assert got[doc_id] == (exp["n_spans"], exp["lang"])


def _rows(spark, backend):
    return sorted(tuple(r) for r in backend.read(spark, "extracted_spans")
                  .select("partition_key", "doc_id", "n_spans", "lang")
                  .collect())


def test_inputs_a_b_a_equal_single_run_on_a(spark, docs_df, tmp_path):
    # B drops a few documents; the third run sees A again. The partitions
    # B changed hold B's output although an older done row matches A, so
    # only the latest done row may decide the skip.
    single = CheckpointedExtraction(ParquetBackend(str(tmp_path / "single")),
                                    n_parts=8)
    single.run(spark, docs_df, run_id="r1", completed_ts="2026-01-01 00:00:00")

    ck = CheckpointedExtraction(ParquetBackend(str(tmp_path / "aba")),
                                n_parts=8)
    ck.run(spark, docs_df, run_id="r1", completed_ts="2026-01-01 00:00:00")
    b = ck.run(spark, docs_df.filter(~docs_df.doc_id.isin(
        [make_doc(42, i)["doc_id"] for i in range(3)])),
        run_id="r1", completed_ts="2026-01-01 01:00:00")
    assert 0 < b["partitions_processed"] < 8
    a = ck.run(spark, docs_df, run_id="r1", completed_ts="2026-01-01 02:00:00")
    assert _rows(spark, ck.backend) == _rows(spark, single.backend)
    assert a["partitions_processed"] == b["partitions_processed"]


def _python_stages(spark, group):
    """Task counts of the stages that ran a Python operator in the group's
    jobs, read from the status tracker and each stage's RDD graph: its
    cluster names (``MapInArrow``, ...) and its RDD node names
    (``PythonRDD``, the stage that ``createDataFrame(<python list>)``
    runs)."""
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()

    def names(cluster):
        nodes, kids = cluster.childNodes(), cluster.childClusters()
        return ([cluster.name()]
                + [nodes.apply(i).name() for i in range(nodes.size())]
                + [n for i in range(kids.size())
                   for n in names(kids.apply(i))])

    out = []
    for job in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(job).stageIds:
            graph = names(store.operationGraphForStage(sid).rootCluster())
            if any(op in n for n in graph
                   for op in ("Python", "InArrow", "InPandas")):
                info = tracker.getStageInfo(sid)
                if info.numCompletedTasks:  # skipped stages run nothing
                    out.append(info.numTasks)
    return out


def test_resume_runs_at_most_default_parallelism_python_tasks(
        spark, docs_df, tmp_path):
    # The extraction is the only Python stage of a resume: the per-key
    # counts come from the results write and the checkpoint rows are a
    # JVM-local relation, so the bookkeeping runs no Python task.
    sc = spark.sparkContext
    n_parts = 4 * sc.defaultParallelism
    ck = CheckpointedExtraction(ParquetBackend(str(tmp_path / "w")),
                                n_parts=n_parts)
    ck.run(spark, docs_df, run_id="r1", completed_ts="2026-01-01 00:00:00",
           max_partitions=1)
    try:
        sc.setJobGroup("resume-pending", "resume with pending partitions")
        r = ck.run(spark, docs_df, run_id="r1",
                   completed_ts="2026-01-01 01:00:00")
        sc.setJobGroup("resume-nothing", "resume with nothing pending")
        r0 = ck.run(spark, docs_df, run_id="r1",
                    completed_ts="2026-01-01 02:00:00")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert r["partitions_processed"] == n_parts - 1
    tasks = _python_stages(spark, "resume-pending")
    assert len(tasks) == 1 and tasks[0] <= sc.defaultParallelism, tasks
    assert r0["partitions_processed"] == 0
    assert not _python_stages(spark, "resume-nothing")


@pytest.mark.parametrize("backend", ["parquet", "snapshot"])
@pytest.mark.parametrize("max_partitions", [None, 3])
def test_done_rows_count_what_the_results_table_holds(
        spark, docs_df, tmp_path, backend, max_partitions):
    # docs_out/spans_out are measured on the results write, so each done
    # row must agree with its partition in the results table.
    from crawspark.sources.tables import SnapshotParquetBackend

    be = (ParquetBackend if backend == "parquet"
          else SnapshotParquetBackend)(str(tmp_path / backend))
    ck = CheckpointedExtraction(be, n_parts=8)
    r = ck.run(spark, docs_df, run_id="r1",
               completed_ts="2026-01-01 00:00:00",
               max_partitions=max_partitions)
    held = {row[0]: (row[1], row[2]) for row in
            be.read(spark, "extracted_spans").groupBy("partition_key")
            .agg(F.count("*"), F.sum("n_spans")).collect()}
    done = {c["partition_key"]: (c["docs_out"], c["spans_out"])
            for c in be.read(spark, "checkpoint").collect()}
    assert len(done) == r["partitions_processed"] == (max_partitions or 8)
    assert done == held
    assert r["docs_out"] == sum(d for d, _ in held.values())
    assert r["spans_out"] == sum(s for _, s in held.values())


def test_checkpoint_done_rows_bounded_by_n_parts(spark, docs_df, tmp_path,
                                                 caplog):
    root = str(tmp_path / "bound")
    CheckpointedExtraction(ParquetBackend(root), n_parts=8).run(
        spark, docs_df, run_id="r1", completed_ts="2026-01-01 00:00:00")
    # Fewer logical partitions under the same run_id would leave the old
    # partitions' results behind; the done-row collect refuses it.
    with caplog.at_level("INFO", logger="crawspark.checkpoint"):
        with pytest.raises(RuntimeError, match="exceed the bound 4"):
            CheckpointedExtraction(ParquetBackend(root), n_parts=4).run(
                spark, docs_df, run_id="r1",
                completed_ts="2026-01-01 01:00:00")
    assert "input fingerprint rows: 4 rows collected (bound 4)" in caplog.text
    assert "checkpoint done rows: 8 rows collected (bound 4)" in caplog.text


def _backend(kind, root):
    from crawspark.sources.tables import SnapshotParquetBackend

    return (ParquetBackend if kind == "parquet"
            else SnapshotParquetBackend)(str(root))


@pytest.mark.parametrize("backend", ["parquet", "snapshot"])
def test_vanished_partition_a_b_a(spark, docs_df, tmp_path, backend):
    # B drops every document of one logical partition. Dynamic overwrite
    # alone would keep that partition's A output, so B's run must remove
    # it and record the key as empty; A again re-extracts it.
    from crawspark.checkpoint import with_partition_key
    from crawspark.report import run_report

    keyed = with_partition_key(docs_df, 8)
    gone = keyed.agg(F.min("partition_key")).first()[0]
    b_df = keyed.filter(F.col("partition_key") != gone).drop("partition_key")
    n_b = b_df.count()
    assert 0 < n_b < 60

    def single(df, name):
        ck = CheckpointedExtraction(_backend(backend, tmp_path / name),
                                    n_parts=8)
        ck.run(spark, df, run_id="r1", completed_ts="2026-01-01 00:00:00")
        return _rows(spark, ck.backend)

    ck = CheckpointedExtraction(_backend(backend, tmp_path / "aba"),
                                n_parts=8)
    ck.run(spark, docs_df, run_id="r1", completed_ts="2026-01-01 00:00:00")
    b = ck.run(spark, b_df, run_id="r1", completed_ts="2026-01-01 01:00:00")
    assert b == {"run_id": "r1", "partitions_processed": 1, "docs_out": 0,
                 "spans_out": 0}
    assert _rows(spark, ck.backend) == single(b_df, "b")
    row = [c for c in ck.backend.read(spark, "checkpoint").collect()
           if c["partition_key"] == gone][-1]
    assert (row["docs_in"], row["docs_out"], row["spans_out"],
            row["input_fingerprint"]) == (0, 0, 0, None)
    rep = run_report(spark, ck.backend).first()
    assert rep["partitions_done"] == 8
    assert rep["docs_in"] == rep["docs_out"] == n_b
    # the empty done row matches the absent input: nothing is pending
    again = ck.run(spark, b_df, run_id="r1",
                   completed_ts="2026-01-01 02:00:00")
    assert again["partitions_processed"] == 0
    a = ck.run(spark, docs_df, run_id="r1",
               completed_ts="2026-01-01 03:00:00")
    assert a["partitions_processed"] == 1 and a["docs_out"] == 60 - n_b
    assert _rows(spark, ck.backend) == single(docs_df, "a")


@pytest.mark.parametrize("backend", ["parquet", "snapshot"])
def test_every_partition_vanishing_leaves_no_rows(spark, docs_df, tmp_path,
                                                  backend):
    be = _backend(backend, tmp_path / backend)
    ck = CheckpointedExtraction(be, n_parts=8)
    ck.run(spark, docs_df, run_id="r1", completed_ts="2026-01-01 00:00:00")
    r = ck.run(spark, docs_df.limit(0), run_id="r1",
               completed_ts="2026-01-01 01:00:00")
    assert r["partitions_processed"] == 8 and r["docs_out"] == 0
    # a parquet table with no partition left is gone; a snapshot table
    # reads as an empty scan
    assert (not be.exists(spark, "extracted_spans")
            or be.read(spark, "extracted_spans").count() == 0)
    assert be.exists(spark, "extracted_spans") == (backend == "snapshot")


def test_each_run_appends_one_checkpoint_file(spark, docs_df, tmp_path):
    from crawspark.checkpoint import with_partition_key

    root = tmp_path / "files"
    ck = CheckpointedExtraction(ParquetBackend(str(root)), n_parts=8)
    gone = with_partition_key(docs_df, 8).agg(
        F.min("partition_key")).first()[0]
    shrunk = with_partition_key(docs_df, 8).filter(
        F.col("partition_key") != gone).drop("partition_key")
    files = []
    for i, (df, cap) in enumerate([(docs_df, 3), (docs_df, None),
                                   (shrunk, None)]):
        r = ck.run(spark, df, run_id="r1",
                   completed_ts=f"2026-01-01 0{i}:00:00", max_partitions=cap)
        assert r["partitions_processed"] == [3, 5, 1][i]
        files.append(len(list((root / "checkpoint.parquet").glob(
            "*.parquet"))))
    assert files == [1, 2, 3]
