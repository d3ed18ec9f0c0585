"""Idempotent-resume contract (SURVEY.md §5.2.4): interrupt after k
partitions, re-run, output equals a single uninterrupted run and no
partition is double-counted."""

from __future__ import annotations

import pytest

from crawspark.checkpoint import CheckpointedExtraction
from crawspark.corpus import make_doc
from crawspark.schema import DOCUMENTS_INTERLEAVED
from crawspark.sources.tables import ParquetBackend


@pytest.fixture()
def docs_df(spark):
    docs = [make_doc(42, i) for i in range(60)]
    return spark.createDataFrame(
        [(d["doc_id"], d["spans"]) for d in docs], schema=DOCUMENTS_INTERLEAVED)


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
    jobs, read from the status tracker and each stage's RDD graph."""
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()

    def scopes(cluster):
        kids = cluster.childClusters()
        return [cluster.name()] + [n for i in range(kids.size())
                                   for n in scopes(kids.apply(i))]

    out = []
    for job in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(job).stageIds:
            names = scopes(store.operationGraphForStage(sid).rootCluster())
            if any(op in n for n in names
                   for op in ("Python", "InArrow", "InPandas")):
                info = tracker.getStageInfo(sid)
                if info.numCompletedTasks:  # skipped stages run nothing
                    out.append(info.numTasks)
    return out


def test_resume_runs_at_most_default_parallelism_python_tasks(
        spark, docs_df, tmp_path):
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
    assert tasks and max(tasks) <= sc.defaultParallelism
    assert r0["partitions_processed"] == 0
    assert not _python_stages(spark, "resume-nothing")


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
