from __future__ import annotations

from crawspark.checkpoint import CheckpointedExtraction
from crawspark.corpus import make_doc
from crawspark.operators.extract import extract_documents
from crawspark.report import extraction_report, run_report
from crawspark.schema import DOCUMENTS_INTERLEAVED
from crawspark.sources.tables import ParquetBackend


def test_run_and_extraction_reports(spark, tmp_path):
    docs = [make_doc(42, i) for i in range(30)]
    df = spark.createDataFrame(
        [(d["doc_id"], d["spans"]) for d in docs], schema=DOCUMENTS_INTERLEAVED)
    backend = ParquetBackend(str(tmp_path))
    job = CheckpointedExtraction(backend, n_parts=4)
    job.run(spark, df, run_id="r9", completed_ts="2026-02-01 00:00:00")

    rep = run_report(spark, backend).collect()
    assert len(rep) == 1
    row = rep[0]
    assert row["run_id"] == "r9" and row["partitions_done"] == 4
    assert row["docs_in"] == row["docs_out"] == 30
    assert row["spans_out"] > 0

    # Input drift re-runs every partition under the same run_id; the
    # rollup counts each partition's latest row once.
    drift = [make_doc(43, i) for i in range(20)]
    job.run(spark, spark.createDataFrame(
        [(d["doc_id"], d["spans"]) for d in drift],
        schema=DOCUMENTS_INTERLEAVED),
        run_id="r9", completed_ts="2026-02-01 01:00:00")
    row = run_report(spark, backend).collect()[0]
    assert row["partitions_done"] == 4
    assert row["docs_in"] == row["docs_out"] == 20

    ext = extraction_report(extract_documents(df)).collect()
    kinds = {r["kind"] for r in ext}
    assert "text" in kinds and "title" in kinds
    assert all(r["n_spans"] > 0 for r in ext)
