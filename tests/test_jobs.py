"""spark-submit job mainlines, driven as subprocesses from a foreign cwd
(the bundle/PYTHONPATH path a real `spark-submit --py-files` run takes)."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

REPO = str(Path(__file__).resolve().parents[1])


def _run(args: list[str], cwd: str = "/tmp") -> str:
    proc = subprocess.run([sys.executable] + args, cwd=cwd,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    return proc.stdout.strip().splitlines()[-1]


def test_curate_job_mainline(tmp_path):
    out = _run([f"{REPO}/jobs/curate.py",
                "--sf-dir", "/root/testdata/sf0.001",
                "--out", str(tmp_path / "curated"),
                "--master", "local[4]"])
    stats = json.loads(out)
    assert stats["docs_in"] == 500
    assert 0 < stats["docs_out"] < 500
    assert stats["total_tokens"] > 0
    assert 0 < stats["survival_rate"] < 1


# The streaming registry query must survive a foreign cwd with a clean
# PYTHONPATH: its workers (interleave stage, foreachBatch extraction)
# must import crawspark via the shipped bundle alone.
_SESSIONS = {
    # the driver's run: a bare SparkSession, shipped by __spark_entry__
    "driver_entry": (
        "import __spark_entry__ as e\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[4]')\n"
        "         .config('spark.sql.shuffle.partitions','4')\n"
        "         .config('spark.ui.enabled','false').getOrCreate())\n"
        "query = e.queries()['stream_extract_incremental']\n"),
    # a library caller: get_spark's session, the query called directly
    "get_spark": (
        "from crawspark.session import get_spark\n"
        "from crawspark.streaming.queries import "
        "stream_extract_incremental as query\n"
        "spark = get_spark(master='local[4]', shuffle_partitions=4)\n"),
}


@pytest.mark.parametrize("session", sorted(_SESSIONS))
def test_streaming_query_from_foreign_cwd(session):
    import os

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    code = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        + _SESSIONS[session]
        + "df = query(spark, '/root/testdata/sf0.001')\n"
        "print('STREAM_ROWS', df.count())\n"
        "spark.stop()\n")
    proc = subprocess.run([sys.executable, "-c", code], cwd="/tmp",
                          capture_output=True, text=True, timeout=600,
                          env=env)
    assert proc.returncode == 0, proc.stderr[-2000:]
    rows = [ln for ln in proc.stdout.splitlines() if "STREAM_ROWS" in ln]
    assert rows and int(rows[-1].split()[-1]) >= 1


def test_extract_job_mainline_synthetic(tmp_path):
    out = _run([f"{REPO}/jobs/extract.py",
                "--synthetic", "400",
                "--data-root", str(tmp_path / "run"),
                "--run-id", "smoke",
                "--completed-ts", "2026-01-01 00:00:00",
                "--n-parts", "8",
                "--master", "local[4]"])
    stats = json.loads(out)
    assert stats["run_id"] == "smoke"
    assert stats["docs_out"] == 400 and stats["spans_out"] > 0


def test_maintain_job_mainline(spark, tmp_path):
    import json
    import os
    import subprocess
    import sys

    from crawspark.sources.tables import SnapshotParquetBackend

    root = str(tmp_path / "tables")
    be = SnapshotParquetBackend(root)
    for i in range(3):
        be.append(spark.createDataFrame(
            [(i * 10 + j, j) for j in range(5)], "k long, n long"), "t")
    code = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "maintain.py"),
         "--table-root", root, "--table", "t",
         "--delete-where", "n = 0",
         "--compact-target", "1", "--expire-keep", "1",
         "--master", "local[2]"],
        capture_output=True, text=True, timeout=600, cwd="/tmp")
    assert code.returncode == 0, code.stderr[-2000:]
    out = json.loads(code.stdout.strip().splitlines()[-1])
    assert out["rows_deleted"] == 3
    assert out["expired_versions"]
    assert be.snapshots("t") == [be.current_version("t")]
    assert be.read(spark, "t").count() == 12  # 15 - 3 deleted


def test_curate_job_v4_classifier_gate(tmp_path):
    out = _run([f"{REPO}/jobs/curate.py",
                "--sf-dir", "/root/testdata/sf0.001",
                "--out", str(tmp_path / "curated_v4"),
                "--master", "local[4]", "--v4"])
    stats = json.loads(out)
    assert stats["docs_in"] == 500
    assert 0 < stats["docs_out"] < 500
    assert 0 < stats["mean_clf_score"] < 1
    assert stats["total_tokens"] > 0


def test_dedup_job_mainline(tmp_path):
    # winnowing strategy end to end as a subprocess from a foreign cwd:
    # the planted excerpts guarantee duplicate groups exist, so the
    # resolution table is non-empty and every group drops >= 1 doc.
    out = _run([f"{REPO}/jobs/dedup.py",
                "--sf-dir", "/root/testdata/sf0.001",
                "--out", str(tmp_path / "dedup"),
                "--strategy", "winnowing",
                "--master", "local[4]"])
    stats = json.loads(out)
    assert stats["docs_in"] == 500
    assert stats["rows_out"] > 0
    assert 0 < stats["n_groups"] < stats["rows_out"]
    assert stats["docs_dropped"] == stats["rows_out"] - stats["n_groups"]


def test_index_job_global_surt_order(tmp_path):
    # CDX index: run as a subprocess from a foreign cwd, then prove the
    # GLOBAL sort contract — every part file internally sorted by surt
    # AND part-file key ranges non-overlapping in file order (so binary
    # search over (file, row) needs no merge).
    out = _run([f"{REPO}/jobs/index.py",
                "--sf-dir", "/root/testdata/sf0.001",
                "--out", str(tmp_path / "cdx"),
                "--shards", "4",
                "--master", "local[4]"])
    stats = json.loads(out)
    assert stats["n_urls"] > 0
    assert stats["n_shards"] >= 1
    import pyarrow.parquet as pq
    parts = sorted((tmp_path / "cdx").glob("part-*.parquet"))
    prev_max = None
    saw_rows = 0
    for p in parts:
        surts = pq.read_table(p, columns=["surt"]).column("surt").to_pylist()
        if not surts:
            continue
        assert surts == sorted(surts), f"{p.name} not sorted"
        if prev_max is not None:
            assert prev_max <= surts[0], "part ranges overlap"
        prev_max = surts[-1]
        saw_rows += len(surts)
    assert saw_rows == stats["n_urls"]


def test_dedup_job_incremental(tmp_path):
    # incremental strategy: pair table with new_old/new_new accounting —
    # the old x old quadrant must be absent by construction.
    out = _run([f"{REPO}/jobs/dedup.py",
                "--sf-dir", "/root/testdata/sf0.001",
                "--out", str(tmp_path / "inc"),
                "--strategy", "incremental",
                "--master", "local[4]"])
    stats = json.loads(out)
    assert stats["docs_in"] == 500
    assert stats["rows_out"] == (stats["n_new_old_pairs"]
                                 + stats["n_new_new_pairs"])
    assert stats["n_new_old_pairs"] > 0


def test_hygiene_job_mainline(tmp_path):
    # hygiene chain end to end from a foreign cwd: the clean ASCII
    # corpus needs no repairs (plants are excluded by the negative-id
    # convention) and survives the gates mostly intact.
    out = _run([f"{REPO}/jobs/hygiene.py",
                "--sf-dir", "/root/testdata/sf0.001",
                "--out", str(tmp_path / "clean"),
                "--master", "local[4]"])
    stats = json.loads(out)
    assert stats["docs_in"] == 500
    assert 0 < stats["docs_out"] <= 500
    assert stats["docs_repaired"] == 0
    assert stats["docs_non_nfc"] == 0
    assert stats["docs_deboilered"] > 0
    # the word-soup corpus repeats intra-doc lines only rarely
    assert stats["docs_line_deduped"] < stats["docs_out"] * 0.05


def test_crawl_loop_job_mainline(tmp_path):
    # the crawl loop end to end from a foreign cwd on the standard
    # session: two robots-gated rounds through the checkpointed extraction
    out = _run([f"{REPO}/jobs/crawl_loop.py",
                "--sf-dir", "/root/testdata/sf0.001",
                "--out", str(tmp_path / "crawl"),
                "--rounds", "2",
                "--master", "local[4]"])
    stats = json.loads(out)
    assert [r["fetched"] for r in stats["rounds"]] == [8, 2]
    assert [r["blocked_by_robots"] for r in stats["rounds"]] == [0, 9]
    assert stats["visited"] == 19 and stats["next_frontier"] == 4
    assert (tmp_path / "crawl" / "checkpoint.parquet").exists()
