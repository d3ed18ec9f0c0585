"""The one scan-width policy: ``ensure_parallelism`` widens an input to
defaultParallelism only when it reads fewer files than that, decided
without planning the frame (no Spark job)."""

from __future__ import annotations

import math

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from crawspark.operators.partitioning import ensure_parallelism
from crawspark.plans.inspect import executed_plan
from crawspark.sources import read_testdata

RR = "RoundRobinPartitioning"


@pytest.fixture(scope="module")
def documents(sf_dir):
    return pq.read_table(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def eight_files(documents, tmp_path_factory):
    # an sf_dir whose documents table is a directory of 8 parquet files
    sf = tmp_path_factory.mktemp("eight_files")
    out = sf / "documents.parquet"
    out.mkdir()
    step = math.ceil(documents.num_rows / 8)
    for i in range(8):
        pq.write_table(documents.slice(i * step, step),
                       out / f"part-{i}.parquet")
    return str(sf)


def _rr(df) -> int:
    return executed_plan(df).count(RR)


def test_one_file_is_widened_once(spark, sf_dir):
    docs = read_testdata(spark, sf_dir, "documents")
    assert _rr(docs) == 0
    assert _rr(ensure_parallelism(docs)) == 1


def test_eight_files_pass_through(spark, eight_files):
    docs = read_testdata(spark, eight_files, "documents")
    assert len(docs.inputFiles()) == 8
    assert ensure_parallelism(docs) is docs


def test_row_groups_do_not_count(spark, documents, tmp_path):
    # one file of 8 row groups still scans narrow: it is widened
    pq.write_table(documents, tmp_path / "documents.parquet",
                   row_group_size=math.ceil(documents.num_rows / 8))
    assert pq.ParquetFile(tmp_path / "documents.parquet").num_row_groups == 8
    docs = read_testdata(spark, str(tmp_path), "documents")
    assert _rr(ensure_parallelism(docs)) == 1


def test_decision_starts_no_job(spark, sf_dir):
    # a join whose plan has an exchange: counting its RDD partitions
    # would materialize AQE query stages; the file count must not
    sc = spark.sparkContext
    docs = read_testdata(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(F.count("*").alias("n_lang"))
    joined = docs.join(per_lang, "lang")
    assert "Exchange" in executed_plan(joined)
    group = "ensure-parallelism-decision"
    try:
        sc.setJobGroup(group, "ensure_parallelism decision")
        widened = ensure_parallelism(joined)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert _rr(widened) == 1


@pytest.mark.parametrize("name", ["decode_bytes", "dedup_exact_substring"])
def test_wide_input_adds_no_round_robin(spark, sf_dir, eight_files, name):
    # these rows' widening sites are visible in the executed plan (no
    # localCheckpoint in front of them): on a wide input they add none
    from crawspark.registry import load_all

    q = load_all()[name].spark
    assert _rr(q(spark, sf_dir)) >= 1
    assert _rr(q(spark, eight_files)) == 0
