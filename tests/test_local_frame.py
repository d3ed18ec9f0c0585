"""``local_frame``: driver-built rows become a JVM LocalRelation, equal in
value to ``createDataFrame(<python list>)`` and with no Python stage."""

from __future__ import annotations

import datetime as dt

import pytest

from crawspark.schema import DOCUMENTS_INTERLEAVED
from crawspark.sources import local_frame
from tests.test_checkpoint_resume import _python_stages

_DDL = ("id long, name string, score double, at timestamp, "
        "emb array<float>, tags array<string>")
_ROWS = [
    (1, "a", 0.5, dt.datetime(2026, 1, 2, 3, 4, 5, 678), [1.5, -2.0], ["x"]),
    (2, None, None, None, None, []),
    (3, "ü€", -1e300, dt.datetime(1970, 1, 1), [], None),
]
_SPANS = [{"kind": "text", "text": "hi", "media_ref": None, "offset": 0}]


def _run_in_group(spark, group, df):
    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, group)
        rows = df.repartition(2).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return _python_stages(spark, group), rows


@pytest.mark.parametrize("rows", [_ROWS, []], ids=["rows", "empty"])
def test_local_frame_runs_no_python_stage(spark, rows):
    stages, got = _run_in_group(spark, f"local-frame-{len(rows)}",
                                local_frame(spark, rows, _DDL))
    assert len(got) == len(rows)
    assert stages == []
    # The scan sees what a list-built frame runs: one PythonRDD stage of
    # defaultParallelism tasks, even for an empty list.
    stages, _ = _run_in_group(spark, f"list-frame-{len(rows)}",
                              spark.createDataFrame(rows, _DDL))
    assert stages == [spark.sparkContext.defaultParallelism]


@pytest.mark.parametrize("rows, schema", [
    (_ROWS, _DDL),
    ([("d1", _SPANS), ("d2", None)], DOCUMENTS_INTERLEAVED),
], ids=["ddl", "nested-not-null"])
def test_local_frame_equals_list_frame(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert got.schema == ref.schema
    assert sorted(got.collect()) == sorted(ref.collect())
