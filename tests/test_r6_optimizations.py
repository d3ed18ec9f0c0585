"""Focused guards for the r6 optimization rework: each test pins the
EQUIVALENCE or plan property of an operator whose internals changed
(the results themselves stay pinned by the oracle-parity suite)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawspark.plans import executed_plan
from crawspark.sources import read_testdata

SF = "/root/testdata/sf0.001"


def test_array_side_signatures_match_row_aggregation(spark):
    # minhash_signatures' array_min form must be bit-identical to a
    # per-shingle row aggregation (min over distinct set == min over raw
    # multiset, same xxhash64(h, i) chain). The reference is test-local.
    from crawspark.operators.dedup import (
        _SHINGLES_RAW,
        _TOKS,
        minhash_signatures,
    )

    docs = read_testdata(spark, SF, "documents")
    h = (docs.withColumn("toks", F.expr(_TOKS))
         .filter(F.size("toks") >= 3)
         .withColumn("sh_raw", F.expr(_SHINGLES_RAW))
         .select("doc_id", F.explode("sh_raw").alias("shingle"))
         .withColumn("h", F.xxhash64("shingle")))
    want = {tuple(r) for r in h.groupBy("doc_id").agg(
        *[F.min(F.xxhash64("h", F.lit(i))).alias(f"mh{i}")
          for i in range(8)]).collect()}
    got = {tuple(r) for r in minhash_signatures(docs, 8).collect()}
    assert got == want


def test_simhash_array_side_matches_row_aggregation(spark):
    # simhash_signatures' per-bit aggregate() fold must equal the
    # explode + 32 conditional sums + groupBy(doc_id) form (test-local
    # reference), drop zero-token docs as the explode did, and plan
    # without any exchange.
    from crawspark.operators.dedup import _TOKS, simhash_signatures

    hostile = spark.createDataFrame(
        [(10**9, ""), (10**9 + 1, "123 456 !!"), (10**9 + 2, None),
         (10**9 + 3, "one"), (10**9 + 4, "a a a b")],
        "doc_id long, text string")
    docs = (read_testdata(spark, SF, "documents").select("doc_id", "text")
            .unionByName(hostile))
    tok = (docs.select("doc_id", F.explode(F.expr(_TOKS)).alias("tok"))
           .withColumn("h", F.xxhash64("tok")))
    sums = tok.groupBy("doc_id").agg(*[
        F.sum(F.when(F.shiftright("h", i).bitwiseAND(1) == 1, 1)
              .otherwise(-1)).alias(f"b{i}") for i in range(32)])
    fp = sum(F.when(F.col(f"b{i}") > 0, F.lit(2 ** i).cast("long"))
             .otherwise(F.lit(0)) for i in range(32))
    want = {tuple(r) for r in sums.select("doc_id", fp).collect()}
    sig = simhash_signatures(docs)
    got = {tuple(r) for r in sig.collect()}
    assert got == want
    ids = {d for d, _ in got}
    assert {10**9 + 3, 10**9 + 4} <= ids
    assert not {10**9, 10**9 + 1, 10**9 + 2} & ids
    assert "Exchange" not in executed_plan(sig)


def test_bpe_driver_loop_matches_distributed_loop(spark, monkeypatch):
    # The in-driver merge loop must replay the distributed loop exactly
    # (same merges, same final segmentations) — forced by dropping the
    # driver size bound to 0 for the distributed reference run.
    from crawspark.operators import lmquality

    fast_words, fast_merges = lmquality._bpe_train(spark, SF)
    monkeypatch.setattr(lmquality, "_BPE_DRIVER_BYTES_MAX", 0)
    slow_words, slow_merges = lmquality._bpe_train(spark, SF)
    assert fast_merges == slow_merges
    assert ({tuple(r) for r in fast_words.collect()}
            == {tuple(r) for r in slow_words.collect()})


@pytest.mark.parametrize("name", ["quality_repetition_stats",
                                  "rewrite_dedup_doc_lines"])
def test_repetition_stats_plan_is_map_only(spark, name):
    # Both Gopher signals and the intra-doc line dedup (array_distinct
    # over the pseudo-line array) are per-doc array expressions: no
    # exchange, join or window anywhere in the plan.
    from crawspark.registry import load_all

    plan = executed_plan(load_all()[name].spark(spark, SF))
    # the guarded ensure_parallelism round-robin (inputs reading fewer
    # files than defaultParallelism) is the one allowed exchange; never
    # a hash/agg one
    assert "hashpartitioning" not in plan, plan[:1200]
    assert "Join" not in plan, plan[:1200]
    assert "Window" not in plan, plan[:1200]


def test_window_dedup_first_plan_has_no_window(spark):
    # max_by aggregate replaced the row_number window: partial (map-side)
    # aggregation must appear, a Window node must not.
    from crawspark.registry import load_all

    plan = executed_plan(load_all()["window_dedup_first"].spark(spark, SF))
    assert "Window" not in plan, plan[:1200]
    assert "max_by" in plan, plan[:1200]


def test_window_dedup_first_ts_tie_at_long_min(spark, tmp_path):
    # The comparator must not negate event_id: -Long.MIN_VALUE overflows
    # (an error under ANSI mode). Ties on ts keep the smallest event_id,
    # as the DuckDB oracle's ORDER BY ts DESC, event_id does.
    import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from crawspark.registry import load_all

    lo, hi = -(1 << 63), (1 << 63) - 1
    t0, t1 = datetime.datetime(2026, 1, 1), datetime.datetime(2026, 1, 2)
    events = [(5, t1, 1), (lo, t1, 1), (3, t0, 1),
              (hi, t1, 2), (lo, t1, 2),
              (lo, t0, 3), (-7, t1, 3), (0, t1, 3)]
    pq.write_table(pa.table({
        "event_id": pa.array([e[0] for e in events], pa.int64()),
        "ts": pa.array([e[1] for e in events], pa.timestamp("us")),
        "user_id": pa.array([e[2] for e in events], pa.int64()),
        "event_type": [f"t{i}" for i in range(len(events))],
        "value": [1.0] * len(events),
        "props": [None] * len(events),
    }), str(tmp_path / "events.parquet"))
    spec = load_all()["window_dedup_first"]
    got = sorted(tuple(r) for r in spec.spark(spark, str(tmp_path)).collect())
    assert got == [(1, lo, "t1"), (2, lo, "t4"), (3, -7, "t6")]
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{tmp_path}/events.parquet')")
    assert sorted(con.execute(spec.render_sql(str(tmp_path))).fetchall()) == got


def test_winnowing_fp_plan_is_map_only(spark):
    # The array-side selection removed the lag/lead Window and the
    # distinct: the fingerprint pass must plan no Window and no
    # aggregation-exchange beyond the repartition round-robin.
    from crawspark.operators.dedup import _winnow_fp

    docs = read_testdata(spark, SF, "documents").select("doc_id", "text")
    plan = executed_plan(_winnow_fp(docs))
    assert "Window" not in plan, plan[:1200]
    assert plan.count("Exchange") == 1, plan[:1200]  # the repartition
