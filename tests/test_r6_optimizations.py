"""Focused guards for the r6 optimization rework: each test pins the
EQUIVALENCE or plan property of an operator whose internals changed
(the results themselves stay pinned by the oracle-parity suite)."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawspark.plans import executed_plan
from crawspark.sources import read_testdata

SF = "/root/testdata/sf0.001"


def test_capped_arrays_match_capped_rows(spark):
    # capped_shingle_arrays (map-side, array_except of the broadcast hot
    # set) must produce exactly the per-doc sets of the row-based
    # shingle_rows_capped it replaced on the signature paths.
    from crawspark.operators.dedup import (
        capped_shingle_arrays,
        shingle_rows_capped,
    )

    docs = read_testdata(spark, SF, "documents")
    arr = {r["doc_id"]: set(r["shs"])
           for r in capped_shingle_arrays(docs).collect()}
    rows: dict[int, set] = {}
    for r in shingle_rows_capped(docs).collect():
        rows.setdefault(r["doc_id"], set()).add(r["shingle"])
    assert arr == rows


def test_array_side_signatures_match_row_aggregation(spark):
    # minhash_signatures' array_min form must be bit-identical to the
    # r5 row-aggregation form (min over distinct set == min over raw
    # multiset, same xxhash64(h, i) chain).
    from crawspark.operators.dedup import (
        _SHINGLES_RAW,
        _TOKS,
        _signatures_from_rows,
        minhash_signatures,
    )

    docs = read_testdata(spark, SF, "documents")
    sh_rows = (docs.withColumn("toks", F.expr(_TOKS))
               .filter(F.size("toks") >= 3)
               .withColumn("sh_raw", F.expr(_SHINGLES_RAW))
               .select("doc_id", F.explode("sh_raw").alias("shingle")))
    want = {tuple(r) for r in
            _signatures_from_rows(sh_rows, 8).collect()}
    got = {tuple(r) for r in minhash_signatures(docs, 8).collect()}
    assert got == want


def test_bpe_driver_loop_matches_distributed_loop(spark, monkeypatch):
    # The in-driver merge loop must replay the distributed loop exactly
    # (same merges, same final segmentations) — forced by dropping the
    # vocab bound to 0 for the distributed reference run.
    from crawspark.operators import lmquality

    fast_words, fast_merges = lmquality._bpe_train(spark, SF)
    monkeypatch.setattr(lmquality, "_BPE_DRIVER_VOCAB_MAX", 0)
    slow_words, slow_merges = lmquality._bpe_train(spark, SF)
    assert fast_merges == slow_merges
    assert ({tuple(r) for r in fast_words.collect()}
            == {tuple(r) for r in slow_words.collect()})


def test_repetition_stats_plan_is_map_only(spark):
    # Both Gopher signals are per-doc array expressions now: no
    # exchange, no join anywhere in the plan.
    from crawspark.registry import load_all

    plan = executed_plan(
        load_all()["quality_repetition_stats"].spark(spark, SF))
    # the guarded ensure_parallelism round-robin (single-row-group
    # inputs only) is the one allowed exchange; never a hash/agg one
    assert "hashpartitioning" not in plan, plan[:1200]
    assert "Join" not in plan, plan[:1200]


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
