"""jobs/crawl_loop.py — the fetch-extract-frontier main loop: wave
semantics, robots gating, and resume through the extraction checkpoint
table.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"

# sf0.001, 8 seeds: round 1 and 2 are mostly blocked by robots, round 3
# is blocked entirely (nothing fetched), round 4's frontier is empty.
ROUNDS = [
    {"round": 0, "frontier": 8, "blocked_by_robots": 0, "fetched": 8,
     "spans": 43},
    {"round": 1, "frontier": 11, "blocked_by_robots": 9, "fetched": 2,
     "spans": 11},
    {"round": 2, "frontier": 4, "blocked_by_robots": 3, "fetched": 1,
     "spans": 4},
    {"round": 3, "frontier": 2, "blocked_by_robots": 2, "fetched": 0,
     "spans": 0},
    {"round": 4, "frontier": 0, "blocked_by_robots": 0, "fetched": 0,
     "spans": 0},
]
FETCHED = {0: list(range(8)), 1: [38, 45], 2: [115]}


def _run(spark, out, rounds=3, seeds=8):
    from jobs.crawl_loop import run

    return run(spark, SF, str(out), rounds, seeds)


def _fetched(spark, out, rnd):
    return sorted(int(r.doc_id) for r in spark.read.parquet(
        str(out / f"spans_{rnd:03d}.parquet")).collect())


def _checkpoint_rows(spark, out):
    rows = spark.read.parquet(str(out / "checkpoint.parquet")).collect()
    return {run_id: [r for r in rows if r.run_id == run_id]
            for run_id in {r.run_id for r in rows}}


@pytest.fixture(scope="module")
def clean(spark, tmp_path_factory):
    """An uninterrupted 3-round crawl: (out dir, summary)."""
    out = tmp_path_factory.mktemp("crawl") / "clean"
    return out, _run(spark, out)


def test_crawl_loop_semantics(clean):
    from crawspark.oracle.robots import synth_robots_txt

    summary = clean[1]
    rounds = summary["rounds"]
    assert len(rounds) == 3
    # round 0 fetches every allowed seed; the wave then expands through
    # the deterministic edge formula with robots genuinely blocking
    assert rounds[0]["fetched"] > 0
    assert any(r["blocked_by_robots"] > 0 for r in rounds)
    assert all(r["fetched"] + r["blocked_by_robots"] <= r["frontier"]
               for r in rounds)
    assert all(r["spans"] > 0 for r in rounds if r["fetched"])
    # visited accumulates every frontier member (fetched or blocked)
    assert summary["visited"] >= sum(r["fetched"] for r in rounds)
    # the robots grid really splits hosts both ways
    hosts = [f"h{k}.example.com" for k in range(37)]
    kinds = {len(h) % 3 for h in hosts}
    assert 0 in kinds and 2 in kinds
    assert "Disallow: /" in synth_robots_txt("h10.example.com")


def test_crawl_loop_fetched_sets_are_deterministic(spark, clean, tmp_path):
    a_out, a = clean
    b = _run(spark, tmp_path / "b")
    assert a == b == {"rounds": ROUNDS[:3], "visited": 23,
                      "next_frontier": 2}
    for rnd, ids in FETCHED.items():
        assert _fetched(spark, a_out, rnd) == _fetched(
            spark, tmp_path / "b", rnd) == ids


def test_crawl_loop_rerun_appends_nothing_for_done_rounds(spark, clean,
                                                          tmp_path):
    out = tmp_path / "c"
    partial = _run(spark, out, rounds=2)
    assert partial["rounds"] == ROUNDS[:2]
    before = _checkpoint_rows(spark, out)
    assert set(before) == {"round-000", "round-001"}
    full = _run(spark, out, rounds=3)
    after = _checkpoint_rows(spark, out)
    # the done rounds were not re-extracted: their checkpoint rows are
    # the same rows (same completed_ts), none appended
    for run_id in ("round-000", "round-001"):
        assert len(after[run_id]) == len(before[run_id])
        assert sorted(after[run_id]) == sorted(before[run_id])
    assert after["round-002"]
    # the fresh third round, visited and the next frontier match an
    # uninterrupted 3-round run
    assert full == clean[1]


def test_crawl_loop_resumes_inside_a_round(spark, clean, tmp_path,
                                           monkeypatch):
    from crawspark.checkpoint import CheckpointedExtraction

    original = CheckpointedExtraction.run
    processed: dict[str, int] = {}

    def killed_after_three(self, spark, docs, run_id, completed_ts,
                           max_partitions=None):
        res = original(self, spark, docs, run_id, completed_ts,
                       max_partitions=3 if run_id == "round-000" else None)
        if run_id == "round-000":
            raise RuntimeError("killed mid-round")
        return res

    def counting(self, spark, docs, run_id, completed_ts,
                 max_partitions=None):
        res = original(self, spark, docs, run_id, completed_ts,
                       max_partitions)
        processed[run_id] = res["partitions_processed"]
        return res

    out = tmp_path / "k"
    monkeypatch.setattr(CheckpointedExtraction, "run", killed_after_three)
    with pytest.raises(RuntimeError, match="killed mid-round"):
        _run(spark, out)
    assert len(_checkpoint_rows(spark, out)["round-000"]) == 3

    monkeypatch.setattr(CheckpointedExtraction, "run", counting)
    resumed = _run(spark, out)
    keys = {r.partition_key
            for r in _checkpoint_rows(spark, clean[0])["round-000"]}
    # exactly the partitions the kill left pending, each once
    rows = _checkpoint_rows(spark, out)["round-000"]
    assert processed["round-000"] == len(keys) - 3 > 0
    assert len(rows) == len(keys)
    assert {r.partition_key for r in rows} == keys
    assert resumed == clean[1]
    assert _fetched(spark, out, 0) == FETCHED[0]


def test_crawl_loop_rerun_with_fewer_seeds_drops_vanished_output(spark,
                                                                 tmp_path):
    # Partitions whose documents left a round's input are removed from
    # its results, so a rerun with fewer seeds reports what a clean run
    # with those seeds reports.
    out = tmp_path / "shrink"
    _run(spark, out, rounds=2, seeds=8)
    assert _run(spark, out, rounds=2, seeds=4) == {
        "rounds": [
            {"round": 0, "frontier": 4, "blocked_by_robots": 0, "fetched": 4,
             "spans": 23},
            {"round": 1, "frontier": 5, "blocked_by_robots": 3, "fetched": 2,
             "spans": 8}],
        "visited": 9, "next_frontier": 4}
    assert _fetched(spark, out, 0) == [0, 1, 2, 3]
    zero = {"frontier": 0, "blocked_by_robots": 0, "fetched": 0, "spans": 0}
    assert _run(spark, out, rounds=2, seeds=0) == {
        "rounds": [{"round": r, **zero} for r in range(2)],
        "visited": 0, "next_frontier": 0}
    assert not (out / "spans_000.parquet").exists()
    assert not (out / "spans_001.parquet").exists()


def test_crawl_loop_exhausted_frontier(spark, tmp_path):
    # round 3 fetches nothing and round 4 has no frontier: neither may
    # read a results table that was never written
    out = tmp_path / "x"
    summary = _run(spark, out, rounds=5)
    assert summary == {"rounds": ROUNDS, "visited": 25, "next_frontier": 0}
    assert not (out / "spans_003.parquet").exists()
    assert not (out / "spans_004.parquet").exists()
    # a crawl with no seed never writes a checkpoint table at all
    empty = _run(spark, tmp_path / "e", rounds=2, seeds=0)
    assert empty["visited"] == empty["next_frontier"] == 0
    assert [r["frontier"] for r in empty["rounds"]] == [0, 0]
