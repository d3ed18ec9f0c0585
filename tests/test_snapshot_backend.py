"""SnapshotParquetBackend: the Iceberg commit model (immutable files,
manifest snapshots, atomic pointer flip, time travel, dynamic partition
overwrite) exercised locally — the behaviors the absent runtime jar keeps
IcebergBackend from running in this sandbox."""

from __future__ import annotations

import os

import pytest

from crawspark.sources.tables import SnapshotParquetBackend


@pytest.fixture()
def be(tmp_path):
    return SnapshotParquetBackend(str(tmp_path))


def _rows(df):
    return sorted((r["k"], r["v"]) for r in df.collect())


def test_append_overwrite_and_time_travel(spark, be):
    a = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    b = spark.createDataFrame([(3, "c")], "k long, v string")
    assert not be.exists(spark, "t")
    be.append(a, "t")                       # v1
    be.append(b, "t")                       # v2
    assert be.exists(spark, "t")
    assert be.snapshots("t") == [1, 2]
    assert _rows(be.read(spark, "t")) == [(1, "a"), (2, "b"), (3, "c")]
    assert _rows(be.read_version(spark, "t", 1)) == [(1, "a"), (2, "b")]
    be.overwrite(b, "t")                    # v3 replaces everything
    assert _rows(be.read(spark, "t")) == [(3, "c")]
    # earlier snapshots remain readable (data files are immutable)
    assert _rows(be.read_version(spark, "t", 2)) \
        == [(1, "a"), (2, "b"), (3, "c")]


def test_overwrite_partitions_replaces_only_present_values(spark, be):
    base = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "fr"), (4, "de")], "k long, v string")
    be.overwrite_partitions(base, "t", "v")          # v1
    fix = spark.createDataFrame([(20, "en")], "k long, v string")
    be.overwrite_partitions(fix, "t", "v")           # v2: only en replaced
    assert _rows(be.read(spark, "t")) == [(3, "fr"), (4, "de"), (20, "en")]
    # idempotent re-run of the same partition unit: same result, new snap
    be.overwrite_partitions(fix, "t", "v")           # v3
    assert _rows(be.read(spark, "t")) == [(3, "fr"), (4, "de"), (20, "en")]
    assert be.snapshots("t") == [1, 2, 3]
    # the partition column survives IN the data (no path recovery needed)
    assert set(be.read(spark, "t").columns) == {"k", "v"}


def test_crash_between_write_and_commit_is_invisible(spark, be):
    a = spark.createDataFrame([(1, "a")], "k long, v string")
    be.append(a, "t")                                # v1
    # simulate a writer that materialized files but died before commit
    be._write_commit_files(
        spark.createDataFrame([(9, "z")], "k long, v string"), "t", None)
    assert be.current_version("t") == 1
    assert _rows(be.read(spark, "t")) == [(1, "a")]
    # the retry clobbers the orphaned dir and commits cleanly
    be.append(spark.createDataFrame([(2, "b")], "k long, v string"), "t")
    assert _rows(be.read(spark, "t")) == [(1, "a"), (2, "b")]
    assert be.snapshots("t") == [1, 2]


def test_optimistic_concurrency_rejects_lost_update(spark, be):
    # Two writers interleave from the same base snapshot: the first
    # commit wins; the second gets CommitFailedException instead of
    # silently flattening the winner's rows (the lost-update Iceberg's
    # optimistic model forbids). A retry from the new base keeps BOTH.
    from crawspark.sources.tables import CommitFailedException

    a = spark.createDataFrame([(1, "a")], "k long, v string")
    be.append(a, "t")                                          # v1
    base = be.current_version("t")
    # writer A plans its commit against v1...
    prev_a = be._live_entries("t", base)
    new_a = be._write_commit_files(
        spark.createDataFrame([(2, "b")], "k long, v string"), "t", None,
        base)
    # ...but writer B (also from v1) commits first
    be.append(spark.createDataFrame([(3, "c")], "k long, v string"), "t")
    with pytest.raises(CommitFailedException, match="moved"):
        be._commit("t", prev_a + new_a, a.schema.json(), expected_base=base)
    # nothing of A became visible; B's commit is intact
    assert _rows(be.read(spark, "t")) == [(1, "a"), (3, "c")]
    # A retries on the new base and both writes survive
    be.append(spark.createDataFrame([(2, "b")], "k long, v string"), "t")
    assert _rows(be.read(spark, "t")) == [(1, "a"), (2, "b"), (3, "c")]


def test_commit_version_claim_is_cas(spark, be):
    # The version-number claim itself is a filesystem CAS (os.link): a
    # manifest already holding the number — crash debris from a writer
    # that died between claim and pointer flip — blocks the commit with
    # CommitFailedException rather than being clobbered; recovery makes
    # the number claimable again.
    import json

    from crawspark.sources.tables import CommitFailedException

    a = spark.createDataFrame([(1, "a")], "k long, v string")
    be.append(a, "t")                                          # v1
    mdir = os.path.join(str(be.root), "t", "manifests")
    with open(os.path.join(mdir, "v2.json"), "w") as fh:
        json.dump({"version": 2, "entries": [], "schema": None,
                   "props": {}}, fh)
    with pytest.raises(CommitFailedException, match="claimed"):
        be.append(spark.createDataFrame([(2, "b")], "k long, v string"), "t")
    assert be.recover_failed_commit("t") == [2]
    be.append(spark.createDataFrame([(2, "b")], "k long, v string"), "t")
    assert _rows(be.read(spark, "t")) == [(1, "a"), (2, "b")]


def test_read_as_of_timestamp(spark, be, monkeypatch):
    # TIMESTAMP AS OF: the newest snapshot committed at or before the
    # asked-for time serves the read; times injected per commit.
    a = spark.createDataFrame([(1, "a")], "k long, v string")
    b = spark.createDataFrame([(2, "b")], "k long, v string")
    monkeypatch.setenv("CRAWSPARK_COMMIT_TS", "1000.0")
    be.append(a, "t")                                          # v1 @1000
    monkeypatch.setenv("CRAWSPARK_COMMIT_TS", "2000.0")
    be.append(b, "t")                                          # v2 @2000
    assert _rows(be.read_as_of(spark, "t", 1500.0)) == [(1, "a")]
    assert _rows(be.read_as_of(spark, "t", 2000.0)) \
        == [(1, "a"), (2, "b")]   # inclusive at the commit instant
    with pytest.raises(ValueError, match="no snapshot"):
        be.read_as_of(spark, "t", 999.0)


def test_mixed_write_modes_refused(spark, be):
    # r3 review finding: an appended (unpartitioned) commit is invisible
    # to overwrite_partitions' replaced-set matching — silent duplication
    # instead of Iceberg semantics. The backend refuses the mix loudly in
    # both directions; overwrite always resets.
    a = spark.createDataFrame([(1, "en")], "k long, v string")
    be.append(a, "t")
    with pytest.raises(ValueError, match="unpartitioned"):
        be.overwrite_partitions(a, "t", "v")
    be.overwrite_partitions(a, "p", "v")
    with pytest.raises(ValueError, match="partitioned"):
        be.append(a, "p")
    be.overwrite(a, "p")        # reset is always allowed
    be.append(a, "p")           # and the table is unpartitioned again
    assert _rows(be.read(spark, "p")) == [(1, "en"), (1, "en")]


def test_orphan_manifest_not_listed_or_served(spark, be):
    import json

    a = spark.createDataFrame([(1, "a")], "k long, v string")
    be.append(a, "t")
    mdir = os.path.join(str(be.root), "t", "manifests")
    with open(os.path.join(mdir, "v2.json"), "w") as fh:
        json.dump({"version": 2, "entries": [{"path": "t/data/v2/x.parquet",
                                              "partition": None}]}, fh)
    assert be.snapshots("t") == [1]
    with pytest.raises(ValueError, match="not a committed snapshot"):
        be.read_version(spark, "t", 2)
    with pytest.raises(ValueError, match="not a committed snapshot"):
        be.read_version(spark, "t", 0)


def test_readers_resolve_pointer_not_latest_manifest(spark, be):
    # A manifest file that exists but was never pointed at (crash after
    # manifest write, before pointer flip) must not be served.
    import json

    a = spark.createDataFrame([(1, "a")], "k long, v string")
    be.append(a, "t")
    mdir = os.path.join(str(be.root), "t", "manifests")
    with open(os.path.join(mdir, "v9.json"), "w") as fh:
        json.dump({"version": 9, "entries": []}, fh)
    assert be.current_version("t") == 1
    assert _rows(be.read(spark, "t")) == [(1, "a")]


def test_empty_snapshot_readable_with_schema(spark, be):
    # Overwriting with an empty frame must leave the table readable as an
    # empty scan with the committed schema — Iceberg serves empty tables;
    # FileNotFoundError here was ADVICE r3's finding.
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    be.overwrite(df, "t_empty")
    be.overwrite(df.filter("id < 0"), "t_empty")  # zero rows, maybe 0 files
    got = be.read(spark, "t_empty")
    assert got.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in got.schema.fields] \
        == [("id", "bigint"), ("name", "string")]
    # time travel still serves v1's data
    assert be.read_version(spark, "t_empty", 1).count() == 1


def test_overwrite_partitions_to_nothing_stays_readable(spark, be):
    df = spark.createDataFrame([(1, "p1"), (2, "p2")], "id long, part string")
    be.overwrite_partitions(df, "t_drain", "part")
    # Dynamic overwrite with an empty frame replaces NO partitions
    # (Iceberg overwritePartitions semantics: replaced set = partitions
    # present in the incoming data) — the table is unchanged and the
    # commit is still readable.
    be.overwrite_partitions(
        spark.createDataFrame([], "id long, part string"), "t_drain", "part")
    assert be.read(spark, "t_drain").count() == 2


def test_stream_snapshot_sink_exactly_once_and_replay(spark, tmp_path, be):
    # Multi-microbatch drain commits once per batch; a replayed batch id
    # commits NOTHING; a second drain picks up only new files; time
    # travel sees each ingestion step.
    from pyspark.sql import functions as F

    from crawspark.corpus import make_doc
    from crawspark.schema import DOCUMENTS_INTERLEAVED
    from crawspark.streaming.snapshot_sink import (
        commit_batch,
        run_extract_to_snapshot,
    )

    inp = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    docs = [make_doc(11, i) for i in range(20)]
    df = spark.createDataFrame([(d["doc_id"], d["spans"]) for d in docs],
                               schema=DOCUMENTS_INTERLEAVED)
    df.coalesce(2).write.mode("overwrite").parquet(inp)
    run_extract_to_snapshot(spark, inp, ck, be, "t_stream")
    got = be.read(spark, "t_stream")
    assert got.count() == 20
    assert got.select("doc_id").distinct().count() == 20
    v_after_first = be.current_version("t_stream")
    assert v_after_first >= 2  # one commit per microbatch

    # replayed batch id: idempotent no-op
    extra = spark.createDataFrame(
        [(d["doc_id"], d["spans"]) for d in docs[:3]],
        schema=DOCUMENTS_INTERLEAVED)
    assert commit_batch(be, "t_stream", extra, 0) is False
    assert be.current_version("t_stream") == v_after_first
    assert be.read(spark, "t_stream").count() == 20

    # new files → only the delta is processed
    more = [make_doc(12, i) for i in range(5)]
    (spark.createDataFrame([(d["doc_id"], d["spans"]) for d in more],
                           schema=DOCUMENTS_INTERLEAVED)
     .coalesce(1).write.mode("append").parquet(inp))
    run_extract_to_snapshot(spark, inp, ck, be, "t_stream")
    final = be.read(spark, "t_stream")
    assert final.count() == 25
    assert final.agg(F.countDistinct("doc_id")).collect()[0][0] == 25
    # time travel: the pre-delta version still reads 20 docs
    assert be.read_version(spark, "t_stream", v_after_first).count() == 20


def test_merge_upsert_semantics(spark, be):
    from crawspark.operators.merge import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "k long, v string, n long")
    merge_upsert(spark, be, "m", base, "k")      # not-exists → create
    updates = spark.createDataFrame(
        [(2, "B", 99), (4, "d", 40)], "k long, v string, n long")
    merge_upsert(spark, be, "m", updates, "k")   # update k=2, insert k=4
    got = sorted(tuple(r) for r in be.read(spark, "m").collect())
    assert got == [(1, "a", 10), (2, "B", 99), (3, "c", 30), (4, "d", 40)]
    # one atomic commit per merge; pre-merge state time-travels
    assert be.snapshots("m") == [1, 2]
    old = sorted(tuple(r) for r in be.read_version(spark, "m", 1).collect())
    assert old == [(1, "a", 10), (2, "b", 20), (3, "c", 30)]
    # idempotent re-merge of the same updates: same content, new snapshot
    merge_upsert(spark, be, "m", updates, "k")
    assert sorted(tuple(r) for r in be.read(spark, "m").collect()) == got


def test_schema_evolution_add_column(spark, be):
    # Append with an added column: the new snapshot's schema governs the
    # scan (old rows null-fill); time travel to the pre-evolution
    # snapshot serves the OLD schema without the column.
    v1 = spark.createDataFrame([(1, "a")], "k long, v string")
    be.append(v1, "evo")
    v2 = spark.createDataFrame([(2, "b", 9.5)], "k long, v string, score double")
    be.append(v2, "evo")
    cur = be.read(spark, "evo")
    assert set(cur.columns) == {"k", "v", "score"}
    got = {r["k"]: r["score"] for r in cur.collect()}
    assert got == {1: None, 2: 9.5}
    old = be.read_version(spark, "evo", 1)
    assert set(old.columns) == {"k", "v"}


def test_compact_and_expire_snapshots(spark, be):
    import glob
    import os as _os

    # many small commits (the streaming regime) → compact folds the
    # files; expire removes old manifests + newly-unreferenced data
    # files but keeps files still referenced by surviving snapshots.
    for i in range(4):
        be.append(spark.createDataFrame([(i, f"v{i}")], "k long, v string"),
                  "t_c")
    files_of = lambda: glob.glob(  # noqa: E731
        _os.path.join(str(be.root), "t_c", "data", "**", "*.parquet"),
        recursive=True)
    assert be.current_version("t_c") == 4
    n_before = len(files_of())
    v = be.compact(spark, "t_c", target_files=1)
    assert v == 5
    got = sorted(r["k"] for r in be.read(spark, "t_c").collect())
    assert got == [0, 1, 2, 3]
    # pre-compaction snapshot still time-travels (files not yet expired)
    assert be.read_version(spark, "t_c", 4).count() == 4

    expired = be.expire_snapshots("t_c", keep_last=1)
    assert expired == [1, 2, 3, 4]
    assert be.snapshots("t_c") == [5]
    # only the compacted file(s) survive on disk
    assert len(files_of()) < n_before
    assert sorted(r["k"] for r in be.read(spark, "t_c").collect()) \
        == [0, 1, 2, 3]
    import pytest as _pytest
    with _pytest.raises((ValueError, FileNotFoundError)):
        be.read_version(spark, "t_c", 2)


def test_expire_keeps_files_shared_with_survivors(spark, be):
    # append-chain: v2's manifest references v1's data files too; expiring
    # v1 must NOT delete files v2 still reads.
    be.append(spark.createDataFrame([(1, "a")], "k long, v string"), "t_s")
    be.append(spark.createDataFrame([(2, "b")], "k long, v string"), "t_s")
    assert be.expire_snapshots("t_s", keep_last=1) == [1]
    assert sorted(r["k"] for r in be.read(spark, "t_s").collect()) == [1, 2]


def test_maintenance_preserves_stream_idempotence_marker(spark, be):
    # r4 review finding: compact()/merge/delete between a stream commit
    # and its checkpoint write must NOT erase the batch-id marker —
    # otherwise a replayed microbatch duplicates rows.
    from crawspark.corpus import make_doc
    from crawspark.operators.merge import delete_where, merge_upsert
    from crawspark.schema import DOCUMENTS_INTERLEAVED
    from crawspark.streaming.snapshot_sink import commit_batch

    docs = [make_doc(21, i) for i in range(6)]
    df = spark.createDataFrame([(d["doc_id"], d["spans"]) for d in docs],
                               schema=DOCUMENTS_INTERLEAVED)
    assert commit_batch(be, "t_m", df, 3) is True
    n = be.read(spark, "t_m").count()
    be.compact(spark, "t_m", target_files=1)
    assert be.table_props("t_m").get("stream_batch_id") == 3
    assert commit_batch(be, "t_m", df, 3) is False  # replay still no-op
    from pyspark.sql import functions as F
    delete_where(spark, be, "t_m", F.col("n_spans") < 0)  # deletes nothing
    assert be.table_props("t_m").get("stream_batch_id") == 3
    assert commit_batch(be, "t_m", df, 2) is False
    assert be.read(spark, "t_m").count() == n
    # merge preserves it too
    merge_upsert(spark, be, "t_m",
                 be.read(spark, "t_m").limit(1), "doc_id")
    assert be.table_props("t_m").get("stream_batch_id") == 3
