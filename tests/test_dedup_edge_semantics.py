"""Dedup semantics the driver testdata never exercises: the hot-shingle
DF_CAP actually firing (max df on testdata is 7, far below the cap), and
a hypothesis differential of the zip_with shingle construction against a
plain-Python reference."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from crawspark.operators import dedup
from crawspark.sources import read_testdata


@pytest.fixture()
def hot_corpus(spark, tmp_path, monkeypatch):
    """122 docs sharing boilerplate phrases (df > cap) plus per-doc unique
    tails; one planted near-dup pair. Cap lowered to 50 so it fires."""
    monkeypatch.setattr(dedup, "DF_CAP", 50)
    boiler = "subscribe to the newsletter for daily updates now"
    rows = []
    for i in range(120):
        unique = (f"the story number {i} of the "
                  f"{'winter' if i % 2 else 'garden'} village was long and "
                  f"it had many details about topic {i}")
        rows.append((i, f"{boiler} {unique}"))
    dup = ("the report of the market was ready and the cluster had a "
           "signal for all of the readers there")
    rows.append((200, f"{boiler} {dup}"))
    rows.append((201, f"{boiler} {dup} extra"))
    # r2 review scenario: similarity lives ONLY in the rare tail — doc 300
    # carries the boilerplate, doc 301 does not. Raw-shingle jaccard is
    # diluted by the hot shingles; post-cap jaccard is ~0.9, so candidates
    # generated from capped shingles MUST find this pair.
    tail = ("the winter energy archive of the science leader was a long "
            "message about the culture and history of the village people "
            "with a policy for the growth of the market signal")
    rows.append((300, f"{boiler} {tail}"))
    rows.append((301, tail))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_df_cap_fires_and_matches_oracle(spark, hot_corpus):
    # Boilerplate/scaffold shingles exceed the (lowered) cap and are
    # dropped identically on BOTH engines; the full pair list must still
    # hash-match, and the planted near-dup must survive on post-cap
    # (rare) shingles alone.
    from crawspark.registry import load_all
    spec = load_all()["dedup_ngram_jaccard"]
    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in spec.spark(spark, hot_corpus).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{hot_corpus}/documents.parquet/*.parquet')")
    oracle_sql = spec.sql.replace("> 256", f"> {dedup.DF_CAP}")
    assert "> 50" in oracle_sql
    exp = {(a, b): j for a, b, j in con.execute(oracle_sql).fetchall()}
    con.close()
    assert got == exp
    assert (200, 201) in got, "planted near-dup must survive the cap"
    assert got[(200, 201)] >= 0.8
    assert got[(300, 301)] >= 0.9  # boilerplate-diluted pair, post-cap


def test_df_cap_drops_hot_shingles_from_inverted_index(spark, hot_corpus):
    # The inverted index is the exploded capped arrays (the postings
    # every pair join self-joins on): no posting list may exceed the cap.
    docs = read_testdata(spark, hot_corpus, "documents")
    sh = dedup.capped_shingle_arrays(docs).select(
        F.explode("shs").alias("shingle"))
    max_df = (sh.groupBy("shingle").agg(F.count("*").alias("df"))
              .agg(F.max("df")).collect()[0][0])
    assert max_df <= dedup.DF_CAP, "posting lists must be capped"


def test_resolve_keepers_with_cap_firing(spark, hot_corpus):
    # End-to-end resolve on the hot corpus: the boiler-sharing pair AND
    # the boilerplate-diluted pair (300/301 — candidates must come from
    # POST-CAP shingles or this one is invisible to the banding) both
    # resolve; nothing else clusters.
    from crawspark.registry import load_all
    got = {(r.doc_id, r.keep_id) for r in
           load_all()["dedup_minhash_resolve"].spark(
               spark, hot_corpus).collect()}
    assert got == {(200, 200), (201, 200), (300, 300), (301, 300)}


def _ref_shingles(toks: list[str]) -> list[str]:
    return [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]


@given(st.lists(st.text(alphabet="abcdef", min_size=1, max_size=5),
                min_size=3, max_size=40))
@settings(max_examples=50, deadline=None)
def test_zipwith_shingles_differential(spark, toks):
    df = spark.createDataFrame([(toks,)], "toks array<string>")
    got = df.select(F.expr(dedup._SHINGLES_RAW).alias("s")).collect()[0]["s"]
    assert got == _ref_shingles(toks)


def test_ngram_expr_short_and_null_arrays(spark):
    # Documented contract (ADVICE r2): size(toks) < n yields [], not an
    # INVALID_PARAMETER_VALUE.LENGTH crash; null propagates to null.
    from crawspark.functions.ngrams import ngram_expr

    df = spark.createDataFrame(
        [(0, []), (1, ["a"]), (2, ["a", "b"]), (3, ["a", "b", "c"]),
         (4, None)],
        "id long, toks array<string>")
    rows = {r.id: r.g for r in
            df.select("id", F.expr(ngram_expr(3)).alias("g")).collect()}
    assert rows[0] == [] and rows[1] == [] and rows[2] == []
    assert rows[3] == ["a b c"]
    assert rows[4] is None


def test_incremental_minhash_never_pairs_old_with_old(spark, tmp_path):
    # The incrementality contract: doc_id % 10 == 0 is "new"; an exact
    # duplicate pair entirely inside the OLD corpus must NOT appear (that
    # quadrant is never joined), while new x old and new x new duplicate
    # pairs of the same text must.
    dup = ("the report of the market was ready and the cluster had a "
           "signal for all of the readers there in the morning")
    filler = [(i, f"the unrelated story number {i} about the village of "
                  f"topic {i} was very long and detailed and different")
              for i in (2, 3, 7, 13, 27)]
    rows = filler + [
        (1, dup), (11, dup),          # old x old duplicate — must be absent
        (10, dup + " x"),             # new, near-dup of 1/11 — must pair
        (20, dup), (30, dup),         # new x new duplicate — must pair
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))
    from crawspark.registry import load_all
    got = {(r.doc_a, r.doc_b): r.pair_type
           for r in load_all()["dedup_incremental_minhash"]
           .spark(spark, str(tmp_path)).collect()}
    assert (1, 11) not in got, "old x old quadrant leaked into the output"
    assert got.get((20, 30)) == "new_new"
    assert got.get((1, 10)) == "new_old"
    assert got.get((10, 11)) == "new_old"
    for (a, b), t in got.items():
        assert a % 10 == 0 or b % 10 == 0, (a, b)
        assert t == ("new_new" if a % 10 == 0 and b % 10 == 0
                     else "new_old"), (a, b, t)
