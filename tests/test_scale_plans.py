"""Scale-mechanism evidence tests (SURVEY.md §4.3): bucketed co-located
joins skip the shuffle entirely, and AQE splits skewed join partitions at
runtime. These pin the mechanisms the 100 TB design names — on a real
cluster the same configs/table layouts do the work."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawspark.plans import executed_plan


@pytest.fixture()
def bucketed_tables(spark, tmp_path):
    docs = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).alias("feature"))
    scores = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 13).cast("double").alias("score"))
    for name, df in (("b_docs", docs), ("b_scores", scores)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        # external table (explicit path): bucket metadata lives in the
        # session catalog, data under tmp_path
        (df.write.bucketBy(8, "doc_id").sortBy("doc_id")
         .option("path", str(tmp_path / name))
         .mode("overwrite").saveAsTable(name))
    yield "b_docs", "b_scores"
    for name in ("b_docs", "b_scores"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    # Both sides bucketed by the join key into the same bucket count →
    # the sort-merge join reads buckets co-located, ZERO Exchange in the
    # plan. This is the pre-shuffled layout the design prescribes for the
    # doc_id joins (results ⋈ metadata) at 10^12 rows.
    a, b = bucketed_tables
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(a).join(spark.table(b), "doc_id")
        plan = executed_plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == 2000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_aqe_splits_skewed_join_partition(spark, tmp_path):
    # One key owns ~95% of the left side. With AQE skew-join enabled and
    # thresholds scaled to testdata, the runtime plan marks the sort-merge
    # join `skew=true` and splits the hot partition — the mechanism that
    # replaces hand-salting when the skew is only discovered at runtime
    # (hand salting stays for the aggregation path: join_salted_skew).
    left_path = str(tmp_path / "skew_left")
    right_path = str(tmp_path / "skew_right")
    (spark.range(0, 200_000)
     .select(F.when(F.col("id") % 20 != 0, 7).otherwise(F.col("id") % 1000)
             .alias("k"),
             F.col("id").alias("v"))
     .write.mode("overwrite").parquet(left_path))
    (spark.range(0, 1000).select(F.col("id").alias("k"),
                                 (F.col("id") * 2).alias("w"))
     .write.mode("overwrite").parquet(right_path))
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        joined = (spark.read.parquet(left_path)
                  .join(spark.read.parquet(right_path), "k"))
        # collect() on THIS Dataset so its own QueryExecution finalizes —
        # count() would plan a different (aggregated) query.
        n = len(joined.collect())
        assert n == 200_000
        plan = executed_plan(joined)
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# Adversarial dedup skew (VERDICT r3 next-round #7): one near-DF_CAP
# posting list and one hot band — the two fanout bombs the dedup design
# claims to bound.
# ---------------------------------------------------------------------------


def _hostile_corpus(spark, n_same: int):
    """``n_same`` byte-identical docs (every shingle's posting list = the
    clique; every band hash identical = one hot band key) + 40 distinct
    docs."""
    same_text = ("the quick brown fox jumps over the lazy dog and tells "
                 "all of the people the story of the garden")
    same = spark.range(0, n_same).select(
        F.col("id").alias("doc_id"), F.lit(same_text).alias("text"))
    # digits would be stripped by the [^a-z]+ tokenizer — spell ids as
    # letters so each distinct doc really tokenizes distinctly
    word = lambda c: F.translate(c.cast("string"), "0123456789", "abcdefghij")  # noqa: E731
    distinct = spark.range(10_000, 10_040).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("unique document alpha "), word(F.col("id")),
                 F.lit(" beta "), word(F.col("id") * 7),
                 F.lit(" gamma "), word(F.col("id") * 13))
        .alias("text"))
    return same.unionByName(distinct)


def test_df_cap_drops_boilerplate_posting_list(spark):
    # A shingle shared by MORE than DF_CAP docs is boilerplate: the
    # inverted index must drop it (an uncapped posting list is an O(df^2)
    # pair bomb at 100 TB). DF_CAP+44 identical docs → every one of their
    # shingles exceeds the cap → none of them keeps a capped array, while
    # the distinct docs' shingles all survive.
    from crawspark.operators.dedup import DF_CAP, capped_shingle_arrays

    arrays = capped_shingle_arrays(_hostile_corpus(spark, DF_CAP + 44))
    per_doc = {r["doc_id"]: r["n"] for r in
               arrays.select("doc_id", F.size("shs").alias("n")).collect()}
    assert not any(d < 10_000 for d in per_doc), "capped shingles survived"
    assert sum(1 for d in per_doc if d >= 10_000) == 40


def test_hot_band_candidates_bounded_and_exact(spark):
    # AT the cap (df == DF_CAP, not dropped): the 16x2 band join meets one
    # hot band key holding the whole clique. The candidate set must be
    # EXACTLY the clique pairs (no cross-contamination, no blowup beyond
    # C(n,2)) and the AQE-finalized plan must complete the self-join.
    from crawspark.operators.dedup import (
        DF_CAP,
        _resolve_candidates,
        _resolve_combined,
    )

    n = DF_CAP  # == cap → kept
    combined = _resolve_combined(_hostile_corpus(spark, n))
    rows = _resolve_candidates(combined).collect()
    clique = [r for r in rows if r["doc_a"] < 10_000 and r["doc_b"] < 10_000]
    cross = [r for r in rows if (r["doc_a"] < 10_000) != (r["doc_b"] < 10_000)]
    assert len(clique) == n * (n - 1) // 2, len(clique)
    assert not cross, f"clique leaked into distinct docs: {cross[:3]}"


def test_hot_band_resolve_single_component(spark):
    # End-to-end on the hostile corpus: resolve must collapse the clique
    # to ONE keeper (min doc_id) and leave every distinct doc alone.
    from crawspark.operators.dedup import (
        _resolve_candidates,
        _resolve_combined,
        _verify_exact,
        connected_components,
    )

    n = 64
    combined = _resolve_combined(_hostile_corpus(spark, n))
    verified = (_verify_exact(_resolve_candidates(combined), combined)
                .select("doc_a", "doc_b"))
    labels = {r["node"]: r["label"]
              for r in connected_components(verified).collect()}
    assert all(labels[d] == 0 for d in range(n))
    assert not any(d >= 10_000 for d in labels)


def test_zorder_layout_clusters_both_dimensions(spark):
    # The point of Z-order: after repartitionByRange+sort on the z-value,
    # every partition covers a NARROW range of BOTH dimensions (a curve
    # tile), so file-level min/max prunes range predicates on either
    # column. A single-column sort clusters only its own dimension.
    from pyspark.sql import functions as F

    from crawspark.operators.partitioning import zorder_layout

    n = 40_000
    df = (spark.range(n)
          .select((F.xxhash64("id").bitwiseAND(F.lit(255))).alias("x"),
                  (F.xxhash64("id", F.lit(1)).bitwiseAND(F.lit(255)))
                  .alias("y")))

    def widths(laid_out):
        per = (laid_out.withColumn("p", F.spark_partition_id())
               .groupBy("p")
               .agg((F.max("x") - F.min("x")).alias("wx"),
                    (F.max("y") - F.min("y")).alias("wy"))
               .agg(F.avg("wx"), F.avg("wy")).collect()[0])
        return per[0], per[1]

    zx, zy = widths(zorder_layout(df, "x", "y", partitions=16))
    sx, sy = widths(df.repartitionByRange(16, "y"))
    # 16 partitions over a 16-bit z-space = 4096 z-values/partition: a
    # ~64x64 tile (boundary tiles can span wider; avg stays low)
    assert zx < 140 and zy < 140, (zx, zy)
    # y-only layout clusters y but leaves x at full range
    assert sy < 64 and sx > 200, (sx, sy)
    # both dimensions simultaneously narrower than the one-column layout's
    # unclustered dimension
    assert max(zx, zy) < sx


def test_runtime_bloom_filter_prunes_fact_scan(spark, tmp_path):
    # Catalyst's runtime row-level filter: a selective dim-side predicate
    # injects might_contain(bloom_filter_agg(...)) into the FACT side's
    # scan filter — at 100 TB this prunes fact rows before the join
    # shuffle (the engine-native form of a hand-built semi-join bloom).
    from pyspark.sql import functions as F

    fact = str(tmp_path / "fact")
    dim = str(tmp_path / "dim")
    (spark.range(0, 500_000)
     .select((F.col("id") % 50_000).alias("k"), F.col("id").alias("v"))
     .write.mode("overwrite").parquet(fact))
    (spark.range(0, 50_000)
     .select(F.col("id").alias("k"), (F.col("id") % 7).alias("cat"))
     .write.mode("overwrite").parquet(dim))
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        j = (spark.read.parquet(fact)
             .join(spark.read.parquet(dim).filter(F.col("cat") == 3), "k"))
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan, \
            plan[:1500]
        # correctness unchanged: cat==3 keys are id%7==3 → 7143 keys x 10
        assert j.count() == 71_430
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lmquality_plans_broadcast_models_and_shard_windows(spark):
    # The lmquality quartet's 100 TB contracts, pinned as plan
    # properties: every model-table join is a broadcast (the corpus
    # side never sort-merge-shuffles against the model), and sequence
    # packing windows on (lang, shard) — never a global window, which
    # would serialize the corpus through one partition.
    from crawspark.operators.lmquality import (
        boilerplate_corpus_lines,
        dsir_importance_weights,
        pack_training_sequences,
        quality_lm_perplexity,
    )

    sf = "/root/testdata/sf0.001"
    for fn in (quality_lm_perplexity, boilerplate_corpus_lines,
               dsir_importance_weights):
        plan = executed_plan(fn(spark, sf))
        assert "SortMergeJoin" not in plan, fn.__name__
        assert "BroadcastHashJoin" in plan or \
            "BroadcastNestedLoopJoin" in plan, fn.__name__

    plan = executed_plan(pack_training_sequences(spark, sf))
    assert "windowspecdefinition(lang" in plan, plan
    # exactly one exchange: the (lang, shard) hash for the window
    assert plan.count("Exchange") == 1, plan

    # Kneser-Ney: same contract as the add-k query — the three count
    # tables and the totals row are all broadcast against the corpus.
    from crawspark.operators.lmquality import (
        quality_classifier_score,
        quality_kn_perplexity,
    )

    plan = executed_plan(quality_kn_perplexity(spark, sf))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # Trained classifier: the weight table (<= B+1 rows) must join the
    # feature table as a broadcast — the corpus never shuffles against
    # the model. (Corpus-side doc_id equi-joins may legitimately SMJ.)
    plan = executed_plan(quality_classifier_score(spark, sf))
    assert "BroadcastHashJoin" in plan


def test_asof_join_is_single_exchange(spark):
    # The union-and-carry-forward as-of join must cost ONE wide
    # exchange (the per-user window hash) — the naive inequality join
    # would be a per-user cross product. Also: no Join operator at all
    # appears in the plan (the match is computed by the window).
    from crawspark.operators.relational import join_asof_versions

    plan = executed_plan(join_asof_versions(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan
    rows = join_asof_versions(spark, "/root/testdata/sf0.001").collect()
    # left semantics: some events precede their user's first version
    assert any(r["version_key"] is None for r in rows)
    matched = [r for r in rows if r["version_key"] is not None]
    assert matched
    assert all(r["ver_ts"] <= r["ts"] for r in matched)


def test_range_join_avoids_nested_loop(spark):
    # The bucketed range join must plan as an EQUI hash/sort-merge join
    # on (user_id, bin) — never BroadcastNestedLoop or a cartesian (the
    # naive time-inequality plan). Matches must land, including windows
    # that straddle a bin boundary (the two-bin explode path), and the
    # exact filter must hold on every pair.
    from crawspark.operators.relational import join_range_windows

    df = join_range_windows(spark, "/root/testdata/sf0.001")
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan or "BroadcastHashJoin" in plan
            or "ShuffledHashJoin" in plan)
    rows = df.collect()
    assert rows
    # windows start on odd hours relative to the 12h grid for most
    # orderkeys, so straddling windows exist and matched through the
    # second bin: verify at least one matched event sits in a later
    # bin than its window's start bin
    import duckdb as _d
    con = _d.connect()
    straddle = con.execute("""
      WITH win AS (
        SELECT o_custkey AS user_id, o_orderkey AS window_key,
               TIMESTAMP '2024-01-01 00:00:00'
                 + INTERVAL (o_orderkey % 720) HOUR AS w_start
        FROM read_parquet('/root/testdata/sf0.001/orders.parquet'))
      SELECT count(*) FROM win w
      JOIN read_parquet('/root/testdata/sf0.001/events.parquet') e
        ON e.user_id = w.user_id
       AND e.ts >= w.w_start
       AND e.ts < w.w_start + INTERVAL 12 HOUR
      WHERE CAST(epoch(e.ts) AS BIGINT) // 43200
            > CAST(epoch(w.w_start) AS BIGINT) // 43200
    """).fetchone()[0]
    con.close()
    assert straddle > 0  # the second-bin path is actually on the data


def test_encoding_hygiene_queries_are_map_only(spark):
    # The hygiene passes (mojibake repair, NFC audit, char entropy,
    # blocklist gate) must ride the scan: zero exchanges, zero joins —
    # at 100 TB they are free riders on the first pass over the corpus.
    # Exception (r6): text_char_entropy carries the GUARDED
    # ensure_parallelism round-robin — inputs of fewer files than
    # defaultParallelism only, a no-op on the wide scans of the 100 TB
    # case — so it may show that one exchange but never a
    # hash/aggregation one.
    from crawspark.registry import load_all
    reg = load_all()
    for name in ("fix_mojibake", "unicode_nfc_stats",
                 "quality_blocklist_gate"):
        plan = executed_plan(reg[name].spark(spark, "/root/testdata/sf0.001"))
        assert "Exchange" not in plan, (name, plan[:1200])
        assert "Join" not in plan, (name, plan[:1200])
    plan = executed_plan(
        reg["text_char_entropy"].spark(spark, "/root/testdata/sf0.001"))
    assert "hashpartitioning" not in plan, plan[:1200]
    assert "Join" not in plan, plan[:1200]


def test_url_index_queries_single_agg_exchange(spark):
    # SURT keys and eTLD+1 aggregate once on the derived key — the
    # post-checkpoint plan (links materialized ONCE; without the
    # checkpoint every twin union branch re-ran the whole extraction
    # subtree) shows exactly the final groupBy exchange and no join.
    from crawspark.registry import load_all
    reg = load_all()
    for name in ("surt_url_index", "registered_domain_stats"):
        plan = executed_plan(reg[name].spark(spark, "/root/testdata/sf0.001"))
        assert plan.count("Exchange") == 1, (name, plan[:1200])
        assert "Join" not in plan, (name, plan[:1200])
