"""Deterministic corpus-sampling operators for a training-data pipeline:
hash-bernoulli rate sampling, stratified exact-k, weighted priority
sampling, and token-budget mixture construction.

Every operator derives its randomness from md5(doc_id) — bit-identical
in Spark and DuckDB — so the sampled SET is a pure function of the
input, re-runs are idempotent (the resume property the checkpoint layer
relies on), and the DuckDB oracle can replay the selection exactly.
The 60-bit hash is parsed with F.conv / '0x'||hex::UBIGINT, the same
portable pattern as the KMV sketches (sketches.py).

Scale design (100 TB):
- bernoulli / mixture: a single narrow filter per row against a
  broadcast threshold table — no shuffle at all on the big side.
- stratified exact-k: a rank<=K window whose partial WindowGroupLimit
  (SPARK-37099) caps every map task at K rows per stratum before the
  one exchange — no task ever materializes a whole stratum.
- weighted: priority = w/u (Duffield-Lund-Thorup priority sampling,
  public) with a global top-K that compiles to TakeOrderedAndProject
  (map-side partial top-k, no full sort). Only IEEE-exact ops
  (int->double cast, divide) are used on the ranking path — never
  pow/ln, whose last-ulp behavior differs across engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crawspark.operators.partitioning import ensure_parallelism
from crawspark.registry import register
from crawspark.sources import local_frame, read_testdata

_TWO60 = 1 << 60  # hash values live in [0, 2^60)

# Per-source bernoulli rates: a broadcastable policy table (rate by
# source family), the shape a real pipeline uses for source reweighting.
_BERN_RATES = {"src0": 0.50, "src1": 0.25, "src2": 0.10, "src3": 0.75,
               "src4": 0.05}
# Integer thresholds computed ONCE in Python so Spark and DuckDB compare
# h < t as plain integers — no float compare in either engine.
_BERN_THRESH = {s: int(r * _TWO60) for s, r in _BERN_RATES.items()}

_STRAT_K = 8       # docs kept per language stratum

_PRIO_K = 25       # global weighted-sample size

# Mixture: char budget split over sources by weight; f_s = min(1, B_s/T_s)
_MIX_BUDGET = 30_000
_MIX_WEIGHTS = {"src0": 0.40, "src1": 0.30, "src2": 0.20, "src3": 0.05,
                "src4": 0.05}


def _h60(col: str = "doc_id", salt: str = "samp") -> F.Column:
    """Deterministic 60-bit hash of a column, portable to DuckDB."""
    hx = F.substring(F.md5(F.concat(F.lit(salt + ":"),
                                    F.col(col).cast("string"))), 1, 15)
    return F.conv(hx, 16, 10).cast("long")


def _h60_sql(col: str = "doc_id", salt: str = "samp") -> str:
    return f"('0x' || substr(md5('{salt}:' || {col}), 1, 15))::UBIGINT"


def _thresh_values_sql(thresh: dict[str, int]) -> str:
    return ", ".join(f"('{s}', {t}::BIGINT)" for s, t in thresh.items())


@register("sample_hash_bernoulli", sql=f"""
    WITH rates(source, thresh) AS (VALUES {_thresh_values_sql(_BERN_THRESH)})
    SELECT d.source,
           count(*) AS n_sampled,
           CAST(sum(d.n_chars) AS BIGINT) AS chars_sampled,
           CAST(min(d.doc_id) AS BIGINT) AS min_doc_id
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE {_h60_sql('d.doc_id')} < r.thresh
    GROUP BY d.source
""")
def sample_hash_bernoulli(spark, sf_dir):
    # Deterministic per-source rate sampling: md5-hash each doc into
    # [0, 2^60) and keep it iff below the source's integer threshold.
    # The rate table is broadcast; the scan side never shuffles — the
    # one sampling strategy that is embarrassingly parallel at 100 TB.
    rates = local_frame(spark, _BERN_THRESH.items(),
                        "source string, thresh long")
    docs = read_testdata(spark, sf_dir, "documents")
    return (docs.join(F.broadcast(rates), "source")
            .filter(_h60() < F.col("thresh"))
            .groupBy("source")
            .agg(F.count("*").alias("n_sampled"),
                 F.sum("n_chars").cast("long").alias("chars_sampled"),
                 F.min("doc_id").cast("long").alias("min_doc_id")))


@register("sample_stratified_topk", sql=f"""
    SELECT doc_id, lang, rank FROM (
      SELECT doc_id, lang,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY {_h60_sql('doc_id')}, doc_id) AS INT) AS rank
      FROM documents)
    WHERE rank <= {_STRAT_K}
""")
def sample_stratified_topk(spark, sf_dir):
    # Exact k-per-stratum sample: the k smallest hashes per language.
    # A plain rank<=K window is already skew-safe on Spark 4: the
    # rank-limit pushdown (SPARK-37099) plants a WindowGroupLimit
    # PARTIAL before the exchange, so each map task ships at most K
    # rows per stratum — the salted two-level tournament this would
    # have needed pre-3.5 adds a second exchange for nothing (verified
    # against the executed plan; pinned in tests/test_scale_plans.py).
    from pyspark.sql import Window

    docs = (read_testdata(spark, sf_dir, "documents")
            .select("doc_id", "lang", _h60().alias("h")))
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (docs
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= _STRAT_K)
            .select("doc_id", "lang", "rank"))


@register("sample_weighted_priority", sql=f"""
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS weight,
           round(CAST(n_chars AS DOUBLE)
                 / (CAST({_h60_sql('doc_id')} + 1 AS DOUBLE)
                    / {float(_TWO60)}), 4) AS priority
    FROM documents
    ORDER BY CAST(n_chars AS DOUBLE)
             / (CAST({_h60_sql('doc_id')} + 1 AS DOUBLE)
                / {float(_TWO60)}) DESC, doc_id
    LIMIT {_PRIO_K}
""")
def sample_weighted_priority(spark, sf_dir):
    # Priority sampling [Duffield, Lund, Thorup 2005, public]: each doc
    # draws u in (0,1] from its hash and gets priority w/u; the top-K by
    # priority is a weighted-without-replacement sample whose inclusion
    # probability tracks w. Compiles to TakeOrderedAndProject (map-side
    # partial top-k, no global sort). Ranking math is cast+divide only —
    # IEEE-identical in Spark and DuckDB; pow/ln (the u^(1/w) form of
    # this sampler) would not be.
    docs = read_testdata(spark, sf_dir, "documents")
    u = (_h60() + F.lit(1)).cast("double") / F.lit(float(_TWO60))
    prio = F.col("n_chars").cast("double") / u
    return (docs
            .select("doc_id", "lang",
                    F.col("n_chars").cast("long").alias("weight"),
                    prio.alias("_p"))
            .orderBy(F.col("_p").desc(), "doc_id")
            .limit(_PRIO_K)
            .select("doc_id", "lang", "weight",
                    F.round("_p", 4).alias("priority")))


def _mix_values_sql() -> str:
    return ", ".join(f"('{s}', {w})" for s, w in _MIX_WEIGHTS.items())


@register("mixture_token_budget", sql=f"""
    WITH weights(source, w) AS (VALUES {_mix_values_sql()}),
    totals AS (
      SELECT d.source, w, CAST(sum(d.n_chars) AS DOUBLE) AS total_chars
      FROM documents d JOIN weights USING (source) GROUP BY d.source, w),
    cuts AS (
      SELECT source,
             least(1.0, ({_MIX_BUDGET} * w) / total_chars) AS frac,
             CAST(floor(least(1.0, ({_MIX_BUDGET} * w) / total_chars)
                        * {_TWO60}) AS BIGINT) AS thresh
      FROM totals)
    SELECT d.source,
           count(*) AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS chars_taken,
           round(any_value(c.frac), 6) AS frac
    FROM documents d JOIN cuts c USING (source)
    WHERE {_h60_sql('d.doc_id', 'mix')} < c.thresh
    GROUP BY d.source
""")
def mixture_token_budget(spark, sf_dir):
    # Data-mixture construction: split a char budget across sources by
    # weight, convert each source's share into a deterministic hash
    # cutoff frac = min(1, B_s / total_s), and keep docs below it. Two
    # narrow aggregates + a broadcast of one row per source — the
    # ordered-cumsum formulation of "take docs until the budget" needs a
    # per-source window (one task per source = skew at scale); the hash
    # cutoff hits the same budget in expectation with zero shuffle on
    # the scan. The cutoff is floored to an INTEGER threshold so both
    # engines compare h < t in int64.
    weights = local_frame(spark, _MIX_WEIGHTS.items(),
                          "source string, w double")
    docs = read_testdata(spark, sf_dir, "documents")
    totals = (docs.join(F.broadcast(weights), "source")
              .groupBy("source", "w")
              .agg(F.sum("n_chars").cast("double").alias("total_chars")))
    frac = F.least(F.lit(1.0), (F.lit(_MIX_BUDGET) * F.col("w"))
                   / F.col("total_chars"))
    cuts = totals.select(
        "source", frac.alias("frac"),
        F.floor(frac * F.lit(_TWO60)).cast("long").alias("thresh"))
    return (docs.join(F.broadcast(cuts), "source")
            .filter(_h60(salt="mix") < F.col("thresh"))
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("chars_taken"),
                 F.round(F.any_value("frac"), 6).alias("frac")))


# Train/val/test split fractions in 60-bit hash space: 90/5/5. The
# assignment is a pure projection of the salted hash — embarrassingly
# parallel, stable under corpus growth (a doc's split never changes
# when other docs arrive), and leak-proof by construction (the salt is
# the split namespace; no doc can land in two splits).
_SPLIT_SALT = "split-v1"
_TWO60 = 1 << 60
_VAL_LO = int(0.90 * _TWO60)
_TEST_LO = int(0.95 * _TWO60)


@register("split_train_val_test", sql=f"""
    WITH assigned AS (
      SELECT doc_id, lang, n_chars,
             CASE WHEN {_h60_sql('doc_id', _SPLIT_SALT)} < {_VAL_LO}
                    THEN 'train'
                  WHEN {_h60_sql('doc_id', _SPLIT_SALT)} < {_TEST_LO}
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, lang, CAST(count(*) AS INT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           md5(string_agg(doc_id, ',' ORDER BY doc_id)) AS members_md5
    FROM assigned GROUP BY split, lang
""")
def split_train_val_test(spark, sf_dir):
    # Disjointness and completeness are checked by the oracle compare
    # itself: the per-(split, lang) member digests partition the corpus
    # — any doc assigned to two splits or dropped flips a members_md5.
    h = _h60(salt=_SPLIT_SALT)
    split = (F.when(h < _VAL_LO, "train")
             .when(h < _TEST_LO, "val")
             .otherwise("test"))
    return (read_testdata(spark, sf_dir, "documents")
            .select("doc_id", "lang", "n_chars", split.alias("split"))
            .groupBy("split", "lang")
            .agg(F.count("*").cast("int").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("n_chars"),
                 F.min("doc_id").cast("long").alias("min_doc_id"),
                 F.md5(F.concat_ws(",", F.transform(
                     F.sort_array(F.collect_list("doc_id")),
                     lambda x: x.cast("string"))))
                 .alias("members_md5")))


from crawspark.operators.textops import DECON_N as _LEAK_N  # noqa: E402


@register("split_leakage_check", sql=f"""
    -- Eval hygiene over the hash split: {_LEAK_N}-gram runs shared
    -- between a TEST document and any TRAIN document are contamination
    -- the eval set inherits from natural near-dups — exactly what the
    -- split assignment alone cannot prevent. Natural duplicate runs
    -- exist in the corpus at every SF (no plants needed).
    WITH assigned AS (
      SELECT doc_id, text,
             CASE WHEN {_h60_sql('doc_id', _SPLIT_SALT)} < {_VAL_LO} THEN 'train'
                  WHEN {_h60_sql('doc_id', _SPLIT_SALT)} < {_TEST_LO} THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ), tok AS (
      SELECT doc_id, split,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM assigned
    ), grams AS (
      SELECT doc_id, split,
             unnest(list_distinct(list_transform(
               range(1, len(toks) - {_LEAK_N - 2}),
               i -> array_to_string(list_slice(toks, i, i + {_LEAK_N - 1}),
                                    ' ')))) AS gram
      FROM tok WHERE len(toks) >= {_LEAK_N}
    ), train_g AS (
      SELECT DISTINCT gram FROM grams WHERE split = 'train'
    )
    SELECT g.doc_id AS test_doc_id,
           CAST(count(*) AS INT) AS n_leaked_grams
    FROM grams g JOIN train_g USING (gram)
    WHERE g.split = 'test'
    GROUP BY test_doc_id
""")
def split_leakage_check(spark, sf_dir):
    # The train-gram set is bounded by the train split's distinct-gram
    # vocabulary; at extreme scale the key becomes xxhash64(gram) and
    # the join stays a hash join keyed on the gram — the corpus side
    # never self-joins. Tokenizer and gram window come from textops'
    # single definitions (_WORD_TOKS / _DECON_GRAMS — the zip_with
    # ngram_expr form, 6x the transform(sequence) spelling), so
    # "contaminated run" cannot drift from the benchmark query; the
    # exploded gram table materializes once (localCheckpoint) because
    # both the train_g and test branches read it.
    from crawspark.operators.textops import _DECON_GRAMS, _WORD_TOKS

    h = _h60(salt=_SPLIT_SALT)
    split = (F.when(h < _VAL_LO, "train")
             .when(h < _TEST_LO, "val")
             .otherwise("test"))
    docs = (ensure_parallelism(read_testdata(spark, sf_dir, "documents"))
            .select("doc_id", "text", split.alias("split"))
            .withColumn("toks", F.expr(_WORD_TOKS))
            .filter(F.size("toks") >= _LEAK_N)
            .select("doc_id", "split",
                    F.explode(F.expr(_DECON_GRAMS)).alias("gram"))
            .localCheckpoint(eager=True))
    train_g = (docs.filter(F.col("split") == "train")
               .select("gram").distinct())
    return (docs.filter(F.col("split") == "test")
            .join(train_g, "gram")
            .groupBy(F.col("doc_id").alias("test_doc_id"))
            .agg(F.count("*").cast("int").alias("n_leaked_grams")))


# ---------------------------------------------------------------------------
# Context-window packing over ONE GLOBAL token stream (concat-and-chunk):
# the corpus in doc_id order is chunked into fixed windows of PACK_L
# tokens; each document reports the window range it lands in. Documents
# spanning >1 bin are the ones a packer either splits or pads around —
# n_bins is the knob both strategies read. Companion to lmquality.py's
# pack_training_sequences, which packs per (lang, shard) stream and so
# never needs a global order; THIS query keeps the single-stream
# semantics and instead makes the global prefix sum scale: a naive
# sum() OVER (ORDER BY doc_id) plans a single-task window over the whole
# corpus, so the Spark side runs the classic two-level scan — per-block
# sums (block = doc_id div PACK_BLOCK), an offset cumsum over the BLOCK
# table (corpus/1024 rows — itself hierarchically chunkable at 10^12
# docs), then a per-block window + broadcast offset. The DuckDB oracle
# keeps the naive one-liner — single-node, same numbers.
# ---------------------------------------------------------------------------

PACK_L = 512       # tokens per training sequence
PACK_BLOCK = 1024  # docs per prefix-sum block


@register("pack_context_windows", sql=f"""
    WITH tok AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(lower(text),
                                                   '[^a-z0-9]+'),
                             x -> x <> '')) AS n
      FROM documents
    ), c AS (
      SELECT doc_id, n, sum(n) OVER (ORDER BY doc_id) AS cum
      FROM tok WHERE n >= 1
    )
    SELECT doc_id, CAST(n AS INT) AS n_toks,
           CAST((cum - n) // {PACK_L} AS BIGINT) AS first_bin,
           CAST((cum - 1) // {PACK_L} AS BIGINT) AS last_bin,
           CAST((cum - 1) // {PACK_L} - (cum - n) // {PACK_L} + 1 AS INT)
             AS n_bins
    FROM c
""")
def pack_context_windows(spark, sf_dir):
    from pyspark.sql.window import Window

    # the one [^a-z0-9] tokenizer definition (cannot drift from the
    # other token-counting queries or this query's own oracle)
    from crawspark.operators.textops import _WORD_TOKS

    # toks feeds the block-sum branch AND the main join side —
    # materialize once or the tokenization scan runs twice.
    toks = (ensure_parallelism(read_testdata(spark, sf_dir, "documents"))
            .select("doc_id", F.size(F.expr(_WORD_TOKS)).alias("n"))
            .filter(F.col("n") >= 1)
            .withColumn("blk", F.expr(f"doc_id div {PACK_BLOCK}"))
            .localCheckpoint(eager=True))
    bsum = toks.groupBy("blk").agg(F.sum("n").alias("bn"))
    # The ONLY unpartitioned window runs over the block table (bounded:
    # corpus / PACK_BLOCK rows); its result is small enough to broadcast.
    woff = (Window.orderBy("blk")
            .rowsBetween(Window.unboundedPreceding, -1))
    offs = bsum.select(
        "blk", F.coalesce(F.sum("bn").over(woff), F.lit(0)).alias("off"))
    win = Window.partitionBy("blk").orderBy("doc_id")
    c = (toks.join(F.broadcast(offs), "blk")
         .withColumn("cum", F.col("off") + F.sum("n").over(win)))
    start_bin = F.expr(f"(cum - n) div {PACK_L}")
    end_bin = F.expr(f"(cum - 1) div {PACK_L}")
    return c.select(
        "doc_id", F.col("n").cast("int").alias("n_toks"),
        start_bin.cast("bigint").alias("first_bin"),
        end_bin.cast("bigint").alias("last_bin"),
        (end_bin - start_bin + 1).cast("int").alias("n_bins"))
