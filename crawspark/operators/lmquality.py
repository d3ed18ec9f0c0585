"""Model-based corpus filtering and training-batch preparation — the
published-pipeline quartet every large LLM dataset build runs between
extraction and training:

- ``quality_lm_perplexity``: CCNet-style n-gram LM scoring (Wenzek et
  al. 2020) — train a smoothed bigram LM on a trusted slice, score
  every document by mean negative log-probability.
- ``boilerplate_corpus_lines``: CCNet's corpus-level paragraph dedup —
  lines repeated across many documents are boilerplate (nav bars,
  cookie banners), flagged by a cross-corpus frequency join.
- ``dsir_importance_weights``: DSIR (Xie et al. 2023) hashed-n-gram
  importance weights — log p_target/p_raw per hashed feature bucket,
  summed per document, for importance resampling toward a target
  domain.
- ``pack_training_sequences``: GPT-style sequence packing — documents
  concatenated in stable order within a shard and cut into fixed-size
  context windows; emits per-document window spans so a trainer can
  address its tokens.

All four are pure DataFrame plans (no Python in the hot path) with
exact DuckDB oracle twins. The synthetic `documents` table plays the
corpus; source='src0' plays the trusted/target slice (CCNet uses
Wikipedia there).
"""

from __future__ import annotations

import logging

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crawspark.operators.partitioning import ensure_parallelism
from crawspark.registry import register
from crawspark.sources import local_frame, read_testdata

# Trusted/target slice for LM training and DSIR target distribution.
_TARGET_SRC = "src0"
# add-k smoothing for the bigram LM (CCNet uses modified Kneser-Ney via
# KenLM; add-k keeps the oracle exactly SQL-expressible)
_LM_K = 0.5
# DSIR hashed-feature buckets (the paper uses 10k hashed bigrams; the
# synthetic vocab is 31 words so 1024 unigram buckets already exercises
# collision handling)
_DSIR_B = 1024
# pseudo-line width for corpus-level boilerplate (documents are
# single-line word soup; 3-word windows repeat often enough across the
# corpus to make the frequency gate non-degenerate at every SF)
_LINE_W = 3
# Boilerplate = a line "surprisingly frequent" for THIS corpus: present
# in >= max(floor, ceil(mult * mean-lines-per-distinct-line)) distinct
# docs. r4 used a fixed >=3 docs, which inverts at scale — at 10x the
# corpus (and at 100 TB) nearly every line crosses an absolute count
# and the downstream keep-gate drops everything (observed: sf0.01 kept
# 128 survivors, sf0.1 kept 0). A mean-relative threshold is
# scale-invariant: uniform text stays below mult x mean at any corpus
# size while Zipf-head boilerplate exceeds it at any size.
_BOILER_MIN_DOCS = 3
_BOILER_FREQ_MULT = 3.0

# Shared DuckDB CTE fragments (the no-drift rule: every query that
# decomposes documents into pseudo-lines or rebuilds text from kept
# lines uses THESE definitions, never a copy).
#
# _lines_ctes(src): toks -> lines(doc_id, i, line) decomposition over
# any (doc_id, text) source.
def _lines_ctes(src: str = "documents") -> str:
    return f"""toks AS (
      SELECT doc_id, text, string_split(text, ' ') AS ts FROM {src}
    ), lines AS (
      SELECT doc_id, i,
             array_to_string(ts[(i - 1) * {_LINE_W} + 1 :
                                (i - 1) * {_LINE_W} + {_LINE_W}], ' ')
               AS line
      FROM (SELECT doc_id, ts,
                   unnest(generate_series(1, len(ts) // {_LINE_W})) AS i
            FROM toks WHERE len(ts) >= {_LINE_W})
    )"""


# _BOILER_CTES: the line decomposition + the corpus-relative boilerplate
# threshold, shared by boilerplate_corpus_lines AND
# rewrite_drop_boilerplate.
_BOILER_CTES = _lines_ctes() + f""", freq AS (
      SELECT line, count(DISTINCT doc_id) AS ndocs
      FROM lines GROUP BY line
    ), thr AS (
      SELECT greatest({_BOILER_MIN_DOCS},
                      CAST(ceil({_BOILER_FREQ_MULT} * avg(ndocs))
                           AS BIGINT)) AS t
      FROM freq
    )"""

# _REBUILD_SQL: given an ``agg(doc_id, n_lines, n_dropped, kept)`` CTE
# (kept = surviving lines joined in original order), re-attach the
# sub-line token tail and emit the rewritten doc, md5-pinned; short docs
# (< one full line) pass through whole. Shared by both rewrite queries.
_REBUILD_SQL = f""", rem AS (
      SELECT doc_id,
             array_to_string(ts[(len(ts) // {_LINE_W}) * {_LINE_W} + 1 :
                                len(ts)], ' ') AS tail
      FROM toks WHERE len(ts) >= {_LINE_W}
    )
    SELECT a.doc_id, n_lines, n_dropped,
           CAST(length(trim(concat(coalesce(kept, ''), ' ',
                                   coalesce(tail, '')))) AS INT)
             AS cleaned_len,
           md5(trim(concat(coalesce(kept, ''), ' ',
                           coalesce(tail, '')))) AS cleaned_md5
    FROM agg a JOIN rem USING (doc_id)
    UNION ALL
    SELECT doc_id, 0 AS n_lines, 0 AS n_dropped,
           CAST(length(text) AS INT) AS cleaned_len,
           md5(text) AS cleaned_md5
    FROM toks WHERE len(ts) < {_LINE_W}"""
# training context window (tokens) and shard fan-out for packing
_CTX = 256
_PACK_SHARDS = 16


# The bigram-LM scoring query as SQL — shared by quality_lm_perplexity
# and the CCNet bucketing query below (one definition, no drift).
_LM_PPL_SQL = f"""
    WITH toks AS (
      SELECT doc_id, lang, source, string_split(text, ' ') AS ts
      FROM documents
    ), big AS (
      SELECT doc_id, lang, source, ts[i] AS w1, ts[i + 1] AS w2
      FROM (SELECT doc_id, lang, source, ts,
                   unnest(generate_series(1, len(ts) - 1)) AS i
            FROM toks WHERE len(ts) >= 2)
    ), c12 AS (
      SELECT w1, w2, count(*) AS c FROM big
      WHERE source = '{_TARGET_SRC}' GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, sum(c) AS c FROM c12 GROUP BY w1
    ), v AS (
      SELECT count(DISTINCT t) AS v
      FROM (SELECT unnest(ts) AS t FROM toks
            WHERE source = '{_TARGET_SRC}')
    ), scored AS (
      SELECT b.doc_id, b.lang,
             -ln((coalesce(c12.c, 0) + {_LM_K})
                 / (coalesce(c1.c, 0) + {_LM_K} * v.v)) AS nl
      FROM big b
      LEFT JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
      LEFT JOIN c1 ON b.w1 = c1.w1
      CROSS JOIN v
    )
    SELECT doc_id, lang, CAST(count(*) AS INT) AS n_bigrams,
           CAST(round(avg(nl), 4) AS DOUBLE) AS avg_neg_logp
    FROM scored GROUP BY doc_id, lang
"""


@register("quality_lm_perplexity", sql=_LM_PPL_SQL)
def quality_lm_perplexity(spark, sf_dir):
    # CCNet quality gate: P(w2|w1) = (c12 + k) / (c1 + k·V) trained on
    # the trusted slice; every doc scored by mean −ln P over its
    # bigrams (low = in-domain fluent, high = out-of-domain/garbled).
    # 100 TB shape: the MODEL is an aggregate of the (small, fixed)
    # trusted slice — broadcast to the scorers; the corpus side is one
    # explode + two broadcast joins + a per-doc partial agg, so the
    # only wide exchange is the final groupBy(doc_id), and AQE coalesces
    # it. The vocabulary scalar rides along as a 1-row broadcast.
    docs = ensure_parallelism(read_testdata(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", "lang", "source",
                       F.split("text", " ").alias("ts"))
    big = (toks.filter(F.size("ts") >= 2)
           .select("doc_id", "lang", "source", F.explode(F.expr(
               "zip_with(slice(ts, 1, size(ts) - 1),"
               "         slice(ts, 2, size(ts) - 1),"
               "         (a, b) -> struct(a AS w1, b AS w2))"))
               .alias("bg"))
           .select("doc_id", "lang", "source", "bg.w1", "bg.w2"))
    train = big.filter(F.col("source") == _TARGET_SRC)
    # Deliberately NOT checkpointing c12 (r6 measured 2.6s → 3.2s with a
    # checkpoint): the two trusted-slice model scans are independent
    # stages of ONE job and run concurrently, so materializing c12 only
    # serializes them. Contrast quality_kn_perplexity, where FIVE
    # derived scans made the checkpoint win.
    c12 = train.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (toks.filter(F.col("source") == _TARGET_SRC)
             .select(F.explode("ts").alias("t"))
             .agg(F.countDistinct("t").alias("v")))
    nl = -F.log((F.coalesce(F.col("c12"), F.lit(0)) + F.lit(_LM_K))
                / (F.coalesce(F.col("c1"), F.lit(0))
                   + F.lit(_LM_K) * F.col("v")))
    return (big
            .join(F.broadcast(c12), ["w1", "w2"], "left")
            .join(F.broadcast(c1), ["w1"], "left")
            .crossJoin(F.broadcast(vocab))
            .groupBy("doc_id", "lang")
            .agg(F.count("*").cast("int").alias("n_bigrams"),
                 F.round(F.avg(nl), 4).alias("avg_neg_logp")))


def _line_arrays(docs):
    """(doc_id, la, tail): per-doc pseudo-line ARRAY + sub-line token
    tail for every doc with at least one full line — the ONE Spark-side
    twin of the _lines_ctes decomposition (and of _REBUILD_SQL's rem).
    Per-doc work never shuffles: it is a pure per-row expression, so
    every line query's only exchange is the line-frequency aggregation
    in _boiler_set. The token array is bound through a Generate barrier
    (see quality_repetition_stats: a plain alias would be re-inlined at
    every reference site)."""
    withts = (ensure_parallelism(docs)
              .select("doc_id", F.explode(F.array(F.split("text", " ")))
                      .alias("ts"))
              .filter(F.size("ts") >= _LINE_W))
    return (withts
            .select("doc_id", F.explode(F.array(F.expr(f"""named_struct(
                'la', transform(sequence(0, (size(ts) div {_LINE_W}) - 1),
                      j -> array_join(slice(ts, j * {_LINE_W} + 1,
                                            {_LINE_W}), ' ')),
                'tail', array_join(slice(ts,
                        (size(ts) div {_LINE_W}) * {_LINE_W} + 1,
                        size(ts)), ' '))"""))).alias("a"))
            .select("doc_id", "a.la", "a.tail"))


def _boiler_set(withla):
    """The corpus-relative boilerplate SET of a _line_arrays frame,
    collected into ONE broadcastable row ``boiler`` — the twin of the
    _BOILER_CTES freq/thr pass. Per-doc lines are array_distinct BEFORE
    the explode, so count(*) per line == count(DISTINCT doc_id) without
    the two-phase distinct. freq feeds BOTH the scalar threshold and the
    boiler filter; Spark has no common-subplan elimination across those
    branches, so without the lineage cut the line-frequency shuffle runs
    twice: materialize it once, both consumers read the result."""
    freq = (withla.select(F.explode(F.array_distinct("la")).alias("line"))
            .groupBy("line").agg(F.count("*").alias("ndocs"))
            .localCheckpoint())
    thr = freq.agg(F.greatest(
        F.lit(_BOILER_MIN_DOCS).cast("long"),
        F.ceil(_BOILER_FREQ_MULT * F.avg("ndocs"))).alias("thr"))
    return (freq.crossJoin(F.broadcast(thr))
            .filter(F.col("ndocs") >= F.col("thr"))
            .agg(F.collect_list("line").alias("boiler")))  # 1 row


def _rebuild(docs, withla, kept):
    """The rewrite output frame (doc_id, n_lines, n_dropped, cleaned_len,
    cleaned_md5): ``kept`` (an array expression over ``la``, in line
    order) rejoined + the sub-line token tail, md5-pinned; docs shorter
    than one full line pass through whole. The ONE Spark-side twin of
    _REBUILD_SQL, shared by every line-level rewrite, and map-only: per
    doc it is one array filter + rejoin (kept is bound through a
    Generate barrier so it is computed once)."""
    cleaned = F.trim(F.concat(
        F.array_join("s.kept", " "), F.lit(" "),
        F.coalesce(F.col("s.tail"), F.lit(""))))
    long_docs = (withla
                 .select("doc_id", F.explode(F.array(F.struct(
                     F.size("la").alias("nl"), kept.alias("kept"),
                     "tail"))).alias("s"))
                 .select("doc_id",
                         F.col("s.nl").cast("int").alias("n_lines"),
                         (F.col("s.nl") - F.size("s.kept")).cast("int")
                         .alias("n_dropped"),
                         F.length(cleaned).cast("int").alias("cleaned_len"),
                         F.md5(cleaned.cast("binary")).alias("cleaned_md5")))
    short_docs = (docs
                  .filter(F.size(F.split("text", " ")) < _LINE_W)
                  .select("doc_id",
                          F.lit(0).cast("int").alias("n_lines"),
                          F.lit(0).cast("int").alias("n_dropped"),
                          F.length("text").cast("int").alias("cleaned_len"),
                          F.md5(F.col("text").cast("binary"))
                          .alias("cleaned_md5")))
    return long_docs.unionByName(short_docs)


def drop_boilerplate(docs, boiler):
    """docs(doc_id, text) rewritten with every line of the one-row
    ``boiler`` set (a _boiler_set frame) dropped — CCNet's paragraph
    dedup applied to any batch of docs. The set broadcasts, so this is
    map-only."""
    withla = _line_arrays(docs).crossJoin(F.broadcast(boiler))
    return _rebuild(docs, withla, F.filter(
        "la", lambda ln: ~F.array_contains("boiler", ln)))


@register("boilerplate_corpus_lines", sql=f"""
    WITH {_BOILER_CTES}
    SELECT l.doc_id,
           CAST(count(*) AS INT) AS n_lines,
           CAST(sum(CASE WHEN f.ndocs >= (SELECT t FROM thr)
                         THEN 1 ELSE 0 END) AS INT) AS n_boiler_lines,
           CAST(round(1.0 - sum(CASE WHEN f.ndocs >= (SELECT t FROM thr)
                                     THEN 1 ELSE 0 END)
                            / CAST(count(*) AS DOUBLE), 4) AS DOUBLE)
             AS kept_ratio
    FROM lines l JOIN freq f USING (line)
    GROUP BY l.doc_id
""")
def boilerplate_corpus_lines(spark, sf_dir):
    # CCNet corpus-level dedup: a line (3-word pseudo-line here — the
    # synthetic docs are single-line soup) occurring in >= the
    # corpus-relative threshold (mult x mean docs-per-distinct-line,
    # floored at _BOILER_MIN_DOCS — see the constant's comment for why
    # an absolute count inverts at scale) is boilerplate. 100 TB
    # shape: the frequency pass shuffles (line_hash) with two-phase
    # distinct-count; the threshold is ONE scalar (broadcast cross
    # join, no driver action); the hot BOILERPLATE SET (freq ≥
    # threshold) is tiny by Zipf — broadcast it back over the lines
    # instead of re-shuffling the corpus, which is exactly CCNet's
    # frequent-paragraph hash set.
    # r6: per-doc counts computed ARRAY-side against the broadcast
    # boilerplate set — the r5 shape exploded every line row, joined the
    # boiler table and re-aggregated by doc_id (one full line-table
    # exchange); now the only exchange is the frequency pass inside
    # _boiler_set. Identical values: counting occurrences of boiler
    # membership over the line array == summing the join flags.
    withla = _line_arrays(read_testdata(spark, sf_dir, "documents"))
    return (withla.crossJoin(F.broadcast(_boiler_set(withla)))
            .select("doc_id", F.explode(F.array(F.expr(
                "named_struct("
                " 'nl', size(la),"
                " 'nb', size(filter(la,"
                "            l -> array_contains(boiler, l))))")))
                .alias("s"))
            .select("doc_id",
                    F.col("s.nl").cast("int").alias("n_lines"),
                    F.col("s.nb").cast("int").alias("n_boiler_lines"),
                    F.round(1.0 - F.col("s.nb")
                            / F.col("s.nl").cast("double"), 4)
                    .alias("kept_ratio")))


@register("dsir_importance_weights", sql=f"""
    WITH words AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(t), 1, 8))::UBIGINT % {_DSIR_B}
                  AS BIGINT) AS bucket
      FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS t
            FROM documents)
    ), raw AS (
      SELECT bucket, count(*) AS c FROM words GROUP BY bucket
    ), tgt AS (
      SELECT bucket, count(*) AS c FROM words
      WHERE source = '{_TARGET_SRC}' GROUP BY bucket
    ), totals AS (
      SELECT (SELECT sum(c) FROM raw) AS n_raw,
             (SELECT coalesce(sum(c), 0) FROM tgt) AS n_tgt
    ), wt AS (
      SELECT raw.bucket,
             ln((coalesce(tgt.c, 0) + 1.0) / (totals.n_tgt + {_DSIR_B}))
               - ln((raw.c + 1.0) / (totals.n_raw + {_DSIR_B}))
               AS logw
      FROM raw LEFT JOIN tgt USING (bucket) CROSS JOIN totals
    )
    SELECT w.doc_id, CAST(count(*) AS INT) AS n_tokens,
           CAST(round(sum(wt.logw), 4) AS DOUBLE) AS log_weight
    FROM words w JOIN wt USING (bucket)
    GROUP BY w.doc_id
""")
def dsir_importance_weights(spark, sf_dir):
    # DSIR data selection: hashed-feature importance weight
    # log p_target(f)/p_raw(f) with add-1 smoothing over B buckets,
    # summed per document — resample the raw corpus toward the target
    # domain proportionally to exp(log_weight). 100 TB shape: the
    # bucket-weight table is AT MOST B rows by construction — broadcast
    # — so the corpus side is explode → broadcast join → per-doc agg;
    # the only wide exchange is the final groupBy(doc_id). The md5-hex
    # bucket is bit-identical in Spark (conv) and DuckDB (::UBIGINT),
    # the same pairing the KMV sketches pin.
    # r6 rework (guide §2.3 "aggregate before you shuffle" + §2.4): the
    # r5 plan built `words` FIVE times (corpus side, raw, tgt and both
    # totals), re-running the explode + md5 + base-16 conv over every
    # token OCCURRENCE each time. Now ONE tokenize pass aggregates
    # per-(doc, token) counts first (map-side combine completes within
    # the doc's partition), hashes only the DISTINCT (doc, token) rows
    # (~vocab-per-doc, 6-7x fewer md5/conv evals on this corpus), and is
    # checkpointed once; raw/tgt/totals all derive from the one
    # ≤B-row-per-bucket aggregate of it. count(*) per bucket == sum of
    # per-doc counts, and sum(logw over occurrences) == sum(c * logw) —
    # identical values, round(4) absorbs the association ulps.
    docs = read_testdata(spark, sf_dir, "documents")
    tokc = (ensure_parallelism(docs)
            .select("doc_id", "source",
                    F.explode(F.split("text", " ")).alias("t"))
            .groupBy("doc_id", "source", "t")
            .agg(F.count("*").alias("c"))
            .select("doc_id", "source",
                    F.pmod(F.conv(F.substring(F.md5("t"), 1, 8), 16, 10)
                           .cast("long"), F.lit(_DSIR_B)).alias("bucket"),
                    "c")
            .localCheckpoint(eager=True))
    bkt = (tokc.groupBy("bucket")
           .agg(F.sum("c").alias("c_raw"),
                F.sum(F.when(F.col("source") == _TARGET_SRC, F.col("c"))
                      .otherwise(F.lit(0))).alias("c_tgt")))
    totals = bkt.agg(F.sum("c_raw").alias("n_raw"),
                     F.sum("c_tgt").alias("n_tgt"))
    wt = (bkt.crossJoin(F.broadcast(totals))
          .select("bucket",
                  (F.log((F.col("c_tgt") + 1.0)
                         / (F.col("n_tgt") + _DSIR_B))
                   - F.log((F.col("c_raw") + 1.0)
                           / (F.col("n_raw") + _DSIR_B))).alias("logw")))
    return (tokc.join(F.broadcast(wt), "bucket")
            .groupBy("doc_id")
            .agg(F.sum("c").cast("int").alias("n_tokens"),
                 F.round(F.sum(F.col("c") * F.col("logw")), 4)
                 .alias("log_weight")))


@register("pack_training_sequences", sql=f"""
    WITH toks AS (
      SELECT doc_id, lang, doc_id % {_PACK_SHARDS} AS shard,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT doc_id, lang, shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM toks
    )
    SELECT doc_id, lang, CAST(shard AS INT) AS shard,
           CAST(n_tokens AS INT) AS n_tokens,
           CAST((cum - n_tokens) // {_CTX} AS BIGINT) AS start_seq,
           CAST((cum - 1) // {_CTX} AS BIGINT) AS end_seq,
           CAST((cum - 1) // {_CTX} - (cum - n_tokens) // {_CTX} + 1
                AS INT) AS n_seqs
    FROM packed
""")
def pack_training_sequences(spark, sf_dir):
    # GPT-style packing: concatenate documents in stable (doc_id) order
    # within a (lang, shard) stream and cut into fixed _CTX-token
    # windows; each doc reports the window span holding its tokens.
    # 100 TB shape: packing is per-shard BY DESIGN — a global order
    # would serialize on one window partition, so real pipelines pack
    # within output shards; shard count scales with the cluster and
    # the window is a single partial-free exchange on (lang, shard).
    docs = read_testdata(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "shard").orderBy("doc_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks = docs.select(
        "doc_id", "lang",
        F.pmod(F.col("doc_id"), F.lit(_PACK_SHARDS)).alias("shard"),
        F.size(F.split("text", " ")).alias("n_tokens"))
    cum = F.sum("n_tokens").over(w)
    return (toks
            .withColumn("cum", cum)
            .select("doc_id", "lang",
                    F.col("shard").cast("int").alias("shard"),
                    F.col("n_tokens").cast("int").alias("n_tokens"),
                    F.floor((F.col("cum") - F.col("n_tokens")) / _CTX)
                    .alias("start_seq"),
                    F.floor((F.col("cum") - 1) / _CTX).alias("end_seq"),
                    (F.floor((F.col("cum") - 1) / _CTX)
                     - F.floor((F.col("cum") - F.col("n_tokens")) / _CTX)
                     + 1).cast("int").alias("n_seqs")))


# --------------------------------------------------------------------------
# BPE vocabulary induction (Sennrich et al. 2016) — tokenizer training as
# a corpus job: iteratively merge the most frequent adjacent symbol pair.
# --------------------------------------------------------------------------

# 8 steps reaches the first merge-of-merge (a pair whose member is
# itself a merged symbol) at every test SF — the recursion that makes
# BPE BPE; fewer steps train only char-pair bigrams
_BPE_STEPS = 8

# Size bound for the in-driver merge loop (see _bpe_train): when the
# distinct-word table's strings, Σ length(word) + length(syms), fit in
# 120 MB the merge iterations run over collected rows — the same
# bounded-driver-collect class as the k-means partials and the
# ≤100k-edge union-find. Gated on size, not rows: syms wraps every
# char in two spaces (~3x the word), so a row count under-states it.
_BPE_DRIVER_BYTES_MAX = 120_000_000

# Canonical symbolization: every symbol wrapped as ' sym ' and
# concatenated, so adjacency is a DOUBLE space. This makes merge
# application a plain string replace of ' w1  w2 ' -> ' w1w2 ' — and
# because each symbol keeps its own delimiters, consecutive merges
# ("a a a a" -> "aa aa") work under left-to-right non-overlapping
# replace semantics, which both Spark and DuckDB share and which is
# exactly BPE's greedy scan. A singly-delimited form would share the
# middle space between matches and silently skip every second merge.


def _bpe_train(spark, sf_dir):
    """Run the merge loop; returns (final words DF, merge rows).

    100 TB shape: ONE corpus-wide shuffle builds the (word, count)
    table; every iteration after that touches only the distinct-word
    table (vocabulary-sized — millions of rows against a 10^12-token
    corpus), the classic BPE trick. The argmax pair is a 1-row
    driver collect per step (bounded, like the k-means codebook
    training); the chosen pair is folded back as a literal so the
    plan stays static per iteration, with a localCheckpoint cutting
    the growing replace-chain lineage.
    """
    docs = read_testdata(spark, sf_dir, "documents")
    words = (docs.select(F.explode(F.split("text", " ")).alias("word"))
             .groupBy("word").agg(F.count("*").alias("cnt"))
             .withColumn("syms", F.expr(
                 "concat_ws('', transform(split(word, ''),"
                 " c -> concat(' ', c, ' ')))"))
             .localCheckpoint(eager=True))
    # r6: when the distinct-word table fits the documented driver bound,
    # the merge LOOP runs in plain Python over the collected rows — the
    # standard BPE practice (distributed word count, in-memory merges).
    # The r5 shape ran 2 blocking Spark jobs per step (pair-count +
    # argmax collect, then a checkpointed replace) over a vocab-sized
    # table: pure scheduling latency (measured 2.2s → 0.9s at sf1.0,
    # where the table is a few dozen rows). Exact replay: integer
    # counts, the same (c DESC, w1, w2) tie-break (Python str ordering
    # == Spark's binary UTF-8 ordering — UTF-8 bytes preserve
    # code-point order), and str.replace == F.replace (both
    # left-to-right non-overlapping). Above the bound, the distributed
    # loop below is the 100 TB path (same results, same oracle).
    size = words.agg(
        F.sum(F.length("word") + F.length("syms"))).first()[0] or 0
    logging.getLogger(__name__).info(
        "bpe vocab: %d chars of word+syms (driver bound %d)", size,
        _BPE_DRIVER_BYTES_MAX)
    if size <= _BPE_DRIVER_BYTES_MAX:
        rows = [(r["word"], int(r["cnt"]), r["syms"])
                for r in words.collect()]
        merges = []
        for step in range(1, _BPE_STEPS + 1):
            pairs: dict = {}
            for _, cnt, syms in rows:
                s = syms.strip().split("  ")
                for i in range(len(s) - 1):
                    k = (s[i], s[i + 1])
                    pairs[k] = pairs.get(k, 0) + cnt
            (w1, w2), c = min(pairs.items(),
                              key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
            merges.append((step, w1, w2, w1 + w2, int(c)))
            pat, rep = f" {w1}  {w2} ", f" {w1}{w2} "
            rows = [(w, cnt, syms.replace(pat, rep))
                    for w, cnt, syms in rows]
        final = local_frame(spark, rows,
                            "word string, cnt long, syms string")
        return final, merges
    merges = []
    for step in range(1, _BPE_STEPS + 1):
        pairs = (words
                 .select(F.split(F.trim("syms"), "  ").alias("s"), "cnt")
                 .filter(F.size("s") >= 2)
                 .select(F.explode(F.expr(
                     "transform(sequence(1, size(s) - 1),"
                     " i -> struct(s[i-1] AS w1, s[i] AS w2))"))
                     .alias("p"), "cnt")
                 .groupBy("p.w1", "p.w2").agg(F.sum("cnt").alias("c")))
        best = pairs.orderBy(F.desc("c"), "w1", "w2").limit(1).collect()[0]
        merges.append((step, best["w1"], best["w2"],
                       best["w1"] + best["w2"], int(best["c"])))
        words = (words.withColumn("syms", F.replace(
            "syms",
            F.lit(f" {best['w1']}  {best['w2']} "),
            F.lit(f" {best['w1']}{best['w2']} ")))
            .localCheckpoint(eager=True))
    return words, merges


def _bpe_oracle_cte(doc_table: str, steps: int) -> str:
    """The unrolled-CTE chain w0..w{steps} / m0..m{steps-1} — the same
    formula-as-SQL technique as the PageRank oracle: every iteration's
    argmax and replace is replayed exactly, no Python in the check."""
    sql = f"""
    WITH words AS (
      SELECT t AS word, count(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS t FROM {doc_table})
      GROUP BY t
    ), w0 AS (
      SELECT word, cnt,
             array_to_string(list_transform(
               generate_series(1, length(word)),
               i -> ' ' || substr(word, i, 1) || ' '), '') AS syms
      FROM words
    )"""
    for k in range(steps):
        sql += f""", p{k} AS (
      SELECT s[i] AS w1, s[i+1] AS w2, sum(cnt) AS c
      FROM (SELECT s, cnt, unnest(generate_series(1, len(s) - 1)) AS i
            FROM (SELECT string_split(trim(syms), '  ') AS s, cnt
                  FROM w{k}))
      GROUP BY w1, w2
    ), m{k} AS (
      SELECT w1, w2, c FROM p{k} ORDER BY c DESC, w1, w2 LIMIT 1
    ), w{k + 1} AS (
      SELECT word, cnt,
             replace(syms, ' ' || m.w1 || '  ' || m.w2 || ' ',
                     ' ' || m.w1 || m.w2 || ' ') AS syms
      FROM w{k}, m{k} m
    )"""
    return sql


@register("bpe_train_merges", sql=_bpe_oracle_cte("documents", _BPE_STEPS)
          + "\nSELECT * FROM ("
          + " UNION ALL ".join(
              f"SELECT {k + 1} AS step, w1, w2, w1 || w2 AS merged, "
              f"CAST(c AS BIGINT) AS pair_count FROM m{k}"
              for k in range(_BPE_STEPS)) + ")")
def bpe_train_merges(spark, sf_dir):
    # The trained merge table — ties broken (count DESC, w1, w2) so the
    # sequence is deterministic on both engines.
    _, merges = _bpe_train(spark, sf_dir)
    return local_frame(
        spark, merges, "step int, w1 string, w2 string, merged string, "
                       "pair_count bigint")


@register("bpe_segment_stats", sql=_bpe_oracle_cte("documents", _BPE_STEPS)
          + f"""
    , final AS (
      SELECT word, len(string_split(trim(syms), '  ')) AS n_syms
      FROM w{_BPE_STEPS}
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(length(t.word)) AS BIGINT) AS n_chars,
           CAST(sum(f.n_syms) AS BIGINT) AS n_bpe_tokens,
           CAST(round(sum(length(t.word))
                      / CAST(sum(f.n_syms) AS DOUBLE), 4) AS DOUBLE)
             AS chars_per_token
    FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
          FROM documents) t
    JOIN final f USING (word)
    GROUP BY lang
""")
def bpe_segment_stats(spark, sf_dir):
    # The ENCODE path: apply the trained merges back to the corpus and
    # report per-language compression (chars per BPE token) — the
    # number a tokenizer-training job is actually run for. The trained
    # word->segmentation model is vocabulary-sized, so the corpus-side
    # application is a broadcast join on word.
    words, _ = _bpe_train(spark, sf_dir)
    final = words.select(
        "word", F.size(F.split(F.trim("syms"), "  ")).alias("n_syms"))
    docs = read_testdata(spark, sf_dir, "documents")
    corpus = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("word"))
    return (corpus.join(F.broadcast(final), "word")
            .groupBy("lang")
            .agg(F.count("*").alias("n_words"),
                 F.sum(F.length("word")).alias("n_chars"),
                 F.sum("n_syms").alias("n_bpe_tokens"),
                 F.round(F.sum(F.length("word"))
                         / F.sum("n_syms").cast("double"), 4)
                 .alias("chars_per_token")))


# THE tercile rule — the single definition shared by ccnet_ppl_buckets
# and curate_corpus_v3 (SQL and Spark sides both import from here; the
# tiebreak or tile count must never be able to drift between them).
_PPL_BUCKETS_SQL = f"""
      SELECT doc_id, lang, avg_neg_logp,
             CASE ntile(3) OVER (PARTITION BY lang
                                 ORDER BY avg_neg_logp, doc_id)
                  WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM ({_LM_PPL_SQL})
"""


def ppl_buckets(spark, sf_dir):
    """Per-document tercile assignment (Spark twin of
    _PPL_BUCKETS_SQL): doc_id, lang, avg_neg_logp, bucket."""
    ppl = quality_lm_perplexity(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy("avg_neg_logp", "doc_id")
    bucket = (F.when(F.ntile(3).over(w) == 1, "head")
              .when(F.ntile(3).over(w) == 2, "middle")
              .otherwise("tail"))
    return ppl.select("doc_id", "lang", "avg_neg_logp",
                      bucket.alias("bucket"))


@register("ccnet_ppl_buckets", sql=f"""
    SELECT lang, bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(round(avg(avg_neg_logp), 4) AS DOUBLE) AS mean_nl,
           CAST(min(avg_neg_logp) AS DOUBLE) AS min_nl,
           CAST(max(avg_neg_logp) AS DOUBLE) AS max_nl
    FROM ({_PPL_BUCKETS_SQL})
    GROUP BY lang, bucket
""")
def ccnet_ppl_buckets(spark, sf_dir):
    # CCNet's head/middle/tail split: per language, rank documents by
    # LM score and cut into terciles — 'head' is the most in-domain
    # third that downstream training actually keeps. ntile over
    # (rounded score, doc_id) is exactly deterministic on both engines,
    # unlike an interpolated percentile cutoff whose float boundary can
    # flip membership. Scale note: the per-language global sort is
    # inherent to the definition (CCNet sorts each language shard); at
    # 10^12 docs the production variant computes approximate cutoffs
    # (approx_percentile) and broadcast-joins them — the tercile
    # SEMANTICS here are the contract, the window is the small-SF path.
    return (ppl_buckets(spark, sf_dir)
            .groupBy("lang", "bucket")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg("avg_neg_logp"), 4).alias("mean_nl"),
                 F.min("avg_neg_logp").alias("min_nl"),
                 F.max("avg_neg_logp").alias("max_nl")))


# ---------------------------------------------------------------------------
# Trained discriminative quality classifier (fastText-style filter)
# ---------------------------------------------------------------------------
# The GPT-3 / LLaMA / PaLM pipelines all gate raw crawl text with a TRAINED
# classifier (positives = a trusted corpus, negatives = raw crawl;
# Brown et al. 2020 §A, Touvron et al. 2023 "Wikipedia-referenced" filter).
# This is the piece the perplexity + DSIR queries above do not cover: a
# discriminative model whose weights come out of gradient descent, not out
# of count ratios. Rebuilt Spark-first as logistic regression over hashed
# bag-of-words term frequencies:
#
#   features  x_{d,b} = count(tokens of doc d hashing to bucket b) / n_d,
#             plus an intercept feature (bucket = -1, x = 1),
#   label     y_d = 1 when source = _TARGET_SRC (the trusted slice), else 0,
#   training  _CLF_STEPS full-batch GD steps:
#               w <- round(w - lr * sum_d x_{d,b} (sigmoid(w.x_d) - y_d)/N, 6)
#
# The per-step round(6) is the determinism contract that lets DuckDB replay
# the ENTIRE training loop as unrolled CTEs (the k-means / BPE / PageRank
# precedent): float-addition-order ulps cannot accumulate across steps.
#
# 100 TB shape: the model is <= _CLF_B + 1 rows by construction — broadcast
# to the scorers; per GD step the corpus side is one groupBy(doc_id) for the
# logits and one groupBy(bucket) for the gradient (both AQE-coalesced); the
# feature table is materialized once and reused by every step. The bounded
# weight collect per step is the same pattern the verdict accepted for the
# K x dim k-means partials.
_CLF_B = 128
_CLF_LR = 4.0
_CLF_STEPS = 3


def _clf_cte() -> str:
    """Shared WITH-body: features, labels and the unrolled GD steps
    w1..w{_CLF_STEPS} — one definition for both classifier queries."""
    base = f"""
    WITH words AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(t), 1, 8))::UBIGINT % {_CLF_B}
                  AS BIGINT) AS bucket
      FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS t
            FROM documents)
    ), ntok AS (
      SELECT doc_id, CAST(count(*) AS DOUBLE) AS n FROM words GROUP BY doc_id
    ), feats AS (
      SELECT w.doc_id, w.bucket, count(*) / nt.n AS x
      FROM words w JOIN ntok nt USING (doc_id)
      GROUP BY w.doc_id, w.bucket, nt.n
      UNION ALL
      SELECT doc_id, CAST(-1 AS BIGINT) AS bucket, 1.0 AS x FROM ntok
    ), lab AS (
      SELECT doc_id,
             CASE WHEN source = '{_TARGET_SRC}' THEN 1.0 ELSE 0.0 END AS y
      FROM documents
    ), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    g0 AS (
      SELECT f.bucket, sum(f.x * (0.5 - l.y)) / (SELECT n FROM nn) AS g
      FROM feats f JOIN lab l USING (doc_id) GROUP BY f.bucket
    ), w1 AS (SELECT bucket, round(-{_CLF_LR} * g, 6) AS w FROM g0)"""
    steps = []
    for t in range(1, _CLF_STEPS):
        steps.append(f""",
    z{t} AS (
      SELECT f.doc_id, sum(f.x * w.w) AS z
      FROM feats f JOIN w{t} w USING (bucket) GROUP BY f.doc_id
    ), g{t} AS (
      SELECT f.bucket,
             sum(f.x * (1.0 / (1.0 + exp(-z.z)) - l.y))
               / (SELECT n FROM nn) AS g
      FROM feats f JOIN z{t} z USING (doc_id) JOIN lab l USING (doc_id)
      GROUP BY f.bucket
    ), w{t + 1} AS (
      SELECT w.bucket, round(w.w - {_CLF_LR} * g.g, 6) AS w
      FROM w{t} w JOIN g{t} g USING (bucket)
    )""")
    return base + "".join(steps)


def _clf_feats(spark, sf_dir):
    """(feats, lab, ntok) DataFrames — the Spark twin of _clf_cte's base."""
    return _clf_features_of(read_testdata(spark, sf_dir, "documents"))


def _clf_features_of(docs):
    """Features/labels/token counts from ANY docs DataFrame with
    (doc_id, source, text) — per-doc pure, so the same expressions run
    unchanged inside a streaming microbatch."""
    # Left in the r5 shape on purpose: the dsir-style per-(doc, token)
    # pre-count rework measured SLOWER here (4.6s → 5.3s at sf1.0) — the
    # extra (doc_id, t) exchange lands inside the checkpointed feats
    # build, while the md5 work it saves was already hidden by stage
    # concurrency. Features are exchanged once and checkpointed by
    # _clf_train; the GD loop dominates.
    bucket = F.pmod(F.conv(F.substring(F.md5("t"), 1, 8), 16, 10)
                    .cast("long"), F.lit(_CLF_B)).alias("bucket")
    words = (ensure_parallelism(docs)
             .select("doc_id", "source",
                     F.explode(F.split("text", " ")).alias("t"))
             .select("doc_id", "source", bucket))
    ntok = words.groupBy("doc_id").agg(F.count("*").cast("double").alias("n"))
    tf = (words.groupBy("doc_id", "bucket").agg(F.count("*").alias("c"))
          .join(ntok, "doc_id")
          .select("doc_id", "bucket", (F.col("c") / F.col("n")).alias("x")))
    feats = tf.unionByName(
        ntok.select("doc_id", F.lit(-1).cast("long").alias("bucket"),
                    F.lit(1.0).alias("x")))
    lab = docs.select("doc_id",
                      F.when(F.col("source") == _TARGET_SRC, 1.0)
                      .otherwise(0.0).alias("y"))
    return feats, lab, ntok


def _clf_train(spark, sf_dir):
    """Run the GD loop; returns (feats, lab, ntok, weights) with feats/lab
    materialized (localCheckpoint) so every step reuses one computation."""
    feats, lab, ntok = _clf_feats(spark, sf_dir)
    feats = feats.localCheckpoint(eager=True)
    lab = lab.localCheckpoint(eager=True)
    n = lab.count()
    g = (feats.join(lab, "doc_id")
         .groupBy("bucket")
         .agg((F.sum(F.col("x") * (F.lit(0.5) - F.col("y"))) / n).alias("g")))
    w = (g.select("bucket", F.round(-_CLF_LR * F.col("g"), 6).alias("w"))
         .localCheckpoint(eager=True))
    for _ in range(_CLF_STEPS - 1):
        z = (feats.join(F.broadcast(w), "bucket")
             .groupBy("doc_id").agg(F.sum(F.col("x") * F.col("w")).alias("z")))
        p = z.select("doc_id",
                     (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))))
                     .alias("p"))
        g = (feats.join(p, "doc_id").join(lab, "doc_id")
             .groupBy("bucket")
             .agg((F.sum(F.col("x") * (F.col("p") - F.col("y"))) / n)
                  .alias("g")))
        w = (w.join(g, "bucket")
             .select("bucket",
                     F.round(F.col("w") - _CLF_LR * F.col("g"), 6).alias("w"))
             .localCheckpoint(eager=True))
    return feats, lab, ntok, w


@register("quality_classifier_train", sql=_clf_cte() + f"""
    SELECT bucket, w AS weight FROM w{_CLF_STEPS}
""")
def quality_classifier_train(spark, sf_dir):
    # The trained model itself as data: every hashed-feature weight after
    # _CLF_STEPS GD steps, driver-hashed against DuckDB's replay of the
    # identical training loop.
    _, _, _, w = _clf_train(spark, sf_dir)
    return w.select("bucket", F.col("w").alias("weight"))


@register("quality_classifier_score", sql=_clf_cte() + f"""
    , zf AS (
      SELECT f.doc_id, sum(f.x * w.w) AS z
      FROM feats f JOIN w{_CLF_STEPS} w USING (bucket) GROUP BY f.doc_id
    )
    SELECT l.doc_id, CAST(l.y AS INT) AS label,
           CAST(nt.n AS INT) AS n_tokens,
           CAST(round(1.0 / (1.0 + exp(-z.z)), 4) AS DOUBLE) AS score
    FROM zf z JOIN lab l USING (doc_id) JOIN ntok nt USING (doc_id)
""")
def quality_classifier_score(spark, sf_dir):
    # Every document scored by the trained model — the actual corpus gate
    # (keep docs whose score clears a threshold / sample proportionally,
    # exactly the GPT-3 Appendix A recipe). One broadcast join + one
    # groupBy(doc_id): the scoring pass is a single wide exchange at any
    # corpus size.
    # batch path reuses the TRAINING pass's materialized feature/label
    # tables — re-deriving them from raw text would add four full-corpus
    # scans/shuffles to the scoring plan (r5 session-6 review finding)
    feats, lab, ntok, w = _clf_train(spark, sf_dir)
    return _clf_score_from(feats, lab, ntok, w)


def clf_score_docs(docs, w):
    """Score ANY docs DataFrame with a trained weight table — the
    streaming microbatch path (scoring is per-doc pure given the
    broadcast model; features derive from the batch's own rows)."""
    return _clf_score_from(*_clf_features_of(docs), w)


def _clf_score_from(feats, lab, ntok, w):
    z = (feats.join(F.broadcast(w), "bucket")
         .groupBy("doc_id").agg(F.sum(F.col("x") * F.col("w")).alias("z")))
    return (z.join(lab, "doc_id").join(ntok, "doc_id")
            .select("doc_id", F.col("y").cast("int").alias("label"),
                    F.col("n").cast("int").alias("n_tokens"),
                    F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))),
                            4).alias("score")))


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney LM scoring — the smoothing KenLM/CCNet really use
# ---------------------------------------------------------------------------
# quality_lm_perplexity above uses add-k smoothing (chosen for oracle
# simplicity); production CCNet scores with KenLM's modified Kneser-Ney.
# This query implements interpolated KN with one absolute discount D —
# every ingredient is counts and count-of-counts, so the DuckDB twin is
# exact:
#
#   P(w2|w1) = max(c12 - D, 0)/c1  +  (D * N1+(w1 .)/c1) * Pcont(w2)
#   Pcont(w2) = (N1+(. w2) + k) / (N_bigram_types + k * V)
#
# with N1+(w1 .) = distinct continuations of w1, N1+(. w2) = distinct
# histories of w2 (the continuation count that makes KN famous), and a
# small add-k floor on Pcont so out-of-vocabulary words score finitely
# (V = distinct words over the WHOLE corpus, identical in both engines).
# Unseen history (c1 = 0) backs off to Pcont alone.
_KN_D = 0.75


_KN_PPL_SQL = f"""
    WITH toks AS (
      SELECT doc_id, lang, source, string_split(text, ' ') AS ts
      FROM documents
    ), big AS (
      SELECT doc_id, lang, source, ts[i] AS w1, ts[i + 1] AS w2
      FROM (SELECT doc_id, lang, source, ts,
                   unnest(generate_series(1, len(ts) - 1)) AS i
            FROM toks WHERE len(ts) >= 2)
    ), c12 AS (
      SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c FROM big
      WHERE source = '{_TARGET_SRC}' GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, sum(c) AS c, CAST(count(*) AS DOUBLE) AS n1f
      FROM c12 GROUP BY w1
    ), ncb AS (
      SELECT w2, CAST(count(*) AS DOUBLE) AS n1b FROM c12 GROUP BY w2
    ), tot AS (
      SELECT (SELECT CAST(count(*) AS DOUBLE) FROM c12) AS n_types,
             (SELECT CAST(count(DISTINCT t) AS DOUBLE)
              FROM (SELECT unnest(ts) AS t FROM toks)) AS v
    ), scored AS (
      SELECT b.doc_id, b.lang,
             -ln(CASE WHEN coalesce(c1.c, 0) > 0 THEN
                   greatest(coalesce(c12.c, 0) - {_KN_D}, 0) / c1.c
                   + ({_KN_D} * c1.n1f / c1.c)
                     * ((coalesce(ncb.n1b, 0) + {_LM_K})
                        / (tot.n_types + {_LM_K} * tot.v))
                 ELSE (coalesce(ncb.n1b, 0) + {_LM_K})
                      / (tot.n_types + {_LM_K} * tot.v)
                 END) AS nl
      FROM big b
      LEFT JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
      LEFT JOIN c1 ON b.w1 = c1.w1
      LEFT JOIN ncb ON b.w2 = ncb.w2
      CROSS JOIN tot
    )
    SELECT doc_id, lang, CAST(count(*) AS INT) AS n_bigrams,
           CAST(round(avg(nl), 4) AS DOUBLE) AS avg_neg_logp
    FROM scored GROUP BY doc_id, lang
"""


@register("quality_kn_perplexity", sql=_KN_PPL_SQL)
def quality_kn_perplexity(spark, sf_dir):
    # Same 100 TB shape as the add-k query: the model (c12/c1/ncb plus a
    # 1-row totals table) is aggregates of the small trusted slice,
    # broadcast; the corpus side is one explode + three broadcast joins
    # + a per-doc agg — the only wide exchange is groupBy(doc_id).
    docs = read_testdata(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", "source",
                       F.split("text", " ").alias("ts"))
    big = (toks.filter(F.size("ts") >= 2)
           .select("doc_id", "lang", "source", F.explode(F.expr(
               "zip_with(slice(ts, 1, size(ts) - 1),"
               "         slice(ts, 2, size(ts) - 1),"
               "         (a, b) -> struct(a AS w1, b AS w2))"))
               .alias("bg"))
           .select("doc_id", "lang", "source", "bg.w1", "bg.w2"))
    # Deliberately NOT checkpointing c12 even though c1/ncb/n_types all
    # re-derive it (r6 measured 3.1s → 3.8s with a checkpoint): the five
    # trusted-slice model scans are independent stages of ONE job and
    # run concurrently on idle cores, so materializing c12 serializes a
    # blocking job in front of the big-side pass and loses more than the
    # redundancy costs. See quality_lm_perplexity's identical note.
    c12 = (big.filter(F.col("source") == _TARGET_SRC)
           .groupBy("w1", "w2")
           .agg(F.count("*").cast("double").alias("c12")))
    c1 = (c12.groupBy("w1")
          .agg(F.sum("c12").alias("c1"),
               F.count("*").cast("double").alias("n1f")))
    ncb = (c12.groupBy("w2")
           .agg(F.count("*").cast("double").alias("n1b")))
    tot = (c12.agg(F.count("*").cast("double").alias("n_types"))
           .crossJoin(toks.select(F.explode("ts").alias("t"))
                      .agg(F.countDistinct("t").cast("double").alias("v"))))
    pcont = ((F.coalesce(F.col("n1b"), F.lit(0.0)) + _LM_K)
             / (F.col("n_types") + _LM_K * F.col("v")))
    p = F.when(
        F.coalesce(F.col("c1"), F.lit(0.0)) > 0,
        F.greatest(F.coalesce(F.col("c12"), F.lit(0.0)) - _KN_D, F.lit(0.0))
        / F.col("c1")
        + (_KN_D * F.col("n1f") / F.col("c1")) * pcont
    ).otherwise(pcont)
    return (big
            .join(F.broadcast(c12), ["w1", "w2"], "left")
            .join(F.broadcast(c1), ["w1"], "left")
            .join(F.broadcast(ncb), ["w2"], "left")
            .crossJoin(F.broadcast(tot))
            .groupBy("doc_id", "lang")
            .agg(F.count("*").cast("int").alias("n_bigrams"),
                 F.round(F.avg(-F.log(p)), 4).alias("avg_neg_logp")))


@register("text_char_entropy", sql="""
    -- Per-document character-level Shannon entropy — the cheap
    -- gibberish/binary-junk gate (low entropy = repeated-char spam,
    -- near-log2(alphabet) = random noise; prose sits ~4.0-4.3 bits).
    -- Independent implementations: numpy bincount over codepoints on
    -- the Spark side vs a character unnest + aggregate here. The
    -- identity H = log2(N) - sum(c*log2(c))/N avoids materializing
    -- per-char probabilities; both sides round half-away-from-zero at
    -- 4dp (the Python side floors x*1e4+0.5 to match DuckDB's round —
    -- banker's rounding would diverge on ties; a summation-order ulp
    -- straddling a .00005 boundary remains the one theoretical
    -- divergence, as in every float-chain oracle in this registry).
    WITH cnt AS (
      SELECT doc_id, c, count(*) AS n FROM (
        SELECT doc_id, unnest(string_split(text, '')) AS c
        FROM documents WHERE length(text) > 0
      ) GROUP BY doc_id, c
    )
    SELECT doc_id,
           CAST(sum(n) AS INT) AS n_chars,
           CAST(count(*) AS INT) AS n_distinct,
           CAST(max(n) AS INT) AS max_char_count,
           CAST(round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 4)
                AS DOUBLE) AS char_entropy
    FROM cnt GROUP BY doc_id
""")
def text_char_entropy(spark, sf_dir):
    """Character-entropy quality gate (Shannon over codepoints). The
    Spark side never explodes characters into rows — each document is
    encoded once to utf-32-le (C speed) and viewed as a uint32
    codepoint vector with np.frombuffer (zero-copy over that buffer),
    then counted with np.unique inside mapInPandas: map-only, no shuffle,
    per-doc Python overhead only. At 100 TB the explode-to-rows
    formulation the oracle uses would shuffle ~100x the corpus; this
    one rides the scan."""
    from collections.abc import Iterator as _Iter

    import pandas as pd

    docs = (ensure_parallelism(read_testdata(spark, sf_dir, "documents"))
            .filter(F.length("text") > 0).select("doc_id", "text"))

    def entropy(batches: _Iter[pd.DataFrame]) -> _Iter[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [(doc_id,) + char_entropy_stats(text)
                 for doc_id, text in zip(pdf["doc_id"], pdf["text"])],
                columns=["doc_id", "n_chars", "n_distinct",
                         "max_char_count", "char_entropy"])

    return docs.mapInPandas(
        entropy,
        "doc_id long, n_chars int, n_distinct int, max_char_count int, "
        "char_entropy double")


def char_entropy_stats(text: str) -> tuple[int, int, int, float]:
    """(n_chars, n_distinct, max_char_count, entropy@4dp) for one doc —
    the per-document kernel of text_char_entropy, exposed so the unit
    test drives the SAME code the UDF runs. Rounding is half-away-from-
    zero (entropy >= 0, so floor(x*1e4 + 0.5)) to match DuckDB's round()
    — Python's round() is banker's and would diverge on exact ties."""
    import math

    import numpy as np

    cp = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
    _, counts = np.unique(cp, return_counts=True)
    n = cp.size
    ent = np.log2(n) - float((counts * np.log2(counts)).sum()) / n
    return (n, counts.size, int(counts.max()),
            math.floor(ent * 1e4 + 0.5) / 1e4)


@register("rewrite_drop_boilerplate", sql=f"""
    -- CCNet's actual REWRITE step (boilerplate_corpus_lines only
    -- FLAGS): drop every boilerplate pseudo-line from each document,
    -- reassemble the text in original line order (+ the sub-line tail
    -- of tokens the decomposition leaves), and pin the rewritten text
    -- by md5. Short docs (< one full line) pass through unchanged.
    WITH {_BOILER_CTES}, joined AS (
      SELECT l.doc_id, l.i, l.line,
             f.ndocs >= (SELECT t FROM thr) AS is_b
      FROM lines l JOIN freq f USING (line)
    ), agg AS (
      SELECT doc_id,
             CAST(count(*) AS INT) AS n_lines,
             CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS INT)
               AS n_dropped,
             string_agg(CASE WHEN NOT is_b THEN line END, ' '
                        ORDER BY i) AS kept
      FROM joined GROUP BY doc_id
    ){_REBUILD_SQL}
""")
def rewrite_drop_boilerplate(spark, sf_dir):
    """Materialize CCNet's paragraph-dedup rewrite: the per-doc text
    with corpus-boilerplate lines removed, order preserved, hashed.
    100 TB shape (r6): the boilerplate SET broadcasts as ONE collected
    row and the rebuild is a pure per-doc array filter + rejoin — the
    rewrite pass is MAP-ONLY (the r5 shape exploded line rows, joined
    the boiler table and re-assembled each doc with a collect_list
    aggregation: two more exchanges of every line string). filter()
    preserves array order, so the rebuilt text is identical."""
    docs = read_testdata(spark, sf_dir, "documents")
    return drop_boilerplate(docs, _boiler_set(_line_arrays(docs)))


@register("rewrite_dedup_doc_lines", sql=f"""
    -- CCNet's FIRST dedup step: within each document, repeated
    -- pseudo-lines keep only their first occurrence (nav blocks and
    -- footers repeated inside one page), rebuilt in order, md5-pinned.
    -- The word-soup corpus repeats almost no lines naturally, so every
    -- 13th doc gets a twin under -doc_id - 1: the doc TRUNCATED to full
    -- pseudo-lines (so the append lands ON a line boundary — otherwise
    -- the tail tokens shift the line grid and the repeat never aligns)
    -- plus its first pseudo-line again at the end.
    WITH docs_aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT -doc_id - 1 AS doc_id,
             array_to_string(ts2[1 : (len(ts2) // {_LINE_W})
                                    * {_LINE_W}], ' ')
             || ' ' || array_to_string(ts2[1 : {_LINE_W}], ' ')
      FROM (SELECT doc_id, string_split(text, ' ') AS ts2
            FROM documents)
      WHERE doc_id % 13 = 0 AND len(ts2) >= {_LINE_W}
    ), {{LINES}}, ranked AS (
      SELECT doc_id, i, line,
             row_number() OVER (PARTITION BY doc_id, line ORDER BY i)
               AS rn
      FROM lines
    ), agg AS (
      SELECT doc_id,
             CAST(count(*) AS INT) AS n_lines,
             CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS INT)
               AS n_dropped,
             string_agg(CASE WHEN rn = 1 THEN line END, ' '
                        ORDER BY i) AS kept
      FROM ranked GROUP BY doc_id
    ){{REBUILD}}
""".replace("{LINES}", _lines_ctes("docs_aug"))
   .replace("{REBUILD}", _REBUILD_SQL))
def rewrite_dedup_doc_lines(spark, sf_dir):
    """Intra-document line dedup (CCNet runs this before the corpus
    pass): first occurrence of each pseudo-line survives, later repeats
    drop, text rebuilt in order. 100 TB: map-only — array_distinct keeps
    each line's first occurrence in order, exactly the oracle's
    row_number() OVER (PARTITION BY doc_id, line ORDER BY i) = 1, so no
    window, regroup or join; the rebuild is the shared _rebuild."""
    docs = read_testdata(spark, sf_dir, "documents")
    ts2 = F.split("text", " ")
    plants = (docs.filter((F.col("doc_id") % 13 == 0)
                          & (F.size(ts2) >= _LINE_W))
              .select((-F.col("doc_id") - 1).alias("doc_id"),
                      F.concat(
                          F.array_join(F.expr(
                              f"slice(split(text, ' '), 1,"
                              f" (size(split(text, ' '))"
                              f" div {_LINE_W}) * {_LINE_W})"), " "),
                          F.lit(" "),
                          F.array_join(F.slice(ts2, 1, _LINE_W), " "))
                      .alias("text")))
    aug = docs.select("doc_id", "text").unionByName(plants)
    return _rebuild(aug, _line_arrays(aug), F.array_distinct("la"))
