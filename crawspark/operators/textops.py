"""Text-analysis operators for a training-data pipeline: token counting,
quality scoring, language-ID, document fingerprinting. All JVM-side
built-ins (regexp/md5/length) — no Python in the hot path."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawspark.operators.partitioning import ensure_parallelism
from crawspark.registry import register
from crawspark.sources import read_testdata

# BPE-ish token pattern: word pieces, numbers, or single punctuation.
_TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

_EN_PROBE = r"\b(the|and|of|to|in|is|that|for|it|with)\b"
_FR_PROBE = r"\b(le|la|les|de|des|et|en|un|une|que)\b"
_ES_PROBE = r"\b(el|los|las|de|y|en|un|una|que|por)\b"


@register("text_token_count", sql=f"""
    SELECT lang,
           CAST(sum(len(regexp_extract_all(text, '{_TOKEN_RE}'))) AS BIGINT)
             AS total_tokens,
           count(*) AS n_docs
    FROM documents GROUP BY lang
""")
def text_token_count(spark, sf_dir):
    return (read_testdata(spark, sf_dir, "documents")
            .withColumn("n_tokens",
                        F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE), 0)))
            .groupBy("lang")
            .agg(F.sum("n_tokens").cast("long").alias("total_tokens"),
                 F.count("*").alias("n_docs")))


@register("text_quality_score", sql="""
    SELECT doc_id,
           CAST(round(CAST(length(text) - length(replace(text, ' ', ''))
                      AS DOUBLE) / greatest(length(text), 1), 4) AS DOUBLE)
             AS space_ratio,
           CAST(round(CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS DOUBLE)
                      / greatest(length(text), 1), 4) AS DOUBLE)
             AS punct_ratio,
           CAST(length(text) AS BIGINT) AS text_len
    FROM documents
""")
def text_quality_score(spark, sf_dir):
    t = F.col("text")
    tl = F.greatest(F.length(t), F.lit(1))
    return (read_testdata(spark, sf_dir, "documents")
            .select(
                "doc_id",
                F.round((F.length(t) - F.length(F.replace(t, F.lit(" "),
                                                          F.lit(""))))
                        .cast("double") / tl, 4).alias("space_ratio"),
                F.round(F.size(F.regexp_extract_all(t, F.lit(r"[.!?,;:]"), 0))
                        .cast("double") / tl, 4).alias("punct_ratio"),
                F.length(t).cast("long").alias("text_len")))


@register("lang_id_stopwords", sql=f"""
    SELECT doc_id, lang AS labeled_lang,
           CASE
             WHEN len(regexp_extract_all(lower(text), '{_FR_PROBE}')) >
                  len(regexp_extract_all(lower(text), '{_EN_PROBE}'))
              AND len(regexp_extract_all(lower(text), '{_FR_PROBE}')) >=
                  len(regexp_extract_all(lower(text), '{_ES_PROBE}'))
               THEN 'fr'
             WHEN len(regexp_extract_all(lower(text), '{_ES_PROBE}')) >
                  len(regexp_extract_all(lower(text), '{_EN_PROBE}'))
               THEN 'es'
             ELSE 'en'
           END AS predicted_lang
    FROM documents
""")
def lang_id_stopwords(spark, sf_dir):
    # n-gram/stopword-probe language ID, fully JVM-side.
    low = F.lower(F.col("text"))
    en = F.size(F.regexp_extract_all(low, F.lit(_EN_PROBE)))
    fr = F.size(F.regexp_extract_all(low, F.lit(_FR_PROBE)))
    es = F.size(F.regexp_extract_all(low, F.lit(_ES_PROBE)))
    pred = (F.when((fr > en) & (fr >= es), "fr")
            .when(es > en, "es")
            .otherwise("en"))
    return (read_testdata(spark, sf_dir, "documents")
            .select("doc_id", F.col("lang").alias("labeled_lang"),
                    pred.alias("predicted_lang")))


# BM25 relevance ranking — the scoring layer over the boolean/keyword
# relevance filters (the reference is a QUERY-DRIVEN crawler; ranking
# fetched pages against the campaign query is its frontier-priority
# signal [R: crawtext relevance loop]). Okapi BM25 with the standard
# k1/b; fixed 3-term query drawn from the corpus vocabulary.
BM25_QUERY = ("market", "energy", "science")
BM25_K1, BM25_B = 1.2, 0.75
# Shared word tokenizer (Spark SQL expr) for BM25 and benchmark
# decontamination — ONE definition so the two stay consistent with
# each other and with their DuckDB twins (r5 review finding: verbatim
# duplicate constants).
_WORD_TOKS = "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"


def _bm25_sql() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(BM25_QUERY))
    df_cols = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(BM25_QUERY)))
    terms = " + ".join(
        f"ln(1 + (s.n - s.df{i} + 0.5) / (s.df{i} + 0.5))"
        f" * (d.tf{i} * ({BM25_K1} + 1.0))"
        f" / (d.tf{i} + {BM25_K1} * (1 - {BM25_B}"
        f" + {BM25_B} * d.dl / s.avgdl))"
        for i in range(len(BM25_QUERY)))
    return f"""
    WITH d AS (
      SELECT doc_id, len(toks) AS dl, {tf_cols}
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text),
                               '[^a-z0-9]+'), x -> x <> '') AS toks
            FROM documents)
    ), s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(avg(dl) AS DOUBLE) AS avgdl, {df_cols}
      FROM d
    )
    SELECT doc_id, CAST(round({terms}, 4) AS DOUBLE) AS bm25
    FROM d, s
    QUALIFY row_number() OVER (ORDER BY round({terms}, 4) DESC, doc_id)
            <= 20
    """


@register("rank_bm25", sql=_bm25_sql())
def rank_bm25(spark, sf_dir):
    # One scan computes per-doc dl and per-term tf (array ops, JVM-side);
    # a 1-row aggregate (N, avgdl, per-term df) broadcast-cross-joins
    # back; the score is pure arithmetic and the top-20 is orderBy+limit
    # — TakeOrderedAndProject, per-partition top-k then a 20-row merge
    # (a global row_number window would move EVERY row to one partition;
    # the plan audit flagged exactly that in the first cut). Ties break
    # on doc_id so ranking is engine-stable.
    docs = (read_testdata(spark, sf_dir, "documents")
            .withColumn("toks", F.expr(_WORD_TOKS))
            .withColumn("dl", F.size("toks").cast("double")))
    for i, t in enumerate(BM25_QUERY):
        docs = docs.withColumn(
            f"tf{i}",
            F.expr(f"size(filter(toks, x -> x = '{t}'))").cast("double"))
    stats = docs.agg(
        F.count("*").cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[F.sum((F.col(f"tf{i}") > 0).cast("int")).cast("double")
          .alias(f"df{i}") for i in range(len(BM25_QUERY))])
    joined = docs.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(BM25_QUERY)):
        idf = F.log(1 + (F.col("n") - F.col(f"df{i}") + 0.5)
                    / (F.col(f"df{i}") + 0.5))
        contrib = idf * (F.col(f"tf{i}") * (BM25_K1 + 1.0)) / (
            F.col(f"tf{i}") + BM25_K1 * (1 - BM25_B
                                         + BM25_B * F.col("dl")
                                         / F.col("avgdl")))
        score = contrib if score is None else score + contrib
    return (joined.select("doc_id", F.round(score, 4).alias("bm25"))
            .orderBy(F.col("bm25").desc(), "doc_id")
            .limit(20))


@register("quality_repetition_stats", sql="""
    WITH words AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
      FROM documents
    ), wc AS (
      SELECT doc_id, word, count(*) AS c FROM words GROUP BY doc_id, word
    ), wstats AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
             CAST(round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS DOUBLE)
               AS top_word_frac
      FROM wc GROUP BY doc_id
    ), sents AS (
      SELECT doc_id, trim(s) AS s FROM (
        SELECT doc_id, unnest(string_split(text, '.')) AS s FROM documents)
      WHERE trim(s) <> ''
    ), sstats AS (
      SELECT doc_id,
             CAST(round(1 - CAST(count(DISTINCT s) AS DOUBLE) / count(*), 4)
                  AS DOUBLE) AS dup_sentence_ratio
      FROM sents GROUP BY doc_id
    )
    SELECT w.doc_id, n_words, top_word_frac,
           coalesce(dup_sentence_ratio, CAST(0.0 AS DOUBLE))
             AS dup_sentence_ratio
    FROM wstats w LEFT JOIN sstats USING (doc_id)
""")
def quality_repetition_stats(spark, sf_dir):
    # Gopher-style repetition quality signals per document: fraction of
    # occurrences held by the most frequent word (repetitive spam pushes
    # this up) and duplicated-sentence ratio (template/boilerplate pages).
    # Two doc_id-keyed aggregations — map-side partial combine applies,
    # the shuffle key is doc_id, never text. Docs with zero alphanumeric
    # words drop (no denominators); docs with words but no '.'-delimited
    # sentences report dup_sentence_ratio 0.
    # r6 rework (guide §2.4 "remove shuffles outright"): both signals are
    # PER-DOCUMENT functions of the text, so they compute array-side in
    # codegen — zero exchanges, zero joins — instead of two exploded
    # aggregations (word rows + full sentence strings shuffled by doc_id)
    # plus a join. max word count == longest equal-run of the SORTED
    # token array; distinct-sentence count == size(array_distinct).
    # Identical values; docs with zero alphanumeric words still drop, and
    # word-only docs still report dup_sentence_ratio 0 (the left-join
    # coalesce becomes the size(ss) = 0 branch).
    #
    # The sorted-token and sentence arrays are bound through a Generate
    # barrier (explode of a 1-element array) so they become REAL
    # attributes: a plain alias is textually inlined at every reference
    # site — including inside the aggregate() lambda, where an inlined
    # array_sort(regexp_extract_all(...)) re-tokenizes the doc per
    # lambda STEP (O(n_tokens^2); measured 1.5s standalone and 209s
    # composed into curate_corpus_v2, vs 0.3s/58s with the barrier).
    docs = ensure_parallelism(read_testdata(spark, sf_dir, "documents"))
    top_run = (
        "CASE WHEN size(ws) < 2 THEN 1L ELSE aggregate("
        " sequence(2, size(ws)),"
        " named_struct('run', 1L, 'best', 1L),"
        " (acc, i) -> IF(element_at(ws, i) = element_at(ws, i - 1),"
        "   named_struct('run', acc.run + 1L,"
        "                'best', greatest(acc.best, acc.run + 1L)),"
        "   named_struct('run', 1L, 'best', acc.best)),"
        " acc -> acc.best) END")
    return (docs
            .select("doc_id", F.explode(F.array(F.expr(
                "named_struct("
                "  'ws', array_sort(regexp_extract_all(lower(text),"
                "                   '[a-z0-9]+', 0)),"
                "  'ss', filter(transform(split(text, '\\\\.'),"
                "               s -> trim(s)), s -> s != ''))")))
                .alias("a"))
            .select("doc_id", "a.ws", "a.ss")
            .filter(F.size("ws") >= 1)
            .select(
                "doc_id",
                F.size("ws").cast("long").alias("n_words"),
                F.round(F.expr(top_run) / F.size("ws").cast("double"), 4)
                .alias("top_word_frac"),
                F.when(F.size("ss") == 0, F.lit(0.0)).otherwise(
                    F.round(1 - F.size(F.array_distinct("ss"))
                            / F.size("ss").cast("double"), 4))
                .alias("dup_sentence_ratio")))


@register("text_fingerprint", sql=r"""
    SELECT doc_id,
           substr(md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), 1, 16)
             AS fingerprint
    FROM documents
""")
def text_fingerprint(spark, sf_dir):
    # Normalized-text fingerprint (whitespace-collapse + lowercase + md5/64).
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return (read_testdata(spark, sf_dir, "documents")
            .select("doc_id",
                    F.substring(F.md5(norm), 1, 16).alias("fingerprint")))


# ---------------------------------------------------------------------------
# Benchmark decontamination: the GPT-3-style exact n-gram collision check —
# a training document sharing any long word n-gram with an eval benchmark
# is contaminated and must be dropped before training.
# ---------------------------------------------------------------------------

DECON_N = 8  # words per collision shingle
# benchmark stand-in: the first docs of the corpus (a real pipeline points
# this at its eval sets); mirrored in the oracle.
DECON_BENCH_MAX_ID = 10

from crawspark.functions.ngrams import ngram_expr

_DECON_GRAMS = f"array_distinct({ngram_expr(DECON_N)})"

# Planted contamination: the synthetic corpus is random word soup, so a
# NATURAL exact 8-gram repeat across the benchmark boundary is a coin
# flip per SF (sf0.01 had one, sf0.1 had none — a vacuous driver row).
# Benchmark doc b and every corpus doc with doc_id % 23 = 3 share the
# "leaked eval question" sentinel variant doc_id % 10, guaranteeing
# collisions at every SF; the oracle appends the identical sentinel.
_DECON_PLANT_SPARK = (
    "CASE WHEN doc_id < 10 OR doc_id % 23 = 3 THEN concat(text, "
    "' eval question m', cast(doc_id % 10 as string), "
    "' alpha beta gamma delta epsilon zeta eta') ELSE text END")
_DECON_PLANT_SQL = (
    "CASE WHEN doc_id < 10 OR doc_id % 23 = 3 THEN text || "
    "' eval question m' || (doc_id % 10) || "
    "' alpha beta gamma delta epsilon zeta eta' ELSE text END")


@register("decontaminate_against_benchmark", sql=f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(
                 lower({_DECON_PLANT_SQL}), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(toks) - {DECON_N - 2}),
               i -> array_to_string(list_slice(toks, i, i + {DECON_N - 1}),
                                    ' ')))) AS gram
      FROM tok WHERE len(toks) >= {DECON_N}
    ), bench AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id < {DECON_BENCH_MAX_ID}
    )
    SELECT g.doc_id, count(*) AS n_collisions
    FROM grams g JOIN bench USING (gram)
    WHERE g.doc_id >= {DECON_BENCH_MAX_ID}
    GROUP BY g.doc_id
""")
def decontaminate_against_benchmark(spark, sf_dir):
    # Exact {DECON_N}-gram collision against the benchmark set: benchmark
    # grams are tiny → broadcast; the corpus side never self-joins. At
    # 100 TB this is the cheapest dedup-shaped op in the pipeline (one
    # scan + one broadcast hash join on a 8-word string key — at extreme
    # benchmark sizes the key becomes xxhash64(gram)).
    docs = (ensure_parallelism(read_testdata(spark, sf_dir, "documents"))
            .withColumn("text", F.expr(_DECON_PLANT_SPARK))
            .withColumn("toks", F.expr(_WORD_TOKS))
            .filter(F.size("toks") >= DECON_N)
            .select("doc_id", F.explode(F.expr(_DECON_GRAMS)).alias("gram")))
    bench = (docs.filter(F.col("doc_id") < DECON_BENCH_MAX_ID)
             .select("gram").distinct())
    return (docs.filter(F.col("doc_id") >= DECON_BENCH_MAX_ID)
            .join(F.broadcast(bench), "gram")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_collisions")))


# ---------------------------------------------------------------------------
# PII scrubbing: regex redaction of emails / phone numbers / IPv4 — all
# JVM-side regexp_replace, verified to the byte by md5 against the oracle.
# ---------------------------------------------------------------------------

_PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PII_PHONE = r"\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{4}"
_PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
# Deterministic PII synthesis so the redactor has something to find.
_PII_SUFFIX_SPARK = (
    "concat(' contact user', cast(doc_id as string), '@example.com or "
    "+1 555 ', lpad(cast(doc_id % 10000 as string), 4, '0'), ' from "
    "10.0.', cast(doc_id % 256 as string), '.7')")
_PII_SUFFIX_SQL = (
    "' contact user' || doc_id || '@example.com or +1 555 ' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.0.' || "
    "CAST(doc_id % 256 AS VARCHAR) || '.7'")


@register("redact_pii", sql=f"""
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(regexp_replace(
             text || {_PII_SUFFIX_SQL},
             '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g'),
             '{_PII_IP}', '<IP>', 'g')) AS redacted_hash,
           CAST(len(regexp_extract_all(text || {_PII_SUFFIX_SQL},
                                       '{_PII_EMAIL}')) AS INT) AS n_emails
    FROM documents
""")
def redact_pii(spark, sf_dir):
    # Per-doc md5 of the REDACTED text: the driver compare then pins every
    # byte of the redaction output, not just match counts.
    raw = F.expr(f"concat(text, {_PII_SUFFIX_SPARK})")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(raw, _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE, "<PHONE>"),
        _PII_IP, "<IP>")
    return (read_testdata(spark, sf_dir, "documents")
            .select("doc_id",
                    F.md5(redacted).alias("redacted_hash"),
                    F.size(F.regexp_extract_all(raw, F.lit(_PII_EMAIL), 0))
                    .alias("n_emails")))


# C4-style line gates [Raffel et al. 2020 §2.2, public]: keep lines
# that are sentence-like (>=5 words, terminal punctuation), drop pages
# with too few kept lines, with "lorem ipsum", with code braces, and
# lines mentioning javascript. The flat testdata text has no line
# structure, so the query synthesizes a deterministic page per doc
# (8-word lines; punctuation/javascript/lorem/brace injected by
# doc_id arithmetic) and then GENUINELY parses the constructed lines —
# the same synthesize-then-parse pattern as the media-header queries.
_C4_LINES_EXPR = """
    transform(sequence(0, greatest(int(ceil(size(w) / 8.0)), 1) - 1), j ->
      concat(array_join(slice(w, j * 8 + 1, 8), ' '),
             CASE (doc_id + j) % 4 WHEN 1 THEN '.' WHEN 2 THEN '!'
                  WHEN 3 THEN ' javascript.' ELSE '' END,
             CASE WHEN j = 0 AND doc_id % 31 = 0
                  THEN ' lorem ipsum' ELSE '' END,
             CASE WHEN j = 0 AND doc_id % 37 = 0 THEN ' {' ELSE '' END))
"""
_C4_KEPT_EXPR = """
    filter(lines, l -> size(split(l, ' ')) >= 5 AND l RLIKE '[.!?]$'
                   AND NOT contains(l, 'javascript')
                   AND NOT contains(l, '{'))
"""


@register("quality_c4_gates", sql="""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), pages AS (
      SELECT doc_id,
        [ array_to_string(w[j*8+1 : j*8+8], ' ')
          || CASE (doc_id + j) % 4 WHEN 1 THEN '.' WHEN 2 THEN '!'
                  WHEN 3 THEN ' javascript.' ELSE '' END
          || CASE WHEN j = 0 AND doc_id % 31 = 0
                  THEN ' lorem ipsum' ELSE '' END
          || CASE WHEN j = 0 AND doc_id % 37 = 0 THEN ' {' ELSE '' END
          FOR j IN range(0, greatest(CAST(ceil(len(w) / 8.0) AS INT), 1)) ]
          AS lines
      FROM base
    ), gated AS (
      SELECT doc_id, lines,
        list_filter(lines, l -> len(string_split(l, ' ')) >= 5
                            AND regexp_matches(l, '[.!?]$')
                            AND NOT contains(l, 'javascript')
                            AND NOT contains(l, '{')) AS kept
      FROM pages
    )
    SELECT doc_id,
      CAST(len(lines) AS INT) AS n_lines,
      CAST(len(kept) AS INT) AS n_kept_lines,
      CAST(CASE WHEN len(kept) >= 3
                 AND NOT contains(array_to_string(lines, ' '), 'lorem ipsum')
                 AND NOT contains(array_to_string(lines, ' '), '{')
            THEN 1 ELSE 0 END AS INT) AS keep,
      -- array_to_string([]) is NULL in DuckDB but concat_ws is '' in
      -- Spark — coalesce so an all-dropped page reports 0 chars
      CAST(coalesce(length(array_to_string(kept, ' ')), 0) AS INT)
        AS kept_chars
    FROM gated
""")
def quality_c4_gates(spark, sf_dir):
    # All JVM-side higher-order functions — construct lines once, then
    # three narrow projections; no shuffle at all (per-doc map only).
    docs = read_testdata(spark, sf_dir, "documents")
    page = F.concat_ws(" ", F.col("lines"))
    keep = (F.when((F.size("kept") >= 3)
                   & ~F.contains(page, F.lit("lorem ipsum"))
                   & ~F.contains(page, F.lit("{")), 1)
            .otherwise(0))
    return (docs
            .select("doc_id", F.split("text", " ").alias("w"))
            .withColumn("lines", F.expr(_C4_LINES_EXPR))
            .withColumn("kept", F.expr(_C4_KEPT_EXPR))
            .select("doc_id",
                    F.size("lines").cast("int").alias("n_lines"),
                    F.size("kept").cast("int").alias("n_kept_lines"),
                    keep.cast("int").alias("keep"),
                    F.length(F.concat_ws(" ", F.col("kept"))).cast("int")
                    .alias("kept_chars")))


# Gopher quality gates (Rae et al. 2021, A1.1) over synthesized page
# structure: lines of 8 words; line j of doc d gets a bullet prefix
# when (d+j)%6==4, a trailing ellipsis when (d+j)%5==3, and two '#'
# symbol tokens when (d+j)%11==7 — so each rule visibly fires on part
# of the corpus. The decorated word list is the page text re-split.
_GOPHER_LINES_EXPR = """
    transform(sequence(0, greatest(int(ceil(size(w) / 8.0)), 1) - 1), j ->
      concat(CASE WHEN (doc_id + j) % 6 = 4 THEN '- ' ELSE '' END,
             array_join(slice(w, j * 8 + 1, 8), ' '),
             CASE WHEN (doc_id + j) % 5 = 3 THEN '...' ELSE '' END,
             CASE WHEN (doc_id + j) % 11 = 7 THEN ' # #' ELSE '' END))
"""

# the synthetic vocab carries only 'the' and 'a' from the real
# stopword inventory — the >=2-distinct gate therefore requires BOTH,
# which splits the corpus ~63/37 instead of dropping everything (the
# r5 degeneracy check caught the original all-absent list). ONE tuple
# drives both engine literals (r5 review: two hand-kept formats are
# the same drift class the degeneracy bug came from).
_GOPHER_STOP_WORDS = ("the", "a", "of", "and", "to", "that")
_GOPHER_STOPS = "(" + ",".join(f"'{w}'" for w in _GOPHER_STOP_WORDS) + ")"
_GOPHER_STOPS_SPARK = ("array(" + ",".join(
    f"'{w}'" for w in _GOPHER_STOP_WORDS) + ")")


@register("quality_gopher_gates", sql=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), pages AS (
      SELECT doc_id, w,
        [ CASE WHEN (doc_id + j) % 6 = 4 THEN '- ' ELSE '' END
          || array_to_string(w[j * 8 + 1 : j * 8 + 8], ' ')
          || CASE WHEN (doc_id + j) % 5 = 3 THEN '...' ELSE '' END
          || CASE WHEN (doc_id + j) % 11 = 7 THEN ' # #' ELSE '' END
          FOR j IN range(0, greatest(CAST(ceil(len(w) / 8.0) AS INT), 1)) ]
          AS lines
      FROM base
    ), sig AS (
      SELECT doc_id, lines,
        string_split(array_to_string(lines, ' '), ' ') AS dw,
        list_transform(w, x -> length(x)) AS wl,
        len(list_distinct(list_filter(w, x -> x IN {_GOPHER_STOPS})))
          AS n_stop
      FROM pages
    )
    SELECT doc_id,
      CAST(len(dw) AS INT) AS n_words,
      CAST(round(list_sum(wl) / CAST(len(wl) AS DOUBLE), 4) AS DOUBLE)
        AS mean_word_len,
      CAST(round((len(list_filter(dw, x -> x = '#'))
                  + len(list_filter(lines, l -> l LIKE '%...')))
                 / CAST(len(dw) AS DOUBLE), 4) AS DOUBLE) AS symbol_ratio,
      CAST(round(len(list_filter(lines, l -> l LIKE '- %'))
                 / CAST(len(lines) AS DOUBLE), 4) AS DOUBLE)
        AS bullet_line_frac,
      CAST(round(len(list_filter(lines, l -> l LIKE '%...'))
                 / CAST(len(lines) AS DOUBLE), 4) AS DOUBLE)
        AS ellipsis_line_frac,
      CAST(round(len(list_filter(dw, x -> regexp_matches(x, '[a-z]')))
                 / CAST(len(dw) AS DOUBLE), 4) AS DOUBLE)
        AS alpha_word_frac,
      CAST(n_stop AS INT) AS n_stop_distinct,
      CAST(CASE WHEN len(dw) BETWEEN 50 AND 100000
                 AND list_sum(wl) / CAST(len(wl) AS DOUBLE)
                     BETWEEN 3 AND 10
                 AND (len(list_filter(dw, x -> x = '#'))
                      + len(list_filter(lines, l -> l LIKE '%...')))
                     / CAST(len(dw) AS DOUBLE) < 0.1
                 AND len(list_filter(lines, l -> l LIKE '- %'))
                     / CAST(len(lines) AS DOUBLE) <= 0.9
                 AND len(list_filter(lines, l -> l LIKE '%...'))
                     / CAST(len(lines) AS DOUBLE) <= 0.3
                 AND len(list_filter(dw, x -> regexp_matches(x, '[a-z]')))
                     / CAST(len(dw) AS DOUBLE) >= 0.8
                 AND n_stop >= 2
            THEN 1 ELSE 0 END AS INT) AS keep
    FROM sig
""")
def quality_gopher_gates(spark, sf_dir):
    # The full Gopher rule set, paper thresholds: 50-100k words, mean
    # word length 3-10, symbol-to-word < 0.1, <=90% bullet lines,
    # <=30% ellipsis lines, >=80% alphabetic words, >=2 distinct
    # required stopwords. All higher-order-function projections — zero
    # shuffle, pure per-doc map like quality_c4_gates.
    docs = read_testdata(spark, sf_dir, "documents")
    stops = _GOPHER_STOPS_SPARK
    d = (docs
         .select("doc_id", F.split("text", " ").alias("w"))
         .withColumn("lines", F.expr(_GOPHER_LINES_EXPR))
         .withColumn("dw", F.split(F.concat_ws(" ", F.col("lines")), " "))
         .withColumn("n_stop", F.expr(
             f"size(array_distinct(filter(w, x -> array_contains({stops}, x))))"))
         .withColumn("mwl", F.expr(
             "aggregate(w, 0L, (a, x) -> a + length(x)) / cast(size(w) as double)"))
         .withColumn("n_hash", F.expr("size(filter(dw, x -> x = '#'))"))
         .withColumn("n_ell", F.expr(
             "size(filter(lines, l -> l LIKE '%...'))"))
         .withColumn("n_bullet", F.expr(
             "size(filter(lines, l -> l LIKE '- %'))"))
         .withColumn("n_alpha", F.expr(
             "size(filter(dw, x -> x rlike '[a-z]'))")))
    nw = F.size("dw").cast("double")
    nl = F.size("lines").cast("double")
    sym = (F.col("n_hash") + F.col("n_ell")) / nw
    bullet = F.col("n_bullet") / nl
    ell = F.col("n_ell") / nl
    alpha = F.col("n_alpha") / nw
    keep = (F.when(
        F.size("dw").between(50, 100000)
        & F.col("mwl").between(3, 10) & (sym < 0.1)
        & (bullet <= 0.9) & (ell <= 0.3) & (alpha >= 0.8)
        & (F.col("n_stop") >= 2), 1).otherwise(0))
    return d.select(
        "doc_id",
        F.size("dw").cast("int").alias("n_words"),
        F.round("mwl", 4).alias("mean_word_len"),
        F.round(sym, 4).alias("symbol_ratio"),
        F.round(bullet, 4).alias("bullet_line_frac"),
        F.round(ell, 4).alias("ellipsis_line_frac"),
        F.round(alpha, 4).alias("alpha_word_frac"),
        F.col("n_stop").cast("int").alias("n_stop_distinct"),
        keep.cast("int").alias("keep"))


# ---------------------------------------------------------------------------
# Phrase search over a positional inverted index [R: query.py — whoosh
# phrase queries]. boolquery.py covers boolean relevance as a codegen
# predicate over the raw text; phrase search AT SCALE instead builds
# (doc_id, term, position) postings and intersects POSITION-SHIFTED
# lists — the corpus text itself is touched once to build postings, and
# the match is pure array arithmetic on the tiny filtered posting set
# (a real index would be materialized once and reused across queries).
# ---------------------------------------------------------------------------

PHRASES = {
    "merge_join": ["merge", "join"],          # frequent bigram
    "sort_merge_join": ["sort", "merge", "join"],  # rare trigram
}


def _phrase_sql_count(ts: str, terms: list[str]) -> str:
    """DuckDB replay: #positions i where ts[i..] spells the phrase."""
    cond = " AND ".join(
        f"{ts}[i + {k}] = '{t}'" for k, t in enumerate(terms))
    return (f"len(list_filter(range(1, len({ts}) - {len(terms) - 2}), "
            f"i -> {cond}))")


@register("search_phrase_positions", sql=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), hits AS (
      SELECT doc_id,
             CAST({_phrase_sql_count('ts', PHRASES['merge_join'])}
                  AS INT) AS n_merge_join,
             CAST({_phrase_sql_count('ts', PHRASES['sort_merge_join'])}
                  AS INT) AS n_sort_merge_join
      FROM toks
    )
    SELECT doc_id, n_merge_join, n_sort_merge_join
    FROM hits WHERE n_merge_join > 0 OR n_sort_merge_join > 0
""")
def search_phrase_positions(spark, sf_dir):
    # Postings restricted to the phrase vocabulary (3 distinct terms
    # here — the filter prunes ~90% of positions before any shuffle),
    # then per-doc position arrays; phrase occurrence count = size of
    # the intersection of the i-shifted position sets. All JVM-side
    # array built-ins; the raw text never shuffles.
    from functools import reduce

    vocab = sorted({t for ts in PHRASES.values() for t in ts})
    docs = read_testdata(spark, sf_dir, "documents")
    postings = (docs
                .select("doc_id", F.posexplode(F.split("text", " "))
                        .alias("pos", "term"))
                .filter(F.col("term").isin(vocab)))
    aggs = []
    for name, terms in PHRASES.items():
        for k, t in enumerate(terms):
            aggs.append(F.collect_list(
                F.when(F.col("term") == t, F.col("pos")))
                .alias(f"{name}__{k}"))
    per_doc = postings.groupBy("doc_id").agg(*aggs)
    def _shift(col_name: str, k: int):
        # NB: the lambda must take exactly ONE parameter — pyspark's
        # transform() passes (element, index) to two-arg lambdas, so a
        # captured `k=k` default would silently receive the array index
        return F.transform(F.col(col_name), lambda x: x - k)

    cols = [F.col("doc_id")]
    for name, terms in PHRASES.items():
        shifted = [_shift(f"{name}__{k}", k) for k in range(len(terms))]
        inter = reduce(F.array_intersect, shifted)
        cols.append(F.size(inter).alias(f"n_{name}"))
    out = per_doc.select(*cols)
    return out.filter(
        (F.col("n_merge_join") > 0) | (F.col("n_sort_merge_join") > 0))


@register("keyword_tfidf_topk", sql="""
    -- tf-idf keyword extraction: per doc, top-3 terms by tf*idf with
    -- tf = term count / doc tokens, idf = ln(N / df). Ranking compares
    -- the 6-decimal-ROUNDED score (then term asc) so float ulps can
    -- never reorder near-ties across engines.
    WITH words AS (
      SELECT doc_id, t FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents)
    ), dlen AS (
      SELECT doc_id, CAST(count(*) AS DOUBLE) AS n FROM words
      GROUP BY doc_id
    ), df AS (
      SELECT t, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
      FROM words GROUP BY t
    ), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    scored AS (
      SELECT w.doc_id, w.t AS term,
             round((count(*) / dl.n) * ln((SELECT n FROM nn) / df.df), 6)
               AS tfidf
      FROM words w
      JOIN dlen dl USING (doc_id)
      JOIN df ON df.t = w.t
      GROUP BY w.doc_id, w.t, dl.n, df.df
    )
    SELECT doc_id, term, CAST(rank AS INT) AS rank, tfidf
    FROM (SELECT doc_id, term, tfidf,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, term) AS rank
          FROM scored)
    WHERE rank <= 3
""")
def keyword_tfidf_topk(spark, sf_dir):
    # Per-document keyword extraction — the topic-tagging signal a
    # corpus curation/reporting layer attaches to every kept document.
    # 100 TB shape: df is an aggregate of the corpus broadcast back
    # (vocabulary-sized, bounded), the per-doc side is one explode +
    # two joins + a per-doc window — the window partitions by doc_id,
    # never globally.
    from pyspark.sql.window import Window

    docs = read_testdata(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    dlen = words.groupBy("doc_id").agg(F.count("*").cast("double").alias("n"))
    df = words.groupBy("t").agg(
        F.countDistinct("doc_id").cast("double").alias("df"))
    nn = docs.agg(F.count("*").cast("double").alias("nn"))
    scored = (words.groupBy("doc_id", "t").agg(F.count("*").alias("c"))
              .join(dlen, "doc_id")
              .join(F.broadcast(df), "t")
              .crossJoin(F.broadcast(nn))
              .select("doc_id", F.col("t").alias("term"),
                      F.round((F.col("c") / F.col("n"))
                              * F.log(F.col("nn") / F.col("df")), 6)
                      .alias("tfidf")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("doc_id", "term", F.col("rank").cast("int").alias("rank"),
                    "tfidf"))


@register("collocations_pmi_topk", sql="""
    -- Top-20 collocations by pointwise mutual information over the
    -- corpus bigrams (count floor 5 kills the noisy singleton tail):
    -- pmi = ln((c12/Nb) / ((c1/Nt)(c2/Nt))). Ranking compares the
    -- 6-decimal-rounded score (then w1, w2) so float ulps can never
    -- reorder near-ties across engines.
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), uni AS (
      SELECT t, CAST(count(*) AS DOUBLE) AS c
      FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY t
    ), big AS (
      SELECT ts[i] AS w1, ts[i + 1] AS w2,
             CAST(count(*) AS DOUBLE) AS c12
      FROM (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i
            FROM toks WHERE len(ts) >= 2)
      GROUP BY w1, w2 HAVING count(*) >= 5
    ), tot AS (
      SELECT (SELECT sum(c) FROM uni) AS nt,
             (SELECT CAST(sum(len(ts) - 1) AS DOUBLE) FROM toks
              WHERE len(ts) >= 2) AS nb
    )
    SELECT w1, w2, CAST(c12 AS BIGINT) AS pair_count, pmi
    FROM (
      SELECT b.w1, b.w2, b.c12,
             round(ln((b.c12 / tot.nb)
                      / ((u1.c / tot.nt) * (u2.c / tot.nt))), 6) AS pmi,
             row_number() OVER (
               ORDER BY round(ln((b.c12 / tot.nb)
                                 / ((u1.c / tot.nt) * (u2.c / tot.nt))),
                               6) DESC, b.w1, b.w2) AS rk
      FROM big b
      JOIN uni u1 ON u1.t = b.w1
      JOIN uni u2 ON u2.t = b.w2
      CROSS JOIN tot)
    WHERE rk <= 20
""")
def collocations_pmi_topk(spark, sf_dir):
    # Collocation mining (Church & Hanks 1990 PMI) — the phrase-level
    # vocabulary signal tokenizer and quality teams pull from a corpus.
    # 100 TB shape: unigram/bigram counts are map-side-combined aggs;
    # the surviving >= 5 bigram table joins the unigram table broadcast
    # (vocabulary-bounded); the global top-20 is TakeOrdered, not a
    # full sort.
    docs = read_testdata(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("ts"))
    uni = (toks.select(F.explode("ts").alias("t"))
           .groupBy("t").agg(F.count("*").cast("double").alias("c")))
    big = (toks.filter(F.size("ts") >= 2)
           .select(F.explode(F.expr(
               "zip_with(slice(ts, 1, size(ts) - 1),"
               "         slice(ts, 2, size(ts) - 1),"
               "         (a, b) -> struct(a AS w1, b AS w2))")).alias("bg"))
           .select("bg.w1", "bg.w2")
           .groupBy("w1", "w2").agg(F.count("*").cast("double").alias("c12"))
           .filter(F.col("c12") >= 5))
    tot = (uni.agg(F.sum("c").alias("nt"))
           .crossJoin(toks.filter(F.size("ts") >= 2)
                      .agg(F.sum(F.size("ts") - 1).cast("double")
                           .alias("nb"))))
    u1 = uni.withColumnsRenamed({"t": "w1", "c": "c1"})
    u2 = uni.withColumnsRenamed({"t": "w2", "c": "c2"})
    pmi = F.round(F.log((F.col("c12") / F.col("nb"))
                        / ((F.col("c1") / F.col("nt"))
                           * (F.col("c2") / F.col("nt")))), 6)
    # Global top-20 as orderBy + limit → TakeOrderedAndProject (VERDICT
    # r5 perf-weak #2: the row_number() over an UNPARTITIONED window
    # single-partition-sorted the whole floor-5 bigram table; the
    # deterministic (pmi, w1, w2) tiebreak makes the row sets identical).
    # Same fix rank_bm25 got; pinned in tests/test_scale_plans.py.
    return (big.join(F.broadcast(u1), "w1").join(F.broadcast(u2), "w2")
            .crossJoin(F.broadcast(tot))
            .withColumn("pmi", pmi)
            .orderBy(F.desc("pmi"), "w1", "w2")
            .limit(20)
            .select("w1", "w2", F.col("c12").cast("long").alias("pair_count"),
                    "pmi"))


# ---------------------------------------------------------------------------
# Exact-substring duplication coverage (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better"): instead of whole-document
# similarity, measure how much of EACH document is covered by token runs
# that occur elsewhere in the corpus. The paper builds a suffix array; at
# Spark scale the equivalent signal is k-token gram occurrences with
# corpus count >= 2, unioned per document into interval coverage — the
# per-document duplicated-token fraction that substring-level dedup would
# remove. Distinct from decontaminate (vs a benchmark) and split_leakage
# (across a split): this is corpus-internal, all-pairs by construction.
# ---------------------------------------------------------------------------

SUBSTR_K = 8   # tokens per duplicated-run gram (the paper's ~50-token spirit
               # scaled to the synthetic corpus's short docs)

# A fixed 11-word slogan planted on every 17th doc keeps the row
# non-vacuous at every SF (cross-doc duplicated runs exist by construction)
# next to whatever natural repeats the corpus carries.
_SLOGAN = (" open web corpus quality matters deduplicate your training "
           "data thoroughly always")
_SLOGAN_SPARK = ("CASE WHEN doc_id % 17 = 0 THEN concat(text, '"
                 + _SLOGAN + "') ELSE text END")
_SLOGAN_SQL = ("CASE WHEN doc_id % 17 = 0 THEN text || '"
               + _SLOGAN + "' ELSE text END")


# Shared DuckDB CTE chain tok -> gl -> g -> dup -> occ: ONE definition
# of the duplicated-8-gram occurrence table, used verbatim by
# dedup_substring_coverage (the metric) AND rewrite_drop_dup_substrings
# (the actual dedup rewrite) — the _BOILER_CTES no-drift rule.
_SUBSTR_CTES = f"""tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower({_SLOGAN_SQL}),
                                               '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents
    ), gl AS (
      SELECT doc_id, len(toks) AS n_toks,
             list_transform(range(1, len(toks) - {SUBSTR_K - 2}),
               i -> array_to_string(list_slice(toks, i, i + {SUBSTR_K - 1}),
                                    ' ')) AS grams
      FROM tok WHERE len(toks) >= {SUBSTR_K}
    ), g AS (
      SELECT doc_id, n_toks, unnest(range(1, len(grams) + 1)) AS pos,
             unnest(grams) AS gram
      FROM gl
    ), dup AS (
      SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2
    ), occ AS (
      SELECT doc_id, n_toks, pos FROM g JOIN dup USING (gram)
    )"""


@register("dedup_substring_coverage", sql=f"""
    WITH {_SUBSTR_CTES}, contrib AS (
      SELECT doc_id, n_toks,
             coalesce(least({SUBSTR_K},
                            pos - lag(pos) OVER (PARTITION BY doc_id
                                                 ORDER BY pos)),
                      {SUBSTR_K}) AS c
      FROM occ
    )
    SELECT doc_id, CAST(any_value(n_toks) AS INT) AS n_toks,
           CAST(sum(c) AS INT) AS covered_toks,
           round(sum(c) / any_value(n_toks), 4) AS dup_frac
    FROM contrib GROUP BY doc_id
""")
def dedup_substring_coverage(spark, sf_dir):
    # Fixed-length intervals sorted by start make interval union a single
    # window pass: each duplicated gram at pos covers [pos, pos+K), and its
    # NEW coverage is min(K, pos - prev_pos) — no interval trees, no UDFs.
    # The position base differs across engines (posexplode is 0-based,
    # DuckDB's range is 1-based) but only pos DIFFERENCES enter the math.
    # 100 TB: one gram agg (map-side combined count) and one join back on
    # the gram key — the join-back side can carry a bloom filter of dup
    # grams at extreme scale; no pair join ever forms, so hot template
    # grams cost counts, not postings^2.
    # The gram table feeds BOTH the dup-count aggregation and the
    # join-back side. r6: deliberately NOT checkpointed — the two
    # consumers are independent stages of one job and re-run the
    # tokenize+explode subtree CONCURRENTLY on idle cores, which
    # measured 2.7s vs 5.2s with the eager materialization (the same
    # stage-concurrency lesson as the lm/kn model tables).
    docs = (ensure_parallelism(read_testdata(spark, sf_dir, "documents"))
            .withColumn("text", F.expr(_SLOGAN_SPARK))
            .withColumn("toks", F.expr(_WORD_TOKS))
            .filter(F.size("toks") >= SUBSTR_K)
            .select("doc_id", F.size("toks").alias("n_toks"),
                    F.posexplode(F.expr(ngram_expr(SUBSTR_K)))
                    .alias("pos", "gram")))
    dup = (docs.groupBy("gram").agg(F.count("*").alias("n"))
           .filter(F.col("n") >= 2).select("gram"))
    occ = docs.join(dup, "gram").select("doc_id", "n_toks", "pos")
    from pyspark.sql.window import Window
    w = Window.partitionBy("doc_id").orderBy("pos")
    contrib = occ.withColumn(
        "c", F.coalesce(F.least(F.lit(SUBSTR_K),
                                F.col("pos") - F.lag("pos").over(w)),
                        F.lit(SUBSTR_K)))
    return (contrib.groupBy("doc_id")
            .agg(F.any_value("n_toks").cast("int").alias("n_toks"),
                 F.sum("c").cast("int").alias("covered_toks"),
                 F.round(F.sum("c") / F.any_value("n_toks"), 4)
                 .alias("dup_frac")))


# ---------------------------------------------------------------------------
# Encoding hygiene: mojibake repair + Unicode NFC audit.
#
# Real crawl corpora carry two classic encoding defects the extraction
# pipeline must clean before tokenization:
#   1. MOJIBAKE — UTF-8 bytes mis-decoded as Windows-1252 somewhere
#      upstream ('é' -> 'Ã©', '’' -> 'â€™'); the ftfy repair everyone
#      runs, here as a broadcast-free chained-replace over the ten most
#      common UTF-8-through-cp1252 sequences (all JVM regexp/replace —
#      no Python in the hot path, map-only, zero shuffle until the agg).
#   2. NON-NFC text — decomposed combining sequences ('e' + U+0301) that
#      break exact-match dedup and tokenizer merges; audited per doc
#      with Python's unicodedata (C implementation) vs DuckDB's
#      independent utf8proc nfc_normalize — two unrelated Unicode
#      implementations must agree on every per-doc NFC md5.
#
# The driver corpus is pure ASCII, so both queries carry deterministic
# PLANTS under negative doc_ids (the dedup_containment_pairs idiom):
# clean docs prove the no-op path (n_fixed = 0 / is_nfc = true), planted
# twins prove the repair/normalization path, at every SF.
# ---------------------------------------------------------------------------

# (clean, mojibake) pairs = the clean char's UTF-8 bytes viewed through
# cp1252. Verified by tests/test_encoding_hygiene.py with a REAL
# .encode('utf-8').decode('cp1252') round trip, so the table cannot
# drift from the defect it claims to undo. Every byte of every pattern
# is defined in cp1252 (0x81/8D/8F/90/9D carriers excluded by choice of
# clean chars).
MOJIBAKE_PAIRS: list[tuple[str, str]] = [
    # ORDER MATTERS: a repaired (clean) char may itself occur inside a
    # later pattern — '“' (cp1252 0x93) is the final char of '–'-mojibake
    # 'â€“' — and a stray 'â€' just before a repaired '“' would then
    # assemble a NEW 'â€“' occurrence for a later pass to consume,
    # making n_fixed (counted on the pre-repair text) undercount. So any
    # pair whose clean char occurs in another pair's pattern runs AFTER
    # that pair: '–' before '“'. Pinned by
    # tests/test_encoding_hygiene.py::test_mojibake_chain_order_safe.
    ("é", "Ã©"), ("ü", "Ã¼"), ("ï", "Ã¯"), ("ç", "Ã§"), ("ñ", "Ã±"),
    ("’", "â€™"), ("–", "â€“"), ("“", "â€œ"), ("—", "â€”"), ("…", "â€¦"),
]
# cp1252 round trip of 'Café naïve façade über mañana “quote’ – dash — em …'
_MOJI_PREFIX = "CafÃ© naÃ¯ve faÃ§ade Ã¼ber maÃ±ana â€œquoteâ€™ â€“ dash â€” em â€¦"

_MOJI_COUNT_SQL = " + ".join(
    f"(length(text) - length(replace(text, '{bad}', ''))) // {len(bad)}"
    for _, bad in MOJIBAKE_PAIRS)
_MOJI_FIX_SQL = "text"
for _good, _bad in MOJIBAKE_PAIRS:
    _MOJI_FIX_SQL = f"replace({_MOJI_FIX_SQL}, '{_bad}', '{_good}')"


# Exported so the streaming twin (stream_fix_mojibake) can reuse the
# identical oracle — streamed repairs must hash-equal batch repairs.
FIX_MOJIBAKE_SQL = f"""
    -- UTF-8-through-cp1252 repair over the corpus + planted mojibake
    -- twins (every 23rd doc under -doc_id - 1). n_fixed counts
    -- replacements per pattern on the PRE-repair text (pattern
    -- occurrences are mutually disjoint — no substring/suffix-prefix
    -- sharing, pinned by test — so the sequential replace chain sees
    -- exactly those occurrences); fixed_md5 pins the repaired text.
    WITH docs_aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT -doc_id - 1 AS doc_id,
             '{_MOJI_PREFIX} ' || substr(text, 1, 120) AS text
      FROM documents WHERE doc_id % 23 = 0
    )
    SELECT doc_id,
           CAST({_MOJI_COUNT_SQL} AS BIGINT) AS n_fixed,
           md5({_MOJI_FIX_SQL}) AS fixed_md5
    FROM docs_aug
"""


def moji_augment(docs):
    """documents(doc_id, text) -> the corpus + planted mojibake twins —
    the ONE plant definition, shared by the batch and streaming paths."""
    plants = (docs.filter(F.col("doc_id") % 23 == 0)
              .select((-F.col("doc_id") - 1).alias("doc_id"),
                      F.concat(F.lit(_MOJI_PREFIX + " "),
                               F.substring("text", 1, 120)).alias("text")))
    return docs.select("doc_id", "text").unionByName(plants)


def moji_repair(df):
    """(doc_id, text) -> (doc_id, n_fixed, fixed_md5): the chained-
    replace repair, stateless per row — safe inside any microbatch."""
    from functools import reduce

    t = F.col("text")
    n_fixed = None
    for _good, bad in MOJIBAKE_PAIRS:
        c = ((F.length(t) - F.length(F.replace(t, F.lit(bad), F.lit(""))))
             / F.lit(len(bad))).cast("long")
        n_fixed = c if n_fixed is None else n_fixed + c
    fixed = reduce(lambda col, p: F.replace(col, F.lit(p[1]), F.lit(p[0])),
                   MOJIBAKE_PAIRS, t)
    return df.select("doc_id", n_fixed.alias("n_fixed"),
                     F.md5(fixed.cast("binary")).alias("fixed_md5"))


@register("fix_mojibake", sql=FIX_MOJIBAKE_SQL)
def fix_mojibake(spark, sf_dir):
    """Targeted mojibake repair (the ftfy-core case: UTF-8 bytes decoded
    as Windows-1252 upstream). Chained JVM ``replace`` over the ten
    dominant sequences — map-only, no shuffle, no Python; at 100 TB this
    is a free rider on the first scan of the corpus. Clean docs are
    proven untouched (n_fixed = 0 and md5(text) unchanged participate in
    the driver hash)."""
    docs = read_testdata(spark, sf_dir, "documents")
    return moji_repair(moji_augment(docs))


@register("unicode_nfc_stats", sql="""
    -- NFC audit: Python unicodedata (Spark side) vs DuckDB utf8proc —
    -- two independent Unicode normalization implementations must agree
    -- on every per-doc NFC md5. Plants: every 17th doc gets a DECOMPOSED
    -- twin ('e' -> 'e' + combining acute U+0301, NFC recomposes to 'é'),
    -- every 19th a PRECOMPOSED twin ('a' -> 'ä', already NFC) — the
    -- audit must flag the first and pass the second.
    WITH docs_aug AS (
      -- coalesce matches the Spark side's null coercion in the audit
      -- UDF (a NULL text row would otherwise produce NULL is_nfc/md5
      -- here but ''-stats there)
      SELECT doc_id, coalesce(text, '') AS text FROM documents
      UNION ALL
      SELECT -doc_id - 1 AS doc_id,
             replace(coalesce(text, ''), 'e', 'e' || chr(769))
      FROM documents WHERE doc_id % 17 = 0
      UNION ALL
      SELECT -doc_id - 1000000001 AS doc_id,
             replace(coalesce(text, ''), 'a', chr(228))
      FROM documents WHERE doc_id % 19 = 0
    )
    SELECT doc_id,
           text = nfc_normalize(text) AS is_nfc,
           CAST(length(text) AS INT) AS orig_len,
           CAST(length(nfc_normalize(text)) AS INT) AS nfc_len,
           md5(nfc_normalize(text)) AS nfc_md5
    FROM docs_aug
""")
def unicode_nfc_stats(spark, sf_dir):
    """Unicode NFC normalization audit: per-doc is-normalized flag,
    codepoint lengths before/after, and the md5 of the NFC form.
    unicodedata.normalize is a C routine; the batch loop is per-DOC (not
    per-char) inside mapInPandas — the same cost shape as the robots
    decisions. 100 TB: map-only, no shuffle; the NFC pass would fuse
    into the extraction scan."""
    import hashlib
    import unicodedata
    from collections.abc import Iterator as _Iter

    import pandas as pd

    docs = read_testdata(spark, sf_dir, "documents")
    plants_dec = (docs.filter(F.col("doc_id") % 17 == 0)
                  .select((-F.col("doc_id") - 1).alias("doc_id"),
                          F.replace("text", F.lit("e"),
                                    F.lit("e\u0301")).alias("text")))
    plants_pre = (docs.filter(F.col("doc_id") % 19 == 0)
                  .select((-F.col("doc_id") - 1000000001).alias("doc_id"),
                          F.replace("text", F.lit("a"),
                                    F.lit("\u00e4")).alias("text")))
    aug = (docs.select("doc_id", "text")
           .unionByName(plants_dec).unionByName(plants_pre))

    def audit(batches: _Iter[pd.DataFrame]) -> _Iter[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                text = text or ""  # mirrored by coalesce in the oracle
                nfc = unicodedata.normalize("NFC", text)
                rows.append((doc_id, nfc == text, len(text), len(nfc),
                             hashlib.md5(nfc.encode("utf-8")).hexdigest()))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "is_nfc", "orig_len", "nfc_len", "nfc_md5"])

    return aug.mapInPandas(
        audit,
        "doc_id long, is_nfc boolean, orig_len int, nfc_len int, "
        "nfc_md5 string")


# FineWeb/RefinedWeb-style blocklist gate: corpora are filtered by the
# fraction of tokens hitting a curated blocklist (UT1-style). The corpus
# is benign word soup, so three mid-frequency vocabulary words stand in
# for the list; the MACHINERY (token-level word match, ratio, threshold
# gate) is what the query pins. Threshold 0.04 sits inside the corpus
# ratio distribution (median 0.031, p75 0.050 at sf0.01), so both gate
# outcomes are populated at every SF by construction.
BLOCK_TERMS = ("slow", "stale", "skew")
BLOCK_RATIO_MAX = 0.04


@register("quality_blocklist_gate", sql=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS ts
      FROM documents
    )
    SELECT doc_id,
           CAST(len(ts) AS INT) AS n_tokens,
           CAST(len(list_filter(ts, x -> x IN
                 {BLOCK_TERMS!r})) AS INT) AS n_blocked,
           CAST(round(CAST(len(list_filter(ts, x -> x IN
                 {BLOCK_TERMS!r})) AS DOUBLE)
                 / greatest(len(ts), 1), 4) AS DOUBLE) AS blocked_ratio,
           CAST(len(list_filter(ts, x -> x IN {BLOCK_TERMS!r})) AS DOUBLE)
             / greatest(len(ts), 1) < {BLOCK_RATIO_MAX} AS keep
    FROM toks
""")
def quality_blocklist_gate(spark, sf_dir):
    """Blocklist-fraction quality gate [public: UT1 blocklist filtering
    in RefinedWeb/FineWeb pipelines]: per-doc count and ratio of tokens
    on a blocklist, keep = ratio under threshold. Shares the corpus word
    tokenizer (_WORD_TOKS). All JVM array ops — map-only, no shuffle; at
    100 TB the real multi-thousand-term list would broadcast and the
    membership test would stay a hash probe inside codegen."""
    in_list = ", ".join(f"'{t}'" for t in BLOCK_TERMS)
    docs = (read_testdata(spark, sf_dir, "documents")
            .withColumn("ts", F.expr(_WORD_TOKS)))
    nb = F.expr(f"size(filter(ts, x -> x IN ({in_list})))")
    nt = F.greatest(F.size("ts"), F.lit(1))
    return docs.select(
        "doc_id",
        F.size("ts").cast("int").alias("n_tokens"),
        nb.cast("int").alias("n_blocked"),
        F.round(nb.cast("double") / nt, 4).alias("blocked_ratio"),
        (nb.cast("double") / nt < BLOCK_RATIO_MAX).alias("keep"))


@register("rewrite_drop_dup_substrings", sql=f"""
    -- The Lee et al. 2022 dedup REWRITE (dedup_substring_coverage only
    -- measures): remove every token covered by a corpus-duplicated
    -- {SUBSTR_K}-gram run and rebuild the document in TOKEN space
    -- (lowercased word tokens — the space the paper's suffix-array
    -- dedup operates in), md5-pinned. A gram at pos covers tokens
    -- [pos, pos+K); token t is covered iff a dup-gram starts in
    -- (t-K, t]. Docs shorter than one gram pass through whole.
    -- Occurrences first MERGE into disjoint intervals (runs closer
    -- than K fuse — the lag/gid trick): the per-token test then scans
    -- the merged list, so a fully-templated doc (n_occ ~ n_toks) costs
    -- O(n_toks * 1), not O(n_toks * n_occ) — the straggler the naive
    -- per-occurrence test creates at scale.
    WITH {_SUBSTR_CTES}, runs AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL
                    OR pos - lag(pos) OVER w > {SUBSTR_K}
                  THEN 1 ELSE 0 END AS is_start
      FROM occ WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), grp AS (
      SELECT doc_id, pos,
             sum(is_start) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
      FROM runs
    ), merged AS (
      SELECT doc_id, min(pos) AS s, max(pos) + {SUBSTR_K - 1} AS e
      FROM grp GROUP BY doc_id, gid
    ), ivs AS (
      SELECT doc_id, list_sort(list([s, e])) AS ivs
      FROM merged GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS INT) AS n_toks,
           CAST(len(kept) AS INT) AS n_kept,
           -- coalesce: DuckDB stringifies an EMPTY kept list to NULL
           -- where Spark's array_join gives '' (fully-covered docs)
           md5(coalesce(array_to_string(kept, ' '), '')) AS dedup_md5
    FROM (
      SELECT tok.doc_id, tok.toks,
             list_transform(
               list_filter(range(1, len(tok.toks) + 1),
                 t -> len(list_filter(coalesce(ivs.ivs, []),
                       iv -> iv[1] <= t AND t <= iv[2])) = 0),
               i -> tok.toks[i]) AS kept
      FROM tok LEFT JOIN ivs ON ivs.doc_id = tok.doc_id
    ) t
""")
def rewrite_drop_dup_substrings(spark, sf_dir):
    """Materialize the substring-level dedup (Lee et al. 2022): tokens
    covered by corpus-duplicated 8-gram runs are cut out, the rest
    rejoined in order. 100 TB shape: the dup-gram table is the same
    map-side-combined count agg as the coverage metric; occurrences
    merge into DISJOINT intervals first (lag/gid window), so the
    per-token test scans the merged list — a fully-templated doc costs
    O(n_toks), not O(n_toks * n_occ) — no pair join, no UDF."""
    from pyspark.sql.window import Window

    docs = (ensure_parallelism(read_testdata(spark, sf_dir, "documents"))
            .withColumn("text", F.expr(_SLOGAN_SPARK))
            .withColumn("toks", F.expr(_WORD_TOKS)))
    # Not checkpointed (r6): the dup-agg and join-back consumers run
    # their recomputed subtrees concurrently — same measured win as
    # dedup_substring_coverage above.
    grams = (docs.filter(F.size("toks") >= SUBSTR_K)
             .select("doc_id",
                     F.posexplode(F.expr(ngram_expr(SUBSTR_K)))
                     .alias("pos0", "gram"))
             # 1-based positions to mirror the oracle's range(1, ...)
             .select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram"))
    dup = (grams.groupBy("gram").agg(F.count("*").alias("n"))
           .filter(F.col("n") >= 2).select("gram"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (grams.join(dup, "gram")
            .withColumn("is_start", F.when(
                F.lag("pos").over(w).isNull()
                | (F.col("pos") - F.lag("pos").over(w) > SUBSTR_K),
                1).otherwise(0))
            .withColumn("gid", F.sum("is_start").over(w)))
    ivs = (runs.groupBy("doc_id", "gid")
           .agg(F.min("pos").alias("s"),
                (F.max("pos") + F.lit(SUBSTR_K - 1)).alias("e"))
           .groupBy("doc_id")
           .agg(F.array_sort(F.collect_list(F.array("s", "e")))
                .alias("ivs")))
    joined = (docs.select("doc_id", "toks")
              .join(ivs, "doc_id", "left")
              .withColumn("ivs", F.coalesce(
                  F.col("ivs"), F.expr("CAST(array() AS array<array<int>>)"))))
    # if-guard (ADVICE r5): sequence(1, 0) DESCENDS to [1, 0] for a
    # zero-token doc and element_at(toks, 0) throws — emit an empty
    # index list instead (matching the oracle's empty range(1, 1)).
    kept = F.expr(
        f"transform(filter(if(size(toks) > 0, sequence(1, size(toks)),"
        f" cast(array() as array<int>)),"
        f" t -> size(filter(ivs, iv -> iv[0] <= t AND t <= iv[1])) = 0),"
        f" i -> element_at(toks, i))")
    return joined.select(
        "doc_id",
        F.size("toks").cast("int").alias("n_toks"),
        F.size(kept).cast("int").alias("n_kept"),
        F.md5(F.array_join(kept, " ").cast("binary")).alias("dedup_md5"))
