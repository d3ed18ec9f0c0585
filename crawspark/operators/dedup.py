"""Deduplication suite for a training-data pipeline: exact, n-gram Jaccard,
MinHash+LSH (candidates AND full resolve-to-keepers), SimHash. Everything
JVM-side (built-in array/hash functions) — no Python UDFs; at 100 TB dedup
is shuffle-dominated, so each variant keeps its shuffle keyed on a small
derived column (hash/band/bucket), never on raw text."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from crawspark.operators.partitioning import ensure_parallelism
from crawspark.registry import register
from crawspark.sources import local_frame, read_testdata

# Shared tokenization: must match the DuckDB oracle exactly.
_TOKS = "filter(split(lower(text), '[^a-z]+'), x -> x != '')"
# Shingles from a pre-computed `toks` column — embedding _TOKS directly
# re-evaluates the split+filter once per reference (no CSE across
# higher-order functions; measured 2x on the dedup queries). Construction
# shared with decontamination: functions/ngrams.py (zip_with over shifted
# slices; 6x over the transform+slice+concat_ws form).
from crawspark.functions.ngrams import ngram_expr

_SHINGLES_RAW = ngram_expr(3)
_SHINGLES = f"array_distinct({_SHINGLES_RAW})"

# Hot-shingle document-frequency cap: a shingle appearing in more than this
# many documents is boilerplate (cookie banners, nav text) and would create
# an O(df^2) posting-list blowup in the inverted-index self-join at scale.
# Mirrored verbatim in every oracle. (Max observed df at sf0.01 is 7, so
# the cap changes nothing on testdata — it is the 100 TB guard.)
DF_CAP = 256

def _ddb_tok_ctes(src: str = "documents") -> str:
    """The shingle pipeline CTEs (tok/sh_all/hot/sh) over ``src`` — ONE
    definition mirrored verbatim in every oracle (r5 review: the
    containment query had copied the bodies with only the relation
    changed)."""
    return f"""
    tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                         x -> x <> '') AS toks
      FROM {src}
    ), sh_all AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(toks) - 1),
               i -> array_to_string(list_slice(toks, i, i + 2), ' ')))) AS shingle
      FROM tok WHERE len(toks) >= 3
    ), hot AS (
      SELECT shingle FROM sh_all GROUP BY shingle HAVING count(*) > {DF_CAP}
    ), sh AS (
      SELECT doc_id, shingle FROM sh_all ANTI JOIN hot USING (shingle)
    )"""


_DDB_TOK_CTES = _ddb_tok_ctes()


@register("dedup_exact", sql="""
    SELECT md5(text) AS content_hash,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents GROUP BY content_hash
""")
def dedup_exact(spark, sf_dir):
    # Exact dedup: hash-groupBy on md5(text) — the shuffle key is 32 bytes
    # regardless of document size; min(doc_id) is the canonical keeper.
    return (read_testdata(spark, sf_dir, "documents")
            .groupBy(F.md5("text").alias("content_hash"))
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count("*").alias("n_copies")))


def capped_shingle_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, shs): each doc's DISTINCT post-cap shingle set as an
    ARRAY, computed map-side — the ONE post-cap shingle constructor every
    dedup query reads (pair joins explode it, signatures hash it). The
    hot set (df > DF_CAP) is aggregated once (the only exchange),
    collected into a single-row array (bounded: only boilerplate keys
    survive the cap), broadcast, and array_except'd from each doc's
    distinct shingle array — so the per-doc set/signature pipeline never
    shuffles by doc_id at all. Docs whose every shingle is hot drop.
    The base arrays are checkpointed: the hot aggregate and the except
    pass both consume them, and the tokenize+shingle HOFs are the
    dominant CPU."""
    base = (ensure_parallelism(docs)
            .withColumn("toks", F.expr(_TOKS))
            .filter(F.size("toks") >= 3)
            .withColumn("shs", F.expr(_SHINGLES))
            .select("doc_id", "shs")
            .localCheckpoint(eager=True))
    hot = (base.select(F.explode("shs").alias("shingle"))
           .groupBy("shingle").agg(F.count("*").alias("df"))
           .filter(F.col("df") > DF_CAP)
           .agg(F.collect_list("shingle").alias("hot")))  # 1 row
    return (base.crossJoin(F.broadcast(hot))
            .select("doc_id",
                    F.array_except("shs", F.coalesce(
                        "hot", F.expr("array()"))).alias("shs"))
            .filter(F.size("shs") > 0))


def _shared_shingle_pairs(arrays: DataFrame) -> DataFrame:
    """(doc_a < doc_b, n_sh_a, n_sh_b, n_common, jaccard) for every doc
    pair that shares a post-cap shingle: the inverted-index self-join over
    (doc_id, shs) arrays — the shuffle key is the shingle, so only docs
    sharing one ever meet, and DF_CAP bounds any posting list's pair
    fanout. Each posting row CARRIES its doc's set size, which rides in
    the group key (functionally dependent on the doc_id), so one
    aggregation emits n_common AND both sizes, and the exact post-cap
    Jaccard needs no join back to a sizes table. Eager localCheckpoint,
    not cache(): both join sides read the posting table, it materializes
    exactly once, and ContextCleaner reclaims the blocks when the
    DataFrame is unreferenced."""
    ex = (arrays.select("doc_id", F.size("shs").alias("n_sh"),
                        F.explode("shs").alias("shingle"))
          .localCheckpoint(eager=True))
    a = ex.alias("a")
    b = ex.alias("b")
    return (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.col("a.n_sh").alias("n_sh_a"),
                     F.col("b.n_sh").alias("n_sh_b"))
            .agg(F.count("*").alias("n_common"))
            .withColumn("jaccard", F.col("n_common").cast("double")
                        / (F.col("n_sh_a") + F.col("n_sh_b")
                           - F.col("n_common"))))


@register("dedup_ngram_jaccard", sql=f"""
    WITH {_DDB_TOK_CTES}, sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), overlap AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b,
           CAST(round(CAST(n_common AS DOUBLE)
                      / (sa.n_sh + sb.n_sh - n_common), 4) AS DOUBLE) AS jaccard
    FROM overlap
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.05
""")
def dedup_ngram_jaccard(spark, sf_dir):
    # Word-3-gram Jaccard near-dup over the FULL table: every pair the
    # inverted-index self-join meets, scored from the sizes it carries.
    overlap = _shared_shingle_pairs(
        capped_shingle_arrays(read_testdata(spark, sf_dir, "documents")))
    return (overlap
            .filter(F.col("jaccard") >= 0.05)
            .select("doc_a", "doc_b",
                    F.round("jaccard", 4).alias("jaccard")))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

N_HASHES = 16
BANDS = 4  # 4 rows per band (candidate-stats query)
# Resolve path uses a taller signature: 16 bands x 2 rows makes the miss
# probability for a jaccard>=0.8 pair (1 - 0.8^2)^16 ~ 8e-8 — recall is
# 1 - (1-j^2)^16 >= 1 - 8e-8: effectively exhaustive on any realistic
# corpus, but PROBABILISTIC, not certain (and somewhat higher miss odds
# for pairs barely above 0.8 with few shingles). If the exact-Jaccard
# DuckDB oracle ever reports one missing pair, suspect this tail first.
RESOLVE_N_HASHES = 32
RESOLVE_BANDS = 16


def minhash_signatures(df: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """doc_id → n_hashes minhash values, computed ARRAY-SIDE: the per-doc
    distinct shingle array is hashed once, and each minhash is array_min
    over re-hashes of those longs — all map-side codegen, so the
    signature pipeline has ZERO exchanges. min over the distinct set
    equals min over the raw multiset, so signatures equal a per-shingle
    row aggregation of the same xxhash64(h, i) chain (pinned by
    tests/test_r6_optimizations.py against a test-local reference)."""
    base = (ensure_parallelism(df)
            .withColumn("toks", F.expr(_TOKS))
            .filter(F.size("toks") >= 3)
            .withColumn("hs", F.expr(
                f"transform({_SHINGLES}, s -> xxhash64(s))"))
            .select("doc_id", "hs"))
    return _sig_cols_from_arrays(base, n_hashes)


def _sig_cols_from_arrays(base: DataFrame, n_hashes: int,
                          keep: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, hs: array<long>) → doc_id [, keep...] + mh0..mhN columns
    via array_min(transform(hs, h -> xxhash64(h, i))). Each shingle
    string is hashed ONCE (into hs); the hash functions re-hash that
    8-byte value — long hashing in codegen instead of n string hashes
    (ANSI-safe: no overflowing arithmetic)."""
    cols = [F.array_min(F.expr(f"transform(hs, h -> xxhash64(h, {i}))"))
            .alias(f"mh{i}") for i in range(n_hashes)]
    return base.select("doc_id", *keep, *cols)


def _band_table_from_sig(sig: DataFrame, n_hashes: int,
                         bands: int) -> DataFrame:
    """doc_id + mh0..mhN columns → (doc_id, band_id, band_hash): one row
    per (doc, band). Docs agreeing on any full band hash become
    candidate pairs — near-dup candidate generation shuffles only these
    small derived keys."""
    rows_per_band = n_hashes // bands
    # One pass: band hashes as columns, then a single stack() explode —
    # a per-band union would recompute the signature columns B times.
    band_cols = [F.xxhash64(*[F.col(f"mh{b * rows_per_band + r}")
                              for r in range(rows_per_band)]).alias(f"bh{b}")
                 for b in range(bands)]
    wide = sig.select("doc_id", *band_cols)
    stack_expr = "stack({}, {}) as (band_id, band_hash)".format(
        bands, ", ".join(f"{b}, bh{b}" for b in range(bands)))
    return wide.select("doc_id", F.expr(stack_expr))


def lsh_band_table(df: DataFrame, n_hashes: int = N_HASHES,
                   bands: int = BANDS) -> DataFrame:
    # Array-side signatures: the band table is map-only — the only
    # exchange in an LSH query is the band self-join itself.
    return _band_table_from_sig(minhash_signatures(df, n_hashes),
                                n_hashes, bands)


def _candidates_from_bands(exploded: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs from a band-table self-join."""
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
                   & (F.col("a.band_hash") == F.col("b.band_hash"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())


@register("dedup_minhash_lsh")  # rows-only (Spark-hash-specific banding)
def dedup_minhash_lsh(spark, sf_dir):
    # Per-band candidate-pair counts (richer than one global aggregate: a
    # banding bug that collapses or empties a band is visible per row).
    # Eager localCheckpoint: both sides of the candidate self-join read
    # the band table — without it the whole shingle+minhash pipeline runs
    # twice (and blocks are GC-reclaimed, unlike cache()).
    docs = read_testdata(spark, sf_dir, "documents")
    exploded = lsh_band_table(docs).localCheckpoint(eager=True)
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
                    & (F.col("a.band_hash") == F.col("b.band_hash"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.band_id").alias("band_id"),
                     F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b")))
    return (pairs.groupBy("band_id")
            .agg(F.count("*").alias("n_pairs"),
                 F.countDistinct("doc_a").alias("n_left_docs"))
            .orderBy("band_id"))


def _star_components(edges: DataFrame) -> tuple[DataFrame, int]:
    """Distributed connected components via alternating large-star /
    small-star (Kiveris et al., "Connected Components in MapReduce and
    Beyond") over a canonical (src>dst) deduped edge DataFrame.

    Each round:
    - large-star: every node u links its LARGER neighbors to
      m = min(neighborhood(u) ∪ {u})
    - small-star: every node u (edges oriented hi→lo, so its neighbors
      are all smaller) links its smaller neighbors AND itself to their
      minimum
    The fixpoint is one star per component centered at the component
    minimum, reached in O(log n) rounds even on deep chains — plain
    min-label propagation needs O(diameter) rounds
    (tests/test_components.py pins the round count on a 64-chain).
    Everything shuffles (long, long) pairs only. Returns (labels, rounds).
    """
    e = edges.localCheckpoint(eager=True)  # reused across phases
    rounds = 0
    while True:
        rounds += 1
        # large-star over the symmetric neighborhood
        sym = e.union(e.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
        mins = (sym.groupBy("src").agg(F.min("dst").alias("mn"))
                .select("src", F.least("src", "mn").alias("m")))
        large = (sym.join(mins, "src")
                 .filter(F.col("dst") > F.col("src"))
                 # emitted (v, m) has v > u >= m, so it is already in the
                 # canonical hi→lo orientation
                 .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
                 .distinct())
        # small-star: neighbors of u are all < u in canonical orientation
        mins2 = large.groupBy("src").agg(F.min("dst").alias("m"))
        small = large.join(mins2, "src")
        out = (small.select(F.col("dst").alias("src"),
                            F.col("m").alias("dst"))
               .union(small.select("src", F.col("m").alias("dst")))
               .filter(F.col("src") != F.col("dst"))
               .distinct()
               .localCheckpoint(eager=True))
        # fixpoint: the canonical edge set is unchanged by a full round
        changed = (out.join(e, ["src", "dst"], "left_anti").count()
                   + e.join(out, ["src", "dst"], "left_anti").count())
        e = out
        if changed == 0:
            break
    # Both star transforms preserve every node: a node with a smaller
    # neighbor is re-emitted from that neighbor's group, and a node that
    # is its neighborhood minimum is re-emitted as the dst of its own
    # group — so the final star covers exactly the input's node set.
    labels = (e.select(F.col("src").alias("node"),
                       F.col("dst").alias("label"))
              .union(e.select(F.col("dst").alias("node"),
                              F.col("dst").alias("label")))
              .groupBy("node").agg(F.min("label").alias("label")))
    return labels, rounds


def connected_components(edges: DataFrame,
                         max_driver_edges: int = 100_000) -> DataFrame:
    """Undirected connected components: (node, label=min reachable node).

    Hybrid strategy: verified near-dup edge sets are usually tiny relative
    to the corpus (single-digit-percent dup rates), so when the edge count
    is at most ``max_driver_edges`` a driver-side union-find answers in one
    collect — the iterative path costs 2-4 blocking Spark jobs that
    dominate small inputs. Above the threshold, the distributed
    large-star/small-star loop runs (_star_components): O(log n) rounds,
    (long, long)-pair shuffles only. At 10^12 docs the same loop runs with
    the edge table bucketed by src."""
    n_edges = edges.count()
    if n_edges <= max_driver_edges:
        pairs = edges.collect()
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for r in pairs:
            a, b = find(r[0]), find(r[1])
            if a != b:
                # union by min so the root IS the min label
                lo, hi = (a, b) if a < b else (b, a)
                parent[hi] = lo
        return local_frame(edges.sparkSession,
                           [(n, find(n)) for n in parent],
                           "node long, label long")
    canon = (edges.select(
        F.greatest("doc_a", "doc_b").alias("src"),
        F.least("doc_a", "doc_b").alias("dst"))
        .filter(F.col("src") != F.col("dst")).distinct())
    labels, _ = _star_components(canon)
    # Self-loop-only nodes are filtered out of the canonical edge set but
    # the driver union-find path labels them (node, node) — keep the two
    # paths' outputs identical regardless of which side of
    # max_driver_edges the input lands (r3 review finding).
    selfies = (edges.filter(F.col("doc_a") == F.col("doc_b"))
               .select(F.col("doc_a").alias("node")).distinct()
               .join(labels, "node", "left_anti")
               .withColumn("label", F.col("node")))
    return labels.unionByName(selfies)


@register("dedup_minhash_resolve", sql=f"""
    WITH RECURSIVE {_DDB_TOK_CTES}, sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), overlap AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    ), verified AS (
      SELECT doc_a, doc_b FROM overlap
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.8
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM verified
      UNION ALL SELECT doc_b, doc_a FROM verified
    ), reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, min(label) AS keep_id FROM reach GROUP BY node
""")
def dedup_minhash_resolve(spark, sf_dir):
    # End-to-end fuzzy dedup: LSH candidates → exact-Jaccard verify on the
    # candidate pairs ONLY → connected components → keeper assignment.
    # Candidates, verify, and the DuckDB oracle all work over the SAME
    # post-cap shingle universe (one _resolve_combined table carries the
    # minhash signatures AND the verify sets): with raw-shingle minhashes,
    # a pair whose similarity lives in its rare shingles but is diluted by
    # boilerplate (hot) shingles would slip past the banding even though
    # its post-cap jaccard is >= 0.8 (r2 review finding). With 16x2
    # banding the candidate set provably contains every capped-jaccard
    # >=0.8 pair (see RESOLVE_* constants), so the verified edge set —
    # and hence the components — equal the exact all-pairs oracle.
    combined = _resolve_combined(read_testdata(spark, sf_dir, "documents"))
    cands = _resolve_candidates(combined)
    # verified is consumed twice downstream (count + collect/propagate) —
    # materialize the tiny edge list so the verify join runs once.
    verified = (_verify_exact(cands, combined)
                .select("doc_a", "doc_b")
                .localCheckpoint(eager=True))
    comp = connected_components(verified)
    return comp.select(F.col("node").alias("doc_id"),
                       F.col("label").alias("keep_id"))


def _resolve_combined(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles, mh0..mh31): each doc's distinct post-cap
    shingle set AND its RESOLVE_N_HASHES minhashes, computed ARRAY-SIDE
    from capped_shingle_arrays, so signatures and verify sets come from
    the one set. Checkpointed once; feeds band generation AND the exact
    side (verify join or pair join). Shared by dedup_minhash_resolve,
    dedup_lsh_containment and dedup_incremental_minhash."""
    arrays = capped_shingle_arrays(docs)
    base = arrays.select(
        "doc_id", F.col("shs").alias("shingles"),
        F.expr("transform(shs, s -> xxhash64(s))").alias("hs"))
    return (_sig_cols_from_arrays(base, RESOLVE_N_HASHES,
                                  keep=("shingles",))
            .localCheckpoint(eager=True))


def _resolve_candidates(combined: DataFrame) -> DataFrame:
    """Resolve's LSH candidate pairs: the 16x2 band self-join over a
    _resolve_combined table."""
    return _candidates_from_bands(_band_table_from_sig(
        combined, RESOLVE_N_HASHES, RESOLVE_BANDS))


def _verify_exact(cands: DataFrame, combined: DataFrame) -> DataFrame:
    """Exact post-cap Jaccard on candidate pairs ONLY: join each side to
    its (small, post-cap) distinct-shingle array and intersect in-memory
    — the heavy inverted-index self-join never runs here. Returns
    (doc_a, doc_b, jaccard_raw) filtered to >= 0.8. when() guards the
    ANSI division: a candidate pair whose post-cap shingle sets are BOTH
    empty (all-boilerplate docs — possible once DF_CAP fires) has
    union=0 and is not a verifiable dup."""
    sets = combined.select("doc_id", "shingles")
    sa = sets.select(F.col("doc_id").alias("doc_a"),
                     F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"),
                     F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (cands.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("jaccard_raw", jac)
            .filter(F.col("jaccard_raw") >= 0.8))


@register("dedup_lsh_containment", sql=f"""
    WITH {_DDB_TOK_CTES}, sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), overlap AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    ), verified AS (
      SELECT doc_a, doc_b FROM overlap
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.8
    )
    -- The containment CLAIM rendered as data: every exact jaccard>=0.8
    -- pair is covered by the LSH candidate set, none uncovered. DuckDB
    -- computes the exact pair count independently; Spark must agree on it
    -- AND demonstrate zero uncovered pairs.
    SELECT count(*) AS n_exact_pairs,
           count(*) AS n_covered,
           CAST(0 AS BIGINT) AS n_uncovered
    FROM verified
""")
def dedup_lsh_containment(spark, sf_dir):
    # Driver-checkable LSH recall (VERDICT r3 "what's wrong" #3): compute
    # the EXACT jaccard>=0.8 pair set via the inverted-index join over the
    # post-cap shingle universe, then left-join it against resolve's own
    # 16x2-band LSH candidate set (same _resolve_combined table, same
    # _resolve_candidates) and count covered/uncovered. The DuckDB oracle
    # replays the exact side in SQL and pins n_uncovered = 0 — a banding
    # bug (or a recall regression) produces a nonzero uncovered count and
    # flips the driver hash. Probabilistic tail: a pair at jaccard==0.8
    # misses a 16x2 banding with p = (1 - 0.8^2)^16 ~ 8e-8 — if this row
    # EVER goes red with n_uncovered=1, suspect that tail before code
    # (same triage note as RESOLVE_* constants).
    combined = _resolve_combined(read_testdata(spark, sf_dir, "documents"))
    cands = _resolve_candidates(combined)
    exact = (_shared_shingle_pairs(
                 combined.select("doc_id", F.col("shingles").alias("shs")))
             .filter(F.col("jaccard") >= 0.8)
             .select("doc_a", "doc_b"))
    joined = exact.join(cands.withColumn("covered", F.lit(1)),
                        ["doc_a", "doc_b"], "left")
    return joined.agg(
        F.count("*").cast("long").alias("n_exact_pairs"),
        F.coalesce(F.sum("covered"), F.lit(0)).cast("long")
        .alias("n_covered"),
        F.coalesce(F.sum(F.when(F.col("covered").isNull(), 1)), F.lit(0))
        .cast("long").alias("n_uncovered"))


# Exact-substring dedup window length (tokens). 50 tokens in the
# published recipe ("Deduplicating Training Data Makes Language Models
# Better" — suffix-array exact substrings); 12 here so the testdata's
# scaffold-woven corpus actually produces shared windows to check.
SUBSTR_L = 12


def substr_windows(docs: DataFrame) -> DataFrame:
    """(doc_id, w): distinct SUBSTR_L-token window md5s per doc — the
    ONE window-table definition shared by dedup_exact_substring (pair
    join) and curate_corpus_v2's drop-list derivation (min-doc-per-
    window; needs no pair join)."""
    from crawspark.functions.ngrams import ngram_expr

    return (ensure_parallelism(docs)
            .withColumn("toks", F.expr(_TOKS))
            .filter(F.size("toks") >= SUBSTR_L)
            .withColumn(
                "w", F.explode(F.expr(
                    f"array_distinct(transform({ngram_expr(SUBSTR_L)}, "
                    f"g -> md5(g)))")))
            .select("doc_id", "w"))


@register("dedup_exact_substring", sql=f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                         x -> x <> '') AS toks
      FROM documents
    ), win AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(toks) - {SUBSTR_L - 2}),
               i -> md5(array_to_string(
                 list_slice(toks, i, i + {SUBSTR_L - 1}), ' '))))) AS w
      FROM tok WHERE len(toks) >= {SUBSTR_L}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared_windows
    FROM win a JOIN win b ON a.w = b.w AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
""")
def dedup_exact_substring(spark, sf_dir):
    # Exact-substring near-dup: doc pairs sharing >= 1 exact run of
    # SUBSTR_L consecutive tokens — the within-corpus twin of the 8-gram
    # benchmark decontamination, at the window length where shared
    # boilerplate passages (not whole-doc copies) surface. Shuffle is
    # keyed on the 32-byte window md5, never raw text; the inverted-index
    # self-join is the same shape as dedup_ngram_jaccard's, and at 100 TB
    # the same DF_CAP hot-list treatment applies to viral boilerplate
    # windows (testdata max window df is single digits, so the exact
    # registry row stays uncapped).
    wins = substr_windows(read_testdata(spark, sf_dir, "documents"))
    a = wins.alias("a")
    b = wins.alias("b")
    return (a.join(b, (F.col("a.w") == F.col("b.w"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").cast("long").alias("n_shared_windows")))


@register("dedup_simhash")  # rows-only check (Spark-hash-specific)
def dedup_simhash(spark, sf_dir):
    # 32-bit SimHash from token hashes, all JVM-side: per-bit sign sums
    # folded over each doc's token hashes, then Hamming-bucket grouping on
    # the fingerprint's top half (cheap blocking key). Emits the per-block
    # histogram (not one aggregate) so block-structure regressions show.
    sig = simhash_signatures(read_testdata(spark, sf_dir, "documents"))
    blocks = (sig.withColumn("block", F.shiftright(F.col("simhash"), 16))
              .groupBy("block").agg(F.count("*").alias("n_docs")))
    return (blocks.groupBy("n_docs").agg(F.count("*").alias("n_blocks"))
            .orderBy("n_docs"))


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id → 32-bit simhash (long): sign of per-bit weighted sums,
    computed ARRAY-SIDE per doc (each token hashed once, then one
    aggregate() fold per bit over the hash array) — map-only, no shuffle.
    Every token occurrence votes, repeats included. Docs with no tokens
    drop."""
    # The hash array is bound through a Generate barrier so the filter
    # cannot inline (and re-run) the tokenizer.
    base = (docs.select("doc_id", F.explode(F.array(F.expr(
                f"transform({_TOKS}, t -> xxhash64(t))"))).alias("hs"))
            .filter(F.size("hs") > 0))
    fp = F.lit(0).cast("long")
    for i in range(32):
        votes = F.expr(f"aggregate(hs, 0, (acc, h) -> acc + "
                       f"IF((shiftright(h, {i}) & 1) = 1, 1, -1))")
        fp = fp + F.when(votes > 0,
                         F.lit(2 ** i).cast("long")).otherwise(F.lit(0))
    return base.select("doc_id", fp.alias("simhash"))


@register("dedup_minhash_incremental", sql=f"""
    WITH {_DDB_TOK_CTES}, sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), overlap AS (
      -- exact NEW x OLD overlap (doc_id % 3 = 0 plays the new crawl
      -- increment; the rest is the existing lake)
      SELECT a.doc_id AS doc_new, b.doc_id AS doc_old, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0
      GROUP BY doc_new, doc_old
    ), dups AS (
      SELECT doc_new, doc_old FROM overlap
      JOIN sizes sa ON sa.doc_id = doc_new
      JOIN sizes sb ON sb.doc_id = doc_old
      WHERE CAST(n_common AS DOUBLE)
            / (sa.n_sh + sb.n_sh - n_common) >= 0.8
    )
    SELECT doc_new AS doc_id, CAST(count(*) AS INT) AS n_lake_matches,
           min(doc_old) AS first_match
    FROM dups GROUP BY doc_new
""")
def dedup_minhash_incremental(spark, sf_dir):
    # The PRODUCTION dedup shape: each crawl increment dedupes against
    # the already-committed lake, never against itself as a whole — at
    # 100 TB the increment is ~0.1% of the corpus, so restricting the
    # band join to NEW x OLD cuts candidate generation by ~10^6 vs the
    # full self-join (and the lake-side band table would be a
    # precomputed, incrementally-maintained index in production; here
    # it is rebuilt per run). Same post-cap shingle universe, 16x2
    # banding, and exact-Jaccard verify as dedup_minhash_resolve, so
    # the DuckDB all-pairs oracle is exact: the combined table is
    # dedup_minhash_resolve's own.
    combined = _resolve_combined(read_testdata(spark, sf_dir, "documents"))
    bands = _band_table_from_sig(combined, RESOLVE_N_HASHES,
                                 RESOLVE_BANDS)
    new_side = bands.filter(F.col("doc_id") % 3 == 0).alias("a")
    old_side = bands.filter(F.col("doc_id") % 3 != 0).alias("b")
    cands = (new_side.join(
                 old_side,
                 (F.col("a.band_id") == F.col("b.band_id"))
                 & (F.col("a.band_hash") == F.col("b.band_hash")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
             .distinct())
    # doc_a is the new doc, doc_b the lake doc it matches
    return (_verify_exact(cands, combined)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.count("*").cast("int").alias("n_lake_matches"),
                 F.min("doc_b").alias("first_match")))


@register("dedup_containment_pairs", sql=f"""
    -- Broder CONTAINMENT c(A in B) = |A ∩ B| / |A| — the asymmetric
    -- near-dup signal: a short quote wholly absorbed into a longer
    -- article has low symmetric Jaccard but containment ≈ 1. The
    -- corpus is word soup with no natural quote-expansion dups, so
    -- deterministic PLANTS keep the row non-vacuous at every SF (the
    -- decontamination-sentinel precedent): every 29th long doc gets a
    -- first-12-words excerpt under -doc_id - 1 (NEGATIVE ids cannot
    -- collide with any real doc_id at any corpus size), whose shingles
    -- are a strict subset of its source's. Emitted: ordered pairs with
    -- containment >= 0.8 that the symmetric resolve threshold (0.8)
    -- would MISS.
    WITH docs_aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT -doc_id - 1 AS doc_id,
             array_to_string(string_split(text, ' ')[1:12], ' ') AS text
      FROM documents
      WHERE doc_id % 29 = 0 AND len(string_split(text, ' ')) >= 40
    ), {_ddb_tok_ctes('docs_aug')}, sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), overlap AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id <> b.doc_id
      GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b,
           CAST(round(CAST(n_common AS DOUBLE) / sa.n_sh, 4) AS DOUBLE)
             AS containment,
           CAST(round(CAST(n_common AS DOUBLE)
                      / (sa.n_sh + sb.n_sh - n_common), 4) AS DOUBLE)
             AS jaccard
    FROM overlap
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / sa.n_sh >= 0.8
      AND CAST(n_common AS DOUBLE)
          / (sa.n_sh + sb.n_sh - n_common) < 0.8
""")
def dedup_containment_pairs(spark, sf_dir):
    # Same inverted-index pair generation as dedup_ngram_jaccard
    # (_shared_shingle_pairs: UNDIRECTED a < b, half the pair rows
    # through the dominant shuffle), then BOTH directed containments
    # emitted post-aggregation from each undirected row via explode.
    # The jaccard < 0.8 filter keeps only what the symmetric resolve
    # path misses.
    docs = read_testdata(spark, sf_dir, "documents")
    plants = (docs
              .filter((F.col("doc_id") % 29 == 0)
                      & (F.size(F.split("text", " ")) >= 40))
              .select((-F.col("doc_id") - 1).alias("doc_id"),
                      F.concat_ws(" ", F.slice(F.split("text", " "), 1, 12))
                      .alias("text")))
    aug = docs.select("doc_id", "text").unionByName(plants)
    overlap = _shared_shingle_pairs(capped_shingle_arrays(aug))
    pair = lambda da, db, n_sh: F.struct(  # noqa: E731
        F.col(da).alias("doc_a"), F.col(db).alias("doc_b"),
        (F.col("n_common").cast("double") / F.col(n_sh))
        .alias("containment"), F.col("jaccard"))
    return (overlap
            .select(F.explode(F.array(pair("doc_a", "doc_b", "n_sh_a"),
                                      pair("doc_b", "doc_a", "n_sh_b")))
                    .alias("p"))
            .select("p.*")
            .filter((F.col("containment") >= 0.8)
                    & (F.col("jaccard") < 0.8))
            .select("doc_a", "doc_b",
                    F.round("containment", 4).alias("containment"),
                    F.round("jaccard", 4).alias("jaccard")))


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the
# MOSS algorithm): POSITION-AWARE text-reuse detection. MinHash/Jaccard
# treats a document as a shingle SET; winnowing selects the minimum k-gram
# hash in every sliding window of w consecutive k-grams (ties -> rightmost),
# which guarantees that ANY shared run of at least t = w + k - 1 words
# produces at least one shared fingerprint — the property that catches a
# paragraph lifted into an otherwise-unrelated document, where whole-set
# Jaccard stays near zero. Expected fingerprint density is 2/(w+1) of the
# k-grams (paper §4), so the downstream join is ~1/3 the gram volume.
#
# Selection is expressed as a pure window predicate shared verbatim by the
# Spark plan and the DuckDB oracle: position j is chosen by SOME window iff
# for some split a in [0, w-1], the a hashes immediately left are all >= h_j
# and the (w-1-a) hashes immediately right are all > h_j (">= left, > right"
# IS the rightmost-min rule). lag/lead past the document edge is NULL, so a
# disjunct whose window would overhang the document evaluates NULL — exactly
# the paper's "full windows only".
#
# 100 TB: one shuffle on doc_id for the window pass (the extraction layout
# is already doc-partitioned), then the pair join keyed on a 16-hex-char
# fingerprint with a document-frequency cap (boilerplate fingerprints would
# otherwise be an O(df^2) posting blowup — same guard as DF_CAP above).
# ---------------------------------------------------------------------------

WINNOW_K = 4    # words per k-gram
WINNOW_W = 5    # k-grams per window -> guarantee threshold t = 8 words
WINNOW_DOC_CAP = 64  # fingerprints in more docs than this are boilerplate

_WINNOW_OVER = "OVER (PARTITION BY doc_id ORDER BY pos)"


def _winnow_selected_pred() -> str:
    """Rightmost-min-per-window selection as one OR of lag/lead conjunctions
    (w disjuncts, each <= w-1 comparisons) — identical text on both engines."""
    disjuncts = []
    for a in range(WINNOW_W):
        conj = [f"lag(h, {i}) {_WINNOW_OVER} >= h" for i in range(1, a + 1)]
        conj += [f"lead(h, {i}) {_WINNOW_OVER} > h"
                 for i in range(1, WINNOW_W - a)]
        disjuncts.append("(" + " AND ".join(conj) + ")")
    return " OR ".join(disjuncts)


# Planted reuse: WINNOW_PLANT_WORDS-word excerpt docs under negative
# doc_ids — the same idiom as dedup_containment_pairs. 16 words = 13
# k-grams = 9 full windows; a selected position serves at most w windows,
# so the excerpt carries at least ceil(9/5) = 2 selected POSITIONS. Two
# positions collapse to one DISTINCT fingerprint only when the excerpt
# repeats a 4-gram (and all its shared fingerprints survive the df cap);
# tests/test_winnowing.py therefore computes each plant's expected
# distinct-fingerprint count with the textbook reference rather than
# assuming 2, and asserts the resolve edge only where the count clears
# WINNOW_MIN_SHARED. Every fingerprint of the excerpt doc is guaranteed
# selected in the source too (the excerpt's full windows exist verbatim
# inside the source), so n_shared == |fp(excerpt)| up to the cap.
WINNOW_PLANT_WORDS = 16
WINNOW_MIN_SHARED = 2   # resolve: edges need >= 2 shared fingerprints

_WINNOW_GRAMS = ngram_expr(WINNOW_K)

# DuckDB CTE chain docs_aug -> fp, shared by every winnowing query: the
# caller supplies a `docs_aug(doc_id, text)` CTE, this chain tokenizes,
# forms k-grams with positions, hashes, applies the selection predicate
# and emits the DISTINCT (doc_id, h) fingerprint table.
_WINNOW_FP_CTES = f"""tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                         x -> x <> '') AS toks
      FROM docs_aug
    ), gl AS (
      SELECT doc_id,
             list_transform(range(1, len(toks) - {WINNOW_K - 2}),
               i -> array_to_string(list_slice(toks, i, i + {WINNOW_K - 1}),
                                    ' ')) AS grams
      FROM tok WHERE len(toks) >= {WINNOW_K}
    ), g0 AS (
      SELECT doc_id, unnest(range(1, len(grams) + 1)) AS pos,
             unnest(grams) AS gram
      FROM gl
    ), g AS (
      SELECT doc_id, pos, substring(md5(gram), 1, 16) AS h FROM g0
    ), sel AS (
      SELECT doc_id, h, ({_winnow_selected_pred()}) AS selected FROM g
    ), fp AS (
      SELECT DISTINCT doc_id, h FROM sel WHERE selected
    )"""

# Plant CTE + corpus-frequency cap, shared by the pair and resolve queries.
_WINNOW_PLANT_CTE = f"""docs_aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT -doc_id - 1 AS doc_id,
             array_to_string(string_split(text, ' ')[1:{WINNOW_PLANT_WORDS}],
                             ' ') AS text
      FROM documents
      WHERE doc_id % 29 = 0 AND len(string_split(text, ' ')) >= 40
    )"""

_WINNOW_CAP_CTES = f"""hot AS (
      SELECT h FROM fp GROUP BY h HAVING count(*) > {WINNOW_DOC_CAP}
    ), fpc AS (
      SELECT doc_id, h FROM fp ANTI JOIN hot USING (h)
    )"""


def _winnow_array_pred(j: str = "j") -> str:
    """The rightmost-min selection rule over a bound hash-array attribute
    `hs` at 0-based position ``j`` — the array-side twin of
    _winnow_selected_pred's lag/lead form. For split a, the a hashes
    left must all be >= hs[j] and the (w-1-a) right must all be > hs[j];
    the range guards ARE the paper's "full windows only" (the window
    form got them for free from lag/lead NULLs). IF() guards the empty
    sequence: sequence(1, 0) DESCENDS in Spark."""
    left = (f"IF(a = 0, true, size(filter(sequence(1, a), i -> NOT "
            f"(element_at(hs, {j} - i + 1) >= element_at(hs, {j} + 1))"
            f")) = 0)")
    right = (f"IF(a = {WINNOW_W - 1}, true, "
             f"size(filter(sequence(1, {WINNOW_W - 1} - a), i -> NOT "
             f"(element_at(hs, {j} + i + 1) > element_at(hs, {j} + 1))"
             f")) = 0)")
    return (f"exists(sequence(0, {WINNOW_W - 1}), a -> "
            f"{j} - a >= 0 AND {j} + {WINNOW_W - 1} - a <= size(hs) - 1 "
            f"AND {left} AND {right})")


def _winnow_fp(aug):
    """Spark mirror of _WINNOW_FP_CTES: DISTINCT (doc_id, h) winnowing
    fingerprints of an augmented (doc_id, text) frame. r6: selection is
    computed ARRAY-SIDE per document (the gram-hash array is bound once
    through a Generate barrier — a plain alias would re-inline the
    md5 transform at every element_at site), so the whole fingerprint
    pass is map-only: the r5 shape posexploded every gram row and ran a
    lag/lead Window over (doc_id, pos) — one full gram-table exchange +
    sort — then a distinct (another exchange; per-doc array_distinct is
    equivalent because doc_id is part of the key). Equivalence with the
    window form is pinned by tests/test_winnowing.py's textbook
    reference."""
    sel = (f"array_distinct(transform("
           f"  filter(sequence(0, size(hs) - 1),"
           f"         j -> {_winnow_array_pred('j')}),"
           f"  j -> element_at(hs, j + 1)))")
    return (ensure_parallelism(aug)
            .selectExpr("doc_id", f"{_TOKS} AS toks")
            .filter(F.expr(f"size(toks) >= {WINNOW_K}"))
            .select("doc_id", F.explode(F.array(F.expr(
                f"transform({_WINNOW_GRAMS},"
                f" g -> substring(md5(g), 1, 16))"))).alias("hs"))
            .select("doc_id", F.explode(F.expr(sel)).alias("h")))


def _winnow_pairs(fpc):
    """(doc_a < doc_b, n_shared) candidate pairs from a capped
    fingerprint table — the one pair-join definition both registered
    winnowing queries (and their shared SQL fragment) rely on."""
    a = fpc.alias("a")
    b = fpc.alias("b")
    return (a.join(b, (F.col("a.h") == F.col("b.h"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("n_shared")))


def _winnow_fpc(spark, sf_dir):
    """Planted-excerpt corpus -> capped fingerprint table. The fingerprint
    table feeds multiple join sides downstream — localCheckpoint runs the
    window pass ONCE instead of re-deriving it per side (same idiom as the
    minhash signature table above)."""
    docs = read_testdata(spark, sf_dir, "documents")
    plants = (docs
              .filter((F.col("doc_id") % 29 == 0)
                      & (F.size(F.split("text", " ")) >= 40))
              .select((-F.col("doc_id") - 1).alias("doc_id"),
                      F.concat_ws(" ", F.slice(F.split("text", " "), 1,
                                               WINNOW_PLANT_WORDS))
                      .alias("text")))
    aug = docs.select("doc_id", "text").unionByName(plants)
    fp = _winnow_fp(aug).localCheckpoint(eager=True)
    hot = (fp.groupBy("h").agg(F.count("*").alias("df"))
           .filter(F.col("df") > WINNOW_DOC_CAP).select("h"))
    return fp.join(F.broadcast(hot), "h", "left_anti")


@register("dedup_winnowing", sql=f"""
    WITH {_WINNOW_PLANT_CTE}, {_WINNOW_FP_CTES}, {_WINNOW_CAP_CTES}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS INT) AS n_shared
    FROM fpc a JOIN fpc b USING (h)
    WHERE a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
""")
def dedup_winnowing(spark, sf_dir):
    return (_winnow_pairs(_winnow_fpc(spark, sf_dir))
            .select("doc_a", "doc_b",
                    F.col("n_shared").cast("int").alias("n_shared")))


@register("dedup_winnowing_resolve", sql=f"""
    WITH RECURSIVE {_WINNOW_PLANT_CTE}, {_WINNOW_FP_CTES},
    {_WINNOW_CAP_CTES}, pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM fpc a JOIN fpc b USING (h)
      WHERE a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      WHERE n_shared >= {WINNOW_MIN_SHARED}
      UNION ALL
      SELECT doc_b, doc_a FROM pairs WHERE n_shared >= {WINNOW_MIN_SHARED}
    ), reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, min(label) AS keep_id FROM reach GROUP BY node
""")
def dedup_winnowing_resolve(spark, sf_dir):
    # Position-aware fuzzy dedup end to end: winnowing fingerprint pairs
    # with >= WINNOW_MIN_SHARED shared fingerprints become edges, connected
    # components assign every touched doc its min-id keeper — the same
    # resolve shape as dedup_minhash_resolve, but the edge relation is the
    # SIGMOD-2003 shared-run guarantee instead of whole-set Jaccard, so a
    # family of documents quoting one source collapses even when pairwise
    # Jaccard never crosses a set-similarity bar. 100 TB: the pair join is
    # capped-df fingerprint keyed; components run the hybrid union-find /
    # large-star-small-star path (edge volumes are tiny vs the corpus).
    edges = (_winnow_pairs(_winnow_fpc(spark, sf_dir))
             .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
             .select("doc_a", "doc_b")
             .localCheckpoint(eager=True))
    comp = connected_components(edges)
    return comp.select(F.col("node").alias("doc_id"),
                       F.col("label").alias("keep_id"))


@register("site_template_fingerprints", sql=f"""
    WITH docs_aug AS (
      -- every doc of a source carries that source's footer (the planted
      -- site template — 8 words >= t, so at least one fingerprint of the
      -- footer run is selected in EVERY doc of the source)
      SELECT doc_id,
             text || ' visit ' || source || ' archive subscribe ' ||
             source || ' daily digest newsletter' AS text
      FROM documents
    ), {_WINNOW_FP_CTES}, src_fp AS (
      SELECT d.source, f.h, count(*) AS n_with
      FROM fp f JOIN documents d USING (doc_id)
      GROUP BY d.source, f.h
    ), src_n AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    )
    SELECT s.source, CAST(any_value(n.n_docs) AS INT) AS n_docs,
           CAST(count(*) AS INT) AS n_template_fps,
           min(s.h) AS sample_fp
    FROM src_fp s JOIN src_n n USING (source)
    WHERE n.n_docs >= 5 AND 2 * s.n_with >= n.n_docs
    GROUP BY s.source
""")
def site_template_fingerprints(spark, sf_dir):
    # Site-level boilerplate DISCOVERY: a fingerprint present in >= half a
    # host's documents is that host's template (nav bars, footers, subscribe
    # blocks) — the cross-document complement of the per-document DOM
    # heuristics, and the reason the corpus-wide pair joins need a df cap at
    # all. No cap here: template fingerprints ARE the hot ones; the plan is
    # two aggregations (per-(source,h) df, per-source doc count) and never
    # a pair join, so hotness is harmless. The corpus plants a deterministic
    # per-source footer so the row is non-vacuous at every SF.
    docs = read_testdata(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" visit "), F.col("source"),
                 F.lit(" archive subscribe "), F.col("source"),
                 F.lit(" daily digest newsletter")).alias("text"))
    fp = _winnow_fp(aug)
    src_fp = (fp.join(docs.select("doc_id", "source"), "doc_id")
              .groupBy("source", "h").agg(F.count("*").alias("n_with")))
    src_n = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    return (src_fp.join(F.broadcast(src_n), "source")
            .filter((F.col("n_docs") >= 5)
                    & (2 * F.col("n_with") >= F.col("n_docs")))
            .groupBy("source")
            .agg(F.any_value("n_docs").cast("int").alias("n_docs"),
                 F.count("*").cast("int").alias("n_template_fps"),
                 F.min("h").alias("sample_fp")))


# ---------------------------------------------------------------------------
# Incremental dedup: the production shape. A daily crawl increment (here:
# doc_id % 10 == 0, ~10% of the corpus) must be deduplicated against the
# EXISTING corpus without ever re-running the corpus x corpus pair join.
# The persisted artifact a real pipeline keeps between runs is the band
# table (doc_id, band_id, band_hash) — the increment's bands join against
# that index (new x old) plus a small self-join (new x new); the old x old
# quadrant, which dominates the naive join as the corpus outgrows the
# increment, is never formed. Same 16x2 banding as dedup_minhash_resolve
# — the candidate set contains every capped-jaccard >= 0.8 pair touching
# the increment up to the documented ~8e-8 per-pair band-miss odds (see
# the RESOLVE_* constants comment: PROBABILISTIC, not certain), so the
# exact-verify output equals the all-pairs oracle restricted to new-side
# pairs; a one-row parity mismatch here means that tail fired.
# ---------------------------------------------------------------------------

@register("dedup_incremental_minhash", sql=f"""
    WITH {_DDB_TOK_CTES}, sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), overlap AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    ), verified AS (
      SELECT doc_a, doc_b,
             CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS j
      FROM overlap
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    )
    SELECT doc_a, doc_b, round(j, 4) AS jaccard,
           CASE WHEN doc_a % 10 = 0 AND doc_b % 10 = 0
                THEN 'new_new' ELSE 'new_old' END AS pair_type
    FROM verified
    WHERE j >= 0.8 AND (doc_a % 10 = 0 OR doc_b % 10 = 0)
""")
def dedup_incremental_minhash(spark, sf_dir):
    combined = _resolve_combined(read_testdata(spark, sf_dir, "documents"))
    bt = _band_table_from_sig(combined, RESOLVE_N_HASHES, RESOLVE_BANDS)
    is_new = F.col("doc_id") % 10 == 0
    newb = bt.filter(is_new)
    oldb = bt.filter(~is_new)
    # new x old: the increment probes the persisted index. Band equality
    # only — doc order is normalized after the join (a new doc can be on
    # either side of the < relation).
    n = newb.alias("n")
    o = oldb.alias("o")
    no = (n.join(o, (F.col("n.band_id") == F.col("o.band_id"))
                 & (F.col("n.band_hash") == F.col("o.band_hash")))
          .select(F.least("n.doc_id", "o.doc_id").alias("doc_a"),
                  F.greatest("n.doc_id", "o.doc_id").alias("doc_b")))
    # new x new: the increment's own self-join (small side squared).
    nn = _candidates_from_bands(newb)
    cands = no.unionByName(nn).distinct()
    return (_verify_exact(cands, combined)
            .select("doc_a", "doc_b",
                    F.round("jaccard_raw", 4).alias("jaccard"),
                    F.when((F.col("doc_a") % 10 == 0)
                           & (F.col("doc_b") % 10 == 0), "new_new")
                    .otherwise("new_old").alias("pair_type")))
