"""Recall harnesses for the approximate structures (VERDICT r1 items 3/8):
MinHash-LSH candidate recall vs exact Jaccard, SimHash Hamming separation,
and pruned-ANN recall vs brute-force top-k.

Everything here is deterministic (fixed corpus, hash-derived structures),
so the pinned floors are regression guards, not flaky statistics. Measured
values at sf0.001 are noted next to each floor."""

from __future__ import annotations

import duckdb
import pytest

from crawspark.operators.dedup import (
    BANDS,
    N_HASHES,
    _candidates_from_bands,
    _resolve_candidates,
    _resolve_combined,
    lsh_band_table,
    simhash_signatures,
)
from pyspark.sql import functions as F

from crawspark.operators.similarity import ann_search_ivf, ann_search_lsh
from crawspark.registry import load_all
from crawspark.sources import read_testdata

SF = "/root/testdata/sf0.001"

_EXACT_PAIRS_SQL = """
WITH tok AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                             x -> x <> '') AS toks
  FROM read_parquet('{sf}/documents.parquet')
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
    i -> array_to_string(list_slice(toks, i, i + 2), ' ')))) AS shingle
  FROM tok WHERE len(toks) >= 3
), sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
overlap AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS nc
  FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT da, db, CAST(nc AS DOUBLE) / (sa.n_sh + sb.n_sh - nc) AS j
FROM overlap JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
WHERE CAST(nc AS DOUBLE) / (sa.n_sh + sb.n_sh - nc) >= {thresh}
"""


@pytest.fixture(scope="module")
def exact_pairs():
    con = duckdb.connect()
    rows = con.execute(
        _EXACT_PAIRS_SQL.format(sf=SF, thresh=0.8)).fetchall()
    con.close()
    assert len(rows) >= 10, "testdata should contain planted near-dups"
    return {(a, b): j for a, b, j in rows}


def test_lsh_resolve_banding_full_recall(spark, exact_pairs):
    # 16 bands x 2 rows: P(miss | j>=0.8) = (1-j^2)^16 <= 8e-8 — the
    # resolve pipeline's oracle equality depends on this being exactly 1.0.
    # Exercises the SAME capped-shingle candidate path resolve uses.
    combined = _resolve_combined(read_testdata(spark, SF, "documents"))
    cands = {(r.doc_a, r.doc_b) for r in
             _resolve_candidates(combined).collect()}
    missed = set(exact_pairs) - cands
    assert not missed, f"resolve banding missed true pairs: {missed}"


def test_lsh_default_banding_recall(spark, exact_pairs):
    # 4 bands x 4 rows (the candidate-stats config): measured recall 1.0 on
    # the planted j>=0.9 dupes; floor pinned at 0.9 to allow testdata
    # regeneration with slightly weaker dupes.
    docs = read_testdata(spark, SF, "documents")
    cands = {(r.doc_a, r.doc_b) for r in
             _candidates_from_bands(
                 lsh_band_table(docs, N_HASHES, BANDS)).collect()}
    recall = len(set(exact_pairs) & cands) / len(exact_pairs)
    assert recall >= 0.9, f"default banding recall {recall:.2f} < 0.9"


def test_simhash_hamming_separation(spark, exact_pairs):
    # Near-dups (j>=0.8) land within Hamming<=8 of each other (measured
    # max 6); unrelated docs average ~16/32 differing bits. Separation is
    # what makes simhash blocking meaningful.
    docs = read_testdata(spark, SF, "documents")
    sig = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    hams = [bin((sig[a] ^ sig[b]) & 0xFFFFFFFF).count("1")
            for a, b in exact_pairs if a in sig and b in sig]
    assert hams and max(hams) <= 8, f"near-dup hamming too large: {max(hams)}"
    ids = sorted(sig)[:80]
    far = [bin((sig[a] ^ sig[b]) & 0xFFFFFFFF).count("1")
           for i, a in enumerate(ids) for b in ids[i + 1:]
           if (a, b) not in exact_pairs]
    far_mean = sum(far) / len(far)
    assert far_mean >= 10, f"random-pair hamming mean {far_mean:.1f} — no separation"


@pytest.fixture(scope="module")
def brute_topk(spark):
    load_all()
    from crawspark.registry import REGISTRY
    rows = REGISTRY["ann_cosine_topk"].spark(spark, SF).collect()
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def _recall(df, brute) -> float:
    got: dict[int, set[int]] = {}
    for r in df.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(brute[q] & got.get(q, set())) for q in brute)
    return hits / sum(len(v) for v in brute.values())


def test_ann_ivf_recall(spark, brute_topk):
    # Trained-codebook measurements on the 5 oracle queries: 0.84 at
    # nprobe=2 (12% of corpus scanned), 0.72 at nprobe=1 (6%). Recall is
    # deterministic (fixed data + deterministic k-means), so the tight
    # nprobe=1 margin cannot flake; floors leave margin only for testdata
    # regeneration. See ann_search_ivf's docstring for why the trained
    # codebook does NOT beat the old stand-in on recall here (isotropic
    # corpus — its win is balanced cell occupancy).
    r2 = _recall(ann_search_ivf(spark, SF, [0, 1, 2, 3, 4], 5, nprobe=2),
                 brute_topk)
    assert r2 >= 0.8, f"IVF nprobe=2 recall {r2:.2f} < 0.8"
    r1 = _recall(ann_search_ivf(spark, SF, [0, 1, 2, 3, 4], 5, nprobe=1),
                 brute_topk)
    assert r1 >= 0.7, f"IVF nprobe=1 recall {r1:.2f} < 0.7"


def test_kmeans_codebook_balance_and_oracle_equality(spark):
    # The codebook's 100TB property: balanced occupancy (bounded probe
    # fanout). Pin max/min cell ratio <= 2 on sf0.001 (measured 43/25)
    # and exact cross-engine equality of the trained centroids vs the
    # DuckDB unrolled replay used in the ann_search_ivf oracle.
    import duckdb
    import numpy as np

    from crawspark.operators.similarity import (
        KMEANS_ITERS,
        _centroids,
        _kmeans_ctes,
        ivf_assign,
    )

    occ = {r["cell"]: r["n"] for r in
           ivf_assign(spark, SF).groupBy("cell")
           .agg(F.count("*").alias("n")).collect()}
    assert len(occ) == 16
    assert max(occ.values()) <= 2 * min(occ.values()), occ
    C = _centroids(spark, SF)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{SF}/embeddings.parquet')")
    rows = con.execute(f"WITH {_kmeans_ctes()} SELECT cid, cvec "
                       f"FROM cent{KMEANS_ITERS} ORDER BY cid").fetchall()
    con.close()
    D = np.array([r[1] for r in rows])
    # Bit-for-bit equality holds in practice (round-6 absorbs ~1e-15
    # accumulation noise) but is PROBABILISTIC across engines: a per-cell
    # sum landing within ~1ulp of a 5e-7 rounding boundary could flip one
    # assignment under a different partition layout (ADVICE r3). Assert a
    # tight tolerance rather than array_equal; if the ann_search_ivf
    # registry row ever flakes while this passes, that boundary tail is
    # the suspect — see the flake-triage comment on _kmeans_ctes.
    assert C.shape == D.shape
    assert np.max(np.abs(C - D)) <= 1e-6, (
        f"centroid replay drift {np.max(np.abs(C - D)):.2e}")


def test_ann_lsh_multiprobe_recall_curve(spark, brute_topk):
    # Hyperplane LSH on near-isotropic embeddings is the hard case: the
    # measured curve is 0.08 (radius 1) → 0.48 (radius 2) → 0.88
    # (radius 4). Pin monotonicity and a floor at the default radius.
    r = {rad: _recall(ann_search_lsh(spark, SF, [0, 1, 2, 3, 4], 5,
                                     radius=rad), brute_topk)
         for rad in (1, 2, 4)}
    assert r[1] <= r[2] + 1e-9 and r[2] <= r[4] + 1e-9, f"not monotonic: {r}"
    assert r[2] >= 0.4, f"multi-probe radius=2 recall {r[2]:.2f} < 0.4"
    assert r[4] >= 0.8, f"multi-probe radius=4 recall {r[4]:.2f} < 0.8"
