"""Model-based corpus filtering (lmquality.py): independent
pure-Python replays of each algorithm's definition, compared against
the Spark plans on real testdata docs. The DuckDB twins pin
Spark==SQL; these pin both against the published formulas
(CCNet / DSIR / GPT packing) computed a third way.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import pytest

SF = "/root/testdata/sf0.001"


def _docs():
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, lang, source, text FROM "
        f"read_parquet('{SF}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    con.close()
    return rows


@pytest.fixture(scope="module")
def docs():
    return _docs()


def test_lm_perplexity_matches_formula(spark, docs):
    from crawspark.operators.lmquality import (
        _LM_K,
        _TARGET_SRC,
        quality_lm_perplexity,
    )

    # pure-Python bigram LM over the target slice
    c12: Counter = Counter()
    vocab = set()
    for _, _, source, text in docs:
        if source != _TARGET_SRC:
            continue
        ts = text.split(" ")
        vocab.update(ts)
        c12.update(zip(ts, ts[1:]))
    c1: Counter = Counter()
    for (w1, _), c in c12.items():
        c1[w1] += c
    v = len(vocab)

    def score(text):
        ts = text.split(" ")
        nls = [-math.log((c12.get((a, b), 0) + _LM_K)
                         / (c1.get(a, 0) + _LM_K * v))
               for a, b in zip(ts, ts[1:])]
        return len(nls), round(sum(nls) / len(nls), 4)

    got = {r["doc_id"]: (r["n_bigrams"], r["avg_neg_logp"])
           for r in quality_lm_perplexity(spark, SF).collect()}
    assert len(got) == len(docs)
    for doc_id, _, _, text in docs[:40]:
        n, s = score(text)
        assert got[doc_id][0] == n
        assert got[doc_id][1] == pytest.approx(s, abs=2e-4), doc_id


def test_boilerplate_lines_matches_replay(spark, docs):
    import math

    from crawspark.operators.lmquality import (
        _BOILER_FREQ_MULT,
        _BOILER_MIN_DOCS,
        _LINE_W,
        boilerplate_corpus_lines,
    )

    per_doc: dict[int, list[str]] = {}
    line_docs: dict[str, set] = {}
    for doc_id, _, _, text in docs:
        ts = text.split(" ")
        lines = [" ".join(ts[j * _LINE_W:(j + 1) * _LINE_W])
                 for j in range(len(ts) // _LINE_W)]
        per_doc[doc_id] = lines
        for ln in lines:
            line_docs.setdefault(ln, set()).add(doc_id)
    mean_ndocs = (sum(len(ds) for ds in line_docs.values())
                  / len(line_docs))
    threshold = max(_BOILER_MIN_DOCS,
                    math.ceil(_BOILER_FREQ_MULT * mean_ndocs))
    boiler = {ln for ln, ds in line_docs.items()
              if len(ds) >= threshold}

    got = {r["doc_id"]: r for r in
           boilerplate_corpus_lines(spark, SF).collect()}
    assert len(got) == len(per_doc)
    n_flagged = 0
    for doc_id, lines in per_doc.items():
        nb = sum(1 for ln in lines if ln in boiler)
        assert got[doc_id]["n_lines"] == len(lines)
        assert got[doc_id]["n_boiler_lines"] == nb, doc_id
        n_flagged += nb > 0
    # the frequency gate must be non-degenerate at this SF
    assert 0 < n_flagged < len(per_doc)


def test_dsir_weights_match_formula(spark, docs):
    from crawspark.operators.lmquality import (
        _DSIR_B,
        _TARGET_SRC,
        dsir_importance_weights,
    )

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % _DSIR_B

    raw: Counter = Counter()
    tgt: Counter = Counter()
    for _, _, source, text in docs:
        for t in text.split(" "):
            b = bucket(t)
            raw[b] += 1
            if source == _TARGET_SRC:
                tgt[b] += 1
    n_raw, n_tgt = sum(raw.values()), sum(tgt.values())
    logw = {b: math.log((tgt.get(b, 0) + 1.0) / (n_tgt + _DSIR_B))
            - math.log((c + 1.0) / (n_raw + _DSIR_B))
            for b, c in raw.items()}

    got = {r["doc_id"]: r for r in
           dsir_importance_weights(spark, SF).collect()}
    for doc_id, _, source, text in docs[:40]:
        toks = text.split(" ")
        expect = round(sum(logw[bucket(t)] for t in toks), 4)
        assert got[doc_id]["n_tokens"] == len(toks)
        assert got[doc_id]["log_weight"] == pytest.approx(
            expect, abs=2e-3), doc_id
    # target-slice docs must importance-weigh above the corpus median
    # PER TOKEN (the summed weight is length-dominated — longer docs
    # are always more negative, so normalize before comparing domains)
    per_tok = {d: r["log_weight"] / r["n_tokens"] for d, r in got.items()}
    weights = sorted(per_tok.values())
    median = weights[len(weights) // 2]
    tgt_ws = [per_tok[d] for d, _, s, _ in docs if s == _TARGET_SRC]
    assert sum(w > median for w in tgt_ws) > len(tgt_ws) / 2


def test_packing_is_contiguous_and_complete(spark, docs):
    from crawspark.operators.lmquality import (
        _CTX,
        _PACK_SHARDS,
        pack_training_sequences,
    )

    rows = pack_training_sequences(spark, SF).collect()
    assert len(rows) == len(docs)
    streams: dict[tuple, list] = {}
    for r in rows:
        assert r["shard"] == r["doc_id"] % _PACK_SHARDS
        streams.setdefault((r["lang"], r["shard"]), []).append(r)
    for key, rs in streams.items():
        rs.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in rs:
            # spans derive from the running concatenation offset
            assert r["start_seq"] == cum // _CTX, key
            cum += r["n_tokens"]
            assert r["end_seq"] == (cum - 1) // _CTX
            assert r["n_seqs"] == r["end_seq"] - r["start_seq"] + 1
            # n contiguous tokens touch at most ceil(n/CTX) + 1 windows
            # (the +1 is the straddle when the doc starts mid-window)
            assert 1 <= r["n_seqs"] <= (r["n_tokens"] + _CTX - 1) // _CTX + 1
    # some docs must straddle a context boundary at this SF
    assert any(r["n_seqs"] > 1 for r in rows)


def _bpe_reference(word_counts, steps):
    # Sennrich et al. (2016) algorithm 1, greedy left-to-right merge
    from collections import Counter

    syms = {w: list(w) for w in word_counts}
    merges = []
    for step in range(1, steps + 1):
        pc: Counter = Counter()
        for w, c in word_counts.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += c
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, a, b, a + b, c))
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges, syms


def test_bpe_merges_match_reference(spark, docs):
    from collections import Counter

    from crawspark.operators.lmquality import _BPE_STEPS, bpe_train_merges

    wc: Counter = Counter()
    for _, _, _, text in docs:
        wc.update(text.split(" "))
    expect, _ = _bpe_reference(wc, _BPE_STEPS)
    got = [(r["step"], r["w1"], r["w2"], r["merged"], r["pair_count"])
           for r in bpe_train_merges(spark, SF)
           .orderBy("step").collect()]
    assert got == expect
    # the trained table must exercise merge-of-merge (a step whose w1
    # or w2 is itself a multi-char merged symbol) or the chain is
    # degenerate
    assert any(len(w1) > 1 or len(w2) > 1 for _, w1, w2, _, _ in got)


def test_bpe_wrapped_replace_handles_consecutive_merges():
    # The delimiter hand vector behind the syms encoding: each symbol
    # wrapped as ' s ' so replacing ' a  a ' -> ' aa ' merges BOTH
    # pairs of "a a a a" (a singly-delimited form shares the middle
    # space and merges only the first — the classic BPE-via-replace
    # bug). Greedy left-to-right on "a a a" merges once.
    wrap = lambda s: "".join(f" {c} " for c in s)  # noqa: E731
    four = wrap("aaaa").replace(" a  a ", " aa ")
    assert four == " aa  aa "
    three = wrap("aaa").replace(" a  a ", " aa ")
    assert three == " aa  a "


def test_bpe_segment_stats_compress(spark, docs):
    from crawspark.operators.lmquality import bpe_segment_stats

    rows = bpe_segment_stats(spark, SF).collect()
    langs = {r["lang"] for r in rows}
    assert langs == {d[1] for d in docs}
    for r in rows:
        # merges only ever shrink the symbol count, never below 1/word
        assert r["n_words"] <= r["n_bpe_tokens"] <= r["n_chars"]
        assert r["chars_per_token"] > 1.0  # the merges must compress


def test_ccnet_buckets_are_balanced_terciles(spark, docs):
    from crawspark.operators.lmquality import ccnet_ppl_buckets

    rows = ccnet_ppl_buckets(spark, SF).collect()
    per_lang: dict[str, dict[str, object]] = {}
    for r in rows:
        per_lang.setdefault(r["lang"], {})[r["bucket"]] = r
    n_docs_by_lang = Counter(d[1] for d in docs)
    for lang, buckets in per_lang.items():
        assert set(buckets) == {"head", "middle", "tail"}
        # ntile balance: bucket sizes differ by at most 1 and sum to
        # the language's doc count
        sizes = [buckets[b]["n_docs"] for b in ("head", "middle", "tail")]
        assert sum(sizes) == n_docs_by_lang[lang]
        assert max(sizes) - min(sizes) <= 1
        # head is the LOW-perplexity (in-domain) end, tail the high end
        assert buckets["head"]["max_nl"] <= buckets["middle"]["min_nl"]
        assert buckets["middle"]["max_nl"] <= buckets["tail"]["min_nl"]


def test_curate_v3_composes_v2_with_model_gates(spark):
    from crawspark.operators.curate import (
        BOILER_KEEP_MIN,
        curate_corpus_v2,
        curate_corpus_v3,
    )

    v2 = {r["doc_id"] for r in
          curate_corpus_v2(spark, SF).select("doc_id").collect()}
    v3_rows = curate_corpus_v3(spark, SF).collect()
    v3 = {r["doc_id"] for r in v3_rows}
    # strict composition: v3 only ever removes
    assert v3 <= v2
    assert 0 < len(v3) < len(v2)
    # the model gates actually hold on the output
    assert all(r["bucket"] in ("head", "middle") for r in v3_rows)
    # both new gates contribute INDEPENDENTLY (r5 review: an or-ed
    # disjunct made this vacuous): some v2 survivor was dropped for
    # being tail-bucket, and some for failing the boilerplate ratio
    from crawspark.operators.lmquality import (
        boilerplate_corpus_lines,
        ppl_buckets,
    )
    kept_ratio = {r["doc_id"]: r["kept_ratio"] for r in
                  boilerplate_corpus_lines(spark, SF).collect()}
    bucket = {r["doc_id"]: r["bucket"] for r in
              ppl_buckets(spark, SF).collect()}
    dropped = v2 - v3
    assert any(bucket[d] == "tail" for d in dropped)
    assert any(kept_ratio[d] < BOILER_KEEP_MIN for d in dropped)


def test_gopher_gates_each_rule_fires(spark):
    # every Gopher rule must discriminate on the synthetic corpus (the
    # r5 degeneracy check: the original stop list dropped ALL docs)
    from crawspark.operators.textops import quality_gopher_gates

    rows = quality_gopher_gates(spark, SF).collect()
    keeps = {r["keep"] for r in rows}
    assert keeps == {0, 1}
    assert any(r["n_words"] < 50 for r in rows)
    assert any(r["symbol_ratio"] >= 0.1 for r in rows)
    assert any(r["ellipsis_line_frac"] > 0.3 for r in rows)
    assert any(r["n_stop_distinct"] < 2 for r in rows)
    assert any(r["n_stop_distinct"] >= 2 for r in rows)
    # invariants of the synthesis itself
    for r in rows:
        assert 0 <= r["bullet_line_frac"] <= 1
        assert r["mean_word_len"] > 0
        if r["keep"]:
            assert r["n_words"] >= 50 and r["symbol_ratio"] < 0.1


def test_quality_classifier_learns_and_replays(spark):
    # Third-way replay: numpy logistic regression run from the raw docs
    # must land within float tolerance of the Spark-trained weights, and
    # training must actually LEARN — log-loss after _CLF_STEPS steps
    # strictly below the w=0 loss (ln 2), trusted-slice mean score above
    # the rest (the gradient moved the right way).
    import numpy as np

    from crawspark.operators.lmquality import (
        _CLF_B,
        _CLF_LR,
        _CLF_STEPS,
        _TARGET_SRC,
        quality_classifier_score,
        quality_classifier_train,
    )

    docs = _docs()
    n = len(docs)
    feats = []  # (doc_index, bucket, x)
    y = np.zeros(n)
    for i, (_doc_id, _lang, source, text) in enumerate(docs):
        toks = text.split(" ")
        cnt = Counter(
            int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % _CLF_B
            for t in toks)
        for b, c in cnt.items():
            feats.append((i, b, c / len(toks)))
        feats.append((i, -1, 1.0))
        y[i] = 1.0 if source == _TARGET_SRC else 0.0
    buckets = sorted({b for _, b, _ in feats})
    bidx = {b: j for j, b in enumerate(buckets)}
    X = np.zeros((n, len(buckets)))
    for i, b, x in feats:
        X[i, bidx[b]] = x
    w = np.zeros(len(buckets))
    for step in range(_CLF_STEPS):
        p = 1.0 / (1.0 + np.exp(-X @ w))
        w = np.round(w - _CLF_LR * (X.T @ (p - y)) / n, 6)

    got = {r["bucket"]: r["weight"]
           for r in quality_classifier_train(spark, SF).collect()}
    assert set(got) == set(buckets)
    for b in buckets:
        assert got[b] == pytest.approx(w[bidx[b]], abs=2e-6), b

    scores = quality_classifier_score(spark, SF).collect()
    assert len(scores) == n
    assert all(0.0 < r["score"] < 1.0 for r in scores)
    p_final = 1.0 / (1.0 + np.exp(-X @ w))
    loss = -np.mean(y * np.log(p_final) + (1 - y) * np.log(1 - p_final))
    assert loss < math.log(2)  # strictly better than the untrained model
    pos = [r["score"] for r in scores if r["label"] == 1]
    neg = [r["score"] for r in scores if r["label"] == 0]
    assert pos and neg
    assert np.mean(pos) > np.mean(neg)


def test_kn_perplexity_matches_formula_and_conserves_mass(spark, docs):
    # Third-way replay of interpolated Kneser-Ney (absolute discount D,
    # continuation counts, add-k floored Pcont), plus the property that
    # makes KN coherent: for a seen history w1, the UNFLOORED
    # conditional mass sums to exactly 1 over Pcont-weighted words
    # (sum_w2 [max(c12-D,0)/c1] + D*N1+(w1 .)/c1 == 1 when Pcont sums
    # to 1) — verified on raw counts before the add-k floor.
    from crawspark.operators.lmquality import (
        _KN_D,
        _LM_K,
        _TARGET_SRC,
        quality_kn_perplexity,
    )

    c12: Counter = Counter()
    vocab = set()
    for _, _, source, text in docs:
        ts = text.split(" ")
        vocab.update(ts)
        if source == _TARGET_SRC:
            c12.update(zip(ts, ts[1:]))
    c1: Counter = Counter()
    n1f: Counter = Counter()
    n1b: Counter = Counter()
    for (w1, w2), c in c12.items():
        c1[w1] += c
        n1f[w1] += 1
        n1b[w2] += 1
    n_types = len(c12)
    v = len(vocab)

    def pcont(w2):
        return (n1b.get(w2, 0) + _LM_K) / (n_types + _LM_K * v)

    def score(text):
        ts = text.split(" ")
        nls = []
        for a, b in zip(ts, ts[1:]):
            if c1.get(a, 0) > 0:
                p = (max(c12.get((a, b), 0) - _KN_D, 0) / c1[a]
                     + _KN_D * n1f[a] / c1[a] * pcont(b))
            else:
                p = pcont(b)
            nls.append(-math.log(p))
        return len(nls), round(sum(nls) / len(nls), 4)

    got = {r["doc_id"]: (r["n_bigrams"], r["avg_neg_logp"])
           for r in quality_kn_perplexity(spark, SF).collect()}
    assert len(got) == len(docs)
    for doc_id, _, _, text in docs[:40]:
        n, s = score(text)
        assert got[doc_id][0] == n
        assert got[doc_id][1] == pytest.approx(s, abs=2e-4), doc_id

    # mass conservation of absolute discounting (pre-floor): for every
    # seen history, discounted counts + redistributed discount == c1
    for w1 in list(c1)[:50]:
        disc = sum(max(c - _KN_D, 0) for (a, _), c in c12.items()
                   if a == w1)
        assert disc + _KN_D * n1f[w1] == pytest.approx(c1[w1])


def test_curate_v4_classifier_gate_composes(spark):
    # v4 strictly removes from v3 (per-lang bottom tercile by trust
    # score), keeps roughly two thirds per language, and every dropped
    # survivor scores at or below every kept one within its language.
    from crawspark.operators.curate import curate_corpus_v3, curate_corpus_v4
    from crawspark.operators.lmquality import quality_classifier_score

    v3 = {r["doc_id"] for r in curate_corpus_v3(spark, SF).collect()}
    v4_rows = curate_corpus_v4(spark, SF).collect()
    v4 = {r["doc_id"] for r in v4_rows}
    assert v4 < v3  # strict subset: the gate fires
    score = {r["doc_id"]: r["score"] for r in
             quality_classifier_score(spark, SF).collect()}
    # within each language, max dropped score <= min kept score (ties
    # broken by doc_id can equalize at the boundary)
    import collections
    kept = collections.defaultdict(list)
    for r in v4_rows:
        kept[r["lang"]].append(score[r["doc_id"]])
    dropped = collections.defaultdict(list)
    # recover language for dropped docs from v3's output
    for r in curate_corpus_v3(spark, SF).collect():
        if r["doc_id"] not in v4:
            dropped[r["lang"]].append(score[r["doc_id"]])
    for lang, ds in dropped.items():
        # ntile orders by (score desc, doc_id): a dropped doc can tie a
        # kept doc at the cut but never strictly exceed the kept minimum
        assert max(ds) <= min(kept[lang]), lang
        # tercile arithmetic: ntile(3) makes tile 3 exactly n // 3 rows
        n = len(ds) + len(kept[lang])
        assert len(ds) == n // 3, lang


def test_rewrite_drop_boilerplate_semantics(spark, sf_dir):
    # The rewrite must agree with the flag query doc by doc (same
    # boilerplate definition — shared _BOILER_CTES / _boiler_set),
    # touch exactly the docs with boilerplate, and only ever shrink.
    import hashlib

    from crawspark.registry import load_all
    from crawspark.sources import read_testdata
    reg = load_all()
    flags = {r.doc_id: r for r in
             reg["boilerplate_corpus_lines"].spark(spark, sf_dir)
             .collect()}
    rewrites = {r.doc_id: r for r in
                reg["rewrite_drop_boilerplate"].spark(spark, sf_dir)
                .collect()}
    texts = {r.doc_id: r.text for r in
             read_testdata(spark, sf_dir, "documents")
             .select("doc_id", "text").collect()}
    assert set(rewrites) == set(texts)
    touched = 0
    for doc_id, f in flags.items():
        rw = rewrites[doc_id]
        assert rw.n_dropped == f.n_boiler_lines, doc_id
        orig_md5 = hashlib.md5(texts[doc_id].encode()).hexdigest()
        if f.n_boiler_lines == 0:
            assert rw.cleaned_md5 == orig_md5, doc_id
        else:
            touched += 1
            assert rw.cleaned_md5 != orig_md5, doc_id
            assert rw.cleaned_len < len(texts[doc_id]), doc_id
    assert touched > 0


def test_rewrite_dedup_doc_lines_semantics(spark, sf_dir):
    # Plants (negative ids) carry exactly one repeated pseudo-line and
    # must drop exactly it; clean docs (the word-soup corpus repeats
    # almost nothing) are near-universally untouched, and untouched
    # docs hash to their original text.
    import hashlib

    from crawspark.registry import load_all
    from crawspark.sources import read_testdata
    rows = {r.doc_id: r for r in
            load_all()["rewrite_dedup_doc_lines"].spark(spark, sf_dir)
            .collect()}
    texts = {r.doc_id: r.text for r in
             read_testdata(spark, sf_dir, "documents")
             .select("doc_id", "text").collect()}
    plants = [r for d, r in rows.items() if d < 0]
    assert plants
    # exactly the planted repeat drops (>= 1 covers the rare doc that
    # also repeats a line naturally)
    assert all(r.n_dropped >= 1 for r in plants)
    assert sum(r.n_dropped for r in plants) >= len(plants)
    for doc_id, text in texts.items():
        r = rows[doc_id]
        if r.n_dropped == 0:
            assert r.cleaned_md5 == hashlib.md5(
                text.encode()).hexdigest(), doc_id
        else:
            assert r.cleaned_len < len(text), doc_id


# Docs the testdata never has: zero tokens, short docs, exactly one and
# two full lines, repeated lines (adjacent and not), space-padded text
# (empty tokens) and a null text. "nav home menu" recurs across docs so
# the corpus boilerplate pass has a line to drop; the first doc's id is
# a multiple of 13, so rewrite_dedup_doc_lines plants its twin.
_HOSTILE_TEXTS = [
    "nav home menu nav home menu nav home menu",
    "",
    "alpha",
    "alpha beta",
    "alpha beta gamma",
    "alpha beta gamma delta epsilon zeta",
    "nav home menu one two three nav home menu four five six",
    "one two three nav home menu one two three",
    "nav home menu tail",
    "x y z nav home menu",
    "alpha  beta gamma delta",
    " alpha beta gamma",
    "alpha beta gamma ",
    None,
]

_LINE_ROWS = ["boilerplate_corpus_lines", "rewrite_drop_boilerplate",
              "rewrite_dedup_doc_lines", "stream_rewrite_boilerplate"]


def test_line_rows_match_oracle_on_hostile_docs(spark, tmp_path):
    # Every pseudo-line row (decomposition, boilerplate set, rebuild,
    # short-doc pass-through) must equal its registry SQL in DuckDB on
    # the hostile docs, not only on the well-formed testdata.
    import shutil

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from crawspark.registry import check_query, load_all
    from crawspark.sources.tables import TESTDATA_TABLES

    load_all()
    src = pq.read_table(f"{SF}/documents.parquet").sort_by("doc_id")
    rows = src.slice(0, 60).to_pylist()
    for i, text in enumerate(_HOSTILE_TEXTS):
        rows.append({"doc_id": 1001 + i, "text": text, "lang": "en",
                     "source": "src1",
                     "n_chars": None if text is None else len(text)})
    pq.write_table(pa.Table.from_pylist(rows, schema=src.schema),
                   tmp_path / "documents.parquet")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        if t != "documents":
            shutil.copy(f"{SF}/{t}.parquet", tmp_path / f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tmp_path}/{t}.parquet')")
    results = {name: check_query(spark, con, name, str(tmp_path))
               for name in _LINE_ROWS}
    con.close()
    for name, r in results.items():
        assert r["hash_match"], (name, r)
