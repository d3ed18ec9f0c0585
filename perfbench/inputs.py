"""Seeded benchmark inputs. Every input is a pure function of ``--seed``.

- ``web_corpus``: multilingual interleaved documents from
  ``crawspark.corpus.make_doc`` (heavy tail on), with a fixed number of
  evenly placed heavy-tail documents, and a
  seeded fifth of the HTML documents re-encoded as ``html_b64`` raw bytes
  in utf-8, cp1252 or latin-1 (some with a wrong declared charset, some
  utf-8 ones double-encoded).
- ``resume_corpus``: plain multilingual documents for the checkpoint
  workload; the changed input is derived in Spark (``mark_lost``)
  because logical partitions are keyed by the JVM's xxhash64.
"""

from __future__ import annotations

import base64
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from crawspark.corpus import make_doc

LANGS = ("en", "fr", "de", "es", "it", "pt", "zh", "ja", "ar",
         "ko", "tr", "pl", "id", "hi", "vi")

SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]))),
])

# make_doc's heavy-tail documents carry 33x the maximum paragraph count
# (~150 KB of HTML); ordinary documents stay under ~10 KB.
HEAVY_CHARS = 50_000
B64_SHARE = 0.2
CHARSETS = ("utf-8", "cp1252", "latin-1")
MOJIBAKE_SHARE = 0.25


def payload_chars(doc: dict) -> int:
    return sum(len(s["text"] or "") for s in doc["spans"])


def _to_b64(doc: dict, rng: random.Random) -> dict:
    """Re-encode the HTML spans of ``doc`` as raw bytes (``html_b64``).

    The in-document ``<meta charset>`` is rewritten to the real charset
    half of the time (else it still claims utf-8); the transport charset
    in ``media_ref`` is right, wrong or absent."""
    charset = rng.choice(CHARSETS)
    texts = [s["text"] for s in doc["spans"] if s["kind"] == "html"]
    try:
        for t in texts:
            t.encode(charset)
    except UnicodeEncodeError:
        charset = "utf-8"
    fix_meta = rng.random() < 0.5
    # utf-8 bytes that were once mis-decoded as latin-1 and re-encoded:
    # the extractor's mojibake repair re-parses these
    double = charset == "utf-8" and rng.random() < MOJIBAKE_SHARE
    roll = rng.random()
    if roll < 0.6:
        declared = charset
    elif roll < 0.8:
        declared = rng.choice([c for c in CHARSETS if c != charset])
    else:
        declared = None
    spans = []
    for s in doc["spans"]:
        if s["kind"] != "html":
            spans.append(s)
            continue
        text = s["text"]
        if fix_meta:
            text = text.replace('<meta charset="utf-8">',
                                f'<meta charset="{charset}">')
        raw = text.encode(charset)
        if double:
            raw = raw.decode("latin-1").encode("utf-8")
        spans.append({"kind": "html_b64",
                      "text": base64.b64encode(raw).decode("ascii"),
                      "media_ref": declared, "offset": s["offset"]})
    return {"doc_id": doc["doc_id"], "spans": spans}


def web_corpus(seed: int, n_docs: int) -> list[dict]:
    """``n_docs`` documents, exactly ``max(1, n_docs // 1000)`` of them
    heavy (make_doc's own rate is ~1 in 1300), placed at evenly spaced
    positions. Each heavy document weighs about a hundred ordinary ones, so
    a fixed count and placement keep the total work, and which input file
    straggles, the same for every seed."""
    n_heavy = max(1, n_docs // 1000)
    light: list[dict] = []
    heavy: list[dict] = []
    i = 0
    while len(light) < n_docs - n_heavy or len(heavy) < n_heavy:
        doc = make_doc(seed, i, heavy_tail=True, langs=LANGS)
        bucket = heavy if payload_chars(doc) > HEAVY_CHARS else light
        cap = n_heavy if bucket is heavy else n_docs - n_heavy
        if len(bucket) < cap:
            bucket.append(doc)
        i += 1
    step = n_docs // n_heavy
    for j, doc in enumerate(heavy):
        light.insert(j * step + step // 2, doc)
    rng = random.Random(f"b64-{seed}")
    docs = []
    for doc in light:
        is_html = any(s["kind"] == "html" for s in doc["spans"])
        if is_html and rng.random() < B64_SHARE:
            doc = _to_b64(doc, rng)
        docs.append(doc)
    return docs


def resume_corpus(seed: int, n_docs: int) -> list[dict]:
    return [make_doc(seed, i, langs=LANGS) for i in range(n_docs)]


def write_parquet(docs: list[dict], path: str, n_files: int) -> None:
    """Write ``docs`` as ``n_files`` parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(docs, schema=SCHEMA)
    n = table.num_rows
    for k in range(n_files):
        lo, hi = k * n // n_files, (k + 1) * n // n_files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{k:05d}.parquet"))


def lost_partitions(seed: int, n_parts: int) -> list[str]:
    """The seeded quarter of logical partitions that lose documents."""
    rng = random.Random(f"lost-{seed}")
    return sorted(f"part={p}"
                  for p in rng.sample(range(n_parts), n_parts // 4))


def mark_lost(df, seed: int, n_parts: int):
    """``df`` keyed by logical partition, with a ``lost`` flag on a seeded
    1/7 of the documents of ``lost_partitions``."""
    from pyspark.sql import functions as F

    from crawspark.checkpoint import with_partition_key

    return with_partition_key(df, n_parts).withColumn(
        "lost",
        F.col("partition_key").isin(lost_partitions(seed, n_parts))
        & (F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(7)) == 0))
