"""crawspark — a brand-new PySpark-native main-content extraction engine.

Rebuilds the capabilities of the cortext/crawtext fetch-and-extract core
(Goose-style DOM scoring extractor; see SURVEY.md) as a from-scratch,
Spark-first pipeline over interleaved text+media documents:

- ``crawspark.oracle``   — the pure-Python deterministic extraction core
  (tokenizer, DOM, cleaner, scorer, formatter, media resolver, PDF text).
  This single implementation is BOTH the golden-fixture oracle and the
  function executed inside the vectorized Arrow UDFs (one implementation,
  two harnesses — SURVEY.md §7 M2).
- ``crawspark.operators`` — Spark DataFrame operators: vectorized
  extraction, partitioning/skew handling, relational ops, dedup,
  similarity, text analysis.
- ``crawspark.sources``   — table layer (parquet now, Iceberg when the
  runtime jar is present; SURVEY.md §7 M1).
- ``crawspark.corpus``    — deterministic synthetic corpus generator
  (FIXTURES.md §2).

Reference parity: /root/reference was empty at survey time (SURVEY.md §0);
behavioral loci cited as ``[R: path::symbol]`` are reconstructions of the
public cortext/crawtext + python-goose behavior from SURVEY.md §2.
"""

from crawspark import zipcache

__version__ = "0.1.0"

zipcache.install()
