"""The one Python loop over a ``doc_id`` column.

Every synthetic route (format payloads in ``multimodal``, JSON-LD pages,
WARC segments, HTTP responses, sitemaps, feeds) builds its input from a
document id alone, so each is a ``rows(d)`` function handed to
``_per_doc``, fed by ``_docs``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from crawspark.sources import read_testdata


def _docs(spark, sf_dir, mod: int, res: int) -> DataFrame:
    """The doc_id column of `documents` where doc_id % mod == res."""
    return (read_testdata(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % mod == res).select("doc_id"))


def _per_doc(docs: DataFrame, schema: str,
             rows: Callable[[int], Iterable[tuple]]) -> DataFrame:
    """One fused Python hop over a doc_id column: ``rows(d)`` returns the
    tuples, in ``schema`` order, that doc d contributes (zero, one or
    many)."""
    names = [c.split()[0] for c in schema.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [t for d in pdf["doc_id"] for t in rows(int(d))]
            cols = list(zip(*out)) if out else [()] * len(names)
            yield pd.DataFrame({n: list(c) for n, c in zip(names, cols)})

    return docs.mapInPandas(run, schema)
