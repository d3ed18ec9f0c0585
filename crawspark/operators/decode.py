"""Byte-payload decode operator (SURVEY.md §2.3 decode_bytes).

``decode_payloads`` is the Spark surface over the pure decode chain in
crawspark/oracle/encoding.py: an Arrow-batched mapInPandas over a binary
column (charset detection is inherently Python — charset_normalizer — so
this is a legitimate Pandas-UDF hot path, batched, never per-row Python
UDF). The registry query proves the chain end-to-end: it synthesizes raw
bytes from the documents table under four encoding regimes (including a
LYING transport declaration) and round-trips them; the oracle's closed
form asserts every document decodes back to its exact source text.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from crawspark.operators.partitioning import ensure_parallelism
from crawspark.registry import register
from crawspark.sources import read_testdata

# Latin-1-range accent suffix appended before encoding so the utf-8 /
# latin-1 byte streams actually differ (testdata text is pure ASCII).
# Chars chosen from 0xA0-0xFF where latin-1 == cp1252 (detector-agnostic).
_ACCENT_SUFFIX = " caf\xe9 na\xefve r\xe9sum\xe9 \xb1\xb5 d\xe9j\xe0"


def decode_payloads(df: DataFrame, payload_col: str = "payload",
                    charset_col: str | None = None,
                    out_col: str = "text") -> DataFrame:
    """Add ``out_col``: decoded text of the binary ``payload_col`` via the
    BOM → meta → declared → charset_normalizer → latin-1 chain."""
    from pyspark.sql.types import StringType, StructField, StructType

    # fresh StructType: StructType.add mutates the shared schema object of
    # the input DataFrame, which breaks mapInPandas analysis in Spark 4.
    schema = StructType(list(df.schema.fields)
                        + [StructField(out_col, StringType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from crawspark.oracle.encoding import decode_bytes
        for pdf in batches:
            declared = (pdf[charset_col] if charset_col
                        else [""] * len(pdf))
            pdf[out_col] = [decode_bytes(p or b"", d or "")
                            for p, d in zip(pdf[payload_col], declared)]
            yield pdf

    return df.mapInPandas(run, schema)


_RULES = ["utf-8", "utf-16", "latin-1", "latin-1-misdeclared"]


@register("decode_bytes", sql="""
    SELECT CASE doc_id % 4 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-16'
                WHEN 2 THEN 'latin-1' ELSE 'latin-1-misdeclared' END
             AS enc_rule,
           count(*) AS n_docs,
           count(*) AS n_ok
    FROM documents GROUP BY enc_rule
""")
def decode_bytes_q(spark, sf_dir):
    # Round-trip property check, oracle-closed-form: every synthesized
    # payload must decode back to its source text (n_ok == n_docs per
    # rule). Rule 3 declares utf-8 over latin-1 bytes — the chain must
    # reject the lying declaration (strict decode fails) and recover via
    # statistical detection.
    def synth_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from crawspark.oracle.encoding import decode_bytes
        for pdf in batches:
            rules, oks = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                original = (text or "") + _ACCENT_SUFFIX
                r = int(doc_id) % 4
                if r == 0:
                    data, declared = original.encode("utf-8"), ""
                elif r == 1:
                    data, declared = original.encode("utf-16"), ""
                elif r == 2:
                    data, declared = original.encode("latin-1"), ""
                else:
                    data, declared = original.encode("latin-1"), "utf-8"
                rules.append(_RULES[r])
                oks.append(decode_bytes(data, declared) == original)
            yield pd.DataFrame({"enc_rule": rules, "ok": oks})

    docs = ensure_parallelism(
        read_testdata(spark, sf_dir, "documents").select("doc_id", "text"))
    per_doc = docs.mapInPandas(synth_decode, "enc_rule string, ok boolean")
    return (per_doc.groupBy("enc_rule")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.col("ok").cast("long")).alias("n_ok")))
