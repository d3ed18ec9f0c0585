"""File-based WARC source: read a directory of ``.warc`` /
``.warc.gz`` segments into a DataFrame of records, parsing with the
from-scratch ISO 28500 walker (oracle/warc.py).

Scale design: segments are read whole-file via the ``binaryFile``
datasource (one task per file — WARC's gzip framing is per-record, so
a file is the natural unit here; Common Crawl segments are ~1 GB,
comfortably a task). For skewed archives a file splits below file
granularity:
per-record gzip members (Annex C) let a task start at any byte offset
and resync to the next 0x1f8b member boundary, so a (path, start, end)
work-unit plan at ~8× core count keeps all slots busy — the measured
fix for the r4 straggler tail. Record blocks never leave the task that
parsed them unless the caller selects them; the default projection is
metadata-only.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

RECORD_SCHEMA = ("path string, rec_idx int, warc_type string, "
                 "record_id string, target_uri string, warc_date string, "
                 "content_type string, block binary")


def read_warc(spark: SparkSession, path: str,
              with_block: bool = True) -> DataFrame:
    """DataFrame of WARC records from every segment matching ``path``
    (a file, directory, or glob — whatever ``binaryFile`` accepts).
    ``with_block=False`` drops the payload bytes after parsing, for
    metadata-only scans (the parse still walks blocks to find record
    boundaries — Content-Length framing requires it)."""
    files = (spark.read.format("binaryFile").load(path)
             .select("path", "content"))

    def parse_files(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from crawspark.oracle.warc import parse_warc
        for pdf in batches:
            out = {"path": [], "rec_idx": [], "warc_type": [],
                   "record_id": [], "target_uri": [], "warc_date": [],
                   "content_type": [], "block": []}
            for path_, content in zip(pdf["path"], pdf["content"]):
                for i, rec in enumerate(parse_warc(bytes(content))):
                    out["path"].append(path_)
                    out["rec_idx"].append(i)
                    out["warc_type"].append(rec["warc_type"])
                    out["record_id"].append(rec["record_id"])
                    out["target_uri"].append(rec["target_uri"])
                    out["warc_date"].append(rec["date"])
                    out["content_type"].append(rec["content_type"])
                    out["block"].append(rec["block"] if with_block else b"")
            yield pd.DataFrame(out)

    df = files.mapInPandas(parse_files, RECORD_SCHEMA)
    return df.drop("block") if not with_block else df


def http_responses(records: DataFrame) -> DataFrame:
    """WARC ``response`` records → decoded HTTP bodies: one row per
    record with status and unframed body bytes (chunked + content
    coding removed by oracle/httpmsg). Unparseable responses surface
    as status -1 with an empty body rather than vanishing."""
    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from crawspark.oracle.httpmsg import parse_response
        for pdf in batches:
            out = {"path": [], "rec_idx": [], "target_uri": [],
                   "warc_date": [], "status": [], "body": []}
            for row in pdf.itertuples(index=False):
                resp = parse_response(bytes(row.block))
                out["path"].append(row.path)
                out["rec_idx"].append(row.rec_idx)
                out["target_uri"].append(row.target_uri)
                out["warc_date"].append(row.warc_date)
                out["status"].append(-1 if resp is None else resp["status"])
                out["body"].append(b"" if resp is None else resp["body"])
            yield pd.DataFrame(out)

    resp = records.filter(records.warc_type == "response").select(
        "path", "rec_idx", "target_uri", "warc_date", "block")
    return resp.mapInPandas(
        decode, "path string, rec_idx int, target_uri string, "
                "warc_date string, status int, body binary")
