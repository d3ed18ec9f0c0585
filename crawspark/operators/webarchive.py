"""Web-archive scan operators: WARC segments (ISO 28500 — the Common
Crawl storage shape) and raw HTTP/1.1 response decoding, the byte layer
between a crawl's stored fetches and the extraction pipeline
(oracle/warc.py, oracle/httpmsg.py). Reconstructed behavior: crawtext
fetches pages and stores content before extraction [R: crawtext fetch +
store steps]; this engine replays such archives at rest.

Scale notes (100 TB): WARC files with per-record gzip members (the
Annex C convention the builder emits) are splittable — a reader can
resync from any byte offset to the next gzip-member boundary — so a
real deployment maps byte-range work units of a WARC file to tasks
instead of one task per file. Here each task parses whole in-memory
segments, Arrow-batched per document; nothing ever crosses the shuffle
except the parsed metadata rows (the payload bytes stay task-local,
only md5 digests are emitted).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from crawspark.operators.perdoc import _per_doc
from crawspark.registry import register
from crawspark.sources import read_testdata

_BODY_SQL = "repeat('Doc ' || d || ' part ' || j || ' ', 3 + (d + j) % 4)"
_STATUS_SQL = "[200, 200, 301, 404, 503][((d + j) % 5) + 1]"


@register("scan_warc_records", sql=f"""
    -- closed form of oracle/warc.make_warc_file: 2 + d%3 response
    -- records per doc (the warcinfo record is filtered out on both
    -- sides), block = oracle/httpmsg.make_response(d, j), whose decoded
    -- body is repeat('Doc d part j ', 3+(d+j)%4). Odd docs gzip each
    -- record as its own member (Annex C), even docs are plain — the
    -- parse must agree byte-for-byte either way, which body_md5 pins.
    SELECT d AS doc_id, CAST(j AS INT) AS rec_idx,
           CAST(d % 2 AS INT) AS gz,
           'https://h' || (d % 23) || '.example.org/p/' || d || '/' || j
             AS target_uri,
           strftime(TIMESTAMP '2025-03-01 00:00:00'
                    + to_seconds((13 * d + 7 * j) % 86400),
                    '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
           CAST({_STATUS_SQL} AS INT) AS status,
           md5({_BODY_SQL}) AS body_md5,
           CAST(length({_BODY_SQL}) AS INT) AS body_len
    FROM (SELECT doc_id AS d FROM documents), range(4) g(j)
    WHERE j < 2 + d % 3
""")
def scan_warc_records(spark, sf_dir):
    """Scan a WARC archive: per-record gzip members → WARC record walk
    (Content-Length-delimited blocks, never scanned for separators) →
    HTTP response framing (chunked / gzip content coding) → body bytes.
    Every hop of that chain sits on the driver's hash path via the
    per-record body_md5; the DuckDB oracle replays the synthesis in
    closed form, so a parse bug in any layer flips digests."""
    from crawspark.oracle import httpmsg
    from crawspark.oracle.warc import make_warc_file, parse_warc

    def rows(d):
        out = []
        for j, rec in enumerate(r for r in parse_warc(make_warc_file(d))
                                if r["warc_type"] == "response"):
            resp = httpmsg.parse_response(rec["block"])
            body = b"" if resp is None else resp["body"]
            out.append((d, j, d % 2, rec["target_uri"], rec["date"],
                        -1 if resp is None else resp["status"],
                        hashlib.md5(body).hexdigest(), len(body)))
        return out

    docs = read_testdata(spark, sf_dir, "documents").select("doc_id")
    return _per_doc(docs, "doc_id long, rec_idx int, gz int, "
                          "target_uri string, warc_date string, status int, "
                          "body_md5 string, body_len int", rows)


@register("http_decode_responses", sql=f"""
    -- closed form of oracle/httpmsg.make_response over the full 2×2
    -- framing grid (variant = (d+j)%4): Content-Length vs chunked ×
    -- identity vs gzip; variant 3 additionally carries a trailer field
    -- after the 0-chunk whose merged value trailer_doc pins.
    SELECT d AS doc_id, CAST(j AS INT) AS variant_seq,
           CAST((d + j) % 4 AS INT) AS variant,
           CAST({_STATUS_SQL} AS INT) AS status,
           CASE WHEN (d + j) % 4 IN (1, 3) THEN 'chunked' ELSE '' END
             AS transfer,
           CASE WHEN (d + j) % 4 >= 2 THEN 'gzip' ELSE '' END
             AS content_coding,
           CASE WHEN (d + j) % 4 = 3 THEN d ELSE -1 END AS trailer_doc,
           md5({_BODY_SQL}) AS body_md5,
           CAST(length({_BODY_SQL}) AS INT) AS body_len
    FROM (SELECT doc_id AS d FROM documents), range(4) g(j)
""")
def http_decode_responses(spark, sf_dir):
    """Undo HTTP/1.1 wire framing on stored raw responses: chunked
    transfer coding (chunk-size lines, chunk-exts, trailers) and
    gzip content coding, across the full 2×2 grid per document. The
    decoded body's md5 + the merged trailer value are driver-hashed
    against the closed-form oracle."""
    from crawspark.oracle import httpmsg

    def rows(d):
        out = []
        for j in range(4):
            resp = httpmsg.parse_response(httpmsg.make_response(d, j))
            h = {} if resp is None else resp["headers"]
            body = b"" if resp is None else resp["body"]
            out.append((d, j, (d + j) % 4,
                        -1 if resp is None else resp["status"],
                        h.get("transfer-encoding", ""),
                        h.get("content-encoding", ""),
                        int(h.get("x-crawl-doc", -1)),
                        hashlib.md5(body).hexdigest(), len(body)))
        return out

    docs = read_testdata(spark, sf_dir, "documents").select("doc_id")
    return _per_doc(docs, "doc_id long, variant_seq int, variant int, "
                          "status int, transfer string, "
                          "content_coding string, trailer_doc long, "
                          "body_md5 string, body_len int", rows)


def _extract_from_warc_sql(sf_dir: str) -> str:
    # the span-canon contract lives in ONE place (extraction_queries);
    # inlining a copy here risked silent hash-parity drift (r5 review)
    from crawspark.operators.extraction_queries import (
        SPAN_HASH_SQL, _sf_sql)
    return _sf_sql(SPAN_HASH_SQL)(sf_dir)


@register("extract_from_warc", sql=_extract_from_warc_sql)
def extract_from_warc(spark, sf_dir):
    """End-to-end archive replay: documents → interleaved shape → WARC
    segment bytes (per-span records, HTTP framing grid, per-record gzip
    members on odd segments) → parse back → vectorized extraction, all
    fused in ONE Arrow hop per task (no intermediate ever crosses a
    shuffle). The oracle is the FROZEN extraction parquet — independent
    of every storage-layer line — so the driver's per-document
    span-sequence md5 proves the WARC build/parse + HTTP framing +
    utf-8 transport chain is lossless end to end: any byte the archive
    round trip drops or reorders flips a hash."""
    from pyspark.sql import functions as F2

    from crawspark.operators.extract import (
        _extract_stream, _interleave_rows)
    from crawspark.operators.partitioning import ensure_parallelism
    from crawspark.schema import EXTRACTED_SPANS

    def _warc_extract_arrow(batches):
        from crawspark.oracle.warc import (
            interleaved_from_segment, segment_from_interleaved)
        yield from _extract_stream(
            interleaved_from_segment(segment_from_interleaved(d))
            for d in _interleave_rows(batches))

    cols = read_testdata(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang")
    from crawspark.operators.extraction_queries import SPAN_CANON_EXPR
    ext = ensure_parallelism(cols).mapInArrow(_warc_extract_arrow,
                                              EXTRACTED_SPANS)
    return ext.select("doc_id",
                      F2.md5(F2.expr(SPAN_CANON_EXPR)).alias("span_hash"))


@register("warc_host_stats", sql=f"""
    -- per-host rollup over the parsed archive: fetch volume, how much
    -- decoded payload each host contributed, and its HTTP error rate —
    -- the crawl-health summary a recrawl scheduler consumes.
    SELECT 'h' || (d % 23) || '.example.org' AS host,
           count(*) AS n_fetches,
           CAST(sum(length({_BODY_SQL})) AS BIGINT) AS total_body_bytes,
           CAST(sum(CASE WHEN {_STATUS_SQL} >= 400 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors
    FROM (SELECT doc_id AS d FROM documents), range(4) g(j)
    WHERE j < 2 + d % 3
    GROUP BY host
""")
def warc_host_stats(spark, sf_dir):
    """Crawl-health rollup per host from parsed WARC records: fetch
    count, decoded body volume, error-status count. Composes the scan
    with a JVM-side aggregate — parsing stays in the Arrow stage, the
    shuffle carries only (host, partial aggregates)."""
    recs = scan_warc_records(spark, sf_dir)
    host = F.regexp_extract("target_uri", r"https://([^/]+)/", 1)
    return (recs.groupBy(host.alias("host"))
            .agg(F.count("*").alias("n_fetches"),
                 F.sum("body_len").cast("long").alias("total_body_bytes"),
                 F.sum((F.col("status") >= 400).cast("int")).cast("long")
                 .alias("n_errors")))
