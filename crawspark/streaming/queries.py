"""Registry surface for the Structured Streaming pipeline (SURVEY.md §2.7).

``stream_extract_incremental`` drives the REAL streaming path end to end —
write the interleaved table, drain it through the AvailableNow stream
(foreachBatch → the same extract_documents operator as batch), read the
sink back — and returns a per-language aggregate of the streamed output.
Because streaming and batch share one extraction implementation, the
result is oracle-checkable against the frozen oracle's materialized
extraction: an exactly-once / batch-parity property the driver's hash
compare verifies on every run.

Every row drains through ``crawspark.streaming.drain``: a drain still
running after ``DRAIN_TIMEOUT_S`` is stopped and raises ``TimeoutError``.
The four frontier rows (route, score, mojibake, rewrite) share one
``_frontier_drain``: the frontier in, ``fn`` per microbatch, the sink
back out. The three event-stream rows whose oracle is a batch query take
their watermark from ``_span_days``.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from crawspark.operators.extraction_queries import ORACLE_PQ, _sf_sql
from crawspark.operators.textops import FIX_MOJIBAKE_SQL
from crawspark.registry import register
from crawspark.streaming import drain


def _span_days(events) -> int:
    """Watermark delay in whole days that covers the events table's full
    time span (plus two days of margin). With it a drain split into
    several microbatches evicts no state a later batch still needs, so
    the drained sink equals the batch oracle."""
    span = (events.agg(
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
        / 86400.0).first()[0] or 0.0)
    return int(span) + 2


def _frontier_drain(spark, sf_dir: str, prefix: str, frontier, fn):
    """Drain ``frontier`` the way an incremental crawl would: write it as
    four input files, stream them one file per microbatch
    (``maxFilesPerTrigger`` is a SOURCE option), append ``fn(batch)`` of
    every microbatch to a parquet sink and read the sink back. ``fn`` is
    per-row pure, so the drain equals ``fn(frontier)`` in batch — the
    parity each caller's oracle checks."""
    from crawspark.scratch import scratch_dir

    base = scratch_dir(prefix, sf_dir, clean=("out", "ck"))
    inp, out, ck = (os.path.join(base, d) for d in ("in", "out", "ck"))
    frontier.repartition(4).write.mode("overwrite").parquet(inp)
    stream = (spark.readStream.schema(frontier.schema)
              .option("maxFilesPerTrigger", 1).parquet(inp))
    drain(stream.writeStream.foreachBatch(
        lambda batch, _batch_id: fn(batch).write.mode("append")
        .parquet(out)), ck)
    return spark.read.parquet(out)


@register("stream_extract_incremental", sql=_sf_sql(f"""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_spans) AS BIGINT) AS total_spans
    FROM {ORACLE_PQ} GROUP BY lang
"""))
def stream_extract_incremental(spark, sf_dir):
    from crawspark.operators.extract import interleave_documents
    from crawspark.sources import read_testdata
    from crawspark.streaming.extract_stream import run_available_now

    from crawspark.scratch import scratch_dir

    # fresh drain per invocation: clear sink + stream checkpoint, rewrite
    # the input snapshot (a second invocation with the checkpoint kept
    # would correctly drain zero new files — tested in
    # tests/test_streaming.py — but the registry contract wants the
    # full result every run).
    base = scratch_dir("stream", sf_dir, clean=("out", "ck"))
    inp, out, ck = (os.path.join(base, d) for d in ("in", "out", "ck"))
    (interleave_documents(read_testdata(spark, sf_dir, "documents"))
     .write.mode("overwrite").parquet(inp))
    run_available_now(spark, inp, out, ck)
    return (spark.read.parquet(out)
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_spans").cast("long").alias("total_spans")))


@register("stream_join_user_activity", sql="""
    SELECT l.user_id AS user_id, count(*) AS n_pairs
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE
    WHERE l.event_id % 2 = 0 AND r.event_id % 2 = 1
    GROUP BY l.user_id
""")
def stream_join_user_activity(spark, sf_dir):
    """Watermarked stream-stream interval join, driven end to end: the
    events table splits into two file streams (even/odd event_id), the
    inner join pairs same-user events within 10 minutes, and the drained
    sink aggregates per user — hash-checked against the equivalent batch
    join in DuckDB (stream/batch parity is the correctness claim)."""
    from crawspark.scratch import scratch_dir
    from crawspark.sources import read_testdata
    from crawspark.streaming.joined import run_join_available_now

    base = scratch_dir("sjoin", sf_dir, clean=("out", "ck"))
    left, right, out, ck = (os.path.join(base, d)
                            for d in ("left", "right", "out", "ck"))
    events = read_testdata(spark, sf_dir, "events")
    (events.filter(F.col("event_id") % 2 == 0)
     .coalesce(2).write.mode("overwrite").parquet(left))
    (events.filter(F.col("event_id") % 2 == 1)
     .coalesce(2).write.mode("overwrite").parquet(right))
    # Watermark must cover the events table's FULL time span for batch
    # parity: an availableNow drain may split into multiple microbatches
    # (more input files at larger SFs, or maxFilesPerTrigger), and a
    # 30-minute watermark would then evict left-side state between
    # batches, silently dropping cross-batch pairs vs the DuckDB batch
    # oracle (ADVICE r3). Production callers keep the bounded default —
    # eviction is the POINT there; parity-vs-batch is the claim HERE.
    run_join_available_now(spark, left, right, out, ck,
                           watermark=f"{_span_days(events)} days")
    return (spark.read.parquet(out)
            .groupBy("user_id")
            .agg(F.count("*").alias("n_pairs")))


@register("stream_sessionize_events", sql="""
    -- Gap-session semantics probed from Spark's session_window (r5):
    -- events merge into one session when the gap from the previous event
    -- is <= 30 minutes (inclusive — verified at the exact-gap boundary);
    -- session_end = last event + gap; append mode emits only sessions
    -- CLOSED by the final watermark, i.e. session_end <= max(ts)
    -- (inclusive — verified at the end==max boundary).
    WITH ordered AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), tagged AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           CAST(round(sum(value), 2) AS DOUBLE) AS session_value
    FROM tagged GROUP BY user_id, sid
    HAVING max(ts) + INTERVAL 30 MINUTE <= (SELECT max(ts) FROM events)
""")
def stream_sessionize_events(spark, sf_dir):
    """Stateful session windows over the events STREAM: availableNow
    drain through F.session_window (merge-on-overlap state, watermark
    closes sessions), sink hash-checked against the DuckDB gap-session
    replay restricted to closed sessions. The streaming twin of the
    batch `sessionize_events` — same gap rule, but window bounds come
    from Spark's stateful merge operator rather than a lag() scan."""
    from crawspark.scratch import scratch_dir
    from crawspark.sources import read_testdata
    from crawspark.streaming.sessions import run_sessions_available_now

    base = scratch_dir("ssess", sf_dir, clean=("out", "ck"))
    inp, out, ck = (os.path.join(base, d) for d in ("in", "out", "ck"))
    (read_testdata(spark, sf_dir, "events")
     .coalesce(2).write.mode("overwrite").parquet(inp))
    run_sessions_available_now(spark, inp, out, ck)
    return spark.read.parquet(out)


@register("stream_dedup_within_watermark", sql="""
    -- the drained deduped stream must be EXACTLY the events table: the
    -- injected duplicate rows (every 5th event re-appended) all arrive
    -- within the watermark and are dropped; nothing else is.
    SELECT event_id, ts, user_id, event_type, value, props FROM events
""")
def stream_dedup_within_watermark(spark, sf_dir):
    """Built-in streaming dedup (dropDuplicatesWithinWatermark): the
    events stream with every 5th event duplicated drains to exactly the
    original table — first occurrence kept, bounded state via watermark
    eviction. Complements the custom applyInPandasWithState first-seen
    operator with the native bounded-state API."""
    from crawspark.scratch import scratch_dir
    from crawspark.sources import read_testdata
    from crawspark.streaming.sessions import run_dedup_within_watermark

    base = scratch_dir("sdup", sf_dir, clean=("out", "ck"))
    inp, out, ck = (os.path.join(base, d) for d in ("in", "out", "ck"))
    events = read_testdata(spark, sf_dir, "events")
    dups = events.filter(F.col("event_id") % 5 == 0)
    (events.unionByName(dups)
     .coalesce(2).write.mode("overwrite").parquet(inp))
    # watermark covers the full event span so a multi-file drain split
    # into several microbatches cannot evict a key before its duplicate
    # arrives (same span-derived convention as the stream join)
    run_dedup_within_watermark(spark, inp, out, ck,
                               watermark=f"{_span_days(events)} days")
    return (spark.read.parquet(out)
            .select("event_id", "ts", "user_id", "event_type", "value",
                    "props"))


def _route_sql() -> str:
    from crawspark.operators.multimodal import ROUTE_FORMATS_SQL
    return ROUTE_FORMATS_SQL


@register("stream_route_formats", sql=_route_sql())
def stream_route_formats(spark, sf_dir):
    """The ingestion front door run INCREMENTALLY: the doc_id frontier
    drains through an AvailableNow file stream whose microbatches run
    the SAME sniff-and-extract stage as the batch router
    (route_formats — stateless mapInPandas works unchanged on a
    streaming DataFrame), foreachBatch-appended to a parquet sink with
    streaming-checkpoint exactly-once bookkeeping. The oracle is the
    batch router's 8-branch UNION — streamed output must equal batch
    output row for row."""
    from crawspark.operators.multimodal import route_formats
    from crawspark.sources import read_testdata

    return _frontier_drain(spark, sf_dir, "sroute",
                           read_testdata(spark, sf_dir, "documents")
                           .filter(F.col("doc_id") % 10 == 1)
                           .select("doc_id"), route_formats)


@register("stream_extract_snapshot", sql=_sf_sql(f"""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_spans) AS BIGINT) AS total_spans
    FROM {ORACLE_PQ} GROUP BY lang
"""))
def stream_extract_snapshot(spark, sf_dir):
    """Streaming extraction into a TRANSACTIONAL table: availableNow
    drain split into multiple microbatches (maxFilesPerTrigger=1), one
    SnapshotParquetBackend commit per batch with manifest-props
    idempotence (the Iceberg txnAppId pattern), final snapshot
    hash-checked against the frozen extraction oracle. Complements
    stream_extract_incremental (plain parquet sink) with the
    exactly-once-under-replay lakehouse path."""
    from crawspark.operators.extract import interleave_documents
    from crawspark.scratch import scratch_dir
    from crawspark.sources import read_testdata
    from crawspark.sources.tables import SnapshotParquetBackend
    from crawspark.streaming.snapshot_sink import run_extract_to_snapshot

    base = scratch_dir("ssnap", sf_dir, clean=("ck", "tbl"))
    inp, ck, troot = (os.path.join(base, d) for d in ("in", "ck", "tbl"))
    (interleave_documents(read_testdata(spark, sf_dir, "documents"))
     .coalesce(3).write.mode("overwrite").parquet(inp))
    backend = SnapshotParquetBackend(troot)
    run_extract_to_snapshot(spark, inp, ck, backend, "extracted")
    return (backend.read(spark, "extracted")
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_spans").cast("long").alias("total_spans")))


def _clf_score_sql(sf_dir: str) -> str:
    # LAZY (callable) oracle: resolving the registry at module-import
    # time would make this module crash unless operators.lmquality was
    # imported first (r5 session-6 review finding — import-order trap).
    from crawspark.registry import REGISTRY
    return REGISTRY["quality_classifier_score"].render_sql(sf_dir)


@register("stream_score_quality", sql=_clf_score_sql)
def stream_score_quality(spark, sf_dir):
    """Model inference in the stream: the classifier is trained ONCE in
    batch over the corpus (the production shape — models train offline,
    increments score online), then the document frontier drains through
    an AvailableNow file stream whose microbatches score against the
    broadcast weight table (scoring is per-doc pure, so stateless
    foreachBatch works unchanged). The oracle is the batch score query —
    streamed scores must equal batch scores row for row."""
    from crawspark.operators.lmquality import _clf_train, clf_score_docs
    from crawspark.sources import read_testdata

    _, _, _, w = _clf_train(spark, sf_dir)  # offline training pass
    return _frontier_drain(spark, sf_dir, "sscore",
                           read_testdata(spark, sf_dir, "documents")
                           .select("doc_id", "source", "text"),
                           lambda batch: clf_score_docs(batch, w))


@register("stream_join_left_outer", sql="""
    SELECT l.user_id AS user_id, count(*) AS n_rows,
           CAST(sum(CASE WHEN r.event_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unmatched
    FROM events l LEFT JOIN events r
      ON l.user_id = r.user_id AND r.event_id % 2 = 1
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE
    WHERE l.event_id % 2 = 0
    GROUP BY l.user_id
""")
def stream_join_left_outer(spark, sf_dir):
    """LEFT OUTER watermarked interval join, drained end to end: even
    events stream left, odd events right; matched pairs emit like the
    inner join and every left event whose partner never arrives inside
    the interval emits once with a NULL right id — but ONLY after the
    min-of-both-streams watermark passes its expiry, which a plain
    availableNow drain never reaches. run_left_join_drained appends two
    far-future sentinel events per stream (mtime-ordered into trailing
    microbatches, maxFilesPerTrigger=1) so the first pair advances both
    watermarks and the second pair forces the flush batches. Parity vs
    the DuckDB batch LEFT JOIN is the correctness claim (right-side
    predicate in the ON clause, as left-join semantics require)."""
    from crawspark.scratch import scratch_dir
    from crawspark.sources import read_testdata
    from crawspark.streaming.joined import run_left_join_drained

    base = scratch_dir("sljoin", sf_dir, clean=("out", "ck"))
    left, right, out, ck = (os.path.join(base, d)
                            for d in ("left", "right", "out", "ck"))
    events = read_testdata(spark, sf_dir, "events")
    (events.filter(F.col("event_id") % 2 == 0)
     .repartition(2).write.mode("overwrite").parquet(left))
    (events.filter(F.col("event_id") % 2 == 1)
     .repartition(2).write.mode("overwrite").parquet(right))
    import datetime as _dt

    span_days = _span_days(events)
    # sentinel must clear max_ts + watermark delay + interval
    sentinel_ts = (events.agg(F.max("ts")).first()[0]
                   + _dt.timedelta(days=span_days + 1))
    run_left_join_drained(spark, left, right, out, ck,
                          sentinel_ts=sentinel_ts,
                          watermark=f"{span_days} days")
    return (spark.read.parquet(out)
            .filter(F.col("left_id") >= 0)
            .groupBy("user_id")
            .agg(F.count("*").alias("n_rows"),
                 F.sum(F.col("right_id").isNull().cast("int")).cast("long")
                 .alias("n_unmatched")))


@register("stream_fix_mojibake", sql=FIX_MOJIBAKE_SQL)
def stream_fix_mojibake(spark, sf_dir):
    """Encoding hygiene in the stream: the crawl increment (corpus +
    mojibake plants, the SAME augment as batch) drains through an
    AvailableNow file stream and every microbatch runs the identical
    chained-replace repair (stateless per row — no watermark, no state
    store). The oracle is the BATCH fix_mojibake SQL: streamed repairs
    must hash-equal batch repairs row for row, the same batch-parity
    contract as stream_extract_incremental / stream_score_quality."""
    from crawspark.operators.textops import moji_augment, moji_repair
    from crawspark.sources import read_testdata

    return _frontier_drain(spark, sf_dir, "smoji",
                           moji_augment(read_testdata(spark, sf_dir,
                                                      "documents")),
                           moji_repair)


def _rewrite_boiler_sql():
    # Importing lmquality forces its @register calls, so a direct
    # `import crawspark.streaming.queries` works standalone instead of
    # relying on load_all()'s import order (ADVICE r5: a bare import
    # raised KeyError because the registry entry did not exist yet).
    from crawspark.operators import lmquality  # noqa: F401
    from crawspark.registry import REGISTRY
    return REGISTRY["rewrite_drop_boilerplate"].sql


@register("stream_rewrite_boilerplate", sql=_rewrite_boiler_sql())
def stream_rewrite_boilerplate(spark, sf_dir):
    """The rewrite family in the stream, production shape: the
    corpus-global boilerplate SET is computed ONCE in batch (the model —
    yesterday's corpus), then the document frontier drains through an
    AvailableNow stream and every microbatch drops those lines from ITS
    documents and rebuilds them (per-doc work only — the global state
    enters as a broadcast join, never as streaming state). Oracle = the
    batch rewrite SQL: streamed rewrites must hash-equal batch rewrites
    row for row."""
    from crawspark.operators.lmquality import (
        _boiler_set,
        _line_arrays,
        drop_boilerplate,
    )
    from crawspark.sources import read_testdata

    docs = read_testdata(spark, sf_dir, "documents")
    # offline pass: the corpus-global boilerplate set (its line-frequency
    # table is localCheckpointed inside _boiler_set, so microbatches reuse
    # the materialized table)
    boiler = _boiler_set(_line_arrays(docs))
    return _frontier_drain(spark, sf_dir, "srewrite",
                           docs.select("doc_id", "text"),
                           lambda batch: drop_boilerplate(batch, boiler))
