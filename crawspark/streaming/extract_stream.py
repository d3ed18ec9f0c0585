"""Structured Streaming variant of the extraction pipeline (SURVEY.md §2.7,
§7 M8 — optional milestone).

The reference's crawl loop is a long-running incremental process
[R: crawtext.py main loop]; its Spark-native equivalent is a file-source
stream over the interleaved documents table drained by
``crawspark.streaming.drain`` (``Trigger.AvailableNow``): each invocation
drains whatever input has appeared since the last run and stops —
incremental batch with streaming-checkpoint exactly-once bookkeeping
(offsets + sink commit log), complementing the batch checkpoint table
(crawspark.checkpoint) with engine-level dedup of input files.

No watermarks / event-time windows: the semantics have no late-data or
event-time aggregation (SURVEY.md §2.7) — the stream is stateless
per-document extraction, so ``foreachBatch`` applies the SAME
extract_documents operator used in batch (one implementation).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from crawspark.operators.extract import extract_documents
from crawspark.schema import DOCUMENTS_INTERLEAVED
from crawspark.streaming import drain


def run_available_now(spark: SparkSession, input_path: str, output_path: str,
                      checkpoint_path: str) -> None:
    """Drain all currently-available input files through extraction into
    ``output_path``. Re-invoking after new files land processes only the
    new files (exactly-once via the streaming checkpoint)."""
    stream = (spark.readStream
              .schema(DOCUMENTS_INTERLEAVED)
              .parquet(input_path))
    drain(stream.writeStream.foreachBatch(
        lambda batch_df, _batch_id: extract_documents(batch_df)
        .write.mode("append").parquet(output_path)), checkpoint_path)
