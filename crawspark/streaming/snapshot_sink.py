"""Streaming extraction into a transactional table: foreachBatch →
SnapshotParquetBackend commits, exactly-once under microbatch replay.

Structured Streaming's foreachBatch contract is AT-LEAST-once: after a
failure the same ``batch_id`` can be re-delivered, so an append-only
parquet sink duplicates rows. The lakehouse pattern (Iceberg/Delta
``txnAppId``/snapshot-summary idempotence) is: record the batch id IN
the table commit, atomically with the data, and skip any replayed batch
whose id is <= the committed one. SnapshotParquetBackend's manifest
props carry that id here — the same job against real Iceberg writes it
to the snapshot summary.

At 10^12 documents this is the shape of the continuously-ingesting
extraction pipeline: file-source stream over the interleaved table,
the SAME extract operator as batch, one transactional commit per
microbatch, time travel across ingestion history for free.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from crawspark.operators.extract import extract_documents
from crawspark.schema import DOCUMENTS_INTERLEAVED
from crawspark.sources.tables import SnapshotParquetBackend
from crawspark.streaming import drain

BATCH_PROP = "stream_batch_id"


def commit_batch(backend: SnapshotParquetBackend, table: str,
                 batch_df, batch_id: int) -> bool:
    """Idempotently commit one extracted microbatch. Returns False when
    ``batch_id`` was already committed (replay after failure) — the
    duplicate delivery is dropped without touching the table."""
    last = backend.table_props(table).get(BATCH_PROP)
    if last is not None and int(last) >= batch_id:
        return False
    backend.append(extract_documents(batch_df), table,
                   props={BATCH_PROP: batch_id})
    return True


def run_extract_to_snapshot(spark: SparkSession, input_path: str,
                            checkpoint_path: str,
                            backend: SnapshotParquetBackend,
                            table: str) -> None:
    """Drain currently-available interleaved input into ``table``, one
    input file per microbatch and one snapshot commit per microbatch —
    the multi-commit regime a continuous ingest runs in. Re-invocations
    process only new files (streaming checkpoint) and replayed batches
    commit nothing (manifest-props idempotence)."""
    stream = (spark.readStream.schema(DOCUMENTS_INTERLEAVED)
              .option("maxFilesPerTrigger", 1).parquet(input_path))
    drain(stream.writeStream.foreachBatch(
        lambda batch_df, batch_id: commit_batch(backend, table, batch_df,
                                                batch_id)), checkpoint_path)
