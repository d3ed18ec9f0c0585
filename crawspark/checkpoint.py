"""Checkpointed, idempotently-resumable extraction runs
(BASELINE.json:L6,L14; FIXTURES.md §1.3).

Design:
- The resume unit is a LOGICAL partition: ``partition_key =
  'part=' || pmod(xxhash64(doc_id), n_parts)`` — stable across runs and
  cluster sizes (Spark's physical partition ids are not).
- ``input_fingerprint`` = bit_xor of xxhash64(doc_id) within the
  partition — order-independent, computed JVM-side. The driver collects
  the fingerprint rows and each partition's LATEST done row (by
  ``completed_ts``, injected by the caller and growing from one
  invocation of a run_id to the next), each at most ``n_parts``, and
  re-extracts where they differ: after inputs A→B→A, the partitions B
  changed run again. The input is filtered with ``partition_key IN``.
- The extraction runs in ``min(n_parts, defaultParallelism)`` tasks:
  ``n_parts`` sets the resume granularity, not the task count. A Python
  task costs ≈0.23 CPU-s before any work (4-core box, PySpark 4.1,
  CPython 3.11: ``setup_spark_files`` → ``importlib.invalidate_caches()``
  → zipimport re-reads ``pyspark.zip``'s directory).
- Results are written with dynamic partition overwrite keyed on
  ``partition_key``: re-processing a partition REPLACES its output files,
  so a crash between the results write and the checkpoint write cannot
  double-count — the rerun converges to the same table state
  (Iceberg's overwritePartitions gives the same semantics atomically).

The reference has no analog — crawtext restarts re-query MongoDB for
unseen URLs [R: database.py queue semantics]; this is the Spark-native
equivalent demanded by the north rule.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Row, SparkSession, functions as F

from crawspark.operators.extract import extract_documents
from crawspark.operators.partitioning import salted_repartition
from crawspark.sources.tables import TableBackend


def with_partition_key(df: DataFrame, n_parts: int) -> DataFrame:
    return df.withColumn(
        "partition_key",
        F.concat(F.lit("part="),
                 F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)).cast("string")))


def partition_fingerprints(df: DataFrame) -> DataFrame:
    """(partition_key, input_fingerprint, docs_in) — JVM-side aggregates."""
    return (df.groupBy("partition_key")
            .agg(F.expr("cast(bit_xor(xxhash64(doc_id)) as string)")
                 .alias("input_fingerprint"),
                 F.count("*").alias("docs_in")))


def latest_done(ckpt: DataFrame) -> DataFrame:
    """The latest ``done`` row per (run_id, partition_key) of a checkpoint
    table: the state its last completed run left the partition in."""
    return (ckpt.filter(F.col("status") == "done")
            .groupBy("run_id", "partition_key")
            .agg(F.max_by(F.struct(*ckpt.columns), "completed_ts").alias("r"))
            .select("r.*"))


def _collect_by_key(df: DataFrame, what: str, bound: int) -> dict[str, Row]:
    rows = df.collect()
    logging.getLogger(__name__).info("%s: %d rows collected (bound %d)",
                                     what, len(rows), bound)
    if len(rows) > bound:
        raise RuntimeError(f"{what}: {len(rows)} rows exceed the bound {bound}"
                           " (a larger n_parts earlier under this run_id?)")
    return {r["partition_key"]: r for r in rows}


class CheckpointedExtraction:
    def __init__(self, backend: TableBackend,
                 results_table: str = "extracted_spans",
                 checkpoint_table: str = "checkpoint",
                 n_parts: int = 64):
        self.backend = backend
        self.results_table = results_table
        self.checkpoint_table = checkpoint_table
        self.n_parts = n_parts

    def run(self, spark: SparkSession, docs: DataFrame, run_id: str,
            completed_ts: str, max_partitions: int | None = None) -> dict:
        """Extract ``docs`` (documents_interleaved shape); resume-aware.

        ``max_partitions`` limits how many pending partitions this
        invocation processes (also the crash-simulation hook for tests).
        Returns counters for the run report.
        """
        keyed = with_partition_key(docs, self.n_parts)
        fps = _collect_by_key(partition_fingerprints(keyed),
                              "input fingerprint rows", self.n_parts)
        done = {}
        if self.backend.exists(spark, self.checkpoint_table):
            ckpt = self.backend.read(spark, self.checkpoint_table)
            done = {k: r.input_fingerprint for k, r in _collect_by_key(
                latest_done(ckpt.filter(F.col("run_id") == run_id)),
                "checkpoint done rows", self.n_parts).items()}
        pending = sorted(k for k, r in fps.items()
                         if done.get(k) != r.input_fingerprint)[:max_partitions]
        if not pending:
            return {"run_id": run_id, "partitions_processed": 0,
                    "docs_out": 0, "spans_out": 0}

        width = min(self.n_parts, spark.sparkContext.defaultParallelism)
        todo = keyed.filter(F.col("partition_key").isin(pending))
        extracted = extract_documents(salted_repartition(todo, partitions=width))
        extracted = with_partition_key(extracted, self.n_parts).cache()

        # Idempotent per-partition replace (parquet: dynamic overwrite;
        # Iceberg backend: atomic overwritePartitions).
        self.backend.overwrite_partitions(
            extracted.select("partition_key", "doc_id", "spans", "lang",
                             "n_spans"),
            self.results_table, "partition_key")

        metrics = {r[0]: (r[1], r[2] or 0) for r in extracted.groupBy(
            "partition_key").agg(F.count("*"), F.sum("n_spans")).collect()}
        extracted.unpersist()
        ckpt_rows = spark.createDataFrame(
            [(run_id, k, "done", fps[k].docs_in, *metrics.get(k, (0, 0)),
              fps[k].input_fingerprint)
             for k in pending],
            schema=("run_id string, partition_key string, status string, "
                    "docs_in long, docs_out long, spans_out long, "
                    "input_fingerprint string"),
        ).withColumn("completed_ts", F.lit(completed_ts).cast("timestamp"))
        self.backend.append(ckpt_rows, self.checkpoint_table)

        return {"run_id": run_id, "partitions_processed": len(pending),
                "docs_out": sum(m[0] for m in metrics.values()),
                "spans_out": sum(m[1] for m in metrics.values())}
