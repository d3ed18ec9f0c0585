"""Checkpointed, idempotently-resumable extraction runs
(BASELINE.json:L6,L14; FIXTURES.md §1.3).

Design:
- The resume unit is a LOGICAL partition: ``partition_key =
  'part=' || pmod(xxhash64(doc_id), n_parts)`` — stable across runs and
  cluster sizes (Spark's physical partition ids are not).
- ``input_fingerprint`` = bit_xor of xxhash64(doc_id, spans) within
  the partition, as a decimal string — order-independent, computed
  JVM-side. Hashing the payload too means a document rewritten under
  its old ``doc_id`` re-extracts its partition. Checkpoints recorded
  under the earlier doc_id-only format never match it, so each of their
  partitions re-extracts once. The driver collects
  the fingerprint rows and each partition's LATEST done row (by
  ``completed_ts``, injected by the caller and growing from one
  invocation of a run_id to the next), each at most ``n_parts``, and
  re-extracts where they differ: after inputs A→B→A, the partitions B
  changed run again. The input is filtered with ``partition_key IN``.
- A key whose latest done row under this ``run_id`` saw input, but
  which has no input rows now, is pending too: its results partition is
  removed (``TableBackend.drop_partitions``; a parquet results table
  left with no partition is removed whole) and its done row records
  ``docs_in = docs_out = spans_out = 0`` with a null fingerprint, so
  later runs skip it until input returns under that key. Without this,
  the vanished input's old output would stay in the results table and
  in ``report.run_report``.
- The extraction runs in ``min(n_parts, defaultParallelism)`` tasks:
  ``n_parts`` sets the resume granularity, not the task count. A Python
  task still costs ≈40 CPU-ms before any work (4-core Xeon, PySpark 4.1,
  CPython 3.11; ≈170 CPU-ms before ``crawspark.zipcache`` stopped each
  task re-reading the worker's zip archives). Tasks beyond the core
  count add that cost and no parallelism, so the width stays capped.
- Results are written with dynamic partition overwrite keyed on
  ``partition_key``: re-processing a partition REPLACES its output files,
  so a crash between the results write and the checkpoint write cannot
  double-count — the rerun converges to the same table state
  (Iceberg's overwritePartitions gives the same semantics atomically).
- Each done row's ``docs_out``/``spans_out`` are observed on the results
  write itself (an ``Observation``: one ``count_if`` and one
  ``sum(if(...))`` per pending key, at most ``n_parts``), so the
  extracted frame is neither cached nor read twice. The checkpoint rows
  are built on the driver as an Arrow ``LocalRelation``
  (``local_frame``) and never reach a Python worker: a pending resume
  runs exactly one Python stage, the extraction. They are appended from
  one task, so each append adds one data file: the done-row collect
  lists every file of the checkpoint table.

The reference has no analog — crawtext restarts re-query MongoDB for
unseen URLs [R: database.py queue semantics]; this is the Spark-native
equivalent demanded by the north rule.
"""

from __future__ import annotations

import logging

from pyspark.sql import (DataFrame, Observation, Row, SparkSession,
                         functions as F)

from crawspark.operators.extract import extract_documents
from crawspark.operators.partitioning import salted_repartition
from crawspark.schema import CHECKPOINT
from crawspark.sources.tables import TableBackend, local_frame


def with_partition_key(df: DataFrame, n_parts: int) -> DataFrame:
    return df.withColumn(
        "partition_key",
        F.concat(F.lit("part="),
                 F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)).cast("string")))


def partition_fingerprints(df: DataFrame) -> DataFrame:
    """(partition_key, input_fingerprint, docs_in) — JVM-side aggregates."""
    return (df.groupBy("partition_key")
            .agg(F.expr("cast(bit_xor(xxhash64(doc_id, spans)) as string)")
                 .alias("input_fingerprint"),
                 F.count("*").alias("docs_in")))


def latest_done(ckpt: DataFrame) -> DataFrame:
    """The latest ``done`` row per (run_id, partition_key) of a checkpoint
    table: the state its last completed run left the partition in."""
    return (ckpt.filter(F.col("status") == "done")
            .groupBy("run_id", "partition_key")
            .agg(F.max_by(F.struct(*ckpt.columns), "completed_ts").alias("r"))
            .select("r.*"))


def collect_by_key(df: DataFrame, what: str, bound: int) -> dict[str, Row]:
    """Collect ``df`` keyed on ``partition_key``; log its size and raise
    past ``bound``."""
    rows = df.collect()
    logging.getLogger(__name__).info("%s: %d rows collected (bound %d)",
                                     what, len(rows), bound)
    if len(rows) > bound:
        raise RuntimeError(f"{what}: {len(rows)} rows exceed the bound {bound}"
                           " (a wider key space earlier under this run_id,"
                           " e.g. a larger n_parts?)")
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
        fps = collect_by_key(partition_fingerprints(keyed),
                             "input fingerprint rows", self.n_parts)
        done = {}
        if self.backend.exists(spark, self.checkpoint_table):
            ckpt = self.backend.read(spark, self.checkpoint_table)
            done = {k: r.input_fingerprint for k, r in collect_by_key(
                latest_done(ckpt.filter(F.col("run_id") == run_id)),
                "checkpoint done rows", self.n_parts).items()}
        now = {k: r.input_fingerprint for k, r in fps.items()}
        # a done key with no input now differs too (its fingerprint is
        # None): its output is dropped and a null-fingerprint row recorded
        pending = sorted(k for k in now.keys() | done.keys()
                         if done.get(k) != now.get(k))[:max_partitions]
        if not pending:
            return {"run_id": run_id, "partitions_processed": 0,
                    "docs_out": 0, "spans_out": 0}

        present = [k for k in pending if k in now]
        gone = [k for k in pending if k not in now]
        metrics = dict.fromkeys(gone, (0, 0))
        if present:
            metrics |= self._extract(spark, keyed, present)
        if gone:
            self.backend.drop_partitions(spark, self.results_table,
                                         "partition_key", gone)
        ckpt_rows = local_frame(spark, [
            (run_id, k, "done", fps[k].docs_in if k in fps else 0,
             *metrics[k], now.get(k), None) for k in pending], CHECKPOINT)
        # one task, so one data file per append
        self.backend.append(ckpt_rows.coalesce(1).withColumn(
            "completed_ts", F.lit(completed_ts).cast("timestamp")),
            self.checkpoint_table)

        return {"run_id": run_id, "partitions_processed": len(pending),
                "docs_out": sum(m[0] for m in metrics.values()),
                "spans_out": sum(m[1] for m in metrics.values())}

    def _extract(self, spark: SparkSession, keyed: DataFrame,
                 pending: list[str]) -> dict[str, tuple[int, int]]:
        """Extract the ``pending`` keys of ``keyed`` into the results
        table; return each key's (docs_out, spans_out)."""
        width = min(self.n_parts, spark.sparkContext.defaultParallelism)
        todo = keyed.filter(F.col("partition_key").isin(pending))
        extracted = extract_documents(salted_repartition(todo, partitions=width))
        # Each pending key's row count and sum(n_spans) (null when
        # nothing was extracted), observed on the results write.
        pk, obs = F.col("partition_key"), Observation()
        written = with_partition_key(extracted, self.n_parts).select(
            "partition_key", "doc_id", "spans", "lang", "n_spans",
        ).observe(obs, *[agg for i, k in enumerate(pending) for agg in (
            F.count_if(pk == k).alias(f"docs_{i}"),
            F.sum(F.when(pk == k, F.col("n_spans")).otherwise(0))
            .alias(f"spans_{i}"))])

        # Idempotent per-partition replace (parquet: dynamic overwrite;
        # Iceberg backend: atomic overwritePartitions) — the one action
        # on ``written``, which fills ``obs``.
        self.backend.overwrite_partitions(written, self.results_table,
                                          "partition_key")
        m = obs.get
        return {k: (m[f"docs_{i}"], m[f"spans_{i}"] or 0)
                for i, k in enumerate(pending)}
