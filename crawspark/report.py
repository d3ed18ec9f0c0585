"""Run reports over the checkpoint/lineage table [R: report.py — crawl
status reports from MongoDB logs]."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from crawspark.checkpoint import latest_done
from crawspark.sources.tables import TableBackend


def run_report(spark: SparkSession, backend: TableBackend,
               checkpoint_table: str = "checkpoint") -> DataFrame:
    """Per-run rollup of each partition's latest done row: partitions
    done, docs in/out, spans, drop rate."""
    ck = latest_done(backend.read(spark, checkpoint_table))
    return (ck.groupBy("run_id")
            .agg(F.count("*").alias("partitions_done"),
                 F.sum("docs_in").alias("docs_in"),
                 F.sum("docs_out").alias("docs_out"),
                 F.sum("spans_out").alias("spans_out"),
                 F.round(F.avg(F.col("spans_out") / F.col("docs_out")), 3)
                 .alias("avg_spans_per_doc"),
                 F.max("completed_ts").alias("last_completed_ts")))


def extraction_report(extracted: DataFrame) -> DataFrame:
    """Corpus-level content report: per-lang docs, spans by kind, chars."""
    kinds = (extracted
             .select("lang", F.explode("spans").alias("s"))
             .groupBy("lang", F.col("s.kind").alias("kind"))
             .agg(F.count("*").alias("n_spans"),
                  F.sum(F.length("s.text")).cast("long").alias("chars")))
    return kinds.orderBy("lang", "kind")
