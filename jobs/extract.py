"""spark-submit job entry (BASELINE.json:L6 "ships as a spark-submit
--py-files bundle").

Usage:
  spark-submit --py-files $(python -c 'from crawspark.bundle import build_zip; print(build_zip())') \\
      jobs/extract.py --input /path/docs_parquet --data-root /path/out \\
      --run-id r1 --completed-ts "2026-01-01 00:00:00" [--n-parts 256]
  # or a generated corpus (scaling runs):
  spark-submit ... jobs/extract.py --synthetic 200000 --data-root /tmp/out ...

Resumable: rerunning the same --run-id skips partitions whose latest
checkpoint row has a matching input fingerprint.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet dir of documents_interleaved")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic docs instead of --input")
    ap.add_argument("--data-root", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--completed-ts", required=True,
                    help="injected lineage timestamp (determinism); must "
                         "grow from one rerun of a --run-id to the next")
    ap.add_argument("--n-parts", type=int, default=256,
                    help="logical partitions: the resume granularity, i.e. "
                         "the unit a rerun skips or redoes; the extraction "
                         "runs in min(n-parts, defaultParallelism) tasks")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--master", default=None)
    ap.add_argument("--native", action="store_true",
                    help="worker-native I/O path (pyarrow read+write in "
                         "executors; file-granular checkpoint)")
    args = ap.parse_args()

    from crawspark.bundle import ensure_shipped
    from crawspark.checkpoint import CheckpointedExtraction
    from crawspark.session import get_spark
    from crawspark.sources.tables import ParquetBackend

    spark = get_spark(master=args.master, app=f"crawspark-extract-{args.run_id}")
    ensure_shipped(spark)
    if args.native:
        if not args.input:
            ap.error("--native requires --input (a parquet directory)")
        from crawspark.operators.native_extract import run_native_checkpointed
        report = run_native_checkpointed(
            spark, args.input, f"{args.data_root}/extracted_spans.parquet",
            f"{args.data_root}/checkpoint.parquet",
            run_id=args.run_id, completed_ts=args.completed_ts)
        print(json.dumps(report))
        spark.stop()
        return
    if args.synthetic:
        from crawspark.operators.extract import synthetic_corpus
        docs = synthetic_corpus(spark, args.synthetic, seed=args.seed)
    else:
        if not args.input:
            ap.error("--input or --synthetic required")
        docs = spark.read.parquet(args.input)

    job = CheckpointedExtraction(ParquetBackend(args.data_root),
                                 n_parts=args.n_parts)
    report = job.run(spark, docs, run_id=args.run_id,
                     completed_ts=args.completed_ts)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
