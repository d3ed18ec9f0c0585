"""spark-submit job: end-to-end training-data curation over a documents
table — exact dedup → fuzzy (MinHash+LSH, verified, connected-components)
dedup → language/quality gates → token accounting — writing the curated
corpus and printing one JSON stats line.

Usage:
  spark-submit --py-files $(python -c 'from crawspark.bundle import build_zip; print(build_zip())') \\
      jobs/curate.py --sf-dir /root/testdata/sf0.1 --out /tmp/curated

The pipeline is the same oracle-checked chain as the `curate_corpus`
registry query (crawspark/operators/curate.py); this wrapper adds the
sink and the survivor-rate accounting a pipeline operator watches.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True,
                    help="dir containing documents.parquet")
    ap.add_argument("--out", required=True, help="curated output parquet dir")
    ap.add_argument("--master", default=None)
    ap.add_argument("--v2", action="store_true",
                    help="r5 pipeline: + exact-substring dedup + "
                         "Gopher repetition gates")
    ap.add_argument("--v3", action="store_true",
                    help="model-based stage: + CCNet perplexity terciles, "
                         "corpus-boilerplate gate, DSIR weights")
    ap.add_argument("--v4", action="store_true",
                    help="v3 + the in-pipeline trained classifier gate "
                         "(per-language trust terciles)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from crawspark.operators.curate import (
        curate_corpus,
        curate_corpus_v2,
        curate_corpus_v3,
        curate_corpus_v4,
    )
    from crawspark.session import get_spark
    from crawspark.sources import read_testdata

    spark = get_spark(master=args.master, app="crawspark-curate")
    n_in = read_testdata(spark, args.sf_dir, "documents").count()
    pipeline = (curate_corpus_v4 if args.v4 else
                curate_corpus_v3 if args.v3 else
                curate_corpus_v2 if args.v2 else curate_corpus)
    curated = pipeline(spark, args.sf_dir)
    curated.write.mode("overwrite").parquet(args.out)
    back = spark.read.parquet(args.out)
    aggs = [F.count("*").alias("n_out"),
            F.sum("n_tokens").cast("long").alias("total_tokens")]
    if args.v4:
        aggs.append(F.round(F.avg("clf_score"), 4).alias("mean_clf_score"))
    stats = back.agg(*aggs).collect()[0]
    rec = {
        "docs_in": n_in,
        "docs_out": stats["n_out"],
        "survival_rate": round(stats["n_out"] / max(n_in, 1), 4),
        "total_tokens": int(stats["total_tokens"] or 0),
        "out": args.out,
    }
    if args.v4:
        rec["mean_clf_score"] = stats["mean_clf_score"]
    print(json.dumps(rec))
    spark.stop()


if __name__ == "__main__":
    main()
