"""spark-submit job: standalone deduplication over a documents table —
pick a strategy, write the resolution (or pair) table, print one JSON
stats line.

Usage:
  spark-submit --py-files $(python -c 'from crawspark.bundle import build_zip; print(build_zip())') \\
      jobs/dedup.py --sf-dir /root/testdata/sf0.1 --out /tmp/dedup \\
      --strategy minhash

Strategies (all oracle-checked registry queries, operators/dedup.py):
  exact        md5 whole-document groups
  minhash      MinHash+LSH candidates -> exact-Jaccard verify ->
               connected components -> min-id keeper per cluster
  winnowing    position-aware (MOSS) shared-run fingerprints -> components
  incremental  the daily-crawl shape: the increment (doc_id % 10 == 0)
               probes the corpus band index; old x old never joins
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
    ap.add_argument("--out", required=True, help="output parquet dir")
    ap.add_argument("--master", default=None)
    ap.add_argument("--strategy", default="minhash",
                    choices=("exact", "minhash", "winnowing", "incremental"))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from crawspark.registry import load_all
    from crawspark.session import get_spark
    from crawspark.sources import read_testdata

    query = {"exact": "dedup_exact",
             "minhash": "dedup_minhash_resolve",
             "winnowing": "dedup_winnowing_resolve",
             "incremental": "dedup_incremental_minhash"}[args.strategy]
    spark = get_spark(master=args.master, app="crawspark-dedup")
    n_in = read_testdata(spark, args.sf_dir, "documents").count()
    result = load_all()[query].spark(spark, args.sf_dir)
    result.write.mode("overwrite").parquet(args.out)
    back = spark.read.parquet(args.out).cache()
    rec = {"strategy": args.strategy, "query": query,
           "docs_in": n_in, "rows_out": back.count(), "out": args.out}
    if args.strategy in ("minhash", "winnowing"):
        # resolution tables: (doc_id, keep_id) for every doc touched by a
        # duplicate edge; docs dropped = rows whose keeper is another doc
        rec["n_groups"] = back.select("keep_id").distinct().count()
        rec["docs_dropped"] = back.filter(
            F.col("doc_id") != F.col("keep_id")).count()
    elif args.strategy == "incremental":
        rec["n_new_old_pairs"] = back.filter(
            F.col("pair_type") == "new_old").count()
        rec["n_new_new_pairs"] = back.filter(
            F.col("pair_type") == "new_new").count()
    print(json.dumps(rec))
    spark.stop()


if __name__ == "__main__":
    main()
