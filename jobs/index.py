"""spark-submit job: build a CDX-style capture index — every outlink of
the extracted corpus keyed by its SURT canonical form, GLOBALLY sorted
across range-partitioned shards (the layout a web-archive lookup binary-
searches), written as parquet, one JSON stats line.

Usage:
  spark-submit --py-files $(python -c 'from crawspark.bundle import build_zip; print(build_zip())') \\
      jobs/index.py --sf-dir /root/testdata/sf0.1 --out /tmp/cdx --shards 8

Scale shape: surt computation is map-side (the shared surt_exprs chain,
all JVM ops); the ONE wide stage is repartitionByRange(surt) — Spark
samples the key distribution to pick balanced range bounds — then each
shard sorts locally. part-i of the output holds a contiguous, sorted,
non-overlapping surt range: global order = file order + in-file order,
which is exactly what makes the index binary-searchable without any
global merge. At 10^12 docs the same plan holds — the range exchange
shuffles (surt, url) pairs only, never document payloads.
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
    ap.add_argument("--out", required=True, help="index output parquet dir")
    ap.add_argument("--shards", type=int, default=8,
                    help="range partitions (output files)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from crawspark.operators.extraction_queries import _extracted
    from crawspark.operators.relational import surt_exprs
    from crawspark.session import get_spark

    spark = get_spark(master=args.master, app="crawspark-index")

    links = (_extracted(spark, args.sf_dir)
             .select("doc_id", F.explode("outlinks").alias("url")))
    host, surt = surt_exprs(F.col("url"))
    idx = (links.select(surt.alias("surt"), "url", "doc_id")
           .filter(host != "")
           .repartitionByRange(args.shards, "surt")
           .sortWithinPartitions("surt", "url"))
    idx.write.mode("overwrite").parquet(args.out)

    back = spark.read.parquet(args.out)
    n = back.count()
    n_parts = len([p for p in Path(args.out).iterdir()
                   if p.name.startswith("part-")])
    print(json.dumps({"n_urls": n, "n_shards": n_parts,
                      "n_distinct_surts": back.select("surt")
                                              .distinct().count(),
                      "out": args.out}))
    spark.stop()


if __name__ == "__main__":
    main()
