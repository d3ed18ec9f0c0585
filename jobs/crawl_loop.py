"""spark-submit job: the crawl MAIN LOOP [R: crawtext.py's
fetch-extract-frontier iteration] recomposed as rounds of declarative
DataFrame waves over a simulated web.

Each round ``r`` (all tables under one ``ParquetBackend(out)``):
  1. the frontier (URLs not yet visited) goes through
     ``relational.robots_gate``, the one robots.txt gate the
     `robots_filter_frontier` and `frontier_schedule` registry queries
     share (the from-scratch RFC 9309 parser over each host's
     synthesized robots.txt), and is written as ``frontier_r``
     (doc_id, allowed);
  2. allowed URLs are "fetched" (resolved against the documents table
     — the corpus plays the web), interleaved and run through the REAL
     extraction pipeline by ``CheckpointedExtraction`` into
     ``spans_r`` under run_id ``round-r``;
  3. outlinks of the fetched docs (the deterministic corpus link graph
     — the `frontier_bfs` edge formula) become the next frontier,
     anti-joined against ``visited``, the union of the frontier tables.

A frontier table is a pure function of the earlier rounds, so a rerun
of the same --out rewrites it identically; every other durable fact is
a row of the shared ``checkpoint`` table. A rerun therefore re-extracts
only the partitions whose done row is missing or stale — a kill
mid-round costs that round's pending partitions, not the round — and
drops the output of partitions whose documents left the frontier. Round stats read the
frontier tables and ``report.run_report``. At 10^12 docs each wave
shuffles only (doc_id) frontier keys and the per-round extraction
batch — never the accumulated corpus.

Usage:
  spark-submit --py-files $(python -c 'from crawspark.bundle import build_zip; print(build_zip())') \\
      jobs/crawl_loop.py --sf-dir /root/testdata/sf0.001 \\
      --out /tmp/crawl --rounds 3 [--seeds 8]
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def url_for_expr(col):
    from pyspark.sql import functions as F

    return F.concat(F.lit("https://h"), (col % 37).cast("string"),
                    F.lit(".example.com/p/"), col.cast("string"))


def run(spark, sf_dir: str, out: str, rounds: int, seeds: int) -> dict:
    from datetime import datetime, timezone
    from functools import reduce

    from pyspark.sql import DataFrame, functions as F

    from crawspark.checkpoint import CheckpointedExtraction
    from crawspark.operators.extract import interleave_documents
    from crawspark.operators.relational import robots_gate
    from crawspark.report import run_report
    from crawspark.sources import local_frame, read_testdata
    from crawspark.sources.tables import ParquetBackend

    # one completed_ts per invocation: it must grow from one rerun to the
    # next, since each partition's latest done row wins
    started = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S.%f")
    backend = ParquetBackend(out)
    docs = read_testdata(spark, sf_dir, "documents")
    total = docs.count()
    src = F.col("doc_id").cast("long")
    outlinks = F.explode(F.array((src * 7 + 3) % total, (src * 3 + 1) % total))
    frontier = docs.select("doc_id").filter(F.col("doc_id") < seeds)
    gated = []
    for rnd in range(rounds):
        urls = frontier.select(
            "doc_id", url_for_expr(F.col("doc_id")).alias("url"))
        backend.overwrite(robots_gate(urls).select("doc_id", "allowed"),
                          f"frontier_{rnd:03d}")
        gated.append(backend.read(spark, f"frontier_{rnd:03d}"))
        allowed = gated[-1].filter("allowed").select("doc_id")
        results = f"spans_{rnd:03d}"
        CheckpointedExtraction(backend, results_table=results).run(
            spark, interleave_documents(docs.join(allowed, "doc_id")),
            run_id=f"round-{rnd:03d}", completed_ts=started)
        if not backend.exists(spark, results):  # nothing was fetched
            frontier = local_frame(spark, [], "doc_id long")
            continue
        visited = reduce(DataFrame.union, gated).select("doc_id")
        frontier = (backend.read(spark, results)
                    .select(outlinks.alias("doc_id")).distinct()
                    .join(visited, "doc_id", "left_anti"))

    done = {}
    if backend.exists(spark, "checkpoint"):
        done = {r.run_id: r for r in run_report(spark, backend).collect()}
    stats = []
    for rnd, g in enumerate(gated):
        n, blocked = g.agg(F.count("*"), F.count_if(~F.col("allowed"))).first()
        r = done.get(f"round-{rnd:03d}")
        stats.append({"round": rnd, "frontier": n,
                      "blocked_by_robots": blocked,
                      "fetched": r.docs_out if r else 0,
                      "spans": r.spans_out if r else 0})
    # the frontiers are disjoint: each is anti-joined against the earlier
    return {"rounds": stats,
            "visited": sum(s["frontier"] for s in stats),
            "next_frontier": frontier.count()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--seeds", type=int, default=8)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from crawspark.session import get_spark

    spark = get_spark(master=args.master, app="crawspark-crawl")
    summary = run(spark, args.sf_dir, args.out, args.rounds, args.seeds)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
