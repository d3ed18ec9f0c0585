"""spark-submit job: the crawl MAIN LOOP [R: crawtext.py's
fetch-extract-frontier iteration] recomposed as rounds of declarative
DataFrame waves over a simulated web.

Each round:
  1. the frontier (URLs not yet visited) is gated through the
     from-scratch RFC 9309 robots parser (per-host rules, cached per
     Arrow batch — the same deterministic rule synthesis as the
     `robots_filter_frontier` registry query);
  2. allowed URLs are "fetched" (resolved against the documents table
     — the corpus plays the web) and run through the REAL extraction
     pipeline (interleave_and_extract), producing span counts;
  3. outlinks (the deterministic corpus link graph — the
     `frontier_bfs` edge formula) are canonicalized into the next
     frontier, anti-joined against everything already visited.

Every round checkpoints its fetched set + metrics to
``out/rounds/NNN`` with a commit marker; rerunning the same --out
resumes AFTER the last committed round (the crawl-loop twin of the
extraction checkpoint's resume semantics). At 10^12 docs each wave
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


def robots_text_for(host: str) -> str:
    # deterministic per-host rules — the robots_filter_frontier grid:
    # len%3==0 all-disallow, ==1 /d-prefix rules, ==2 crawspark group
    m = len(host) % 3
    if m == 0:
        return "User-agent: *\nDisallow: /\n"
    if m == 1:
        return ("User-agent: googlebot\nDisallow: /\n\n"
                "User-agent: *\nDisallow: /d\nAllow: /d1\n")
    return ("User-agent: crawspark\nCrawl-delay: 2\nDisallow:\n\n"
            "User-agent: *\nDisallow: /\n")


def robots_allowed_df(urls):
    """urls(doc_id, url) -> + allowed boolean, via the real parser."""
    import pandas as pd
    from pyspark.sql import functions as F

    host = F.lower(F.regexp_extract(
        "url", r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1))
    path = F.regexp_extract(
        "url", r"^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    with_hp = urls.withColumn("host", host).withColumn("path", path)

    def decide(batches):
        from crawspark.oracle.robots import parse_robots, robots_allowed
        cache: dict = {}
        for pdf in batches:
            flags = []
            for h, p in zip(pdf["host"], pdf["path"]):
                if h not in cache:
                    cache[h] = parse_robots(robots_text_for(h), "crawspark")
                flags.append(bool(robots_allowed(cache[h]["rules"],
                                                 p or "/")))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "url": pdf["url"], "allowed": flags})

    return with_hp.select("doc_id", "url", "host", "path").mapInPandas(
        decide, "doc_id long, url string, allowed boolean")


def run(spark, sf_dir: str, out: str, rounds: int, seeds: int) -> dict:
    from pyspark.sql import functions as F

    from crawspark.operators.extract import interleave_and_extract
    from crawspark.sources import local_frame, read_testdata

    out_dir = Path(out)
    docs = read_testdata(spark, sf_dir, "documents")
    total = docs.count()
    ids = docs.select("doc_id")
    edges = (ids.select(F.col("doc_id").alias("src"),
                        ((F.col("doc_id") * 7 + 3) % total).alias("dst"))
             .union(ids.select(F.col("doc_id").alias("src"),
                               ((F.col("doc_id") * 3 + 1) % total)
                               .alias("dst")))
             .localCheckpoint(eager=True))

    stats: list[dict] = []
    visited = local_frame(spark, [], "doc_id long")
    frontier = ids.filter(F.col("doc_id") < seeds)
    for rnd in range(rounds):
        rdir = out_dir / "rounds" / f"{rnd:03d}"
        marker = rdir / "_COMMITTED"
        if marker.exists():
            # resume: reload the committed round instead of refetching
            fetched = spark.read.parquet(str(rdir / "fetched"))
            stats.append(json.loads(marker.read_text()))
        else:
            urls = frontier.select(
                "doc_id", url_for_expr(F.col("doc_id")).alias("url"))
            gated = robots_allowed_df(urls).localCheckpoint(eager=True)
            allowed = gated.filter("allowed").select("doc_id")
            blocked = gated.filter("NOT allowed").count()
            batch = docs.join(allowed, "doc_id")
            ext = interleave_and_extract(batch)
            fetched = (ext.select("doc_id", F.size("spans").alias("n_spans"))
                       .localCheckpoint(eager=True))
            (rdir / "fetched").parent.mkdir(parents=True, exist_ok=True)
            fetched.write.mode("overwrite").parquet(str(rdir / "fetched"))
            row = {"round": rnd,
                   "frontier": frontier.count(),
                   "blocked_by_robots": blocked,
                   "fetched": fetched.count(),
                   "spans": (fetched.agg(F.sum("n_spans")).collect()[0][0]
                             or 0)}
            stats.append(row)
            marker.write_text(json.dumps(row))  # commit AFTER the data
        fetched_ids = fetched.select("doc_id")
        visited = visited.union(fetched_ids).union(
            frontier.select("doc_id")).distinct().localCheckpoint(eager=True)
        frontier = (fetched_ids.join(edges,
                                     fetched_ids.doc_id == edges.src)
                    .select(F.col("dst").alias("doc_id")).distinct()
                    .join(visited, "doc_id", "left_anti")
                    .localCheckpoint(eager=True))
    return {"rounds": stats, "visited": visited.count(),
            "next_frontier": frontier.count()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--seeds", type=int, default=8)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from crawspark.bundle import ensure_shipped
    from crawspark.session import get_spark

    spark = get_spark(master=args.master or "local[8]",
                      shuffle_partitions=8)
    ensure_shipped(spark)
    summary = run(spark, args.sf_dir, args.out, args.rounds, args.seeds)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
