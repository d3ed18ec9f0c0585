"""Extra benchmark harness for the optimization round (guide §1.4):
isolates individual registry queries with the noop sink (times the
computation, not the sink) and captures .explain("formatted") plans.

NOT part of the driver contract — bench.py stays the frozen measurement
surface. Usage:

  python bench_extra.py --sf /root/testdata/sf1.0 --repeats 3 q1 q2 ...
  python bench_extra.py --plans plans/r06 --suffix before q1 q2 ...
  python bench_extra.py --all            # every headline query

Prints one JSON line {"queries": {name: best_sec}, "sf": ...} plus a
per-run trace to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    "q1_pricing_summary", "join_media_docs", "window_dedup_first",
    "dedup_exact", "dedup_minhash_lsh", "dedup_minhash_resolve",
    "dedup_ngram_jaccard", "decode_bytes", "text_token_count",
    "embedding_cosine_pairs", "ann_cosine_topk", "ann_search_ivf",
    "quality_lm_perplexity", "dsir_importance_weights", "bpe_train_merges",
    "curate_corpus_v3", "quality_kn_perplexity", "quality_classifier_score",
    "join_asof_versions", "dedup_winnowing_resolve",
    "dedup_incremental_minhash", "dedup_substring_coverage",
    "pack_context_windows", "fix_mojibake", "text_char_entropy",
    "surt_url_index", "rewrite_drop_boilerplate",
    "rewrite_drop_dup_substrings",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0"))
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--plans", default=None,
                    help="directory to write <name>_<suffix>.txt plans")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--no-time", action="store_true",
                    help="plans only, skip timing")
    ap.add_argument("--count", action="store_true",
                    help="materialize via .count() (bench.py's method) "
                         "instead of the noop sink")
    args = ap.parse_args()
    names = HEADLINE if args.all else args.names

    from crawspark.registry import load_all
    from crawspark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(master=f"local[{cpus}]", app="crawspark-bench-extra",
                      shuffle_partitions=cpus)
    registry = load_all()

    if args.plans:
        Path(args.plans).mkdir(parents=True, exist_ok=True)
        for name in names:
            df = registry[name].spark(spark, args.sf)
            jvm = spark._jvm
            plan = jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            out = Path(args.plans) / f"{name}_{args.suffix}.txt"
            out.write_text(plan)
            print(f"plan -> {out}", file=sys.stderr)
        if args.no_time:
            spark.stop()
            return

    # warmup pass at the smallest SF (JIT / python-worker spin-up)
    for name in names:
        try:
            registry[name].spark(spark, "/root/testdata/sf0.001").count()
        except Exception as e:  # noqa: BLE001
            print(f"warmup {name}: {e}", file=sys.stderr)

    timings: dict[str, float] = {}
    for name in names:
        times = []
        for i in range(args.repeats):
            spark.sparkContext.setJobDescription(f"{name} #{i}")
            t0 = time.perf_counter()
            df = registry[name].spark(spark, args.sf)
            if args.count:
                df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            times.append(dt)
            print(f"{name} run{i}: {dt:.3f}s", file=sys.stderr)
        timings[name] = round(min(times), 3)
    print(json.dumps({"queries": timings, "sf": args.sf,
                      "method": "count" if args.count else "noop"}))
    spark.stop()


if __name__ == "__main__":
    main()
