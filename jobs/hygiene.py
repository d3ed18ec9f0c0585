"""spark-submit job: corpus encoding/quality hygiene — audit mojibake,
NFC status, corpus-boilerplate lines, blocklist fraction and character
entropy — writing the surviving documents (ORIGINAL text) plus their
per-doc hygiene signals, and printing one JSON stats line.

Usage:
  spark-submit --py-files $(python -c 'from crawspark.bundle import build_zip; print(build_zip())') \\
      jobs/hygiene.py --sf-dir /root/testdata/sf0.1 --out /tmp/clean

The stages are the same oracle-checked operators as the registry
queries (fix_mojibake / unicode_nfc_stats / rewrite_drop_boilerplate /
quality_blocklist_gate / text_char_entropy); this wrapper chains them
over the REAL corpus (no plants). NOTE (ADVICE r5): the rewrite
operators emit md5/length signals, not rebuilt text, so the `text`
column written here is the ORIGINAL document text — `cleaned_len`
records how long the boilerplate-stripped rewrite WOULD be (a gate
signal for downstream consumers, not the length of `text`).
Scale shape: repair + NFC are map-only riders on the scan; the only
wide stages are the boilerplate line-frequency pass and the final
doc_id joins of per-doc gate columns.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# entropy band accepted as "plausible text" — outside it is binary junk
# (low) or noise (implausibly high for natural-language prose)
ENTROPY_MIN, ENTROPY_MAX = 2.5, 5.5


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True,
                    help="dir containing documents.parquet")
    ap.add_argument("--out", required=True, help="cleaned output parquet")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from crawspark.registry import load_all
    from crawspark.session import get_spark
    from crawspark.sources import read_testdata

    spark = get_spark(master=args.master, app="crawspark-hygiene")
    reg = load_all()
    docs = read_testdata(spark, args.sf_dir, "documents")
    n_in = docs.count()

    # Per-doc hygiene signals from the registered operators (plants
    # carry negative doc_ids by convention — real docs only here).
    real = F.col("doc_id") >= 0
    moji = (reg["fix_mojibake"].spark(spark, args.sf_dir)
            .filter(real).select("doc_id", "n_fixed"))
    nfc = (reg["unicode_nfc_stats"].spark(spark, args.sf_dir)
           .filter(real).select("doc_id", "is_nfc"))
    rewrite = (reg["rewrite_drop_boilerplate"].spark(spark, args.sf_dir)
               .select("doc_id", "n_dropped", "cleaned_len"))
    linededup = (reg["rewrite_dedup_doc_lines"].spark(spark, args.sf_dir)
                 .filter(real)
                 .select("doc_id",
                         F.col("n_dropped").alias("n_dup_lines")))
    block = (reg["quality_blocklist_gate"].spark(spark, args.sf_dir)
             .select("doc_id", F.col("keep").alias("k_block")))
    ent = (reg["text_char_entropy"].spark(spark, args.sf_dir)
           .select("doc_id", "char_entropy"))

    joined = (docs.select("doc_id", "lang", "source", "text")
              .join(moji, "doc_id").join(nfc, "doc_id")
              .join(rewrite, "doc_id").join(linededup, "doc_id")
              .join(block, "doc_id").join(ent, "doc_id"))
    kept = joined.filter(
        F.col("k_block")
        & F.col("char_entropy").between(ENTROPY_MIN, ENTROPY_MAX))
    (kept.select("doc_id", "lang", "source", "text",
                 "n_fixed", "is_nfc", "n_dropped", "n_dup_lines",
                 "cleaned_len")
     .write.mode("overwrite").parquet(args.out))

    back = spark.read.parquet(args.out).cache()
    stats = back.agg(
        F.count("*").alias("docs_out"),
        F.sum((F.col("n_fixed") > 0).cast("int")).alias("docs_repaired"),
        F.sum((~F.col("is_nfc")).cast("int")).alias("docs_non_nfc"),
        F.sum((F.col("n_dropped") > 0).cast("int"))
        .alias("docs_deboilered"),
        F.sum((F.col("n_dup_lines") > 0).cast("int"))
        .alias("docs_line_deduped"),
    ).collect()[0]
    print(json.dumps({"docs_in": n_in, "docs_out": stats["docs_out"],
                      "docs_repaired": stats["docs_repaired"],
                      "docs_non_nfc": stats["docs_non_nfc"],
                      "docs_deboilered": stats["docs_deboilered"],
                      "docs_line_deduped": stats["docs_line_deduped"],
                      "out": args.out}))
    spark.stop()


if __name__ == "__main__":
    main()
