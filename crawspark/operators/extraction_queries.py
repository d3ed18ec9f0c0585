"""Extraction-pipeline queries exposed to the driver contract.

These run the real vectorized extraction (oracle core inside mapInArrow)
over the driver `documents` testdata transformed into the interleaved
shape (FIXTURES.md §3). The extractor itself is not SQL — but it IS a
deterministic pure function, so the frozen Python oracle's extraction of
the sf0.01 table is materialized once to parquet
(tools/gen_extract_oracle.py) and the DuckDB oracle reads that file: the
driver's hash compare then pins the full Spark pipeline (interleave →
Arrow batching → extraction → post-aggregation) against the frozen
reference values, row by row.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from crawspark.operators.extract import extract_documents, interleave_documents
from crawspark.operators.perdoc import _docs, _per_doc
from crawspark.registry import register
from crawspark.sources import read_testdata

# Frozen-oracle extraction twins, one per testdata SF (regenerate with
# tools/gen_extract_oracle.py). The path is derived from the package
# location, not hardcoded, so a checkout anywhere still resolves (ADVICE
# r2); the SF component is resolved from the RUNTIME sf_dir each query
# receives (VERDICT r3 #4 — a static sf0_01 path silently compared the
# wrong parquet when check_registry ran at another scale). SQL for these
# queries is registered as a template with an ``__ORACLE_PQ__`` hole,
# rendered per-sf_dir by registry.QuerySpec.render_sql.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
_ORACLE_DIR = os.path.join(_REPO_ROOT, "tests", "fixtures", "extract_oracle")


def extract_oracle_path(sf_dir: str) -> str:
    """Twin parquet for an sf dir: .../sf0.01 → .../extract_oracle/
    sf0_01.parquet. An unknown SF resolves to a nonexistent path and
    DuckDB errors loudly — never a silent wrong-scale compare."""
    sf = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    return os.path.join(_ORACLE_DIR, f"{sf}.parquet")


def _sf_sql(template: str):
    def render(sf_dir: str) -> str:
        pq = f"read_parquet('{extract_oracle_path(sf_dir)}')"
        return template.replace("__ORACLE_PQ__", pq)
    return render


# Back-compat for tests that reference the sf0.01 twin directly.
EXTRACT_ORACLE_PATH = os.path.join(_ORACLE_DIR, "sf0_01.parquet")
ORACLE_PQ = "__ORACLE_PQ__"

# THE canonical span-sequence serialization (kind/text/media_ref/offset
# in order, 0x1f field / 0x1e record separators) — the single
# cross-module contract behind every per-document span-sequence md5
# (extract_span_hashes here, extract_from_warc in webarchive.py). The
# Spark expression and the DuckDB SQL below must stay byte-identical in
# output; import these, never inline a copy (r5 review finding).
# array_join(transform(...)) is linear in total span bytes; an
# aggregate() fold recopies the growing accumulator per span (O(n^2) on
# big documents).
SPAN_CANON_EXPR = (
    "array_join(transform(spans, s -> concat("
    "s.kind, char(31), coalesce(s.text, ''), char(31), "
    "coalesce(s.media_ref, ''), char(31), cast(s.offset as string), "
    "char(30))), '')")
SPAN_HASH_SQL = f"""
    SELECT doc_id,
           md5(array_to_string(list_transform(spans, s ->
             s.kind || chr(31) || coalesce(s.text, '') || chr(31) ||
             coalesce(s.media_ref, '') || chr(31) ||
             CAST(s."offset" AS VARCHAR) || chr(30)), '')) AS span_hash
    FROM {ORACLE_PQ}
"""


def _extracted(spark, sf_dir):
    from crawspark.operators.extract import interleave_and_extract
    return interleave_and_extract(read_testdata(spark, sf_dir, "documents"))


@register("extract_flagship", sql=_sf_sql(f"""
    SELECT doc_id, lang, n_spans, spans[1].kind AS first_kind
    FROM {ORACLE_PQ}
"""))
def extract_flagship(spark, sf_dir):
    # Full pipeline: scan → interleave → vectorized extract → per-doc stats.
    return (_extracted(spark, sf_dir)
            .select("doc_id", "lang", "n_spans",
                    F.element_at("spans", 1)["kind"].alias("first_kind")))


@register("agg_span_stats", sql=_sf_sql(f"""
    SELECT s.kind AS kind, count(*) AS n_spans,
           CAST(round(avg(length(s.text)), 2) AS DOUBLE) AS avg_chars
    FROM (SELECT unnest(spans) AS s FROM {ORACLE_PQ})
    GROUP BY s.kind
"""))
def agg_span_stats(spark, sf_dir):
    # Span-kind histogram + mean text length (explode → hash agg).
    return (_extracted(spark, sf_dir)
            .select(F.explode("spans").alias("s"))
            .groupBy(F.col("s.kind").alias("kind"))
            .agg(F.count("*").alias("n_spans"),
                 F.round(F.avg(F.length("s.text")), 2).alias("avg_chars")))


@register("classify_spans", sql=_sf_sql(f"""
    SELECT lang, count(*) AS n_docs,
           CAST(round(CAST(sum(content_chars) AS DOUBLE) / sum(raw_chars), 4)
                AS DOUBLE) AS content_ratio
    FROM {ORACLE_PQ} GROUP BY lang
"""))
def classify_spans(spark, sf_dir):
    # Content-vs-boilerplate verdict surfaced as a ratio: extracted payload
    # chars vs raw payload chars per language (BASELINE.json:L6).
    docs = read_testdata(spark, sf_dir, "documents")
    inter = interleave_documents(docs)
    raw = (inter.select(
        "doc_id",
        F.aggregate("spans", F.lit(0).cast("long"),
                    lambda acc, s: acc + F.coalesce(F.length(s["text"]),
                                                    F.lit(0)))
        .alias("raw_chars")))
    ext = (extract_documents(inter).select(
        "doc_id", "lang",
        F.aggregate("spans", F.lit(0).cast("long"),
                    lambda acc, s: acc + F.coalesce(F.length(s["text"]),
                                                    F.lit(0)))
        .alias("content_chars")))
    return (ext.join(raw, "doc_id")
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.sum("content_chars")
                         / F.sum("raw_chars"), 4).alias("content_ratio")))


@register("extract_lang_histogram", sql=_sf_sql(f"""
    SELECT lang, count(*) AS n_docs,
           CAST(round(avg(n_spans), 3) AS DOUBLE) AS avg_spans,
           CAST(sum(content_chars) AS BIGINT) AS content_chars
    FROM {ORACLE_PQ} GROUP BY lang
"""))
def extract_lang_histogram(spark, sf_dir):
    # Driver-visible pin for rules_v2 multilingual routing (VERDICT r3
    # Missing #1): per DETECTED language, doc count + mean span count +
    # total extracted chars. If de/es/zh stopword routing regresses those
    # pages either collapse into 'en' (rows change) or lose their content
    # spans to a wrong-language scorer (chars change) — either flips the
    # driver hash.
    ext = _extracted(spark, sf_dir)
    content = F.aggregate(
        "spans", F.lit(0).cast("long"),
        lambda acc, s: acc + F.coalesce(F.length(s["text"]), F.lit(0)))
    return (ext.select("lang", "n_spans", content.alias("content_chars"))
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg("n_spans"), 3).alias("avg_spans"),
                 F.sum("content_chars").cast("long").alias("content_chars")))


@register("window_span_order", sql=_sf_sql(f"""
    SELECT offsets_dense, count(*) AS n_docs FROM (
      SELECT coalesce(list_aggregate(
               list_transform(spans, (s, i) -> s."offset" = i - 1),
               'bool_and'), TRUE) AS offsets_dense
      FROM {ORACLE_PQ}
    ) GROUP BY offsets_dense
"""))
def window_span_order(spark, sf_dir):
    # Invariant check as a query: offsets must be dense 0..n-1 per doc.
    ext = _extracted(spark, sf_dir)
    ok = (F.aggregate(
        F.zip_with("spans",
                   F.sequence(F.lit(0), F.size("spans") - 1),
                   lambda s, i: (s["offset"] == i).cast("int")),
        F.lit(1), lambda acc, v: acc * v) == 1) | (F.size("spans") == 0)
    return (ext.select(ok.alias("offsets_dense"))
            .groupBy("offsets_dense").agg(F.count("*").alias("n_docs")))


@register("extract_span_hashes", sql=_sf_sql(SPAN_HASH_SQL))
def extract_span_hashes(spark, sf_dir):
    # THE strongest driver-visible extraction check: one md5 per document
    # over the canonical serialization of its FULL span sequence (see
    # SPAN_CANON_EXPR above). Any single-character or ordering deviation
    # from the frozen oracle flips the row's hash — per-document
    # span-sequence equality enforced by the driver's value compare, not
    # just by local fixtures.
    return (_extracted(spark, sf_dir)
            .select("doc_id", F.md5(F.expr(SPAN_CANON_EXPR))
                    .alias("span_hash")))


@register("extract_publish_dates", sql=_sf_sql(f"""
    SELECT doc_id, publish_date,
           -- TRY_CAST mirrors Spark's null-on-failure cast: a non-ISO
           -- <time datetime> fallback value must yield NULL on both
           -- engines, not a DuckDB Conversion Error (r3 review finding)
           CASE WHEN publish_date <> ''
                THEN TRY_CAST(substr(publish_date, 1, 4) AS INT)
           END AS pub_year
    FROM {ORACLE_PQ}
"""))
def extract_publish_dates(spark, sf_dir):
    # Publish-date surface [R: goose known-date-tags walk]: per-doc raw
    # value + parsed year, every row hash-pinned vs the frozen oracle
    # (including the empty-date third of the corpus).
    ext = _extracted(spark, sf_dir)
    return ext.select(
        "doc_id", "publish_date",
        F.when(F.col("publish_date") != "",
               F.substring("publish_date", 1, 4).cast("int"))
        .alias("pub_year"))


@register("extract_tags", sql=_sf_sql(f"""
    SELECT doc_id,
           CAST(len(tags) AS INT) AS n_tags,
           -- DuckDB's array_to_string returns NULL on an empty list where
           -- Spark's array_join returns '' — coalesce for hash parity
           coalesce(array_to_string(tags, '|'), '') AS tags_joined
    FROM {ORACLE_PQ}
"""))
def extract_tags_q(spark, sf_dir):
    # Tag surface [R: goose/extractors.py::extract_tags — a[rel=tag]]:
    # per-doc ordered tag list, joined for the driver's value hash.
    ext = _extracted(spark, sf_dir)
    return ext.select(
        "doc_id", F.size("tags").alias("n_tags"),
        F.array_join("tags", "|").alias("tags_joined"))


@register("outlink_domains", sql=_sf_sql(f"""
    SELECT host, count(*) AS n_links,
           count(DISTINCT doc_id) AS n_docs
    FROM (
      SELECT doc_id,
             lower(regexp_extract(unnest(outlinks),
                   '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)) AS host
      FROM {ORACLE_PQ})
    WHERE host <> '' GROUP BY host
"""))
def outlink_domains(spark, sf_dir):
    # Per-domain outlink aggregation — the frontier/politeness planning
    # surface [R: url.py host parsing; database.py queue-by-domain]: the
    # host regex is shared verbatim with the DuckDB oracle (parse_url
    # exists Spark-side but has no DuckDB twin; one regex keeps the
    # compare engine-neutral). Explode happens AFTER extraction, so the
    # shuffle carries (host, doc_id) pairs only.
    ext = _extracted(spark, sf_dir)
    host = F.lower(F.regexp_extract(
        F.col("link"), r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1))
    return (ext.select("doc_id", F.explode("outlinks").alias("link"))
            .select("doc_id", host.alias("host"))
            .filter(F.col("host") != "")
            .groupBy("host")
            .agg(F.count("*").alias("n_links"),
                 F.countDistinct("doc_id").alias("n_docs")))


@register("extract_metrics_summary", sql=_sf_sql(f"""
    SELECT CAST(4 AS BIGINT) AS n_files,
           count(*) AS docs_in,
           count(*) AS docs_out,
           CAST(sum(n_spans) AS BIGINT) AS spans_out
    FROM {ORACLE_PQ}
"""))
def extract_metrics_summary(spark, sf_dir):
    # Drives the checkpointed resume engine (crawspark/checkpoint.py) end
    # to end on a fresh table set and returns the aggregate of its latest
    # done checkpoint rows, one per logical partition; the oracle pins
    # docs_in/docs_out/spans_out against the frozen extraction. This makes
    # the §2.5 agg_extraction_metrics / §2.1 sink_checkpoint surface
    # driver-verified, not just unit-tested.
    from crawspark.checkpoint import CheckpointedExtraction, latest_done
    from crawspark.scratch import scratch_dir_fresh
    from crawspark.sources.tables import ParquetBackend

    backend = ParquetBackend(scratch_dir_fresh("checkpointed", sf_dir))
    job = CheckpointedExtraction(backend, n_parts=4)  # oracle: n_files = 4
    job.run(spark, interleave_documents(read_testdata(spark, sf_dir,
                                                      "documents")),
            run_id="metrics", completed_ts="2026-01-01 00:00:00")
    done = latest_done(backend.read(spark, job.checkpoint_table))
    return done.agg(F.count("*").alias("n_files"),
                    F.sum("docs_in").cast("long").alias("docs_in"),
                    F.sum("docs_out").cast("long").alias("docs_out"),
                    F.sum("spans_out").cast("long").alias("spans_out"))


# ---------------------------------------------------------------------------
# Multimodal plumbing: binary media columns + typed metadata through the
# shared stub decoder (multimodal.decode_media).
# ---------------------------------------------------------------------------


@register("multimodal_media_meta", sql="""
    SELECT media_kind, count(*) AS n_media,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           max(width) AS max_width
    FROM (
      -- Closed form of the deterministic payload synthesis + stub decode:
      -- payload = repeat('B' || doc_id, 10)  (so first byte is 'B' = 66,
      -- width = 160 + (66 % 8) * 80 = 320 always).
      SELECT CASE WHEN doc_id % 10 = 0 THEN 'video' ELSE 'image' END
               AS media_kind,
             10 * (1 + length(CAST(doc_id AS VARCHAR))) AS n_bytes,
             320 AS width
      FROM documents WHERE doc_id % 5 = 0
    ) GROUP BY media_kind
""")
def multimodal_media_meta(spark, sf_dir):
    # Opaque binary media column (synthesized deterministically from doc_id)
    # + mapInPandas metadata extraction; aggregated so the check is stable.
    from crawspark.operators.multimodal import decode_media

    docs = read_testdata(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0)
    video = F.col("doc_id") % 10 == 0
    media = docs.select(
        F.concat(F.lit("img://doc/"), F.col("doc_id").cast("string"),
                 F.when(video, ".mp4").otherwise(".jpg"))
        .alias("media_ref"),
        F.when(video, "video").otherwise("image").alias("media_kind"),
        F.encode(F.repeat(F.concat(F.lit("B"), F.col("doc_id").cast("string")),
                          10), "utf-8").alias("payload"))
    meta = decode_media(media)
    return (meta.groupBy("media_kind")
            .agg(F.count("*").alias("n_media"),
                 F.sum("n_bytes").cast("long").alias("total_bytes"),
                 F.max("width").alias("max_width")))


@register("extract_top_image", sql=_sf_sql(f"""
    SELECT doc_id,
           coalesce(list_filter(spans, s -> s.kind = 'image')[1].media_ref,
                    '') AS top_image,
           CAST(len(list_filter(spans, s -> s.kind = 'image')) AS INT)
             AS n_images
    FROM {ORACLE_PQ}
"""))
def extract_top_image(spark, sf_dir):
    # Doc-level top_image surface [R: goose/images/extractors.py::
    # get_best_image — the Article field]: the first image span in the
    # output sequence IS the best-scored one (resolve_media emits images
    # in scored DOM order), so top_image is a projection of the span
    # sequence, per-doc hash-checked against the frozen oracle.
    ext = _extracted(spark, sf_dir)
    imgs = F.filter("spans", lambda s: s["kind"] == F.lit("image"))
    # try_element_at: ANSI mode makes element_at THROW on an empty array
    # (docs with no images) rather than return NULL
    return ext.select(
        "doc_id",
        F.coalesce(F.try_element_at(imgs, F.lit(1))["media_ref"], F.lit(""))
        .alias("top_image"),
        F.size(imgs).cast("int").alias("n_images"))


@register("jsonld_extract_meta", sql="""
    -- closed form of oracle/jsonld.make_jsonld_page: one Article per
    -- page; headline shape cycles by d % 3 (the %3==1 branch embeds
    -- the <\\/script> JSON escape the real tokenizer must survive)
    SELECT doc_id,
           CASE doc_id % 3
                WHEN 0 THEN 'headline ' || doc_id
                WHEN 1 THEN 'breaking ' || doc_id || ' </script> trap'
                ELSE 'post ' || doc_id END AS headline,
           '2025-03-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
             AS date_published,
           'author ' || (doc_id % 17) AS author_name,
           CAST(120 + doc_id % 400 AS INT) AS word_count
    FROM documents WHERE doc_id % 10 = 3
""")
def jsonld_extract_meta(spark, sf_dir):
    # schema.org JSON-LD extraction (r5): per doc the worker builds an
    # article page whose structured-data shapes cycle (@graph wrapper,
    # escaped </script> inside a JSON string, top-level array, author
    # as string/object/list, decoy javascript block) and walks it with
    # the REAL DOM tokenizer — every recovered field driver-hashed.
    from crawspark.oracle.jsonld import (
        extract_jsonld_articles, make_jsonld_page)

    def rows(d):
        return [(d, r["headline"], r["date_published"], r["author_name"],
                 r["word_count"])
                for r in extract_jsonld_articles(make_jsonld_page(d))]

    return _per_doc(_docs(spark, sf_dir, 10, 3),
                    "doc_id long, headline string, date_published string, "
                    "author_name string, word_count int", rows)


@register("lang_confusion_matrix", sql=_sf_sql(f"""
    SELECT d.lang AS declared, e.lang AS detected,
           count(*) AS n_docs
    FROM {ORACLE_PQ} e
    JOIN documents d ON e.doc_id = CAST(d.doc_id AS VARCHAR)
    GROUP BY declared, detected
"""))
def lang_confusion_matrix(spark, sf_dir):
    # Language-ID QA: the corpus's DECLARED language (table metadata)
    # cross-tabulated against the language the extraction DETECTED
    # (meta tag honored when a table ships for it, else stopword vote)
    # — the drift report a multilingual pipeline watches to catch
    # mislabeled sources. One broadcast-able join on doc_id + a tiny
    # group-by; per-cell counts driver-hashed.
    declared = (read_testdata(spark, sf_dir, "documents")
                .select(F.col("doc_id").cast("string").alias("doc_id"),
                        F.col("lang").alias("declared")))
    detected = _extracted(spark, sf_dir).select(
        "doc_id", F.col("lang").alias("detected"))
    return (detected.join(declared, "doc_id")
            .groupBy("declared", "detected")
            .agg(F.count("*").alias("n_docs")))
