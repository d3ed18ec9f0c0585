"""Relational operator surface (SURVEY.md §2.1/2.2/2.4/2.5/2.6).

Every query here is declarative DataFrame API — Catalyst gets predicate
pushdown, column pruning and join planning for free; ``.explain`` on each
shows parquet ``PushedFilters``/``ReadSchema`` pruning and broadcast joins
where a small dimension is involved.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crawspark.operators.extraction_queries import _sf_sql
from crawspark.operators.perdoc import _docs, _per_doc
from crawspark.registry import register
from crawspark.sources import read_testdata


# ---------------------------------------------------------------------------
# Scans / projections / filters (§2.1, §2.2)
# ---------------------------------------------------------------------------

@register("scan_documents", sql="""
    SELECT doc_id, lang, source, n_chars FROM documents WHERE n_chars > 0
""")
def scan_documents(spark, sf_dir):
    return (read_testdata(spark, sf_dir, "documents")
            .filter(F.col("n_chars") > 0)
            .select("doc_id", "lang", "source", "n_chars"))


@register("project_article_fields", sql="""
    SELECT doc_id, substr(text, 1, 100) AS excerpt, lang FROM documents
""")
def project_article_fields(spark, sf_dir):
    return (read_testdata(spark, sf_dir, "documents")
            .select("doc_id",
                    F.substring("text", 1, 100).alias("excerpt"), "lang"))


@register("filter_lang", sql="""
    SELECT doc_id, lang, source FROM documents WHERE lang IN ('en', 'fr')
""")
def filter_lang(spark, sf_dir):
    return (read_testdata(spark, sf_dir, "documents")
            .filter(F.col("lang").isin("en", "fr"))
            .select("doc_id", "lang", "source"))


# Adblock-style URL rule filter [R: url.py::Url.is_valid]: synthesize an
# outlink-ish URL per doc (deterministic), drop rule matches.
_URL_EXPR = ("concat('http://', source, '.example.com/doc/', cast(doc_id as string), "
             "case when doc_id % 7 = 0 then '?utm_source=feed' else '' end)")
_URL_SQL = ("'http://' || source || '.example.com/doc/' || doc_id || "
            "CASE WHEN doc_id % 7 = 0 THEN '?utm_source=feed' ELSE '' END")
_AD_RE = r"doubleclick\.net|googlesyndication|/ads?/|[?&]utm_|adserver"


@register("filter_url_rules", sql=f"""
    SELECT doc_id, url FROM (
      SELECT doc_id, {_URL_SQL} AS url FROM documents
    ) WHERE NOT regexp_matches(url, '{_AD_RE}')
""")
def filter_url_rules(spark, sf_dir):
    return (read_testdata(spark, sf_dir, "documents")
            .withColumn("url", F.expr(_URL_EXPR))
            .filter(~F.col("url").rlike(_AD_RE))
            .select("doc_id", "url"))


@register("filter_query_relevance", sql="""
    SELECT doc_id, lang FROM documents
    WHERE (text LIKE '%data%' AND text LIKE '%query%') OR text LIKE '%stream%'
""")
def filter_query_relevance(spark, sf_dir):
    # Boolean text-query predicate [R: query.py::Query.match]: whoosh-style
    # (data AND query) OR stream, as a pushed-down LIKE combination.
    t = F.col("text")
    return (read_testdata(spark, sf_dir, "documents")
            .filter((t.contains("data") & t.contains("query"))
                    | t.contains("stream"))
            .select("doc_id", "lang"))


from crawspark.functions.boolquery import compile_query, query_to_duckdb_sql

# The reference evaluates a project's boolean query per page
# [R: query.py::Query.match]; here the SAME query string compiles to a
# Spark Column and to the DuckDB oracle predicate.
_BOOL_QUERY = '(data AND query) OR "stream" NOT spam'


@register("filter_query_boolean", sql=f"""
    SELECT doc_id, lang FROM documents
    WHERE {query_to_duckdb_sql(_BOOL_QUERY)}
""")
def filter_query_boolean(spark, sf_dir):
    return (read_testdata(spark, sf_dir, "documents")
            .filter(compile_query(_BOOL_QUERY))
            .select("doc_id", "lang"))


# ---------------------------------------------------------------------------
# Aggregations / windows / sorts / set ops (§2.5)
# ---------------------------------------------------------------------------

@register("q1_pricing_summary", sql="""
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(l_quantity), 2) AS DOUBLE)       AS sum_qty,
           CAST(round(sum(l_extendedprice), 2) AS DOUBLE)  AS sum_base_price,
           CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE)
                                                           AS sum_disc_price,
           CAST(round(avg(l_quantity), 4) AS DOUBLE)       AS avg_qty,
           count(*)                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
""")
def q1_pricing_summary(spark, sf_dir):
    # TPC-H Q1 shape: partial (map-side) agg + final agg, one shuffle on the
    # tiny group key; the heavy l_* columns never leave the scan unpruned.
    li = read_testdata(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.count("*").alias("count_order")))


@register("agg_status_counts", sql="""
    SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
           count(*) AS n_events
    FROM events GROUP BY event_type, day
""")
def agg_status_counts(spark, sf_dir):
    # Crawl-report aggregate [R: report.py] over the events stream table.
    return (read_testdata(spark, sf_dir, "events")
            .groupBy("event_type",
                     F.to_date(F.date_trunc("day", "ts")).alias("day"))
            .agg(F.count("*").alias("n_events")))


@register("agg_mktsegment", sql="""
    SELECT c_mktsegment, count(*) AS n_customers,
           CAST(round(avg(c_acctbal), 2) AS DOUBLE) AS avg_acctbal
    FROM customer GROUP BY c_mktsegment
""")
def agg_mktsegment(spark, sf_dir):
    return (read_testdata(spark, sf_dir, "customer")
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n_customers"),
                 F.round(F.avg("c_acctbal"), 2).alias("avg_acctbal")))


@register("approx_distinct_urls", sql="""
    SELECT count(DISTINCT source) AS n_sources, count(*) AS n_docs
    FROM documents
""")
def approx_distinct_urls(spark, sf_dir):
    # Exact variant for oracle parity; the scale path swaps in
    # approx_count_distinct (HLL++) — see approx_distinct_urls_hll.
    return (read_testdata(spark, sf_dir, "documents")
            .agg(F.countDistinct("source").alias("n_sources"),
                 F.count("*").alias("n_docs")))


@register("approx_distinct_urls_hll", sql="""
    SELECT count(DISTINCT source) AS n_sources_exact,
           TRUE AS hll_within_tol
    FROM documents
""")
def approx_distinct_urls_hll(spark, sf_dir):
    # HLL estimates are engine-specific, so the oracle-checkable form is the
    # PROPERTY: the estimate must land within the configured error bound of
    # the exact count (rsd=0.01 → 5% tolerance is >4 sigma).
    return (read_testdata(spark, sf_dir, "documents")
            .agg(F.countDistinct("source").alias("n_sources_exact"),
                 F.approx_count_distinct("source", 0.01).alias("approx"))
            .select("n_sources_exact",
                    (F.abs(F.col("approx") - F.col("n_sources_exact"))
                     <= 0.05 * F.col("n_sources_exact"))
                    .alias("hll_within_tol")))


@register("window_dedup_first", sql="""
    SELECT user_id, event_id, event_type FROM (
      SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id) AS rn
      FROM events
    ) WHERE rn = 1
""")
def window_dedup_first(spark, sf_dir):
    # Keep-latest-version semantics [R: page.save upsert-by-url].
    # r6: max_by with the (ts, ~event_id) comparator instead of a
    # row_number window — an AGGREGATE does partial (map-side) reduction
    # so only one candidate row per (partition, user) reaches the
    # exchange, where the window shuffled and sorted every event row
    # (guide §2.3 "aggregate before you shuffle"; measured 1.03s →
    # 0.25s at sf1.0). max(ts) then min(event_id) is exactly the
    # rn=1 row of ORDER BY ts DESC, event_id. bitwise_not (-x - 1) is
    # strictly decreasing over every long; -event_id overflows at
    # Long.MIN_VALUE (an ANSI-mode error).
    return (read_testdata(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(F.max_by(
                F.struct("event_id", "event_type"),
                F.struct(F.col("ts"),
                         F.bitwise_not("event_id").alias("inv"))).alias("m"))
            .select("user_id",
                    F.col("m.event_id").alias("event_id"),
                    F.col("m.event_type").alias("event_type")))


@register("window_running_value", sql="""
    SELECT event_id, user_id,
           CAST(round(sum(value) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id), 2) AS DOUBLE)
             AS running_value
    FROM events
""")
def window_running_value(spark, sf_dir):
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (read_testdata(spark, sf_dir, "events")
            .select("event_id", "user_id",
                    F.round(F.sum("value").over(w), 2).alias("running_value")))


@register("topk_largest_docs", sql="""
    SELECT doc_id, n_chars FROM documents
    ORDER BY n_chars DESC, doc_id LIMIT 10
""")
def topk_largest_docs(spark, sf_dir):
    # TakeOrderedAndProject — no total sort at scale.
    return (read_testdata(spark, sf_dir, "documents")
            .orderBy(F.col("n_chars").desc(), "doc_id")
            .select("doc_id", "n_chars").limit(10))


@register("sort_export", sql="""
    SELECT doc_id, lang, source FROM documents ORDER BY doc_id
""")
def sort_export(spark, sf_dir):
    # Deterministic export order [R: export.py] — range-partitioned total sort.
    return (read_testdata(spark, sf_dir, "documents")
            .orderBy("doc_id").select("doc_id", "lang", "source"))


@register("union_frontier", sql="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
""")
def union_frontier(spark, sf_dir):
    c = read_testdata(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"))
    s = read_testdata(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@register("except_done", sql="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
""")
def except_done(spark, sf_dir):
    # Set-EXCEPT semantics: distinct left, then anti-join — exceptAll()
    # .distinct() diverges when a duplicated left key also appears on the
    # right (EXCEPT drops it entirely; exceptAll keeps surplus copies).
    c = read_testdata(spark, sf_dir, "customer").select("c_custkey").distinct()
    o = read_testdata(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"))
    return c.join(o, "c_custkey", "left_anti")


@register("grouping_size_buckets", sql="""
    SELECT CAST(floor(log2(n_chars)) AS INT) AS bucket, count(*) AS n_docs
    FROM documents WHERE n_chars > 0 GROUP BY bucket
""")
def grouping_size_buckets(spark, sf_dir):
    # Size-bucketed batching key (BASELINE.json:L6) over the testdata proxy.
    return (read_testdata(spark, sf_dir, "documents")
            .filter(F.col("n_chars") > 0)
            .withColumn("bucket",
                        F.floor(F.log2("n_chars")).cast("int"))
            .groupBy("bucket").agg(F.count("*").alias("n_docs")))


@register("string_funcs_showcase", sql="""
    SELECT doc_id,
           upper(substr(text, 1, 10)) AS head_upper,
           length(trim(text)) AS trimmed_len,
           replace(source, 'src', 'origin-') AS origin,
           CAST(instr(text, 'data') AS BIGINT) AS data_pos,
           reverse(lang) AS gnal,
           lpad(CAST(doc_id AS VARCHAR), 8, '0') AS padded_id
    FROM documents
""")
def string_funcs_showcase(spark, sf_dir):
    # §2.6 scalar-function surface in one oracle-checked projection.
    return (read_testdata(spark, sf_dir, "documents").select(
        "doc_id",
        F.upper(F.substring("text", 1, 10)).alias("head_upper"),
        F.length(F.trim("text")).cast("long").alias("trimmed_len"),
        F.replace(F.col("source"), F.lit("src"), F.lit("origin-"))
        .alias("origin"),
        F.instr(F.col("text"), "data").cast("long").alias("data_pos"),
        F.reverse("lang").alias("gnal"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("padded_id")))


@register("rollup_lang_source", sql="""
    SELECT lang, source, count(*) AS n_docs
    FROM documents GROUP BY ROLLUP (lang, source)
""")
def rollup_lang_source(spark, sf_dir):
    return (read_testdata(spark, sf_dir, "documents")
            .rollup("lang", "source").agg(F.count("*").alias("n_docs")))


@register("cube_lang_source", sql="""
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY CUBE (lang, source)
""")
def cube_lang_source(spark, sf_dir):
    # Full CUBE (all four grouping sets) — the OLAP companion to the
    # rollup query; one pass, Catalyst expands the sets.
    return (read_testdata(spark, sf_dir, "documents")
            .cube("lang", "source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("total_chars")))


@register("pivot_source_by_lang", sql="""
    SELECT source,
           CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
           CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
           CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
           CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
           CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
    FROM documents GROUP BY source
""")
def pivot_source_by_lang(spark, sf_dir):
    # Pivot with an EXPLICIT value list: without it Spark runs an extra
    # distinct-collection job AND the output schema depends on the data —
    # both wrong at 100 TB (and vs a fixed-schema oracle).
    return (read_testdata(spark, sf_dir, "documents")
            .groupBy("source")
            .pivot("lang", ["en", "fr", "de", "es", "zh"])
            .agg(F.count(F.lit(1)))  # count(*) star is invalid inside pivot
            .na.fill(0))


# ---------------------------------------------------------------------------
# Joins (§2.4)
# ---------------------------------------------------------------------------

@register("join_rules_broadcast", sql="""
    SELECT r.r_name AS region_name, count(*) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
""")
def join_rules_broadcast(spark, sf_dir):
    # Small-dim broadcast pattern: nation+region are tiny → broadcast both;
    # zero shuffle of the big side for the join itself.
    c = read_testdata(spark, sf_dir, "customer")
    n = read_testdata(spark, sf_dir, "nation")
    r = read_testdata(spark, sf_dir, "region")
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy(F.col("r_name").alias("region_name"))
            .agg(F.count("*").alias("n_customers")))


@register("anti_join_seen", sql="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""")
def anti_join_seen(spark, sf_dir):
    # Resume/dedup semantics (§2.4): drop already-extracted keys.
    c = read_testdata(spark, sf_dir, "customer")
    o = read_testdata(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .select("c_custkey", "c_name"))


@register("semi_join_relevant", sql="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
""")
def semi_join_relevant(spark, sf_dir):
    c = read_testdata(spark, sf_dir, "customer")
    o = (read_testdata(spark, sf_dir, "orders")
         .filter(F.col("o_totalprice") > 100000))
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
            .select("c_custkey", "c_mktsegment"))


@register("join_media_docs", sql="""
    SELECT o.o_orderpriority,
           count(*) AS n_lines,
           CAST(round(sum(l.l_extendedprice), 2) AS DOUBLE) AS sum_price
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
""")
def join_media_docs(spark, sf_dir):
    # Big-big equi-join: shuffle hash / SMJ chosen by planner + AQE.
    # r6: lineitem pre-aggregates by l_orderkey BEFORE the join (guide
    # §2.3 "aggregate before you shuffle") — map-side combine shrinks
    # the shuffled fact side ~4x and the join matches 1:1 rows instead
    # of 1:N (measured 2.9s → 1.3s at sf1.0). count(*) == sum of
    # per-orderkey counts; the re-associated sum sits ~1e-9 inside the
    # round(2) granularity (same accepted class as join_salted_skew).
    o = (read_testdata(spark, sf_dir, "orders")
         .select("o_orderkey", "o_orderpriority"))
    lagg = (read_testdata(spark, sf_dir, "lineitem")
            .groupBy("l_orderkey")
            .agg(F.count("*").alias("n"),
                 F.sum("l_extendedprice").alias("s")))
    return (o.join(lagg, o.o_orderkey == lagg.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("n").alias("n_lines"),
                 F.round(F.sum("s"), 2).alias("sum_price")))


@register("join_salted_skew", sql="""
    SELECT l_returnflag,
           CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
           CAST(sum(n) AS BIGINT) AS n_lines
    FROM (
      SELECT l_returnflag, sum(l_quantity) AS l_quantity, count(*) AS n
      FROM lineitem GROUP BY l_returnflag, l_orderkey % 16
    ) GROUP BY l_returnflag
""")
def join_salted_skew(spark, sf_dir):
    # Two-phase salted aggregation (BASELINE.json:L6): phase 1 groups by
    # (key, salt) spreading hot keys over 16 slots; phase 2 re-aggregates.
    # Oracle mirrors the same two-phase float summation order class; sums
    # are rounded to absorb associativity noise.
    li = read_testdata(spark, sf_dir, "lineitem").withColumn(
        "salt", (F.col("l_orderkey") % 16))
    phase1 = (li.groupBy("l_returnflag", "salt")
              .agg(F.sum("l_quantity").alias("l_quantity"),
                   F.count("*").alias("n")))
    return (phase1.groupBy("l_returnflag")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.sum("n").cast("long").alias("n_lines")))


_BFS_MAX_DEPTH = 3
_BFS_SEEDS = 5


@register("frontier_bfs", sql=f"""
    WITH RECURSIVE n AS (
      SELECT count(*) AS total FROM documents
    ), edges AS (
      -- deterministic synthetic link graph over the corpus (docs carry no
      -- intra-corpus outlinks): doc -> (7*doc+3) mod N and (3*doc+1) mod N
      SELECT doc_id AS src, (7 * doc_id + 3) % (SELECT total FROM n) AS dst
      FROM documents
      UNION ALL
      SELECT doc_id, (3 * doc_id + 1) % (SELECT total FROM n)
      FROM documents
    ), reach(doc_id, depth) AS (
      SELECT doc_id, 0 FROM documents WHERE doc_id < {_BFS_SEEDS}
      UNION
      SELECT e.dst, r.depth + 1
      FROM reach r JOIN edges e ON e.src = r.doc_id
      WHERE r.depth < {_BFS_MAX_DEPTH}
    )
    SELECT doc_id, CAST(min(depth) AS INT) AS depth
    FROM reach GROUP BY doc_id
""")
def frontier_bfs(spark, sf_dir):
    # The reference's crawl MAIN LOOP [R: crawtext.py frontier iteration]
    # as declarative iterative joins: seeds → follow outlinks → dedup
    # against visited → next depth. Each round shuffles only (id, depth)
    # pairs; the frontier is anti-joined against the visited set exactly
    # like anti_join_seen — at 10^12 docs this is the shape of an
    # incremental crawl wave. The synthetic edge set mirrors the oracle's.
    docs = read_testdata(spark, sf_dir, "documents").select("doc_id")
    total = docs.count()
    e1 = docs.select(F.col("doc_id").alias("src"),
                     ((F.col("doc_id") * 7 + 3) % total).alias("dst"))
    e2 = docs.select(F.col("doc_id").alias("src"),
                     ((F.col("doc_id") * 3 + 1) % total).alias("dst"))
    edges = e1.union(e2).localCheckpoint(eager=True)
    visited = (docs.filter(F.col("doc_id") < _BFS_SEEDS)
               .select("doc_id", F.lit(0).alias("depth")))
    frontier = visited
    for depth in range(1, _BFS_MAX_DEPTH + 1):
        nxt = (frontier.join(edges, frontier.doc_id == edges.src)
               .select(F.col("dst").alias("doc_id"))
               .distinct()
               .join(visited.select("doc_id"), "doc_id", "left_anti")
               .withColumn("depth", F.lit(depth))
               .localCheckpoint(eager=True))
        if nxt.isEmpty():
            break
        visited = visited.union(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited.select("doc_id", F.col("depth").cast("int").alias("depth"))


@register("q_orders_by_year", sql="""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           count(*) AS n_orders,
           CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS sum_total
    FROM orders GROUP BY order_year
""")
def q_orders_by_year(spark, sf_dir):
    return (read_testdata(spark, sf_dir, "orders")
            .groupBy(F.year("o_orderdate").alias("order_year"))
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("sum_total")))


@register("q3_shipping_priority", sql="""
    SELECT o.o_orderkey,
           CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                AS DOUBLE) AS revenue,
           CAST(o.o_orderdate AS DATE) AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY o.o_orderkey, orderdate
    ORDER BY revenue DESC, o.o_orderkey LIMIT 10
""")
def q3_shipping_priority(spark, sf_dir):
    # TPC-H Q3 shape: selective filters pushed to all three scans, then
    # join + agg + top-k (TakeOrderedAndProject, no total sort).
    c = read_testdata(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    o = read_testdata(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp"))
    li = read_testdata(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp"))
    return (c.join(o, c.c_custkey == o.o_custkey)
            .join(li, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderkey", F.to_date("o_orderdate").alias("orderdate"))
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .select("o_orderkey", "revenue", "orderdate")
            .orderBy(F.col("revenue").desc(), "o_orderkey").limit(10))


@register("q5_supplier_volume", sql="""
    SELECT n.n_name AS nation,
           CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                AS DOUBLE) AS revenue
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN lineitem l ON l.l_suppkey = s.s_suppkey
    GROUP BY nation
""")
def q5_supplier_volume(spark, sf_dir):
    s = read_testdata(spark, sf_dir, "supplier")
    n = read_testdata(spark, sf_dir, "nation")
    li = read_testdata(spark, sf_dir, "lineitem")
    return (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .join(li, li.l_suppkey == s.s_suppkey)
            .groupBy(F.col("n_name").alias("nation"))
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


@register("part_type_stats", sql="""
    SELECT p_type, count(*) AS n_parts,
           CAST(round(avg(p_retailprice), 2) AS DOUBLE) AS avg_price,
           max(p_size) AS max_size
    FROM part GROUP BY p_type
""")
def part_type_stats(spark, sf_dir):
    return (read_testdata(spark, sf_dir, "part")
            .groupBy("p_type")
            .agg(F.count("*").alias("n_parts"),
                 F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
                 F.max("p_size").alias("max_size")))


@register("datetime_funcs_showcase", sql="""
    SELECT event_id,
           CAST(year(ts) AS INT) AS y,
           CAST(month(ts) AS INT) AS m,
           CAST(day(ts) AS INT) AS d,
           CAST(hour(ts) AS INT) AS h,
           CAST(ts::DATE + INTERVAL 30 DAY AS DATE) AS plus_30d,
           CAST(last_day(ts::DATE) AS DATE) AS month_end,
           CAST(date_diff('day', DATE '2024-01-01', ts::DATE) AS INT)
             AS days_since_2024,
           CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_start
    FROM events WHERE event_id < 200
""")
def datetime_funcs_showcase(spark, sf_dir):
    # §2.6 temporal scalar surface in one oracle-checked projection
    # (year/month/day/hour, date arithmetic, last_day, datediff,
    # week truncation — DuckDB date_trunc('week') and Spark both use
    # Monday starts).
    ts = F.col("ts")
    return (read_testdata(spark, sf_dir, "events")
            .filter(F.col("event_id") < 200)
            .select("event_id",
                    F.year(ts).alias("y"),
                    F.month(ts).alias("m"),
                    F.dayofmonth(ts).alias("d"),
                    F.hour(ts).alias("h"),
                    F.date_add(F.to_date(ts), 30).alias("plus_30d"),
                    F.last_day(F.to_date(ts)).alias("month_end"),
                    F.datediff(F.to_date(ts), F.lit("2024-01-01").cast("date"))
                    .alias("days_since_2024"),
                    F.date_trunc("week", ts).alias("week_start")))


@register("events_json_extract", sql="""
    SELECT CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INT) % 10 AS k_mod,
           count(*) AS n_events,
           CAST(round(sum(value), 2) AS DOUBLE) AS sum_value
    FROM events GROUP BY k_mod
""")
def events_json_extract(spark, sf_dir):
    # events.props JSON scalar exercise (§2.6); regexp_extract has identical
    # (str, pattern, group) semantics in Spark and DuckDB.
    return (read_testdata(spark, sf_dir, "events")
            .withColumn("k_mod",
                        (F.regexp_extract("props", r'"k":\s*(\d+)', 1)
                         .cast("int") % 10))
            .groupBy("k_mod")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


def robots_gate(urls):
    """The crawl frontier's robots.txt gate [R: crawtext fetch loop;
    RFC 9309]: ``urls``, any frame with a ``url`` column, plus the URL's
    ``host``, whether that host's robots.txt lets crawspark fetch the
    URL's path (``allowed``) and the host's ``crawl_delay`` (null when
    it sets none). Each host serves ``synth_robots_txt(host)``; the
    from-scratch parser reads it once per host per task (user-agent
    group selection, longest-match Allow/Disallow, empty Disallow,
    Crawl-delay) and decides every URL's raw path."""
    import pyarrow as pa
    from pyspark.sql import types as T

    schema = T.StructType(urls.schema.fields + [
        T.StructField("host", T.StringType()),
        T.StructField("allowed", T.BooleanType()),
        T.StructField("crawl_delay", T.DoubleType())])

    def decide(batches):
        from crawspark.oracle.robots import (
            parse_robots, robots_allowed, synth_robots_txt)
        cache: dict = {}
        for b in batches:
            allowed, delays = [], []
            for host, path in zip(b.column("host").to_pylist(),
                                  b.column("path").to_pylist()):
                if host not in cache:
                    cache[host] = parse_robots(synth_robots_txt(host),
                                               "crawspark")
                g = cache[host]
                allowed.append(robots_allowed(g["rules"], path))
                delays.append(g["crawl_delay"])
            yield pa.RecordBatch.from_arrays(
                b.columns[:-1] + [pa.array(allowed, pa.bool_()),
                                  pa.array(delays, pa.float64())],
                names=schema.names)

    return (urls
            .withColumn("host", F.lower(F.regexp_extract(
                "url", r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)))
            .withColumn("path", F.regexp_extract(
                "url", r"^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)", 1))
            .mapInArrow(decide, schema))


@register("robots_filter_frontier", sql=_sf_sql("""
    -- closed form of the synthesized per-host robots (oracle/robots
    -- synth_robots_txt): len(host)%3==0 → all disallowed; ==1 → /d... disallowed
    -- unless /d1... (longest-match); ==2 → crawspark group, empty
    -- Disallow (all allowed) with Crawl-delay 2.
    SELECT host, count(*) AS n_urls,
           CAST(sum(CASE
             WHEN length(host) % 3 = 0 THEN 0
             WHEN length(host) % 3 = 1
               THEN CASE WHEN path LIKE '/d1%' THEN 1 ELSE 0 END
             ELSE 1 END) AS BIGINT) AS n_allowed,
           CAST(CASE WHEN length(host) % 3 = 2 THEN 2.0 END AS DOUBLE)
             AS crawl_delay
    FROM (
      SELECT lower(regexp_extract(link, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1))
               AS host,
             regexp_extract(link, '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1)
               AS path
      FROM (SELECT unnest(outlinks) AS link FROM __ORACLE_PQ__)
    ) WHERE host <> '' GROUP BY host
"""))
def robots_filter_frontier(spark, sf_dir):
    """Politeness gate for the crawl frontier [R: crawtext fetch loop;
    RFC 9309]: every outlink URL from the extraction goes through
    `robots_gate`. The robots texts are synthesized per host so the
    DuckDB oracle can state the expected decisions in closed form — the
    PARSER is the thing under test, per-host rows hashed."""
    from crawspark.operators.extraction_queries import _extracted

    urls = _extracted(spark, sf_dir).select(F.explode("outlinks").alias("url"))
    return (robots_gate(urls).filter(F.col("host") != "")
            .groupBy("host")
            .agg(F.count("*").alias("n_urls"),
                 F.sum(F.col("allowed").cast("int")).cast("long")
                 .alias("n_allowed"),
                 F.max("crawl_delay").alias("crawl_delay")))


@register("frontier_schedule", sql=_sf_sql("""
    -- closed form of the synthesized robots (see robots_filter_frontier):
    -- len(host)%3==0 → nothing allowed; ==1 → only /d1* paths; ==2 → all
    -- allowed with Crawl-delay 2 (default delay 1s otherwise).
    SELECT host, url,
           CAST(row_number() OVER w AS BIGINT) AS fetch_rank,
           CAST(round((row_number() OVER w - 1)
                      * CASE WHEN length(host) % 3 = 2
                             THEN 2.0 ELSE 1.0 END, 1) AS DOUBLE)
             AS offset_sec
    FROM (
      SELECT DISTINCT
        lower(regexp_extract(link, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1))
          AS host,
        regexp_extract(link, '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1)
          AS path,
        link AS url
      FROM (SELECT unnest(outlinks) AS link FROM __ORACLE_PQ__)
    )
    WHERE host <> ''
      AND (length(host) % 3 = 2
           OR (length(host) % 3 = 1 AND path LIKE '/d1%'))
    WINDOW w AS (PARTITION BY host ORDER BY url)
"""))
def frontier_schedule(spark, sf_dir):
    """Politeness-aware fetch scheduling [R: crawtext fetch loop +
    database.py queue-by-domain]: the robots-allowed frontier, one queue
    per host ordered deterministically, each URL offset by rank x the
    host's crawl delay (robots Crawl-delay, default 1 s) — the schedule
    a per-host rate-limited fetcher executes. The decisions come from
    the REAL RFC 9309 parser over the synthesized per-host robots; the
    oracle states allowed-set and delays in closed form. Scale shape:
    one shuffle on host (the window), per-URL decisions in
    `robots_gate`."""
    from crawspark.operators.extraction_queries import _extracted

    urls = (_extracted(spark, sf_dir)
            .select(F.explode("outlinks").alias("url")).distinct())
    w = Window.partitionBy("host").orderBy("url")
    rn = F.row_number().over(w)
    return (robots_gate(urls)
            .filter((F.col("host") != "") & F.col("allowed"))
            .withColumn("fetch_rank", rn.cast("long"))
            .withColumn("offset_sec",
                        F.round((rn - 1)
                                * F.coalesce("crawl_delay", F.lit(1.0)), 1))
            .select("host", "url", "fetch_rank", "offset_sec"))


@register("canonicalize_outlinks", sql=_sf_sql("""
    -- same normalization chain as the Spark side, step by step
    SELECT canon, count(*) AS n_urls FROM (
      SELECT
        CASE WHEN path_q = '' THEN base || '/' ELSE base || path_q END AS canon
      FROM (
        SELECT lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
               || '://' ||
               lower(regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1))
               AS base0,
               regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^#]*)', 1)
               AS pq
        FROM (SELECT regexp_replace(unnest(outlinks), '#.*$', '') AS u
              FROM __ORACLE_PQ__)
      ), LATERAL (
        SELECT regexp_replace(regexp_replace(base0, ':80$', ''),
                              ':443$', '') AS base,
               regexp_replace(pq, '\\?$', '') AS path_q
      )
      WHERE base0 LIKE '%://%' AND base0 NOT LIKE '://%'
    ) GROUP BY canon
"""))
def canonicalize_outlinks(spark, sf_dir):
    """URL canonicalization before frontier dedup [R: url.py normalize —
    the reference lowercases scheme/host, strips fragments, drops default
    ports so the same page never enters the queue twice]: lowercase
    scheme+host, drop #fragment, drop :80/:443 default ports, drop a
    trailing empty '?', empty path → '/'. One shared step order with the
    oracle SQL, per-canonical-URL counts hashed."""
    from crawspark.operators.extraction_queries import _extracted

    ext = _extracted(spark, sf_dir)
    u = F.regexp_replace(F.col("link"), r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(
        u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))
    pq = F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^#]*)", 1)
    base0 = F.concat(scheme, F.lit("://"), host)
    base = F.regexp_replace(F.regexp_replace(base0, r":80$", ""),
                            r":443$", "")
    path_q = F.regexp_replace(pq, r"\?$", "")
    canon = F.when(path_q == "", F.concat(base, F.lit("/"))) \
        .otherwise(F.concat(base, path_q))
    return (ext.select(F.explode("outlinks").alias("link"))
            .select(canon.alias("canon"), scheme.alias("s"))
            .filter(F.col("s") != "")
            .groupBy("canon").agg(F.count("*").alias("n_urls")))


@register("sitemap_frontier_seed", sql="""
    -- closed form of oracle/sitemap.make_sitemap: every 7th doc serves
    -- a sitemapindex (child sitemap refs, kind='sitemap'), the rest a
    -- urlset with lastmod = 2025-01-01 + (d+j)%365 days and priority
    -- ((d+j)%10)/10; DuckDB date+int stays a DATE so the VARCHAR cast
    -- is the same ISO day string ElementTree hands back.
    WITH p AS (SELECT doc_id FROM documents WHERE doc_id % 6 = 2),
    u AS (
      SELECT p.doc_id, g.j,
             CASE WHEN p.doc_id % 7 = 0 THEN 'sitemap' ELSE 'url' END
               AS kind
      FROM p, range(8) g(j)
      WHERE g.j < CASE WHEN p.doc_id % 7 = 0 THEN 2 + p.doc_id % 3
                       ELSE 3 + p.doc_id % 5 END
    )
    SELECT doc_id, CAST(j AS INT) AS idx, kind,
           CASE WHEN kind = 'sitemap'
                THEN 'https://s' || (doc_id % 37) || '.example.com/sm/'
                     || doc_id || '/child' || j || '.xml'
                ELSE 'https://s' || (doc_id % 37) || '.example.com/p/'
                     || doc_id || '/' || j END AS loc,
           CASE WHEN kind = 'sitemap' THEN ''
                ELSE CAST(DATE '2025-01-01' + CAST((doc_id + j) % 365
                          AS INT) AS VARCHAR) END AS lastmod,
           CASE WHEN kind = 'sitemap' THEN -1.0
                ELSE CAST((doc_id + j) % 10 AS DOUBLE) / 10 END
             AS priority
    FROM u
""")
def sitemap_frontier_seed(spark, sf_dir):
    """Frontier seeding from sitemap.xml (sitemaps.org protocol) — the
    companion to `robots_filter_frontier`: per host, parse the sitemap
    (urlset entries with lastmod/priority, or sitemapindex children to
    recurse into) and emit one frontier row per entry. Parsing runs
    Arrow-batched per document; every parsed field is driver-hashed
    against the closed-form oracle. Namespace-agnostic: half the
    synthesized urlsets carry the sitemaps.org namespace, half none."""
    from crawspark.oracle.sitemap import make_sitemap, parse_sitemap

    def rows(d):
        return [(d, j, r["kind"], r["loc"], r["lastmod"], r["priority"])
                for j, r in enumerate(parse_sitemap(make_sitemap(d)))]

    return _per_doc(_docs(spark, sf_dir, 6, 2),
                    "doc_id long, idx int, kind string, loc string, "
                    "lastmod string, priority double", rows)


@register("feed_frontier_seed", sql="""
    -- closed form of oracle/feeds.make_feed: Atom for even ids, RSS
    -- for odd; RFC-1123 pubDate vs ISO updated. The doc filter % 7
    -- mixes parities so BOTH dialects are exercised (the sitemap
    -- ns-toggle lesson).
    WITH p AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 1),
    e AS (
      SELECT doc_id, unnest(generate_series(0, 1 + doc_id % 4)) AS j
      FROM p
    )
    SELECT doc_id, CAST(j AS INT) AS idx,
           CASE WHEN doc_id % 2 = 0 THEN 'atom' ELSE 'rss' END AS fmt,
           'post ' || doc_id || '-' || j AS title,
           'https://f' || (doc_id % 23) || '.example.com/post/'
             || doc_id || '/' || j AS link,
           CASE WHEN doc_id % 2 = 0
                THEN strftime(TIMESTAMP '2025-02-01 12:00:00'
                              + INTERVAL ((doc_id + j) % 300) DAY,
                              '%Y-%m-%dT%H:%M:%SZ')
                ELSE strftime(TIMESTAMP '2025-02-01 12:00:00'
                              + INTERVAL ((doc_id + j) % 300) DAY,
                              '%a, %d %b %Y %H:%M:%S +0000') END
             AS published
    FROM e
""")
def feed_frontier_seed(spark, sf_dir):
    """RSS/Atom frontier seeding — the polling companion to
    `sitemap_frontier_seed`: per host, parse the feed (RSS items or
    Atom entries, with rel="self" decoy links the Atom walk must skip)
    and emit one frontier row per entry, every field driver-hashed
    against the closed-form oracle. Arrow-batched per document."""
    from crawspark.oracle.feeds import make_feed, parse_feed

    def rows(d):
        return [(d, j, r["fmt"], r["title"], r["link"], r["published"])
                for j, r in enumerate(parse_feed(make_feed(d)))]

    return _per_doc(_docs(spark, sf_dir, 7, 1),
                    "doc_id long, idx int, fmt string, title string, "
                    "link string, published string", rows)


@register("crawl_snapshot_diff", sql="""
    -- Two crawl snapshots diffed by doc_id + content hash. The "new"
    -- crawl derives deterministically from the old one: doc_id%17=0
    -- dropped (removed), doc_id%13=0 re-extracted with changed text
    -- (changed), and doc_id%19=0 re-discovered under doc_id+10^9
    -- (added). Per-status counts + an md5 over the sorted doc_id list
    -- pin the full membership of every class.
    WITH old AS (
      SELECT doc_id, md5(text) AS h FROM documents
    ), new AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2'
                      ELSE text END) AS h
      FROM documents WHERE doc_id % 17 <> 0
      UNION ALL
      SELECT doc_id + 1000000000 AS doc_id, md5(text) AS h
      FROM documents WHERE doc_id % 19 = 0
    ), diff AS (
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.h <> n.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
             AS ids_md5
    FROM diff GROUP BY status
""")
def crawl_snapshot_diff(spark, sf_dir):
    # Crawl-over-crawl change detection — the report a recrawl pipeline
    # runs before deciding what to re-extract (changed), expire
    # (removed) or enqueue (added). 100 TB shape: both sides shuffle
    # once on doc_id for the full outer join (at scale the snapshots
    # share table layout, so the join co-partitions); only 32-byte
    # hashes travel, never text.
    docs = read_testdata(spark, sf_dir, "documents")
    old = docs.select("doc_id", F.md5("text").alias("h"))
    new = (docs.filter(F.col("doc_id") % 17 != 0)
           .select("doc_id",
                   F.md5(F.when(F.col("doc_id") % 13 == 0,
                                F.concat(F.col("text"), F.lit(" v2")))
                         .otherwise(F.col("text"))).alias("h"))
           .unionByName(
               docs.filter(F.col("doc_id") % 19 == 0)
               .select((F.col("doc_id") + 1000000000).alias("doc_id"),
                       F.md5("text").alias("h"))))
    diff = (old.withColumnsRenamed({"doc_id": "o_id", "h": "o_h"})
            .join(new.withColumnsRenamed({"doc_id": "n_id", "h": "n_h"}),
                  F.col("o_id") == F.col("n_id"), "full_outer")
            .select(F.coalesce("o_id", "n_id").alias("doc_id"),
                    F.when(F.col("o_id").isNull(), "added")
                    .when(F.col("n_id").isNull(), "removed")
                    .when(F.col("o_h") != F.col("n_h"), "changed")
                    .otherwise("unchanged").alias("status")))
    # sort NUMERICALLY before stringifying (lexicographic '10' < '2'
    # would diverge from the oracle's ORDER BY doc_id)
    return (diff.groupBy("status")
            .agg(F.count("*").alias("n_docs"),
                 F.md5(F.concat_ws(",", F.transform(
                     F.array_sort(F.collect_list("doc_id")),
                     lambda x: x.cast("string"))))
                 .alias("ids_md5")))


@register("frontier_budget_allocation", sql="""
    -- Hamilton / largest-remainder apportionment of a global fetch
    -- budget across hosts, proportional to demand — EXACT integer
    -- arithmetic only (B*demand DIV total, remainder = the modulo), so
    -- both engines agree bit-for-bit with no float shares anywhere.
    WITH demand AS (
      SELECT source AS host, CAST(count(*) AS BIGINT) AS demand
      FROM documents GROUP BY source
    ), tot AS (SELECT sum(demand) AS t FROM demand),
    base AS (
      SELECT host, demand,
             (1000 * demand) // t AS base,
             (1000 * demand) % t AS rem
      FROM demand CROSS JOIN tot
    ), ranked AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, host) AS rk,
             (SELECT 1000 - sum(base) FROM base) AS leftover
      FROM base
    )
    SELECT host, demand,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM ranked
""")
def frontier_budget_allocation(spark, sf_dir):
    # Crawl scheduling: split a global fetch budget (B=1000) across
    # hosts proportionally to frontier demand, exactly — floor shares
    # via integer division, then the leftover units go to the largest
    # integer remainders (ties by host asc). sum(alloc) == B always.
    # 100 TB shape: demand is one agg; the apportionment operates on
    # the HOST table (bounded), with 1-row broadcast totals.
    from pyspark.sql.window import Window

    B = 1000
    demand = (read_testdata(spark, sf_dir, "documents")
              .groupBy(F.col("source").alias("host"))
              .agg(F.count("*").alias("demand")))
    tot = demand.agg(F.sum("demand").alias("t"))
    # `div` is Spark's INTEGER division — double-divide-then-cast would
    # round within half an ulp of an integer at ~1e13+ totals and break
    # parity with the oracle's exact `//`
    base = (demand.crossJoin(F.broadcast(tot))
            .select("host", "demand",
                    F.expr(f"({B} * demand) div t").alias("base"),
                    ((F.lit(B) * F.col("demand")) % F.col("t"))
                    .alias("rem")))
    leftover = base.agg((F.lit(B) - F.sum("base")).alias("leftover"))
    w = Window.orderBy(F.desc("rem"), "host")
    return (base.withColumn("rk", F.row_number().over(w))
            .crossJoin(F.broadcast(leftover))
            .select("host", "demand",
                    (F.col("base")
                     + F.when(F.col("rk") <= F.col("leftover"), 1)
                     .otherwise(0)).alias("alloc")))


@register("detect_crawl_traps", sql="""
    -- Crawler-trap heuristics over synthesized frontier URLs (the same
    -- deterministic grammar per doc in both engines): a repeated
    -- adjacent path segment (mirror/loop traps), calendar paths
    -- (/YYYY/MM/ archives), parameter explosions, and excessive depth.
    -- Adjacent-repeat is checked with list ops, not a regex
    -- backreference (RE2 in DuckDB has none — the predicate must mean
    -- the same thing in both engines).
    WITH urls AS (
      SELECT doc_id,
             '/' || CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN 'm/' || repeat('loop/', CAST(2 + doc_id % 3 AS INT))
                           || 'page-' || doc_id
               WHEN 1 THEN 'archive/' || CAST(2015 + doc_id % 9 AS INT)
                           || '/' || lpad(CAST(1 + doc_id % 12 AS VARCHAR),
                                          2, '0') || '/post-' || doc_id
               WHEN 2 THEN 'item?id=' || doc_id || '&ref=' || doc_id % 7
                           || '&s=' || doc_id % 5 || '&t=' || doc_id % 3
               ELSE 'a/b/c/d/e/f/g/h/doc-' || doc_id
             END AS pq
      FROM documents
    ), parts AS (
      SELECT doc_id, pq,
             string_split(CASE WHEN instr(pq, '?') > 0
                               THEN substr(pq, 1, instr(pq, '?') - 1)
                               ELSE pq END, '/') AS segs,
             CASE WHEN instr(pq, '?') > 0
                  THEN len(string_split(substr(pq, instr(pq, '?') + 1),
                                        '&'))
                  ELSE 0 END AS n_params
      FROM urls
    ), flags AS (
      SELECT doc_id, pq, n_params,
             len(segs) - 1 AS depth,
             coalesce(list_max(list_transform(
               generate_series(1, len(segs) - 1),
               i -> CASE WHEN segs[i] = segs[i + 1] AND segs[i] <> ''
                         THEN 1 ELSE 0 END)), 0) = 1 AS seg_repeat,
             regexp_matches(pq, '/(19|20)[0-9]{2}/[0-9]{2}/')
               AS calendar_path
      FROM parts
    )
    SELECT CAST(seg_repeat AS BOOLEAN) AS seg_repeat,
           CAST(calendar_path AS BOOLEAN) AS calendar_path,
           CAST(n_params >= 3 AS BOOLEAN) AS param_explosion,
           CAST(depth > 6 AS BOOLEAN) AS deep_path,
           CAST(count(*) AS BIGINT) AS n_urls,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
             AS ids_md5
    FROM flags
    GROUP BY 1, 2, 3, 4
""")
def detect_crawl_traps(spark, sf_dir):
    # Frontier hygiene: the four classic trap signatures a crawler
    # gates BEFORE fetch (looping mirrors, infinite calendar archives,
    # session-parameter explosions, and bottomless path depth). Pure
    # JVM expressions — split/zip_with/exists/regex — over the frontier
    # URL column; per-class membership is driver-hashed.
    docs = read_testdata(spark, sf_dir, "documents")
    pq = F.concat(F.lit("/"), F.expr(
        "CASE CAST(doc_id % 4 AS INT) "
        "WHEN 0 THEN 'm/' || repeat('loop/', CAST(2 + doc_id % 3 AS INT)) "
        "            || 'page-' || doc_id "
        "WHEN 1 THEN 'archive/' || CAST(2015 + doc_id % 9 AS INT) || '/' "
        "            || lpad(CAST(1 + doc_id % 12 AS STRING), 2, '0') "
        "            || '/post-' || doc_id "
        "WHEN 2 THEN 'item?id=' || doc_id || '&ref=' || doc_id % 7 "
        "            || '&s=' || doc_id % 5 || '&t=' || doc_id % 3 "
        "ELSE 'a/b/c/d/e/f/g/h/doc-' || doc_id END"))
    urls = docs.select("doc_id", pq.alias("pq"))
    path = F.when(F.instr("pq", "?") > 0,
                  F.expr("substr(pq, 1, instr(pq, '?') - 1)")) \
        .otherwise(F.col("pq"))
    n_params = F.when(
        F.instr("pq", "?") > 0,
        F.size(F.split(F.expr("substr(pq, instr(pq, '?') + 1)"), "&"))) \
        .otherwise(F.lit(0))
    parts = urls.select("doc_id", "pq",
                        F.split(path, "/").alias("segs"),
                        n_params.alias("n_params"))
    seg_repeat = F.exists(
        F.zip_with(F.expr("slice(segs, 1, size(segs) - 1)"),
                   F.expr("slice(segs, 2, size(segs) - 1)"),
                   lambda a, b: (a == b) & (a != F.lit(""))),
        lambda x: x)
    flags = parts.select(
        "doc_id",
        seg_repeat.alias("seg_repeat"),
        F.col("pq").rlike("/(19|20)[0-9]{2}/[0-9]{2}/")
        .alias("calendar_path"),
        (F.col("n_params") >= 3).alias("param_explosion"),
        ((F.size("segs") - 1) > 6).alias("deep_path"))
    return (flags.groupBy("seg_repeat", "calendar_path",
                          "param_explosion", "deep_path")
            .agg(F.count("*").alias("n_urls"),
                 F.md5(F.concat_ws(",", F.transform(
                     F.array_sort(F.collect_list("doc_id")),
                     lambda x: x.cast("string")))).alias("ids_md5")))


@register("robots_sitemap_discovery", sql="""
    -- closed form of the synthesized per-host robots Sitemap lines:
    -- even-length hosts publish one sitemap; odd-length hosts publish
    -- two (the second with an uppercase scheme, kept verbatim) plus a
    -- relative value the parser must ignore.
    WITH hosts AS (
      SELECT DISTINCT source || '.example.com' AS host FROM documents
    )
    SELECT host, CAST(ord AS INT) AS ord, sitemap_url FROM (
      SELECT host, 0 AS ord,
             'https://' || host || '/sitemap.xml' AS sitemap_url
      FROM hosts WHERE length(host) % 2 = 0
      UNION ALL
      SELECT host, 0, 'https://' || host || '/sitemap-a.xml'
      FROM hosts WHERE length(host) % 2 = 1
      UNION ALL
      SELECT host, 1, 'HTTPS://' || host || '/sitemap-b.xml'
      FROM hosts WHERE length(host) % 2 = 1)
""")
def robots_sitemap_discovery(spark, sf_dir):
    """Sitemap cross-submission discovery [sitemaps.org; the robots.txt
    companion to the RFC 9309 gate]: per host, the Sitemap: directives
    are collected GLOBALLY (the synthesized texts hide them before
    groups, inside a group, duplicated, and as a relative value that
    must be ignored) — the PARSER's placement/validity semantics are
    the thing under test, per-host rows hashed."""
    from collections.abc import Iterator as _Iter

    import pandas as pd

    def sitemap_robots_txt(host: str) -> str:
        if len(host) % 2 == 0:
            # before any group + an exact duplicate inside the group
            return (f"Sitemap: https://{host}/sitemap.xml\n"
                    "User-agent: *\nDisallow: /private\n"
                    f"sitemap: https://{host}/sitemap.xml\n")
        return ("User-agent: *\nDisallow: /tmp\n"
                f"Sitemap: https://{host}/sitemap-a.xml\n\n"
                f"SITEMAP: HTTPS://{host}/sitemap-b.xml\n"
                "Sitemap: /relative-ignored.xml\n")

    def discover(batches: _Iter[pd.DataFrame]) -> _Iter[pd.DataFrame]:
        from crawspark.oracle.robots import extract_sitemaps
        for pdf in batches:
            out = {"host": [], "ord": [], "sitemap_url": []}
            for host in pdf["host"]:
                for i, sm in enumerate(
                        extract_sitemaps(sitemap_robots_txt(str(host)))):
                    out["host"].append(host)
                    out["ord"].append(i)
                    out["sitemap_url"].append(sm)
            yield pd.DataFrame(out)

    hosts = (read_testdata(spark, sf_dir, "documents")
             .select(F.concat("source", F.lit(".example.com"))
                     .alias("host")).distinct())
    return hosts.mapInPandas(
        discover, "host string, ord int, sitemap_url string")


@register("join_asof_versions", sql="""
    -- AS-OF JOIN — the brief's canonical "operator Spark lacks":
    -- each event matches its user's most recent profile version at or
    -- before the event time. DuckDB's native ASOF LEFT JOIN is the
    -- oracle; version timestamps derive deterministically from orders
    -- (o_orderkey % 720 hours into the event month) and ties per
    -- (user, ver_ts) are pre-deduped to max(o_orderkey) so the match
    -- is well-defined in both engines.
    WITH v0 AS (
      SELECT o_custkey AS user_id,
             TIMESTAMP '2024-01-01 00:00:00'
               + INTERVAL (o_orderkey % 720) HOUR AS ver_ts,
             o_orderkey
      FROM orders
    ), v AS (
      SELECT user_id, ver_ts, max(o_orderkey) AS version_key
      FROM v0 GROUP BY user_id, ver_ts
    )
    SELECT e.event_id, e.user_id, e.ts, v.version_key, v.ver_ts
    FROM events e
    ASOF LEFT JOIN v ON e.user_id = v.user_id AND e.ts >= v.ver_ts
""")
def join_asof_versions(spark, sf_dir):
    # Spark has no native as-of join; the scalable rebuild is the
    # union-and-carry-forward trick: tag version rows and event rows,
    # sort each user's timeline once (versions before events at equal
    # timestamps — the <= semantics), and carry the last non-null
    # version forward with last(ignorenulls) over an unbounded-
    # preceding window. ONE shuffle (the per-user window) — the naive
    # inequality join is a per-user cross product that explodes at
    # scale; events before a user's first version keep NULLs (left
    # semantics).
    events = read_testdata(spark, sf_dir, "events")
    orders = read_testdata(spark, sf_dir, "orders")
    v = orders.select(
        F.col("o_custkey").alias("user_id"),
        F.expr("TIMESTAMP '2024-01-01 00:00:00' + make_interval("
               "0, 0, 0, 0, CAST(o_orderkey % 720 AS INT), 0, 0)")
        .alias("ver_ts"),
        F.col("o_orderkey").alias("version_key"))
    ev_rows = events.select(
        "user_id", F.col("ts").alias("t"), "event_id",
        F.lit(None).cast("long").alias("vk"),
        F.lit(None).cast("timestamp").alias("vt"),
        F.lit(1).alias("is_event"))
    v_rows = v.select(
        "user_id", F.col("ver_ts").alias("t"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("version_key").alias("vk"),
        F.col("ver_ts").alias("vt"),
        F.lit(0).alias("is_event"))
    # tie-break INSIDE the window ordering (vk asc → last() sees the max
    # orderkey among same-timestamp versions, matching the oracle's
    # dedup) — a pre-aggregation would cost a second shuffle
    w = (Window.partitionBy("user_id")
         .orderBy("t", "is_event", F.asc_nulls_first("vk"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    timeline = (ev_rows.unionByName(v_rows)
                .withColumn("version_key",
                            F.last("vk", ignorenulls=True).over(w))
                .withColumn("ver_ts",
                            F.last("vt", ignorenulls=True).over(w)))
    return (timeline.filter(F.col("is_event") == 1)
            .select("event_id", "user_id", F.col("t").alias("ts"),
                    "version_key", "ver_ts"))


@register("join_range_windows", sql="""
    -- RANGE (interval-overlap) JOIN: events matched to every 12-hour
    -- promo window of their user that contains them. The oracle is the
    -- plain inequality join; the Spark side must produce identical
    -- pairs through the bucketed scale path.
    WITH win AS (
      SELECT o_custkey AS user_id, o_orderkey AS window_key,
             TIMESTAMP '2024-01-01 00:00:00'
               + INTERVAL (o_orderkey % 720) HOUR AS w_start,
             TIMESTAMP '2024-01-01 00:00:00'
               + INTERVAL ((o_orderkey % 720) + 12) HOUR AS w_end
      FROM orders
    )
    SELECT e.event_id, w.window_key, e.user_id
    FROM events e JOIN win w
      ON e.user_id = w.user_id
     AND e.ts >= w.w_start AND e.ts < w.w_end
""")
def join_range_windows(spark, sf_dir):
    # OSS Spark plans a time-inequality join as BroadcastNestedLoop (a
    # per-user cross product at scale). The scale path: bin time into
    # bucket-width slots equal to the max interval length, explode each
    # interval to the (at most two) bins it touches, EQUI-join on
    # (user_id, bin), then apply the exact containment filter (events
    # occupy one bin each, so no pair can match twice). One hash
    # shuffle; the plan test pins that no nested-loop join appears.
    BIN = 12 * 3600  # seconds — bin width == interval length
    events = read_testdata(spark, sf_dir, "events")
    win = read_testdata(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderkey").alias("window_key"),
        F.expr("TIMESTAMP '2024-01-01 00:00:00' + make_interval("
               "0, 0, 0, 0, CAST(o_orderkey % 720 AS INT), 0, 0)")
        .alias("w_start"),
        F.expr("TIMESTAMP '2024-01-01 00:00:00' + make_interval("
               "0, 0, 0, 0, CAST(o_orderkey % 720 AS INT) + 12, 0, 0)")
        .alias("w_end"))
    e_binned = events.select(
        "event_id", "user_id", "ts",
        (F.unix_timestamp("ts") / BIN).cast("long").alias("bin"))
    w_binned = (win.select(
        "user_id", "window_key", "w_start", "w_end",
        F.explode(F.sequence(
            (F.unix_timestamp("w_start") / BIN).cast("long"),
            # end is EXCLUSIVE: a window ending exactly on a bin edge
            # does not reach into that bin
            ((F.unix_timestamp("w_end") - 1) / BIN).cast("long")))
        .alias("bin")))
    # no dedup needed: an EVENT sits in exactly one bin, so each
    # (event, window) pair matches at most once — a distinct here would
    # add a second full-output shuffle for nothing (and would silently
    # collapse genuinely duplicated input rows the oracle keeps)
    return (e_binned.join(w_binned, ["user_id", "bin"])
            .filter((F.col("ts") >= F.col("w_start"))
                    & (F.col("ts") < F.col("w_end")))
            .select("event_id", "window_key", "user_id"))


@register("frontier_politeness_schedule", sql="""
    -- Politeness-constrained fetch scheduling: each host's queue is
    -- serialized at that host's crawl delay; hosts are sharded to 16
    -- workers by the first md5 nibble (identical on both engines). Per
    -- worker, the two classic lower bounds of its wall clock: the
    -- capacity bound (1 request/second of service across its hosts) and
    -- the chain bound (its slowest single host queue — politeness spacing
    -- can never be beaten by parallelism within a host).
    WITH host AS (
      SELECT source AS host, count(*) AS n_urls,
             1 + (length(source) * 7 + ascii(substring(source, 1, 1))) % 8
               AS delay_s,
             substring(md5(source), 1, 1) AS worker
      FROM documents GROUP BY source
    ), h2 AS (
      SELECT *, (n_urls - 1) * delay_s AS finish_s FROM host
    )
    SELECT worker, CAST(count(*) AS INT) AS n_hosts,
           CAST(sum(n_urls) AS BIGINT) AS n_urls,
           CAST(max(finish_s) AS BIGINT) AS chain_bound_s,
           CAST(greatest(sum(n_urls), max(finish_s)) AS BIGINT)
             AS lower_bound_s
    FROM h2 GROUP BY worker
""")
def frontier_politeness_schedule(spark, sf_dir):
    # Crawl planning: demand per host (one agg over the frontier), a
    # deterministic per-host crawl delay, md5-nibble worker sharding, then
    # per-worker schedulability bounds. 100 TB shape: the frontier agg is
    # the only large shuffle; everything after operates on the HOST table
    # (bounded, ~1e8 rows at web scale) with a 16-group final agg. The
    # chain bound surfacing a single dominant host is exactly the signal
    # that triggers per-host budget caps upstream (see
    # frontier_budget_allocation).
    host = (read_testdata(spark, sf_dir, "documents")
            .groupBy(F.col("source").alias("host"))
            .agg(F.count("*").alias("n_urls"))
            .withColumn("delay_s",
                        1 + (F.length("host") * 7
                             + F.ascii(F.substring("host", 1, 1))) % 8)
            .withColumn("worker", F.substring(F.md5("host"), 1, 1))
            .withColumn("finish_s",
                        (F.col("n_urls") - 1) * F.col("delay_s")))
    return (host.groupBy("worker")
            .agg(F.count("*").cast("int").alias("n_hosts"),
                 F.sum("n_urls").cast("bigint").alias("n_urls"),
                 F.max("finish_s").cast("bigint").alias("chain_bound_s"),
                 F.greatest(F.sum("n_urls"), F.max("finish_s"))
                 .cast("bigint").alias("lower_bound_s")))


@register("surt_url_index", sql=_sf_sql("""
    -- SURT canonical keys (Sort-friendly URI Reordering Transform — the
    -- CDX index key every web archive sorts on: host labels reversed
    -- and comma-joined, scheme dropped, www. stripped, default ports
    -- dropped, fragment dropped, query params sorted). The corpus
    -- outlinks are uniformly clean, so every outlink whose path ends in
    -- 'p1' also contributes three MESSY TWINS: a collapse twin
    -- (https://WWW.<host>:443<path>#frag) whose surt must EQUAL the
    -- clean original's (proving scheme-drop, www-strip, port-drop,
    -- fragment-drop), and two query twins (?b=2&a=1 vs ?a=1&b=2) that
    -- must land in ONE group (proving param sorting). Shared step order
    -- both engines.
    WITH links AS (
      SELECT unnest(outlinks) AS url FROM __ORACLE_PQ__
    ), aug AS (
      SELECT url FROM links
      UNION ALL
      SELECT regexp_replace(url, '^http://([^/?#]+)',
                            'https://WWW.\\1:443') || '#frag'
      FROM links WHERE url LIKE '%p1'
      UNION ALL
      SELECT url || '?b=2&a=1' FROM links WHERE url LIKE '%p1'
      UNION ALL
      SELECT url || '?a=1&b=2' FROM links WHERE url LIKE '%p1'
    ), parts AS (
      SELECT url,
             regexp_replace(regexp_replace(lower(regexp_extract(u,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)),
               ':(80|443)$', ''), '^www\\.', '') AS host,
             regexp_extract(u,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path,
             regexp_extract(u, '\\?([^#]*)', 1) AS q
      FROM (SELECT url, regexp_replace(url, '#.*$', '') AS u FROM aug)
    )
    SELECT array_to_string(list_reverse(string_split(host, '.')), ',')
           || ')'
           || CASE WHEN path = '' THEN '/' ELSE path END
           || CASE WHEN q = '' THEN ''
                   ELSE '?' || array_to_string(
                          list_sort(string_split(q, '&')), '&') END
             AS surt,
           CAST(count(*) AS BIGINT) AS n_urls,
           min(url) AS first_url
    FROM parts WHERE host <> '' GROUP BY surt
"""))
def surt_url_index(spark, sf_dir):
    """SURT index keys for a CDX-style capture index [public: Heritrix /
    OpenWayback SURT + CDXJ canonicalization]. All JVM string/array
    built-ins — at 100 TB this is the map side of the global CDX sort;
    the only shuffle is the final groupBy on the 32-byte-ish key. The
    collapse twin (scheme/www/port/fragment) must join its clean
    original's group; the two query twins must sort into one shared
    group — both collapses surface as n_urls >= 2 in the driver hash."""
    from crawspark.operators.extraction_queries import _extracted

    # One extraction pass: every union branch below derives from links,
    # and without the checkpoint each branch would re-run the whole
    # mapInArrow extraction subtree (4x the dominant cost — caught by
    # the plan pin in tests/test_scale_plans.py).
    links = (_extracted(spark, sf_dir)
             .select(F.explode("outlinks").alias("url"))
             .localCheckpoint(eager=True))
    p1 = links.filter(F.col("url").like("%p1"))
    collapse = p1.select(F.concat(
        F.regexp_replace("url", r"^http://([^/?#]+)",
                         "https://WWW.$1:443"),
        F.lit("#frag")).alias("url"))
    q_ba = p1.select(F.concat("url", F.lit("?b=2&a=1")).alias("url"))
    q_ab = p1.select(F.concat("url", F.lit("?a=1&b=2")).alias("url"))
    aug = links.unionByName(collapse).unionByName(q_ba).unionByName(q_ab)
    host, surt = surt_exprs(F.col("url"))
    return (aug.select(surt.alias("surt"), F.col("url"))
            .filter(host != "")
            .groupBy("surt")
            .agg(F.count("*").alias("n_urls"),
                 F.min("url").alias("first_url")))


def surt_exprs(url):
    """(host, surt) Column pair for a URL column — the ONE SURT
    canonicalization chain, shared by surt_url_index and its hand-case
    test (inlining a copy in the test would let the chain drift while
    the test stays green)."""
    u = F.regexp_replace(url, r"#.*$", "")
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract(
                u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)),
            r":(80|443)$", ""),
        r"^www\.", "")
    path = F.regexp_extract(
        u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    q = F.regexp_extract(u, r"\?([^#]*)", 1)
    surt = F.concat(
        F.array_join(F.reverse(F.split(host, r"\.")), ","),
        F.lit(")"),
        F.when(path == "", "/").otherwise(path),
        F.when(q == "", "").otherwise(
            F.concat(F.lit("?"),
                     F.array_join(F.array_sort(F.split(q, "&")), "&"))))
    return host, surt


# Public-suffix handling (the PSL rule: the registrable domain — eTLD+1
# — is the longest matching public suffix plus exactly one more label;
# a host that IS a bare suffix has no registrable domain). FineWeb-style
# pipelines group politeness budgets and dedup caps by eTLD+1, not by
# host. A tiny embedded suffix table stands in for the real PSL —
# LONGEST match must win ('example.co.uk' registers at 'example.co.uk',
# never at 'co.uk' via the shorter 'uk' suffix).
PSL_TWO_LABEL = ("co.uk", "org.au", "ac.jp")
PSL_ONE_LABEL = ("org", "com", "net", "uk", "au", "jp", "io")


@register("registered_domain_stats", sql=_sf_sql(f"""
    -- corpus hosts are all *.example.org (1-label suffix path); twins
    -- for '%p2' links re-home the host under .example.co.uk (the
    -- longest-match path) and '%p4' links become a BARE-suffix host
    -- (http://co.uk/...) that must register as no domain at all.
    WITH links AS (
      SELECT unnest(outlinks) AS url FROM __ORACLE_PQ__
    ), aug AS (
      SELECT url FROM links
      UNION ALL
      SELECT regexp_replace(url, '^http://([^/]*)\\.example\\.org/',
                            'http://\\1.example.co.uk/')
      FROM links WHERE url LIKE '%p2'
      UNION ALL
      SELECT regexp_replace(url, '^http://[^/]+', 'http://co.uk')
      FROM links WHERE url LIKE '%p4'
    ), hosts AS (
      SELECT string_split(lower(regexp_extract(url,
               '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)), '.') AS ls
      FROM aug
    ), m AS (
      SELECT ls, len(ls) AS n,
             CASE WHEN len(ls) >= 2 AND ls[-2] || '.' || ls[-1]
                       IN {PSL_TWO_LABEL!r} THEN 2
                  WHEN ls[-1] IN {PSL_ONE_LABEL!r} THEN 1
                  ELSE 0 END AS k
      FROM hosts
    )
    SELECT CASE
             WHEN k = 2 AND n >= 3
               THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
             WHEN k = 1 AND n >= 2 THEN ls[-2] || '.' || ls[-1]
             ELSE '(none)'
           END AS etld1,
           CAST(min(k) AS INT) AS suffix_labels,
           CAST(count(*) AS BIGINT) AS n_urls
    FROM m GROUP BY etld1
"""))
def registered_domain_stats(spark, sf_dir):
    """eTLD+1 (registrable domain) extraction with PSL longest-match
    semantics over the outlink hosts, aggregated per domain. All JVM
    array/string ops; at 100 TB the real PSL (~10k suffixes) broadcasts
    and the two CASE probes become hash-set lookups — still map-side,
    the only shuffle is the final per-domain agg. A bare-suffix host
    registers no domain ('(none)'); the suffix decision NEVER falls back
    to a shorter suffix (the PSL rule the naive endswith-loop gets
    wrong)."""
    from crawspark.operators.extraction_queries import _extracted

    # materialized once — the twin branches must not re-run extraction
    links = (_extracted(spark, sf_dir)
             .select(F.explode("outlinks").alias("url"))
             .localCheckpoint(eager=True))
    tw_co = (links.filter(F.col("url").like("%p2"))
             .select(F.regexp_replace(
                 "url", r"^http://([^/]*)\.example\.org/",
                 "http://$1.example.co.uk/").alias("url")))
    tw_bare = (links.filter(F.col("url").like("%p4"))
               .select(F.regexp_replace(
                   "url", r"^http://[^/]+", "http://co.uk").alias("url")))
    aug = links.unionByName(tw_co).unionByName(tw_bare)
    ls = F.split(F.lower(F.regexp_extract(
        "url", r"^[a-z][a-z0-9+.-]*://([^/?#:]+)", 1)), r"\.")
    hosts = aug.select(ls.alias("ls"), F.size(ls).alias("n"))
    k, etld1 = psl_exprs()
    return (hosts.withColumn("k", k)
            .select(etld1.alias("etld1"), "k")
            .groupBy("etld1")
            .agg(F.min("k").cast("int").alias("suffix_labels"),
                 F.count("*").alias("n_urls")))


def psl_exprs():
    """(k, etld1) Column pair over a frame with ``ls`` (host labels) and
    ``n`` (label count) — the ONE PSL longest-match chain, shared by
    registered_domain_stats and its hand-case test. k must be resolved
    as a column named ``k`` before etld1 is evaluated."""
    two_list = ", ".join(f"'{s}'" for s in PSL_TWO_LABEL)
    one_list = ", ".join(f"'{s}'" for s in PSL_ONE_LABEL)
    k = F.expr(
        f"CASE WHEN n >= 2 AND concat(element_at(ls, -2), '.', "
        f"element_at(ls, -1)) IN ({two_list}) THEN 2 "
        f"WHEN element_at(ls, -1) IN ({one_list}) THEN 1 ELSE 0 END")
    etld1 = F.expr(
        "CASE WHEN k = 2 AND n >= 3 THEN concat_ws('.', "
        "element_at(ls, -3), element_at(ls, -2), element_at(ls, -1)) "
        "WHEN k = 1 AND n >= 2 THEN concat_ws('.', "
        "element_at(ls, -2), element_at(ls, -1)) ELSE '(none)' END")
    return k, etld1
