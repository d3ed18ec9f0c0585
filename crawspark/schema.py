"""Declared Spark schemas (SURVEY.md §1.2 — fixed schemas, validated on read;
the reference was schemaless MongoDB [R: database.py])."""

from __future__ import annotations

from pyspark.sql import types as T

# input_hint: spans:array<struct<kind:string,text:string,media_ref:string,offset:int32>>
SPAN_STRUCT = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("offset", T.IntegerType()),
])

SPANS_TYPE = T.ArrayType(SPAN_STRUCT)

DOCUMENTS_INTERLEAVED = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", SPANS_TYPE),
])

EXTRACTED_SPANS = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", SPANS_TYPE),
    T.StructField("lang", T.StringType()),
    T.StructField("n_spans", T.IntegerType()),
    T.StructField("publish_date", T.StringType()),
    T.StructField("tags", T.ArrayType(T.StringType())),
    T.StructField("outlinks", T.ArrayType(T.StringType())),
])

CHECKPOINT = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("partition_key", T.StringType(), False),
    T.StructField("status", T.StringType()),
    T.StructField("docs_in", T.LongType()),
    T.StructField("docs_out", T.LongType()),
    T.StructField("spans_out", T.LongType()),
    T.StructField("input_fingerprint", T.StringType()),
    T.StructField("completed_ts", T.TimestampType()),
])

RULES = T.StructType([
    T.StructField("rule_id", T.StringType(), False),
    T.StructField("scope", T.StringType()),
    T.StructField("pattern", T.StringType()),
    T.StructField("action", T.StringType()),
])

# The testdata events table (TESTDATA.md) as the streaming operators read
# it: every field nullable, as a file source reads it.
EVENTS = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])
