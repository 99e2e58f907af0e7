"""Explicit StructTypes for every table in the pipeline.

The reference is schema-less ``list[dict]`` + JSONL (SURVEY.md §1.3); here
every stage boundary has a fixed StructType so Catalyst can prune columns
and push predicates, and malformed input lands in structured error columns
instead of being silently skipped (north rule).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Input: Iceberg/parquet table of interleaved text + media documents
# (BASELINE.json input_hint).
SPAN_TYPE = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

DOCUMENTS_SPANS = StructType(
    [
        StructField("doc_id", StringType(), nullable=False),
        StructField("spans", ArrayType(SPAN_TYPE)),
    ]
)

# Flagship output: per-document ordered main-content span sequence
# (north-rule invariant: (kind, text, media_ref, order) equality per doc).
SPANS_OUT = StructType(
    [
        StructField("doc_id", StringType(), nullable=False),
        StructField("seq", IntegerType()),      # position in the input array
        StructField("page", IntegerType()),
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("order", IntegerType()),    # 1-based output order per doc
    ]
)

# Derived page records (reference page dict, SURVEY.md §1.1 pared to the
# fields the downstream steps actually read).
PAGES = StructType(
    [
        StructField("doc_id", StringType(), nullable=False),
        StructField("page", IntegerType()),
        StructField("text", StringType()),
        StructField("content", StringType()),       # comprehensive content
        StructField("has_tables", StringType()),
    ]
)

# TOC entry (reference toc_parser.py:211-226).
TOC_OUT = StructType(
    [
        StructField("doc_id", StringType(), nullable=False),
        StructField("doc_title", StringType()),
        StructField("section_id", StringType()),
        StructField("title", StringType()),
        StructField("page", IntegerType()),
        StructField("level", IntegerType()),
        StructField("parent_id", StringType()),
        StructField("full_path", StringType()),
        StructField("tags", ArrayType(StringType())),
    ]
)

# Metadata record (reference metadata_parser.py:82-98).
METADATA_OUT = StructType(
    [
        StructField("doc_id", StringType(), nullable=False),
        StructField("doc_title", StringType()),
        StructField("revision", StringType()),
        StructField("version", StringType()),
        StructField("release_date", StringType()),
    ]
)

# Section (reference section/section_data.py:13-29).
SECTIONS_OUT = StructType(
    [
        StructField("doc_id", StringType(), nullable=False),
        StructField("doc_title", StringType()),
        StructField("section_id", StringType()),
        StructField("title", StringType()),
        StructField("full_path", StringType()),
        StructField("page", IntegerType()),
        StructField("level", IntegerType()),
        StructField("parent_id", StringType()),
        StructField("content", StringType()),
        StructField("tags", ArrayType(StringType())),
    ]
)

# Malformed-document quarantine (structured error columns, north rule;
# replaces the reference's silent skips helpers.py:93-95).  error_kind,
# first match wins (pages.error_kind_expr): null_doc_id, empty_spans,
# unknown_kind, bad_offset, oversize_text.
QUARANTINE = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("span_seq", IntegerType()),
        StructField("error_kind", StringType()),
        StructField("error_detail", StringType()),
        StructField("raw", StringType()),
    ]
)

# Per-partition lineage + metrics (checkpoint/resume, north rule).
LINEAGE = StructType(
    [
        StructField("run_id", StringType()),
        StructField("partition_id", LongType()),
        StructField("status", StringType()),
        StructField("docs_done", LongType()),
        StructField("spans_done", LongType()),
        StructField("started_at", TimestampType()),
        StructField("finished_at", TimestampType()),
        StructField("metrics", MapType(StringType(), DoubleType())),
    ]
)
