"""Explicit StructTypes for the tables read from outside a plan: the
input corpus and the lineage table.

The reference is schema-less ``list[dict]`` + JSONL (SURVEY.md §1.3).
Here the input is read with ``DOCUMENTS_SPANS`` pinned and the lineage
with ``LINEAGE`` pinned, so no read starts an inference job.  Stage
tables need no StructType of their own: each is read back with its
plan's own schema (``sources.tables.write_and_read``), and malformed
input lands in structured error columns instead of being silently
skipped (north rule).
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

# The quarantine table (``pages.quarantine_df``, FIXTURES.md): doc_id,
# span_seq, error_kind, error_detail, raw — structured error columns
# (north rule) replacing the reference's silent skips helpers.py:93-95.
# error_kind, first match wins (pages.error_kind_expr): null_doc_id,
# empty_spans, unknown_kind, bad_offset, oversize_text; the streaming
# fragment assembly adds timeout_partial (streaming/assembly.py).

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
