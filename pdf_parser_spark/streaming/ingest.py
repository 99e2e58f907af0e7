"""Structured Streaming ingest — the continuous-arrival variant of the
batch pipeline (SURVEY.md §2.9).

The reference is one-shot batch; at 10^12 docs new documents arrive
continuously.  ``Trigger.AvailableNow`` + ``checkpointLocation`` gives
exactly-once incremental processing over a growing table directory: each
invocation processes only files not yet recorded in the checkpoint — the
streaming twin of the lineage/anti-join resume in ``lineage.py``.

This module itself needs no event-time semantics (the reference has
none — SURVEY.md §2.9: watermarks/windows N/A; the stream is a
file-discovery incremental batch).  Event-time windowed aggregation
with watermarked late-data handling lives in ``arrival.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_parser_spark.config import DEFAULT_CONFIG, PipelineConfig
from pdf_parser_spark.operators import pages as pages_op
from pdf_parser_spark.schemas import DOCUMENTS_SPANS
from pdf_parser_spark.sources.tables import write_table


def read_documents_stream(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(DOCUMENTS_SPANS)
        # bound per-trigger work so one trigger never bites off more than
        # the cluster chews (backpressure at the source)
        .option("maxFilesPerTrigger", 64)
        .parquet(path)
    )


def spans_out_stream(docs: DataFrame,
                     cfg: PipelineConfig = DEFAULT_CONFIG,
                     normalize_html: bool = False) -> DataFrame:
    """Flagship W2 on a stream: the per-doc reassembly uses only
    intra-batch windows keyed by doc_id — valid because a document's spans
    arrive in one file (doc-atomic ingest), so every micro-batch holds
    whole documents.

    ``normalize_html`` strips raw-HTML payload spans in place first
    (``pages.explode_spans``, as in ``run_pipeline``) — use it from
    ``foreachBatch`` (batch DataFrames), where the aggregation it needs
    is unrestricted; arriving documents then land already normalized,
    the streaming twin of ingest-time ``strip_html_spans``."""
    flat = pages_op.explode_spans(docs, cfg, normalize_html=normalize_html)
    return pages_op.span_sequence_df(pages_op.valid_spans(flat))


def write_batch(out: DataFrame, batch_id: int, out_path: str) -> None:
    """Idempotent per-batch sink: partition by ``_batch_id`` + dynamic
    partition overwrite (``write_table``'s ``overwrite_partitions``), so
    replaying a batch (crash between write and checkpoint commit)
    REPLACES its own partition instead of appending a duplicate copy."""
    write_table(
        out.withColumn("_batch_id", F.lit(batch_id)), out_path,
        mode="overwrite_partitions", partition_by=("_batch_id",),
    )


def run_available_now(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    normalize_html: bool = False,
):
    """Process everything currently available, then stop.  Re-invoking
    after new files land processes ONLY the new files (checkpointed file
    index).

    Exactly-once: a blind ``append`` inside foreachBatch is only
    at-least-once — a crash after the write but before the checkpoint
    commit re-runs the batch on resume and duplicates every row (fresh
    part-file names, nothing overwritten).  Instead the output is
    partitioned by ``_batch_id`` and written with dynamic partition
    overwrite, so a replayed batch REPLACES its own partition — the
    write is idempotent per batch id (same device as lineage.py's
    bucketed overwrite)."""
    docs = read_documents_stream(spark, in_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_batch(
            spans_out_stream(batch_df, cfg, normalize_html=normalize_html),
            batch_id,
            out_path,
        )

    query = (
        docs.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query
