"""End-to-end pipeline — the Spark equivalent of the reference's five-step
orchestrator (main.py:96-116):

  1. span explode + quarantine + page derivation   (≙ PDF Text Extraction)
  2. metadata extraction                            (≙ Metadata Extraction)
  3. TOC parsing                                    (≙ TOC Parsing)
  4. section assembly                               (≙ Section Parsing)
  5. validation metrics                             (≙ Validation Report)

Where the reference re-reads JSONL files between steps
(main.py:194-202, section_parser.py:94-107 — SURVEY.md §2 S7), this build
materializes each of pages, metadata, toc and sections once and reuses it
downstream (SURVEY.md §4 P9).  Every materialization is the same durable
boundary, ``sources.tables.write_and_read`` under the run's ``stage_ref``:
each stage table is written once and read back with its schema pinned, so
later stages plan from file scans instead of from the upstream lineage.
The operators' internal materializations land next to them under
``_``-prefixed names (the CLI's ``--output/_*``).

Scale: the input is read with its on-disk doc_id-range layout
(fixtures/gen.write_parquet mirrors the production Iceberg bucketing);
every per-doc stage shuffles on doc_id only, so AQE coalesces them onto
one exchange, and mega-doc skew is spread by the (doc_id, page) windows
inside pages.span_sequence_df (SURVEY.md §4 P6).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from pdf_parser_spark.config import DEFAULT_CONFIG, PipelineConfig
from pdf_parser_spark.operators import metadata as metadata_op
from pdf_parser_spark.operators import metrics as metrics_op
from pdf_parser_spark.operators import pages as pages_op
from pdf_parser_spark.operators import sections as sections_op
from pdf_parser_spark.operators import toc as toc_op
from pdf_parser_spark.schemas import DOCUMENTS_SPANS
from pdf_parser_spark.sources import tables


@dataclass
class PipelineResult:
    quarantine: DataFrame
    spans_out: DataFrame
    pages: DataFrame
    metadata: DataFrame
    toc: DataFrame
    sections: DataFrame
    metrics: DataFrame
    #: rows written per stage table
    counts: dict = field(default_factory=dict)


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """Read the interleaved-spans input table (BASELINE.json input_hint
    shape): ``iceberg:<catalog.db.table>`` refs go through the Iceberg
    catalog (sources/tables.py gate), parquet paths read with the schema
    pinned — no inference pass."""
    return tables.read_table(spark, path, schema=DOCUMENTS_SPANS)


def run_pipeline(
    docs: DataFrame,
    stage_ref: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    normalize_html: bool = False,
) -> PipelineResult:
    """Pages, metadata, toc and sections are each written once under
    ``stage_ref`` (``sources.tables.write_and_read``) as soon as they are
    planned, and the result holds the tables read back; ``counts`` holds
    the rows written.  spans_out, quarantine and metrics come back as
    plans over those tables: only a caller that wants one writes it.
    The stage tables must outlive every read of the result."""
    counts: dict = {}

    def stage(name: str, df: DataFrame) -> DataFrame:
        df, counts[name] = tables.write_and_read(
            df, tables.sub_ref(stage_ref, name)
        )
        return df

    # north rule: with ``normalize_html`` the corpus's raw-HTML payload
    # spans are stripped to text spans in place before validation.  Off
    # by default: production runs normalize once at ingest
    # (functions/boilerplate.strip_html_spans); the inline path is for
    # un-normalized corpora, and its extra work + stage table are
    # proportional to the html rows only — ``docs`` for the doc_id-universe
    # consumers (metadata/metrics) stays the raw scan.
    flat = pages_op.explode_spans(
        docs, cfg, normalize_html=normalize_html, stage_ref=stage_ref
    )
    quarantine = pages_op.quarantine_df(flat)
    valid = pages_op.valid_spans(flat)
    # W2 reassembly with mega-doc salting (SURVEY §4 P6): docs past
    # cfg.mega_doc_span_threshold take the two-phase chunked path so no
    # single task sorts a pathological doc alone; output is
    # bit-identical either way.
    spans_out = pages_op.span_sequence_skew_df(valid, cfg, docs=docs)

    # steps 2-5 all read pages; one materialization instead of the
    # reference's three JSONL re-reads (S7)
    pages = stage("pages", pages_op.pages_df(valid, cfg))
    metadata = stage("metadata", metadata_op.metadata_df(docs, pages, cfg))
    toc = stage(
        "toc", toc_op.toc_entries_df(pages, metadata, stage_ref, cfg)
    )
    sections = stage(
        "sections",
        sections_op.sections_df(pages, toc, metadata, stage_ref, cfg),
    )
    metrics = metrics_op.metrics_df(docs, pages, toc, sections, metadata)

    return PipelineResult(
        quarantine=quarantine,
        spans_out=spans_out,
        pages=pages,
        metadata=metadata,
        toc=toc,
        sections=sections,
        metrics=metrics,
        counts=counts,
    )
