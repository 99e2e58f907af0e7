"""End-to-end pipeline — the Spark equivalent of the reference's five-step
orchestrator (main.py:96-116):

  1. span explode + quarantine + page derivation   (≙ PDF Text Extraction)
  2. metadata extraction                            (≙ Metadata Extraction)
  3. TOC parsing                                    (≙ TOC Parsing)
  4. section assembly                               (≙ Section Parsing)
  5. validation metrics                             (≙ Validation Report)

Where the reference re-reads JSONL files between steps
(main.py:194-202, section_parser.py:94-107 — SURVEY.md §2 S7), this build
holds ONE cached pages DataFrame reused by steps 2-5 (SURVEY.md §4 P9).

Scale: the input is read with its on-disk doc_id-range layout
(fixtures/gen.write_parquet mirrors the production Iceberg bucketing);
every per-doc stage shuffles on doc_id only, so AQE coalesces them onto
one exchange, and mega-doc skew is spread by the (doc_id, page) windows
inside pages.span_sequence_df (SURVEY.md §4 P6).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from pdf_parser_spark.config import DEFAULT_CONFIG, PipelineConfig
from pdf_parser_spark.operators import metadata as metadata_op
from pdf_parser_spark.operators import metrics as metrics_op
from pdf_parser_spark.operators import pages as pages_op
from pdf_parser_spark.operators import sections as sections_op
from pdf_parser_spark.operators import toc as toc_op
from pdf_parser_spark.schemas import DOCUMENTS_SPANS
from pdf_parser_spark.session import cache_stage


@dataclass
class PipelineResult:
    quarantine: DataFrame
    spans_out: DataFrame
    pages: DataFrame
    metadata: DataFrame
    toc: DataFrame
    sections: DataFrame
    metrics: DataFrame
    #: every DataFrame the run persisted, stage tables and operator
    #: internals alike, in materialization order
    cached: tuple = ()

    def unpersist(self) -> None:
        for df in self.cached:
            df.unpersist()


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """Read the interleaved-spans input table (BASELINE.json input_hint
    shape): ``iceberg:<catalog.db.table>`` refs go through the Iceberg
    catalog (sources/tables.py gate), parquet paths read with the schema
    pinned — no inference pass."""
    from pdf_parser_spark.sources.tables import read_table

    return read_table(spark, path, schema=DOCUMENTS_SPANS)


def run_pipeline(
    docs: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    cache: bool = True,
    normalize_html: bool = False,
) -> PipelineResult:
    """With ``cache`` every stage boundary is materialized through
    ``session.cache_stage`` and the result's ``unpersist()`` releases
    all of it; without it every table is a lazy plan."""
    cached: list | None = [] if cache else None
    # north rule: with ``normalize_html`` the corpus's raw-HTML payload
    # spans are stripped to text spans in place before validation.  Off
    # by default: production runs normalize once at ingest
    # (functions/boilerplate.strip_html_spans); the inline path is for
    # un-normalized corpora, and its extra work + cache are proportional
    # to the html rows only — ``docs`` for the doc_id-universe consumers
    # (metadata/metrics) stays the raw scan.
    flat = pages_op.explode_spans(
        docs, cfg, normalize_html=normalize_html, cache=cached
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
    pages = cache_stage(pages_op.pages_df(valid, cfg), cached)
    metadata = cache_stage(metadata_op.metadata_df(docs, pages, cfg), cached)
    toc = cache_stage(
        toc_op.toc_entries_df(pages, metadata, cfg, cache=cached), cached
    )
    sections = cache_stage(
        sections_op.sections_df(pages, toc, metadata, cfg, cache=cached),
        cached,
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
        cached=tuple(cached or ()),
    )
