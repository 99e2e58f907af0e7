"""End-to-end pipeline — the Spark equivalent of the reference's five-step
orchestrator (main.py:96-116):

  1. span explode + quarantine + page derivation   (≙ PDF Text Extraction)
  2. metadata extraction                            (≙ Metadata Extraction)
  3. TOC parsing                                    (≙ TOC Parsing)
  4. section assembly                               (≙ Section Parsing)
  5. validation metrics                             (≙ Validation Report)

Where the reference re-reads JSONL files between steps
(main.py:194-202, section_parser.py:94-107 — SURVEY.md §2 S7), this build
runs one explicit graph of named stages (``stage_graph``).  Each stage
names the stages it reads; one driver-side scheduler (``run_stages``)
writes each as soon as its inputs exist, submitting every ready stage at
once, so independent stages overlap:

  html_rewrite → pages → metadata → toc → sections → metrics

with spans_out and quarantine off that path (they read only the
exploded spans): 6 levels.  Every materialization is the same durable
boundary, ``sources.tables.write_and_read`` under the run's
``stage_ref``: each stage table is written once and read back with its
schema pinned, so later stages plan from file scans instead of from the
upstream lineage.  A stage table exists only where a later stage or a
caller reads it: the TOC line features run inside the ``toc`` job and
the pre-order section union inside the ``sections`` job.  The one
operator-internal stage, ``html_rewrite``, lands under
``<stage_ref>/_internal/``.

Scale: the input is read with its on-disk doc_id-range layout
(fixtures/gen.write_parquet mirrors the production Iceberg bucketing).
Every per-doc stage shuffles on doc_id only and plans no join, so none
runs a broadcast side job: pages, metadata, toc, sections and metrics
are one Spark job each.  Mega-doc skew in spans_out goes through
pages.span_sequence_skew_df's two-phase chunked path (SURVEY.md §4 P6).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field, fields, replace
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from pdf_parser_spark.config import DEFAULT_CONFIG, PipelineConfig
from pdf_parser_spark.operators import metadata as metadata_op
from pdf_parser_spark.operators import metrics as metrics_op
from pdf_parser_spark.operators import pages as pages_op
from pdf_parser_spark.operators import sections as sections_op
from pdf_parser_spark.operators import toc as toc_op
from pdf_parser_spark.schemas import DOCUMENTS_SPANS
from pdf_parser_spark.sources import tables

#: writes a stage's frame; returns the frame downstream stages read
#: (normally the table read back) and the rows written
Writer = Callable[[DataFrame], tuple[DataFrame, int]]


@dataclass(frozen=True)
class Stage:
    """One node of the stage graph.  ``plan`` builds the stage's frame
    from the frames of the stages named in ``inputs``, in that order;
    ``write`` lands it.  A stage without a writer stays a plan that its
    consumers inline (a caller gets it back unwritten)."""

    name: str
    inputs: tuple
    plan: Callable[..., DataFrame]
    write: Writer | None = None


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


def stage_graph(
    docs: DataFrame,
    stage_ref: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    normalize_html: bool = False,
) -> list[Stage]:
    """The pipeline's stages, each listed after the stages it reads.
    pages, metadata, toc and sections are written under ``stage_ref``,
    html_rewrite under ``<stage_ref>/_internal``; spans_out,
    quarantine and metrics are plans until a caller gives them a
    writer (``run_pipeline``'s ``sinks``).  Stages that become ready
    together are submitted in list order, and Spark's FIFO scheduler
    gives the earlier job's tasks the free cores first, so the
    critical path (html_rewrite → pages → metadata → toc → sections →
    metrics) is listed ahead of the stages beside it."""

    def written(name: str, ref_of=tables.sub_ref) -> Writer:
        return partial(tables.write_and_read, ref=ref_of(stage_ref, name))

    # north rule: with ``normalize_html`` the corpus's raw-HTML payload
    # spans are stripped to text spans in place before validation.  Off
    # by default: production runs normalize once at ingest
    # (functions/boilerplate.strip_html_spans); the inline path is for
    # un-normalized corpora, and its extra work + stage table are
    # proportional to the html rows only — ``docs`` for the doc_id-universe
    # consumers (metadata/metrics) stays the raw scan.
    graph = []
    # the doc_id universe of metadata, metrics and the mega probe: a NULL
    # doc_id is no document (its spans are quarantined as null_doc_id),
    # and this filter is pushed into the scan
    keyed_docs = docs.filter(F.col("doc_id").isNotNull())
    if normalize_html:
        from pdf_parser_spark.functions import boilerplate

        graph.append(Stage(
            "html_rewrite", (),
            lambda: boilerplate.html_rewrite_df(
                pages_op.explode_spans_raw(docs)
            ),
            written("html_rewrite", tables.internal_ref),
        ))
    spans_in = ("html_rewrite",) if normalize_html else ()

    def flat(*rewritten: DataFrame) -> DataFrame:
        return pages_op.explode_spans(docs, cfg, normalize_html, *rewritten)

    return graph + [
        # steps 2-5 all read pages; one materialization instead of the
        # reference's three JSONL re-reads (S7)
        Stage("pages", spans_in,
              lambda *r: pages_op.pages_df(
                  pages_op.valid_spans(flat(*r)), cfg),
              written("pages")),
        Stage("metadata", ("pages",),
              lambda pages: metadata_op.metadata_df(keyed_docs, pages, cfg),
              written("metadata")),
        # the line features have one consumer: they run in the toc job
        Stage("toc", ("pages", "metadata"),
              lambda pages, meta: toc_op.toc_entries_df(
                  toc_op.toc_features_df(pages, cfg), meta, cfg),
              written("toc")),
        # W5 numbers the pre-order union in the job that builds it
        Stage("sections", ("pages", "toc", "metadata"),
              lambda pages, toc, meta: sections_op.sections_df(
                  sections_op.sections_preorder_df(pages, toc, meta, cfg)),
              written("sections")),
        Stage("metrics", ("pages", "toc", "sections", "metadata"),
              lambda pages, toc, sections, meta: metrics_op.metrics_df(
                  keyed_docs, pages, toc, sections, meta)),
        # W2 reassembly with mega-doc salting (SURVEY §4 P6): docs past
        # cfg.mega_doc_span_threshold take the two-phase chunked path so
        # no single task sorts a pathological doc alone; output is
        # bit-identical either way.
        Stage("spans_out", spans_in,
              lambda *r: pages_op.span_sequence_skew_df(
                  pages_op.valid_spans(flat(*r)), cfg, docs=keyed_docs)),
        Stage("quarantine", spans_in,
              lambda *r: pages_op.quarantine_df(flat(*r))),
    ]


def run_stages(
    spark: SparkSession, stages: Sequence[Stage]
) -> dict[str, tuple[DataFrame, int | None]]:
    """Run a stage graph; returns each stage's frame and rows written
    (None for an unwritten stage).

    Every stage whose inputs are done is submitted at once to a thread
    pool as wide as the graph, so the graph alone fixes the concurrency.
    Each task runs through ``inheritable_thread_target``: its jobs stay
    in the caller's job group and carry the stage name as their job
    description.  If a stage raises, no further stage starts, the
    running ones finish (their tables stay, as do those of every stage
    already done), and the exception is re-raised once the pool's
    threads have ended."""
    seen: set = set()
    for st in stages:
        if st.name in seen or not seen.issuperset(st.inputs):
            raise ValueError(
                f"stage {st.name!r} is a duplicate or reads a stage not "
                f"listed before it: {st.inputs}"
            )
        seen.add(st.name)

    def run(st: Stage, frames: list) -> tuple[DataFrame, int | None]:
        spark.sparkContext.setJobDescription(st.name)
        df = st.plan(*frames)
        return (df, None) if st.write is None else st.write(df)

    done: dict = {}
    waiting = list(stages)
    running: dict = {}
    with ThreadPoolExecutor(len(stages), "pipeline-stage") as pool:
        while waiting or running:
            for st in [s for s in waiting if done.keys() >= set(s.inputs)]:
                waiting.remove(st)
                task = inheritable_thread_target(spark)(run)
                frames = [done[n][0] for n in st.inputs]
                running[pool.submit(task, st, frames)] = st
            finished, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in finished:
                done[running.pop(fut).name] = fut.result()
    return done


def run_pipeline(
    docs: DataFrame,
    stage_ref: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    normalize_html: bool = False,
    sinks: Mapping[str, Writer] | None = None,
) -> PipelineResult:
    """Run ``stage_graph`` through ``run_stages``.  ``sinks`` gives
    stages (by name) a writer of the caller's, in place of their own or
    none: the CLI writes spans_out, quarantine and metrics this way, and
    ``run_resumable`` its bucketed spans_out and sections.  The result
    holds each stage's frame (written ones read back) and ``counts`` the
    rows written per table.  The stage tables must outlive every read of
    the result."""
    sinks = dict(sinks or {})
    graph = [
        replace(st, write=sinks.pop(st.name, st.write))
        for st in stage_graph(docs, stage_ref, cfg, normalize_html)
    ]
    if sinks:
        raise ValueError(f"no stage named {sorted(sinks)}")
    done = run_stages(docs.sparkSession, graph)
    names = [f.name for f in fields(PipelineResult) if f.name != "counts"]
    return PipelineResult(
        **{n: done[n][0] for n in names},
        counts={n: done[n][1] for n in names if done[n][1] is not None},
    )
