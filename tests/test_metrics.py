"""Spark ↔ oracle parity for the validation metrics (A1-A11) via the full
pipeline composer."""

import math

from pdf_parser_spark.oracle import refsem
from pdf_parser_spark.pipeline import run_pipeline

FIELDS = [
    "metadata_status",
    "total_toc_entries",
    "sections_parsed",
    "pages_with_text",
    "toc_covered_pages",
    "page_coverage_pct",
    "text_coverage",
    "table_coverage",
    "image_coverage",
    "annotation_coverage",
    "layout_coverage",
    "overall_coverage",
    "total_pages",
    "pages_with_content",
    "average_content_length",
    "content_diversity_score",
    "extraction_completeness",
    "toc_sections",
    "non_toc_sections",
    "sections_with_tables",
    "sections_with_images",
    "total_section_content_length",
    "section_pages_covered",
]


def test_metrics_parity(docs_df, oracle_results, tmp_path):
    result = run_pipeline(docs_df, str(tmp_path))
    rows = {r.doc_id: r for r in result.metrics.collect()}
    assert set(rows) == set(oracle_results)
    mismatches = []
    for doc_id, res in oracle_results.items():
        want = refsem.doc_metrics(res)
        got = rows[doc_id]
        for f in FIELDS:
            g, w = getattr(got, f), want[f]
            if isinstance(w, float):
                ok = math.isclose(g, w, rel_tol=0, abs_tol=1e-9)
            else:
                ok = g == w
            if not ok:
                mismatches.append((doc_id, f, g, w))
    assert not mismatches, mismatches[:15]


def test_metrics_edge_doc_ids(spark, tmp_path):
    """Row multiplicity of the one-groupBy rollup on a nullable-doc_id
    corpus: a NULL doc_id is no document and gets no metrics row, and a
    doc_id that appears twice is one document with one row.

    Metrics reads the sections table, which holds each of the
    duplicated id's 24 pre-order rows once; its 18 toc entries are
    emitted once each."""
    from pyspark.sql.types import StringType, StructField, StructType

    from pdf_parser_spark.fixtures.gen import fixture_corpus, to_rows
    from pdf_parser_spark.schemas import DOCUMENTS_SPANS

    corpus = fixture_corpus(4, mega_spans=200)
    dup = corpus[0]["doc_id"]
    docs = spark.createDataFrame(
        list(to_rows(corpus + [
            corpus[0],
            dict(corpus[1], doc_id=None),
            dict(corpus[2], doc_id=None),
        ])),
        StructType([
            StructField("doc_id", StringType(), True),
            DOCUMENTS_SPANS["spans"],
        ]),
    )
    result = run_pipeline(docs, str(tmp_path))
    rows = result.metrics.collect()

    assert not [r for r in rows if r.doc_id is None]

    dups = [r for r in rows if r.doc_id == dup]
    assert len(dups) == 1
    assert result.sections.filter(result.sections.doc_id == dup).count() == 24
    toc = result.toc.filter(result.toc.doc_id == dup)
    assert toc.count() == toc.select("entry_order").distinct().count() == 18
    assert {
        (r.metadata_status, r.total_toc_entries, r.total_pages,
         r.toc_covered_pages, r.sections_parsed, r.toc_sections,
         r.non_toc_sections, r.sections_with_tables,
         r.sections_with_images, r.total_section_content_length,
         r.section_pages_covered)
        for r in dups
    } == {("Valid", 18, 13, 914, 24, 19, 5, 3, 2, 10777, 21)}
