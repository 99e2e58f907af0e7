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
