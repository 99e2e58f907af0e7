"""Validation metrics — reference ``validation/validation_report.py`` +
``validation/coverage_calculator.py`` + ``section_parser.py:428-474``
(SURVEY.md §2.4 A1-A11), generalized from one global report to one row per
``doc_id`` (the 10^12-doc shape; a global report is a trivial second agg).

All native aggregations.  ``bround`` (HALF_EVEN) mirrors Python's banker's
``round(x, 2)`` in safe_percentage (coverage_calculator.py:216-222).
The per-doc rollup is one ``unionByName`` of tagged partial rows (docs,
metadata, pages, toc, sections) and one ``groupBy(doc_id)``: one
exchange, no joins.  The TOC covered-page count (A5) is a per-doc fold
of the entry pages' min and max, not an interval sweep or exploded
``sequence()`` ranges — constant memory per doc at any page range
(SURVEY.md A5 "interval arithmetic").

Identity: one row per distinct doc_id of ``docs``, which holds no NULL
id (``stage_graph`` filters it; ``pages.error_kind_expr`` quarantines
such a doc's spans); every input has one document per doc_id.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark.operators.exprs import non_blank


def _pct(n: F.Column, d: F.Column) -> F.Column:
    """safe_percentage (coverage_calculator.py:216-222)."""
    return F.when(d == 0, F.lit(0.0)).otherwise(
        F.bround(n.cast("double") / d * 100, 2)
    )


def metrics_df(
    docs: DataFrame,
    pages: DataFrame,
    toc: DataFrame,
    sections: DataFrame,
    metadata: DataFrame,
) -> DataFrame:
    """One validation-summary row per doc (schema = refsem.doc_metrics).

    ``sections`` is the sections table (only doc_id, section_id, page
    and content are read).  Each source
    contributes tagged partial rows to one union that is grouped once
    on doc_id; a source's own columns are NULL on the other sources'
    rows, so every aggregate only sees its source.  A doc_id of ``docs``
    gets one row, ``Missing`` as its status if ``metadata`` has no row
    for it; ids ``docs`` does not list get none."""
    has_text = non_blank(F.coalesce("text", F.lit("")))
    has_tables = F.col("n_tables") > 0
    has_images = F.col("n_images") > 0
    has_annots = F.col("n_annots") > 0
    has_content = has_text | has_tables | has_images | has_annots
    page_content_len = (
        F.when(has_text, F.length("text")).otherwise(0)
        + F.col("table_text_len")
        + F.col("annot_text_len")
    )
    page_rows = pages.select(
        "doc_id",
        has_text.alias("p_text"),
        has_tables.alias("p_tables"),
        has_images.alias("p_images"),
        has_annots.alias("p_annots"),
        (F.col("n_layout") > 0).alias("p_layout"),
        has_content.alias("p_content"),
        F.when(has_content, page_content_len).otherwise(0).alias("p_len"),
    )

    # A11/F13: required-field validation (metadata_validator.py:20-55);
    # 'falsy' for our string schema means null or empty.
    meta_ok = reduce(
        lambda a, b: a & b,
        [
            F.coalesce(F.col(f), F.lit("")) != ""
            for f in ("doc_title", "revision", "version", "release_date")
        ],
    )
    meta_rows = metadata.select(
        "doc_id",
        F.when(meta_ok, F.lit("Valid"))
        .otherwise(F.lit("Invalid/Missing"))
        .alias("m_status"),
    )

    # A5 reads only valid (page > 0) entries; t_entry tags every entry
    toc_rows = toc.select(
        "doc_id",
        F.lit(True).alias("t_entry"),
        F.when(F.col("page") > 0, F.col("page")).alias("t_page"),
    )

    sec_content = F.coalesce(F.col("content"), F.lit(""))
    sec_lower = F.lower(sec_content)
    sec_rows = sections.select(
        "doc_id",
        (F.coalesce("section_id", F.lit("")) != "").alias("s_toc"),
        (
            (sec_content != "")
            & (sec_lower.contains("table") | sec_content.contains("|"))
        ).alias("s_tables"),
        (
            (sec_content != "")
            & (
                sec_lower.contains("image")
                | sec_lower.contains("figure")
                | sec_lower.contains("diagram")
            )
        ).alias("s_images"),
        F.length(sec_content).alias("s_len"),
        F.col("page").alias("s_page"),
    )

    parts = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [
            docs.select("doc_id", F.lit(True).alias("d_doc")),
            meta_rows,
            page_rows,
            toc_rows,
            sec_rows,
        ],
    )

    def total(c: str) -> F.Column:
        return F.coalesce(F.sum(c), F.lit(0))

    def flag_max(c: str) -> F.Column:
        return F.coalesce(F.max(F.col(c).cast("int")), F.lit(0))

    agg = parts.groupBy("doc_id").agg(
        F.max("d_doc").alias("d_doc"),
        F.coalesce(F.max("m_status"), F.lit("Missing")).alias(
            "metadata_status"
        ),
        F.count("p_text").alias("total_pages"),
        F.count_if("p_text").alias("pages_with_text"),
        F.count_if("p_tables").alias("n_pages_tables"),
        F.count_if("p_images").alias("n_pages_images"),
        F.count_if("p_annots").alias("n_pages_annots"),
        F.count_if("p_layout").alias("n_pages_layout"),
        F.count_if("p_content").alias("pages_with_content"),
        total("p_len").alias("total_content_length"),
        # A4 diversity: distinct content types present anywhere in the doc
        (
            flag_max("p_text") + flag_max("p_tables")
            + flag_max("p_images") + flag_max("p_annots")
        ).alias("content_diversity_score"),
        F.count("t_entry").alias("total_toc_entries"),
        F.min("t_page").alias("first_entry_page"),
        F.max("t_page").alias("last_entry_page"),
        F.count("s_toc").alias("sections_parsed"),
        F.count_if("s_toc").alias("toc_sections"),
        F.count_if(~F.col("s_toc")).alias("non_toc_sections"),
        F.count_if("s_tables").alias("sections_with_tables"),
        F.count_if("s_images").alias("sections_with_images"),
        total("s_len").alias("total_section_content_length"),
        F.size(F.collect_set("s_page")).cast("long").alias(
            "section_pages_covered"
        ),
    )

    tp = F.col("total_pages")
    # A5 (coverage_calculator.py:224-258): in page order (the toc's
    # entry_order is page order), the W1 ranges [p_i, max(p_{i+1} - 1,
    # p_i)] and the last one, [p_n, max(total_pages, p_n)], tile one run
    # from the first entry page to max(total_pages, last entry page)
    covered = F.coalesce(
        F.greatest(tp, F.col("last_entry_page").cast("long"))
        - F.col("first_entry_page")
        + 1,
        F.lit(0).cast("long"),
    )

    text_cov = _pct(F.col("pages_with_text"), tp)
    table_cov = _pct(F.col("n_pages_tables"), tp)
    image_cov = _pct(F.col("n_pages_images"), tp)
    annot_cov = _pct(F.col("n_pages_annots"), tp)
    layout_cov = _pct(F.col("n_pages_layout"), tp)

    return agg.filter(F.col("d_doc")).select(
        "doc_id",
        "metadata_status",
        "total_toc_entries",
        "sections_parsed",
        "pages_with_text",
        covered.alias("toc_covered_pages"),
        _pct(F.col("pages_with_text"), tp).alias("page_coverage_pct"),
        text_cov.alias("text_coverage"),
        table_cov.alias("table_coverage"),
        image_cov.alias("image_coverage"),
        annot_cov.alias("annotation_coverage"),
        layout_cov.alias("layout_coverage"),
        (
            text_cov * 0.4 + table_cov * 0.2 + image_cov * 0.2
            + annot_cov * 0.1 + layout_cov * 0.1
        ).alias("overall_coverage"),
        "total_pages",
        "pages_with_content",
        F.when(F.col("pages_with_content") > 0,
               F.col("total_content_length").cast("double")
               / F.col("pages_with_content"))
        .otherwise(F.lit(0.0))
        .alias("average_content_length"),
        "content_diversity_score",
        _pct(F.col("pages_with_content"), tp).alias(
            "extraction_completeness"
        ),
        "toc_sections",
        "non_toc_sections",
        "sections_with_tables",
        "sections_with_images",
        "total_section_content_length",
        "section_pages_covered",
    )


def corpus_metrics_df(metrics: DataFrame) -> DataFrame:
    """Corpus-level validation summary: ONE row rolling up the per-doc
    metrics — the reference's actual report shape
    (validation_report.py:109-126: Metadata Status, Total ToC Entries,
    Sections Parsed, Pages with Text, TOC Covered Pages, Page Coverage),
    generalized from one document to the whole corpus.

    Only INTEGER columns are summed (deterministic under any partition /
    reduction order); the two percentages are single divisions of those
    exact sums, replaying safe_percentage at corpus granularity.  Float
    per-doc columns (average_content_length, overall_coverage) are NOT
    re-aggregated — a double sum's value depends on reduction order, so
    it could never hash-match an oracle; re-derive them from the integer
    totals instead."""
    agg = metrics.agg(
        F.count("*").alias("n_docs"),
        F.sum(
            (F.col("metadata_status") == "Valid").cast("long")
        ).alias("docs_metadata_valid"),
        F.sum("total_toc_entries").cast("long").alias("total_toc_entries"),
        F.sum("sections_parsed").cast("long").alias("sections_parsed"),
        F.sum("pages_with_text").cast("long").alias("pages_with_text"),
        F.sum("total_pages").cast("long").alias("total_pages"),
        F.sum("toc_covered_pages").cast("long").alias("toc_covered_pages"),
        F.sum("pages_with_content").cast("long").alias(
            "pages_with_content"
        ),
        F.sum("toc_sections").cast("long").alias("toc_sections"),
        F.sum("non_toc_sections").cast("long").alias("non_toc_sections"),
        F.sum("sections_with_tables").cast("long").alias(
            "sections_with_tables"
        ),
        F.sum("sections_with_images").cast("long").alias(
            "sections_with_images"
        ),
        F.sum("total_section_content_length").cast("long").alias(
            "total_section_content_length"
        ),
    )
    return agg.select(
        "*",
        _pct(F.col("pages_with_text"), F.col("total_pages")).alias(
            "page_coverage_pct"
        ),
        _pct(F.col("pages_with_content"), F.col("total_pages")).alias(
            "extraction_completeness"
        ),
    )
