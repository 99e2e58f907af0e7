"""Metadata extraction (X3) — reference ``parsers/metadata_parser.py``.

Pages 1..5 are concatenated per document and four case-insensitive regex
fields are pulled out, defaulting to ``"Unknown"``
(metadata_parser.py:82-98, 106-115).  All native Column expressions — the
regex literals are compiled once per task by Catalyst, replacing the
reference's FIFO pattern cache (text_utils.py:45-57; SURVEY.md §4 P4).

Scale notes: the docs ids and the pages are one tagged union grouped
once on ``doc_id`` — one exchange, no join, so no broadcast side job;
the filter ``page <= 5`` prunes before the shuffle (SURVEY.md §4 P2).

Identity: a doc_id is one document, so it gets one metadata row however
often ``docs`` lists it; NULL ids never get here (``stage_graph`` hands
in the non-NULL ``docs``, and ``pages.error_kind_expr`` quarantines
their spans).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark.config import DEFAULT_CONFIG, PipelineConfig
from pdf_parser_spark.operators.exprs import py_strip

# Same patterns as the oracle (refsem.METADATA_PATTERNS), prefixed (?i) for
# re.IGNORECASE parity (metadata_parser.py:117-129).
_FIELD_PATTERNS = {
    "doc_title": r"(?i)(Universal Serial Bus.*Power Delivery Specification)",
    "revision": r"(?i)(?:Revision|Rev\.?)[: ]+\s*([0-9.]+)",
    "version": r"(?i)(?:Version|V)\s*[:]?\s*([0-9.]+)",
    "release_date": (
        r"(?i)(?:Release Date|Published:?)\s*[:]?\s*"
        r"([0-9]{4}(?:-[0-9]{1,2})?)"
    ),
}


def _field(combined: F.Column, pattern: str) -> F.Column:
    """``m.group(1).strip() if m else "Unknown"`` (metadata_parser.py:86-94).

    ``regexp_extract`` returns '' on no-match; none of the four group
    patterns can match an empty string, so ''⇒no-match is unambiguous.
    """
    return F.coalesce(
        F.nullif(py_strip(F.regexp_extract(combined, pattern, 1)), F.lit("")),
        F.lit("Unknown"),
    )


def metadata_df(
    docs: DataFrame,
    pages: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """(doc_id) × pages → one row per doc: doc_title/revision/version/
    release_date, 'Unknown' defaults.  ``docs`` supplies the full doc_id
    universe (a doc whose spans were all quarantined still gets a row —
    the reference returns all-Unknown for an unreadable PDF).

    One ``unionByName`` of the docs ids and the pages <= 5, grouped
    once on doc_id: one exchange, no join.  Each distinct doc_id of
    ``docs`` gets one row, and pages of an id ``docs`` does not list
    give none."""
    relevant = pages.filter(F.col("page") <= cfg.metadata_max_page).select(
        "doc_id", F.struct("page", "text").alias("_page")
    )
    parts = docs.select("doc_id", F.lit(True).alias("_doc")).unionByName(
        relevant, allowMissingColumns=True
    )
    out = parts.groupBy("doc_id").agg(
        F.max("_doc").alias("_doc"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("_page")),
                lambda s: F.coalesce(s["text"], F.lit("")),
            ),
            "\n",
        ).alias("combined"),
    ).filter(F.col("_doc"))
    for field, pattern in _FIELD_PATTERNS.items():
        out = out.withColumn(field, _field(F.col("combined"), pattern))
    return out.select(
        "doc_id", "doc_title", "revision", "version", "release_date"
    )
