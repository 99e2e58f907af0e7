"""Section assembly — reference ``parsers/section_parser.py`` +
``parsers/section/*`` (SURVEY.md §2 J2/J3/J5, W1/W5, F7/F8/F11, A10,
X21-X25).

Dataflow (all shuffles keyed on ``doc_id``, no join):

1. W1/J2/J3/J5: one doc_id window over pages ∪ valid TOC entries ∪
   metadata rows, ordered by page, gives each page its owning entry (the
   W1 ranges of the page-ordered entries tile [p₁, ∞)), whether it is
   uncovered, and whether it is an existing section page.
2. J2: one ``groupBy(doc_id, owner)`` assembles each entry's content
   with the PAGE BREAK sentinel, in page order, via
   ``array_sort(collect_list(...))`` — no per-doc global sort.
3. J3: uncovered pages → per-page sections (heading detection = the
   native strategy Column exprs of operators/headings).
4. J5: remaining substantial pages → content-based sections
   (natural-heading state machine as a pandas UDF returning (title,
   content) pairs), in the same ``explode`` as the per-page sections.
5. W5: per-doc final ordering by (page, section_id, pass, intra) —
   ``row_number`` per doc, never a global sort.

Steps 1-4 are ``sections_preorder_df`` and step 5 is ``sections_df``;
the pipeline's ``sections`` stage plans them as one job, so the
pre-order union is never written.  The job shuffles three times, each
on doc_id: once per pre-order branch into step 1's window, and once
into W5's window (the J5 UDF's Arrow node drops the branches' doc_id
partitioning), which moves each section's content once.

Identity: no input row carries a NULL doc_id (``pages.error_kind_expr``
quarantines those spans), and a doc_id is one document — one metadata
row, unique ``entry_order`` — so each section is emitted once.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from pdf_parser_spark.config import DEFAULT_CONFIG, PipelineConfig
from pdf_parser_spark.operators import headings
from pdf_parser_spark.operators.exprs import (
    non_blank,
    py_strip,
    section_level,
    section_parent,
)
from pdf_parser_spark.oracle import refsem

PAGE_BREAK = "\n\n=== PAGE BREAK ===\n\n"

_PAIR_TYPE = ArrayType(
    StructType(
        [
            StructField("title", StringType()),
            StructField("content", StringType()),
        ]
    )
)


@F.pandas_udf(_PAIR_TYPE)
def _content_sections_udf(text: pd.Series, page: pd.Series) -> pd.Series:
    """Natural-heading split + longest-paragraph fallback
    (section_parser.py:256-369) → (title, content) pairs."""
    return pd.Series(
        [
            [] if t is None else refsem.content_section_pairs(t, int(p))
            for t, p in zip(text, page)
        ]
    )


def _page_section_tags(content: F.Column) -> F.Column:
    """section_builder.py:88-125: content-analysis flags + size tags."""
    c = F.coalesce(content, F.lit(""))
    n = F.length(c)
    arr = F.array(
        F.lit("enhanced_extraction"),
        F.when(c.contains("TABLES") | c.contains("|"),
               F.lit("contains_tables")),
        F.when(c.contains("IMAGES") | c.contains("Image"),
               F.lit("contains_images")),
        F.when(c.contains("ANNOTATIONS"), F.lit("contains_annotations")),
        F.when(c.contains("LAYOUT TEXT"), F.lit("has_layout_info")),
        F.when(n > 5000, F.lit("large_content"))
        .when(n > 1000, F.lit("medium_content"))
        .otherwise(F.lit("small_content")),
    )
    return F.filter(arr, lambda x: x.isNotNull())


def sections_preorder_df(
    pages: DataFrame,
    toc: DataFrame,
    metadata: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Section assembly before the W5 ordering: the union of the TOC,
    page and content sections (the reference section's columns,
    section/section_data.py:13-29, plus ``pass_rank`` and
    ``intra_order``; the page sections' ``full_path`` is NULL until
    ``sections_df`` derives it), which ``sections_df`` orders.

    No join: the pages, the valid TOC entries and the metadata rows
    are shuffled on doc_id into one window ordered by page
    (``_assign_pages``), once for the TOC sections and once for the
    page and content sections.  The toc's ``entry_order`` is page order
    (``toc_entries_df`` numbers entries by page first), which the W1
    ranges below rely on."""
    rows = _assign_pages(pages, toc, metadata, cfg)
    return _toc_sections(rows).unionByName(
        _page_sections(rows)
    )


def _assign_pages(
    pages: DataFrame,
    toc: DataFrame,
    metadata: DataFrame,
    cfg: PipelineConfig,
) -> DataFrame:
    """Pages ∪ valid TOC entries ∪ metadata rows, with each page's
    owning entry, pass flags and the doc's title (J6, from its one
    metadata row; NULL without one).

    W1 (toc_processor.py:59-75; section_parser.py:163-167): entry i
    covers [page_i, page_{i+1} - 1] and the last entry runs to
    total_pages.  In page order these ranges tile [p_1, ∞), so
    - J2: a page's owner is the last entry, in entry_order, whose page
      is <= the page (a running max); an entry that owns no page (the
      next entry shares its page, or it lies past the last page) gets
      empty content;
    - J3: the uncovered pages are those before the doc's first valid
      entry page (no owner);
    - J5: the "existing" pages are the entry pages plus the uncovered
      pages with content."""
    entries = toc.filter(F.col("page") > 0).select(
        "doc_id",
        "page",
        F.col("entry_order").alias("_entry"),
        F.struct(
            "doc_title", "section_id", "title", "page", "tags", "entry_order"
        ).alias("_e"),
    )
    rows = (
        entries.unionByName(
            pages.select("doc_id", "page", "text", "content"),
            allowMissingColumns=True,
        )
        .unionByName(
            metadata.select(
                "doc_id", F.struct("doc_title").alias("_meta")
            ),
            allowMissingColumns=True,
        )
    )
    is_entry = F.col("_entry").isNotNull()
    # metadata rows (page NULL) sort first; entries before the pages of
    # their own page
    upto = (
        Window.partitionBy("doc_id")
        .orderBy("page", ~is_entry, "_entry")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rows = rows.select(
        "*",
        F.max("_entry").over(upto).alias("_owner"),
        F.max(F.when(is_entry, F.col("page"))).over(upto).alias("_entry_p"),
        F.max("_meta.doc_title").over(Window.partitionBy("doc_id"))
        .alias("doc_title"),
    ).filter(F.col("_meta").isNull())
    is_page = ~is_entry
    content = F.coalesce("content", F.lit(""))
    page_section = is_page & F.col("_owner").isNull() & non_blank(content)
    is_entry_page = F.col("_entry_p").eqNullSafe(F.col("page"))
    existing = is_entry_page | page_section
    return rows.select(
        "doc_id",
        "page",
        "content",
        "_e",
        "doc_title",
        # J2 group: an entry's own order, or a covered page's owner
        F.when(is_entry, F.col("_entry")).otherwise(F.col("_owner"))
        .alias("_group"),
        page_section.alias("_page_section"),
        (
            is_page
            & ~existing
            & (F.col("page") > 0)
            & (
                F.length(py_strip(F.coalesce("text", F.lit(""))))
                > cfg.substantial_content_len
            )
        ).alias("_content_candidate"),
        "text",
    )


def _toc_sections(rows: DataFrame) -> DataFrame:
    """J2: each entry's content is its owned pages in page order, joined
    with the PAGE BREAK sentinel (comprehensive_content_range,
    page_manager.py:53-67).  One ``groupBy(doc_id, owner)`` over the
    rows ``_assign_pages`` tags: each group holds one entry row (its
    ``entry_order`` is unique in the doc) and the pages it owns, none
    if it owns no page (empty content)."""
    page_part = F.struct(F.col("page"), F.col("content"))
    grouped = (
        rows.filter(F.col("_group").isNotNull())
        .groupBy("doc_id", "_group")
        .agg(
            F.first("_e", ignorenulls=True).alias("e"),
            F.array_sort(F.collect_list(
                F.when(F.col("_e").isNull(), page_part)
            )).alias("_parts"),
        )
    )
    entry_content = py_strip(
        F.array_join(
            F.transform(
                "_parts", lambda s: F.coalesce(s["content"], F.lit(""))
            ),
            PAGE_BREAK,
        )
    )
    e = grouped.select("doc_id", entry_content.alias("content"), "e.*")
    sid = F.coalesce(F.col("section_id"), F.lit(""))
    return e.select(
        "doc_id",
        "doc_title",
        sid.alias("section_id"),
        F.coalesce("title", F.lit("")).alias("title"),
        # full_path = f"{sid} {title}".strip() (section_builder.py:77)
        py_strip(
            F.concat(sid, F.lit(" "), F.coalesce("title", F.lit("")))
        ).alias("full_path"),
        "page",
        # level/parent RE-derived from the final section_id string
        # (section_builder.py:127-146)
        section_level(F.nullif(sid, F.lit(""))).alias("level"),
        section_parent(sid).alias("parent_id"),
        "content",
        F.coalesce("tags", F.array().cast("array<string>")).alias("tags"),
        F.lit(0).alias("pass_rank"),
        F.col("entry_order").alias("intra_order"),
    )


def _page_sections(rows: DataFrame) -> DataFrame:
    """J3 per-page sections (heading detection = the native strategy
    Column exprs of operators/headings) and J5 content-based sections
    (natural-heading state machine as a pandas UDF returning (title,
    content) pairs; only the content candidates' text crosses into it),
    one ``explode`` over both, each carrying the doc's title (J6)."""
    pairs = _content_sections_udf(
        F.when(F.col("_content_candidate"), F.col("text")), F.col("page")
    )
    content = F.coalesce("content", F.lit(""))
    page_section = F.struct(
        headings.detect_enhanced_heading_expr(
            F.col("content"), F.col("page")
        ).alias("title"),
        content.alias("content"),
        F.lit(1).alias("pass_rank"),
        F.lit(0).alias("intra_order"),
    )
    items = F.concat(
        F.when(F.col("_page_section"), F.array(page_section)).otherwise(
            F.array()
        ),
        F.transform(
            pairs,
            lambda p, i: F.struct(
                p["title"].alias("title"),
                p["content"].alias("content"),
                F.lit(2).alias("pass_rank"),
                i.alias("intra_order"),
            ),
        ),
    )
    items = (
        rows.filter(F.col("_page_section") | F.col("_content_candidate"))
        .select("doc_id", "doc_title", "page", F.explode(items).alias("s"))
        .select("doc_id", "doc_title", "page", "s.*")
    )
    section_id = F.concat(F.lit("Page-"), F.col("page"))
    # the page sections' full_path is derived by sections_df, above
    # W5's window: referencing `title` twice in one projection makes
    # CollapseProject inline the (regex-heavy) detection expression
    # twice — above the window it is a cheap concat over its output
    return items.select(
        "doc_id",
        "doc_title",
        section_id.alias("section_id"),
        "title",
        F.when(
            F.col("pass_rank") == 2,
            F.concat(section_id, F.lit(" "), F.col("title")),
        ).alias("full_path"),
        "page",
        F.lit(1).alias("level"),
        F.lit(None).cast("string").alias("parent_id"),
        "content",
        _page_section_tags(F.col("content")).alias("tags"),
        "pass_rank",
        "intra_order",
    )


def sections_df(preorder: DataFrame) -> DataFrame:
    """W5: the ``sections_preorder_df`` rows in per-doc order; returns
    their section columns + ``order`` per doc.

    One ``row_number`` window directly over the pre-order union: one
    doc_id exchange and a local sort move each section's content once.
    A skinny key window joined back would shuffle the content too, and
    over the unwritten union would run the J5 UDF twice.  The (page,
    section_id, pass_rank, intra_order) key is unique per doc (toc rows
    have unique entry_order, page rows unique page, content rows unique
    (page, intra_order)), so ``order`` is deterministic."""
    w_order = Window.partitionBy("doc_id").orderBy(
        "page",
        F.coalesce("section_id", F.lit("")),
        "pass_rank",
        "intra_order",
    )
    page_path = F.concat(
        F.lit("Page-"), F.col("page"), F.lit(" "), F.col("title")
    )
    ordered = preorder.withColumn("order", F.row_number().over(w_order))
    return ordered.select(*[
        F.when(F.col("pass_rank") == 1, page_path)
        .otherwise(F.col("full_path"))
        .alias("full_path")
        if c == "full_path"
        else c
        for c in ordered.columns
        if c not in ("pass_rank", "intra_order")
    ])
