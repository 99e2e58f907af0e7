"""Section assembly — reference ``parsers/section_parser.py`` +
``parsers/section/*`` (SURVEY.md §2 J2/J3/J5, W1/W5, F7/F8/F11, A10,
X21-X25).

Dataflow (all shuffles keyed on ``doc_id``):

1. W1: TOC entry page ranges via ``lead(page)`` per doc; the last entry's
   range is open-ended (NULL end), because every ``pages`` row already
   lies within 1..total_pages (``pages_df``'s page skeleton).
2. J2: range join entries×pages (``page >= start AND (end IS NULL OR
   page <= end)``) → per-entry
   content assembled with the PAGE BREAK sentinel, in page order, via
   ``array_sort(collect_list(...))`` — no per-doc global sort.
3. J3: interval anti-join → uncovered pages → per-page sections (heading
   detection = native strategy-registry Column exprs, operators/headings).
4. J5: anti-join remaining pages → content-based sections (natural-heading
   state machine as a pandas UDF returning (title, content) pairs).
5. W5: per-doc final ordering by (page, section_id, pass, intra) —
   ``row_number`` per doc, never a global sort.

Steps 1-4 are ``sections_preorder_df`` and step 5 is ``sections_df``:
two stages of the pipeline's graph (``sections_preorder`` →
``sections``), with the pre-order union written in between.
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
from pdf_parser_spark.operators.exprs import non_blank, py_strip
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
            refsem.content_section_pairs(t or "", int(p))
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


def _in_range(page: F.Column, start: F.Column, end: F.Column) -> F.Column:
    """``page`` within [start, end]; a NULL ``end`` is open-ended."""
    return (page >= start) & (end.isNull() | (page <= end))


def sections_preorder_df(
    pages: DataFrame,
    toc: DataFrame,
    metadata: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    heading_registry=None,
) -> DataFrame:
    """Section assembly before the W5 ordering: the union of the TOC,
    page and content sections (SECTIONS_OUT columns without ``order``,
    plus ``pass_rank`` and ``intra_order``; the page sections' ``full_path``
    is NULL until ``sections_df`` derives it).  ``run_pipeline`` writes it
    as its ``sections_preorder`` stage, which ``sections_df`` orders.

    ``heading_registry``: a ``headings.HeadingRegistry`` of Column-expr
    confidence builders (default: the reference's three strategies) —
    the pluggable heading-detection extension point, mirroring
    HeadingDetector.add_strategy (heading_strategies.py:211-217) but
    fully JVM-side."""
    # ---- W1: entry i covers [page_i, page_{i+1}-1] ---------------------
    # (toc_processor.py:59-75; section_parser.py:163-167).  The last
    # entry runs to total_pages; every pages row lies within it, so its
    # end stays NULL (open) and no per-doc page total is joined in
    valid_toc = toc.filter(F.col("page") > 0)
    ranges = valid_toc.withColumn(
        "end_page",
        F.lead("page").over(
            Window.partitionBy("doc_id").orderBy("entry_order")
        ) - 1,
    )

    # ---- J2: TOC sections with range-joined content --------------------
    # comprehensive_content_range clamps end to total (page_manager.py:53-67):
    # no pages row lies past total_pages, so the join itself clamps
    rng = ranges.select(
        "doc_id",
        "entry_order",
        F.col("page").alias("start_p"),
        "end_page",
    )
    pg = pages.select(
        F.col("doc_id").alias("pg_doc"), "page", "content"
    )
    joined = rng.join(
        pg,
        (rng["doc_id"] == pg["pg_doc"])
        & _in_range(pg["page"], rng["start_p"], rng["end_page"]),
        "left",
    )
    entry_content = joined.groupBy("doc_id", "entry_order").agg(
        py_strip(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("page", "content"))
                    ),
                    lambda s: F.coalesce(s["content"], F.lit("")),
                ),
                PAGE_BREAK,
            )
        ).alias("content")
    )
    sid = F.coalesce(F.col("section_id"), F.lit(""))
    toc_sections = (
        ranges.join(entry_content, ["doc_id", "entry_order"], "left")
        .select(
            "doc_id",
            F.col("doc_title").alias("doc_title"),
            sid.alias("section_id"),
            F.coalesce("title", F.lit("")).alias("title"),
            # full_path = f"{sid} {title}".strip() (section_builder.py:77)
            py_strip(
                F.concat(sid, F.lit(" "), F.coalesce("title", F.lit("")))
            ).alias("full_path"),
            "page",
            # level/parent RE-derived from the final section_id string
            # (section_builder.py:127-146)
            F.when(sid == "", F.lit(1))
            .otherwise(F.size(F.split(sid, r"\.", -1)))
            .cast("int")
            .alias("level"),
            F.when(
                sid.contains("."),
                F.array_join(
                    F.slice(
                        F.split(sid, r"\.", -1),
                        F.lit(1),
                        F.size(F.split(sid, r"\.", -1)) - 1,
                    ),
                    ".",
                ),
            ).alias("parent_id"),
            F.coalesce("content", F.lit("")).alias("content"),
            F.coalesce("tags", F.array().cast("array<string>")).alias("tags"),
            F.lit(0).alias("pass_rank"),
            F.col("entry_order").alias("intra_order"),
        )
    )

    # ---- J3: uncovered pages → per-page sections ------------------------
    # covered intervals use end = max(end, start) (toc_processor.py:74);
    # the last stays open-ended
    intervals = ranges.select(
        F.col("doc_id").alias("iv_doc"),
        F.col("page").alias("iv_start"),
        F.when(
            F.col("end_page").isNotNull(), F.greatest("end_page", "page")
        ).alias("iv_end"),
    )
    uncovered = pages.join(
        intervals,
        (pages["doc_id"] == intervals["iv_doc"])
        & _in_range(
            pages["page"], intervals["iv_start"], intervals["iv_end"]
        ),
        "left_anti",
    ).filter(non_blank(F.coalesce("content", F.lit(""))))
    # full_path is derived by sections_df, after the pre-order table's
    # read-back: referencing `title` twice in one projection makes
    # CollapseProject inline the (regex-heavy) detection expression
    # twice — read back it is a cheap concat over the materialized column
    page_sections = (
        uncovered.withColumn(
            "title",
            headings.detect_enhanced_heading_expr(
                F.col("content"), F.col("page"), heading_registry
            ),
        )
        .select(
            "doc_id",
            F.concat(F.lit("Page-"), F.col("page")).alias("section_id"),
            "title",
            F.lit(None).cast("string").alias("full_path"),
            "page",
            F.lit(1).alias("level"),
            F.lit(None).cast("string").alias("parent_id"),
            F.coalesce("content", F.lit("")).alias("content"),
            _page_section_tags(F.col("content")).alias("tags"),
            F.lit(1).alias("pass_rank"),
            F.lit(0).alias("intra_order"),
        )
    )

    # ---- J5 + F7/F8: content-based sections on remaining pages ----------
    # toc-section pages == valid TOC entry pages, so read them from the
    # (written) toc table instead of recomputing the content-assembly
    # join; page-section pages == the uncovered pages' keys, with no
    # heading detection
    existing = (
        valid_toc.select("doc_id", "page")
        .unionByName(uncovered.select("doc_id", "page"))
        .distinct()
    )
    remaining = pages.join(existing, ["doc_id", "page"], "left_anti").filter(
        (F.col("page") > 0)
        & (
            F.length(py_strip(F.coalesce("text", F.lit(""))))
            > cfg.substantial_content_len
        )
    )
    content_sections = (
        remaining.select(
            "doc_id",
            "page",
            F.posexplode(_content_sections_udf("text", "page")).alias(
                "intra_order", "pair"
            ),
        )
        .select(
            "doc_id",
            F.concat(F.lit("Page-"), F.col("page")).alias("section_id"),
            F.col("pair.title").alias("title"),
            F.concat(
                F.lit("Page-"), F.col("page"), F.lit(" "),
                F.col("pair.title"),
            ).alias("full_path"),
            "page",
            F.lit(1).alias("level"),
            F.lit(None).cast("string").alias("parent_id"),
            F.col("pair.content").alias("content"),
            _page_section_tags(F.col("pair.content")).alias("tags"),
            F.lit(2).alias("pass_rank"),
            "intra_order",
        )
    )

    # ---- U1: union; J6 doc_title joined once for both page passes ------
    page_passes = page_sections.unionByName(content_sections).join(
        metadata.select("doc_id", "doc_title"), "doc_id", "left"
    )
    return toc_sections.unionByName(page_passes)


def sections_df(preorder: DataFrame) -> DataFrame:
    """W5: the ``sections_preorder_df`` table in per-doc order; returns
    SECTIONS_OUT + ``order`` per doc.

    DRAM fix (scaling): the ordering window needs only the sort key, but
    windowing over the full rows shuffled AND sorted the assembled
    `content` strings — the 4→16 core scaling pair was DRAM-bandwidth-
    bound on exactly that sort.  So ``order`` is computed on a skinny
    projection of the (written) pre-order table and re-attached by the
    UNIQUE section identity (doc_id, page, section_id, pass_rank,
    intra_order — toc rows have unique entry_order, page rows unique
    page, content rows unique (page, intra_order)); the SHUFFLE_HASH
    hint keeps the big side a hash probe — a sort-merge join would
    re-sort the strings and give the win straight back.  Both join
    branches read the table, so the heavy lineage runs once."""
    w_order = Window.partitionBy("doc_id").orderBy(
        "page",
        F.coalesce("section_id", F.lit("")),
        "pass_rank",
        "intra_order",
    )
    key = ["doc_id", "page", "section_id", "pass_rank", "intra_order"]
    skinny = preorder.select(*key).withColumn(
        "order", F.row_number().over(w_order)
    )
    page_path = F.concat(
        F.lit("Page-"), F.col("page"), F.lit(" "), F.col("title")
    )
    out_cols = [
        F.when(F.col("pass_rank") == 1, page_path)
        .otherwise(F.col("full_path"))
        .alias("full_path")
        if c == "full_path"
        else c
        for c in preorder.columns
        if c not in ("pass_rank", "intra_order")
    ] + ["order"]
    return preorder.join(skinny.hint("SHUFFLE_HASH"), key).select(*out_cols)
