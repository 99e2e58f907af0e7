"""Span explosion, quarantine, page derivation, and W2 reassembly.

All native Column expressions — zero Python UDFs.  The reassembly path
(``span_sequence_df``) and the page records (``pages_df``) each shuffle
exactly ONCE, on ``doc_id``; every window (page derivation, page
totals, per-page ids, final page-major ordering) and the (doc_id, page)
aggregate chain over that one exchange with per-partition sorts
(spill-backed), with no join.  Per-doc sequencing is inherently
sequential — page numbers are a prefix sum over the doc — so a single
doc-partitioned sort pipeline is the minimal plan.  Mega-doc skew in
the reassembly goes through ``span_sequence_skew_df``'s two-phase
offset-chunked path past cfg.mega_doc_span_threshold; ``pages_df``'s
windows still sort a mega doc in one task.

Reference semantics pinned (oracle: refsem.derive_pages/span_sequence):
- page_manager.py:69-148 fixed assembly order TEXT→TABLES→IMAGES→LAYOUT→
  ANNOTATIONS per page;
- helpers.py:29,93-95 poison-line guard → quarantine rows, not skips.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdf_parser_spark.config import (
    ANNOTATION_KIND,
    DEFAULT_CONFIG,
    IMAGE_KINDS,
    KNOWN_KINDS,
    LAYOUT_KIND,
    PAGE_BREAK_KIND,
    TABLE_KIND,
    TEXT_KINDS,
    PipelineConfig,
)
from pdf_parser_spark.operators.exprs import (
    is_blank,
    non_blank,
    strip_s,
)

#: most mega ids the split filters on as an ``isin`` literal list; past
#: this the split is a broadcast tag join.
MAX_LITERAL_MEGA_IDS = 1000


def explode_spans_raw(docs: DataFrame) -> DataFrame:
    """(doc_id, spans) → flat (doc_id, seq, kind, text, media_ref,
    offset), no validation column yet — the table span rewrites
    (boilerplate.normalize_html_flat) run on."""
    return docs.select(
        "doc_id",
        F.posexplode_outer("spans").alias("seq", "span"),
    ).select(
        "doc_id",
        "seq",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def explode_spans(
    docs: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    normalize_html: bool = False,
    rewritten: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, spans) → flat (doc_id, seq, kind, text, media_ref, offset,
    error_kind).  ``error_kind`` null ⇒ valid span; 'empty_spans' rows mark
    documents whose array is null/empty (posexplode_outer keeps them).

    ``normalize_html`` rewrites raw-HTML payload spans to their main
    content first (boilerplate.normalize_html_flat, with ``rewritten``
    as the already-written rewrite when given), so validation runs after
    the rewrite and normalized html never hits unknown_kind."""
    flat = explode_spans_raw(docs)
    if normalize_html:
        from pdf_parser_spark.functions import boilerplate

        flat = boilerplate.normalize_html_flat(flat, rewritten)
    return flat.withColumn("error_kind", error_kind_expr(cfg))


def error_kind_expr(cfg: PipelineConfig = DEFAULT_CONFIG) -> F.Column:
    """The span-validation when-chain over flat span columns — shared by
    the batch explode path above and the streaming fragment-assembly
    path (streaming/assembly.py), so both quarantine identically."""
    return (
        F.when(F.col("seq").isNull(), F.lit("empty_spans"))
        # NULL kind must not slip through three-valued logic: NOT(NULL
        # isin ...) is NULL, which when() treats as false — test isNull
        # explicitly (found by tests/test_properties.py's minimal
        # counterexample (kind=None, offset=0)).
        .when(
            F.col("kind").isNull() | ~F.col("kind").isin(*KNOWN_KINDS),
            F.lit("unknown_kind"),
        )
        .when(
            F.col("offset").isNull() | (F.col("offset") < 0),
            F.lit("bad_offset"),
        )
        .when(
            F.col("text").isNotNull()
            & (F.length("text") > cfg.max_line_length),
            F.lit("oversize_text"),
        )
    )


def quarantine_df(flat: DataFrame) -> DataFrame:
    """Structured error rows (FIXTURES.md quarantine schema)."""
    return flat.filter(F.col("error_kind").isNotNull()).select(
        "doc_id",
        F.col("seq").alias("span_seq"),
        "error_kind",
        F.when(F.col("error_kind") == "empty_spans",
               F.lit("document has no spans"))
        .when(F.col("error_kind") == "unknown_kind",
              F.concat(F.lit("kind="), F.coalesce(F.col("kind"), F.lit("None"))))
        .when(F.col("error_kind") == "bad_offset",
              F.concat(F.lit("offset="),
                       F.coalesce(F.col("offset").cast("string"), F.lit("None"))))
        .otherwise(F.concat(F.lit("len="), F.length("text").cast("string")))
        .alias("error_detail"),
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 100).alias("raw"),
    )


def valid_spans(flat: DataFrame) -> DataFrame:
    return flat.filter(F.col("error_kind").isNull()).drop("error_kind")


def with_page(valid: DataFrame) -> DataFrame:
    """Assign page = 1 + #page_breaks strictly before, in (offset, seq)
    order (oracle derive_pages).  Inclusive running sum works because
    non-break rows contribute 0."""
    w = Window.partitionBy("doc_id").orderBy("offset", "seq")
    is_break = F.when(F.col("kind") == PAGE_BREAK_KIND, 1).otherwise(0)
    return valid.withColumn("page", (F.sum(is_break).over(w) + 1).cast("int"))


def _with_ids(spans: DataFrame) -> DataFrame:
    """Per-page 1-based ids for images and tables (assembly numbering,
    page_manager.py:95-112)."""
    wp = (
        Window.partitionBy("doc_id", "page")
        .orderBy("offset", "seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return spans.withColumn(
        "image_id",
        F.sum(
            F.when(F.col("kind").isin(*IMAGE_KINDS), 1).otherwise(0)
        ).over(wp),
    ).withColumn(
        "table_id",
        F.sum(F.when(F.col("kind") == TABLE_KIND, 1).otherwise(0)).over(wp),
    )


def _kind_rank() -> F.Column:
    return (
        F.when(F.col("kind").isin(*TEXT_KINDS), 0)
        .when(F.col("kind") == TABLE_KIND, 1)
        .when(F.col("kind").isin(*IMAGE_KINDS), 2)
        .when(F.col("kind") == LAYOUT_KIND, 3)
        .otherwise(4)
    )


def _image_summary() -> F.Column:
    """'Image {id}: {name} ({dims})' (page_manager.py:104-112)."""
    return F.format_string(
        "Image %d: %s (%s)",
        F.col("image_id"),
        F.coalesce(F.col("media_ref"), F.lit("unnamed")),
        F.coalesce(F.nullif(strip_s(F.col("text")), F.lit("")), F.lit("0x0")),
    )


def _annotation_summary() -> F.Column:
    """'Annotation ({type}): {content}' (page_manager.py:127-140)."""
    return F.format_string(
        "Annotation (%s): %s",
        F.coalesce(F.col("media_ref"), F.lit("unknown")),
        F.coalesce(F.col("text"), F.lit("")),
    )


def span_sequence_df(valid: DataFrame) -> DataFrame:
    """Flagship W2: per-doc ordered main-content sequence.

    ``order`` = ``row_number`` over one window per doc ordered by
    ``(page, kind_rank, offset, seq)`` — the page-major assembly order
    (page_manager.py:69-148).

    Plan shape (asserted in tests/test_plans.py): ONE exchange on
    ``doc_id``, reused by every window in the chain (page derivation,
    per-page ids, final ordering) — no join, no second scan branch, no
    broadcast, no range partitioning.  Earlier revisions used a
    two-phase page-local ordering + per-page count-offset join; that
    bought nothing structurally (page derivation in ``with_page`` is an
    inherently sequential per-doc prefix sum, so the doc_id-partition
    sort already exists) while doubling the scan lineage and adding a
    corpus-cardinality join.  Mega-doc skew is bounded the same way for
    every window here: one task sorts one doc's spans with spill
    (UnsafeExternalSorter); the mitigation knob for pathological docs is
    cfg.mega_doc_span_threshold salting at INGEST (operators/skew.py),
    not a reassembly-time join.
    """
    kept = _kept_with_out_text(_with_ids(with_page(valid)))
    w_doc = Window.partitionBy("doc_id").orderBy(
        "page", "kind_rank", "offset", "seq"
    )
    return kept.select(
        "doc_id",
        "seq",
        "page",
        "kind",
        F.col("out_text").alias("text"),
        "media_ref",
        F.row_number().over(w_doc).cast("int").alias("order"),
    )


def _kept_with_out_text(spans: DataFrame) -> DataFrame:
    """Shared W2 row selection + formatting: drop page breaks and blank
    text spans, format image/annotation summaries, attach kind_rank."""
    content = spans.filter(F.col("kind") != PAGE_BREAK_KIND)
    keep = F.col("kind").isin(*IMAGE_KINDS) | ~is_blank(F.col("text"))
    kept = content.filter(keep)
    out_text = (
        F.when(F.col("kind").isin(*IMAGE_KINDS), _image_summary())
        .when(F.col("kind") == ANNOTATION_KIND, _annotation_summary())
        .otherwise(F.col("text"))
    )
    return kept.withColumn("out_text", out_text).withColumn(
        "kind_rank", _kind_rank()
    )


def _with_obucket(spans: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Attach ``_obucket``: the span's offset-quantile chunk (0..N-1,
    N = cfg.salt_buckets), computed from per-doc approximate offset
    percentiles and broadcast back.

    The bucketing is ORDER-ALIGNED with the (offset, seq) sort — equal
    offsets always share a bucket (``b <= offset``), and the bucket id
    is nondecreasing in offset — which is the only property the
    two-phase prefix sums need for EXACT results: quantile estimation
    error shifts work between tasks, never changes the output."""
    n = cfg.salt_buckets
    probs = [i / n for i in range(1, n)]
    bounds = spans.groupBy("doc_id").agg(
        F.percentile_approx("offset", probs, 1000).alias("_bounds")
    )
    return (
        spans.join(F.broadcast(bounds), "doc_id")
        .withColumn(
            "_obucket",
            F.size(
                F.filter("_bounds", lambda b: b <= F.col("offset"))
            ),
        )
        .drop("_bounds")
    )


def _with_page_two_phase(spans: DataFrame) -> DataFrame:
    """Distributed page derivation for mega docs: the per-doc prefix sum
    of page breaks splits into a per-(doc, _obucket) local running sum
    (each task bounded by ~1/N of the doc) plus a per-chunk break-total
    carry, computed by a separate aggregate and folded back with a
    broadcast join.  Exact for any order-aligned chunking."""
    is_break = F.when(F.col("kind") == PAGE_BREAK_KIND, 1).otherwise(0)
    w_local = Window.partitionBy("doc_id", "_obucket").orderBy(
        "offset", "seq"
    )
    local = spans.withColumn("_lb", F.sum(is_break).over(w_local))
    totals = spans.groupBy("doc_id", "_obucket").agg(
        F.sum(is_break).alias("_cb")
    )
    w_prior = (
        Window.partitionBy("doc_id")
        .orderBy("_obucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = totals.withColumn(
        "_prior", F.coalesce(F.sum("_cb").over(w_prior), F.lit(0))
    ).select("doc_id", "_obucket", "_prior")
    return (
        local.join(F.broadcast(prior), ["doc_id", "_obucket"])
        .withColumn(
            "page", (F.col("_prior") + F.col("_lb") + 1).cast("int")
        )
        .drop("_lb", "_prior")
    )


def _with_ids_two_phase(spans: DataFrame) -> DataFrame:
    """Chunked ``_with_ids`` for the mega-doc path: the per-page running
    image/table ids decompose into a local running sum per
    (doc_id, page, _obucket) chunk plus a broadcast per-chunk carry —
    the same decomposition as ``_with_page_two_phase`` — so per-task row
    counts stay bounded by the offset-quantile chunking EVEN when a mega
    doc has few or no page breaks (the canonical pathological case: one
    giant page would otherwise funnel every span into one window task).
    Exact because ``_obucket`` is order-aligned with (offset, seq)."""
    is_img = F.when(F.col("kind").isin(*IMAGE_KINDS), 1).otherwise(0)
    is_tbl = F.when(F.col("kind") == TABLE_KIND, 1).otherwise(0)
    ck = ["doc_id", "page", "_obucket"]
    w_local = Window.partitionBy(*ck).orderBy("offset", "seq")
    local = spans.withColumn(
        "_li", F.sum(is_img).over(w_local)
    ).withColumn("_lt", F.sum(is_tbl).over(w_local))
    totals = spans.groupBy(*ck).agg(
        F.sum(is_img).alias("_ci"), F.sum(is_tbl).alias("_ct")
    )
    w_prior = (
        Window.partitionBy("doc_id", "page")
        .orderBy("_obucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = (
        totals.withColumn(
            "_pi", F.coalesce(F.sum("_ci").over(w_prior), F.lit(0))
        )
        .withColumn(
            "_pt", F.coalesce(F.sum("_ct").over(w_prior), F.lit(0))
        )
        .select(*ck, "_pi", "_pt")
    )
    return (
        local.join(F.broadcast(prior), ck)
        .withColumn("image_id", F.col("_pi") + F.col("_li"))
        .withColumn("table_id", F.col("_pt") + F.col("_lt"))
        .drop("_li", "_lt", "_pi", "_pt")
    )


def _span_sequence_two_phase(
    valid_mega: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """W2 for mega docs: page derivation, per-page ids, and the final
    ordering all run with per-task row counts bounded by the offset-
    quantile chunking instead of whole-doc windows.

    The final ``order`` decomposes over the lexicographic sort key
    (page, kind_rank, offset, seq): a local row_number per
    (doc, page, kind_rank, _obucket) chunk plus the cumulative count of
    all earlier chunks (tiny per-doc window over chunk summaries,
    broadcast back).  Bit-identical to the single-window path."""
    spans = _with_ids_two_phase(
        _with_page_two_phase(_with_obucket(valid_mega, cfg))
    )
    kept = _kept_with_out_text(spans)
    ck = ["doc_id", "page", "kind_rank", "_obucket"]
    w_local = Window.partitionBy(*ck).orderBy("offset", "seq")
    kept = kept.withColumn("_rn", F.row_number().over(w_local))
    counts = kept.groupBy(*ck).agg(F.count("*").alias("_c"))
    w_prior = (
        Window.partitionBy("doc_id")
        .orderBy("page", "kind_rank", "_obucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = counts.withColumn(
        "_base", F.coalesce(F.sum("_c").over(w_prior), F.lit(0))
    ).select(*ck, "_base")
    return (
        kept.join(F.broadcast(prior), ck)
        .select(
            "doc_id",
            "seq",
            "page",
            "kind",
            F.col("out_text").alias("text"),
            "media_ref",
            (F.col("_base") + F.col("_rn")).cast("int").alias("order"),
        )
    )


def span_sequence_skew_df(
    valid: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    *,
    docs: DataFrame,
) -> DataFrame:
    """W2 with mega-doc spreading (SURVEY §4 P6): documents above
    cfg.mega_doc_span_threshold spans take the two-phase chunked path —
    every per-task row count bounded by ~threshold/salt_buckets — while
    the rest keep the single-exchange single-window plan; the union is
    bit-identical to ``span_sequence_df`` on the whole input.

    Mega detection is a map-only ``size(spans) > threshold`` filter on
    the PRE-explode ``docs`` table (ZERO shuffle), probed eagerly at
    plan-construction time in one job that returns at most
    ``MAX_LITERAL_MEGA_IDS + 1`` ids — driver memory stays bounded
    however many mega docs the corpus holds.  ``size(spans)`` counts
    quarantined spans too, so it can only over-route a borderline doc
    to the two-phase path — routing is physical only, the output is
    bit-identical either way.

    With no mega docs the single-window plan is returned UNCHANGED — no
    tag join, no empty union branch re-scanning the corpus per
    downstream consumer.  With mega docs, the split is a codegen'd isin
    filter on the literal id list, or a broadcast tag join past
    ``MAX_LITERAL_MEGA_IDS`` ids."""
    if cfg.salt_buckets <= 1:
        # one chunk = the single-window plan; _with_obucket's percentile
        # list would be empty (analysis error), so degrade explicitly.
        return span_sequence_df(valid)
    mega_src = docs.filter(
        F.size("spans") > cfg.mega_doc_span_threshold
    ).select("doc_id")
    # one job: collect_list over the limit; a bare limit().collect()
    # runs the limit incrementally over several jobs
    ids = (
        mega_src.limit(MAX_LITERAL_MEGA_IDS + 1)
        .agg(F.collect_list("doc_id"))
        .collect()[0][0]
    )
    if not ids:
        return span_sequence_df(valid)
    if len(ids) <= MAX_LITERAL_MEGA_IDS:
        # NULL doc_id must stay in the normal branch: ~isin(NULL) is
        # NULL (three-valued logic), which filter() drops — test isNull
        # explicitly so the bit-identical contract holds on that edge.
        normal = valid.filter(
            F.col("doc_id").isNull() | ~F.col("doc_id").isin(ids)
        )
        mega = valid.filter(F.col("doc_id").isin(ids))
    else:  # adversarial corpus: too many megas for a literal filter
        tag = F.broadcast(mega_src.withColumn("_mega", F.lit(True)))
        tagged = valid.join(tag, "doc_id", "left")
        normal = tagged.filter(F.col("_mega").isNull()).drop("_mega")
        mega = tagged.filter(
            F.col("_mega") == True  # noqa: E712
        ).drop("_mega")
    return span_sequence_df(normal).unionByName(
        _span_sequence_two_phase(mega, cfg)
    )


def _joined_family(col: str) -> F.Column:
    """array_join of a family's pre-formatted strings in (offset, seq)
    order: collect_list drops the NULLs of non-member rows, array_sort
    orders the (offset, seq, s) structs by their leading fields (seq is
    unique per doc so later fields never tie-break), the transform only
    extracts the payload.  All expensive string work (format_string,
    strip tests) happens BEFORE the groupBy in the codegen'd row
    projection — higher-order-function lambdas are interpreted per
    element, so formatting inside the transform cost ~2× the whole
    assembly stage (measured local[2]/40k: 30-34s → 18-19s, the scan
    floor)."""
    return F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col(col).isNotNull(),
                        F.struct(F.col("offset"), F.col("seq"),
                                 F.col(col).alias("s")),
                    )
                )
            ),
            lambda s: s["s"],
        ),
        "\n",
    )


def pages_df(valid: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Per-(doc, page) records: raw text blob + comprehensive content
    (page_manager.get_comprehensive_page_content, oracle parity).

    Includes EMPTY pages (a page delimited by two adjacent breaks still
    exists: reference total_pages = len(pages_data)).  Returns columns:
    doc_id, page, total_pages, text, content, plus the per-page family
    counts and lengths the metrics read.

    One pass over ``valid``: every window and the (doc_id, page)
    aggregate chain over one doc_id exchange, with no join.  A break
    row opens its page, so pages 2..total_pages each hold a row; it
    also stands in for the page it closes, so page 1 exists when the doc
    starts with a break.  ``total_pages`` is the doc's break count + 1,
    summed over the same window as the page numbers.  The spans of a
    NULL doc_id belong to no document and carry no content: together
    they still number empty pages 1..total_pages."""
    is_break = F.col("kind") == PAGE_BREAK_KIND
    w_all = (
        Window.partitionBy("doc_id")
        .orderBy("offset", "seq")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    spans = _with_ids(
        with_page(valid).withColumn(
            "total_pages",
            (F.sum(is_break.cast("int")).over(w_all) + 1).cast("int"),
        )
    ).withColumn(
        "page",
        F.explode(
            F.when(is_break, F.array(F.col("page") - 1, F.col("page")))
            .otherwise(F.array("page"))
        ),
    )

    keyed = F.col("doc_id").isNotNull()
    is_textish = keyed & F.col("kind").isin(*TEXT_KINDS)
    is_table = keyed & (F.col("kind") == TABLE_KIND)
    is_image = keyed & F.col("kind").isin(*IMAGE_KINDS)
    is_layout = keyed & (F.col("kind") == LAYOUT_KIND)
    is_annot = keyed & (F.col("kind") == ANNOTATION_KIND)
    txt = F.coalesce(F.col("text"), F.lit(""))

    # Per-family formatted string, computed ROW-SIDE (whole-stage
    # codegen) — NULL for rows outside the family (break rows and the
    # rows of a NULL doc_id are in none), so collect_list in
    # _joined_family drops them.  See _joined_family for why formatting
    # must not live inside the post-agg transform.
    pre = spans.select(
        "doc_id", "page", "total_pages", "offset", "seq",
        # text blob: text/heading span texts joined in (offset, seq)
        # order; null text → "" (reference joins raw .text values)
        F.when(is_textish, txt).alias("f_text"),
        # tables: 'Table {id}:\n{repr}' for truthy reprs (empty-string
        # dropped, whitespace kept — reference truthiness gate)
        F.when(
            is_table & (txt != ""),
            F.format_string("Table %d:\n%s", F.col("table_id"),
                            F.col("text")),
        ).alias("f_table"),
        # images: always summarized
        F.when(is_image, _image_summary()).alias("f_image"),
        # layout: non-blank lines only
        F.when(is_layout & non_blank(txt), F.col("text")).alias("f_layout"),
        # annotations: non-blank contents only
        F.when(is_annot & non_blank(txt), _annotation_summary()).alias(
            "f_annot"
        ),
        is_table.cast("long").alias("w_is_table"),
        is_image.cast("long").alias("w_is_image"),
        is_layout.cast("long").alias("w_is_layout"),
        is_annot.cast("long").alias("w_is_annot"),
        # raw content lengths for the quality metrics (A4,
        # coverage_calculator.py:140-214): table reprs + annotation
        # contents
        F.when(is_table, F.length(txt)).otherwise(0).alias("w_table_len"),
        F.when(is_annot, F.length(txt)).otherwise(0).alias("w_annot_len"),
    )

    pg = pre.groupBy("doc_id", "page").agg(
        F.max("total_pages").alias("total_pages"),
        _joined_family("f_text").alias("text"),
        _joined_family("f_table").alias("table_content"),
        F.sum("w_is_table").alias("n_tables"),
        _joined_family("f_image").alias("image_content"),
        F.sum("w_is_image").alias("n_images"),
        _joined_family("f_layout").alias("layout_content"),
        F.sum("w_is_layout").alias("n_layout"),
        _joined_family("f_annot").alias("annot_content"),
        F.sum("w_is_annot").alias("n_annots"),
        F.sum("w_table_len").alias("table_text_len"),
        F.sum("w_annot_len").alias("annot_text_len"),
    )

    parts = F.array(
        F.when(
            non_blank(F.col("text")),
            F.concat(F.lit("=== TEXT CONTENT ===\n"), F.col("text")),
        ),
        F.when(
            (F.col("n_tables") > 0) & non_blank(F.col("table_content")),
            F.concat(F.lit("=== TABLES ===\n"), F.col("table_content")),
        ),
        F.when(
            F.col("n_images") > 0,
            F.concat(F.lit("=== IMAGES ===\n"), F.col("image_content")),
        ),
        F.when(
            (F.col("n_layout") > 0) & non_blank(F.col("layout_content")),
            F.concat(F.lit("=== LAYOUT TEXT ===\n"), F.col("layout_content")),
        ),
        F.when(
            (F.col("n_annots") > 0) & non_blank(F.col("annot_content")),
            F.concat(F.lit("=== ANNOTATIONS ===\n"), F.col("annot_content")),
        ),
    )
    return pg.withColumn(
        "content",
        F.array_join(F.filter(parts, lambda x: x.isNotNull()), "\n\n"),
    ).select("doc_id", "page", "total_pages", "text", "content",
             "n_tables", "n_images", "n_layout", "n_annots",
             "table_text_len", "annot_text_len")
