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
offset-chunked path past cfg.mega_doc_span_threshold: its mega-id probe
returns each mega doc's exact offset cut points, and the chunk carries
are joined back with a shuffle-hash join, so the path adds no job and
broadcasts nothing.  ``pages_df``'s windows still sort a mega doc in one
task.

Reference semantics pinned (oracle: refsem.derive_pages/span_sequence):
- page_manager.py:69-148 fixed assembly order TEXT→TABLES→IMAGES→LAYOUT→
  ANNOTATIONS per page;
- helpers.py:29,93-95 poison-line guard → quarantine rows, not skips.

Identity is checked once, in ``error_kind_expr``: a NULL doc_id's spans
are quarantined as ``null_doc_id``, and a doc_id listed twice is one
document, whose spans every doc_id window merges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

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
    documents whose array is null/empty (posexplode_outer keeps them), and
    every row of a NULL doc_id is 'null_doc_id'.

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
        F.when(F.col("doc_id").isNull(), F.lit("null_doc_id"))
        .when(F.col("seq").isNull(), F.lit("empty_spans"))
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
        F.when(F.col("error_kind") == "null_doc_id",
               F.lit("doc_id is NULL"))
        .when(F.col("error_kind") == "empty_spans",
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


def _is_break() -> F.Column:
    return F.when(F.col("kind") == PAGE_BREAK_KIND, 1).otherwise(0)


def _is_image() -> F.Column:
    return F.when(F.col("kind").isin(*IMAGE_KINDS), 1).otherwise(0)


def _is_table() -> F.Column:
    return F.when(F.col("kind") == TABLE_KIND, 1).otherwise(0)


def with_page(valid: DataFrame) -> DataFrame:
    """Assign page = 1 + #page_breaks strictly before, in (offset, seq)
    order (oracle derive_pages).  Inclusive running sum works because
    non-break rows contribute 0."""
    w = Window.partitionBy("doc_id").orderBy("offset", "seq")
    return valid.withColumn(
        "page", (F.sum(_is_break()).over(w) + 1).cast("int")
    )


def _with_ids(spans: DataFrame) -> DataFrame:
    """Per-page 1-based ids for images and tables (assembly numbering,
    page_manager.py:95-112)."""
    wp = (
        Window.partitionBy("doc_id", "page")
        .orderBy("offset", "seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return spans.withColumn(
        "image_id", F.sum(_is_image()).over(wp)
    ).withColumn("table_id", F.sum(_is_table()).over(wp))


#: kind_rank values 0..N_KIND_RANKS-1
N_KIND_RANKS = 5


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
    kept = _kept(_with_ids(with_page(valid)))
    w_doc = Window.partitionBy("doc_id").orderBy(
        "page", "kind_rank", "offset", "seq"
    )
    return kept.select(
        "doc_id",
        "seq",
        "page",
        "kind",
        _out_text().alias("text"),
        "media_ref",
        F.row_number().over(w_doc).cast("int").alias("order"),
    )


def _is_kept() -> F.Column:
    """W2 row selection: every span but page breaks and blank text."""
    return (F.col("kind") != PAGE_BREAK_KIND) & (
        F.col("kind").isin(*IMAGE_KINDS) | ~is_blank(F.col("text"))
    )


def _kept(spans: DataFrame) -> DataFrame:
    """The W2 rows, with their kind_rank."""
    return spans.filter(_is_kept()).withColumn("kind_rank", _kind_rank())


def _out_text() -> F.Column:
    """W2 output text: image and annotation summaries, else the text."""
    return (
        F.when(F.col("kind").isin(*IMAGE_KINDS), _image_summary())
        .when(F.col("kind") == ANNOTATION_KIND, _annotation_summary())
        .otherwise(F.col("text"))
    )


def _offset_cuts(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, spans) → (doc_id, _cuts): each doc's n - 1 exact offset
    cut points, the offsets at ranks ⌊i·m/n⌋ (i = 1..n-1) of its m
    non-NULL offsets in ascending order.  With distinct offsets, the
    chunks these cuts make hold at most ⌈m/n⌉ spans each.  The sorted
    array is a projection of its own, so each doc is sorted once, not
    once per cut."""
    offsets = F.filter(
        F.transform("spans", lambda s: s["offset"]), lambda o: o.isNotNull()
    )
    m = F.size("_sorted").cast("long")
    return docs.select(
        "doc_id", F.array_sort(offsets).alias("_sorted")
    ).select(
        "doc_id",
        F.array(*[
            F.element_at("_sorted", F.floor(m * i / n).cast("int") + 1)
            for i in range(1, n)
        ]).alias("_cuts"),
    )


def _cuts_lookup(probe: list, key_type) -> F.Column:
    """The cut points of the row's doc, from the probe's
    (doc_id, _h, _cuts) rows as literals.  An id lookup scans its list,
    so the ids are spread over lists of about 16 by their xxhash64
    ``_h``.  A duplicated id keeps its first copy's cuts.  Array
    literals compare by value (map literals do not), so every read of
    the mega rows plans the same expression and Spark can reuse their
    exchange."""
    n_lists = -(-len(probe) // 16)
    ids: list = [[] for _ in range(n_lists)]
    cuts: list = [[] for _ in range(n_lists)]
    for r in probe:
        i = r._h % n_lists
        if r.doc_id not in ids[i]:
            ids[i].append(r.doc_id)
            cuts[i].append(r._cuts)

    def literal(rows: list, element_type):
        return F.array(*[F.array(*map(F.lit, row)) for row in rows]).cast(
            ArrayType(ArrayType(element_type))
        )

    which = (F.pmod(F.xxhash64("doc_id"), F.lit(n_lists)) + 1).cast("int")
    at = F.array_position(
        F.element_at(literal(ids, key_type), which), F.col("doc_id")
    ).cast("int")
    return F.element_at(
        F.element_at(literal(cuts, ArrayType(LongType())), which), at
    )


def _with_obucket(spans: DataFrame, cuts: F.Column) -> DataFrame:
    """Attach ``_obucket``: the span's offset chunk, the number of its
    doc's cut points (``cuts``, from ``_offset_cuts``) at or below its
    offset.

    The chunking is ORDER-ALIGNED with the (offset, seq) sort — equal
    offsets always share a chunk, and the chunk id is nondecreasing in
    offset — which is the only property the two-phase prefix sums need
    for EXACT results: cuts that fit the rows badly (taken before html
    rewrites and quarantine) shift work between tasks, never change the
    output."""
    return spans.withColumn(
        "_obucket",
        F.size(F.filter(cuts, lambda c: c <= F.col("offset"))),
    )


def _chunk_local(valid_mega: DataFrame, cuts: F.Column) -> DataFrame:
    """The mega rows with their chunk (``_with_obucket``) and their
    running counts within it, in (offset, seq) order: page breaks
    (``_lp``, the local page; over the default RANGE frame, as
    ``with_page`` numbers pages), images (``_ri``) and tables (``_rt``).

    text and media_ref cross the chunk exchange as one array column:
    the carry aggregate reads text only, and with the two columns apart
    it would prune media_ref from its copy of the exchange, so Spark
    could not reuse the detail rows' exchange for it."""
    w = Window.partitionBy("doc_id", "_obucket").orderBy("offset", "seq")
    w_rows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        _with_obucket(valid_mega, cuts)
        .select("doc_id", "seq", "kind", "offset", "_obucket",
                F.array("text", "media_ref").alias("_tm"))
        .withColumn("_lp", F.sum(_is_break()).over(w))
        .withColumn("_ri", F.sum(_is_image()).over(w_rows))
        .withColumn("_rt", F.sum(_is_table()).over(w_rows))
        .withColumn("text", F.col("_tm")[0])
        .withColumn("media_ref", F.col("_tm")[1])
    )


def _chunk_carries(local: DataFrame) -> DataFrame:
    """One row per (doc_id, _obucket) chunk: ``_carry``, one entry per
    local page from ``_lp0`` on, holding the page and what the page's
    running image, table and rank counts need added (see
    ``_span_sequence_two_phase``).

    All of it comes from ONE aggregate of chunk-local counts keyed by
    (doc_id, _obucket, _lp) — a few rows per page — and doc_id windows
    over those rows: sums over the groups before the chunk (``_b``),
    before the page (``_lt``) and up to the page (``_le``)."""
    ranks = [f"_k{r}" for r in range(N_KIND_RANKS)]
    kept_rank = F.when(_is_kept(), _kind_rank())
    groups = local.groupBy("doc_id", "_obucket", "_lp").agg(
        F.sum(_is_break()).alias("_nb"),
        F.sum(_is_image()).alias("_ci"),
        F.sum(_is_table()).alias("_ct"),
        *[F.count(F.when(kept_rank == r, 1)).alias(k)
          for r, k in enumerate(ranks)],
    )
    w_doc = Window.partitionBy("doc_id")
    groups = groups.withColumn(
        "page",
        (F.sum("_nb").over(w_doc.orderBy("_obucket", "_lp")) + 1)
        .cast("int"),
    )
    start = Window.unboundedPreceding
    frames = {
        "_b": w_doc.orderBy("_obucket").rangeBetween(start, -1),
        "_lt": w_doc.orderBy("page").rangeBetween(start, -1),
        "_le": w_doc.orderBy("page").rangeBetween(start, 0),
    }
    groups = groups.select(
        "doc_id", "_obucket", "_lp", "_nb", "page",
        *[
            F.coalesce(F.sum(c).over(w), F.lit(0)).alias(c + f)
            for c in ("_ci", "_ct", *ranks)
            for f, w in frames.items()
        ],
    )
    # a kept span of rank r: its running rank-r count + rank-r rows
    # before the chunk + rows of every rank above r before the page +
    # rows of every rank below r up to the page
    order = [
        sum(
            [F.col(f"{q}_le") for q in ranks[:r]]
            + [F.col(f"{q}_lt") for q in ranks[r + 1:]],
            F.col(f"{k}_b"),
        )
        for r, k in enumerate(ranks)
    ]
    entry = F.struct(
        "page",
        (F.col("_ci_b") - F.col("_ci_lt")).alias("image"),
        (F.col("_ct_b") - F.col("_ct_lt")).alias("table"),
        F.array(*order).alias("order"),
    )
    # _lp steps by _nb > 1 where page breaks tie on (offset, seq): such a
    # group's entry fills the skipped slots too, so local page _lp's
    # entry is element _lp - _lp0 + 1
    width = F.greatest(F.col("_nb"), F.lit(1)).cast("int")
    by_lp = F.array_sort(F.collect_list(
        F.struct("_lp", width.alias("w"), entry.alias("e"))
    ))
    return groups.groupBy("doc_id", "_obucket").agg(
        F.min(F.col("_lp") - width + 1).alias("_lp0"),
        F.flatten(
            F.transform(by_lp, lambda g: F.array_repeat(g["e"], g["w"]))
        ).alias("_carry"),
    )


def _span_sequence_two_phase(
    valid_mega: DataFrame, cuts: F.Column
) -> DataFrame:
    """W2 for mega docs: every window runs per offset chunk
    (``_with_obucket``), so per-task row counts are bounded by the
    chunking instead of by the doc.  Bit-identical to the single-window
    path.

    A span's chunk-local running counts (``_chunk_local``, plus the
    running count of its kind_rank among the chunk's kept spans) become
    doc-level values by adding carries:
    - page = 1 + breaks before the chunk + ``_lp``;
    - image_id = running image count + images before the chunk −
      images before the page (table_id likewise);
    - order, of a kept span of rank r on page p = running rank-r count
      + rank-r rows before the chunk + rows ranked above r on pages
      before p + rows ranked below r on pages up to p.

    The carries (``_chunk_carries``) are one row per chunk, joined back
    on (doc_id, _obucket) with a shuffle-hash join: the detail rows keep
    their chunk partitioning and nothing is broadcast.  The carry
    aggregate reads the detail rows' chunk exchange, which Spark reuses,
    so the mega rows are scanned and exploded once."""
    local = _chunk_local(valid_mega, cuts)
    w_rank = Window.partitionBy("doc_id", "_obucket", "kind_rank").orderBy(
        "offset", "seq"
    )
    kept = _kept(local).withColumn("_rn", F.row_number().over(w_rank))
    entry = F.element_at(
        "_carry", (F.col("_lp") - F.col("_lp0") + 1).cast("int")
    )
    return (
        kept.join(
            _chunk_carries(local).hint("shuffle_hash"),
            ["doc_id", "_obucket"],
        )
        .withColumn("_e", entry)
        .withColumn("page", F.col("_e.page"))
        .withColumn("image_id", F.col("_ri") + F.col("_e.image"))
        .withColumn("table_id", F.col("_rt") + F.col("_e.table"))
        .select(
            "doc_id",
            "seq",
            "page",
            "kind",
            _out_text().alias("text"),
            "media_ref",
            (
                F.col("_rn")
                + F.element_at("_e.order", F.col("kind_rank") + 1)
            ).cast("int").alias("order"),
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
    plan-construction time in one job.  Driver bound: its collect
    returns one row holding at most ``MAX_LITERAL_MEGA_IDS + 1`` ids,
    each with its ``cfg.salt_buckets - 1`` exact offset cut points
    (``_offset_cuts``) — config-sized however many mega docs the corpus
    holds.  ``size(spans)`` counts quarantined spans
    too, so it can only over-route a borderline doc to the two-phase
    path — routing is physical only, the output is bit-identical either
    way.

    With no mega docs the single-window plan is returned UNCHANGED — no
    tag join, no empty union branch re-scanning the corpus per
    downstream consumer.  With mega docs, the split is a codegen'd isin
    filter on the literal id list and the cut points are literals, so
    spans_out runs the probe and its write and nothing else.  Past
    ``MAX_LITERAL_MEGA_IDS`` ids the split is a broadcast tag join whose
    tag table carries the cut points."""
    if cfg.salt_buckets <= 1:
        # one chunk = the single-window plan
        return span_sequence_df(valid)
    mega_src = _offset_cuts(
        docs.filter(F.size("spans") > cfg.mega_doc_span_threshold),
        cfg.salt_buckets,
    )
    # one job: collect_list over the limit; a bare limit().collect()
    # runs the limit incrementally over several jobs
    probe = (
        mega_src.limit(MAX_LITERAL_MEGA_IDS + 1)
        .agg(F.collect_list(F.struct(
            "doc_id", F.xxhash64("doc_id").alias("_h"), "_cuts"
        )))
        .collect()[0][0]
    )
    if not probe:
        return span_sequence_df(valid)
    if len(probe) <= MAX_LITERAL_MEGA_IDS:
        ids = [r.doc_id for r in probe]
        normal = valid.filter(~F.col("doc_id").isin(ids))
        mega = valid.filter(F.col("doc_id").isin(ids))
        cuts = _cuts_lookup(probe, valid.schema["doc_id"].dataType)
    else:  # adversarial corpus: too many megas for a literal filter
        # _mega: the doc's cut points, NULL unless it is a mega doc; one
        # tag row per id, so a duplicated id is not multiplied
        tag = mega_src.dropDuplicates(["doc_id"]).withColumnRenamed(
            "_cuts", "_mega"
        )
        tagged = valid.join(F.broadcast(tag), "doc_id", "left")
        normal = tagged.filter(F.col("_mega").isNull()).drop("_mega")
        mega = tagged.filter(F.col("_mega").isNotNull())
        cuts = F.col("_mega")
    return span_sequence_df(normal).unionByName(
        _span_sequence_two_phase(mega, cuts)
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
    summed over the same window as the page numbers.  ``valid`` holds
    no NULL doc_id (``error_kind_expr``), and the spans of a doc_id
    listed twice are one document's pages."""
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

    is_textish = F.col("kind").isin(*TEXT_KINDS)
    is_table = F.col("kind") == TABLE_KIND
    is_image = F.col("kind").isin(*IMAGE_KINDS)
    is_layout = F.col("kind") == LAYOUT_KIND
    is_annot = F.col("kind") == ANNOTATION_KIND
    txt = F.coalesce(F.col("text"), F.lit(""))

    # Per-family formatted string, computed ROW-SIDE (whole-stage
    # codegen) — NULL for rows outside the family (break rows are in
    # none), so collect_list in
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
