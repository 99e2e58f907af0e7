"""HTML boilerplate stripping — DOM text-density / link-density
main-content extraction (north rule: "HTML boilerplate strip ...
DOM heuristics").

The reference repo is PDF-only; this operator covers the HTML half of
the interleaved corpus with the published block-classification approach
of Boilerpipe (Kohlschütter et al., WSDM 2010) and jusText (Pomikálek,
2011), re-expressed Spark-first.  There is ONE normalizer,
``normalize_html_flat``, over the exploded span table; each raw-HTML
span is its own mini-document:

1. ``parse_span_blocks`` — the ONE Python crossing: an Arrow-batched
   ``mapInPandas`` tokenizer over stdlib ``html.parser`` that flattens
   each span's DOM into block rows ``(doc_id, seq, media_ref, offset,
   block_id, tag, text, raw_len, link_len)``.  The four slot columns
   ride along by vectorized pandas indexing, untouched (NULLs
   included).  Text belongs to the innermost open block element; anchor
   text also accrues to ``link_len``.
2. ``score_blocks`` — native exprs: word count, link density
   (``link_len / raw_len``).
3. ``classify_blocks`` — native jusText-style rules + one-step context
   smoothing via ``lag``/``lead`` windows over ``(doc_id, seq,
   block_id)``:
   - structural tags (script/style/head/title/nav/footer...) and
     high-link-density blocks (≥ 1/3) are boilerplate;
   - long low-link blocks (≥ 10 words) are content;
   - short low-link blocks inherit "content" when an adjacent block is
     long-content (the jusText neighborhood rule), else boilerplate.
4. the fold — content blocks grouped by the four slot columns and
   joined with newlines in ``block_id`` order.  The grouping keys ARE
   the slot, so the rewritten span needs no join back to the span
   table; a span with no content block has no group and drops out.

``strip_html_spans`` (ingest: re-collect the normalized rows into span
arrays) and ``main_content_df`` (whole pages as one-span documents) are
views onto that same path.

Scale: the classifier window and the fold share one exchange on
``(doc_id, seq)``; both are bounded by one span's DOM size, so a
10^12-doc corpus partitions cleanly and a mega doc's html spread over
many spans spreads over many keys.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_parser_spark.config import HTML_KIND
from pdf_parser_spark.operators import pages as pages_op

BLOCK_TAGS = {
    "p", "div", "section", "article", "aside", "nav", "footer", "header",
    "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "th", "ul", "ol",
    "table", "tr", "blockquote", "pre", "title", "head", "script",
    "style", "main", "figure", "figcaption",
}

#: blocks whose tag alone marks them boilerplate (chrome / non-content)
CHROME_TAGS = ("script", "style", "head", "title", "nav", "footer",
               "header", "aside")

LINK_DENSITY_MAX = 1.0 / 3.0
LONG_BLOCK_WORDS = 10


def _parse_one(html: str):
    """Flatten one HTML string into block dicts (innermost-block text
    ownership, start-tag emission order)."""
    from html.parser import HTMLParser

    blocks: list = []
    stack: list = []
    link_depth = 0

    class _P(HTMLParser):
        def handle_starttag(self, tag, attrs):
            nonlocal link_depth
            if tag == "a":
                link_depth += 1
            if tag in BLOCK_TAGS:
                b = {"tag": tag, "parts": [], "link_len": 0}
                blocks.append(b)
                stack.append(b)

        def handle_endtag(self, tag):
            nonlocal link_depth
            if tag == "a":
                link_depth = max(0, link_depth - 1)
            if tag in BLOCK_TAGS:
                # pop to the matching open block (tolerates mis-nesting)
                for i in range(len(stack) - 1, -1, -1):
                    if stack[i]["tag"] == tag:
                        del stack[i:]
                        break

        def handle_data(self, data):
            if stack and data:
                stack[-1]["parts"].append(data)
                if link_depth:
                    stack[-1]["link_len"] += len(data)

    _P().feed(html or "")
    out = []
    for b in blocks:
        raw = "".join(b["parts"])
        text = " ".join(raw.split())
        if text:
            out.append(
                (b["tag"], text, len(raw), b["link_len"])
            )
    return out


#: the span slot a block row carries through the tokenizer untouched
SLOT_COLS = ("doc_id", "seq", "media_ref", "offset")

BLOCK_FIELDS = [
    StructField("block_id", IntegerType()),
    StructField("tag", StringType()),
    StructField("text", StringType()),
    StructField("raw_len", LongType()),
    StructField("link_len", LongType()),
]


def parse_span_blocks(spans: DataFrame) -> DataFrame:
    """Flat html spans (``SLOT_COLS`` + ``text`` = raw html) → one row
    per block: the span's slot columns, then ``BLOCK_FIELDS``.

    The slot columns are repeated per block by ``iloc`` on the batch,
    never converted value by value, so a NULL ``doc_id`` stays NULL and
    a NULL ``offset`` (NaN in the pandas batch) goes back to Spark as
    NULL, to be quarantined downstream as ``bad_offset``."""
    spans = spans.select(*SLOT_COLS, "text")
    schema = StructType(
        [spans.schema[c] for c in SLOT_COLS] + BLOCK_FIELDS
    )
    block_cols = [f.name for f in BLOCK_FIELDS]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            parsed = [_parse_one(html) for html in pdf["text"]]
            rows = np.repeat(np.arange(len(pdf)), [len(p) for p in parsed])
            slots = pdf.iloc[rows, : len(SLOT_COLS)].reset_index(drop=True)
            blocks = pd.DataFrame(
                [(bid, *b) for p in parsed for bid, b in enumerate(p)],
                columns=block_cols,
            )
            yield pd.concat([slots, blocks], axis=1)

    return spans.mapInPandas(batches, schema)


def _n_words(text: Column) -> Column:
    return F.size(F.split(F.trim(text), r"\s+", -1))


def score_blocks(blocks: DataFrame) -> DataFrame:
    """Native density features per block."""
    return blocks.select(
        "*",
        _n_words(F.col("text")).alias("n_words"),
        (
            F.col("link_len").cast("double")
            / F.greatest(F.col("raw_len"), F.lit(1)).cast("double")
        ).alias("link_density"),
    )


def classify_blocks(scored: DataFrame) -> DataFrame:
    """jusText-style classification + one-step neighbor smoothing, all
    window exprs over (doc_id, seq, block_id): one html span is one
    DOM."""
    chrome = F.col("tag").isin(*CHROME_TAGS)
    linky = F.col("link_density") >= LINK_DENSITY_MAX
    long_good = (
        ~chrome & ~linky & (F.col("n_words") >= LONG_BLOCK_WORDS)
    )
    short_candidate = (
        ~chrome & ~linky & (F.col("n_words") < LONG_BLOCK_WORDS)
    )
    w = Window.partitionBy("doc_id", "seq").orderBy("block_id")
    with_flags = scored.withColumn("long_good", long_good)
    neighbor_good = (
        F.coalesce(F.lag("long_good").over(w), F.lit(False))
        | F.coalesce(F.lead("long_good").over(w), F.lit(False))
    )
    return with_flags.withColumn(
        "is_content",
        F.col("long_good") | (short_candidate & neighbor_good),
    )


def _is_html() -> F.Column:
    return F.col("kind").eqNullSafe(F.lit(HTML_KIND))


def html_rewrite_df(flat: DataFrame) -> DataFrame:
    """The rewritten rows of the html spans in ``flat``
    (``pages.explode_spans_raw`` output): every ``kind == HTML_KIND``
    row becomes a ``kind='text'`` row at the same (doc_id, seq,
    media_ref, offset) holding its DOM-density main content; an html row
    that strips to pure boilerplate (or holds no markup at all) yields no
    row, the same way the span-sequence stage drops blank text spans.

    The work is proportional to the html rows only: one Arrow tokenizer
    crossing, then the classifier window and the fold over a single
    (doc_id, seq) exchange — no join."""
    blocks = classify_blocks(
        score_blocks(parse_span_blocks(flat.filter(_is_html())))
    )
    return (
        blocks.filter(F.col("is_content"))
        .groupBy(*SLOT_COLS)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("block_id", "text"))
                    ),
                    lambda s: s["text"],
                ),
                "\n",
            ).alias("text")
        )
        .select(
            "doc_id",
            "seq",
            F.lit("text").alias("kind"),
            "text",
            "media_ref",
            "offset",
        )
    )


def normalize_html_flat(
    flat: DataFrame, rewritten: DataFrame | None = None
) -> DataFrame:
    """The HTML normalizer, over the exploded span table: ``flat`` with
    its html rows replaced in place by ``rewritten`` (default:
    ``html_rewrite_df(flat)``); every other row passes through the
    untouched ``rest`` branch.

    ``run_pipeline`` writes the (tiny) rewritten rows once as its
    ``html_rewrite`` stage and passes the table in, so its several
    downstream consumers re-scan ONLY the ``rest`` branch they would
    scan anyway, never the Python stage; without one it stays a plan
    (one consumer, as in ``strip_html_spans``).

    The one difference from ingest-time ``strip_html_spans``: a doc
    whose every span strips to boilerplate vanishes from this table
    instead of keeping an empty span array (and so an ``empty_spans``
    quarantine row).
    """
    if rewritten is None:
        rewritten = html_rewrite_df(flat)
    return flat.filter(~_is_html()).unionByName(rewritten)


def strip_html_spans(docs: DataFrame) -> DataFrame:
    """Ingest normalization for the interleaved corpus (north rule:
    "HTML boilerplate strip ... over interleaved text + media
    documents"): ``normalize_html_flat`` applied to span arrays.
    Documents carrying ``kind == HTML_KIND`` spans are exploded,
    normalized, and re-collected in original array order, so each html
    span becomes a plain ``kind='text'`` span in place (same
    ``media_ref``/``offset``) and spans that strip to pure boilerplate
    are dropped.  Documents with no html spans pass through
    byte-identical.

    Scale: this runs ONCE per corpus at ingest (like bucketize), not
    inside every pipeline invocation — the downstream validator then
    treats any surviving raw html span as ``unknown_kind`` →
    quarantine, so an un-normalized corpus fails loudly instead of
    leaking markup into the extraction output.  All Python + shuffle
    work is proportional to the html-bearing subset only: the
    passthrough branch is a scan + native ``exists()`` probe, the html
    branch pays the normalizer plus one doc_id span re-collect.
    """
    is_html_span = lambda s: s["kind"].eqNullSafe(F.lit(HTML_KIND))  # noqa: E731
    # eqNullSafe + coalesce: a doc with NULL kinds or a NULL spans array
    # must land in the passthrough branch (three-valued exists() would
    # drop it from BOTH filters), so quarantine still sees it.
    has_html = F.coalesce(
        F.exists("spans", is_html_span), F.lit(False)
    )
    plain = docs.filter(~has_html)
    hdocs = docs.filter(has_html)
    flat = normalize_html_flat(pages_op.explode_spans_raw(hdocs))

    # one anchor row per html-bearing doc (seq NULL = sentinel; real rows
    # always carry a posexplode seq): a doc whose every span is html that
    # strips to nothing must SURVIVE with an empty spans array — so the
    # downstream empty_spans quarantine records it — not silently vanish
    # from the corpus.  collect_list skips NULL elements, so anchors
    # force the group row without contributing a span.
    anchor = hdocs.select(
        "doc_id",
        F.lit(None).cast("int").alias("seq"),
        F.lit(None).cast("string").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(None).cast("int").alias("offset"),
    )
    respanned = (
        flat.unionByName(anchor)
        .groupBy("doc_id")
        .agg(
            # sort by seq ALONE: seq is the original array position, so
            # the rebuilt array preserves input order exactly — an
            # in-place rewrite.  Sorting by (offset, seq) moved spans
            # with NULL or out-of-array-order offsets, silently
            # renumbering downstream span_seq provenance (ADVICE r3).
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("seq").isNotNull(),
                            F.struct(
                                "seq",
                                F.struct(
                                    "kind", "text", "media_ref", "offset"
                                ).alias("s"),
                            ),
                        )
                    )
                ),
                lambda x: x["s"],
            ).alias("spans")
        )
    )
    return plain.unionByName(respanned)


def main_content_df(docs: DataFrame) -> DataFrame:
    """(doc_id, html) → (doc_id, main_text): each page runs through
    ``normalize_html_flat`` as a one-span document, so its content
    blocks are joined with newlines in DOM order; a page with no
    content block has no row."""
    one_span = docs.select(
        "doc_id",
        F.lit(0).alias("seq"),
        F.lit(HTML_KIND).alias("kind"),
        F.col("html").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    return normalize_html_flat(one_span).select(
        "doc_id", F.col("text").alias("main_text")
    )
