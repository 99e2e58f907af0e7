"""HTML boilerplate stripping — DOM text-density / link-density
main-content extraction (north rule: "HTML boilerplate strip ...
DOM heuristics").

The reference repo is PDF-only; this operator covers the HTML half of
the interleaved corpus with the published block-classification approach
of Boilerpipe (Kohlschütter et al., WSDM 2010) and jusText (Pomikálek,
2011), re-expressed Spark-first:

1. ``parse_html_blocks`` — the ONE Python crossing: an Arrow-batched
   ``mapInPandas`` tokenizer over stdlib ``html.parser`` that flattens a
   document's DOM into block rows ``(doc_id, block_id, tag, text,
   raw_len, link_len)``.  Text belongs to the innermost open block
   element; anchor text also accrues to ``link_len``.
2. ``score_blocks`` — native exprs: word count, link density
   (``link_len / raw_len``).
3. ``classify_blocks`` — native jusText-style rules + one-step context
   smoothing via ``lag``/``lead`` windows over ``(doc_id, block_id)``:
   - structural tags (script/style/head/title/nav/footer...) and
     high-link-density blocks (≥ 1/3) are boilerplate;
   - long low-link blocks (≥ 10 words) are content;
   - short low-link blocks inherit "content" when an adjacent block is
     long-content (the jusText neighborhood rule), else boilerplate.
4. ``main_content_df`` — per-doc ordered concat of content blocks via
   ``array_sort(collect_list(...))`` — one shuffle on ``doc_id``, no
   global sort.

Scale: blocks shuffle on ``doc_id`` only; the smoothing windows are
per-doc and bounded by DOM size, so a 10^12-doc corpus partitions
cleanly; mega-page skew is the same (doc_id, block) spread used by span
reassembly.
"""

from __future__ import annotations

from collections.abc import Iterator

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

from pdf_parser_spark.session import cache_stage

BLOCK_TAGS = {
    "p", "div", "section", "article", "aside", "nav", "footer", "header",
    "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "th", "ul", "ol",
    "table", "tr", "blockquote", "pre", "title", "head", "script",
    "style", "main", "figure", "figcaption",
}

#: blocks whose tag alone marks them boilerplate (chrome / non-content)
CHROME_TAGS = ("script", "style", "head", "title", "nav", "footer",
               "header", "aside")

BLOCKS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("block_id", IntegerType()),
        StructField("tag", StringType()),
        StructField("text", StringType()),
        StructField("raw_len", LongType()),
        StructField("link_len", LongType()),
    ]
)

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


def parse_html_blocks(
    docs: DataFrame, id_col: str = "doc_id", html_col: str = "html"
) -> DataFrame:
    """(doc_id, html) → block rows.  One Arrow-batched Python stage; all
    downstream scoring/classification is JVM-native."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, html in zip(pdf[id_col], pdf[html_col]):
                for bid, (tag, text, raw_len, link_len) in enumerate(
                    _parse_one(html)
                ):
                    rows.append(
                        (str(doc_id), bid, tag, text, raw_len, link_len)
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "block_id", "tag", "text", "raw_len",
                    "link_len",
                ],
            )

    return docs.select(id_col, html_col).mapInPandas(
        batches, BLOCKS_SCHEMA
    )


SPAN_BLOCKS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("seq", IntegerType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
        StructField("block_id", IntegerType()),
        StructField("tag", StringType()),
        StructField("text", StringType()),
        StructField("raw_len", LongType()),
        StructField("link_len", LongType()),
    ]
)


def parse_span_blocks(spans: DataFrame) -> DataFrame:
    """Flat html SPANS (doc_id, seq, text=raw html, media_ref, offset) →
    block rows keyed (doc_id, seq, block_id).  Each span is its own
    mini-document for the density classifier; ``media_ref``/``offset``
    ride along on every block row so re-assembly needs no join back to
    the span table (they are two small columns vs a full shuffle+join).
    Same single Arrow crossing as ``parse_html_blocks``."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, seq, text, media_ref, offset in zip(
                pdf["doc_id"], pdf["seq"], pdf["text"],
                pdf["media_ref"], pdf["offset"],
            ):
                for bid, (tag, btext, raw_len, link_len) in enumerate(
                    _parse_one(text)
                ):
                    rows.append(
                        (
                            str(doc_id),
                            int(seq),
                            None if media_ref is None else str(media_ref),
                            None if offset is None else int(offset),
                            bid, tag, btext, raw_len, link_len,
                        )
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in SPAN_BLOCKS_SCHEMA]
            )

    return spans.select(
        "doc_id", "seq", "text", "media_ref", "offset"
    ).mapInPandas(batches, SPAN_BLOCKS_SCHEMA)


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


def classify_blocks(
    scored: DataFrame, id_cols: tuple = ("doc_id",)
) -> DataFrame:
    """jusText-style classification + one-step neighbor smoothing, all
    window exprs over (*id_cols, block_id).  ``id_cols`` is the unit of
    one DOM: a whole document for page-level strip, (doc_id, seq) when
    each html SPAN is its own mini-document."""
    chrome = F.col("tag").isin(*CHROME_TAGS)
    linky = F.col("link_density") >= LINK_DENSITY_MAX
    long_good = (
        ~chrome & ~linky & (F.col("n_words") >= LONG_BLOCK_WORDS)
    )
    short_candidate = (
        ~chrome & ~linky & (F.col("n_words") < LONG_BLOCK_WORDS)
    )
    w = Window.partitionBy(*id_cols).orderBy("block_id")
    with_flags = scored.withColumn("long_good", long_good)
    neighbor_good = (
        F.coalesce(F.lag("long_good").over(w), F.lit(False))
        | F.coalesce(F.lead("long_good").over(w), F.lit(False))
    )
    return with_flags.withColumn(
        "is_content",
        F.col("long_good") | (short_candidate & neighbor_good),
    )


def main_content_df(
    docs: DataFrame, id_col: str = "doc_id", html_col: str = "html"
) -> DataFrame:
    """(doc_id, html) → (doc_id, main_text): content blocks joined with
    newlines in DOM order."""
    classified = classify_blocks(
        score_blocks(parse_html_blocks(docs, id_col, html_col))
    )
    kept = classified.filter(F.col("is_content"))
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("block_id"), F.col("text"))
                    )
                ),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("main_text")
    )


def strip_html_spans(docs: DataFrame, html_kind: str = "html") -> DataFrame:
    """Ingest normalization for the interleaved corpus (north rule:
    "HTML boilerplate strip ... over interleaved text + media
    documents"): documents whose span arrays carry raw-HTML payloads
    (``kind == html_kind``) get those spans replaced by plain
    ``kind='text'`` spans holding the DOM-density main content, in
    place (same ``media_ref``/``offset``); spans that strip to pure
    boilerplate are dropped, the same way the span-sequence stage drops
    blank text spans.  Documents with no html spans pass through
    byte-identical.

    Scale: this runs ONCE per corpus at ingest (like bucketize), not
    inside every pipeline invocation — the downstream validator then
    treats any surviving raw html span as ``unknown_kind`` →
    quarantine, so an un-normalized corpus fails loudly instead of
    leaking markup into the extraction output.  All Python + shuffle
    work is proportional to the html-bearing subset only: the
    passthrough branch is a scan + native ``exists()`` probe, the html
    branch pays one Arrow tokenizer crossing and two doc-local
    shuffles ((doc_id, seq) block fold, doc_id span re-collect).
    """
    is_html_span = lambda s: s["kind"].eqNullSafe(F.lit(html_kind))  # noqa: E731
    # eqNullSafe + coalesce: a doc with NULL kinds or a NULL spans array
    # must land in the passthrough branch (three-valued exists() would
    # drop it from BOTH filters), so quarantine still sees it.
    has_html = F.coalesce(
        F.exists("spans", is_html_span), F.lit(False)
    )
    plain = docs.filter(~has_html)
    hdocs = docs.filter(has_html)

    flat = hdocs.select(
        "doc_id", F.posexplode("spans").alias("seq", "span")
    ).select(
        "doc_id",
        "seq",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )
    rest = flat.filter(~F.col("kind").eqNullSafe(F.lit(html_kind)))
    html_spans = flat.filter(F.col("kind").eqNullSafe(F.lit(html_kind)))

    classified = classify_blocks(
        score_blocks(parse_span_blocks(html_spans)),
        id_cols=("doc_id", "seq"),
    )
    stripped = (
        classified.filter(F.col("is_content"))
        .groupBy("doc_id", "seq")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("block_id", "text"))
                    ),
                    lambda s: s["text"],
                ),
                "\n",
            ).alias("text"),
            F.first("media_ref").alias("media_ref"),
            F.first("offset").alias("offset"),
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
        rest.unionByName(stripped)
        .unionByName(anchor)
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


def normalize_html_flat(
    flat: DataFrame,
    html_kind: str = "html",
    cache: list | None = None,
) -> DataFrame:
    """Inline per-invocation variant of ``strip_html_spans`` over the
    ALREADY-EXPLODED span table (pages.explode_spans_raw output):
    html rows are rewritten to ``kind='text'`` rows holding the
    DOM-density main content, in place — same (doc_id, seq, offset,
    media_ref) — and every other row passes through the untouched
    ``rest`` branch filter.

    Scale contrast with the ingest-time variant: no ``exists()`` probe
    over span arrays, no doc-level array rebuild shuffle, no re-explode.
    The added work is proportional to the html subset only — one Arrow
    tokenizer crossing over html rows, one (doc_id, seq) block fold,
    one co-partitioned equi-join back to the html rows' slots — and
    with a ``cache`` list the (tiny) rewritten-rows table is
    materialized into it (``session.cache_stage``) so the pipeline's
    several downstream consumers re-scan ONLY the parquet ``rest``
    branch they would scan anyway, never the Python stage.

    Semantic divergence from ``strip_html_spans`` (documented, tested):
    spans that strip to pure boilerplate are dropped from the FLAT
    table (matching the ingest path's array removal — page blobs,
    sections, and spans_out agree exactly); ``seq`` keeps the ORIGINAL
    exploded position rather than the rebuilt-array position (ordering
    is unaffected: every consumer orders by (offset, seq) and offsets
    are unchanged); and a doc ALL of whose spans strip to boilerplate
    vanishes from the flat table instead of surfacing an empty_spans
    quarantine row — the doc_id universe consumers read ``docs``, not
    this table, so nothing else shifts.
    """
    is_html = F.col("kind").eqNullSafe(F.lit(html_kind))
    rest = flat.filter(~is_html)
    html_rows = flat.filter(is_html)

    slots = html_rows.select("doc_id", "seq", "media_ref", "offset")
    payload = html_rows.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    scored = classify_blocks(
        score_blocks(parse_span_blocks(payload)),
        id_cols=("doc_id", "seq"),
    )
    # when() without otherwise → NULL for boilerplate blocks, and
    # collect_list skips NULLs: an all-boilerplate span folds to an
    # empty array → array_join '' (the blank-span contract above)
    folded = scored.groupBy("doc_id", "seq").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("is_content"),
                            F.struct("block_id", "text"),
                        )
                    )
                ),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("main_text")
    )
    # left join back to the slots: covers NULL/empty payloads and spans
    # whose html parsed to zero blocks (both → blank text spans).  The
    # join key equals the fold's grouping key, so the exchanges line up.
    rewritten = (
        slots.join(folded, ["doc_id", "seq"], "left")
        .select(
            "doc_id",
            "seq",
            F.lit("text").alias("kind"),
            F.coalesce("main_text", F.lit("")).alias("text"),
            "media_ref",
            "offset",
        )
        # all-boilerplate spans fold to '' — drop them from the flat
        # table exactly like strip_html_spans drops them from the span
        # array (ADVICE r3: pages_df keeps empty-string textish spans —
        # reference parity for ordinary corpora — so a surviving blank
        # rewrite would inject an extra blank line into the page
        # text/content blobs and diverge from the ingest path).  A doc
        # ALL of whose spans strip to boilerplate vanishes from the
        # flat table — the doc_id universe consumers (metadata/metrics)
        # read ``docs``, not this table, so only its quarantine
        # empty_spans row differs from the ingest path (pre-existing,
        # documented divergence).
        .filter(F.col("text") != "")
    )
    return rest.unionByName(cache_stage(rewritten, cache))
