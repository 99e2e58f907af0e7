"""Deterministic synthetic fixture corpus (FIXTURES.md §3).

Generates ``(doc_id, spans)`` documents — the exact BASELINE.json
input_hint shape — covering every fixture family F1-F11. Seeded, no
external data. The same generator feeds pytest (small) and bench (large).

A document is built as a list of logical *pages*; each page holds ordered
content blocks (text / table / image / layout_line / annotation). Pages are
separated by ``page_break`` spans. Block order within the document is
encoded in ``offset``; the spans *array* is then deterministically shuffled
so that reassembly genuinely has to sort by offset (W2, SURVEY.md §2.5).
"""

from __future__ import annotations

import itertools
import random
from typing import Any, Dict, Iterator, List

WORDS = (
    "power delivery negotiation contract voltage current source sink cable "
    "connector message protocol policy engine state machine timing supply "
    "device port partner capability specification requirement compliance "
    "electrical mechanical signal data object header extended control"
).split()

SENTENCES = [
    "The power delivery contract is negotiated between source and sink.",
    "Cable assemblies shall meet the electrical requirements of chapter 5.",
    "A port partner advertises its capabilities using source cap messages.",
    "Timing parameters are measured from the last bit of the EOP.",
    "The policy engine directs the protocol layer state transitions.",
    "Voltage transitions follow the defined slew rate limits.",
    "This section describes the mechanical dimensions of the connector.",
    "Messages are protected by a CRC computed over the whole frame.",
]


def _para(rng: random.Random, n_sentences: int = 3) -> str:
    return " ".join(rng.choice(SENTENCES) for _ in range(n_sentences))


def _page(blocks: List[Dict[str, Any]]) -> Dict[str, Any]:
    return {"blocks": blocks}


def _t(text: str) -> Dict[str, Any]:
    return {"kind": "text", "text": text, "media_ref": None}


def _table(rows: List[List[str]]) -> Dict[str, Any]:
    # table span text carries the reference's text_representation
    # (extractor.py:400-413: cells joined " | ", blank rows dropped).
    lines = []
    for row in rows:
        row_text = " | ".join(str(c or "") for c in row)
        if row_text.strip():
            lines.append(row_text)
    return {"kind": "table", "text": "\n".join(lines), "media_ref": None}


def _image(name: str, w: int, h: int, kind: str = "image") -> Dict[str, Any]:
    return {"kind": kind, "text": f"{w}x{h}", "media_ref": name}


def _layout(text: str) -> Dict[str, Any]:
    return {"kind": "layout_line", "text": text, "media_ref": None}


def _annot(atype: str, content: str) -> Dict[str, Any]:
    return {"kind": "annotation", "text": content, "media_ref": atype}


# ---------------------------------------------------------------------------
# fixture families
# ---------------------------------------------------------------------------


def _frontmatter_page(rng: random.Random, variant: int = 0) -> Dict[str, Any]:
    """F9: metadata regex targets (metadata_parser.py:82-98)."""
    if variant == 0:
        lines = [
            "Universal Serial Bus Power Delivery Specification",
            "Revision: 3.2",
            "Version 1.1",
            "Release Date: 2024-10",
        ]
    elif variant == 1:
        lines = [
            "Universal Serial Bus Type-C Power Delivery Specification",
            "Rev. 2.0",
            "V 1.3",
            "Published: 2023-07",
        ]
    else:  # missing fields → "Unknown" defaults
        lines = ["An Untitled Draft Document", "internal use only"]
    return _page([_t("\n".join(lines)), _t(_para(rng, 2))])


_TOC_PRIMARY_LINES = [
    "1 Introduction Overview ............ 9",
    "1.1 Overview of USB Power Delivery ........ 34",
    "1.2 Purpose and Scope Statement ......... 36",
    "2.3 Cable Assemblies and Connectors       55",
    "2.3.1 Plug Mechanical Requirements    56",
    "Table 3.1 Current Capability Levels ...... 60",
    "Figure 2.4 Connector Pin Layout ........ 41",
    "Appendix A Cable Assembly Parameters ...... 900",
    "Annex B Compliance Test Overview ....... 920",
    "Chapter 2 Protocol Overview Details ...... 12",
    "Revision History And Change Log ......... 7",
    "A.1 Electrical Parameters Overview ...... 901",
]

_TOC_ENHANCED_LINES = [
    "3.4 Power Rules Summary 77",
    "Figure 4.2 State Machine Diagram 81",
    "• Quick Start Overview Guide 15",
    "5.1.2 Timing Parameters Table 99",
    "References 910",
    "IV Introduction And Scope .... 20",
    "B.C Connector Overview Details ...... 905",
]

_TOC_FALLBACK_LINES = [
    "Introduction and Overview  23",   # conf 0.8: keyword+double-space+len+cap
    "glossary of terms overview  41",  # conf 0.7, no capitalized word
    "Summary of Protocol Changes  88",
]

_TOC_JUNK_LINES = [
    "some random line 12",             # conf 0.3 < 0.6 → dropped
    "bit = 1 data value 45",           # technical-data (toc_parser.py:268-293)
    "byte 4 assignments detail 50",
    "101 010 110 binary run 61",
    "x1rx signal mapping notes 62",
    "12 13 14 15",                     # digits-only title part
    "Err 9",                           # too short
]


def toc_doc(rng: random.Random, doc_id: str) -> Dict[str, Any]:
    """F1 (+F9): a document with a rich Table of Contents."""
    long_title_line = (
        "1.9 " + " ".join(rng.choice(WORDS).capitalize() for _ in range(22))
        + " ..... 35"
    )
    toc_lines = (
        ["Table of Contents"]
        + _TOC_PRIMARY_LINES
        + [long_title_line]
        + _TOC_ENHANCED_LINES
        + _TOC_FALLBACK_LINES
        + _TOC_JUNK_LINES
    )
    rng.shuffle(toc_lines)  # order within TOC pages varies (header may move)
    third = max(1, len(toc_lines) // 3)
    pages = [
        _frontmatter_page(rng, variant=0),
        _page([_t("\n".join(toc_lines[:third]))]),
        _page([_t("\n".join(toc_lines[third:2 * third]))]),
        _page([_t("\n".join(toc_lines[2 * third:]))]),
    ]
    for _ in range(3):  # body pages
        pages.append(_page([_t(_para(rng, 6)), _t(_para(rng, 4))]))
    return {"doc_id": doc_id, "pages": pages}


def headings_doc(rng: random.Random, doc_id: str) -> Dict[str, Any]:
    """F2: heading detector shapes + natural-section splits."""
    body1 = _para(rng, 5)
    body2 = _para(rng, 5)
    page1 = _page(
        [
            _t(
                "2.1 Device Policy Manager\n" + body1 + "\n"
                "ELECTRICAL REQUIREMENTS\n" + body2
            )
        ]
    )
    # near-misses: one word, >100 chars, lowercase
    near = _page(
        [
            _t(
                "introduction\n"
                + ("w" * 120)
                + "\nthis line is fully lowercase and long enough to matter "
                + body1
            )
        ]
    )
    trailing_colon = _page(
        [_t("Connector Types:\n" + body1 + "\nA.2 Plug Dimensions\n" + body2)]
    )
    return {"doc_id": doc_id, "pages": [page1, near, trailing_colon]}


def media_doc(rng: random.Random, doc_id: str, hot_ref: str | None = None) -> Dict[str, Any]:
    """F3: interleaved text + tables + images + layout + annotations."""
    pages = []
    for p in range(3):
        blocks = [
            _t(_para(rng, 3)),
            _table(
                [
                    ["Field", "Bits", "Value"],
                    ["Header", "16", "0x1A"],
                    ["", "", ""],
                    ["Payload", "32", str(rng.randint(0, 99))],
                ]
            ),
            _image(hot_ref or f"{doc_id}-img-{p}", 640, 480),
            _image(f"{doc_id}-fig-{p}", 320, 240, kind="figure"),
            _layout("Figure caption rendered at y=102.5"),
            _annot("note", f"Reviewer comment {p} on timing"),
            _annot("highlight", ""),  # blank content → dropped in assembly
            _t(_para(rng, 2)),
        ]
        pages.append(_page(blocks))
    return {"doc_id": doc_id, "pages": pages}


def malformed_doc(rng: random.Random, doc_id: str) -> Dict[str, Any]:
    """F4: quarantine triggers; built at span level (post-processing)."""
    doc = {
        "doc_id": doc_id,
        "pages": [_page([_t(_para(rng, 2))])],
        "malform": True,
    }
    return doc


def mega_doc(rng: random.Random, doc_id: str, n_spans: int) -> Dict[str, Any]:
    """F5: one doc with ~n_spans spans (skew / salting test)."""
    pages = []
    per_page = 50
    for p in range(max(1, n_spans // per_page)):
        blocks = [_t(_para(rng, 2)) for _ in range(per_page - 1)]
        blocks.append(_image("hot-shared-logo", 100, 40))
        pages.append(_page(blocks))
    return {"doc_id": doc_id, "pages": pages}


def empty_doc(rng: random.Random, doc_id: str) -> Dict[str, Any]:
    """F6: whitespace-only content."""
    return {
        "doc_id": doc_id,
        "pages": [_page([_t("   \n  "), _t("")]), _page([_t("\t")])],
    }


def unicode_doc(rng: random.Random, doc_id: str) -> Dict[str, Any]:
    """F7: non-ASCII round trip (helpers.py:89-91 ensure_ascii=False)."""
    toc = [
        "Table of Contents",
        "1.1 Überblick der Énergie-Lieferung ........ 10",
        "2.1 電力供給の概要と仕様 ........ 11",
    ]
    return {
        "doc_id": doc_id,
        "pages": [
            _page([_t("\n".join(toc))]),
            _page([_t("受信機は電圧を監視する。 Çà et là, l'énergie passe. " * 4)]),
        ],
    }


def dup_doc(rng: random.Random, doc_id: str) -> Dict[str, Any]:
    """F8: dedup key (page, lower(title)[:50]) (toc_parser.py:667-682)."""
    base = "1.1 Overview of USB Power Delivery ........ 34"
    upper = "1.1 OVERVIEW OF USB POWER DELIVERY ........ 34"
    long_a = (
        "2.2 Common Prefix For Deduplication Checks In This Very Long Title"
        " Alpha ..... 40"
    )
    long_b = (
        "2.2 Common Prefix For Deduplication Checks In This Very Long Title"
        " Bravo ..... 40"
    )
    toc = ["Table of Contents", base, upper, long_a, long_b, base]
    return {
        "doc_id": doc_id,
        "pages": [_page([_t("\n".join(toc))]), _page([_t(_para(rng, 4))])],
        "dup_offsets": True,
    }


def frontmatter_doc(rng: random.Random, doc_id: str, variant: int) -> Dict[str, Any]:
    """F9: metadata extraction variants, incl. fields on page > 5."""
    pages = [_frontmatter_page(rng, variant)]
    for _ in range(5):
        pages.append(_page([_t(_para(rng, 3))]))
    # a 'Revision: 9.9' beyond page 5 must NOT be picked up
    pages.append(_page([_t("Revision: 9.9")]))
    return {"doc_id": doc_id, "pages": pages}


def uncovered_doc(rng: random.Random, doc_id: str) -> Dict[str, Any]:
    """F10: TOC covers early pages only; trailing substantial pages."""
    toc = [
        "Table of Contents",
        "1 Introduction Overview ............ 2",
        "2 Protocol Summary Details ............ 3",
    ]
    pages = [
        _page([_t("\n".join(toc))]),
        _page([_t(_para(rng, 4))]),
        _page([_t(_para(rng, 4))]),
    ]
    # pages 4..6 uncovered — wait: last TOC entry covers to total_pages
    # (toc_processor.py:69-71), so to create uncovered pages the TOC must be
    # empty-ish; keep substantial + junk content anyway for F7/F5 filters.
    pages.append(_page([_t(_para(rng, 6))]))
    pages.append(_page([_t("short")]))  # not substantial → no section
    return {"doc_id": doc_id, "pages": pages}


def no_toc_doc(rng: random.Random, doc_id: str) -> Dict[str, Any]:
    """No TOC at all → every page uncovered (anti-join J3 path)."""
    pages = [
        _page([_t("2.5 Power Supply States\n" + _para(rng, 5))]),
        _page([_t(_para(rng, 6))]),
        _page([_t("x")]),
    ]
    return {"doc_id": doc_id, "pages": pages}


def fallback_doc(rng: random.Random, doc_id: str) -> Dict[str, Any]:
    """F11: confidence-scored fallback lines only."""
    toc = ["Contents"] + _TOC_FALLBACK_LINES + _TOC_JUNK_LINES
    return {
        "doc_id": doc_id,
        "pages": [_page([_t("\n".join(toc))]), _page([_t(_para(rng, 4))])],
    }


def _html(html: str) -> Dict[str, Any]:
    return {"kind": "html", "text": html, "media_ref": None}


def html_doc(rng: random.Random, doc_id: str) -> Dict[str, Any]:
    """F12 (north rule "interleaved text + media documents"): a doc whose
    middle span carries a RAW HTML payload — link-dense chrome (nav /
    footer / sidebar) around long content paragraphs.  The ingest
    normalizer (functions/boilerplate.strip_html_spans) must strip the
    chrome and rewrite the span to kind='text' in place; an
    un-normalized corpus quarantines these spans as unknown_kind."""
    body1 = _para(rng, 6)
    body2 = _para(rng, 5)
    html = (
        f"<html><head><title>Doc {doc_id}</title>"
        '<style>body{margin:0}</style></head><body>'
        '<nav><a href="/">Home</a> <a href="/docs">Docs</a> '
        '<a href="/api">API</a></nav>'
        f"<div id=\"main\"><p>{body1}</p><p>{body2}</p>"
        "<p>see also</p></div>"
        '<div class="sidebar"><a href="/a">Related A</a> '
        '<a href="/b">Related B</a> trending now</div>'
        '<footer><a href="/terms">Terms</a> '
        '<a href="/privacy">Privacy</a></footer></body></html>'
    )
    page1 = _page([_t(_para(rng, 3)), _html(html),
                   _image(f"{doc_id}-img-0", 640, 480)])
    page2 = _page([_t(_para(rng, 4))])
    return {"doc_id": doc_id, "pages": [page1, page2]}


# ---------------------------------------------------------------------------
# page-model → span-array flattening
# ---------------------------------------------------------------------------


def _doc_to_spans(doc: Dict[str, Any], rng: random.Random) -> Dict[str, Any]:
    """Flatten pages → spans with offsets; shuffle array order."""
    spans: List[Dict[str, Any]] = []
    offset = 0
    for i, pg in enumerate(doc["pages"]):
        if i > 0:
            spans.append(
                {"kind": "page_break", "text": None, "media_ref": None,
                 "offset": offset}
            )
            offset += 1
        for blk in pg["blocks"]:
            spans.append({**blk, "offset": offset})
            offset += 1

    if doc.get("dup_offsets") and len(spans) > 2:
        spans[1]["offset"] = spans[2]["offset"]  # duplicate-offset tie-break

    if doc.get("malform"):
        spans.extend(
            [
                {"kind": "text", "text": None, "media_ref": None,
                 "offset": offset},
                {"kind": "blob", "text": "mystery bytes", "media_ref": None,
                 "offset": offset + 1},
                {"kind": "text", "text": "negative", "media_ref": None,
                 "offset": -5},
                {"kind": "text", "text": "noffset", "media_ref": None,
                 "offset": None},
                {"kind": "text", "text": "x" * 1_000_001, "media_ref": None,
                 "offset": offset + 2},
            ]
        )

    rng.shuffle(spans)
    return {"doc_id": doc["doc_id"], "spans": spans}


# ---------------------------------------------------------------------------
# corpus assembly
# ---------------------------------------------------------------------------


def fixture_corpus(
    n_docs: int = 40,
    seed: int = 42,
    mega_spans: int = 1000,
    include_empty_spans_doc: bool = True,
) -> List[Dict[str, Any]]:
    """Deterministic corpus of ≥ n_docs docs cycling all families."""
    rng = random.Random(seed)
    builders = [
        lambda r, d: toc_doc(r, d),
        lambda r, d: headings_doc(r, d),
        lambda r, d: media_doc(r, d),
        lambda r, d: media_doc(r, d, hot_ref="hot-shared-logo"),
        lambda r, d: malformed_doc(r, d),
        lambda r, d: empty_doc(r, d),
        lambda r, d: unicode_doc(r, d),
        lambda r, d: dup_doc(r, d),
        lambda r, d: frontmatter_doc(r, d, variant=sum(map(ord, d)) % 3),
        lambda r, d: uncovered_doc(r, d),
        lambda r, d: no_toc_doc(r, d),
        lambda r, d: fallback_doc(r, d),
    ]
    docs = []
    cycle = itertools.cycle(enumerate(builders))
    for i in range(n_docs):
        fam_idx, builder = next(cycle)
        doc_id = f"doc-{i:06d}-f{fam_idx:02d}"
        docs.append(_doc_to_spans(builder(rng, doc_id), rng))
    # one mega doc for skew (F5)
    docs.append(_doc_to_spans(mega_doc(rng, f"doc-{n_docs:06d}-mega", mega_spans), rng))
    if include_empty_spans_doc:
        docs.append({"doc_id": f"doc-{n_docs + 1:06d}-nospans", "spans": []})
    return docs


def to_rows(docs: List[Dict[str, Any]]) -> Iterator[tuple]:
    for d in docs:
        spans = [
            (s.get("kind"), s.get("text"), s.get("media_ref"), s.get("offset"))
            for s in d["spans"]
        ]
        yield (d["doc_id"], spans)


def to_spark_df(spark, docs: List[Dict[str, Any]]):
    from pdf_parser_spark.schemas import DOCUMENTS_SPANS

    return spark.createDataFrame(list(to_rows(docs)), DOCUMENTS_SPANS)


def write_parquet(spark, docs: List[Dict[str, Any]], path: str, n_files: int = 8):
    df = to_spark_df(spark, docs)
    # range-partition by doc_id: mirrors doc_id-range bucketing the prod
    # layout uses for shuffle-free reassembly (SURVEY.md §4).
    df.repartitionByRange(n_files, "doc_id").write.mode("overwrite").parquet(path)
    return path


# ---------------------------------------------------------------------------
# distributed bench corpus (per-doc seeded → generation parallelizes)
# ---------------------------------------------------------------------------

_BENCH_BUILDERS = [
    toc_doc,
    headings_doc,
    media_doc,
    lambda r, d: media_doc(r, d, hot_ref="hot-shared-logo"),
    malformed_doc,
    empty_doc,
    unicode_doc,
    dup_doc,
    lambda r, d: frontmatter_doc(r, d, variant=sum(map(ord, d)) % 3),
    uncovered_doc,
    no_toc_doc,
    fallback_doc,
    html_doc,  # north rule: raw-HTML payload spans → ingest normalize
]


def build_bench_doc(idx: int, mega_every: int = 10000,
                    mega_spans: int = 20000) -> Dict[str, Any]:
    """One deterministic doc from its index alone (rng seeded per doc, not
    shared) — safe to build on any executor in any order.  Every
    ``mega_every``-th doc is a mega doc (skew)."""
    doc_id = f"doc-{idx:08d}-f{idx % len(_BENCH_BUILDERS):02d}"
    rng = random.Random(10_000_019 * idx + 42)
    if mega_every and idx > 0 and idx % mega_every == 0:
        doc = mega_doc(rng, f"doc-{idx:08d}-mega", mega_spans)
    else:
        doc = _BENCH_BUILDERS[idx % len(_BENCH_BUILDERS)](rng, doc_id)
    return _doc_to_spans(doc, rng)


def bench_corpus_df(spark, n_docs: int, mega_spans: int = 20000):
    """Distributed corpus generation: a range of doc indexes fanned out to
    executors, each built independently (mapInPandas, Arrow-batched).
    This is also the 100 TB story — corpus synthesis scales with the
    cluster instead of serializing through the driver."""
    import pandas as _pd

    from pdf_parser_spark.schemas import DOCUMENTS_SPANS

    def build(batches):
        # yield in bounded chunks: each yielded frame becomes ONE Arrow
        # record batch, and span-heavy rows at thousands-per-batch blow
        # the executor's direct-memory pool
        chunk = 400
        for pdf in batches:
            rows = []
            for idx in pdf["id"]:
                d = build_bench_doc(int(idx), mega_spans=mega_spans)
                rows.append(
                    (
                        d["doc_id"],
                        [
                            (s.get("kind"), s.get("text"),
                             s.get("media_ref"), s.get("offset"))
                            for s in d["spans"]
                        ],
                    )
                )
                if len(rows) >= chunk:
                    yield _pd.DataFrame(rows, columns=["doc_id", "spans"])
                    rows = []
            if rows:
                yield _pd.DataFrame(rows, columns=["doc_id", "spans"])

    idx_df = spark.range(0, n_docs, 1, 64).withColumnRenamed("id", "id")
    return idx_df.mapInPandas(build, DOCUMENTS_SPANS)
