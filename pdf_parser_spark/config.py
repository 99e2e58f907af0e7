"""Pipeline configuration.

The reference hard-codes document-class constants (SURVEY.md §4 P12):
1047 max page (toc_parser.py:250), TOC scan limited to pages <= 60
(main.py:201), metadata limited to pages 1-5 (metadata_parser.py:98).
Here they are explicit parameters whose defaults pin the reference values
so the oracle fixtures reproduce reference behavior bit-for-bit.
"""

from __future__ import annotations

from dataclasses import dataclass

# --- span-kind vocabulary (SURVEY.md §1.4) ---
# Read by span validation (operators/pages.error_kind_expr, oracle/
# refsem.split_valid_spans) and by the page-major W2/page assembly.
TEXT_KINDS = ("text", "heading")
TABLE_KIND = "table"
IMAGE_KINDS = ("image", "figure")
LAYOUT_KIND = "layout_line"
ANNOTATION_KIND = "annotation"
PAGE_BREAK_KIND = "page_break"
KNOWN_KINDS = (
    TEXT_KINDS + (TABLE_KIND,) + IMAGE_KINDS
    + (LAYOUT_KIND, ANNOTATION_KIND, PAGE_BREAK_KIND)
)
#: raw-HTML payload spans: not a known kind — functions/boilerplate
#: rewrites them to "text", and validation quarantines any left over as
#: unknown_kind.
HTML_KIND = "html"


@dataclass(frozen=True)
class PipelineConfig:
    # --- document-class constants (reference parity defaults) ---
    #: TOC candidate pages: reference main.py:194-202 keeps page <= 60.
    toc_max_page: int = 60
    #: metadata scan pages 1..5: reference metadata_parser.py:98.
    metadata_max_page: int = 5
    #: hard page-count upper bound used by quality filters
    #: (reference toc_parser.py:250, 443 — 1047 for the USB-PD doc).
    max_valid_page: int = 1047
    #: final sanity page range (reference toc_parser.py:684-691).
    absolute_max_page: int = 9999
    #: fallback confidence threshold (reference toc_parser.py:626).
    fallback_confidence: float = 0.6
    #: default document title (reference toc_parser.py:26, main.py:209).
    default_doc_title: str = "USB Power Delivery Specification"
    #: doc-title fallback used when metadata step fails (main.py:204-210).
    metadata_doc_title_fallback: str = (
        "Universal Serial Bus Power Delivery Specification"
    )
    #: JSONL poison-pill guard: skip lines > 1M chars (helpers.py:29).
    max_line_length: int = 1_000_000
    #: substantial-content threshold (section_parser.py:252-254).
    substantial_content_len: int = 100
    #: paragraph filter threshold (section_parser.py:279-283).
    paragraph_min_len: int = 50

    # --- scale knobs (no reference analog; Spark-side) ---
    #: spans above this count per doc are salted for two-phase reassembly.
    mega_doc_span_threshold: int = 100_000
    #: number of salt buckets for mega-doc two-phase reassembly.
    salt_buckets: int = 16


DEFAULT_CONFIG = PipelineConfig()
