"""Pure-Python oracle: the reference's semantics, re-implemented per doc.

This module is the *specification* the Spark pipeline is tested against
(SURVEY.md §5).  Every function cites the reference file:line whose
behavior it pins.  It is intentionally driver-side, single-doc,
non-distributed Python — the Spark side must reproduce it exactly on the
fixture corpus (span-sequence equality ``(kind, text, media_ref, order)``,
TOC-entry equality, metadata equality, section equality).

It is NOT a copy of the reference code: the reference is a class hierarchy
over pdfplumber pages; this is a functional spec over the
``(doc_id, spans)`` input model (BASELINE.json input_hint).
"""

from __future__ import annotations

import re
from typing import Any, Dict, List, Optional, Tuple

from pdf_parser_spark.config import (
    DEFAULT_CONFIG,
    KNOWN_KINDS,
    PipelineConfig,
)

# ---------------------------------------------------------------------------
# span validation / quarantine  (helpers.py:29,93-95; metadata_validator.py)
# ---------------------------------------------------------------------------


def split_valid_spans(
    spans: Optional[List[Dict[str, Any]]], cfg: PipelineConfig = DEFAULT_CONFIG
) -> Tuple[List[Dict[str, Any]], List[Dict[str, Any]]]:
    """Return (valid_spans_with_seq, quarantine_rows).

    Quarantine triggers (structured error columns, north rule):
    - unknown ``kind``            (schema enforcement, toc_parser.py:544-558)
    - null / negative ``offset``  (order undefined)
    - text longer than 1M chars   (poison-pill guard, helpers.py:29)
    An empty/null spans array yields a doc-level ``empty_spans`` row.
    Null text is legal (reference tolerates missing text everywhere via
    ``page.get("text", "") or ""``).
    """
    quarantine: List[Dict[str, Any]] = []
    valid: List[Dict[str, Any]] = []
    if not spans:
        quarantine.append(
            {
                "span_seq": None,
                "error_kind": "empty_spans",
                "error_detail": "document has no spans",
                "raw": None,
            }
        )
        return valid, quarantine
    for seq, s in enumerate(spans):
        kind = s.get("kind")
        text = s.get("text")
        offset = s.get("offset")
        if kind not in KNOWN_KINDS:
            quarantine.append(
                {
                    "span_seq": seq,
                    "error_kind": "unknown_kind",
                    "error_detail": f"kind={kind!r}",
                    "raw": (text or "")[:100],
                }
            )
        elif offset is None or offset < 0:
            quarantine.append(
                {
                    "span_seq": seq,
                    "error_kind": "bad_offset",
                    "error_detail": f"offset={offset!r}",
                    "raw": (text or "")[:100],
                }
            )
        elif text is not None and len(text) > cfg.max_line_length:
            quarantine.append(
                {
                    "span_seq": seq,
                    "error_kind": "oversize_text",
                    "error_detail": f"len={len(text)}",
                    "raw": text[:100],
                }
            )
        else:
            valid.append({**s, "seq": seq})
    return valid, quarantine


# ---------------------------------------------------------------------------
# page derivation (the (doc_id, spans) analog of extractor.py page records)
# ---------------------------------------------------------------------------


def derive_pages(valid_spans: List[Dict[str, Any]]) -> List[Dict[str, Any]]:
    """Assign pages by counting ``page_break`` spans in offset order.

    Page text = text/heading span texts joined with newlines (the analog of
    pdfplumber's page text blob, extractor.py:195-238); tables/images/
    layout/annotations become the page-record lists of SURVEY.md §1.1.
    Within-doc order is (offset, seq): ``offset`` is authoritative, array
    position breaks ties (W2 stable reassembly).
    """
    ordered = sorted(valid_spans, key=lambda s: (s["offset"], s["seq"]))
    pages: List[Dict[str, Any]] = []
    if not ordered:
        return pages

    def new_page(num: int) -> Dict[str, Any]:
        return {
            "page": num,
            "text_parts": [],
            "tables": [],
            "images": [],
            "layout_lines": [],
            "annotations": [],
            "spans": [],
        }

    cur = new_page(1)
    for s in ordered:
        kind = s["kind"]
        if kind == "page_break":
            pages.append(cur)
            cur = new_page(cur["page"] + 1)
            continue
        cur["spans"].append(s)
        text = s.get("text")
        if kind in ("text", "heading"):
            cur["text_parts"].append(text or "")
        elif kind == "table":
            cur["tables"].append(
                {
                    "table_id": len(cur["tables"]) + 1,
                    "text_representation": text or "",
                }
            )
        elif kind in ("image", "figure"):
            dims = (text or "").strip() or "0x0"
            cur["images"].append(
                {
                    "image_id": len(cur["images"]) + 1,
                    "name": s.get("media_ref") or "unnamed",
                    "dims": dims,
                    "kind": kind,
                    "media_ref": s.get("media_ref"),
                }
            )
        elif kind == "layout_line":
            cur["layout_lines"].append(text or "")
        elif kind == "annotation":
            cur["annotations"].append(
                {
                    "type": s.get("media_ref") or "unknown",
                    "content": text or "",
                }
            )
    pages.append(cur)
    for p in pages:
        p["text"] = "\n".join(p["text_parts"])
    return pages


def image_summary(img: Dict[str, Any]) -> str:
    """'Image {id}: {name} ({WxH})' (page_manager.py:104-112)."""
    return f"Image {img['image_id']}: {img['name']} ({img['dims']})"


def annotation_summary(a: Dict[str, Any]) -> str:
    """'Annotation ({type}): {content}' (page_manager.py:127-140)."""
    return f"Annotation ({a['type']}): {a['content']}"


# ---------------------------------------------------------------------------
# flagship output: ordered main-content span sequence (W2)
# ---------------------------------------------------------------------------

_KIND_RANK = {
    "text": 0,
    "heading": 0,
    "table": 1,
    "image": 2,
    "figure": 2,
    "layout_line": 3,
    "annotation": 4,
}


def span_sequence(valid_spans: List[Dict[str, Any]]) -> List[Dict[str, Any]]:
    """The per-doc extracted sequence, in assembly order.

    Mirrors the fixed block order of the reference's page assembly
    (page_manager.py:69-148: TEXT → TABLES → IMAGES → LAYOUT → ANNOTATIONS)
    applied page by page; blank text/table/layout/annotation spans are
    dropped (the reference's truthiness gates), images always survive.
    """
    pages = derive_pages(valid_spans)
    out: List[Dict[str, Any]] = []
    order = 0
    for p in pages:
        rows = []
        img_iter = iter(p["images"])
        ann_iter = iter(p["annotations"])
        for s in p["spans"]:
            kind = s["kind"]
            text = s.get("text")
            if kind in ("text", "heading", "table", "layout_line"):
                if (text or "").strip():
                    rows.append((s, text))
            elif kind in ("image", "figure"):
                img = next(img_iter)
                rows.append((s, image_summary(img)))
            elif kind == "annotation":
                ann = next(ann_iter)
                if (text or "").strip():
                    rows.append((s, annotation_summary(ann)))
        rows.sort(
            key=lambda r: (_KIND_RANK[r[0]["kind"]], r[0]["offset"], r[0]["seq"])
        )
        for s, out_text in rows:
            order += 1
            out.append(
                {
                    "seq": s["seq"],
                    "page": p["page"],
                    "kind": s["kind"],
                    "text": out_text,
                    "media_ref": s.get("media_ref"),
                    "order": order,
                }
            )
    return out


# ---------------------------------------------------------------------------
# comprehensive content assembly (page_manager.py:41-148)
# ---------------------------------------------------------------------------


def comprehensive_page_content(page: Dict[str, Any]) -> str:
    parts: List[str] = []
    text = page["text"]
    if text and text.strip():
        parts.append(f"=== TEXT CONTENT ===\n{text}")
    if page["tables"]:
        table_content = "\n".join(
            f"Table {t['table_id']}:\n{t['text_representation']}"
            for t in page["tables"]
            if t["text_representation"]
        )
        if table_content.strip():
            parts.append(f"=== TABLES ===\n{table_content}")
    if page["images"]:
        image_content = "\n".join(image_summary(i) for i in page["images"])
        parts.append(f"=== IMAGES ===\n{image_content}")
    if page["layout_lines"]:
        layout_content = "\n".join(
            ln for ln in page["layout_lines"] if ln.strip()
        )
        if layout_content and layout_content.strip():
            parts.append(f"=== LAYOUT TEXT ===\n{layout_content}")
    if page["annotations"]:
        annot_content = "\n".join(
            annotation_summary(a)
            for a in page["annotations"]
            if a["content"].strip()
        )
        if annot_content and annot_content.strip():
            parts.append(f"=== ANNOTATIONS ===\n{annot_content}")
    return "\n\n".join(parts)


def comprehensive_content_range(
    pages_by_num: Dict[int, Dict[str, Any]],
    start_page: int,
    end_page: int,
    total_pages: int,
) -> str:
    """page_manager.py:53-67: clamp to [1, total], join with PAGE BREAK."""
    start = max(1, start_page)
    end = min(total_pages, end_page)
    parts = []
    for n in range(start, end + 1):
        pg = pages_by_num.get(n)
        parts.append(comprehensive_page_content(pg) if pg else "")
    return "\n\n=== PAGE BREAK ===\n\n".join(parts).strip()


# ---------------------------------------------------------------------------
# metadata (metadata_parser.py:82-135)
# ---------------------------------------------------------------------------

METADATA_PATTERNS = {
    "doc_title": r"(Universal Serial Bus.*Power Delivery Specification)",
    "revision": r"(?:Revision|Rev\.?)[: ]+\s*([0-9.]+)",
    "version": r"(?:Version|V)\s*[:]?\s*([0-9.]+)",
    "release_date": (
        r"(?:Release Date|Published:?)\s*[:]?\s*([0-9]{4}(?:-[0-9]{1,2})?)"
    ),
}


def parse_metadata(
    pages: List[Dict[str, Any]], cfg: PipelineConfig = DEFAULT_CONFIG
) -> Dict[str, str]:
    """Pages 1..5 combined text → 4 regex fields, default 'Unknown'."""
    relevant = [p for p in pages if p["page"] <= cfg.metadata_max_page]
    combined = "\n".join(p["text"] for p in relevant)
    out = {}
    for field, pattern in METADATA_PATTERNS.items():
        m = re.search(pattern, combined, re.IGNORECASE)
        out[field] = m.group(1).strip() if m else "Unknown"
    return out


# ---------------------------------------------------------------------------
# TOC parsing (toc_parser.py)
# ---------------------------------------------------------------------------

PRIMARY_PATTERNS = [
    # toc_parser.py:86-113 (7 anchored named-group patterns)
    r"^\s*(?P<section_id>\d+(?:\.\d+)*)\s+(?P<title>[^.]+?)"
    r"\s*\.{3,}\s*(?P<page>\d{1,4})\s*$",
    r"^\s*(?P<section_id>\d+(?:\.\d+)*)\s+(?P<title>.{5,80}?)"
    r"\s{3,}(?P<page>\d{1,4})\s*$",
    r"^\s*(?P<prefix>Table|Figure)\s*(?P<section_id>\d+(?:\.\d+)*)"
    r"\s+(?P<title>.{5,100}?)\s*\.{3,}\s*(?P<page>\d{1,4})\s*$",
    r"^\s*(?P<annex>Appendix|Annex)\s+(?P<section_id>[A-Z])"
    r"\s+(?P<title>.{5,80}?)\s*\.{3,}\s*(?P<page>\d{1,4})\s*$",
    r"^\s*(?P<chapter>Chapter)\s+(?P<section_id>\d+)"
    r"\s+(?P<title>.{5,80}?)\s*\.{3,}\s*(?P<page>\d{1,4})\s*$",
    r"^(?P<title>[A-Z][^.]{10,80}?)\s*\.{4,}\s*(?P<page>\d{1,4})\s*$",
    r"^\s*(?P<section_id>[A-Z]\.\d+(?:\.\d+)*)\s+(?P<title>.{5,80}?)"
    r"\s*\.{3,}\s*(?P<page>\d{1,4})\s*$",
]

ENHANCED_PATTERNS = [
    # toc_parser.py:391-419 (8 looser patterns)
    r"^\s*(?P<section_id>\d+(?:\.\d+)*)\s*(?P<title>.{3,100}?)"
    r"\s+(?P<page>\d{1,4})\s*$",
    r"^\s*(?P<prefix>Table|Figure|Equation)\s*"
    r"(?P<section_id>\d+(?:\.\d+)*)\s*(?P<title>.{3,80}?)"
    r"\s+(?P<page>\d{1,4})\s*$",
    r"^\s*[•\-\*]\s*(?P<title>.{5,80}?)\s+(?P<page>\d{1,4})\s*$",
    r"^\s*(?P<section_id>\d+\.\d+\.\d+)\s+(?P<title>.{5,60}?)"
    r"\s+(?P<page>\d{1,4})\s*$",
    r"^\s*(?P<title>References?|Bibliography|Index|Glossary)"
    r"\s+(?P<page>\d{1,4})\s*$",
    r"^\s*(?P<section_id>[IVX]+(?:\.[IVX]+)*)\s+(?P<title>.{5,80}?)"
    r"\s*\.{3,}\s*(?P<page>\d{1,4})\s*$",
    r"^\s*(?P<section_id>[A-Z](?:\.[A-Z])*(?:\.\d+)*)"
    r"\s+(?P<title>.{5,80}?)\s*\.{3,}\s*(?P<page>\d{1,4})\s*$",
]

TECHNICAL_PATTERNS = [
    # toc_parser.py:273-284
    r"^\d+\s+\d+\s+\d+",
    r"^[01\s]+$",
    r"hex\s+data",
    r"bit\s*=\s*\d",
    r"k-code",
    r"byte\s+\d",
    r"^[a-z]\d+rx",
    r"preamble.*training",
    r"data\s+object\s+\d",
]

TOC_GENUINE_KEYWORDS = [
    # toc_parser.py:489-495
    "introduction", "overview", "specification", "requirements",
    "protocol", "interface", "power", "delivery", "usb",
    "connector", "cable", "message", "communication",
    "appendix", "annex", "reference", "glossary", "index",
    "chapter", "section", "figure", "table", "example",
]

CONFIDENCE_KEYWORDS = [
    # toc_parser.py:590-594
    "introduction", "overview", "summary", "conclusion",
    "references", "appendix", "index", "glossary", "abstract",
]

TAG_RULES = [
    # toc_parser.py:352-379 (keyword classes, applied to lowered title)
    ("introductory", ["introduction", "overview", "summary"]),
    ("concluding", ["conclusion", "summary", "results"]),
    ("supplementary", ["appendix", "annex", "supplement"]),
    ("reference", ["reference", "bibliography", "citation"]),
    ("visual_content", ["table", "figure", "diagram", "chart"]),
    ("specification", ["specification", "requirement", "standard"]),
]


def split_into_lines(text: str) -> List[str]:
    """text_utils.py:21-25 — splitlines + rstrip."""
    if not text:
        return []
    return [line.rstrip() for line in text.splitlines()]


def find_content_start(lines: List[Tuple[int, str]]) -> int:
    """text_utils.py:27-33 — line after the first TOC indicator, else 0."""
    for idx, (_, line) in enumerate(lines):
        for term in ("table of contents", "contents"):
            if re.search(rf"\b{re.escape(term)}\b", line, re.IGNORECASE):
                return idx + 1
    return 0


def clean_title(title: str) -> str:
    """toc_parser.py:302-334."""
    if not title:
        return ""
    cleaned = title.strip()
    cleaned = re.sub(r"\.{4,}", "", cleaned)
    if len(cleaned) > 120:
        sentences = cleaned.split(".")
        if len(sentences) > 1 and len(sentences[0]) < 80:
            cleaned = sentences[0].strip()
        else:
            cleaned = cleaned[:80].strip()
    while cleaned and cleaned[-1] in ". ":
        cleaned = cleaned[:-1]
    cleaned = " ".join(cleaned.split())
    cleaned = cleaned.replace("  ", " ").replace(" .", ".")
    return cleaned


def parse_page_number(page_str: Optional[str]) -> int:
    """toc_parser.py:336-338."""
    return int(page_str) if page_str and page_str.isdigit() else 0


def calc_level(section_id: Optional[str]) -> int:
    """toc_parser.py:340-342."""
    return len(section_id.split(".")) if section_id else 1


def parent_id_of(section_id: Optional[str]) -> Optional[str]:
    """toc_parser.py:344-350."""
    if section_id and "." in section_id:
        return ".".join(section_id.split(".")[:-1])
    return None


def looks_like_technical_data(title: str) -> bool:
    """toc_parser.py:268-293."""
    title_lower = title.lower().strip()
    for pattern in TECHNICAL_PATTERNS:
        if re.search(pattern, title_lower):
            return True
    if len(title.strip()) < 10 and any(c.isdigit() for c in title):
        return True
    return False


def looks_like_genuine_toc_entry(title: str) -> bool:
    """toc_parser.py:474-513."""
    title_clean = title.strip()
    if len(title_clean) < 5 or len(title_clean) > 100:
        return False
    words = title_clean.split()
    if len(words) < 2:
        return False
    title_lower = title_clean.lower()
    if any(k in title_lower for k in TOC_GENUINE_KEYWORDS):
        return True
    if (
        title_clean[0].isupper()
        and not title_clean.isupper()
        and len([w for w in words if len(w) > 2]) >= 2
    ):
        return True
    return False


def generate_tags(title: str) -> List[str]:
    """toc_parser.py:352-379 — first-match per class, class order fixed."""
    lowered = (title or "").lower()
    tags = []
    for tag, kws in TAG_RULES:
        if any(k in lowered for k in kws):
            tags.append(tag)
    return tags


def is_high_quality_entry(title: str, page: int, cfg: PipelineConfig) -> bool:
    """toc_parser.py:236-266."""
    if not title or len(title.strip()) < 5:
        return False
    if len(title) > 120:
        return False
    if not isinstance(page, int) or page < 1 or page > cfg.max_valid_page:
        return False
    if title.count(".") > 15:
        return False
    if looks_like_technical_data(title):
        return False
    digits = sum(1 for c in title if c.isdigit())
    if digits > len(title) * 0.4:
        return False
    return True


def toc_confidence(line: str) -> float:
    """toc_parser.py:589-618."""
    score = 0.0
    line_lower = line.lower()
    for kw in CONFIDENCE_KEYWORDS:
        if kw in line_lower:
            score += 0.3
            break
    if ".." in line or "  " in line:
        score += 0.2
    words = line.split()
    if 2 <= len(words) <= 15:
        score += 0.2
    if any(w[0].isupper() for w in words if w):
        score += 0.1
    return min(1.0, score)


def _match_primary(clean_line: str) -> Optional[Dict[str, Any]]:
    """toc_parser.py:180-208 — first-match-wins over PRIMARY_PATTERNS."""
    for i, pattern in enumerate(PRIMARY_PATTERNS):
        m = re.match(pattern, clean_line, re.IGNORECASE)
        if m:
            groups = m.groupdict()
            section_id = groups.get("section_id")
            if groups.get("annex"):
                annex_type = groups.get("annex", "").capitalize()
                section_id = f"{annex_type} {section_id}".strip()
            elif groups.get("chapter"):
                section_id = f"Chapter {section_id}" if section_id else None
            return {
                "pattern_idx": i,
                "section_id": section_id,
                "title": clean_title(groups.get("title", "")),
                "page": parse_page_number(groups.get("page")),
                "full_path": clean_line,
            }
    return None


def parse_toc(
    pages: List[Dict[str, Any]],
    doc_title: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> List[Dict[str, Any]]:
    """Full three-pass TOC extraction + dedup (toc_parser.py:141-691).

    ``pages`` must already be limited to page <= cfg.toc_max_page
    (main.py:194-202 does this before invoking the parser).
    """
    if not pages:
        return []
    # flatten (toc_parser.py:123-133)
    lines: List[Tuple[int, str]] = []
    for p in pages:
        for line in split_into_lines(p["text"]):
            lines.append((p["page"], line))
    start = find_content_start(lines)
    lines = lines[start:]

    def make_entry(section_id, title, page, full_path):
        return {
            "doc_title": doc_title,
            "section_id": section_id,
            "title": title,
            "page": page,
            "level": calc_level(section_id),
            "parent_id": parent_id_of(section_id),
            "full_path": full_path,
            "tags": generate_tags(title),
        }

    toc_entries: List[Dict[str, Any]] = []
    potentials: List[Dict[str, Any]] = []
    for page_num, line in lines:
        entry = _match_primary(line.strip())
        if (
            entry
            and entry["page"]
            and is_high_quality_entry(entry["title"], entry["page"], cfg)
        ):
            toc_entries.append(
                make_entry(
                    entry["section_id"], entry["title"], entry["page"],
                    entry["full_path"],
                )
            )
        else:
            # potential fallback candidate (toc_parser.py:560-587)
            clean = line.strip()
            if 5 <= len(clean) <= 200:
                words = clean.split()
                if len(words) >= 2:
                    last = words[-1]
                    if last.isdigit() and 1 <= int(last) <= 9999:
                        title_part = " ".join(words[:-1]).strip()
                        if title_part and not title_part.isdigit():
                            potentials.append(
                                {
                                    "line": clean,
                                    "potential_title": title_part,
                                    "potential_page": int(last),
                                    "source_page": page_num,
                                    "confidence": toc_confidence(clean),
                                }
                            )

    # enhanced pass (toc_parser.py:381-470)
    enhanced: List[Dict[str, Any]] = []
    existing_titles = {e["title"].lower() for e in toc_entries}
    for page_num, line in lines:
        clean = line.strip()
        if any(clean in e["full_path"] for e in toc_entries):
            continue
        for pattern in ENHANCED_PATTERNS:
            m = re.match(pattern, clean, re.IGNORECASE)
            if m:
                groups = m.groupdict()
                page = parse_page_number(groups.get("page"))
                title = clean_title(groups.get("title", ""))
                if (
                    page
                    and 1 <= page <= cfg.max_valid_page
                    and len(title.strip()) >= 5
                    and title.lower() not in existing_titles
                    and not title.lower().startswith("page ")
                    and not looks_like_technical_data(title)
                    and looks_like_genuine_toc_entry(title)
                ):
                    # dict.get default fires only when the *key* is absent
                    # (patterns without a section_id group), not when the
                    # group is None — toc_parser.py:451-454 quirk.
                    if "section_id" in groups:
                        section_id = groups["section_id"]
                    else:
                        section_id = f"Section-{page}"
                    enhanced.append(
                        {
                            "doc_title": doc_title,
                            "section_id": section_id,
                            "title": title,
                            "page": page,
                            "level": calc_level(groups.get("section_id")),
                            "parent_id": parent_id_of(
                                groups.get("section_id")
                            ),
                            "full_path": clean,
                            "tags": ["enhanced_extraction"],
                        }
                    )
                    existing_titles.add(title.lower())
                break
    toc_entries.extend(enhanced)

    # fallback pass (toc_parser.py:620-659)
    for pot in potentials:
        title = pot["potential_title"]
        if (
            pot["confidence"] >= cfg.fallback_confidence
            and not looks_like_technical_data(title)
            and looks_like_genuine_toc_entry(title)
            and len(title.strip()) >= 8
            and len(title.split()) >= 2
            and not title.lower().startswith(
                ("error", "data object", "byte", "bit")
            )
        ):
            toc_entries.append(
                make_entry(None, title, pot["potential_page"], pot["line"])
            )

    # dedup + page-range sanity (toc_parser.py:661-691)
    unique = []
    seen = set()
    for entry in sorted(
        toc_entries, key=lambda x: (x.get("page", 0), x.get("title", ""))
    ):
        key = (entry.get("page", 0), entry.get("title", "").lower().strip()[:50])
        if key not in seen:
            seen.add(key)
            unique.append(entry)
    return [e for e in unique if 1 <= e.get("page", 0) <= cfg.absolute_max_page]


# ---------------------------------------------------------------------------
# heading detection (heading_strategies.py, section_parser.py:371-426)
# ---------------------------------------------------------------------------

_NUMBERED_RE = re.compile(r"^\d+(\.\d+)*\s+\S+")
_ALLCAPS_RE = re.compile(r"^[A-Z0-9\s\-\(\/]{4,}$")


def numbered_confidence(clean: str) -> float:
    """heading_strategies.py:64-87."""
    if not clean or not _NUMBERED_RE.match(clean.strip()):
        return 0.0
    dots = clean.count(".")
    return min(1.0, 0.6 + dots * 0.2)


def allcaps_confidence(clean: str) -> float:
    """heading_strategies.py:89-137."""
    if not clean:
        return 0.0
    line = clean.strip()
    if not _ALLCAPS_RE.match(line):
        return 0.0
    upper = sum(1 for c in line if c.isalpha() and c.isupper())
    if upper < 2:
        return 0.0
    alpha = sum(1 for c in clean if c.isalpha())
    if alpha == 0:
        return 0.0
    upper_all = sum(1 for c in clean if c.isalpha() and c.isupper())
    return min(1.0, upper_all / alpha)


def mixedcap_confidence(clean: str) -> float:
    """heading_strategies.py:140-193."""
    if not clean:
        return 0.0
    words = clean.split()
    if len(words) < 2:
        return 0.0
    cap = sum(1 for w in words if w and (w[0].isupper() or w[0].isdigit()))
    if cap < max(1, len(words) // 2):
        return 0.0
    return cap / len(words)


def detect_heading(line: Optional[str]) -> Optional[str]:
    """HeadingDetector.detect_heading (heading_strategies.py:219-255)."""
    if not line:
        return None
    clean = line.strip()
    confidences = [
        numbered_confidence(clean),
        allcaps_confidence(clean),
        mixedcap_confidence(clean),
    ]
    best = 0.0
    for c in confidences:  # strict '>' → first strategy wins ties
        if c > best:
            best = c
    return clean if best > 0 else None


def detect_enhanced_heading(content: str, page_num: int) -> str:
    """section_parser.py:395-426."""
    if not content:
        return f"Content from Page {page_num}"
    lines = content.split("\n")
    for line in lines[:10]:
        heading = detect_heading(line)
        if heading:
            return heading
    for line in lines[:5]:
        line = line.strip()
        if line and len(line) < 100:
            if (
                line.isupper()
                or any(c.isdigit() for c in line[:10])
                or line.count(" ") <= 8
            ):
                return line
    return f"Content from Page {page_num}"


def looks_like_heading(line: str) -> bool:
    """section_parser.py:371-392."""
    if not line or len(line) > 100:
        return False
    if re.match(r"^\d+(\.\d+)*\s+", line):
        return True
    if re.match(r"^[A-Z](\.\d+)*\s+", line):
        return True
    if line.isupper() and len(line.split()) <= 6:
        return True
    if line.endswith(":") and len(line.split()) <= 8:
        return True
    return False


# ---------------------------------------------------------------------------
# sections (section_parser.py, section/*.py)
# ---------------------------------------------------------------------------


def _build_page_section(
    doc_title: str, page_num: int, content: str, heading: Optional[str]
) -> Dict[str, Any]:
    """section_builder.py:58-125 build_comprehensive_page_section."""
    title = heading or f"Enhanced Page {page_num}"
    content = content or ""
    tags = ["enhanced_extraction"]
    if "TABLES" in content or "|" in content:
        tags.append("contains_tables")
    if "IMAGES" in content or "Image" in content:
        tags.append("contains_images")
    if "ANNOTATIONS" in content:
        tags.append("contains_annotations")
    if "LAYOUT TEXT" in content:
        tags.append("has_layout_info")
    n = len(content)
    tags.append("large_content" if n > 5000 else
                "medium_content" if n > 1000 else "small_content")
    return {
        "doc_title": doc_title,
        "section_id": f"Page-{page_num}",
        "title": title,
        "full_path": f"Page-{page_num} {title}",
        "page": page_num,
        "level": 1,
        "parent_id": None,
        "content": content,
        "tags": tags,
    }


def _build_toc_section(
    entry: Dict[str, Any], content: str, default_doc_title: str
) -> Dict[str, Any]:
    """section_builder.py:34-57 + 127-146 build_from_toc_entry."""
    section_id = entry.get("section_id", "") or ""
    level = len(section_id.split(".")) if section_id else 1
    parent = None
    if section_id and "." in section_id:
        parent = ".".join(section_id.split(".")[:-1])
    title = entry.get("title", "") or ""
    return {
        "doc_title": entry.get("doc_title") or default_doc_title,
        "section_id": section_id,
        "title": title,
        "full_path": f"{section_id} {title}".strip(),
        "page": int(entry.get("page", 0)),
        "level": level,
        "parent_id": parent,
        "content": content if content is not None else "",
        "tags": entry.get("tags", []) or [],
    }


def _natural_sections(
    doc_title: str, page_num: int, text: str
) -> List[Dict[str, Any]]:
    """section_parser.py:314-369 heading-split state machine."""
    sections = []
    current: List[str] = []
    heading: Optional[str] = None
    for line in text.split("\n"):
        line = line.strip()
        if not line:
            continue
        if looks_like_heading(line):
            if current and heading:
                content = "\n".join(current)
                if len(content.strip()) > 100:
                    sections.append(
                        _build_page_section(doc_title, page_num, content, heading)
                    )
            heading = line
            current = []
        else:
            current.append(line)
    if current and heading:
        content = "\n".join(current)
        if len(content.strip()) > 100:
            sections.append(
                _build_page_section(doc_title, page_num, content, heading)
            )
    return sections


def content_section_pairs(
    text: str, page_num: int, cfg: PipelineConfig = DEFAULT_CONFIG
) -> List[Tuple[str, str]]:
    """(title, content) pairs for one substantial uncovered page
    (section_parser.py:256-312).  Shared by the oracle and the Spark
    pandas-UDF stage so both pin identical semantics.  Caller applies the
    ``len(text.strip()) > 100`` gate (section_parser.py:252-254)."""
    natural = _natural_sections("", page_num, text)
    if natural:
        return [(s["title"], s["content"]) for s in natural]
    paragraphs = [
        p.strip()
        for p in text.split("\n\n")
        if len(p.strip()) > cfg.paragraph_min_len
    ]
    if paragraphs:
        main = max(paragraphs, key=len)  # first max on ties
        if len(main) < 200 and len(text.strip()) > len(main):
            main = text.strip()[:1000]
    else:
        main = text.strip()[:1000]
    heading = detect_enhanced_heading(main, page_num)
    if not heading or len(heading) < 5:
        low = text.lower()
        if any(k in low for k in
               ("usb", "power", "delivery", "voltage",
                "current", "protocol")):
            heading = f"USB Power Delivery Content - Page {page_num}"
        elif any(k in low for k in
                 ("specification", "requirement", "standard")):
            heading = f"Technical Specification - Page {page_num}"
        else:
            heading = f"Document Content - Page {page_num}"
    return [(heading, main)]


def parse_sections(
    pages: List[Dict[str, Any]],
    toc_entries: List[Dict[str, Any]],
    doc_title: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> List[Dict[str, Any]]:
    """Full section assembly (section_parser.py:110-312)."""
    pages_by_num = {p["page"]: p for p in pages}
    total_pages = len(pages)

    # valid TOC entries sorted by page (toc_processor.py:28-35)
    valid_toc = sorted(
        (e for e in toc_entries
         if isinstance(e.get("page"), int) and e["page"] > 0),
        key=lambda x: x.get("page", 0),
    )

    # TOC sections (range join J2; NO end>=start clamp for content —
    # section_parser.py:163-167 vs the clamped coverage ranges below)
    toc_sections = []
    for i, entry in enumerate(valid_toc):
        start = int(entry["page"])
        end = (
            int(valid_toc[i + 1]["page"]) - 1
            if i + 1 < len(valid_toc)
            else total_pages
        )
        content = comprehensive_content_range(
            pages_by_num, start, end, total_pages
        )
        toc_sections.append(_build_toc_section(entry, content, doc_title))

    # covered pages (toc_processor.py:37-75, WITH end clamp)
    covered = set()
    for i, entry in enumerate(valid_toc):
        start = int(entry["page"])
        end = (
            int(valid_toc[i + 1]["page"]) - 1
            if i + 1 < len(valid_toc)
            else total_pages
        )
        end = max(end, start)
        covered.update(range(start, end + 1))

    # uncovered per-page sections (J3 anti-join analog)
    page_sections = []
    for page_num in range(1, total_pages + 1):
        if page_num in covered:
            continue
        pg = pages_by_num.get(page_num)
        content = comprehensive_page_content(pg) if pg else ""
        if not content or not content.strip():
            continue
        heading = detect_enhanced_heading(content, page_num)
        page_sections.append(
            _build_page_section(doc_title, page_num, content, heading)
        )

    # content-based sections (section_parser.py:226-312)
    existing_pages = {s["page"] for s in toc_sections + page_sections}
    content_sections = []
    for pg in pages:
        page_num = pg["page"]
        if page_num <= 0 or page_num in existing_pages:
            continue
        text = pg["text"]
        if len(text.strip()) > cfg.substantial_content_len:
            for title, content in content_section_pairs(text, page_num, cfg):
                content_sections.append(
                    _build_page_section(doc_title, page_num, content, title)
                )

    all_sections = toc_sections + page_sections + content_sections
    all_sections.sort(key=lambda s: (s["page"], s["section_id"] or ""))
    return all_sections


# ---------------------------------------------------------------------------
# whole-document oracle pipeline (main.py:96-116 five steps)
# ---------------------------------------------------------------------------


def run_document(
    doc: Dict[str, Any], cfg: PipelineConfig = DEFAULT_CONFIG
) -> Dict[str, Any]:
    """Run the full reference pipeline for one (doc_id, spans) document."""
    valid, quarantine = split_valid_spans(doc.get("spans"), cfg)
    pages = derive_pages(valid)
    metadata = parse_metadata(pages, cfg)
    # doc_title injection: main.py:204-210
    doc_title = metadata.get("doc_title") or cfg.metadata_doc_title_fallback
    if doc_title == "Unknown":
        pass  # reference keeps "Unknown" as-is (only absent key falls back)
    toc_pages = [p for p in pages if p["page"] <= cfg.toc_max_page]
    toc = parse_toc(toc_pages, doc_title, cfg)
    sections = parse_sections(pages, toc, doc_title, cfg)
    return {
        "doc_id": doc["doc_id"],
        "quarantine": quarantine,
        "pages": pages,
        "spans_out": span_sequence(valid),
        "metadata": metadata,
        "toc": toc,
        "sections": sections,
    }


# ---------------------------------------------------------------------------
# validation metrics (validation_report.py, coverage_calculator.py, A1-A11)
# ---------------------------------------------------------------------------


def _safe_pct(n: int, d: int) -> float:
    """coverage_calculator.py:216-222 (Python round = banker's)."""
    if d == 0:
        return 0.0
    return round(n / d * 100, 2)


def doc_metrics(res: Dict[str, Any]) -> Dict[str, Any]:
    """Per-document validation summary — the reference's one-PDF report
    (validation_report.py:109-177, coverage_calculator.py:34-214,
    main.py:234-268, section_parser.py:428-474) generalized to one row per
    doc_id (SURVEY.md §2.4: at 10^12 docs the global metrics become
    groupBy(doc_id))."""
    pages = res["pages"]
    toc = res["toc"]
    sections = res["sections"]
    meta = res["metadata"]
    total_pages = len(pages)

    # A1 basic counts + A11 metadata status (metadata_validator.py:20-55)
    pages_with_text = sum(1 for p in pages if p["text"].strip())
    required = ("doc_title", "revision", "version", "release_date")
    meta_errors = [f for f in required if not meta.get(f)]
    metadata_status = "Valid" if not meta_errors else "Invalid/Missing"

    # A5 TOC covered pages (coverage_calculator.py:129-138, 224-258)
    valid_entries = sorted(
        (e for e in toc if isinstance(e.get("page"), int) and e["page"] > 0),
        key=lambda x: x.get("page", 0),
    )
    covered: set = set()
    for i, e in enumerate(valid_entries):
        start = int(e.get("page", 0))
        end = (
            int(valid_entries[i + 1].get("page", 0)) - 1
            if i + 1 < len(valid_entries)
            else total_pages
        )
        covered.update(range(start, max(end, start) + 1))

    # A3 comprehensive coverage (coverage_calculator.py:34-111)
    n_text = sum(1 for p in pages if p["text"].strip())
    n_tables = sum(1 for p in pages if p["tables"])
    n_images = sum(1 for p in pages if p["images"])
    n_annots = sum(1 for p in pages if p["annotations"])
    n_layout = sum(1 for p in pages if p["layout_lines"])
    text_cov = _safe_pct(n_text, total_pages)
    table_cov = _safe_pct(n_tables, total_pages)
    image_cov = _safe_pct(n_images, total_pages)
    annot_cov = _safe_pct(n_annots, total_pages)
    layout_cov = _safe_pct(n_layout, total_pages)
    overall = (
        text_cov * 0.4 + table_cov * 0.2 + image_cov * 0.2
        + annot_cov * 0.1 + layout_cov * 0.1
    )

    # A4 content quality (coverage_calculator.py:140-214)
    pages_with_content = 0
    total_content_length = 0
    content_types: set = set()
    for p in pages:
        has = False
        plen = 0
        if p["text"].strip():
            has = True
            plen += len(p["text"])
            content_types.add("text")
        if p["tables"]:
            has = True
            content_types.add("tables")
            plen += sum(len(t["text_representation"] or "") for t in p["tables"])
        if p["images"]:
            has = True
            content_types.add("images")
        if p["annotations"]:
            has = True
            content_types.add("annotations")
            plen += sum(len(a["content"] or "") for a in p["annotations"])
        if has:
            pages_with_content += 1
            total_content_length += plen
    avg_content_length = (
        total_content_length / pages_with_content
        if pages_with_content > 0
        else 0.0
    )

    # A6 parsing coverage stats (section_parser.py:428-474)
    toc_sections = sum(1 for s in sections if s.get("section_id"))
    non_toc_sections = len(sections) - toc_sections
    sections_with_tables = 0
    sections_with_images = 0
    total_sec_content_len = 0
    sec_pages = set()
    for s in sections:
        sec_pages.add(s["page"])
        c = s.get("content", "")
        if c:
            total_sec_content_len += len(c)
            if "table" in c.lower() or "|" in c:
                sections_with_tables += 1
            if any(w in c.lower() for w in ("image", "figure", "diagram")):
                sections_with_images += 1

    return {
        "metadata_status": metadata_status,
        "total_toc_entries": len(toc),
        "sections_parsed": len(sections),
        "pages_with_text": pages_with_text,
        "toc_covered_pages": len(covered),
        "page_coverage_pct": _safe_pct(pages_with_text, total_pages),
        "text_coverage": text_cov,
        "table_coverage": table_cov,
        "image_coverage": image_cov,
        "annotation_coverage": annot_cov,
        "layout_coverage": layout_cov,
        "overall_coverage": overall,
        "total_pages": total_pages,
        "pages_with_content": pages_with_content,
        "average_content_length": float(avg_content_length),
        "content_diversity_score": len(content_types),
        "extraction_completeness": _safe_pct(pages_with_content, total_pages),
        "toc_sections": toc_sections,
        "non_toc_sections": non_toc_sections,
        "sections_with_tables": sections_with_tables,
        "sections_with_images": sections_with_images,
        "total_section_content_length": total_sec_content_len,
        "section_pages_covered": len(sec_pages),
    }
