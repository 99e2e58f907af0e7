"""Shared Column-expression helpers pinning *Python* string semantics.

The reference is CPython: ``str.strip()`` removes all whitespace (incl.
newlines/tabs), ``str.isdigit()`` differs from ASCII-only regexes, etc.
Spark's ``trim`` strips only spaces — these helpers close those gaps so
native expressions match the oracle bit-for-bit.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import Column
from pyspark.sql import functions as F

# Python str.strip() whitespace class: the EXACT codepoint set for which
# CPython's str.isspace() is true (property-pinned by a full-BMP codepoint
# sweep in tests/test_properties.py).  Java \s is [ \t\n\x0B\f\r]; Python
# additionally strips the \x1C-\x1F separator controls and the unicode
# space/line/paragraph separators listed here.
_WS = (
    r"[\s\u001C-\u001F\u0085\u00A0\u1680"
    r"\u2000-\u200A\u2028\u2029\u202F\u205F\u3000]"
)


def py_strip(col: Column) -> Column:
    """Python ``str.strip()`` (both ends, all whitespace)."""
    return F.regexp_replace(col, f"^{_WS}+|{_WS}+$", "")


def py_rstrip(col: Column) -> Column:
    return F.regexp_replace(col, f"{_WS}+$", "")


def is_blank(col: Column) -> Column:
    """Python ``not (s or '').strip()`` — as a containment test (no char
    outside the whitespace class), not a regex-replace-and-compare; see
    ``non_blank`` for the equivalence and cost argument."""
    return ~non_blank(F.coalesce(col, F.lit("")))


def let_bound(value: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``value`` ONCE per
    row, pass it to ``body`` as a lambda variable.

    Higher-order-function lambdas are interpreted with NO common-
    subexpression elimination: an outer expression referenced inside a
    lambda is RE-EVALUATED FOR EVERY ELEMENT.  A regex-split referenced
    by a per-shingle lambda turned a 9 s minhash stage into 177 s
    (measured local[2]/10k heavy docs) because the split re-ran per
    shingle.  Wrapping the value in a one-element array and transforming
    over it binds it to a NamedLambdaVariable — a per-element variable
    lookup instead of a subtree re-eval.
    """
    return F.transform(F.array(value), body)[0]


def non_blank(col: Column) -> Column:
    """``bool((s or '').strip())`` as a containment test.

    Equivalent to ``py_strip(x) != ''`` — a string strips to non-empty
    iff it contains any non-whitespace char — but ~3× cheaper on the hot
    path: ``rlike`` can bail at the first non-ws char (usually position
    0) instead of regex-REPLACING both ends and allocating the stripped
    string just to test emptiness.  NULL input yields NULL (filter-false),
    matching the coalesced-`is_blank` convention when used on coalesced
    text."""
    return col.rlike("[^" + _WS[1:])


def strip_s(col: Column) -> Column:
    """strip() of coalesced text (never null)."""
    return py_strip(F.coalesce(col, F.lit("")))


def digit_count(col: Column) -> Column:
    """#ASCII digits (fixtures use ASCII digits; Python isdigit parity)."""
    return F.length(col) - F.length(F.regexp_replace(col, r"[0-9]", ""))


def word_count(col: Column) -> Column:
    """len(s.split()) — Python split() on whitespace runs, ignoring
    leading/trailing."""
    stripped = py_strip(col)
    return F.when(stripped == "", F.lit(0)).otherwise(
        F.size(F.split(stripped, _WS + "+"))
    )


def words(col: Column) -> Column:
    """Python s.split() as array (empty array for blank)."""
    stripped = py_strip(col)
    return F.when(stripped == "", F.array().cast("array<string>")).otherwise(
        F.split(stripped, _WS + "+")
    )


def any_rlike(col: Column, patterns) -> Column:
    """OR of ``re.search`` hits — Spark ``rlike`` is search, not match."""
    return reduce(or_, (col.rlike(p) for p in patterns))


def any_contains(col: Column, needles) -> Column:
    """``any(n in s for n in needles)`` (plain substring containment)."""
    return reduce(or_, (col.contains(n) for n in needles))


def py_isupper(col: Column) -> Column:
    """Python ``str.isupper()``: all cased chars upper AND >=1 cased char.

    ASCII-faithful approximation (upper(s)==s and lower(s)!=s); exact for
    the fixture corpus — parity is enforced by the oracle tests.
    """
    return (F.upper(col) == col) & (F.lower(col) != col)


def is_technical_data(title: Column, technical_patterns) -> Column:
    """reference toc_parser.py:268-293 ``__looks_like_technical_data``:
    9 regex searches over ``title.lower().strip()`` plus the
    short-with-digit rule."""
    tl = F.lower(py_strip(F.coalesce(title, F.lit(""))))
    short_with_digit = (F.length(py_strip(title)) < 10) & title.rlike("[0-9]")
    return any_rlike(tl, technical_patterns) | short_with_digit


def is_genuine_toc_entry(title: Column, keywords) -> Column:
    """reference toc_parser.py:474-513 ``__looks_like_genuine_toc_entry``:
    len 5..100, >=2 words, keyword whitelist OR Title-shape."""
    tc = py_strip(F.coalesce(title, F.lit("")))
    wlist = words(tc)
    kw_hit = any_contains(F.lower(tc), keywords)
    title_shape = (
        F.substring(tc, 1, 1).rlike("^[A-Z]$")
        & ~py_isupper(tc)
        & (F.size(F.filter(wlist, lambda w: F.length(w) > 2)) >= 2)
    )
    return (
        (F.length(tc) >= 5)
        & (F.length(tc) <= 100)
        & (F.size(wlist) >= 2)
        & (kw_hit | title_shape)
    )


def is_high_quality_entry(
    title: Column, page: Column, max_valid_page: int, technical_patterns
) -> Column:
    """reference toc_parser.py:236-266 ``__is_high_quality_entry``."""
    t = F.coalesce(title, F.lit(""))
    dots = F.length(t) - F.length(F.replace(t, F.lit("."), F.lit("")))
    return (
        (F.length(py_strip(t)) >= 5)
        & (F.length(t) <= 120)
        & page.between(1, max_valid_page)
        & (dots <= 15)
        & ~is_technical_data(t, technical_patterns)
        & ~(digit_count(t).cast("double") > F.length(t) * 0.4)
    )


def toc_tags(title: Column, tag_rules) -> Column:
    """reference toc_parser.py:352-379 ``__generate_tags``: keyword classes
    in fixed order, first-match per class."""
    low = F.lower(F.coalesce(title, F.lit("")))
    arr = F.array(
        *[
            F.when(any_contains(low, kws), F.lit(tag))
            for tag, kws in tag_rules
        ]
    )
    return F.filter(arr, lambda x: x.isNotNull())


def section_level(section_id: Column) -> Column:
    """reference toc_parser.py:340-342: len(sid.split('.')); 1 when null."""
    return (
        F.when(section_id.isNull(), F.lit(1))
        .otherwise(F.size(F.split(section_id, r"\.", -1)))
        .cast("int")
    )


def section_parent(section_id: Column) -> Column:
    """reference toc_parser.py:344-350: dotted prefix; null without dot."""
    parts = F.split(section_id, r"\.", -1)
    return F.when(
        section_id.isNotNull() & section_id.contains("."),
        F.array_join(F.slice(parts, F.lit(1), F.size(parts) - 1), "."),
    )
