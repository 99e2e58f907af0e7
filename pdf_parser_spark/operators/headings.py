"""Heading detection — the Spark-first port of the reference's
``HeadingDetector`` (heading_strategies.py:198-266).

Where the reference holds Python objects implementing
``HeadingStrategyInterface.get_confidence(line) -> float``, this module
holds three **Column-expression builders**, ``builder(clean: Column) ->
Column[double]``, in the module tuple ``STRATEGIES``.  The detector
composes them into ONE native expression (argmax with the reference's
strict-``>`` first-wins tie rule), so detection runs inside whole-stage
codegen — no Python in the loop, unlike the pandas-UDF path it replaces.
The reference's pluggable-strategy extension point (:211-217) is not
ported: no caller registers a strategy of its own.

The strategies pin the reference confidences bit-for-bit
(numbered heading_strategies.py:64-87, all-caps :89-137, mixed-cap
:140-193); parity is enforced by the oracle suite (refsem.detect_heading)
and the golden replay.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from pdf_parser_spark.operators.exprs import let_bound, py_strip

def _numbered(clean: Column) -> Column:
    """'1.2.3 Title' → min(1.0, 0.6 + 0.2 * #dots)
    (heading_strategies.py:64-87)."""
    dots = F.length(clean) - F.length(
        F.replace(clean, F.lit("."), F.lit(""))
    )
    return F.when(
        clean.rlike(r"^\d+(\.\d+)*\s+\S"),
        F.least(F.lit(1.0), F.lit(0.6) + dots * 0.2),
    ).otherwise(F.lit(0.0))


def _allcaps(clean: Column) -> Column:
    """'SECTION HEADING' → upper-alpha ratio
    (heading_strategies.py:89-137)."""
    caps = F.length(F.regexp_replace(clean, "[^A-Z]", ""))
    alpha = F.length(F.regexp_replace(clean, "[^A-Za-z]", ""))
    return F.when(
        clean.rlike(r"^[A-Z0-9\s\-\(\/]{4,}$")
        & (caps >= 2)
        & (alpha > 0),
        F.least(F.lit(1.0), caps.cast("double") / alpha),
    ).otherwise(F.lit(0.0))


def _mixedcap(clean: Column) -> Column:
    """'Title Case Heading' → capitalized-word ratio
    (heading_strategies.py:140-193).

    ``clean`` is already stripped, so a token starts capitalized iff an
    uppercase letter or digit follows start-of-string or whitespace — one
    regexp_count pass instead of split + per-token filter (hot-path cost
    matters: this runs inside the per-line detection battery).

    The class is Unicode-aware (``\\p{Lu}\\p{Nd}``) to match the
    reference's ``word[0].isupper() or word[0].isdigit()`` — 'École
    Primaire' counts both words capitalized, same as CPython.  Residual
    scope: Python ``isdigit`` also accepts a few non-Nd numerics
    (e.g. superscripts) that ``\\p{Nd}`` rejects — no such characters
    exist in the fixture corpora or the goldens."""
    nwords = F.size(F.split(clean, r"\s+", -1))
    cap = F.regexp_count(clean, F.lit(r"(^|\s)[\p{Lu}\p{Nd}]"))
    # reference: cap < max(1, len(words) // 2) rejects — note the FLOOR
    return F.when(
        (nwords >= 2)
        & (
            cap
            >= F.greatest(
                F.lit(1).cast("long"), F.floor(nwords / 2)
            )
        ),
        cap.cast("double") / nwords,
    ).otherwise(F.lit(0.0))


# The reference's default strategy order — order matters: ties break to
# the EARLIEST strategy (strict '>' in the argmax).
STRATEGIES = (_numbered, _allcaps, _mixedcap)


def detect_heading_expr(line: Column) -> Column:
    """HeadingDetector.detect_heading (heading_strategies.py:219-255):
    stripped line when any strategy's confidence > 0, else NULL."""

    def detect(clean: Column) -> Column:
        # greatest() evaluates each builder ONCE.  The previous chained
        # `best = when(c > best, c).otherwise(best)` duplicated every
        # prior builder subtree twice per step (builder i appeared
        # 2^(n-i) times in the final tree), and `clean` — a regex strip
        # — was re-evaluated at every one of those occurrences; this
        # expression runs inside the per-line fold of first_heading, so
        # the blowup was per line.  let_bound pins `clean` to one eval.
        best = F.greatest(
            *[builder(clean) for builder in STRATEGIES], F.lit(0.0)
        )
        return F.when(best > 0, clean)

    return let_bound(py_strip(F.coalesce(line, F.lit(""))), detect)


def detect_enhanced_heading_expr(content: Column, page: Column) -> Column:
    """detect_enhanced_heading (section_parser.py:395-426) as one native
    expression: strategy argmax over the first 10 lines, then the
    first-5-lines shape fallback, then 'Content from Page N'.

    Replaces the pandas-UDF path: the whole scan is array exprs inside
    codegen, so the uncovered-page minority no longer crosses into
    Python at all."""
    c = F.coalesce(content, F.lit(""))
    lines = F.split(c, "\n", -1)

    # Evaluation shape matters here — two earlier forms were slow:
    # (a) transform(slice(lines,1,10), detect) evaluates the full
    #     strategy battery on EVERY line of every row (no short-circuit;
    #     measured 8x the pandas UDF it replaced);
    # (b) coalesce(detect(line0), ..., detect(line9)) short-circuits but
    #     inlines ten battery copies into one projection — the generated
    #     method blows the JVM's 64 KB limit ("Code grows beyond 64 KB")
    #     and the whole stage falls back to interpreted eval.
    # The fold below keeps ONE battery instance in the tree (codegen-
    # sized) and Coalesce.eval is lazy, so a page whose first line is a
    # heading pays for exactly one battery.
    detected = F.aggregate(
        F.slice(lines, 1, 10),
        F.lit(None).cast("string"),
        lambda acc, l: F.coalesce(acc, detect_heading_expr(l)),
    )

    def _fallback(l: Column) -> Column:
        s = py_strip(F.coalesce(l, F.lit("")))
        is_upper = (F.upper(s) == s) & (F.lower(s) != s)
        has_digit = F.substring(s, 1, 10).rlike("[0-9]")
        few_spaces = (
            F.length(s)
            - F.length(F.replace(s, F.lit(" "), F.lit("")))
        ) <= 8
        return F.when(
            (s != "")
            & (F.length(s) < 100)
            & (is_upper | has_digit | few_spaces),
            s,
        )

    fallback = F.aggregate(
        F.slice(lines, 1, 5),
        F.lit(None).cast("string"),
        lambda acc, l: F.coalesce(acc, _fallback(l)),
    )

    return F.coalesce(
        detected,
        fallback,
        F.format_string("Content from Page %d", page.cast("int")),
    )
