"""Heading-strategy registry: parity with the reference semantics
(refsem.detect_heading / detect_enhanced_heading) and the add_strategy
extension point (heading_strategies.py:211-217)."""

import pytest

from pyspark.sql import functions as F

from pdf_parser_spark.operators import headings as H
from pdf_parser_spark.oracle import refsem

LINES = [
    None,
    "",
    "   ",
    "1.2 Purpose",
    "12.3.4.5 Deep Title",
    "1. x",
    "OVERVIEW",
    "USB POWER DELIVERY",
    "ALL CAPS WITH 123",
    "AB",
    "ABC-",
    "(A/B)",
    "Mixed Case Heading Here",
    "Two words",
    "a B c D e F",
    "lower case only",
    "word",
    "  spaced out words here  ",
    "1234",
    "....",
    "Heading:",
]


def test_detect_heading_matches_refsem(spark):
    df = spark.createDataFrame(
        [(i, l) for i, l in enumerate(LINES)], ["i", "line"]
    )
    got = {
        r.i: r.h
        for r in df.select(
            "i", H.detect_heading_expr(F.col("line")).alias("h")
        ).collect()
    }
    for i, l in enumerate(LINES):
        assert got[i] == refsem.detect_heading(l), repr(l)


def test_enhanced_heading_matches_refsem(spark):
    contents = [
        "",
        "short\nOVERVIEW\nrest",
        "x" * 120 + "\nSecond Line Here",
        "\n\n\n1.2 Thing\nbody",
        "\n".join(LINES[3:12]),
        "no heading anywhere in sight but digits 42 here",
    ]
    df = spark.createDataFrame(
        [(i, c, 7) for i, c in enumerate(contents)],
        ["i", "content", "page"],
    )
    got = {
        r.i: r.h
        for r in df.select(
            "i",
            H.detect_enhanced_heading_expr(
                F.col("content"), F.col("page")
            ).alias("h"),
        ).collect()
    }
    for i, c in enumerate(contents):
        assert got[i] == refsem.detect_enhanced_heading(c, 7), repr(c[:40])


def test_detection_is_jvm_native(spark):
    df = spark.createDataFrame([("1.2 Purpose", 3)], ["content", "page"])
    out = df.select(
        H.detect_enhanced_heading_expr(
            F.col("content"), F.col("page")
        ).alias("title")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_strategy_stats_independent_counts(spark):
    """Reference get_strategy_stats (heading_strategies.py:46-52,
    232-243): every strategy counts every line it matches independently
    ('OVERVIEW HEADING' increments BOTH all_caps and mixed_cap), and
    total_checks is the full line count for each strategy."""
    df = spark.createDataFrame(
        [("12.3.4.5.6 x",),      # numbered; mixed_cap (digit-start word)
         ("OVERVIEW HEADING",),  # all_caps AND mixed_cap
         ("Mixed case words",),  # mixed_cap only
         ("lower case only",)],  # nothing fires
        ["line"],
    )
    rows = {r.strategy: r for r in H.strategy_stats_df(df).collect()}
    assert rows["numbered"].matches_found == 1
    assert rows["all_caps"].matches_found == 1
    assert rows["mixed_cap"].matches_found == 3
    assert all(r.total_checks == 4 for r in rows.values())


def test_mixedcap_unicode_parity(spark):
    """Non-ASCII capitalized words count (ADVICE r2): the Spark
    \\p{Lu}\\p{Nd} class matches the reference's word[0].isupper()
    semantics on accented headings."""
    lines = [
        "École Primaire Générale",
        "Über Die Straße",
        "école primaire générale",   # lowercase accents: no caps
        "Ωμέγα Πρωτόκολλο",          # Greek capitals
    ]
    df = spark.createDataFrame([(x,) for x in lines], ["line"])
    got = {
        r.line: r.heading
        for r in df.select(
            "line",
            H.detect_heading_expr(F.col("line")).alias("heading"),
        ).collect()
    }
    for x in lines:
        assert got[x] == refsem.detect_heading(x), x


def test_add_strategy_extends_detection(spark):
    """A third-party Column-expr strategy registered via add_strategy is
    reflected in detection output (the reference extension point)."""
    reg = H.HeadingRegistry()
    line = "§ 4 special statutory heading"
    base = spark.createDataFrame([(line,)], ["line"])
    before = base.select(
        H.detect_heading_expr(F.col("line"), reg).alias("h")
    ).head()["h"]
    assert before is None

    reg.add_strategy(
        "statute",
        lambda clean: F.when(
            clean.startswith("§"), F.lit(0.95)
        ).otherwise(F.lit(0.0)),
    )
    after = base.select(
        H.detect_heading_expr(F.col("line"), reg).alias("h")
    ).head()["h"]
    assert after == line

    with pytest.raises(TypeError):
        reg.add_strategy("bad", "not-a-callable")


def test_custom_registry_changes_section_titles(spark):
    """End-to-end: the registry threads through sections_df and changes
    the titles of uncovered-page sections.  The crafted page starts with
    a line NO default strategy matches, followed by a statute marker only
    the registered third-party strategy recognizes — so the default run
    falls back to the first line while the custom run titles the section
    with the statute heading."""
    from pdf_parser_spark.operators import sections as S
    from pdf_parser_spark.schemas import TOC_OUT

    content = "boring lowercase line\n§ 4 special statutory heading\nrest"
    pages = spark.createDataFrame(
        [("d1", 1, 1, "boring lowercase line", content)],
        ["doc_id", "page", "total_pages", "text", "content"],
    )
    meta = spark.createDataFrame([("d1", "T")], ["doc_id", "doc_title"])
    toc = spark.createDataFrame([], TOC_OUT).withColumn(
        "entry_order", F.lit(1)
    )

    def title_with(reg):
        rows = S.sections_df(
            S.sections_preorder_df(pages, toc, meta, heading_registry=reg)
        ).collect()
        assert len(rows) == 1
        return rows[0].title

    assert title_with(None) == "boring lowercase line"  # shape fallback

    statute = H.HeadingRegistry()
    statute.add_strategy(
        "statute",
        lambda clean: F.when(
            clean.startswith("§"), F.lit(0.95)
        ).otherwise(F.lit(0.0)),
    )
    assert title_with(statute) == "§ 4 special statutory heading"
