"""Heading detection: parity with the reference semantics
(refsem.detect_heading / detect_enhanced_heading)."""

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
