"""spark-submit driver script (pdf_parser_spark/__main__.py)."""

import random
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import Row

from pdf_parser_spark.__main__ import main
from pdf_parser_spark.fixtures.gen import (
    _doc_to_spans, fixture_corpus, html_doc, to_spark_df,
)
from pdf_parser_spark.pipeline import read_documents, run_pipeline

ROOT = str(Path(__file__).resolve().parents[1])
TABLES = ("spans_out", "quarantine", "pages", "metadata", "toc",
          "sections", "metrics")


def _rows(df):
    """Order-insensitive, hashable rows: arrays become tuples, so an
    empty array and a NULL stay distinct."""
    def freeze(v):
        return tuple(map(freeze, v)) if isinstance(v, (Row, list)) else v

    return sorted((freeze(r) for r in df.collect()), key=repr)


def test_main_pipeline_mode_writes_all_outputs(spark):
    """The CLI writes each of the seven tables once, with the operators'
    internal stage tables beside them under ``_`` names, and what it
    wrote equals a ``run_pipeline`` result staged elsewhere row for row
    — with and without --normalize-html, over malformed (NULL-text),
    whitespace-only, span-less and raw-html docs: the parquet round trip
    keeps empty arrays apart from NULLs."""
    rng = random.Random(5)
    docs = fixture_corpus(n_docs=8) + [
        _doc_to_spans(html_doc(rng, f"html-{i}"), rng) for i in range(2)
    ]
    assert any(s["text"] is None and s["kind"] == "text"
               for d in docs for s in d["spans"])
    tmp = tempfile.mkdtemp(prefix="main_", dir=ROOT)
    try:
        to_spark_df(spark, docs).write.parquet(f"{tmp}/in")
        for normalize_html in (False, True):
            out = f"{tmp}/out_{normalize_html}"
            counts = main(
                ["--mode", "pipeline", "--input", f"{tmp}/in",
                 "--output", out]
                + ["--normalize-html"] * normalize_html,
                spark=spark,
            )
            assert set(counts) == set(TABLES)
            assert counts["spans_out"] > 0 and counts["metrics"] > 0
            assert {p.name for p in Path(out).iterdir()} == set(TABLES) | {
                "_toc_feats", "_toc_primary", "_page_sections",
                "_sections_preorder",
            } | ({"_html_rewrite"} if normalize_html else set())
            want = run_pipeline(read_documents(spark, f"{tmp}/in"),
                                f"{tmp}/want_{normalize_html}",
                                normalize_html=normalize_html)
            for name in TABLES:
                got = spark.read.parquet(f"{out}/{name}")
                exp = getattr(want, name)
                assert got.columns == exp.columns, name
                rows = _rows(got)
                assert len(rows) == counts[name], name
                assert rows == _rows(exp), name
            tags = [r.tags for r in want.sections.collect()]
            assert [] in tags and None not in tags
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_main_resume_mode_summary(spark):
    tmp = tempfile.mkdtemp(prefix="main_", dir=ROOT)
    try:
        to_spark_df(spark, fixture_corpus(n_docs=6)).write.parquet(
            f"{tmp}/in"
        )
        summary = main(
            ["--mode", "resume", "--input", f"{tmp}/in",
             "--output", f"{tmp}/out"],
            spark=spark,
        )
        assert isinstance(summary, dict) and summary
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_main_bucketize_then_pipeline_from_table(spark):
    """bucketize writes the doc_id-bucketed catalog table; pipeline mode
    reads it back via the table: ref and produces the same spans_out
    count as the parquet path."""
    tmp = tempfile.mkdtemp(prefix="main_", dir=ROOT)
    try:
        to_spark_df(spark, fixture_corpus(n_docs=8)).write.parquet(
            f"{tmp}/in"
        )
        summary = main(
            ["--mode", "bucketize", "--input", f"{tmp}/in",
             "--output", "table:docs_bucketed_cli_test",
             "--buckets", "4", "--table-path", f"{tmp}/bucketed"],
            spark=spark,
        )
        # row-complete: every raw row (incl. malformed docs the fixture
        # plants for the quarantine path) survives the re-layout
        assert summary["docs"] == spark.read.parquet(f"{tmp}/in").count()
        counts = main(
            ["--mode", "pipeline",
             "--input", "table:docs_bucketed_cli_test",
             "--output", f"{tmp}/out"],
            spark=spark,
        )
        baseline = main(
            ["--mode", "pipeline", "--input", f"{tmp}/in",
             "--output", f"{tmp}/out_plain"],
            spark=spark,
        )
        assert counts == baseline
    finally:
        spark.sql("DROP TABLE IF EXISTS docs_bucketed_cli_test")
        shutil.rmtree(tmp, ignore_errors=True)


def test_main_bucketize_normalize_html(spark):
    """bucketize --normalize-html strips raw-HTML spans during the
    one-time re-layout: the bucketed table holds pre-normalized docs, so
    a plain (no-flag) pipeline over it quarantines nothing as
    unknown_kind and emits the stripped content."""
    rng = random.Random(31)
    docs = [_doc_to_spans(html_doc(rng, f"bh-{i}"), rng) for i in range(3)]
    tmp = tempfile.mkdtemp(prefix="main_nh_", dir=ROOT)
    try:
        to_spark_df(spark, docs).write.parquet(f"{tmp}/in")
        summary = main(
            ["--mode", "bucketize", "--input", f"{tmp}/in",
             "--output", "table:docs_nh_cli_test",
             "--buckets", "2", "--table-path", f"{tmp}/bucketed",
             "--normalize-html"],
            spark=spark,
        )
        assert summary["docs"] == 3
        tbl = spark.table("docs_nh_cli_test")
        kinds = {
            s.kind for r in tbl.collect() for s in (r.spans or [])
        }
        assert "html" not in kinds and "text" in kinds
        counts = main(
            ["--mode", "pipeline", "--input", "table:docs_nh_cli_test",
             "--output", f"{tmp}/out"],
            spark=spark,
        )
        assert counts["quarantine"] == 0
        texts = [
            r.text for r in spark.read.parquet(f"{tmp}/out/spans_out")
            .collect() if r.text
        ]
        assert any("see also" in t for t in texts)
        assert not any("/privacy" in t for t in texts)
    finally:
        spark.sql("DROP TABLE IF EXISTS docs_nh_cli_test")
        shutil.rmtree(tmp, ignore_errors=True)
