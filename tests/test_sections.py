"""Spark ↔ oracle parity for full section assembly (J2/J3/J5, W1/W5,
F7/F8, X21-X25) — the end-to-end tail of the pipeline."""

import pytest

from pdf_parser_spark.operators import metadata as M
from pdf_parser_spark.operators import pages as P
from pdf_parser_spark.operators import sections as S
from pdf_parser_spark.operators import toc as T


def test_sections_parity(docs_df, oracle_results, tmp_path):
    flat = P.explode_spans(docs_df)
    valid = P.valid_spans(flat)
    pages = P.pages_df(valid)
    meta = M.metadata_df(docs_df, pages)
    toc = T.toc_entries_df(pages, meta, str(tmp_path))
    rows = S.sections_df(pages, toc, meta, str(tmp_path)).collect()

    got = {}
    for r in rows:
        got.setdefault(r.doc_id, []).append(r)

    n_sections = 0
    for doc_id, res in oracle_results.items():
        want = [
            (
                s["doc_title"],
                s["section_id"],
                s["title"],
                s["full_path"],
                s["page"],
                s["level"],
                s["parent_id"],
                s["content"],
                tuple(s["tags"]),
            )
            for s in res["sections"]
        ]
        have = sorted(got.get(doc_id, []), key=lambda r: r.order)
        have = [
            (
                r.doc_title,
                r.section_id,
                r.title,
                r.full_path,
                r.page,
                r.level,
                r.parent_id,
                r.content,
                tuple(r.tags),
            )
            for r in have
        ]
        assert have == want, (
            f"sections mismatch for {doc_id} "
            f"(spark={len(have)} oracle={len(want)}):\n"
            f" first diff: "
            f"{next(((a, b) for a, b in zip(have, want) if a != b), None)}"
        )
        n_sections += len(want)
    assert n_sections > 60


@pytest.mark.parametrize(
    "normalize_html,to_output",
    [(False, False), (True, False), (False, True), (True, True)],
    ids=["False", "True", "False-output", "True-output"],
)
def test_pipeline_unpersist_releases_all_internal_caches(
    spark, docs_df, normalize_html, to_output, tmp_path
):
    """run_pipeline has one stage boundary, the durable write-then-read
    (sources.tables.write_and_read): it persists nothing, so a
    long-lived job running many pipeline slices has no executor storage
    to release, and none of its seven tables plans from an in-memory
    relation.  The stage tables and the operators' internal ones (toc
    feats/primary, page_sections, the W5 pre-order union, plus the html
    rewrite) are the only things it leaves, all under ``stage_ref``.

    The ``-output`` cases drive the CLI's ``--output`` path instead, which
    passes its output as the ``stage_ref`` and writes spans_out,
    quarantine and metrics beside the stage tables."""
    from pdf_parser_spark.__main__ import main
    from pdf_parser_spark.pipeline import read_documents, run_pipeline

    # an uncached scan of the corpus: the session fixture is cached
    docs_df.write.parquet(str(tmp_path / "in"))
    stage_ref = tmp_path / "stage"
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    before = {int(k) for k in jmap.keySet().toArray()}
    tables = ("spans_out", "quarantine", "pages", "metadata", "toc",
              "sections", "metrics")
    if to_output:
        counts = main(
            ["--mode", "pipeline", "--input", str(tmp_path / "in"),
             "--output", str(stage_ref)]
            + (["--normalize-html"] if normalize_html else []),
            spark=spark,
        )
        assert set(counts) == set(tables)
        frames = {n: spark.read.parquet(str(stage_ref / n)) for n in tables}
    else:
        res = run_pipeline(read_documents(spark, str(tmp_path / "in")),
                           str(stage_ref), normalize_html=normalize_html)
        res.metrics.count()
        frames = {n: getattr(res, n) for n in tables}
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    after = {int(k) for k in jmap.keySet().toArray()}
    # subset, not equality: the JVM ContextCleaner may asynchronously
    # drop GC'd caches from EARLIER tests between the two snapshots
    assert after <= before, f"persisted: {sorted(after - before)}"
    for name, df in frames.items():
        plan = df._jdf.queryExecution().optimizedPlan()
        assert "InMemoryRelation" not in plan.toString(), name
    assert {p.name for p in stage_ref.iterdir()} == {
        "pages", "metadata", "toc", "sections", "_toc_feats",
        "_toc_primary", "_page_sections", "_sections_preorder",
    } | ({"_html_rewrite"} if normalize_html else set()) | (
        {"spans_out", "quarantine", "metrics"} if to_output else set()
    )
