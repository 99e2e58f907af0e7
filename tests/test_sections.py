"""Spark ↔ oracle parity for full section assembly (J2/J3/J5, W1/W5,
F7/F8, X21-X25) — the end-to-end tail of the pipeline."""

import pytest

from pdf_parser_spark.operators import metadata as M
from pdf_parser_spark.operators import pages as P
from pdf_parser_spark.operators import sections as S
from pdf_parser_spark.operators import toc as T


def test_sections_parity(docs_df, oracle_results):
    flat = P.explode_spans(docs_df)
    valid = P.valid_spans(flat)
    pages = P.pages_df(valid)
    meta = M.metadata_df(docs_df, pages)
    cached = []
    toc = T.toc_entries_df(pages, meta, cache=cached)
    rows = S.sections_df(pages, toc, meta, cache=cached).collect()
    for df in cached:
        df.unpersist()

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


@pytest.mark.parametrize("normalize_html", [False, True])
def test_pipeline_unpersist_releases_all_internal_caches(
    spark, docs_df, normalize_html
):
    """Every persist() taken inside run_pipeline — the stage tables and
    the operators' internal caches (html rewrite, toc feats/primary,
    page_sections, the W5 pre-order union) — must be registered in
    PipelineResult.cached so unpersist() returns the executor storage
    to its prior state — a long-lived cluster job running many pipeline
    slices must not accumulate stage caches (MEMORY_AND_DISK evicts
    from memory but pins disk until unpersist)."""
    from pdf_parser_spark.pipeline import run_pipeline

    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    before = {int(k) for k in jmap.keySet().toArray()}
    res = run_pipeline(docs_df, cache=True, normalize_html=normalize_html)
    res.sections.count()  # drive the W5 cached flow
    # pages, metadata, toc, sections + feats, primary, page_sections,
    # union (+ the html rewrite)
    assert len(res.cached) == 8 + normalize_html
    res.unpersist()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    after = {int(k) for k in jmap.keySet().toArray()}
    # subset, not equality: the JVM ContextCleaner may asynchronously
    # drop GC'd caches from EARLIER tests between the two snapshots —
    # the property under test is only that nothing run_pipeline created
    # survives its unpersist()
    assert after <= before, f"leaked cache ids: {sorted(after - before)}"
