"""Spark ↔ oracle parity for full section assembly (J2/J3/J5, W1/W5,
F7/F8, X21-X25) — the end-to-end tail of the pipeline."""

import shutil
import tempfile
from pathlib import Path

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


@pytest.mark.parametrize(
    "normalize_html,to_tables",
    [(False, False), (True, False), (False, True), (True, True)],
    ids=["False", "True", "False-output", "True-output"],
)
def test_pipeline_unpersist_releases_all_internal_caches(
    spark, docs_df, normalize_html, to_tables
):
    """Every persist() taken inside run_pipeline — the stage tables and
    the operators' internal caches (html rewrite, toc feats/primary,
    page_sections, the W5 pre-order union) — must be registered in
    PipelineResult.cached so unpersist() returns the executor storage
    to its prior state — a long-lived cluster job running many pipeline
    slices must not accumulate stage caches (MEMORY_AND_DISK evicts
    from memory but pins disk until unpersist).

    With an output ref the four stage tables are written and read back
    instead: only the operator internals are persisted, and the frames
    metrics is built from plan as file scans, not cached relations."""
    from pdf_parser_spark.pipeline import run_pipeline

    tmp = tempfile.mkdtemp(prefix="main_",
                           dir=Path(__file__).resolve().parents[1])
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        before = {int(k) for k in jmap.keySet().toArray()}
        res = run_pipeline(docs_df, cache=True, normalize_html=normalize_html,
                           output=f"{tmp}/out" if to_tables else None)
        res.sections.count()  # drive the W5 cached flow
        # feats, primary, page_sections, union (+ the html rewrite), and
        # without an output ref pages, metadata, toc, sections
        assert len(res.cached) == 4 + normalize_html + 4 * (not to_tables)
        for df in (res.pages, res.metadata, res.toc, res.sections):
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert ("InMemoryRelation" in plan) != to_tables, plan[:500]
        res.unpersist()
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        after = {int(k) for k in jmap.keySet().toArray()}
        # subset, not equality: the JVM ContextCleaner may asynchronously
        # drop GC'd caches from EARLIER tests between the two snapshots —
        # the property under test is only that nothing run_pipeline
        # created survives its unpersist()
        assert after <= before, f"leaked cache ids: {sorted(after - before)}"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
