"""Spark ↔ oracle parity for metadata extraction (X3) and the full
three-pass TOC pipeline (X1-X13, F4-F6, W3, J4/J6)."""

from pdf_parser_spark.operators import metadata as M
from pdf_parser_spark.operators import pages as P
from pdf_parser_spark.operators import toc as T


def _pages(docs_df):
    return P.pages_df(P.valid_spans(P.explode_spans(docs_df)))


def test_metadata_parity(docs_df, oracle_results):
    pages = _pages(docs_df)
    rows = {r.doc_id: r for r in M.metadata_df(docs_df, pages).collect()}
    assert set(rows) == set(oracle_results)
    mismatches = []
    for doc_id, res in oracle_results.items():
        want = res["metadata"]
        got = rows[doc_id]
        for f in ("doc_title", "revision", "version", "release_date"):
            if getattr(got, f) != want[f]:
                mismatches.append((doc_id, f, getattr(got, f), want[f]))
    assert not mismatches, mismatches[:10]


def test_toc_parity(docs_df, oracle_results):
    pages = _pages(docs_df)
    meta = M.metadata_df(docs_df, pages)
    got = {}
    for r in T.toc_entries_df(T.toc_features_df(pages), meta).collect():
        got.setdefault(r.doc_id, []).append(r)

    n_entries = 0
    for doc_id, res in oracle_results.items():
        want = [
            (
                e["doc_title"],
                e["section_id"],
                e["title"],
                e["page"],
                e["level"],
                e["parent_id"],
                e["full_path"],
                tuple(e["tags"]),
            )
            for e in res["toc"]
        ]
        have = sorted(got.get(doc_id, []), key=lambda r: r.entry_order)
        have = [
            (
                r.doc_title,
                r.section_id,
                r.title,
                r.page,
                r.level,
                r.parent_id,
                r.full_path,
                tuple(r.tags),
            )
            for r in have
        ]
        assert have == want, (
            f"TOC mismatch for {doc_id}:\n spark={have}\n oracle={want}"
        )
        n_entries += len(want)
    assert n_entries > 40  # corpus genuinely exercises the parser
