"""Spark ↔ oracle parity for quarantine, page derivation, W2 reassembly,
and comprehensive content assembly (the north-rule invariant)."""

from pdf_parser_spark.operators import pages as P


def _flat(docs_df):
    return P.explode_spans(docs_df)


def test_quarantine_parity(docs_df, oracle_results):
    got = {
        (r["doc_id"], r["span_seq"], r["error_kind"])
        for r in P.quarantine_df(_flat(docs_df)).collect()
    }
    want = {
        (doc_id, q["span_seq"], q["error_kind"])
        for doc_id, res in oracle_results.items()
        for q in res["quarantine"]
    }
    assert got == want


def test_span_sequence_parity(docs_df, oracle_results):
    """Exact (kind, text, media_ref, order) per-doc equality — the
    BASELINE.json correctness invariant."""
    rows = P.span_sequence_df(P.valid_spans(_flat(docs_df))).collect()
    got = {}
    for r in rows:
        got.setdefault(r.doc_id, []).append(r)
    n_docs_with_output = 0
    for doc_id, res in oracle_results.items():
        want = [
            (s["kind"], s["text"], s["media_ref"], s["order"], s["seq"],
             s["page"])
            for s in res["spans_out"]
        ]
        have = sorted(got.get(doc_id, []), key=lambda r: r.order)
        have = [
            (r.kind, r.text, r.media_ref, r.order, r.seq, r.page)
            for r in have
        ]
        assert have == want, f"span sequence mismatch for {doc_id}"
        if want:
            n_docs_with_output += 1
    assert n_docs_with_output > 10  # corpus actually exercises the op


def test_pages_parity(docs_df, oracle_results):
    rows = P.pages_df(P.valid_spans(_flat(docs_df))).collect()
    got = {(r.doc_id, r.page): r for r in rows}
    from pdf_parser_spark.oracle import refsem

    n_pages = 0
    for doc_id, res in oracle_results.items():
        for pg in res["pages"]:
            r = got[(doc_id, pg["page"])]
            assert r.text == pg["text"], (doc_id, pg["page"])
            assert r.content == refsem.comprehensive_page_content(pg), (
                doc_id,
                pg["page"],
            )
            assert r.total_pages == len(res["pages"])
            n_pages += 1
        # spark must not invent extra pages
        spark_pages = {p for (d, p) in got if d == doc_id}
        assert spark_pages == {pg["page"] for pg in res["pages"]}
    assert n_pages > 50


def test_pages_skip_null_doc_ids(spark):
    """The spans of a NULL doc_id are ``null_doc_id`` quarantine rows,
    one per span, so they give no pages rows.  Every other row is the
    row the corpus without those docs gives (the
    ``test_metrics_edge_doc_ids`` corpus: two NULL ids and a duplicated
    id)."""
    from pyspark.sql.types import StringType, StructField, StructType

    from pdf_parser_spark.fixtures.gen import fixture_corpus, to_rows
    from pdf_parser_spark.schemas import DOCUMENTS_SPANS

    corpus = fixture_corpus(4, mega_spans=200)
    schema = StructType([
        StructField("doc_id", StringType(), True),
        DOCUMENTS_SPANS["spans"],
    ])
    keyed = corpus + [corpus[0]]
    nulls = [dict(corpus[1], doc_id=None), dict(corpus[2], doc_id=None)]

    def frame(docs):
        return spark.createDataFrame(list(to_rows(docs)), schema)

    def pages(docs):
        df = frame(docs)
        return sorted(
            map(tuple, P.pages_df(P.valid_spans(_flat(df))).collect()),
            key=repr,
        )

    quarantined = P.quarantine_df(_flat(frame(nulls))).collect()
    assert len(quarantined) == sum(len(d["spans"]) for d in nulls)
    assert {(r.doc_id, r.error_kind) for r in quarantined} == {
        (None, "null_doc_id")
    }
    got = pages(keyed + nulls)
    assert not [r for r in got if r[0] is None]
    assert got == pages(keyed)
