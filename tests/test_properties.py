"""Property-based parity tests (hypothesis): the fixture corpus and the
goldens pin known inputs; these pin the CLAIMED semantics over generated
ones — Python-string parity of the exprs helpers, level/parent string
algebra, SimHash pigeonhole completeness, and the north-rule span
reassembly against the oracle on arbitrary (valid + malformed) spans.

All tests are derandomized (fixed example stream) so a driver/CI run
never flakes on a fresh random seed; deadlines are off because each
example runs a small Spark job.
"""

import tempfile

import pandas as pd
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

from pdf_parser_spark.operators import exprs as E
from pdf_parser_spark.operators import pages as P
from pdf_parser_spark.oracle import refsem
from pdf_parser_spark.schemas import DOCUMENTS_SPANS

SETTINGS = dict(
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)

# every codepoint CPython str.isspace() accepts, as a generator alphabet
PY_WS = (
    "\t\n\v\f\r\x1c\x1d\x1e\x1f \x85\xa0 "
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "    　"
)
ALPHABET = "abXZ0189.,:-()/É中ß" + PY_WS

texts = st.text(alphabet=ALPHABET, max_size=40)


def test_ws_class_equals_python_isspace_over_bmp(spark):
    """The _WS Java-regex class matches EXACTLY the codepoints Python's
    str.strip()/str.isspace() treats as whitespace — swept over the full
    BMP (surrogates excluded), evaluated through Spark, not Python re."""
    chars = [
        (cp, chr(cp))
        for cp in range(0x10000)
        if not 0xD800 <= cp <= 0xDFFF
    ]
    df = spark.createDataFrame(chars, "cp INT, ch STRING")
    got = {
        r.cp
        for r in df.filter(E.is_blank(F.col("ch"))).select("cp").collect()
    }
    want = {cp for cp, ch in chars if ch.isspace()}
    assert got == want, f"±{sorted(got ^ want)[:20]}"


@settings(max_examples=15, **SETTINGS)
@given(st.lists(texts, min_size=1, max_size=24))
def test_strip_words_parity(spark, strings):
    df = spark.createDataFrame([(s,) for s in strings], "s STRING")
    rows = df.select(
        "s",
        E.py_strip(F.col("s")).alias("stripped"),
        E.non_blank(F.col("s")).alias("nb"),
        E.word_count(F.col("s")).alias("wc"),
        E.words(F.col("s")).alias("ws"),
    ).collect()
    for r in rows:
        assert r.stripped == r.s.strip()
        assert bool(r.nb) == bool(r.s.strip())
        assert r.wc == len(r.s.split())
        assert r.ws == r.s.split()


section_ids = st.one_of(
    st.none(),
    st.text(alphabet="0123456789.ABx", max_size=12),
)


@settings(max_examples=15, **SETTINGS)
@given(st.lists(section_ids, min_size=1, max_size=24))
def test_level_parent_parity(spark, ids):
    df = spark.createDataFrame([(i,) for i in ids], "sid STRING")
    rows = df.select(
        "sid",
        E.section_level(F.col("sid")).alias("lvl"),
        E.section_parent(F.col("sid")).alias("par"),
    ).collect()
    for r in rows:
        assert r.lvl == refsem.calc_level(r.sid), r.sid
        assert r.par == refsem.parent_id_of(r.sid), r.sid


@settings(max_examples=6, **SETTINGS)
@given(
    st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta power cable".split()),
            min_size=3,
            max_size=12,
        ).map(" ".join),
        min_size=2,
        max_size=8,
        unique=True,
    )
)
def test_simhash_pairs_complete_within_radius(spark, docs):
    """Pigeonhole completeness: candidate pairs == ALL pairs within the
    Hamming radius (brute force over the same fingerprints)."""
    from pdf_parser_spark.functions import dedup as D

    df = spark.createDataFrame(
        [(f"d{i}", t) for i, t in enumerate(docs)], "doc_id STRING, text STRING"
    )
    with tempfile.TemporaryDirectory() as stage_ref:
        got = {
            (r.id_a, r.id_b)
            for r in D.simhash_candidate_pairs(
                df, stage_ref, max_hamming=3
            ).collect()
        }
    fps = {
        r.doc_id: (r.fp.hi, r.fp.lo)
        for r in df.select(
            "doc_id", D.simhash64(F.col("text")).alias("fp")
        ).collect()
    }

    def ham(a, b):
        return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")

    ids = sorted(fps)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if ham(fps[a], fps[b]) <= 3
    }
    assert got == want


span_tuples = st.tuples(
    st.sampled_from(
        ["text", "heading", "table", "image", "figure", "layout_line",
         "annotation", "page_break", "blob", None]
    ),
    st.one_of(st.none(), texts),
    st.one_of(st.none(), st.just("media/ref-1")),
    st.one_of(st.none(), st.integers(min_value=-3, max_value=60)),
)


@settings(max_examples=8, **SETTINGS)
@given(st.lists(st.lists(span_tuples, max_size=10), min_size=1, max_size=4))
def test_span_sequence_matches_oracle_on_arbitrary_spans(spark, docs):
    """North-rule invariant, property form: for ARBITRARY spans —
    unknown kinds, null/negative offsets, blank/unicode text — the Spark
    W2 reassembly emits exactly the oracle's (kind, text, media_ref,
    order) sequence per document, and quarantines the same span count."""
    rows = [(f"d{i}", spans) for i, spans in enumerate(docs)]
    df = spark.createDataFrame(rows, DOCUMENTS_SPANS)
    flat = P.explode_spans(df)
    got: dict = {}
    for r in P.span_sequence_df(P.valid_spans(flat)).collect():
        got.setdefault(r.doc_id, []).append(
            (r.order, r.kind, r.text, r.media_ref)
        )
    quar = {
        r.doc_id: r.n
        for r in P.quarantine_df(flat)
        .groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    for doc_id, spans in rows:
        res = refsem.run_document(
            {
                "doc_id": doc_id,
                "spans": [
                    {"kind": k, "text": t, "media_ref": m, "offset": o}
                    for k, t, m, o in spans
                ],
            }
        )
        want = [
            (s["order"], s["kind"], s["text"], s["media_ref"])
            for s in res["spans_out"]
        ]
        assert sorted(got.get(doc_id, [])) == sorted(want), doc_id
        assert quar.get(doc_id, 0) == len(res["quarantine"]), doc_id


html_chunks = st.text(
    alphabet="ab <>/=\"'pdiv!-&;" + PY_WS, max_size=60
)
html_span_tuples = st.tuples(
    st.sampled_from(["text", "html", "image", "page_break", None]),
    st.one_of(st.none(), html_chunks),
    st.one_of(st.none(), st.just("media/ref-1")),
    st.one_of(st.none(), st.integers(min_value=-3, max_value=60)),
)


@settings(max_examples=8, **SETTINGS)
@given(st.lists(st.lists(html_span_tuples, max_size=8), min_size=1,
                max_size=3))
# an html span with a NULL offset (must pass through as NULL)
@example([[("html", "<p>" + " ".join(["ab"] * 12) + "</p>", None, None)]])
def test_normalize_html_flat_invariants(spark, docs):
    """For ARBITRARY spans — malformed/truncated markup, null text,
    null kinds, null offsets — inline normalization (a) never invents a
    span slot, and only ever drops HTML slots whose strip is pure
    boilerplate (matching the ingest path's array removal — ADVICE r3);
    (b) passes every non-html row through byte-identical; (c) rewrites
    every surviving html row to kind='text' with NON-EMPTY text at the
    same (media_ref, offset); (d) is idempotent; and (e) for every doc
    that keeps a span, ingest-time strip_html_spans re-exploded holds
    the same spans in the same order."""
    from pdf_parser_spark.functions.boilerplate import (
        normalize_html_flat,
        strip_html_spans,
    )

    rows = [(f"d{i}", spans) for i, spans in enumerate(docs)]
    df = spark.createDataFrame(rows, DOCUMENTS_SPANS)
    flat = P.explode_spans_raw(df)
    out = normalize_html_flat(flat)

    src = {(r.doc_id, r.seq): r for r in flat.collect()}
    got = {(r.doc_id, r.seq): r for r in out.collect()}
    assert set(got) <= set(src)  # never invents a slot
    for key, s in src.items():
        if key not in got:  # dropped ⇒ html that stripped to nothing
            assert s.kind == "html"
            continue
        g = got[key]
        if s.kind == "html":
            assert g.kind == "text" and g.text  # non-null, non-empty
            assert (g.media_ref, g.offset) == (s.media_ref, s.offset)
        else:
            assert (g.kind, g.text, g.media_ref, g.offset) == (
                s.kind, s.text, s.media_ref, s.offset
            )
    again = {
        (r.doc_id, r.seq): r
        for r in normalize_html_flat(out).collect()
    }
    assert {
        k: (v.kind, v.text, v.media_ref, v.offset)
        for k, v in again.items()
    } == {
        k: (v.kind, v.text, v.media_ref, v.offset)
        for k, v in got.items()
    }

    def by_doc(rows):
        per_doc: dict = {}
        for r in sorted(rows, key=lambda r: (r.doc_id, r.seq)):
            per_doc.setdefault(r.doc_id, []).append(
                (r.kind, r.text, r.media_ref, r.offset)
            )
        return per_doc

    kept = by_doc(got.values())
    ingest = by_doc(P.explode_spans_raw(strip_html_spans(df)).collect())
    assert {d: ingest[d] for d in kept} == kept
