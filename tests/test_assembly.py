"""Stateful streaming fragment assembly (applyInPandasWithState):
documents whose span fragments arrive SPLIT across micro-batches are
reassembled in per-doc state and emitted atomically, matching the batch
pipeline's output exactly (SURVEY.md §2.9 custom stateful operator)."""

import shutil
import tempfile

import pandas as pd
import pytest

from pdf_parser_spark.fixtures.gen import fixture_corpus, to_spark_df
from pdf_parser_spark.operators import pages as P
from pdf_parser_spark.oracle import refsem
from pdf_parser_spark.streaming import assembly as A


class FakeState:
    """Minimal GroupState stand-in for direct transition-function tests."""

    def __init__(self, value=None, timed_out=False):
        self._v = value
        self.hasTimedOut = timed_out
        self.timeout_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        if self._v is None:
            raise ValueError("state does not exist")
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def _frag_pdf(rows):
    return pd.DataFrame(
        rows,
        columns=["doc_id", "seq", "total_spans", "kind", "text",
                 "media_ref", "offset"],
    )


def test_assemble_accumulates_without_emitting():
    state = FakeState()
    out = list(
        A.assemble_doc(
            ("d1",),
            iter([_frag_pdf([("d1", 0, 3, "text", "a", None, 0)])]),
            state,
            timeout_ms=1234,
        )
    )
    assert out == []
    assert state.exists
    total, seqs, *_ = state.get
    assert total == 3 and seqs == [0]
    assert state.timeout_ms == 1234  # re-armed on every update


def test_assemble_emits_complete_doc_sorted_and_drops_state():
    state = FakeState(
        value=(3, [2], ["table"], ["t2"], [None], [20])
    )
    # the remaining two fragments arrive out of order in one batch
    pdf = _frag_pdf(
        [
            ("d1", 1, None, "text", "t1", None, 10),
            ("d1", 0, 3, "heading", "t0", None, 0),
        ]
    )
    out = list(A.assemble_doc(("d1",), iter([pdf]), state))
    assert len(out) == 1
    df = out[0]
    assert list(df["seq"]) == [0, 1, 2]
    assert list(df["kind"]) == ["heading", "text", "table"]
    assert set(df["assembly_status"]) == {"complete"}
    assert set(df["n_received"]) == {3} and set(df["total_spans"]) == {3}
    assert not state.exists  # completed key leaves the state store


def test_assemble_timeout_flushes_partial():
    state = FakeState(
        value=(5, [0, 1], ["text", "text"], ["a", "b"], [None, None],
               [0, 5]),
        timed_out=True,
    )
    out = list(A.assemble_doc(("d1",), iter([]), state))
    assert len(out) == 1
    df = out[0]
    assert set(df["assembly_status"]) == {"timeout_partial"}
    assert list(df["seq"]) == [0, 1]
    assert set(df["n_received"]) == {2} and set(df["total_spans"]) == {5}
    assert not state.exists


def test_batch_outputs_quarantine_flagged_and_timed_out_spans(spark):
    """One micro-batch: a completed doc's flagged span and a timed-out
    partial doc's spans are quarantine rows in the five quarantine
    columns; only the completed doc's valid span reaches spans_out."""
    rows = [
        ("p", 0, "text", "first", None, 0, 2, 5, "timeout_partial"),
        ("p", 3, "text", None, None, 3, 2, 5, "timeout_partial"),
        ("c", 0, "text", "fine", None, 0, 2, 2, "complete"),
        ("c", 1, "blob", "odd", None, 1, 2, 2, "complete"),
    ]
    out, q = A.batch_outputs(spark.createDataFrame(rows, A.ASSEMBLED_SCHEMA))
    assert sorted(tuple(r) for r in q.collect()) == [
        ("c", 1, "unknown_kind", "kind=blob", "odd"),
        ("p", 0, "timeout_partial", "received 2 of 5 spans", "first"),
        ("p", 3, "timeout_partial", "received 2 of 5 spans", ""),
    ]
    assert [(r.doc_id, r.text) for r in out.collect()] == [("c", "fine")]


def _fragment_rows(corpus):
    rows = []
    for d in corpus:
        spans = d["spans"] or []
        for i, s in enumerate(spans):
            rows.append(
                (
                    d["doc_id"],
                    i,
                    len(spans),
                    s.get("kind"),
                    s.get("text"),
                    s.get("media_ref"),
                    s.get("offset"),
                )
            )
    return rows


def test_fragment_assembly_cross_batch_equals_batch(spark):
    """Fragments round-robined into 3 files (every doc straddles all
    three), streamed one file per trigger: state must carry partial docs
    across micro-batches, and the final output must equal the reference
    oracle per document — the same invariant the batch path is held to
    — and the quarantine rows must equal the batch path's."""
    tmp = tempfile.mkdtemp(prefix="assembly_", dir="/root/repo")
    try:
        corpus = [d for d in fixture_corpus(n_docs=10) if d["spans"]]
        rows = _fragment_rows(corpus)
        parts = [rows[0::3], rows[1::3], rows[2::3]]
        for i, part in enumerate(parts):
            spark.createDataFrame(part, A.FRAGMENT_SCHEMA).coalesce(
                1
            ).write.mode("append").parquet(f"{tmp}/in")

        A.run_fragment_assembly(
            spark,
            f"{tmp}/in",
            f"{tmp}/out",
            f"{tmp}/quarantine",
            f"{tmp}/ckpt",
            max_files_per_trigger=1,
        )

        got = {}
        for r in spark.read.parquet(f"{tmp}/out").collect():
            got.setdefault(r.doc_id, []).append(
                (r.kind, r.text, r.media_ref, r.order)
            )
        n_checked = 0
        for d in corpus:
            res = refsem.run_document(d)
            want = [
                (s["kind"], s["text"], s["media_ref"], s["order"])
                for s in res["spans_out"]
            ]
            have = sorted(got.get(d["doc_id"], []), key=lambda t: t[3])
            assert have == want, f"assembly mismatch for {d['doc_id']}"
            n_checked += 1
        assert n_checked == len(corpus) > 0
        # the flagged spans of completed docs are the batch path's
        # quarantine rows; nothing timed out in a complete stream
        cols = ["doc_id", "span_seq", "error_kind", "error_detail", "raw"]
        q = spark.read.parquet(f"{tmp}/quarantine").select(*cols)
        want = P.quarantine_df(P.explode_spans(to_spark_df(spark, corpus)))
        want_rows = sorted(tuple(r) for r in want.collect())
        assert sorted(tuple(r) for r in q.collect()) == want_rows
        assert {"bad_offset", "unknown_kind"} <= {r[2] for r in want_rows}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_incomplete_docs_resume_across_invocations(spark):
    """A doc whose fragments have NOT all arrived emits nothing in the
    first availableNow run; its partial state survives in the checkpoint
    and the doc completes when the rest lands in a LATER invocation —
    the streaming twin of lineage.py's resume-without-reprocessing."""
    tmp = tempfile.mkdtemp(prefix="assembly2_", dir="/root/repo")
    try:
        corpus = [
            d for d in fixture_corpus(n_docs=6)
            if d["spans"] and len(d["spans"]) >= 2
        ]
        rows = _fragment_rows(corpus)
        # per-doc split: run 1 sees ONLY each doc's first fragment, so no
        # document can complete before run 2
        first = [r for r in rows if r[1] == 0]
        second = [r for r in rows if r[1] != 0]

        spark.createDataFrame(first, A.FRAGMENT_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(f"{tmp}/in")
        A.run_fragment_assembly(
            spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/quarantine",
            f"{tmp}/ckpt",
        )
        try:
            n1 = spark.read.parquet(f"{tmp}/out").count()
        except Exception:
            n1 = 0  # no doc completed → sink dir may not exist yet
        assert n1 == 0  # every doc is missing half its fragments

        spark.createDataFrame(second, A.FRAGMENT_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(f"{tmp}/in")
        A.run_fragment_assembly(
            spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/quarantine",
            f"{tmp}/ckpt",
        )
        got = {}
        for r in spark.read.parquet(f"{tmp}/out").collect():
            got.setdefault(r.doc_id, []).append(
                (r.kind, r.text, r.media_ref, r.order)
            )
        for d in corpus:
            res = refsem.run_document(d)
            want = [
                (s["kind"], s["text"], s["media_ref"], s["order"])
                for s in res["spans_out"]
            ]
            have = sorted(got.get(d["doc_id"], []), key=lambda t: t[3])
            assert have == want, f"resume mismatch for {d['doc_id']}"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
