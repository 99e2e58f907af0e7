"""Generator tests: ``python3 -m pytest perfbench/test_corpus.py -q``."""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pytest  # noqa: E402

import corpus  # noqa: E402

@pytest.fixture(scope="module")
def built():
    return {name: corpus.build_corpus(wl, 7)
            for name, wl in corpus.WORKLOADS.items()}


def _digest(docs, path):
    corpus.write_parquet(docs, str(path))
    return corpus.files_digest(str(path))


@pytest.mark.parametrize("name", sorted(corpus.WORKLOADS))
def test_same_seed_same_digest(built, name, tmp_path):
    again = corpus.build_corpus(corpus.WORKLOADS[name], 7)
    assert (_digest(again, tmp_path / "a")
            == _digest(built[name], tmp_path / "b"))


@pytest.mark.parametrize("name", sorted(corpus.WORKLOADS))
def test_other_seed_other_digest(built, name, tmp_path):
    other = corpus.build_corpus(corpus.WORKLOADS[name], 8)
    assert (_digest(other, tmp_path / "a")
            != _digest(built[name], tmp_path / "b"))


def test_mega_docs_only_in_web_mega(built):
    web = corpus.WORKLOADS["web_mega"]

    def n_mega(docs, threshold):
        return sum(1 for d in docs if len(d["spans"]) > threshold)

    assert n_mega(built["web_mega"], web.mega_threshold) >= 1
    assert n_mega(built["web_mega"], web.mega_threshold) == web.n_mega
    # no mixed doc is a mega doc under either threshold
    assert n_mega(built["mixed"], corpus.WORKLOADS["mixed"].mega_threshold) == 0
    assert n_mega(built["mixed"], web.mega_threshold) == 0


def test_html_share_of_mixed_mix(built):
    docs = built["mixed"]
    assert sum(map(corpus.has_html, docs)) * 13 == len(docs)


def test_html_share_of_web_mega(built):
    wl = corpus.WORKLOADS["web_mega"]
    regular = built["web_mega"][:wl.n_docs]
    assert sum(map(corpus.has_html, regular)) * 3 == 2 * len(regular)
    assert not any(map(corpus.has_html, built["web_mega"][wl.n_docs:]))


def test_parquet_round_trip(built, tmp_path):
    import pyarrow.parquet as pq

    docs = built["mixed"]
    corpus.write_parquet(docs, str(tmp_path))
    table = pq.read_table(str(tmp_path))
    assert table.num_rows == len(docs)
    ids = table.column("doc_id").to_pylist()
    assert ids == sorted(d["doc_id"] for d in docs)
    first = min(docs, key=lambda d: d["doc_id"])
    assert table.column("spans")[0].as_py() == [
        {k: s.get(k) for k in ("kind", "text", "media_ref", "offset")}
        for s in first["spans"]]
