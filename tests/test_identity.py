"""The identity rule through the real ``run_pipeline``: a NULL doc_id is
quarantined at explode and reaches no other table, and a doc_id listed
twice is one document in every table."""

from collections import Counter

from pyspark.sql.types import StringType, StructField, StructType

from pdf_parser_spark.fixtures.gen import to_rows
from pdf_parser_spark.pipeline import PipelineResult, run_pipeline
from pdf_parser_spark.schemas import DOCUMENTS_SPANS

TABLES = ("quarantine", "spans_out", "pages", "metadata", "toc",
          "sections", "metrics")
LONG = " ".join(f"word{i}" for i in range(15))


def _run(spark, docs, stage_ref) -> PipelineResult:
    schema = StructType([
        StructField("doc_id", StringType(), True),
        DOCUMENTS_SPANS["spans"],
    ])
    df = spark.createDataFrame(list(to_rows(docs)), schema)
    return run_pipeline(df, stage_ref, normalize_html=True)


def _rows(result: PipelineResult) -> dict:
    return {t: getattr(result, t).collect() for t in TABLES}


def test_null_and_duplicated_doc_ids_follow_one_identity_rule(
    spark, corpus, tmp_path
):
    dup = corpus[0]["doc_id"]
    malformed = [
        corpus[0],
        {"doc_id": None, "spans": [
            {"kind": "text", "text": "intro", "media_ref": None, "offset": 0},
            {"kind": "html", "text": f"<p>{LONG}</p>", "media_ref": None,
             "offset": 1},
        ]},
        {"doc_id": None, "spans": []},
    ]
    got = _rows(_run(spark, corpus + malformed, str(tmp_path / "bad")))
    base = _rows(_run(spark, corpus, str(tmp_path / "base")))

    for t in TABLES:
        if t != "quarantine":
            assert not [r for r in got[t] if r.doc_id is None], t
    nulls = [
        (r.span_seq, r.error_kind, r.error_detail)
        for r in got["quarantine"] if r.doc_id is None
    ]
    assert sorted(nulls, key=repr) == sorted([
        (0, "null_doc_id", "doc_id is NULL"),
        (1, "null_doc_id", "doc_id is NULL"),
        (None, "null_doc_id", "doc_id is NULL"),
    ], key=repr)

    ids = {d["doc_id"] for d in corpus}
    for t in ("metadata", "metrics"):
        assert sorted(r.doc_id for r in got[t]) == sorted(ids), t
    toc_keys = Counter((r.doc_id, r.entry_order) for r in got["toc"])
    assert toc_keys and max(toc_keys.values()) == 1
    assert any(r.doc_id == dup for r in got["toc"])

    def others(rows):
        return sorted(
            (tuple(r) for r in rows if r.doc_id not in (None, dup)),
            key=repr,
        )

    for t in TABLES:
        assert others(got[t]) == others(base[t]), t
