"""The pipeline's stage scheduler (pipeline.run_stages): graph-order
check and failure propagation."""

import threading

import pytest

from pdf_parser_spark import pipeline as PL


def _stage_threads():
    return [t for t in threading.enumerate()
            if t.name.startswith("pipeline-stage")]


def test_run_stages_rejects_a_stage_before_its_inputs():
    graph = [PL.Stage("b", ("a",), lambda a: a), PL.Stage("a", (), None)]
    with pytest.raises(ValueError, match="'b'"):
        PL.run_stages(None, graph)


def test_failing_stage_reraises_and_keeps_completed_tables(
    spark, docs_df, tmp_path, monkeypatch
):
    """A stage that raises: run_pipeline re-raises that exception, no
    stage thread outlives the call, and the tables of the stages that
    completed before it stay; nothing downstream of it is written."""
    from pdf_parser_spark.operators import toc as toc_op

    class Boom(RuntimeError):
        pass

    def fail(*args, **kwargs):
        raise Boom("toc stage failed")

    monkeypatch.setattr(toc_op, "toc_entries_df", fail)
    stage_ref = tmp_path / "stage"
    assert not _stage_threads()
    with pytest.raises(Boom, match="toc stage failed"):
        PL.run_pipeline(docs_df, str(stage_ref))
    assert not _stage_threads()
    assert {p.name for p in stage_ref.iterdir()} == {"pages", "metadata"}
    pages = spark.read.parquet(str(stage_ref / "pages"))
    assert pages.count() > 0
