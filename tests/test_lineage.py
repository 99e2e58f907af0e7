"""Resume/idempotency: kill after wave k, re-run, assert completed
buckets are skipped and the final output is complete with no duplicates
(SURVEY.md §5 resume test)."""

import shutil
import tempfile

import pytest

from pdf_parser_spark.streaming import lineage as L


def _jobs_by_description(spark, group: str, run):
    """Run ``run()`` in job group ``group`` with AQE off, as perfbench
    runs it (with AQE on, each query stage is a job of its own); return
    its result and the number of jobs per job description.  Jobs the
    caller's thread starts carry the group's description, ``group``."""
    sc = spark.sparkContext
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    sc.setJobGroup(group, group)
    try:
        result = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
        spark.conf.set(key, prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs: dict = {}
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        desc = store.job(job_id).description()
        name = desc.get() if desc.isDefined() else None
        jobs[name] = jobs.get(name, 0) + 1
    return result, jobs


def test_resume_after_failure(spark, docs_df, oracle_results, monkeypatch):
    out_dir = tempfile.mkdtemp(prefix="lineage_", dir="/root/repo")
    real_run_pipeline = L.run_pipeline
    waves = []

    def dies_in_second_wave(*args, **kwargs):
        waves.append(None)
        if len(waves) > 1:
            raise RuntimeError("injected failure in wave 1")
        return real_run_pipeline(*args, **kwargs)

    try:
        # first run dies after 1 of 2 waves (8 of 16 buckets done)
        monkeypatch.setattr(L, "run_pipeline", dies_in_second_wave)
        with pytest.raises(RuntimeError, match="injected failure"):
            L.run_resumable(
                spark, docs_df, out_dir, run_id="r1",
                n_buckets=16, wave_size=8,
            )
        monkeypatch.undo()
        done_after_kill = L.completed_buckets(spark, out_dir)
        assert 0 < len(done_after_kill) <= 8

        # resume: completed buckets must be skipped, the rest processed
        summary = L.run_resumable(
            spark, docs_df, out_dir, run_id="r2",
            n_buckets=16, wave_size=8,
        )
        assert set(summary["skipped_buckets"]) == done_after_kill
        assert not set(summary["processed_buckets"]) & done_after_kill

        # final spans_out is complete and duplicate-free vs the oracle
        rows = spark.read.parquet(f"{out_dir}/spans_out").collect()
        got = {}
        for r in rows:
            got.setdefault(r.doc_id, []).append(
                (r.kind, r.text, r.media_ref, r.order)
            )
        for doc_id, res in oracle_results.items():
            want = [
                (s["kind"], s["text"], s["media_ref"], s["order"])
                for s in res["spans_out"]
            ]
            have = sorted(got.get(doc_id, []), key=lambda t: t[3])
            assert have == want, f"resume output mismatch for {doc_id}"
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def test_resume_rows_equal_pipeline_rows_with_duplicate_doc_id(
    spark, tmp_path
):
    """bucket is re-derived from each output row's doc_id, never joined
    back from the corpus: a doc_id that appears twice must not multiply
    its rows, so the resumable run writes exactly the spans_out and
    sections rows ``run_pipeline`` returns for the same corpus."""
    from pyspark.sql import Row

    from pdf_parser_spark.fixtures.gen import fixture_corpus, to_spark_df
    from pdf_parser_spark.pipeline import run_pipeline

    corpus = fixture_corpus(4)
    docs = to_spark_df(spark, corpus + [corpus[0]])
    want = run_pipeline(docs, str(tmp_path / "want"))
    out_dir = str(tmp_path / "out")
    L.run_resumable(spark, docs, out_dir, n_buckets=4, wave_size=4)

    def rows(df):
        def freeze(v):
            return tuple(map(freeze, v)) if isinstance(v, (Row, list)) else v

        return sorted((freeze(r) for r in df.collect()), key=repr)

    for name in ("spans_out", "sections"):
        exp = getattr(want, name)
        got = spark.read.parquet(f"{out_dir}/{name}").select(*exp.columns)
        assert rows(got) == rows(exp), name


def test_resume_leaves_only_outputs_and_lineage(spark, tmp_path):
    """The last wave's stage tables are dropped once its lineage rows
    commit: the out dir holds the bucketed outputs and the lineage table
    only, and a second call over it still skips every bucket."""
    from pdf_parser_spark.fixtures.gen import fixture_corpus, to_spark_df

    docs = to_spark_df(spark, fixture_corpus(4))
    out_dir = tmp_path / "out"
    first = L.run_resumable(spark, docs, str(out_dir), n_buckets=4,
                            wave_size=2)
    assert first["n_waves"] == 2
    layout = {"spans_out", "sections", L.LINEAGE_SUBDIR}
    assert {p.name for p in out_dir.iterdir()} == layout
    again = L.run_resumable(spark, docs, str(out_dir), n_buckets=4,
                            wave_size=2)
    assert again["skipped_buckets"] == [0, 1, 2, 3]
    assert again["processed_buckets"] == [] and again["n_waves"] == 0
    assert {p.name for p in out_dir.iterdir()} == layout


def test_completed_buckets_reads_lineage_in_one_job(spark, tmp_path):
    """The lineage read pins ``schemas.LINEAGE``: reading the done
    buckets is one job (the collect), with no parquet schema-inference
    job before it.  AQE is off, as perfbench runs it: with AQE on, each
    query stage is a job of its own."""
    import time

    now = time.time()
    L._append_lineage(
        spark, str(tmp_path), [L._lineage_row("r", 3, 1, 1, now, now, {})]
    )
    done, jobs = _jobs_by_description(
        spark, "test-lineage-read",
        lambda: L.completed_buckets(spark, str(tmp_path)),
    )
    assert done == {3}
    assert sum(jobs.values()) == 1
