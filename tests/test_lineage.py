"""Resume/idempotency: kill after wave k, re-run, assert completed
buckets are skipped and the final output is complete with no duplicates
(SURVEY.md §5 resume test)."""

import shutil
import tempfile

import pytest

from pdf_parser_spark.streaming import lineage as L


def test_resume_after_failure(spark, docs_df, oracle_results):
    out_dir = tempfile.mkdtemp(prefix="lineage_", dir="/root/repo")
    try:
        # first run dies after 1 of 2 waves (8 of 16 buckets done)
        with pytest.raises(RuntimeError, match="injected failure"):
            L.run_resumable(
                spark, docs_df, out_dir, run_id="r1",
                n_buckets=16, wave_size=8, fail_after_waves=1,
            )
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


def test_resumable_dedup_skips_signature_recompute(spark):
    """Kill the dedup job between the signatures stage and the pair
    join; the resume must (a) NOT rewrite the signatures stage table —
    the md5 fold is the expensive pass — and (b) produce candidate
    pairs identical to an unkilled in-memory run (oracle-equal)."""
    import os

    from pyspark.sql import functions as F

    from pdf_parser_spark.functions import dedup as dd

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(f"d{i}", f"{base} suffix{i // 2}") for i in range(10)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out_dir = tempfile.mkdtemp(prefix="lineage_dedup_", dir="/root/repo")
    try:
        with pytest.raises(RuntimeError, match="injected failure"):
            L.run_resumable_dedup(
                spark, docs, out_dir, run_id="k1",
                n_hashes=8, k=3, n_bands=2, fail_after_stages=1,
            )
        assert L.completed_buckets(
            spark, out_dir, L.DEDUP_LINEAGE_SUBDIR
        ) == {0}
        sig_dir = f"{out_dir}/signatures"
        mtimes = {
            f: os.path.getmtime(os.path.join(sig_dir, f))
            for f in os.listdir(sig_dir)
        }

        summary = L.run_resumable_dedup(
            spark, docs, out_dir, run_id="k2",
            n_hashes=8, k=3, n_bands=2,
        )
        assert summary["skipped_stages"] == [0]
        # signatures stage table untouched by the resume
        assert mtimes == {
            f: os.path.getmtime(os.path.join(sig_dir, f))
            for f in os.listdir(sig_dir)
        }

        got = {
            (r.id_a, r.id_b)
            for r in spark.read.parquet(f"{out_dir}/pairs").collect()
        }
        want = {
            (r.id_a, r.id_b)
            for r in dd.lsh_candidate_pairs(
                docs, f"{out_dir}/unkilled", n_hashes=8, k=3, n_bands=2
            ).select("id_a", "id_b").collect()
        }
        assert got == want and len(want) > 0

        # a THIRD run over the finished state is a pure no-op
        summary3 = L.run_resumable_dedup(
            spark, docs, out_dir, run_id="k3",
            n_hashes=8, k=3, n_bands=2,
        )
        assert summary3["skipped_stages"] == [0, 1]
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def test_dedup_lineage_namespaced_from_pipeline_lineage(spark, docs_df):
    """Both runners pointed at ONE out_dir must not alias lineage rows:
    the pipeline runner records bucket ids 0..N-1 and the dedup runner
    records stage ordinals 0/1 under the same partition_id column — a
    shared table would make finished pipeline buckets silently mark
    dedup stages as done (and vice versa)."""
    from pyspark.sql import functions as F

    out_dir = tempfile.mkdtemp(prefix="lineage_shared_", dir="/root/repo")
    try:
        L.run_resumable(
            spark, docs_df, out_dir, run_id="p1",
            n_buckets=4, wave_size=4,
        )
        # pipeline buckets 0..3 are done — the dedup runner must still
        # see ZERO completed stages (no aliasing via partition_id 0/1)
        assert L.completed_buckets(spark, out_dir) == {0, 1, 2, 3}
        assert (
            L.completed_buckets(spark, out_dir, L.DEDUP_LINEAGE_SUBDIR)
            == set()
        )

        texts = docs_df.select(
            "doc_id",
            F.array_join(
                F.transform(
                    "spans", lambda s: F.coalesce(s["text"], F.lit(""))
                ),
                " ",
            ).alias("text"),
        )
        summary = L.run_resumable_dedup(
            spark, texts, out_dir, run_id="d1",
            n_hashes=8, k=3, n_bands=2,
        )
        assert summary["skipped_stages"] == []  # nothing falsely done
        # and the dedup run did not contaminate the pipeline lineage
        assert L.completed_buckets(spark, out_dir) == {0, 1, 2, 3}
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
    sc = spark.sparkContext
    group = "test-lineage-read"
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    sc.setJobGroup(group, "lineage read")
    try:
        assert L.completed_buckets(spark, str(tmp_path)) == {3}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set(key, prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
