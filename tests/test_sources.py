"""JSONL source/sink round trip + corrupt-line quarantine (S3/S4/S5/S6)."""

import json
import shutil
import tempfile
from pathlib import Path

from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from pdf_parser_spark.sources import jsonl as J

SCHEMA = StructType(
    [
        StructField("doc_title", StringType()),
        StructField("page", IntegerType()),
    ]
)


def test_read_jsonl_quarantines_bad_lines(spark):
    tmp = tempfile.mkdtemp(prefix="jsonl_", dir="/root/repo")
    try:
        p = Path(tmp) / "in.jsonl"
        lines = [
            json.dumps({"doc_title": "Überblick", "page": 1},
                       ensure_ascii=False),
            "",  # blank → dropped silently (reference behavior)
            "{not valid json",
            json.dumps({"doc_title": "x" * 1_000_100, "page": 2}),
            json.dumps({"doc_title": "ok", "page": 3}),
        ]
        p.write_text("\n".join(lines), encoding="utf-8")
        good, quarantine = J.read_jsonl(spark, str(p), SCHEMA)
        titles = {r.doc_title for r in good.collect()}
        assert titles == {"Überblick", "ok"}
        kinds = sorted(r.error_kind for r in quarantine.collect())
        assert kinds == ["oversize_line", "parse_error"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_write_jsonl_roundtrip_unicode(spark):
    tmp = tempfile.mkdtemp(prefix="jsonl_", dir="/root/repo")
    try:
        df = spark.createDataFrame(
            [("電力供給", 1), ("énergie", 2)], SCHEMA
        )
        n = J.write_jsonl(df, f"{tmp}/out")
        assert n == 2
        raw = ""
        for f in Path(f"{tmp}/out").glob("part-*"):
            raw += f.read_text(encoding="utf-8")
        assert "電力供給" in raw  # ensure_ascii=False parity
        good, quarantine = J.read_jsonl(spark, f"{tmp}/out", SCHEMA)
        assert good.count() == 2 and quarantine.count() == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_write_report(spark):
    tmp = tempfile.mkdtemp(prefix="report_", dir="/root/repo")
    try:
        df = spark.createDataFrame(
            [("Valid", 10, 99.5)],
            ["metadata_status", "total_toc_entries", "coverage"],
        )
        out = J.write_report(df, f"{tmp}/validation_report.xlsx")
        assert Path(out).exists()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_table_ref_parquet_roundtrip(spark, tmp_path):
    from pdf_parser_spark.sources import tables as T

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], ["id", "grp"]
    )
    path = str(tmp_path / "t")
    T.write_table(df, path, partition_by=("grp",))
    back = T.read_table(spark, path)
    assert sorted((r.id, r.grp) for r in back.collect()) == [
        (1, "a"), (2, "b"), (3, "a")
    ]
    # partitionBy materialized as directories (≙ identity partitioning)
    import os

    assert any(d.startswith("grp=") for d in os.listdir(path))


def test_iceberg_ref_requires_runtime(spark):
    """An explicit iceberg: ref must fail loudly when the runtime lacks
    the catalog plugin — never silently fall back to parquet."""
    import pytest

    from pdf_parser_spark.sources import tables as T

    assert T.is_iceberg_ref("iceberg:cat.db.docs")
    assert not T.is_iceberg_ref("/data/docs")
    if T.iceberg_available(spark):
        pytest.skip("iceberg runtime present in this env")
    with pytest.raises(RuntimeError, match="Iceberg runtime"):
        T.read_table(spark, "iceberg:cat.db.docs")
    with pytest.raises(RuntimeError, match="Iceberg runtime"):
        T.write_table(
            spark.range(1), "iceberg:cat.db.out", mode="append"
        )


def test_sub_ref_and_overwrite_partitions(spark, tmp_path):
    from pdf_parser_spark.sources import tables as T

    assert T.sub_ref("iceberg:cat.db.docs", "_lineage") == \
        "iceberg:cat.db.docs_lineage"
    assert T.sub_ref("/data/out/", "spans_out") == "/data/out/spans_out"

    path = str(tmp_path / "t")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "grp"])
    T.write_table(df1, path, mode="overwrite_partitions",
                  partition_by=("grp",))
    assert not T.table_exists(spark, str(tmp_path / "missing"))
    assert T.table_exists(spark, path)
    # re-write ONLY partition 'a' with new content; 'b' must survive
    df2 = spark.createDataFrame([(9, "a")], ["id", "grp"])
    T.write_table(df2, path, mode="overwrite_partitions",
                  partition_by=("grp",))
    got = sorted((r.id, r.grp) for r in T.read_table(spark, path).collect())
    assert got == [(2, "b"), (9, "a")]


def test_register_bucketed_table_reclaims_shuffle_free(spark, docs_df,
                                                       tmp_path):
    """A fresh session re-attaches an existing bucketed directory with
    DDL only (no rewrite) and gets the shuffle-free scan back; reading
    the same directory as plain parquet loses it (one exchange)."""
    from pdf_parser_spark.operators import pages as P
    from pdf_parser_spark.sources import tables as T

    path = str(tmp_path / "docs_bucketed")
    T.write_bucketed_table(docs_df, "reg_bucketed_w", n_buckets=4,
                           path=path)
    ddl = docs_df._jdf.schema().toDDL()
    # external table: DROP removes metadata only, files stay
    spark.sql("DROP TABLE reg_bucketed_w")
    assert Path(path).exists()

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    plain = P.span_sequence_df(
        P.valid_spans(P.explode_spans(spark.read.parquet(path)))
    )
    assert plan(plain).count("Exchange") == 1

    T.register_bucketed_table(spark, "reg_bucketed_r", path, 4, ddl)
    try:
        df = T.read_table(spark, "table:reg_bucketed_r")
        out = P.span_sequence_df(P.valid_spans(P.explode_spans(df)))
        assert "Exchange" not in plan(out)
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, plain.collect())
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS reg_bucketed_r")


def test_cobucketed_join_is_shuffle_and_sort_free(spark, docs_df,
                                                  tmp_path):
    """Two tables bucketed the same way (doc_id, same bucket count) join
    on doc_id with ZERO exchanges and ZERO sorts: the scans themselves
    report the HashPartitioning+ordering a sort-merge join needs.  This
    is the co-located-join contract write_bucketed_table's docstring
    promises — at 100 TB it is the difference between a pure scan-side
    merge and shuffling both full tables."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.sources import tables as T

    left = docs_df.select("doc_id", "spans")
    right = docs_df.select(
        "doc_id", F.size("spans").alias("n_spans")
    )
    T.write_bucketed_table(left, "cob_left", n_buckets=4,
                           path=str(tmp_path / "cob_left"))
    T.write_bucketed_table(right, "cob_right", n_buckets=4,
                           path=str(tmp_path / "cob_right"))
    try:
        lt = T.read_table(spark, "table:cob_left")
        rt = T.read_table(spark, "table:cob_right")
        joined = lt.hint("merge").join(rt, "doc_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        # one file per bucket + sortBy(doc_id) + the session's
        # bucketedTableScan.outputOrdering → no Sort node either
        # ("Sort [" is the operator; plain "Sort" would also match
        # SortMergeJoin itself)
        assert "Sort [" not in plan
        assert joined.count() == docs_df.count()

        # the same join over plain parquet shuffles both sides — the
        # layout, not the data, is what the elision buys
        pl = spark.read.parquet(str(tmp_path / "cob_left"))
        pr = spark.read.parquet(str(tmp_path / "cob_right"))
        plain = pl.hint("merge").join(pr, "doc_id")
        pp = plain._jdf.queryExecution().executedPlan().toString()
        assert pp.count("Exchange") == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS cob_left")
        spark.sql("DROP TABLE IF EXISTS cob_right")


def test_bucketed_write_one_file_per_bucket(spark, docs_df, tmp_path):
    """The producer-side repartition aligns tasks with buckets: exactly
    one data file per bucket, regardless of input partitioning."""
    from pathlib import Path as P

    from pdf_parser_spark.sources import tables as T

    path = str(tmp_path / "one_per_bucket")
    T.write_bucketed_table(
        docs_df.repartition(7), "one_per_bucket_t", n_buckets=4,
        path=path,
    )
    try:
        files = [f for f in P(path).iterdir()
                 if f.name.endswith(".parquet")]
        assert len(files) == 4
    finally:
        spark.sql("DROP TABLE IF EXISTS one_per_bucket_t")
