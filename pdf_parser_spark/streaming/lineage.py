"""Per-partition lineage + resumable execution (north rule: "checkpoints
per-partition progress to a lineage/metrics table so a killed job resumes
without reprocessing completed partitions").

Model (SURVEY.md §2.9):
- documents are assigned a deterministic ``bucket`` (0..n_buckets-1) from
  md5(doc_id) — stable across runs and cluster sizes;
- buckets are processed in WAVES (``wave_size`` buckets per Spark job);
- each wave: write outputs partitioned by bucket (dynamic partition
  overwrite → idempotent re-write), THEN append one lineage row per bucket
  with ``observe()``-collected counters;
- resume = anti-join the bucket list against completed lineage rows: a
  wave killed before its lineage append is simply re-run, and its partial
  output partitions are overwritten (Iceberg ``overwritePartitions``
  or parquet dynamic overwrite — the sources/tables seam; lineage rows
  and outputs alike take ``iceberg:`` table refs or filesystem paths).

At 1000 executors the wave is the unit of checkpoint granularity and each
wave is one fully-parallel job — the driver loop is O(n_buckets /
wave_size) metadata operations, never per-document work.

``run_resumable`` runs each wave's ``pipeline.stage_graph`` (through
``run_pipeline``) with its bucketed outputs as sinks and commits one row
per bucket after the wave.  It takes no fault-injection argument: tests
make ``run_pipeline`` or ``_append_lineage`` raise.
"""

from __future__ import annotations

import datetime as _dt
import time
from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pdf_parser_spark.config import DEFAULT_CONFIG, PipelineConfig
from pdf_parser_spark.pipeline import run_pipeline
from pdf_parser_spark.schemas import LINEAGE
from pdf_parser_spark.sources.tables import (
    drop_tree,
    read_table,
    sub_ref,
    table_exists,
    write_counted,
    write_table,
)

LINEAGE_SUBDIR = "_lineage"


def with_bucket(docs: DataFrame, n_buckets: int) -> DataFrame:
    """Deterministic doc bucket: first 8 hex chars of md5(doc_id) mod N
    (portable, stable under repartitioning — never spark_partition_id)."""
    b = F.conv(F.substring(F.md5("doc_id"), 1, 8), 16, 10).cast(
        "long"
    ) % n_buckets
    return docs.withColumn("bucket", b.cast("int"))


def completed_buckets(spark: SparkSession, out_dir: str) -> set:
    """Read the lineage table (``iceberg:`` ref or parquet dir — the
    sources/tables seam) with ``schemas.LINEAGE`` pinned (no inference
    job) and return the done bucket ids."""
    ref = sub_ref(out_dir, LINEAGE_SUBDIR)
    if not table_exists(spark, ref):
        return set()
    rows = (
        read_table(spark, ref, schema=LINEAGE)
        .filter(F.col("status") == "done")
        .select("partition_id")
        .distinct()
        .collect()
    )
    return {r.partition_id for r in rows}


def _utc(ts: float) -> _dt.datetime:
    return _dt.datetime.fromtimestamp(ts, _dt.timezone.utc).replace(
        tzinfo=None
    )


def _lineage_row(
    run_id: str,
    partition_id: int,
    n_docs: int,
    n_spans: int,
    started: float,
    finished: float,
    metrics: dict,
) -> tuple:
    """One ``schemas.LINEAGE`` row with status 'done'."""
    return (run_id, partition_id, "done", n_docs, n_spans,
            _utc(started), _utc(finished), metrics)


def _append_lineage(spark: SparkSession, out_dir: str, rows: list) -> None:
    df = spark.createDataFrame(rows, LINEAGE)
    write_table(
        df.coalesce(1), sub_ref(out_dir, LINEAGE_SUBDIR), mode="append"
    )


def _write_bucketed(
    ref: str, n_buckets: int, df: DataFrame
) -> tuple[DataFrame, int]:
    """A resumable output: ``df`` with its ``bucket`` written to ``ref``
    by dynamic partition overwrite.  Returns ``df`` itself, not the
    table, which holds every wave's buckets: nothing downstream in a
    wave is written."""
    return df, write_counted(
        with_bucket(df, n_buckets), ref,
        mode="overwrite_partitions", partition_by=("bucket",),
    )


def run_resumable(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    run_id: str = "run-0",
    n_buckets: int = 16,
    wave_size: int = 8,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    normalize_html: bool = False,
) -> dict:
    """Process all pending buckets; return a summary."""
    bucketed = with_bucket(docs, n_buckets)
    # each wave's stage tables overwrite the previous wave's; the last
    # wave's are dropped once its lineage rows commit
    stage_ref = sub_ref(out_dir, "_stage")
    done = completed_buckets(spark, out_dir)
    pending = [b for b in range(n_buckets) if b not in done]
    waves = [
        pending[i : i + wave_size]
        for i in range(0, len(pending), wave_size)
    ]

    processed = []
    for wi, wave in enumerate(waves):
        started = time.time()
        wave_docs = bucketed.filter(F.col("bucket").isin(wave))
        obs = Observation(f"wave-{wi}")
        wave_docs = wave_docs.observe(
            obs,
            F.count("*").alias("docs"),
            F.sum(F.size(F.coalesce("spans", F.array()))).alias("spans"),
        )

        # 1) idempotent output write (re-running a bucket overwrites only
        # that bucket's partitions: Iceberg overwritePartitions / parquet
        # dynamic partition overwrite, via the sources/tables seam), as
        # sink stages of the wave's stage graph.  bucket is a pure
        # function of doc_id, so it is re-derived on each output row,
        # never joined back from the corpus.
        run_pipeline(
            wave_docs.drop("bucket"), stage_ref, cfg,
            normalize_html=normalize_html,
            sinks={
                name: partial(_write_bucketed, sub_ref(out_dir, name),
                              n_buckets)
                for name in ("spans_out", "sections")
            },
        )

        # 2) lineage append AFTER the output commit
        got = obs.get
        finished = time.time()
        rows = [
            _lineage_row(
                run_id, int(b), int(got.get("docs") or 0),
                int(got.get("spans") or 0), started, finished,
                {"wave": float(wi)},
            )
            for b in wave
        ]
        _append_lineage(spark, out_dir, rows)
        processed.extend(wave)

    # the last wave's stage tables are scratch once its lineage commits
    drop_tree(spark, stage_ref)
    return {
        "run_id": run_id,
        "skipped_buckets": sorted(done),
        "processed_buckets": processed,
        "n_waves": len(waves),
    }
