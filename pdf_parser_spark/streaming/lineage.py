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
"""

from __future__ import annotations

import datetime as _dt
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pdf_parser_spark.config import DEFAULT_CONFIG, PipelineConfig
from pdf_parser_spark.pipeline import run_pipeline
from pdf_parser_spark.sources.tables import (
    read_table,
    sub_ref,
    table_exists,
    write_and_read,
    write_table,
)

LINEAGE_SUBDIR = "_lineage"
# The dedup runner records STAGE ordinals, not bucket ids, as
# partition_id; its lineage lives in its own namespace so pointing both
# runners at one out_dir can never alias stage rows with bucket rows.
# Dedup stage rows that older runs appended under LINEAGE_SUBDIR are not
# read back: such a job does not resume, it recomputes every stage.
DEDUP_LINEAGE_SUBDIR = "_lineage_dedup"


def with_bucket(docs: DataFrame, n_buckets: int) -> DataFrame:
    """Deterministic doc bucket: first 8 hex chars of md5(doc_id) mod N
    (portable, stable under repartitioning — never spark_partition_id)."""
    b = F.conv(F.substring(F.md5("doc_id"), 1, 8), 16, 10).cast(
        "long"
    ) % n_buckets
    return docs.withColumn("bucket", b.cast("int"))


def completed_buckets(
    spark: SparkSession, out_dir: str, subdir: str = LINEAGE_SUBDIR
) -> set:
    """Read the lineage table (``iceberg:`` ref or parquet dir — the
    sources/tables seam) and return the done bucket ids."""
    ref = sub_ref(out_dir, subdir)
    if not table_exists(spark, ref):
        return set()
    rows = (
        read_table(spark, ref)
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


def _append_lineage(
    spark: SparkSession,
    out_dir: str,
    rows: list,
    subdir: str = LINEAGE_SUBDIR,
) -> None:
    from pdf_parser_spark.schemas import LINEAGE

    df = spark.createDataFrame(rows, LINEAGE)
    write_table(
        df.coalesce(1), sub_ref(out_dir, subdir), mode="append"
    )


def run_resumable(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    run_id: str = "run-0",
    n_buckets: int = 16,
    wave_size: int = 8,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    fail_after_waves: int | None = None,
    normalize_html: bool = False,
) -> dict:
    """Process all pending buckets; return a summary.

    ``fail_after_waves`` is a fault-injection hook for the resume test —
    raises after k completed waves, exactly as a mid-job kill would.
    """
    bucketed = with_bucket(docs, n_buckets)
    # each wave's stage tables overwrite the previous wave's
    stage_ref = sub_ref(out_dir, "_stage")
    done = completed_buckets(spark, out_dir)
    pending = [b for b in range(n_buckets) if b not in done]
    waves = [
        pending[i : i + wave_size]
        for i in range(0, len(pending), wave_size)
    ]

    processed = []
    for wi, wave in enumerate(waves):
        if fail_after_waves is not None and wi >= fail_after_waves:
            raise RuntimeError(
                f"injected failure before wave {wi} (buckets {wave})"
            )
        started = time.time()
        wave_docs = bucketed.filter(F.col("bucket").isin(wave))
        obs = Observation(f"wave-{wi}")
        wave_docs = wave_docs.observe(
            obs,
            F.count("*").alias("docs"),
            F.sum(F.size(F.coalesce("spans", F.array()))).alias("spans"),
        )

        result = run_pipeline(
            wave_docs.drop("bucket"), stage_ref, cfg,
            normalize_html=normalize_html,
        )
        # 1) idempotent output write (re-running a bucket overwrites only
        # that bucket's partitions: Iceberg overwritePartitions / parquet
        # dynamic partition overwrite, via the sources/tables seam).
        # bucket is a pure function of doc_id, so it is re-derived on
        # each output row, never joined back from the corpus.
        for name, df in (("spans_out", result.spans_out),
                         ("sections", result.sections)):
            write_table(
                with_bucket(df, n_buckets),
                sub_ref(out_dir, name),
                mode="overwrite_partitions",
                partition_by=("bucket",),
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

    return {
        "run_id": run_id,
        "skipped_buckets": sorted(done),
        "processed_buckets": processed,
        "n_waves": len(waves),
    }


def run_resumable_dedup(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    run_id: str = "dedup-0",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    k: int = 3,
    n_bands: int = 4,
    fail_after_stages: int | None = None,
) -> dict:
    """Resumable MinHash-LSH near-dup job: the expensive signatures
    fold and the band-bucket pair join are separate DURABLE stages —
    each writes its stage table (``sources.tables.write_and_read``) and
    then appends a lineage row (partition_id = stage ordinal, the rows
    written), so a job killed between the two resumes WITHOUT
    recomputing the ceil(n_hashes/4)-md5-per-shingle signature pass.

    ``fail_after_stages`` injects a crash after k committed stages,
    exactly as a mid-job kill would.  Returns a summary dict; the
    candidate pairs land in ``<out_dir>/pairs``.

    Resume reads only ``DEDUP_LINEAGE_SUBDIR``: stage rows that older
    runs wrote under ``LINEAGE_SUBDIR`` are ignored, so such a job
    recomputes both stages once.
    """
    from pdf_parser_spark.functions import dedup as dd

    sig_ref = sub_ref(out_dir, "signatures")
    done = completed_buckets(spark, out_dir, DEDUP_LINEAGE_SUBDIR)

    def _stage_row(stage: int, n_rows: int, t0: float) -> tuple:
        return _lineage_row(run_id, stage, n_rows, 0, t0, time.time(),
                            {"stage": float(stage)})

    skipped = []
    # --- stage 0: signatures (the md5 fold — never recompute) --------
    if 0 in done:
        sigs = read_table(spark, sig_ref)
        skipped.append(0)
    else:
        if fail_after_stages is not None and fail_after_stages < 1:
            raise RuntimeError("injected failure before stage 0")
        t0 = time.time()
        sigs, n_sigs = write_and_read(
            dd.minhash_df(docs, id_col, text_col, n_hashes, k), sig_ref
        )
        _append_lineage(
            spark, out_dir, [_stage_row(0, n_sigs, t0)],
            DEDUP_LINEAGE_SUBDIR,
        )

    # --- stage 1: band-bucket candidate pairs -------------------------
    if 1 in done:
        skipped.append(1)
    else:
        if fail_after_stages is not None and fail_after_stages < 2:
            raise RuntimeError("injected failure before stage 1")
        t0 = time.time()
        _, n_pairs = write_and_read(
            dd.lsh_band_pairs(sigs, n_bands, n_hashes // n_bands),
            sub_ref(out_dir, "pairs"),
        )
        _append_lineage(
            spark, out_dir, [_stage_row(1, n_pairs, t0)],
            DEDUP_LINEAGE_SUBDIR,
        )

    return {
        "run_id": run_id,
        "skipped_stages": skipped,
        "pairs_ref": sub_ref(out_dir, "pairs"),
    }
