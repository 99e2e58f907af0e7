"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests/bench/driver all agree:
- AQE on (runtime re-plan, skew-join splitting) — the Spark analog of the
  reference's hand-rolled skew guard (helpers.py:29 1M-char line skip).
- Arrow on — every pandas UDF crossing is Arrow-batched (input_hint:
  "vectorized pandas/Arrow UDFs, zero per-row Python").
- ANSI off — Spark 4 defaults to ANSI; the reference's semantics are
  permissive Python (``int(s) if s.isdigit() else 0``), so we keep
  non-ANSI + explicit try_cast/guard expressions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel


def get_spark(
    app_name: str = "pdf_parser_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    )
    # AQE is the production default (skew-join splitting, runtime
    # coalescing).  SPARK_GRAFT_AQE=0 disables it for benchmark A/B: AQE's
    # per-exchange re-planning is driver-serial, and on a single-JVM local
    # harness with many small stages it can dominate the critical path.
    aqe = os.environ.get("SPARK_GRAFT_AQE", "1") != "0"
    # Preload pandas/numpy/pyarrow in the worker daemon so every forked
    # Python worker inherits them via copy-on-write instead of paying the
    # (kernel-bound, seconds-per-worker) import itself — see
    # daemon_preload.py.  PYTHONPATH must reach the daemon subprocess for
    # the module to resolve regardless of the JVM's working directory.
    preload = os.environ.get("SPARK_GRAFT_PRELOAD", "1") != "0"
    if preload:
        from pathlib import Path

        pkg_parent = str(Path(__file__).resolve().parents[1])
        existing = os.environ.get("PYTHONPATH", "")
        if pkg_parent not in existing.split(os.pathsep):
            os.environ["PYTHONPATH"] = pkg_parent + (
                os.pathsep + existing if existing else ""
            )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", str(aqe).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Pre-size the heap and bound GC parallelism.  G1 growing the
        # heap from its small default -Xms toward -Xmx commits/uncommits
        # pages continuously; on para-virtualized kernels with expensive
        # page-fault paths that turns GC into a system-time storm (this
        # sandbox measured 33% sys / 5% user during a default-config run,
        # and 2.8x steady-state speedup from exactly these two flags —
        # BENCH/README.md).  Same practice as production executor sizing
        # (-Xms=-Xmx, GC threads not oversubscribing the executor cores).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                f"-Xms{os.environ.get('SPARK_GRAFT_DRIVER_MEM', '8g')}"
                f" -XX:ParallelGCThreads={min(8, os.cpu_count() or 8)}"
                " -XX:ConcGCThreads=2",
            ),
        )
        .config("spark.ui.enabled", "false")
        # parquet scan sizing: at 100 TB the default 128m is right; keep it
        # explicit so it is a deliberate choice, not an accident.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # span-heavy rows (a mega-doc row is MBs of array<struct>): the
        # default 4096-row columnar batch × many concurrent scan tasks
        # overruns the heap — size batches for wide rows.
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        # let a bucketed+sorted scan report its ordering so co-bucketed
        # merge joins and per-doc windows elide the Sort as well as the
        # Exchange.  Correctness-safe: Spark only trusts the ordering
        # after verifying one file per bucket (which write_bucketed_table
        # guarantees via its producer-side repartition); more files per
        # bucket simply fall back to sorting.
        .config(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
        )
    )
    if preload:
        builder = builder.config(
            "spark.python.daemon.module",
            "pdf_parser_spark.daemon_preload",
        )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cache_stage(df: DataFrame, cache: list | None) -> DataFrame:
    """The stage-materialization policy shared by every operator.

    ``cache`` a list: persist ``df`` at MEMORY_AND_DISK, count it
    eagerly and append it to ``cache`` so the caller can release it.
    ``cache`` None: return ``df`` unchanged (a lazy plan).

    The count is eager because each stage fans out to several consumers
    inside single downstream jobs, and a lazy cache would recompute the
    lineage once per branch before any partition lands in the cache.
    Given an output table ref, ``pipeline.run_pipeline`` writes its four
    stage boundaries to their tables instead (the write is the
    materialization); the operators' internal caches, and runs with
    nowhere durable to write, come here."""
    if cache is None:
        return df
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    cache.append(df)
    return df
