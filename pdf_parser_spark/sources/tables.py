"""Table-reference layer: Iceberg when the runtime has it, parquet
otherwise.

The north rule's input is "an Iceberg table of interleaved text + media
documents"; without the Iceberg runtime jars every operator documents
its Iceberg mapping (identity partitioning ≙ ``partitionBy``, stage
tables ≙ ``write_and_read`` boundaries) and runs on parquet.  This module is
the concrete seam: a table reference of the form ``iceberg:<catalog.db
.table>`` routes to the Iceberg catalog (``spark.table`` /
``DataFrameWriterV2`` — the V2 path Iceberg requires), anything else is
a filesystem parquet path.  The Iceberg branch is gated on the runtime
actually exposing the catalog plugin, with a clear error when it does
not — no silent parquet fallback for an explicit ``iceberg:`` ask.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

ICEBERG_PREFIX = "iceberg:"
TABLE_PREFIX = "table:"


def is_iceberg_ref(ref: str) -> bool:
    return ref.startswith(ICEBERG_PREFIX)


def is_table_ref(ref: str) -> bool:
    """``table:<name>`` — a session-catalog table (how a Hive-style
    bucketed corpus is addressed; the bucket spec lives in catalog
    metadata, so only a catalog read gets the shuffle-free scan)."""
    return ref.startswith(TABLE_PREFIX)


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg SparkCatalog is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def _require_iceberg(spark: SparkSession, ref: str) -> str:
    if not iceberg_available(spark):
        raise RuntimeError(
            f"table ref {ref!r} requires the Iceberg runtime "
            "(org.apache.iceberg.spark.SparkCatalog not on the "
            "classpath); add the iceberg-spark-runtime jar and a "
            "spark.sql.catalog.<name> config, or pass a parquet path"
        )
    return ref[len(ICEBERG_PREFIX):]


def sub_ref(ref: str, name: str) -> str:
    """Derive a child table reference: ``iceberg:cat.db.t`` + 'lineage' →
    ``iceberg:cat.db.t_lineage`` (sibling table in the same namespace);
    a path gets a subdirectory."""
    clean = name.strip("_/")
    if is_iceberg_ref(ref):
        return f"{ref}_{clean}"
    return f"{ref.rstrip('/')}/{name}"


def internal_ref(ref: str, name: str) -> str:
    """An operator-internal table under ``ref``: ``<ref>/_internal/<name>``
    for a path, ``<ref>_internal_<name>`` for an ``iceberg:`` ref.  The
    hidden parent keeps internals out of the ``ref`` listing, and the
    plain leaf name keeps Spark's path filter (which skips ``_``-named
    leaves) from flagging every read."""
    return sub_ref(sub_ref(ref, "_internal"), name)


def drop_tree(spark: SparkSession, ref: str) -> None:
    """Delete ``ref`` and every table derived from it by ``sub_ref`` /
    ``internal_ref``: a path is removed recursively (through the Hadoop
    FS API); for an ``iceberg:`` ref, the tables of its namespace named
    ``<table>`` or ``<table>_*`` are dropped.  Driver bound: ``SHOW
    TABLES`` collects one row per table of that namespace, a catalog
    size that no corpus row adds to."""
    if is_iceberg_ref(ref):
        name = _require_iceberg(spark, ref)
        ns, table = name.rsplit(".", 1)
        for row in spark.sql(f"SHOW TABLES IN {ns}").collect():
            t = row.tableName
            if t == table or t.startswith(f"{table}_"):
                spark.sql(f"DROP TABLE IF EXISTS {ns}.{t}")
        return
    p = spark._jvm.org.apache.hadoop.fs.Path(ref)
    p.getFileSystem(spark._jsc.hadoopConfiguration()).delete(p, True)


def table_exists(spark: SparkSession, ref: str) -> bool:
    """Catalog lookup for ``iceberg:`` refs; filesystem check (through
    the Hadoop FS API, so any configured scheme works) for paths."""
    if is_iceberg_ref(ref):
        if not iceberg_available(spark):
            return False
        return spark.catalog.tableExists(ref[len(ICEBERG_PREFIX):])
    if is_table_ref(ref):
        return spark.catalog.tableExists(ref[len(TABLE_PREFIX):])
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(ref)
    return p.getFileSystem(conf).exists(p)


def read_table(spark: SparkSession, ref: str, schema=None) -> DataFrame:
    """``iceberg:<catalog.db.table>`` → catalog read (snapshot-isolated,
    partition pruning from the Iceberg metadata tree); ``table:<name>``
    → session-catalog read, the only read of a bucketed table whose scan
    reports the ``HashPartitioning`` that makes the reassembly
    shuffle-free; otherwise parquet with the pinned schema (no inference
    pass)."""
    if is_iceberg_ref(ref):
        return spark.table(_require_iceberg(spark, ref))
    if is_table_ref(ref):
        return spark.table(ref[len(TABLE_PREFIX):])
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(ref)


def write_table(
    df: DataFrame,
    ref: str,
    mode: str = "overwrite",
    partition_by: tuple = (),
) -> None:
    """``iceberg:`` refs use the V2 writer (``createOrReplace`` /
    ``append`` / ``overwritePartitions`` — Iceberg's atomic-commit
    path); paths write parquet with optional ``partitionBy`` (≙ Iceberg
    identity partitioning).

    ``mode="overwrite_partitions"`` is the idempotent re-run write the
    lineage/ingest checkpointing model needs: only the partitions
    present in ``df`` are replaced (Iceberg ``overwritePartitions()``;
    parquet dynamic partition overwrite via the per-write
    ``partitionOverwriteMode`` option — no session-level conf
    mutation)."""
    if is_iceberg_ref(ref):
        name = _require_iceberg(df.sparkSession, ref)
        writer = df.writeTo(name)
        for col in partition_by:
            writer = writer.partitionedBy(df[col])
        if mode == "append":
            writer.append()
        elif mode == "overwrite_partitions":
            writer.overwritePartitions()
        else:
            writer.createOrReplace()
        return
    if mode == "overwrite_partitions":
        writer = df.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        )
    else:
        writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(ref)


def write_counted(
    df: DataFrame,
    ref: str,
    mode: str = "overwrite",
    partition_by: tuple = (),
) -> int:
    """``write_table`` that returns the rows written, counted by an
    ``Observation`` on the write itself (no second job)."""
    obs = Observation()
    write_table(
        df.observe(obs, F.count(F.lit(1)).alias("rows")), ref,
        mode=mode, partition_by=partition_by,
    )
    return int(obs.get["rows"])


def write_and_read(df: DataFrame, ref: str) -> tuple[DataFrame, int]:
    """The one stage boundary: overwrite ``ref`` with ``df`` once and
    return the table read back with ``df``'s schema pinned (no inference
    job) plus the rows written (``write_counted``).  Downstream plans
    start from the file scan, not from ``df``'s lineage."""
    rows = write_counted(df, ref)
    return read_table(df.sparkSession, ref, schema=df.schema), rows


def write_bucketed_table(
    df: DataFrame,
    ref: str,
    n_buckets: int,
    bucket_col: str = "doc_id",
    sort_cols: tuple = ("doc_id",),
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed physical layout for the documents corpus — the north
    rule's "doc_id-range bucketing for shuffle-free reassembly".

    A table bucketed on ``doc_id`` makes the scan itself satisfy every
    downstream per-doc clustering requirement: the file-source scan
    reports ``HashPartitioning(doc_id, n_buckets)``, so the window
    chain in ``operators.pages.span_sequence_df`` (page derivation →
    per-page ids → final ordering) plans with ZERO exchanges — the one
    doc_id shuffle the ad-hoc parquet path pays disappears entirely
    (asserted in tests/test_plans.py).  At 100 TB this converts the
    reassembly from a full-corpus shuffle into a pure scan-side map
    job, and any doc_id-equi join between two tables bucketed the same
    way is shuffle-free on both sides.

    Iceberg mapping: ``iceberg:`` refs write with the ``bucket(N,
    doc_id)`` partition transform through the V2 writer — the same
    layout Iceberg's storage-partitioned joins consume; Spark reads it
    shuffle-free when ``spark.sql.sources.v2.bucketing.enabled`` is on.
    Without Iceberg, ``ref`` is a session-catalog table name written
    Hive-style (``bucketBy`` + ``sortBy``; ``path`` makes it external).

    ``sort_cols`` orders rows inside each bucket file; with one file
    per bucket Spark also elides the window sort on those columns.
    """
    if is_iceberg_ref(ref):
        name = _require_iceberg(df.sparkSession, ref)
        writer = df.writeTo(name).partitionedBy(
            F.bucket(n_buckets, F.col(bucket_col))
        )
        if mode == "append":
            writer.append()
        else:
            writer.createOrReplace()
        return
    # align producer tasks with buckets before the write: repartition's
    # hash IS the bucket function (pmod(murmur3(col), n)), so each task
    # holds exactly one bucket and writes exactly one file — without
    # this, every task splits its rows across all n_buckets and the
    # layout degrades to tasks × n_buckets small files (a real problem
    # at 1000 executors) while losing the one-file-per-bucket sort
    # elision.  The shuffle is the one-time cost of the re-layout.
    writer = (
        df.repartition(n_buckets, F.col(bucket_col))
        .write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, bucket_col)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(ref)


def register_bucketed_table(
    spark: SparkSession,
    name: str,
    path: str,
    n_buckets: int,
    schema_ddl: str,
    bucket_col: str = "doc_id",
    sort_cols: tuple = ("doc_id",),
) -> None:
    """Re-attach an existing bucketed layout to THIS session's catalog
    without rewriting a byte — ``CREATE TABLE ... USING parquet
    CLUSTERED BY ... LOCATION ...`` over files a previous
    ``write_bucketed_table`` produced.

    The bucket spec is catalog metadata, not file content: a fresh
    session (new cluster, new JVM) that reads the same directory as
    plain parquet loses the shuffle-free guarantee, so re-registering
    is the cheap (DDL-only) way to reclaim it.  Spark trusts the
    declared spec because its bucketed writer put each row's bucket id
    in the file name; registering a directory NOT produced by the
    bucketed writer silently yields wrong shuffle-free joins — only
    point this at ``write_bucketed_table`` output.
    """
    sort_clause = (
        f"SORTED BY ({', '.join(sort_cols)}) " if sort_cols else ""
    )
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({schema_ddl}) "
        f"USING parquet "
        f"CLUSTERED BY ({bucket_col}) {sort_clause}"
        f"INTO {n_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )
