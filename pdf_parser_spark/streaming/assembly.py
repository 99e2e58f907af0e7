"""Stateful streaming span assembly — ``applyInPandasWithState``.

``ingest.py`` processes a stream whose files each hold WHOLE documents
(doc-atomic ingest), so the per-batch window reassembly is valid.  At
10^12 documents that invariant is not free: a scraper fleet emits span
FRAGMENTS as it walks a document, and a mega-document's fragments land
across many files and therefore many micro-batches.  This module is the
custom stateful operator that restores the invariant: fragments are
grouped by ``doc_id`` with ``applyInPandasWithState`` (SURVEY.md §2.9's
"custom stateful operator" slot), per-doc state accumulates out-of-order
fragments across micro-batches, and a document is emitted — atomically,
in one output batch — only when every declared fragment has arrived.
In drain (``availableNow``) runs, documents still incomplete at the end
of input remain in checkpointed state and complete on the next
invocation; in continuously-running queries a processing-time timeout
flushes stragglers as structured ``timeout_partial`` rows (quarantine
philosophy, helpers.py:29's guard-not-skip stance) — never lost
silently either way.

Scale shape: the only shuffle is the groupBy on ``doc_id`` (same key as
every other stage, so AQE can chain exchanges); state per key is the
document's own spans — O(doc) memory, spill-backed by the state store
(RocksDB provider in production, ``spark.sql.streaming.stateStore
.providerClass``); completed keys are removed immediately so steady-state
state size tracks in-flight documents only, not the corpus.

Fragment rows carry ``total_spans`` (the fragment count the producer
declares for the document — the streaming analog of a content-length
header).  Downstream, completed documents re-enter the SAME batch
operators (error annotation via ``pages.error_kind_expr``, quarantine,
W2 ``span_sequence_df``) inside ``foreachBatch`` — the stateful operator
only re-establishes doc-atomicity; it never re-implements assembly
semantics, so streaming and batch outputs are equal by construction
(asserted end-to-end in tests/test_assembly.py).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from pdf_parser_spark.config import DEFAULT_CONFIG, PipelineConfig
from pdf_parser_spark.operators import pages as pages_op
from pdf_parser_spark.streaming.ingest import write_batch

# One span fragment per row; total_spans declared on every fragment.
FRAGMENT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), nullable=False),
        StructField("seq", IntegerType()),
        StructField("total_spans", IntegerType()),
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

# Emitted rows: flat spans of completed (or timed-out) documents.
ASSEMBLED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), nullable=False),
        StructField("seq", IntegerType()),
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
        StructField("n_received", IntegerType()),
        StructField("total_spans", IntegerType()),
        StructField("assembly_status", StringType()),
    ]
)

# Parallel arrays (one slot per received fragment) + declared total.
# Parallel primitives rather than array<struct> keep the state row in
# Arrow-friendly flat columns.
STATE_SCHEMA = StructType(
    [
        StructField("total", IntegerType()),
        StructField("seqs", ArrayType(LongType())),
        StructField("kinds", ArrayType(StringType())),
        StructField("texts", ArrayType(StringType())),
        StructField("media_refs", ArrayType(StringType())),
        StructField("offsets", ArrayType(LongType())),
    ]
)

_COLS = list(ASSEMBLED_SCHEMA.fieldNames())


def _opt_int(v):
    return None if v is None or pd.isna(v) else int(v)


def _opt_str(v):
    return None if v is None or (isinstance(v, float) and pd.isna(v)) else v


def _emit(doc_id, total, seqs, kinds, texts, media_refs, offsets, status):
    order = sorted(range(len(seqs)), key=lambda i: (seqs[i] is None, seqs[i]))
    n = len(seqs)
    rows = [
        (
            doc_id,
            _opt_int(seqs[i]),
            kinds[i],
            texts[i],
            media_refs[i],
            _opt_int(offsets[i]),
            n,
            total,
            status,
        )
        for i in order
    ]
    return pd.DataFrame(rows, columns=_COLS)


def assemble_doc(
    key: Tuple[str],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    timeout_ms: int | None = None,
) -> Iterator[pd.DataFrame]:
    """Per-doc state transition.  Three branches:

    - timeout: flush whatever arrived as ``timeout_partial`` rows;
    - accumulate: fragments buffered, total still unmet — emit nothing;
    - complete: every declared fragment present — emit the document's
      flat spans (sorted by ``seq``) as ``complete`` rows, drop state.
    """
    doc_id = key[0]
    if state.hasTimedOut:
        total, seqs, kinds, texts, media_refs, offsets = state.get
        state.remove()
        if seqs:
            yield _emit(doc_id, _opt_int(total), seqs, kinds, texts,
                        media_refs, offsets, "timeout_partial")
        return

    if state.exists:
        total, seqs, kinds, texts, media_refs, offsets = state.get
        total = _opt_int(total)
        seqs, kinds = list(seqs), list(kinds)
        texts, media_refs = list(texts), list(media_refs)
        offsets = list(offsets)
    else:
        total, seqs, kinds, texts, media_refs, offsets = (
            None, [], [], [], [], []
        )

    for pdf in pdfs:
        for r in pdf.itertuples(index=False):
            t = _opt_int(r.total_spans)
            if t is not None:
                total = t
            seqs.append(_opt_int(r.seq))
            kinds.append(_opt_str(r.kind))
            texts.append(_opt_str(r.text))
            media_refs.append(_opt_str(r.media_ref))
            offsets.append(_opt_int(r.offset))

    if total is not None and len(seqs) >= total:
        state.remove()
        yield _emit(doc_id, total, seqs, kinds, texts, media_refs,
                    offsets, "complete")
        return

    state.update((total, seqs, kinds, texts, media_refs, offsets))
    if timeout_ms is not None:
        # re-arm on every update: the clock measures idle time since the
        # doc's LAST fragment, not since its first
        state.setTimeoutDuration(timeout_ms)
    return


def assembled_stream(
    fragments: DataFrame, timeout_ms: int | None = None
) -> DataFrame:
    """Fragment stream → stream of flat spans of completed/timed-out
    documents (doc-atomic per micro-batch by construction).

    ``timeout_ms=None`` (default) arms NO timeout: a document whose
    fragments have not all arrived stays in the checkpointed state store
    and completes whenever the rest lands — across triggers OR across
    separate ``availableNow`` invocations (state survives restarts via
    the checkpoint, the same resume device as lineage.py).  This is the
    required mode for drain-style ``availableNow`` runs: MEASURED on
    this Spark (4.1.2), an armed processing-time timeout keeps the
    available-now executor scheduling empty timeout-check batches in a
    tight loop (75+ batches observed) and ``awaitTermination`` never
    returns, because pending timeouts count as available work.  Pass a
    timeout only for continuously-running (processing-time-trigger)
    queries, where it flushes stragglers as ``timeout_partial`` rows.
    """

    def assemble(key, pdfs, state):
        return assemble_doc(key, pdfs, state, timeout_ms)

    return fragments.groupBy("doc_id").applyInPandasWithState(
        assemble,
        outputStructType=ASSEMBLED_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if timeout_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


def read_fragment_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 64
) -> DataFrame:
    return (
        spark.readStream.schema(FRAGMENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def run_fragment_assembly(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    quarantine_path: str,
    checkpoint: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    max_files_per_trigger: int = 64,
    timeout_ms: int | None = None,
):
    """End-to-end streaming job: fragments → stateful assembly → the
    batch W2 operators per micro-batch → idempotent partitioned sink
    (ingest.py's replay-safe ``write_batch``, for both outputs).

    Drain semantics (``availableNow``): incomplete documents stay in
    checkpointed state and finish on a later invocation once their
    remaining fragments land — leave ``timeout_ms=None`` here (see
    ``assembled_stream`` for why a timeout must not be armed in
    available-now mode).  Timed-out partial documents (continuous mode
    only) go to ``quarantine_path`` with their received-vs-declared
    counts — never into the main output.
    """
    assembled = assembled_stream(
        read_fragment_stream(spark, in_path, max_files_per_trigger),
        timeout_ms=timeout_ms,
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        complete = batch_df.filter(
            F.col("assembly_status") == "complete"
        ).drop("n_received", "total_spans", "assembly_status")
        flat = complete.withColumn(
            "error_kind", pages_op.error_kind_expr(cfg)
        )
        out = pages_op.span_sequence_df(pages_op.valid_spans(flat))
        write_batch(out, batch_id, out_path)
        partial = batch_df.filter(
            F.col("assembly_status") == "timeout_partial"
        )
        write_batch(partial, batch_id, quarantine_path)

    query = (
        assembled.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query
