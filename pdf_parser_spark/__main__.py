"""spark-submit entry point for the extraction engine.

The north rule runs the job "via spark-submit --py-files on a
multi-executor cluster"; this file is that driver script.  Cluster use:

    zip -r pdf_parser_spark.zip pdf_parser_spark
    spark-submit --py-files pdf_parser_spark.zip \\
        pdf_parser_spark/__main__.py \\
        --mode pipeline --input s3://.../documents --output s3://.../out

Local use is identical minus --py-files (``python -m pdf_parser_spark
...`` also works).  Master/executor topology comes from spark-submit
conf — this script never sets a master unless --master is given, so the
same file runs unchanged on local[N], YARN, or K8s at N and 4N
executors (the scaling criterion's two cluster sizes).

Modes:
- ``pipeline``  one-shot batch: full 5-stage extraction, parquet outputs
  (spans_out, quarantine, pages, metadata, toc, sections, metrics); the
  summary is the rows written per table.  Each table lands under
  --output as its stage completes (pages, metadata, toc and sections are
  then read back for the later stages), and the operators' internal
  stage tables land next to them under ``--output/_*``; a run that
  fails part-way leaves the earlier stages' tables there, and a re-run
  overwrites them.
- ``resume``    lineage-bucketed batch: per-partition progress recorded
  in a lineage table; re-invoking after a kill processes ONLY pending
  buckets (streaming/lineage.py).
- ``ingest``    incremental arrival: AvailableNow file-discovery stream,
  exactly-once per-batch partition overwrite (streaming/ingest.py).
- ``assembly``  fragment streams: applyInPandasWithState per-doc
  reassembly of spans that arrive split across micro-batches
  (streaming/assembly.py).
- ``bucketize`` one-time physical re-layout: write the corpus as a
  doc_id-bucketed table (``--output table:<name>`` or an ``iceberg:``
  ref → ``bucket(N, doc_id)`` transform).  ``--mode pipeline --input
  table:<name>`` then plans the whole reassembly with ZERO exchanges
  (sources/tables.py:write_bucketed_table; tests/test_plans.py).
"""

from __future__ import annotations

import argparse


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="pdf_parser_spark")
    p.add_argument("--mode", required=True,
                   choices=["pipeline", "resume", "ingest", "assembly",
                            "bucketize"])
    p.add_argument("--input", required=True,
                   help="documents (or fragments) parquet/Iceberg path, "
                        "or table:<name> for a catalog (e.g. bucketed) "
                        "table")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--buckets", type=int, default=256,
                   help="bucketize mode: number of doc_id buckets")
    p.add_argument("--table-path",
                   help="bucketize mode: external storage location for "
                        "the bucketed table (default: warehouse dir)")
    p.add_argument("--checkpoint",
                   help="checkpoint/lineage dir (resume/ingest/assembly)")
    p.add_argument("--run-id", default="run-0", help="resume-mode run id")
    p.add_argument("--normalize-html", action="store_true",
                   help="pipeline/resume/ingest/bucketize modes: strip raw-HTML "
                        "spans to main-content text spans in place "
                        "before extraction (for corpora not normalized "
                        "at ingest time); rejected in assembly mode "
                        "(fragment streams carry no span arrays)")
    p.add_argument("--master",
                   help="override master (normally left to spark-submit)")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p


def main(argv=None, spark=None) -> dict:
    """Returns a small summary dict (row counts) for logs/tests."""
    args = build_parser().parse_args(argv)
    if spark is None:
        from pdf_parser_spark.session import get_spark

        spark = get_spark(
            app_name=f"pdf_parser_spark-{args.mode}",
            master=args.master,
            shuffle_partitions=args.shuffle_partitions,
        )

    if args.mode == "pipeline":
        from pdf_parser_spark import pipeline as P
        from pdf_parser_spark.sources import tables as T

        res = P.run_pipeline(
            P.read_documents(spark, args.input), args.output,
            normalize_html=args.normalize_html,
        )
        for name in ("spans_out", "quarantine", "metrics"):
            res.counts[name] = T.write_and_read(
                getattr(res, name), T.sub_ref(args.output, name)
            )[1]
        return res.counts

    if args.mode == "bucketize":
        from pdf_parser_spark import pipeline as P
        from pdf_parser_spark.sources import tables as T

        ref = args.output
        if not T.is_iceberg_ref(ref):
            if not T.is_table_ref(ref):
                raise SystemExit(
                    "bucketize --output must be table:<name> or "
                    "iceberg:<catalog.db.table>"
                )
            ref = ref[len(T.TABLE_PREFIX):]
        docs = P.read_documents(spark, args.input)
        if args.normalize_html:
            # ingest-time normalization composes with the re-layout:
            # strip raw-HTML spans ONCE (doc-level strip_html_spans —
            # the output keeps the (doc_id, spans) array shape) while
            # paying the one write the bucketing does anyway
            from pdf_parser_spark.functions.boilerplate import (
                strip_html_spans,
            )

            docs = strip_html_spans(docs)
        T.write_bucketed_table(
            docs,
            args.output if T.is_iceberg_ref(args.output) else ref,
            n_buckets=args.buckets,
            bucket_col="doc_id",
            sort_cols=("doc_id",),
            path=args.table_path,
        )
        n = T.read_table(spark, args.output).count()
        return {"mode": "bucketize", "table": args.output, "docs": n}

    if args.mode == "resume":
        from pdf_parser_spark import pipeline as P
        from pdf_parser_spark.streaming import lineage as L

        return L.run_resumable(
            spark, P.read_documents(spark, args.input), args.output,
            run_id=args.run_id,
            normalize_html=args.normalize_html,
        )

    ckpt = args.checkpoint or f"{args.output}/_checkpoint"
    if args.mode == "ingest":
        from pdf_parser_spark.streaming import ingest as I

        I.run_available_now(
            spark, args.input, f"{args.output}/spans_out", ckpt,
            normalize_html=args.normalize_html,
        )
        return {"mode": "ingest", "out": f"{args.output}/spans_out"}

    if args.normalize_html:
        # assembly consumes FRAGMENT streams (no span arrays to strip);
        # silently accepting the flag would leave raw html fragments to
        # quarantine as unknown_kind with no hint why (ADVICE r3)
        raise SystemExit(
            "--normalize-html is not supported with --mode assembly: "
            "normalize the corpus at ingest (bucketize/ingest modes) "
            "or run the batch pipeline over the assembled output"
        )
    from pdf_parser_spark.streaming import assembly as A

    A.run_fragment_assembly(
        spark, args.input, f"{args.output}/spans_out",
        f"{args.output}/quarantine", ckpt,
    )
    return {"mode": "assembly", "out": f"{args.output}/spans_out"}


if __name__ == "__main__":
    print(main())
