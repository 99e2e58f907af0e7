"""Output check: every written table is read back from parquet and
compared per doc with the reference-semantics oracle
(``pdf_parser_spark.oracle.refsem.run_document``).

HTML-bearing docs go through ``functions.boilerplate.strip_html_spans``
before the oracle sees them: the pipeline's inline ``--normalize-html``
path is specified to match ingest-time stripping.
"""

from __future__ import annotations

import os
import statistics
from collections import Counter, defaultdict
from typing import Dict, List

from pdf_parser_spark.oracle import refsem
from pdf_parser_spark.streaming.lineage import LINEAGE_SUBDIR

from corpus import Doc, has_html

SPAN_KEY = ("kind", "text", "media_ref", "order")
TABLES = ("spans_out", "quarantine", "pages", "metadata", "toc", "sections",
          "metrics")
# the tables ``run_resumable`` writes, partitioned by bucket
RESUME_TABLES = ("spans_out", "sections")


def _stripped_html_docs(spark, docs: List[Doc]) -> List[Doc]:
    from pdf_parser_spark.fixtures.gen import to_spark_df
    from pdf_parser_spark.functions.boilerplate import strip_html_spans

    html = [d for d in docs if has_html(d)]
    if not html:
        return []
    rows = strip_html_spans(to_spark_df(spark, html)).collect()
    return [{"doc_id": r.doc_id,
             "spans": [s.asDict() for s in (r.spans or [])]} for r in rows]


def expected(spark, docs: List[Doc]) -> Dict[str, dict]:
    """Per doc: the oracle's span sequence plus its TOC, section and
    metrics row counts (one metrics row per doc)."""
    stripped = {d["doc_id"]: d for d in _stripped_html_docs(spark, docs)}
    out = {}
    for d in docs:
        res = refsem.run_document(stripped.get(d["doc_id"], d))
        out[d["doc_id"]] = {
            "spans": [tuple(s[k] for k in SPAN_KEY) for s in res["spans_out"]],
            "toc": len(res["toc"]),
            "sections": len(res["sections"]),
            "metrics": 1,
        }
    return out


def read_outputs(out_dir: str, tables=TABLES) -> Dict[str, "pyarrow.Table"]:
    """The written tables; a partitioned table reads back with its
    partition column."""
    import pyarrow.parquet as pq

    return {t: pq.read_table(os.path.join(out_dir, t)) for t in tables}


def mismatches(want: Dict[str, dict], tables) -> List[str]:
    """Doc ids (with the failing aspect) where the written outputs
    disagree with the oracle; empty means the invocation is correct.
    Only the tables in ``tables`` are checked."""
    spans = defaultdict(list)
    cols = tables["spans_out"].select(["doc_id", *SPAN_KEY]).to_pydict()
    for i, doc_id in enumerate(cols["doc_id"]):
        spans[doc_id].append(tuple(cols[k][i] for k in SPAN_KEY))
    counted = [t for t in ("toc", "sections", "metrics") if t in tables]
    counts = {t: Counter(tables[t].column("doc_id").to_pylist())
              for t in counted}
    bad = []
    for doc_id, w in want.items():
        if sorted(spans.get(doc_id, []), key=lambda r: r[3]) != w["spans"]:
            bad.append(f"{doc_id}:spans_out")
        for t in counted:
            if counts[t].get(doc_id, 0) != w[t]:
                bad.append(f"{doc_id}:{t}")
    extra = set(spans).union(*counts.values()) - set(want)
    bad.extend(f"{doc_id}:unexpected" for doc_id in sorted(extra, key=str))
    return bad


def lineage_stats(out_dir: str) -> Dict[str, float]:
    """From the lineage table the resumable runner wrote: the buckets
    done, the waves run (rows of one wave share its start time), the
    median wave time, and the share of buckets committed more than once."""
    import pyarrow.parquet as pq

    rows = pq.read_table(os.path.join(out_dir, LINEAGE_SUBDIR)).to_pylist()
    done = [r for r in rows if r["status"] == "done"]
    buckets = {r["partition_id"] for r in done}
    waves = {r["started_at"]: r["finished_at"] for r in done}
    return {
        "buckets": buckets,
        "waves": len(waves),
        "wave_s": statistics.median(
            (end - start).total_seconds() for start, end in waves.items()),
        "redo_frac": (len(done) - len(buckets)) / len(buckets),
    }


def resume_mismatches(summary: dict, lineage: Dict[str, float]) -> List[str]:
    """The resume call must skip exactly the buckets the first call
    committed, process every other bucket once, and leave one lineage
    row per bucket."""
    skipped = set(summary["skipped_buckets"])
    processed = summary["processed_buckets"]
    bad = []
    if not skipped:
        bad.append("resume skipped no bucket")
    if skipped & set(processed) or len(set(processed)) != len(processed):
        bad.append(f"resume re-ran buckets {sorted(skipped & set(processed))}")
    if lineage["buckets"] != skipped | set(processed):
        bad.append("lineage buckets differ from the buckets run")
    if lineage["redo_frac"]:
        bad.append(f"lineage redo_frac {lineage['redo_frac']}")
    return bad
