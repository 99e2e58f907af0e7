"""Traced mode: layer spans from wrapped entry points, Spark work from
the event log.

``Tracer.install`` replaces the module attributes that ``run_pipeline``
and the CLI resolve at call time.  Each wrapped call opens a span that
lasts until the next instrumented call (``run_pipeline`` materializes
its persisted stages eagerly, so the work a call plans runs before the
next call starts).  Spark jobs submitted inside a span belong to its
layer; their task metrics and the Python-node SQL metrics come from the
uncompressed event log the traced session writes.

``write_table`` spans take the layer of the table being written when
that table is planned lazily (``spans_out``, ``quarantine``,
``metrics``): the write is where that layer's jobs run.  Lineage-table
writes, and the lineage reads of ``completed_buckets``, belong to
``lineage``.

Three wrappers also count: ``_span_sequence_two_phase`` (called by
``span_sequence_skew_df`` only when its probe routed docs to the
two-phase path) reads the routed ids from the literal ``isin`` filter it
is handed, ``_append_lineage`` times the lineage commit, and
``run_pipeline`` counts the TOC rows it returns (the TOC is persisted
and materialized by then, so the count reads the cache; ``run_resumable``
never writes the TOC table).  That count runs in a span of its own,
``trace``, which no layer metric includes.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import statistics
import time
from collections import defaultdict
from typing import Dict, List, Tuple

ENTRY_POINTS: List[Tuple[str, str, str]] = [
    ("pdf_parser_spark.operators.pages", "explode_spans", "pages"),
    ("pdf_parser_spark.operators.pages", "explode_spans_raw", "pages"),
    ("pdf_parser_spark.operators.pages", "pages_df", "pages"),
    ("pdf_parser_spark.functions.boilerplate", "normalize_html_flat",
     "html_normalize"),
    ("pdf_parser_spark.operators.pages", "quarantine_df", "quarantine"),
    ("pdf_parser_spark.operators.pages", "span_sequence_skew_df",
     "spans_out"),
    ("pdf_parser_spark.operators.metadata", "metadata_df", "metadata"),
    ("pdf_parser_spark.operators.toc", "toc_entries_df", "toc"),
    ("pdf_parser_spark.operators.sections", "sections_df", "sections"),
    ("pdf_parser_spark.operators.metrics", "metrics_df", "metrics"),
    ("pdf_parser_spark.sources.tables", "write_table", "write"),
    # lineage.py binds these names at import time, so they are wrapped
    # where it looks them up
    ("pdf_parser_spark.streaming.lineage", "write_table", "write"),
    ("pdf_parser_spark.streaming.lineage", "completed_buckets", "lineage"),
    ("pdf_parser_spark.streaming.lineage", "_append_lineage", "lineage"),
]
# wrapped to count, without opening a span
COUNTERS: List[Tuple[str, str]] = [
    ("pdf_parser_spark.operators.pages", "_span_sequence_two_phase"),
]
# wrapped to count the TOC rows of every pipeline run; lineage.py binds
# run_pipeline at import time
PIPELINES: List[Tuple[str, str]] = [
    ("pdf_parser_spark.pipeline", "run_pipeline"),
    ("pdf_parser_spark.streaming.lineage", "run_pipeline"),
]
TRACE_LAYER = "trace"
LAZY_TABLES = {"spans_out", "quarantine", "metrics"}
PY_NODES = ("ArrowEvalPython", "MapInPandas", "BatchEvalPython",
            "FlatMapGroupsInPandas", "MapInArrow")
MB = 1024 * 1024


class Tracer:
    def __init__(self):
        self.marks: List[Tuple[float, str]] = []  # (start ms, layer)
        self.plan_s = 0.0  # time inside span_sequence_skew_df (mega probe)
        self.append_s = 0.0  # time inside _append_lineage
        self.mega_docs = 0  # docs routed to the two-phase W2 path
        self.toc_rows = 0  # TOC rows over every run_pipeline call
        self._saved = []

    def _wrap(self, fn, attr: str, layer: str):
        def traced(*args, **kwargs):
            name = layer
            if layer == "write":
                table = os.path.basename(str(args[1]).rstrip("/"))
                name = (table if table in LAZY_TABLES else
                        "lineage" if table.startswith("_lineage") else
                        "write")
            t0 = time.time()
            self.marks.append((t0 * 1000.0, name))
            try:
                return fn(*args, **kwargs)
            finally:
                if layer == "spans_out":
                    self.plan_s += time.time() - t0
                elif attr == "_append_lineage":
                    self.append_s += time.time() - t0
        return traced

    def _count_two_phase(self, fn):
        def counted(mega, *args, **kwargs):
            self.mega_docs += _isin_ids(mega)
            return fn(mega, *args, **kwargs)
        return counted

    def _count_toc(self, fn):
        def counted(*args, **kwargs):
            result = fn(*args, **kwargs)
            resume = self.marks[-1][1] if self.marks else None
            self.marks.append((time.time() * 1000.0, TRACE_LAYER))
            self.toc_rows += result.toc.count()
            if resume is not None:
                self.marks.append((time.time() * 1000.0, resume))
            return result
        return counted

    def _replace(self, mod_name: str, attr: str, wrap) -> None:
        mod = importlib.import_module(mod_name)
        fn = getattr(mod, attr)
        self._saved.append((mod, attr, fn))
        setattr(mod, attr, wrap(fn))

    def install(self) -> None:
        for mod_name, attr, layer in ENTRY_POINTS:
            self._replace(mod_name, attr,
                          lambda fn, a=attr, lay=layer: self._wrap(fn, a, lay))
        for mod_name, attr in COUNTERS:
            self._replace(mod_name, attr, self._count_two_phase)
        for mod_name, attr in PIPELINES:
            self._replace(mod_name, attr, self._count_toc)

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)
        self._saved.clear()

    def layer_walls(self, end_ms: float) -> Dict[str, float]:
        walls: Dict[str, float] = defaultdict(float)
        bounds = [m[0] for m in self.marks[1:]] + [end_ms]
        for (start, layer), stop in zip(self.marks, bounds):
            walls[layer] += (stop - start) / 1000.0
        return walls

    def layer_at(self, ms: float) -> str | None:
        owner = None
        for start, layer in self.marks:
            if start > ms:
                break
            owner = layer
        return owner


def _isin_ids(df) -> int:
    """Docs in the two-phase branch: the length of the literal id list of
    the ``doc_id IN (...)`` filter on top of its input (the program's
    split for up to 1000 mega docs)."""
    return int(df._jdf.queryExecution().analyzed().condition().list().size())


def read_event_log(log_dir: str, app_id: str) -> List[dict]:
    files = [f for f in glob.glob(os.path.join(log_dir, "*" + app_id + "*"))
             if os.path.isfile(f) and not f.endswith(".crc")]
    events = []
    for f in sorted(files):
        with open(f, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _python_accumulators(events: List[dict]) -> Dict[int, List[str]]:
    """accumulator id → the Python-boundary metrics it feeds:
    ``py_mb_sent`` (bytes to Python), ``py_rows_out`` (rows back) and
    ``py_rows_in`` (rows into the node: a scalar Arrow UDF returns one
    row per input row; a MapInPandas node's input is its nearest child
    that counts output rows)."""
    accs: Dict[int, List[str]] = defaultdict(list)

    def metric(node, name):
        for m in node.get("metrics", []):
            if m["name"] == name:
                return m["accumulatorId"]
        return None

    def rows_feeding(node):
        for child in node.get("children", []):
            acc = metric(child, "number of output rows")
            return acc if acc is not None else rows_feeding(child)
        return None

    def walk(node):
        name = node["nodeName"]
        if name in PY_NODES:
            sent = metric(node, "data sent to Python workers")
            out = metric(node, "number of output rows")
            rows_in = out if name == "ArrowEvalPython" else rows_feeding(node)
            for acc, role in ((sent, "py_mb_sent"), (out, "py_rows_out"),
                              (rows_in, "py_rows_in")):
                if acc is not None and role not in accs[acc]:
                    accs[acc].append(role)
        for child in node.get("children", []):
            walk(child)

    for e in events:
        if e["Event"].endswith("SQLExecutionStart"):
            walk(e["sparkPlanInfo"])
    return accs


def layer_metrics(events: List[dict], tracer: Tracer, wall_s: float,
                  end_ms: float, cores: int) -> Dict[str, float]:
    """Per-layer Spark attribution of one traced invocation."""
    job_layer, stage_job = {}, {}
    for e in events:
        if (e["Event"] == "SparkListenerJobStart"
                and e["Submission Time"] <= end_ms):
            layer = tracer.layer_at(e["Submission Time"])
            if layer is not None:
                job_layer[e["Job ID"]] = layer
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, e["Job ID"])
    py_accs = _python_accumulators(events)
    agg = defaultdict(lambda: defaultdict(float))
    stage_tasks = defaultdict(list)
    for layer in job_layer.values():
        agg[layer]["jobs"] += 1
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or not e.get("Task Metrics"):
            continue
        layer = job_layer.get(stage_job.get(e["Stage ID"]))
        if layer is None:
            continue
        tm = e["Task Metrics"]
        run_s = tm["Executor Run Time"] / 1000.0
        a = agg[layer]
        a["task_s"] += run_s
        a["gc_s"] += tm["JVM GC Time"] / 1000.0
        a["shuffle_mb"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
        a["spill_mb"] += tm["Disk Bytes Spilled"] / MB
        stage_tasks[(layer, e["Stage ID"])].append(run_s)
        for acc in e["Task Info"].get("Accumulables", []):
            for role in py_accs.get(acc["ID"], ()):
                scale = MB if role == "py_mb_sent" else 1
                a[role] += float(acc["Update"]) / scale
    # skew inside each layer's heaviest stage
    for layer in list(agg):
        stages = [t for (lay, _), t in stage_tasks.items() if lay == layer]
        if stages:
            heavy = max(stages, key=sum)
            agg[layer]["max_task_s"] = max(heavy)
            med = statistics.median(heavy)
            agg[layer]["task_skew"] = max(heavy) / med if med > 0 else 1.0
    walls = tracer.layer_walls(end_ms)
    for layer, w in walls.items():
        agg[layer]["wall_s"] = w
    agg.pop(TRACE_LAYER, None)  # the benchmark's own TOC count
    total_task = sum(a["task_s"] for a in agg.values())
    out: Dict[str, float] = {}
    for layer, a in agg.items():
        for k, v in a.items():
            out[f"{layer}.{k}"] = v
    out["spans_out.plan_s"] = tracer.plan_s
    out["spark.core_busy_frac"] = total_task / (cores * wall_s)
    out["spark.unattributed_s"] = max(0.0, wall_s - sum(walls.values()))
    return out
