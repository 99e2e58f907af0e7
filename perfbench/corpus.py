"""Seeded workload corpora, built from the public family builders in
``pdf_parser_spark.fixtures.gen`` and written as a doc_id-range-laid-out
parquet table (the layout ``fixtures.gen.write_parquet`` produces).

The program under test only ever sees the parquet directory; the Python
doc list stays with the benchmark for the oracle check.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass
from typing import Any, Callable, Dict, List

from pdf_parser_spark.config import DEFAULT_CONFIG
from pdf_parser_spark.fixtures import gen

Doc = Dict[str, Any]
Builder = Callable[[random.Random, str], Dict[str, Any]]

# the shipped 13-family bench mix, in fixtures.gen's bench order:
# html and malformed are 1/13 each, and no family is a mega doc
MIXED_FAMILIES: List[Builder] = [
    gen.toc_doc,
    gen.headings_doc,
    gen.media_doc,
    lambda r, d: gen.media_doc(r, d, hot_ref="hot-shared-logo"),
    gen.malformed_doc,
    gen.empty_doc,
    gen.unicode_doc,
    gen.dup_doc,
    lambda r, d: gen.frontmatter_doc(r, d, variant=sum(map(ord, d)) % 3),
    gen.uncovered_doc,
    gen.no_toc_doc,
    gen.fallback_doc,
    gen.html_doc,
]

# web-shaped mix: 2/3 raw-HTML docs, 1/3 interleaved media docs
WEB_FAMILIES: List[Builder] = [gen.html_doc, gen.html_doc, gen.media_doc]


@dataclass(frozen=True)
class Workload:
    name: str
    families: List[Builder]
    n_docs: int
    n_mega: int = 0
    mega_spans: int = 0  # fixtures.gen.mega_doc's n_spans argument
    # the mega_doc_span_threshold of the config ``run_resumable`` is
    # handed; the CLI's ``--mode pipeline`` always runs the default
    mega_threshold: int = DEFAULT_CONFIG.mega_doc_span_threshold
    # "pipeline": one CLI ``--mode pipeline`` call per invocation;
    # "resume": ``run_resumable`` over every bucket in one wave, then the
    # CLI's ``--mode resume`` call, which must skip every bucket
    mode: str = "pipeline"


WORKLOADS = {
    "mixed": Workload("mixed", MIXED_FAMILIES, n_docs=1040),
    # mega_doc(n_spans=20_000) emits 400 pages of 50 blocks plus 399
    # page breaks: 20,399 spans, just above a 20k threshold.  A doc above
    # the default 100k threshold costs about 7 s more per run on a slow
    # 4-core host, which the time budget of a set of runs cannot carry
    "web_mega": Workload("web_mega", WEB_FAMILIES, n_docs=450, n_mega=1,
                         mega_spans=20_000, mega_threshold=20_000,
                         mode="resume"),
}


def build_corpus(workload: Workload, seed: int) -> List[Doc]:
    """Deterministic ``(doc_id, spans)`` docs: every doc draws from its
    own ``Random`` keyed by (workload, seed, index)."""
    docs = []
    n_fam = len(workload.families)
    for i in range(workload.n_docs):
        doc_id = f"{workload.name}-{seed}-{i:06d}-f{i % n_fam:02d}"
        rng = random.Random(f"{workload.name}:{seed}:{i}")
        docs.append(gen._doc_to_spans(workload.families[i % n_fam](rng, doc_id), rng))
    for j in range(workload.n_mega):
        doc_id = f"{workload.name}-{seed}-mega{j:02d}"
        rng = random.Random(f"{workload.name}:{seed}:mega:{j}")
        docs.append(gen._doc_to_spans(gen.mega_doc(rng, doc_id, workload.mega_spans), rng))
    return docs


def files_digest(path: str) -> str:
    """sha256 over the written parquet files, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def has_html(doc: Doc) -> bool:
    return any(s.get("kind") == "html" for s in doc["spans"] or ())


def write_parquet(docs: List[Doc], path: str, n_files: int = 4) -> int:
    """Write ``docs`` sorted by doc_id into ``n_files`` contiguous
    doc_id ranges (the range layout the pipeline's reader expects).
    Returns the bytes written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([pa.field("doc_id", pa.string(), nullable=False),
                        pa.field("spans", pa.list_(span))])
    ordered = sorted(docs, key=lambda d: d["doc_id"])
    os.makedirs(path, exist_ok=True)
    per_file = -(-len(ordered) // n_files)
    total = 0
    for k in range(n_files):
        part = ordered[k * per_file:(k + 1) * per_file]
        if not part:
            continue
        table = pa.Table.from_pylist(
            [{"doc_id": d["doc_id"],
              "spans": [{f: s.get(f) for f in ("kind", "text", "media_ref",
                                              "offset")} for s in d["spans"]]}
             for d in part],
            schema=schema,
        )
        f = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(table, f)
        total += os.path.getsize(f)
    return total
