"""Benchmark harness: headline queries + end-to-end extraction pipeline.

Prints ONE JSON line:
  {"metric": "documents/sec end-to-end extraction", "value": N,
   "unit": "sec", "queries": {...per-query seconds...}, "sf": 0.1,
   "docs": N, "cpus": N}

Inputs:
- relational queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
- the extraction pipeline on a deterministic fixture corpus
  ($SPARK_GRAFT_BENCH_DOCS docs, seed 42) cached as parquet under
  .bench_cache/ with doc_id-range layout (the production bucketing).

Parallelism: local[$SPARK_GRAFT_CPUS] (default 32).  The N-vs-4N scaling
evidence (BASELINE.json criterion) is produced by tools/scaling_bench.py,
which runs this harness at two CPU counts on identical input.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from pdf_parser_spark import driver_queries as dq  # noqa: E402
from pdf_parser_spark.fixtures.gen import bench_corpus_df  # noqa: E402
from pdf_parser_spark.pipeline import read_documents, run_pipeline  # noqa: E402
from pdf_parser_spark.session import get_spark  # noqa: E402

RELATIONAL = [
    "a1_tpch_pricing_summary",
    "j1_broadcast_dim_join",
    "j2_range_join",
    "w1_lead_boundaries",
    "w5_topk_per_group",
    "dedup_minhash_signature",
    "dedup_lsh_pairs",
    "sim_cosine_topk",
    "text_token_counts",
]


def ensure_corpus(spark, n_docs: int, mega_spans: int) -> str:
    # v3: adds the html_doc family (raw-HTML payload spans), so the
    # benched pipeline covers the north rule's boilerplate strip
    path = REPO / ".bench_cache" / f"corpus_v3_{n_docs}_{mega_spans}"
    marker = path / "_SUCCESS_LOCAL"
    if not marker.exists():
        if path.exists():
            shutil.rmtree(path)
        # distributed generation (per-doc seeded) + doc_id-range layout
        df = bench_corpus_df(spark, n_docs, mega_spans)
        df.repartitionByRange(64, "doc_id").write.mode(
            "overwrite"
        ).parquet(str(path))
        marker.write_text("ok")
    return str(path)


def ensure_bucketed(spark, corpus_path: str, n_buckets: int = 32) -> str:
    """doc_id-bucketed twin of the bench corpus (north rule: bucketing
    for shuffle-free reassembly).  Files are written once and re-attached
    to each fresh session's catalog with DDL only (the bucket spec is
    catalog metadata, not file content)."""
    from pdf_parser_spark.sources import tables as T

    # table name keyed by corpus identity (n_docs/mega live in the
    # corpus dir name) + bucket count: a persisted metastore entry from
    # a run with a DIFFERENT corpus size can never shadow this one
    # (ADVICE r3 — the fixed name silently reused stale registrations)
    name = f"bench_docs_bucketed_{Path(corpus_path).name}_{n_buckets}"
    path = corpus_path + f"_bucketed{n_buckets}"
    marker = Path(path) / "_SUCCESS_LOCAL"
    docs = read_documents(spark, corpus_path)
    if not marker.exists():
        if Path(path).exists():
            shutil.rmtree(path)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        T.write_bucketed_table(
            docs, name, n_buckets=n_buckets, path=path
        )
        marker.write_text("ok")
    elif not spark.catalog.tableExists(name):
        T.register_bucketed_table(
            spark, name, path, n_buckets, docs._jdf.schema().toDDL()
        )
    return f"table:{name}"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "160000"))
    mega_spans = int(os.environ.get("SPARK_GRAFT_BENCH_MEGA", "20000"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    # span-heavy rows: the default 8g heap is tight for 32 concurrent
    # vectorized scans; size it unless the caller chose explicitly
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    # local-mode bench defaults (all documented in BENCH/README.md):
    # AQE off — its per-exchange re-planning is driver-serial and costs
    # ~35% wall in single-JVM mode (production clusters keep it on);
    # one warm repeat — steady-state throughput, not JIT warmup.
    os.environ.setdefault("SPARK_GRAFT_AQE", "0")
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))

    # shuffle partitions FIXED (not scaled by cpus): the N-vs-4N scaling
    # comparison must run the identical plan and partitioning at both
    # levels so only executor parallelism varies
    sp = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    # concurrency K: run K pipeline instances over K disjoint doc slices
    # in K driver threads (FAIR scheduler).  K=1 is the latency view; K>1
    # is the steady-state view — in production many bucket-waves are in
    # flight at once, so per-stage barrier latency overlaps with other
    # waves' compute instead of serializing the whole cluster.
    conc = int(os.environ.get("SPARK_GRAFT_BENCH_CONCURRENCY", "4"))
    # console progress bars off: the JSON line must be the output's tail
    extra_conf = {"spark.ui.showConsoleProgress": "false"}
    if conc > 1:
        extra_conf["spark.scheduler.mode"] = "FAIR"
    spark = get_spark(
        app_name="pdf_parser_spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=sp,
        extra_conf=extra_conf,
    )

    corpus_path = ensure_corpus(spark, n_docs, mega_spans)
    docs = read_documents(spark, corpus_path)
    total_docs = docs.count()

    times: dict = {}

    def timed(name, fn, reps=1):
        """Run ``fn`` ``reps`` times; record the fastest run's seconds."""
        best = float("inf")
        for _ in range(max(1, reps)):
            t0 = time.perf_counter()
            out = fn()
            best = min(best, time.perf_counter() - t0)
        times[name] = round(best, 3)
        return out

    # --- end-to-end extraction pipeline (the BASELINE.json metric) -------
    def run_one(docs_df):
        # normalize_html inside the timed path: the corpus interleaves
        # raw-HTML payload spans (1/13 of docs), and the north-star
        # metric is END-TO-END extraction — boilerplate strip included.
        # Each call (the concurrent slices too) stages into its own dir.
        with tempfile.TemporaryDirectory(prefix="bench_stage_") as stage:
            r = run_pipeline(docs_df, stage, normalize_html=True)
            # force every output table (spans_out is the flagship; toc/
            # sections/metrics are the remaining reference steps)
            return (
                r.spans_out.count()
                + r.toc.count()
                + r.sections.count()
                + r.metrics.count()
                + r.quarantine.count()
            )

    def pipe():
        if conc <= 1:
            return run_one(docs)
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import functions as F

        slices = [
            docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(conc)) == i)
            for i in range(conc)
        ]
        with ThreadPoolExecutor(max_workers=conc) as ex:
            return sum(ex.map(run_one, slices))

    # repeats: warmup runs pay JVM JIT + python-worker startup so the
    # last run measures steady-state throughput (what a long-running
    # cluster job actually sustains).  Warmups run on a 1/8 doc slice —
    # code paths warm identically at a fraction of the cost.
    if repeats > 1:
        from pyspark.sql import functions as F

        warm_slice = docs.filter(
            F.pmod(F.xxhash64("doc_id"), F.lit(8)) == 0
        )
        for rep in range(repeats - 1):
            timed(f"pipeline_warmup{rep}", lambda: run_one(warm_slice))
    timed("pipeline_e2e", pipe)
    docs_per_sec = round(total_docs / times["pipeline_e2e"], 2)

    # --- relational/curation headline queries at sf_dir ------------------
    # best-of-N per query: this shared box swings ±20%+ run-to-run
    # (BENCH/README "Run-to-run variance"), and on sub-second queries a
    # ~1 s ambient stall trips the regression gate's +1 s floor — the
    # minimum over N alternating runs is the standard de-noised estimate
    # of the code's actual cost (both r4 "regressions" reproduced at
    # ~half the flagged wall on the same commit).
    if not os.environ.get("SPARK_GRAFT_BENCH_SKIP_RELATIONAL"):
        micro_reps = int(
            os.environ.get("SPARK_GRAFT_BENCH_MICRO_REPEATS", "3")
        )
        # module attributes, not dq.queries(): some benched queries are
        # suite members rather than registered composites
        for name in RELATIONAL:
            timed(
                name,
                lambda n=name: getattr(dq, n)(spark, sf_dir).count(),
                reps=micro_reps,
            )

    # --- physical-layout A/B: the W2 reassembly over the ad-hoc parquet
    # corpus (one doc_id exchange) vs the doc_id-bucketed table (zero
    # exchanges — the scan itself satisfies the window clustering) ------
    if not os.environ.get("SPARK_GRAFT_BENCH_SKIP_LAYOUT"):
        from pdf_parser_spark.operators import pages as P

        bucketed = read_documents(
            spark, ensure_bucketed(spark, corpus_path)
        )

        def reassemble(src):
            return P.span_sequence_df(
                P.valid_spans(P.explode_spans(src))
            ).count()

        # one untimed warm pass per layout: the A/B compares steady-state
        # scan+window cost, not whichever side pays JIT/scan-path warmup
        # (first-touch of the bucketed-scan code path measured 10x slower
        # than its own second run on an otherwise-identical table)
        reassemble(docs)
        reassemble(bucketed)
        timed("w2_reassembly_parquet", lambda: reassemble(docs))
        timed("w2_reassembly_bucketed", lambda: reassemble(bucketed))

    result = {
        "metric": "documents/sec end-to-end extraction",
        "value": docs_per_sec,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "docs": total_docs,
        "cpus": cpus,
    }

    # --- round-over-round regression tracking ----------------------------
    # BENCH/baseline_times.json holds one record of per-query seconds
    # per core count; a query is flagged when it exceeds max(2x baseline,
    # baseline + 1s) (the +1s floor de-noises sub-second queries whose
    # wall time is JIT jitter).  Comparison only applies at the record's
    # (sf, docs) for this run's cpus, so local sf0.01 iteration isn't
    # compared against sf0.1 numbers; otherwise ``reason`` says why not.
    # SPARK_GRAFT_BENCH_STRICT=1 exits non-zero on regression.
    baseline_path = REPO / "BENCH" / "baseline_times.json"
    if baseline_path.exists():
        base = json.loads(baseline_path.read_text()).get(str(cpus))
        if base is None:
            reason = f"no baseline for {cpus} cpus"
        elif (base.get("sf"), base.get("docs")) != (sf, total_docs):
            reason = (
                f"the {cpus}-cpu baseline is sf {base.get('sf')}, "
                f"{base.get('docs')} docs; this run is sf {sf}, "
                f"{total_docs} docs"
            )
        else:
            reason = None
        regressions = {}
        if reason is None:
            for name, b in base.get("queries", {}).items():
                t = times.get(name)
                if t is not None and t > max(2 * b, b + 1.0):
                    regressions[name] = {"baseline_s": b, "now_s": t}
        result["baseline"] = {
            "ref": "BENCH/baseline_times.json",
            "comparable": reason is None,
            "regressions": regressions,
        }
        if reason is not None:
            result["baseline"]["reason"] = reason
        if regressions and os.environ.get("SPARK_GRAFT_BENCH_STRICT"):
            print(json.dumps(result))
            sys.exit(1)

    print(json.dumps(result))
    sys.stdout.flush()
    # explicit teardown: a lingering half-alive JVM (observed: 48 GB
    # heap spinning GC at 2 cores) poisons every later run on the box
    spark.stop()


if __name__ == "__main__":
    main()
