"""Physical-plan audit: print `.explain("formatted")` for the key
operators and grep the properties that matter at 100 TB:

- PushedFilters / ReadSchema on parquet scans (pushdown + pruning)
- BroadcastHashJoin where a side is a small dim
- Exchange count (shuffles) per pipeline stage
- WholeStageCodegen spans vs ArrowEvalPython / FlatMapGroupsInPandas

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pdf_parser_spark import driver_queries as dq  # noqa: E402
from pdf_parser_spark.session import cache_stage, get_spark  # noqa: E402


def _executed_tree(plan: str) -> str:
    """The physical-plan tree with cached-relation subtrees pruned:
    everything nested under an ``InMemoryRelation`` is the plan that
    built the cache, not what this query executes — counting it inflates
    shuffle/py-stage numbers by one full copy per cache reference."""
    out = []
    prune_indent = None
    for line in plan.splitlines():
        stripped = line.lstrip(" :+-*")
        indent = len(line) - len(stripped)
        if prune_indent is not None:
            if indent > prune_indent:
                continue
            prune_indent = None
        if "InMemoryRelation" in line:
            prune_indent = indent
            continue
        out.append(line)
    return "\n".join(out)


def summarize(name: str, df) -> None:
    raw = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    plan = _executed_tree(raw)

    # formatted mode prints every node twice — once in the tree
    # ("+- * BroadcastHashJoin Inner BuildRight (4)") and once as a
    # details heading ("(4) BroadcastHashJoin") — so count only tree
    # lines (they END with the node id) to get real node counts, not
    # 2× them
    def nodes(pat: str) -> int:
        return sum(
            1
            for ln in plan.splitlines()
            if re.search(r"\b(?:%s)\b" % pat, ln)
            and re.search(r"\(\d+\)\s*$", ln)
            and not ln.lstrip().startswith("(")
        )

    exchanges = nodes(r"Exchange|ShuffleQueryStage")
    bhj = nodes(r"BroadcastHashJoin")
    smj = nodes(r"SortMergeJoin")
    bnl = nodes(r"BroadcastNestedLoopJoin")
    codegen = len(re.findall(r"WholeStageCodegen", plan))
    arrow = nodes(r"ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    pushed = [p for p in pushed if p.strip()]
    print(
        f"{name:28s} exch={exchanges:2d} bhj={bhj} smj={smj} bnl={bnl} "
        f"codegen={codegen:2d} pyStages={arrow} "
        f"pushed={'Y' if pushed else '-'}"
    )
    if "-v" in sys.argv:
        print(raw)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(master="local[8]", shuffle_partitions=8)

    # module attributes: some audited queries are suite members rather
    # than registered composites
    qs = {
        name: getattr(dq, name)
        for name in dir(dq)
        if callable(getattr(dq, name, None))
    }
    for name in [
        "f1_page_prune",
        "a1_tpch_pricing_summary",
        "j1_broadcast_dim_join",
        "j2_range_join",
        "j3_anti_join",
        "w5_topk_per_group",
        "dedup_lsh_pairs",
        "sim_cosine_topk",
        "text_token_counts",
        "pipeline_span_sequence",
        "pipeline_inline_html",
    ]:
        summarize(name, qs[name](spark, sf_dir))

    # pipeline stages over fixture input
    from pdf_parser_spark.fixtures.gen import fixture_corpus, to_spark_df
    from pdf_parser_spark.operators import metadata as M
    from pdf_parser_spark.operators import pages as P
    from pdf_parser_spark.operators import sections as S
    from pdf_parser_spark.operators import toc as T

    docs = to_spark_df(spark, fixture_corpus(n_docs=6))
    valid = P.valid_spans(P.explode_spans(docs))
    pages = P.pages_df(valid)
    meta = M.metadata_df(docs, pages)
    summarize("stage:span_sequence", P.span_sequence_df(valid))
    summarize("stage:pages", pages)
    summarize("stage:metadata", meta)
    # audit the stages the way the pipeline actually runs them: each
    # stage boundary materialized (session.cache_stage ≙ the production
    # Iceberg stage table), so downstream plans read InMemoryTableScan
    # instead of re-inlining the upstream lineage — the un-persisted
    # plan string duplicates every consumer branch and inflates
    # exchange/py counts ~30x beyond anything that executes
    cached: list = []
    pages = cache_stage(pages, cached)
    meta = cache_stage(meta, cached)
    toc = cache_stage(T.toc_entries_df(pages, meta, cache=cached), cached)
    # with toc itself cached this row reads ~all-zeros (a bare cache
    # scan) — the authoritative per-stage plan assertions live in
    # tests/test_plans.py (single Arrow stage, single exchange, etc.);
    # the un-persisted printout here duplicates shared lazy subtrees
    # hundreds of times and measures the PRINTER, not the job
    summarize("stage:toc(cached-in)", toc)
    sec = S.sections_df(pages, toc, meta, cache=cached)
    summarize("stage:sections(cached-in)", sec)
    print(
        "note: stage counts are PLAN-STRING occurrences.  The sections "
        "plan references its cached inputs ~hundreds of times because "
        "the union/anti-join branches repeat shared lazy subtrees in "
        "the printout; at runtime each reference is one cache read and "
        "ReuseExchange/AQE dedupe the rest — the executed job runs "
        "~15 shuffle stages (see the Spark UI / bench stage counts), "
        "not the printed number."
    )
    for df in cached:
        df.unpersist()

if __name__ == "__main__":
    main()
