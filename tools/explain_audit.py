"""Physical-plan audit: print `.explain("formatted")` for the key
operators and grep the properties that matter at 100 TB:

- PushedFilters / ReadSchema on parquet scans (pushdown + pruning)
- BroadcastHashJoin where a side is a small dim, and the BroadcastExchange
  count (`bcast`: each is a side job of its own when AQE is off)
- Exchange count (shuffles) per pipeline stage
- Generate count (`gen`: explode / posexplode nodes)
- WholeStageCodegen spans vs ArrowEvalPython / FlatMapGroupsInPandas

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pdf_parser_spark import driver_queries as dq  # noqa: E402
from pdf_parser_spark.session import get_spark  # noqa: E402


def summarize(name: str, df) -> None:
    plan = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )

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
    # with AQE off each broadcast exchange runs as a Spark job of its own
    bcast = nodes(r"BroadcastExchange")
    gen = nodes(r"Generate")
    codegen = len(re.findall(r"WholeStageCodegen", plan))
    arrow = nodes(r"ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    pushed = [p for p in pushed if p.strip()]
    print(
        f"{name:28s} exch={exchanges:2d} bhj={bhj} smj={smj} bnl={bnl} "
        f"bcast={bcast} gen={gen} "
        f"codegen={codegen:2d} pyStages={arrow} "
        f"pushed={'Y' if pushed else '-'}"
    )
    if "-v" in sys.argv:
        print(plan)


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
        # the mega-doc two-phase path (probe + literal cut points)
        "w2_mega_salted",
        "w2_mega_breakless",
    ]:
        summarize(name, qs[name](spark, sf_dir))

    # pipeline stages over fixture input: walk the pipeline's own stage
    # graph (pipeline.stage_graph) in its listed order, summarizing each
    # stage's plan and then writing it with the stage's writer, so that
    # downstream plans start from the file scans run_pipeline gives them;
    # the authoritative per-stage plan assertions live in
    # tests/test_plans.py
    from pdf_parser_spark.fixtures.gen import fixture_corpus, to_spark_df
    from pdf_parser_spark.pipeline import stage_graph

    docs = to_spark_df(spark, fixture_corpus(n_docs=6))
    with tempfile.TemporaryDirectory(prefix="explain_audit_") as stage_ref:
        frames = {}
        for st in stage_graph(docs, stage_ref, normalize_html=True):
            df = st.plan(*[frames[n] for n in st.inputs])
            summarize(f"stage:{st.name}", df)
            frames[st.name] = df if st.write is None else st.write(df)[0]

if __name__ == "__main__":
    main()
