"""Physical-plan assertions: the plans we want at 100 TB, not just plans
that pass (filter pushdown, broadcast joins, no Python in native paths)."""

import pytest

from pdf_parser_spark import driver_queries as dq

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def qs():
    # suite members stay importable as module attributes — plan
    # assertions target the member query, not the registered composite
    return {
        name: getattr(dq, name)
        for name in (
            "f1_page_prune", "o4_truncation", "j1_broadcast_dim_join",
            "j3_anti_join", "a1_tpch_pricing_summary",
            "w5_topk_per_group", "dedup_minhash_signature",
            "sim_cosine_topk", "text_token_counts",
        )
    }


def test_filter_pushdown_reaches_scan(spark, qs):
    plan = _plan(qs["f1_page_prune"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(event_id), LessThanOrEqual(event_id,60)" in plan


def test_column_pruning(spark, qs):
    plan = _plan(qs["o4_truncation"](spark, SF_DIR))
    # scan must read only the 2 needed columns of the 5-column table
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_dim_join_broadcasts(spark, qs):
    plan = _plan(qs["j1_broadcast_dim_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_anti_join_strategy(spark, qs):
    plan = _plan(qs["j3_anti_join"](spark, SF_DIR))
    assert "LeftAnti" in plan


def test_native_paths_have_no_python(spark, qs):
    for name in ("a1_tpch_pricing_summary", "w5_topk_per_group",
                 "dedup_minhash_signature", "sim_cosine_topk",
                 "text_token_counts"):
        plan = _plan(qs[name](spark, SF_DIR))
        assert "Python" not in plan, f"{name} fell off the JVM path"


def test_toc_has_single_udf_stage(spark):
    """The TOC stage's only JVM↔Python crossing is the fused line-features
    UDF (SURVEY.md §4d).  Uses an isolated lineage + cleared cache so
    other tests' cached subtrees can't rewrite the plan."""
    from pdf_parser_spark.fixtures.gen import fixture_corpus, to_spark_df
    from pdf_parser_spark.operators import pages as P
    from pdf_parser_spark.operators import toc as T

    spark.catalog.clearCache()
    docs = to_spark_df(spark, fixture_corpus(n_docs=4))
    pages = P.pages_df(P.valid_spans(P.explode_spans(docs)))
    feats = T.toc_features_df(pages)
    plan = _plan(feats)
    assert plan.count("ArrowEvalPython") == 1


def test_span_sequence_single_exchange_no_python(spark, docs_df):
    """Reassembly is one doc_id exchange feeding a chain of window sorts:
    no Python stages, no join (the old two-phase variant doubled the scan
    lineage and joined a corpus-cardinality offsets relation), no global
    range sort, no broadcast of anything corpus-sized."""
    from pdf_parser_spark.operators import pages as P

    out = P.span_sequence_df(P.valid_spans(P.explode_spans(docs_df)))
    plan = _plan(out)
    assert "Python" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(doc_id" in plan
    # no global sort: the Exchange is hash, never range
    assert "rangepartitioning" not in plan
    optimized = _optimized(out)
    assert "ResolvedHint" not in optimized
    assert ", broadcast" not in optimized


def test_bucketed_docs_reassembly_is_shuffle_free(spark, docs_df, tmp_path):
    """North rule: "doc_id-range bucketing for shuffle-free reassembly".
    Reading the corpus from a doc_id-bucketed table, the scan itself
    satisfies the window chain's clustering — the whole reassembly plans
    with ZERO exchanges (the ad-hoc parquet path pays one), and the
    output is row-identical to the ad-hoc path."""
    from pdf_parser_spark.operators import pages as P
    from pdf_parser_spark.sources import tables as tbl

    name = "docs_bucketed_plan_test"
    tbl.write_bucketed_table(
        docs_df, name, n_buckets=4, bucket_col="doc_id",
        sort_cols=("doc_id",), path=str(tmp_path / "docs_bucketed"),
    )
    try:
        bucketed = tbl.read_table(spark, f"table:{name}")
        out = P.span_sequence_df(P.valid_spans(P.explode_spans(bucketed)))
        plan = _plan(out)
        assert "Exchange" not in plan
        assert "Python" not in plan
        assert "Join" not in plan
        # identical rows to the single-exchange ad-hoc path
        ad_hoc = P.span_sequence_df(P.valid_spans(P.explode_spans(docs_df)))
        cols = ad_hoc.columns
        assert sorted(map(tuple, out.select(*cols).collect())) == sorted(
            map(tuple, ad_hoc.collect())
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_link_media_broadcast_is_gated(spark, docs_df):
    """link_media must not hard-wire a broadcast of the media dimension
    (unbounded at corpus scale); the hint appears only on opt-in."""
    from pdf_parser_spark.functions import multimodal as mm
    from pdf_parser_spark.operators import pages as P

    spans = P.span_sequence_df(P.valid_spans(P.explode_spans(docs_df)))
    media = mm.synthesize_media(spark, docs_df)

    default = mm.link_media(spans, media)
    assert ", broadcast" not in _optimized(default)
    assert default.count() >= 0  # runs end-to-end

    opted_in = mm.link_media(spans, media, broadcast=True)
    plan = _plan(opted_in)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_ann_bucketed_scan_prunes_partitions(spark, tmp_path):
    """The probe IN-list must land in the scan's PartitionFilters (file
    listing prunes to probe buckets), not in a post-scan Filter — the
    difference between reading 5/16 directories and reading the table."""
    import numpy as np

    from pdf_parser_spark.functions import similarity as sim

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(64, 16)).astype("float64")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(64)],
        ["vec_id", "embedding"],
    )
    path = str(tmp_path / "emb_bucketed")
    sim.write_bucketed(df, path, dim=16, n_bits=4)
    q = [float(x) for x in vecs[0]]
    out = sim.ann_topk_bucketed(spark, path, q, k=5, n_bits=4, radius=1)
    plan = _plan(out)
    assert "PartitionFilters" in plan
    # the bucket predicate is a partition filter on the scan ...
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "bucket" in pf and "IN" in pf.upper()
    # ... and the probe set is the expected 1 + n_bits buckets
    assert len(sim.probe_buckets(q, n_bits=4, radius=1)) == 5


def test_ivf_partitioned_scan_prunes_partitions(spark, tmp_path):
    """Same pruning contract as the LSH bucket layout: the IVF probe
    IN-list must be a PartitionFilter on the scan (only probe-list
    directories are listed/read), not a post-scan Filter."""
    import re

    import numpy as np

    from pdf_parser_spark.functions import similarity as sim

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(64, 16)).astype("float64")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(64)],
        ["vec_id", "embedding"],
    )
    cents = sim.seed_centroids(16, 8)
    path = str(tmp_path / "emb_ivf")
    sim.write_ivf(df, path, cents)
    q = [float(x) for x in vecs[0]]
    out = sim.ivf_topk_partitioned(spark, path, q, cents, k=5, n_probe=2)
    plan = _plan(out)
    assert "PartitionFilters" in plan
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "list_id" in pf and "IN" in pf.upper()
    assert len(sim.query_probe_lists(q, cents, 2)) == 2


@pytest.fixture(scope="module")
def stage_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("stages"))


@pytest.fixture(scope="module")
def written_pipeline(docs_df, stage_dir):
    """One pipeline run: its frames read the written stage tables."""
    from pdf_parser_spark.pipeline import run_pipeline

    return run_pipeline(docs_df, stage_dir)


def _graph_plans(spark, docs_df, stage_dir, res, names, aqe=None):
    """The physical plans of the graph's ``names`` stages, each planned
    as the graph plans it: over the written stage tables it reads.
    ``aqe`` sets adaptive execution for the planning (None: the
    session's setting).  Returns the JVM plans by stage name."""
    from pdf_parser_spark.pipeline import stage_graph

    frames = {n: getattr(res, n)
              for n in ("pages", "metadata", "toc", "sections")}
    graph = {st.name: st for st in stage_graph(docs_df, stage_dir)}
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    if aqe is not None:
        spark.conf.set(key, str(aqe).lower())
    try:
        return {
            name: graph[name].plan(
                *[frames[n] for n in graph[name].inputs]
            )._jdf.queryExecution().executedPlan()
            for name in names
        }
    finally:
        spark.conf.set(key, prev)


def _walk(node, above=()):
    """Each physical node of a JVM plan with the nodes above it (an
    unexecuted adaptive plan is walked through its current plan)."""
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.executedPlan()
    yield node, above
    kids = node.children()
    for i in range(kids.size()):
        yield from _walk(kids.apply(i), above + (node,))


def test_metrics_is_one_groupby_without_joins(docs_df, written_pipeline):
    """The per-doc rollup (A1-A11) is one union of tagged partial rows
    and one doc_id aggregate: one shuffle exchange, no join (so no
    broadcast side jobs), no window.  It reads the written sections
    table, the last stage on the graph's critical path."""
    from pdf_parser_spark.pipeline import stage_graph

    plan = _plan(written_pipeline.metrics)
    assert plan.count("Exchange") == 1
    assert "Exchange hashpartitioning(doc_id" in plan
    assert "Join" not in plan
    assert "Window" not in plan
    graph = {st.name: st for st in stage_graph(docs_df, "unused")}
    assert graph["metrics"].inputs == (
        "pages", "toc", "sections", "metadata"
    )


def test_sections_preorder_needs_no_page_totals(written_pipeline):
    """W1's last TOC range is open-ended: sections_preorder_df neither
    aggregates nor reads pages.total_pages."""
    from pdf_parser_spark.operators import sections as S

    res = written_pipeline
    plan = _plan(S.sections_preorder_df(res.pages, res.toc, res.metadata))
    assert "total_pages" not in plan


@pytest.mark.parametrize("aqe", [False, True])
def test_per_doc_stages_plan_without_broadcast(
    spark, docs_df, stage_dir, written_pipeline, aqe
):
    """pages, metadata, toc and sections each run as one job: their
    plans (over the written stage tables, as the graph plans them) hold
    no join, so no broadcast exchange — with AQE off each broadcast is
    a side job of its own.  pages and metadata shuffle once, and pages
    explodes the span array once."""
    plans = {
        name: plan.toString()
        for name, plan in _graph_plans(
            spark, docs_df, stage_dir, written_pipeline,
            ("pages", "metadata", "toc", "sections"), aqe,
        ).items()
    }
    for name, plan in plans.items():
        for node in ("BroadcastExchange", "BroadcastHashJoin",
                     "BroadcastNestedLoopJoin", "Join"):
            assert node not in plan, (name, node)
    for name in ("pages", "metadata"):
        assert plans[name].count("Exchange") == 1, name
    import re

    span_generates = re.findall(r"Generate \w+\(spans#", plans["pages"])
    assert len(span_generates) == 1


@pytest.mark.parametrize("aqe", [False, True])
def test_toc_and_sections_cross_into_python_once(
    spark, docs_df, stage_dir, written_pipeline, aqe
):
    """The toc job evaluates the TOC line features and the sections job
    the J5 content split, each in one Arrow crossing: the features' one
    consumer filters on the UDF's output, and only the UDF's pushdown
    barrier keeps the optimizer from evaluating it a second time below
    that filter.  Neither plan joins or broadcasts; toc shuffles at
    most twice (the content-start cut, the entries' pass) and sections
    at most three times (two pre-order branches, W5)."""
    plans = {
        name: plan.toString()
        for name, plan in _graph_plans(
            spark, docs_df, stage_dir, written_pipeline,
            ("toc", "sections"), aqe,
        ).items()
    }
    for name, plan in plans.items():
        assert plan.count("ArrowEvalPython") == 1, (name, plan)
        assert "Join" not in plan, name
        assert "BroadcastExchange" not in plan, name
    assert plans["toc"].count("Exchange") <= 2, plans["toc"]
    assert plans["sections"].count("Exchange") <= 3, plans["sections"]


def test_w5_section_content_crosses_one_exchange(
    spark, docs_df, stage_dir, written_pipeline
):
    """The sections job builds each section's content (the J2 content
    aggregate, the J5 UDF) and numbers the sections (W5) with no table
    in between: every file it scans is one of its input stage tables,
    and the content crosses exactly one exchange on its way to the W5
    window — the one that window requires, with AQE off and on."""
    for aqe in (False, True):
        plan = _graph_plans(
            spark, docs_df, stage_dir, written_pipeline, ("sections",), aqe
        )["sections"]
        nodes = list(_walk(plan))
        scans = [n.toString() for n, _ in nodes
                 if n.nodeName().startswith("Scan parquet")]
        assert scans and all(
            any(f"{stage_dir}/{t}]" in s for t in ("pages", "toc", "metadata"))
            for s in scans
        ), scans
        builders = [
            above for n, above in nodes
            if n.nodeName() == "ArrowEvalPython"
            or (n.nodeName() == "ObjectHashAggregate"
                and "collect_list" in n.toString())
        ]
        assert len(builders) >= 2, aqe
        for above in builders:
            crossings = [a for a in above if a.nodeName() == "Exchange"]
            assert len(crossings) == 1, (aqe, [a.toString() for a in above])
            (ex,) = crossings
            out = ex.output()
            assert "content" in {out.apply(i).name()
                                 for i in range(out.size())}
            ordered = above[:above.index(ex)]
            assert any(a.nodeName() == "Window"
                       and "row_number()" in a.toString()
                       for a in ordered), aqe


def test_per_doc_stages_make_no_row_copies(
    spark, docs_df, stage_dir, written_pipeline
):
    """A doc_id is one document, so no per-doc stage rebuilds a left
    join's row copies with an explode: metadata and metrics plan no
    Generate, toc only the two that yield a page's candidate lines and
    a line's candidates, and sections only the one that yields a page's
    sections."""
    import re

    res = written_pipeline
    generates = {
        name: len(re.findall(r"\bGenerate ", plan.toString()))
        for name, plan in _graph_plans(
            spark, docs_df, stage_dir, res,
            ("metadata", "toc", "sections", "metrics"),
        ).items()
    }
    assert generates == {
        "metadata": 0, "toc": 2, "sections": 1, "metrics": 0
    }


@pytest.fixture(scope="module")
def mega_pipeline(spark, tmp_path_factory):
    """One pipeline run over a parquet corpus with one mega doc past a
    lowered threshold, html normalization on, and spans_out written
    through a sink as the CLI writes it.  AQE is off, as perfbench runs
    it: with AQE on, every query stage is a job of its own.  Returns the
    stage dir, the corpus, the config, the mega doc's id and the
    descriptions of the run's jobs."""
    from dataclasses import replace

    from pdf_parser_spark.config import DEFAULT_CONFIG
    from pdf_parser_spark.fixtures.gen import fixture_corpus, to_spark_df
    from pdf_parser_spark.pipeline import run_pipeline
    from pdf_parser_spark.sources import tables

    base = tmp_path_factory.mktemp("mega")
    corpus = fixture_corpus(n_docs=8, mega_spans=600)
    to_spark_df(spark, corpus).write.parquet(str(base / "in"))
    docs = spark.read.parquet(str(base / "in"))
    cfg = replace(DEFAULT_CONFIG, mega_doc_span_threshold=500)
    stage_dir = str(base / "stages")
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    group = "test-mega-spans-out"
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    sc.setJobGroup(group, "mega pipeline")
    try:
        run_pipeline(
            docs, stage_dir, cfg, normalize_html=True,
            sinks={"spans_out": lambda df: tables.write_and_read(
                df, f"{stage_dir}/spans_out")},
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set(key, prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    descriptions = []
    for j in sc.statusTracker().getJobIdsForGroup(group):
        desc = store.job(j).description()
        descriptions.append(desc.get() if desc.isDefined() else None)
    mega_id = next(d["doc_id"] for d in corpus if d["doc_id"].endswith("mega"))
    return stage_dir, docs, cfg, mega_id, descriptions


def test_mega_spans_out_is_two_jobs(mega_pipeline):
    """With a mega doc routed to the two-phase path, spans_out runs the
    bounded mega-id probe and its write, and no broadcast side job."""
    descriptions = mega_pipeline[-1]
    assert descriptions.count("spans_out") == 2, descriptions


@pytest.mark.parametrize("aqe", [False, True])
def test_mega_spans_out_plan_scans_once_without_broadcast(
    spark, mega_pipeline, aqe
):
    """spans_out's plan with a mega doc routed: no broadcast, and the
    two-phase branch scans the mega rows once — one FileScan of the
    corpus and one of the html rewrite — because the carry aggregate
    reads the detail rows' chunk exchange, which Spark reuses (AQE
    reuses it as it runs, so its final plan is read)."""
    from pdf_parser_spark.pipeline import stage_graph
    from pdf_parser_spark.sources import tables

    stage_dir, docs, cfg, mega_id, _ = mega_pipeline
    graph = {
        st.name: st
        for st in stage_graph(docs, stage_dir, cfg, normalize_html=True)
    }
    rewritten = tables.read_table(
        spark, tables.internal_ref(stage_dir, "html_rewrite")
    )
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(aqe).lower())
    try:
        df = graph["spans_out"].plan(rewritten)
        df.collect()
        plan = _plan(df).split("== Initial Plan ==")[0]
    finally:
        spark.conf.set(key, prev)
    assert "BroadcastExchange" not in plan
    assert "_obucket" in plan
    mega_scans = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and f"EqualTo(doc_id,{mega_id})" in ln
        and "Not(EqualTo" not in ln
    ]
    assert len(mega_scans) == 2, mega_scans
