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
    feats = T._line_features_df(T.toc_candidate_lines(pages))
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


def test_w5_ordering_window_is_content_free(spark, docs_df, tmp_path):
    """The final sections ordering (W5) must window over a SKINNY
    projection — the assembled `content` strings stay out of the
    row_number exchange/sort (they made the core-scaling pair DRAM-
    bound) and re-attach through a hash join, never a sort-merge join
    (which would re-sort the strings and give the win back)."""
    from pdf_parser_spark.operators import metadata as MD
    from pdf_parser_spark.operators import pages as P
    from pdf_parser_spark.operators import sections as S
    from pdf_parser_spark.operators import toc as T
    from pdf_parser_spark.config import DEFAULT_CONFIG as cfg

    flat = P.explode_spans(docs_df)
    valid = P.valid_spans(flat)
    pages = P.pages_df(valid, cfg)
    metadata = MD.metadata_df(docs_df, pages, cfg)
    toc = T.toc_entries_df(pages, metadata, str(tmp_path), cfg)
    out = S.sections_df(pages, toc, metadata, str(tmp_path), cfg)
    plan = _plan(out)
    # the re-attach join (keyed by the 5-col section identity — only it
    # references intra_order) must be a hash join, never sort-merge
    import re

    for m in re.finditer(r"(\w*Join) \[[^\]]*intra_order[^\]]*\]", plan):
        assert m.group(1) == "ShuffledHashJoin", m.group(0)
    assert "ShuffledHashJoin" in plan
    # every Window node's input projection excludes `content`
    for m in re.finditer(r"Window \[[^\]]*\]", plan):
        assert "content" not in m.group(0)
    # the skinny ordering window is present (row_number over doc_id)
    assert "row_number()" in plan


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
        bucketed = tbl.read_bucketed_table(spark, name)
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
