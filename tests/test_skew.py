"""Salted join / aggregation: same results as the unsalted equivalents,
with the hot key spread across tasks."""

import re

import pytest
from pyspark.sql import functions as F

from pdf_parser_spark.operators import skew as K


def _hot_df(spark):
    # one hot media_ref (90% of rows) + a long tail
    rows = [(f"doc-{i:04d}", "hot-logo" if i % 10 else f"ref-{i}")
            for i in range(1000)]
    return spark.createDataFrame(rows, ["doc_id", "media_ref"])


def test_salted_join_matches_plain(spark):
    big = _hot_df(spark)
    dim = spark.createDataFrame(
        [("hot-logo", "image"), ("ref-0", "figure"), ("ref-50", "image")],
        ["media_ref", "media_type"],
    )
    plain = big.join(dim, "media_ref").select("doc_id", "media_type")
    salted = K.salted_equi_join(
        big, dim, key="media_ref", salt_from="doc_id", n_salts=8
    ).select("doc_id", "media_type")
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_salted_join_spreads_hot_key(spark):
    big = _hot_df(spark)
    dim = spark.createDataFrame([("hot-logo", "image")],
                                ["media_ref", "media_type"])
    joined = K.salted_equi_join(
        big, dim, key="media_ref", salt_from="doc_id", n_salts=8
    )
    # before the drop, rows of the hot key occupy >1 salt bucket
    salted = big.withColumn(
        "_salt", F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int")
    ).filter(F.col("media_ref") == "hot-logo")
    n_buckets = salted.select("_salt").distinct().count()
    assert n_buckets > 4
    assert joined.count() == 900


def test_salted_agg_matches_plain(spark):
    df = _hot_df(spark).withColumn("v", F.length("doc_id").cast("long"))
    plain = {
        (r.media_ref): (r.n, r.total)
        for r in df.groupBy("media_ref")
        .agg(F.count("*").alias("n"), F.sum("v").alias("total"))
        .collect()
    }
    salted = {
        (r.media_ref): (r.n, r.total)
        for r in K.salted_agg(
            df, key="media_ref", salt_from="doc_id",
            aggs={"n": "*", "total": "v"}, n_salts=8,
        ).collect()
    }
    assert plain == salted


def _skewed_spans(spark, mega_spans=3000, normal_docs=6):
    """Flat valid spans: one mega doc (``mega_spans`` rows, page break
    every 7th span, image every 50th) + a handful of small docs."""
    rows = []
    for d in range(normal_docs):
        for s in range(10):
            kind = "page_break" if s % 4 == 3 else "text"
            rows.append(
                (f"n{d}", s, kind,
                 None if kind == "page_break" else f"doc{d} span {s} words",
                 None, s * 10)
            )
    for s in range(mega_spans):
        kind = (
            "page_break" if s % 7 == 6
            else "image" if s % 50 == 25
            else "text"
        )
        text = None if kind == "page_break" else f"mega span {s} payload"
        ref = f"img-{s}" if kind == "image" else None
        rows.append(("mega", s, kind, text, ref, s * 3))
    return spark.createDataFrame(
        rows, ["doc_id", "seq", "kind", "text", "media_ref", "offset"]
    )


def _docs(valid):
    """The pre-explode (doc_id, spans) table of flat spans — what
    run_pipeline hands span_sequence_skew_df for mega detection."""
    return valid.groupBy("doc_id").agg(
        F.collect_list(
            F.struct("kind", "text", "media_ref", "offset")
        ).alias("spans")
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _low_threshold_cfg(threshold=500, buckets=8):
    from dataclasses import replace

    from pdf_parser_spark.config import DEFAULT_CONFIG

    return replace(
        DEFAULT_CONFIG,
        mega_doc_span_threshold=threshold,
        salt_buckets=buckets,
    )


def test_mega_doc_w2_bit_identical(spark):
    """span_sequence_skew_df must reproduce the single-window W2 output
    exactly — same rows, same order values — when a doc crosses the
    mega threshold."""
    from pdf_parser_spark.operators import pages as P

    valid = _skewed_spans(spark)
    cfg = _low_threshold_cfg()
    plain = sorted(map(tuple, P.span_sequence_df(valid).collect()))
    skew = P.span_sequence_skew_df(valid, cfg, docs=_docs(valid))
    assert plain == sorted(map(tuple, skew.collect()))
    # the mega doc really took the two-phase path, split by the literal
    # id list
    plan = _plan(skew)
    assert "_obucket" in plan
    assert re.search(r"doc_id#\d+ IN \(mega\)", plan)


def _chunked(valid, buckets):
    """The rows of ``valid`` with the chunk span_sequence_skew_df gives
    them: cut points from the pre-explode table, as its probe takes
    them."""
    from pdf_parser_spark.operators import pages as P

    cuts = P._offset_cuts(_docs(valid), buckets)
    return P._with_obucket(valid.join(cuts, "doc_id"), F.col("_cuts"))


def _chunk_sizes(chunked):
    return [
        r.n
        for r in chunked.groupBy("doc_id", "_obucket")
        .agg(F.count("*").alias("n"))
        .collect()
    ]


def test_mega_doc_w2_bounds_task_sizes(spark):
    """Straggler bound: with N offset chunks, no single (doc, chunk)
    group — the unit of per-task window work in the two-phase path —
    holds more than ~2/N of the mega doc's spans."""
    valid = _skewed_spans(spark, mega_spans=3000).filter(
        F.col("doc_id") == "mega"
    )
    sizes = _chunk_sizes(_chunked(valid, 8))
    assert len(sizes) == 8
    assert max(sizes) <= 2 * 3000 / 8


def test_exact_cuts_give_chunks_of_at_most_ceil_n_over_n(spark):
    """The probe's cut points are exact offset ranks: with distinct
    offsets, in any array order, every chunk holds at most ⌈n/N⌉ spans;
    with an offset repeated n/N times, the chunks stay within 2n/N."""
    import math
    import random

    n, buckets = 2999, 8
    offsets = random.Random(7).sample(range(10 * n), n)
    distinct = spark.createDataFrame(
        [("mega", s, "text", f"span {s}", None, o)
         for s, o in enumerate(offsets)],
        "doc_id string, seq int, kind string, text string,"
        " media_ref string, offset int",
    )
    sizes = _chunk_sizes(_chunked(distinct, buckets))
    assert len(sizes) == buckets
    assert max(sizes) <= math.ceil(n / buckets)
    repeated = distinct.withColumn(
        "offset",
        F.when(F.col("seq") < n // buckets, F.lit(5 * n))
        .otherwise(F.col("offset")),
    )
    assert max(_chunk_sizes(_chunked(repeated, buckets))) <= 2 * n / buckets


def _breakless_mega_spans(spark, mega_spans=3000):
    """One mega doc with ZERO page breaks (one giant page) and images
    sprinkled in — the canonical pathological case for per-(doc, page)
    windows: every span shares (doc_id, page)."""
    rows = []
    for s in range(mega_spans):
        kind = "image" if s % 40 == 20 else (
            "table" if s % 97 == 50 else "text"
        )
        ref = f"img-{s}" if kind == "image" else None
        rows.append(("mega", s, kind, f"span {s} body", ref, s * 3))
    rows.append(("tiny", 0, "text", "small doc", None, 0))
    return spark.createDataFrame(
        rows, ["doc_id", "seq", "kind", "text", "media_ref", "offset"]
    )


def test_breakless_mega_doc_bit_identical_and_chunk_bounded(spark):
    """A mega doc with NO page breaks must (a) reproduce the
    single-window output exactly — image/table ids included — and
    (b) keep every (doc, chunk) group, the per-task unit of every
    two-phase window (image/table ids included), bounded by ~2/N of the
    doc (regression guard: _with_ids used to fall back to a whole
    (doc_id, page) window, refunneling the breakless doc into one
    task)."""
    from pdf_parser_spark.operators import pages as P

    cfg = _low_threshold_cfg(threshold=500, buckets=8)
    valid = _breakless_mega_spans(spark)
    plain = sorted(map(tuple, P.span_sequence_df(valid).collect()))
    salted = sorted(
        map(
            tuple,
            P.span_sequence_skew_df(valid, cfg, docs=_docs(valid)).collect(),
        )
    )
    assert plain == salted
    sizes = _chunk_sizes(_chunked(valid.filter(F.col("doc_id") == "mega"), 8))
    assert max(sizes) <= 2 * 3000 / 8


def test_salt_buckets_one_degrades_to_single_window(spark):
    """cfg.salt_buckets=1 is a legal config: one chunk IS the single
    window, so the skew path short-circuits to it."""
    from pdf_parser_spark.operators import pages as P

    cfg = _low_threshold_cfg(threshold=500, buckets=1)
    valid = _skewed_spans(spark)
    plain = sorted(map(tuple, P.span_sequence_df(valid).collect()))
    salted = sorted(
        map(
            tuple,
            P.span_sequence_skew_df(valid, cfg, docs=_docs(valid)).collect(),
        )
    )
    assert plain == salted


def test_mega_doc_w2_empty_branch_on_healthy_corpus(spark):
    """With no doc past the threshold the skew path equals the plain
    path (mega branch empty) — the run_pipeline default is safe."""
    from pdf_parser_spark.operators import pages as P

    valid = _skewed_spans(spark, mega_spans=30)
    cfg = _low_threshold_cfg(threshold=500)
    plain = sorted(map(tuple, P.span_sequence_df(valid).collect()))
    skew = P.span_sequence_skew_df(valid, cfg, docs=_docs(valid))
    assert plain == sorted(map(tuple, skew.collect()))
    assert "_obucket" not in _plan(skew)


def test_salted_join_rejects_outer_and_semi(spark):
    """The salt-replicated right side breaks right/full-outer and
    semi/anti semantics; the helper must refuse them loudly."""
    import pytest

    big = spark.range(10).withColumnRenamed("id", "k")
    dim = spark.range(3).withColumnRenamed("id", "k")
    for bad in ("right", "full", "outer", "left_semi", "left_anti"):
        with pytest.raises(ValueError, match="salted_equi_join"):
            K.salted_equi_join(big, dim, "k", "k", n_salts=4, how=bad)


def test_mega_doc_detection_from_pre_explode_docs(spark):
    """docs= routes mega detection through the map-only size(spans)
    filter (zero shuffle — run_pipeline's default); output must stay
    bit-identical to the single-window plan, and the detection must
    route the mega doc even when some of its spans would be
    quarantined (size counts them — over-routing is physical only)."""
    from pdf_parser_spark.operators import pages as P

    valid = _skewed_spans(spark)
    docs = _docs(valid)
    cfg = _low_threshold_cfg()
    plain = sorted(map(tuple, P.span_sequence_df(valid).collect()))
    salted = sorted(
        map(
            tuple,
            P.span_sequence_skew_df(valid, cfg, docs=docs).collect(),
        )
    )
    assert plain == salted


def test_mega_split_past_literal_limit_uses_tag_join(spark):
    """More mega docs than MAX_LITERAL_MEGA_IDS: the bounded probe stops
    at limit + 1 ids and the split goes through the broadcast tag join;
    the output still equals the single-window plan."""
    from pdf_parser_spark.operators import pages as P

    n_mega = P.MAX_LITERAL_MEGA_IDS + 1
    rows = [
        (f"m{d:05d}", s, "text", f"mega {d} span {s}", None, s)
        for d in range(n_mega)
        for s in range(2)
    ] + [("small", 0, "text", "one span", None, 0)]
    valid = spark.createDataFrame(
        rows,
        "doc_id string, seq int, kind string, text string,"
        " media_ref string, offset int",
    )
    cfg = _low_threshold_cfg(threshold=1, buckets=2)
    plain = sorted(map(tuple, P.span_sequence_df(valid).collect()))
    skew = P.span_sequence_skew_df(valid, cfg, docs=_docs(valid))
    assert plain == sorted(map(tuple, skew.collect()))
    plan = _plan(skew)
    assert "_mega" in plan
    assert not re.search(r"doc_id#\d+ IN \(", plan)


@pytest.mark.parametrize("n_mega, n_spans", [(40, 60), (1001, 12)])
def test_mega_ids_with_a_duplicated_one_match_single_window(
    spark, n_mega, n_spans
):
    """Many mega docs, one of them listed twice in the pre-explode table,
    so its spans, page breaks included, come twice and tie on
    (offset, seq).  40 ids spread their cut points over several literal
    id lists; past MAX_LITERAL_MEGA_IDS the broadcast tag table must
    still hold the id once.  The output equals the single-window plan's
    (as multisets: tied copies are interchangeable)."""
    from pdf_parser_spark.operators import pages as P

    rows = [
        (f"m{d:04d}", s, "page_break" if s % 9 == 8 else "text",
         None if s % 9 == 8 else f"mega {d} span {s}", None, 2 * s)
        for d in range(n_mega)
        for s in range(n_spans)
    ] + [("small", 0, "text", "one span", None, 0)]
    valid = spark.createDataFrame(
        rows,
        "doc_id string, seq int, kind string, text string,"
        " media_ref string, offset int",
    )
    docs = _docs(valid)
    twice = F.col("doc_id") == "m0007"
    valid = valid.unionByName(valid.filter(twice))
    docs = docs.unionByName(docs.filter(twice))
    cfg = _low_threshold_cfg(threshold=n_spans - 2, buckets=4)
    plain = sorted(map(tuple, P.span_sequence_df(valid).collect()))
    skew = P.span_sequence_skew_df(valid, cfg, docs=docs)
    assert plain == sorted(map(tuple, skew.collect()))
    literal = re.search(r"doc_id#\d+ IN \(", _plan(skew))
    assert bool(literal) == (n_mega <= P.MAX_LITERAL_MEGA_IDS)
