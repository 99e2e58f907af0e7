"""HTML boilerplate stripping: tokenizer ownership rules, density
classification, neighbor smoothing, and plan shape."""

from pyspark.sql import functions as F

from pdf_parser_spark.functions import boilerplate as bp

LONG = " ".join(f"word{i}" for i in range(15))  # 15 words, no links

PAGE = f"""<html><head><title>My Site</title></head><body>
<nav><a href="/">Home</a> <a href="/x">X</a></nav>
<div class="wrap">
<p>{LONG}</p>
<p>short trailing note</p>
</div>
<footer><a href="/t">Terms</a></footer>
</body></html>"""


def _span(spark, html):
    """One flat html span, the tokenizer's input shape."""
    return spark.createDataFrame(
        [("d1", 0, html, None, 0)],
        "doc_id string, seq int, text string, media_ref string, offset int",
    )


def _blocks(spark, html):
    return bp.parse_span_blocks(_span(spark, html)).orderBy(
        "block_id"
    ).collect()


def test_tokenizer_innermost_ownership_and_order(spark):
    rows = _blocks(spark, PAGE)
    tags = [r.tag for r in rows]
    # head's direct data is blank → dropped; title owns its text; the
    # wrapper div owns only whitespace → dropped; paragraphs in order
    assert tags == ["title", "nav", "p", "p", "footer"]
    assert rows[0].text == "My Site"
    assert rows[2].text == LONG
    assert rows[3].text == "short trailing note"
    # anchor text accrues to link_len of the owning block
    assert rows[1].link_len == len("Home") + len("X")
    assert rows[2].link_len == 0


def test_tokenizer_tolerates_misnesting(spark):
    rows = _blocks(spark, "<div><p>alpha beta</div></p><p>gamma</p>")
    assert [(r.tag, r.text) for r in rows] == [
        ("p", "alpha beta"),
        ("p", "gamma"),
    ]


def test_classification_rules(spark):
    cls = bp.classify_blocks(
        bp.score_blocks(bp.parse_span_blocks(_span(spark, PAGE)))
    ).orderBy("block_id")
    got = {r.tag + ":" + r.text[:10]: r.is_content for r in cls.collect()}
    assert got["title:My Site"] is False        # chrome tag
    assert got["nav:Home X"] is False           # chrome + link density
    assert got["p:word0 word"] is True          # long low-link block
    assert got["p:short trai"] is True          # rescued by neighbor


def test_short_block_without_good_neighbor_is_dropped(spark):
    html = "<body><p>tiny note</p></body>"
    df = spark.createDataFrame([("d1", html)], ["doc_id", "html"])
    assert bp.main_content_df(df).count() == 0


def test_link_density_kills_linky_paragraph(spark):
    linky = (
        "<p>" + " ".join(f'<a href="/{i}">link{i}</a>' for i in range(12))
        + "</p>"
    )
    html = f"<body><p>{LONG}</p>{linky}</body>"
    df = spark.createDataFrame([("d1", html)], ["doc_id", "html"])
    out = bp.main_content_df(df).head()
    assert out.main_text == LONG


def test_main_content_order_and_single_python_stage(spark):
    df = spark.createDataFrame(
        [("d1", PAGE), ("d2", f"<body><p>{LONG}</p><p>{LONG}</p></body>")],
        ["doc_id", "html"],
    )
    out = bp.main_content_df(df)
    # plan BEFORE execution: post-run AQE rendering appends the initial
    # plan and would double-count nodes
    plan = out._jdf.queryExecution().executedPlan().toString()
    # exactly one Python crossing: the tokenizer; scoring/classification/
    # assembly stay JVM-side
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan
    rows = {r.doc_id: r.main_text for r in out.collect()}
    assert rows["d1"] == LONG + "\nshort trailing note"
    assert rows["d2"] == LONG + "\n" + LONG


# --- strip_html_spans: ingest normalization of the interleaved corpus ---


def _interleaved(spark):
    from pyspark.sql import Row

    html = (
        '<html><head><title>T</title></head><body>'
        '<nav><a href="/">H</a> <a href="/x">X</a></nav>'
        f"<p>{LONG}</p><p>tail note</p>"
        '<footer><a href="/t">T</a></footer></body></html>'
    )
    return spark.createDataFrame(
        [
            Row(doc_id="d1", spans=[
                Row(kind="text", text="plain intro", media_ref=None,
                    offset=0),
                Row(kind="html", text=html, media_ref="src-d1", offset=1),
                Row(kind="image", text="640x480", media_ref="img-d1",
                    offset=2),
            ]),
            Row(doc_id="d2", spans=[
                Row(kind="text", text="no html here", media_ref=None,
                    offset=0),
            ]),
            Row(doc_id="d3", spans=[
                Row(kind="html", text="<p>tiny</p>", media_ref=None,
                    offset=0),
            ]),
            Row(doc_id="d4", spans=[
                Row(kind=None, text="bad", media_ref=None, offset=None),
                Row(kind="html", text=f"<p>{LONG}</p>", media_ref=None,
                    offset=1),
            ]),
            # html with a NULL offset: normalized like any other span,
            # then quarantined as bad_offset
            Row(doc_id="d5", spans=[
                Row(kind="html", text=f"<p>{LONG}</p>", media_ref=None,
                    offset=None),
            ]),
        ]
    )


def test_strip_html_spans_rewrites_in_place(spark):
    """The html span becomes a kind='text' span holding the stripped
    main content, at its original (media_ref, offset) slot between the
    untouched text and image spans (north-rule interleaved semantics)."""
    from pdf_parser_spark.functions import boilerplate as bp

    out = {r.doc_id: r.spans
           for r in bp.strip_html_spans(_interleaved(spark)).collect()}
    got = [(s.kind, s.text, s.media_ref, s.offset) for s in out["d1"]]
    assert got == [
        ("text", "plain intro", None, 0),
        ("text", LONG + "\ntail note", "src-d1", 1),
        ("image", "640x480", "img-d1", 2),
    ]


def test_strip_html_spans_passthrough_is_identical(spark):
    from pdf_parser_spark.functions import boilerplate as bp

    docs = _interleaved(spark)
    out = {r.doc_id: r.spans
           for r in bp.strip_html_spans(docs).collect()}
    src = {r.doc_id: r.spans for r in docs.collect()}
    assert out["d2"] == src["d2"]


def test_strip_html_spans_pure_boilerplate_drops_span_not_doc(spark, tmp_path):
    """An html span that strips to nothing is dropped like a blank text
    span — but the DOCUMENT survives (empty spans array → the
    empty_spans quarantine records it instead of it silently vanishing),
    and non-html spans (even invalid ones awaiting quarantine) are
    preserved.  An html span with a NULL offset is normalized, then
    quarantined as bad_offset, on the ingest and the inline path."""
    from pdf_parser_spark.functions import boilerplate as bp
    from pdf_parser_spark.operators import pages as P
    from pdf_parser_spark.pipeline import run_pipeline

    out = {r.doc_id: r.spans
           for r in bp.strip_html_spans(_interleaved(spark)).collect()}
    assert out["d3"] == []
    assert [(s.kind, s.offset) for s in out["d4"]] == [
        (None, None), ("text", 1)
    ]
    quar = P.quarantine_df(
        P.explode_spans(bp.strip_html_spans(_interleaved(spark)))
    )
    kinds = {(r.doc_id, r.error_kind) for r in quar.collect()}
    assert ("d3", "empty_spans") in kinds
    assert ("d4", "unknown_kind") in kinds
    assert [(s.kind, s.text, s.offset) for s in out["d5"]] == [
        ("text", LONG, None)
    ]
    assert ("d5", "bad_offset") in kinds
    inline = run_pipeline(_interleaved(spark), str(tmp_path),
                          normalize_html=True).quarantine
    assert ("d5", "bad_offset") in {
        (r.doc_id, r.error_kind) for r in inline.collect()
    }


def test_strip_html_spans_single_python_stage(spark):
    """Only the html subset crosses into Python: the whole normalize
    plan carries exactly ONE Arrow stage (the tokenizer); scoring,
    classification, and span re-assembly are JVM-native."""
    from pdf_parser_spark.functions import boilerplate as bp

    out = bp.strip_html_spans(_interleaved(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan


def test_strip_html_spans_matches_page_level_strip(spark):
    """A single-span html doc strips to exactly main_content_df's text:
    the span path reuses the page-level classifier, not a re-derivation."""
    from pyspark.sql import Row

    from pdf_parser_spark.functions import boilerplate as bp

    from pdf_parser_spark.schemas import DOCUMENTS_SPANS

    df = spark.createDataFrame([("dx", PAGE)], ["doc_id", "html"])
    expected = bp.main_content_df(df).head().main_text
    docs = spark.createDataFrame(
        [Row(doc_id="dx",
             spans=[Row(kind="html", text=PAGE, media_ref=None,
                        offset=0)])],
        schema=DOCUMENTS_SPANS,
    )
    got = bp.strip_html_spans(docs).head().spans
    assert [(s.kind, s.text) for s in got] == [("text", expected)]


def test_run_pipeline_normalize_html_end_to_end(spark, tmp_path):
    """The north-rule composition in ONE call: run_pipeline(
    normalize_html=True) over a corpus with raw-HTML payload spans
    extracts the stripped main content as ordinary text spans — no
    unknown_kind quarantine for html, chrome links absent, body words
    present in spans_out."""
    from pdf_parser_spark.fixtures.gen import (
        _doc_to_spans, html_doc, to_spark_df,
    )
    from pdf_parser_spark.pipeline import run_pipeline
    import random

    rng = random.Random(7)
    docs = to_spark_df(
        spark, [_doc_to_spans(html_doc(rng, "hdoc-1"), rng)]
    )
    res = run_pipeline(docs, str(tmp_path / "a"), normalize_html=True)
    quar = [r.error_kind for r in res.quarantine.collect()]
    assert "unknown_kind" not in quar
    texts = "\n".join(
        r.text for r in res.spans_out.collect() if r.text
    )
    assert "Home" not in texts and "/privacy" not in texts
    assert "see also" in texts  # smoothing kept the short middle block
    # without normalization the html span is quarantined instead
    res2 = run_pipeline(docs, str(tmp_path / "b"), normalize_html=False)
    assert [r.error_kind for r in res2.quarantine.collect()].count(
        "unknown_kind"
    ) == 1


def test_inline_normalize_matches_ingest_strip(spark, tmp_path):
    """run_pipeline(normalize_html=True) over a raw corpus produces the
    same extraction output as strip-at-ingest → run_pipeline: identical
    spans_out on (doc_id, page, kind, text, media_ref, order) — seq is
    provenance (original slot vs rebuilt array position) and may
    differ — AND identical pages/metrics stage tables, including for a
    doc whose html span strips to PURE boilerplate (both paths drop
    that span; ADVICE r3)."""
    import random

    from pdf_parser_spark.fixtures.gen import (
        _doc_to_spans, html_doc, media_doc, to_spark_df,
    )
    from pdf_parser_spark.pipeline import run_pipeline

    rng = random.Random(11)
    def _span(kind, text, offset):
        return {
            "kind": kind, "text": text, "media_ref": None,
            "offset": offset,
        }

    boiler_doc = {
        "doc_id": "allboiler",
        "spans": [
            _span("text", "intro words before the markup", 0),
            _span(
                "html",
                '<nav><a href="/a">Home</a><a href="/b">About</a></nav>'
                '<footer><a href="/c">Priv</a></footer>',
                1,
            ),
            _span("page_break", None, 2),
            _span("text", "closing words after the markup", 3),
        ],
    }
    docs = to_spark_df(spark, [
        _doc_to_spans(html_doc(rng, "h1"), rng),
        _doc_to_spans(media_doc(rng, "m1"), rng),
        boiler_doc,  # already span-shaped — no _doc_to_spans
    ])
    cols = ["doc_id", "page", "kind", "text", "media_ref", "order"]
    inline = run_pipeline(docs, str(tmp_path / "inline"),
                          normalize_html=True)
    ingest = run_pipeline(
        bp.strip_html_spans(docs), str(tmp_path / "ingest"),
        normalize_html=False,
    )
    a = sorted(map(tuple, inline.spans_out.select(*cols).collect()))
    b = sorted(map(tuple, ingest.spans_out.select(*cols).collect()))
    assert a == b and len(a) > 0
    # stage-table equivalence: page text/content blobs and per-doc
    # metrics agree between the two normalization paths
    pa = sorted(map(tuple, inline.pages.collect()))
    pb = sorted(map(tuple, ingest.pages.collect()))
    assert pa == pb
    ma = sorted(map(tuple, inline.metrics.collect()))
    mb = sorted(map(tuple, ingest.metrics.collect()))
    assert ma == mb


def test_normalize_html_flat_plan_shape(spark, tmp_path):
    """Inline normalization plan: exactly one Arrow stage, and with
    the rewritten rows written (the pipeline's html_rewrite stage) the
    rewritten-rows leg reads the (tiny) table — downstream consumers
    re-execute only the rest-branch scan."""
    from pdf_parser_spark.operators import pages as P
    from pdf_parser_spark.sources import tables

    docs = _interleaved(spark)
    flat = P.explode_spans_raw(docs)
    rewritten = tables.write_and_read(
        bp.html_rewrite_df(flat), str(tmp_path / "html_rewrite")
    )[0]
    out = bp.normalize_html_flat(flat, rewritten)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 0  # Python stage ran once
    assert "FileScan parquet" in plan  # the written rewrite
    assert "BatchEvalPython" not in plan
    lazy = bp.normalize_html_flat(P.explode_spans_raw(docs))
    uplan = lazy._jdf.queryExecution().executedPlan().toString()
    assert uplan.count("MapInPandas") == 1
    # the fold's grouping keys carry the span slot: no join back
    assert "Join" not in uplan


def test_null_doc_id_html_doc_keeps_its_id(spark, tmp_path):
    """A NULL doc_id html doc keeps its NULL id and its stripped html
    content on both entry points: strip_html_spans re-collects it into
    ONE NULL doc (no phantom 'None' doc), and the inline pipeline
    quarantines its stripped spans under the NULL id as ``null_doc_id``
    and emits none of them."""
    from pyspark.sql import Row
    from pyspark.sql.types import StringType, StructField, StructType

    from pdf_parser_spark.pipeline import run_pipeline
    from pdf_parser_spark.schemas import DOCUMENTS_SPANS

    schema = StructType([
        StructField("doc_id", StringType(), True),
        DOCUMENTS_SPANS["spans"],
    ])
    docs = spark.createDataFrame(
        [
            Row(doc_id=None, spans=[
                Row(kind="text", text="intro", media_ref=None, offset=0),
                Row(kind="html", text=f"<p>{LONG}</p>", media_ref=None,
                    offset=1),
            ]),
            Row(doc_id="d1", spans=[
                Row(kind="html", text=f"<p>{LONG}</p>", media_ref=None,
                    offset=0),
            ]),
        ],
        schema,
    )
    out = bp.strip_html_spans(docs).collect()
    assert sorted(r.doc_id or "" for r in out) == ["", "d1"]
    null_doc = next(r for r in out if r.doc_id is None)
    assert [(s.kind, s.text, s.offset) for s in null_doc.spans] == [
        ("text", "intro", 0), ("text", LONG, 1)
    ]
    result = run_pipeline(docs, str(tmp_path), normalize_html=True)
    assert sorted(
        (r.span_seq, r.error_kind, r.raw)
        for r in result.quarantine.collect() if r.doc_id is None
    ) == [(0, "null_doc_id", "intro"), (1, "null_doc_id", LONG)]
    assert [r.doc_id for r in result.spans_out.collect()] == ["d1"]
