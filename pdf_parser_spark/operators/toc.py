"""TOC extraction — reference ``parsers/toc_parser.py`` re-expressed for
Spark (SURVEY.md §2 X1/X2/X4-X13, F1/F4-F6/F9-F12, W3, J4/J6).

Architecture (one JVM↔Python crossing, the rest native — SURVEY.md §4d):

1. pages(page<=60) → ``posexplode`` into lines (X5), content-start cut (X6)
   — native.
2. ONE scalar pandas UDF (Arrow-batched) runs both regex batteries with
   named-group parity via ``Series.str.extract`` plus the branchy
   ``clean_title`` / potential-entry probes — exactly the "scalar pandas
   UDF over line batches" plan of SURVEY.md §2.10.  The hot full-corpus
   path (pattern matching) is vectorized; per-row Python touches only the
   matched-candidate minority.
3. Three accept passes (primary / enhanced / fallback) as native
   predicates over each line, the J4 guards (containment + lower(title)
   dedup) as array predicates over the doc's primary paths and titles,
   and a first-wins window, then the final (page, title-prefix) dedup
   window (W3) and the 1..9999 sanity filter (F9) — all native.

Steps 1-2 are ``toc_features_df`` and step 3 is ``toc_entries_df``: two
stages of the pipeline's graph (``toc_feats`` → ``toc``).  The features
need only ``pages``, so they run beside the metadata stage; the entries
read the written features and the metadata (J6 doc titles).

``toc_entries_df`` shuffles once, on ``doc_id`` (the bucketing key of
the input layout), and plans no join: every window chains over that one
exchange, and the J6 doc titles ride along as tagged metadata rows.

Identity: no feature line or metadata row carries a NULL doc_id
(``pages.error_kind_expr`` quarantines those spans), and a doc_id is
one document with one metadata row, so each entry is emitted once.
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from pdf_parser_spark.config import DEFAULT_CONFIG, PipelineConfig
from pdf_parser_spark.operators.exprs import (
    is_genuine_toc_entry,
    is_high_quality_entry,
    is_technical_data,
    py_rstrip,
    py_strip,
    section_level,
    section_parent,
    toc_tags,
    word_count,
)
from pdf_parser_spark.oracle import refsem

# 'table of contents'|'contents' word-bounded, case-insensitive
# (text_utils.py:27-33).  'contents' subsumes the longer term for line
# identification; the matched *line* is what matters.
TOC_INDICATOR = r"(?i)\b(?:table of contents|contents)\b"

_FEATURES_TYPE = StructType(
    [
        StructField("prim_matched", BooleanType()),
        StructField("prim_idx", IntegerType()),
        StructField("prim_sid", StringType()),
        StructField("prim_title", StringType()),
        StructField("prim_page", IntegerType()),
        StructField("enh_matched", BooleanType()),
        StructField("enh_has_sid", BooleanType()),
        StructField("enh_sid", StringType()),
        StructField("enh_title", StringType()),
        StructField("enh_page", IntegerType()),
        StructField("pot_ok", BooleanType()),
        StructField("pot_title", StringType()),
        StructField("pot_page", IntegerType()),
        StructField("pot_conf", DoubleType()),
    ]
)

_HAS_SID = [
    "section_id" in re.compile(p).groupindex for p in refsem.ENHANCED_PATTERNS
]


def _battery(stripped: pd.Series, patterns, out: dict, prefix: str) -> None:
    """First-match-wins regex cascade (toc_parser.py:183-189, 426-470):
    vectorized ``Series.str.extract`` per pattern over still-unmatched rows."""
    remaining = pd.Series(True, index=stripped.index)
    for i, pat in enumerate(patterns):
        if not remaining.any():
            break
        sub = stripped[remaining]
        ext = sub.str.extract(pat, flags=re.IGNORECASE)
        hit = ext["title"].notna()
        if not hit.any():
            continue
        idx = ext.index[hit]
        ext = ext.loc[idx]
        out[f"{prefix}_matched"].loc[idx] = True
        remaining.loc[idx] = False
        sid = ext["section_id"] if "section_id" in ext.columns else None
        if prefix == "prim":
            out["prim_idx"].loc[idx] = i
            if i == 3:  # Appendix/Annex: "{Annex} {A}" (toc_parser.py:199-202)
                sid = (ext["annex"].str.capitalize() + " " + sid).str.strip()
            elif i == 4:  # Chapter: "Chapter {n}" (toc_parser.py:295-300)
                sid = "Chapter " + sid
        else:
            out["enh_has_sid"].loc[idx] = _HAS_SID[i]
        if sid is not None:
            out[f"{prefix}_sid"].loc[idx] = sid
        out[f"{prefix}_title"].loc[idx] = ext["title"].map(refsem.clean_title)
        out[f"{prefix}_page"].loc[idx] = ext["page"].map(
            refsem.parse_page_number
        )


@F.pandas_udf(_FEATURES_TYPE)
def toc_line_features(lines: pd.Series) -> pd.DataFrame:
    """Per-line features for all three TOC passes (one Arrow crossing)."""
    s = lines.fillna("")
    stripped = s.str.strip()
    n = s.index
    out = {}
    for f in _FEATURES_TYPE.fieldNames():
        out[f] = pd.Series([None] * len(s), index=n, dtype="object")
    for p in ("prim", "enh"):
        out[f"{p}_matched"] = pd.Series(False, index=n)
    out["pot_ok"] = pd.Series(False, index=n)

    _battery(stripped, refsem.PRIMARY_PATTERNS, out, "prim")
    _battery(stripped, refsem.ENHANCED_PATTERNS, out, "enh")

    # potential-entry probe (X13, toc_parser.py:560-587): line 5..200 chars,
    # >=2 words, last token an int 1..9999, title part truthy & not digits.
    # Vectorized pandas str/list ops on the full-line path; only
    # toc_confidence runs per row, and only on the matched minority.
    # (" ".join(w[:-1]).strip() ≡ list-join of split() tokens: split()
    # tokens carry no whitespace, so the reference strip is the identity.)
    words = stripped.str.split()
    nw = words.str.len()
    base = stripped.str.len().between(5, 200) & (nw >= 2)
    last = pd.Series(None, index=n, dtype="object")
    last[base] = words[base].str[-1]
    is_int = base & (last.str.isdigit() == True)  # noqa: E712 — object
    # series with Nones: == True maps None→False without the deprecated
    # fillna object-downcast
    pg = pd.to_numeric(last.where(is_int), errors="coerce")
    is_int &= pg.between(1, 9999)
    title = pd.Series(None, index=n, dtype="object")
    title[is_int] = words[is_int].str[:-1].str.join(" ")
    ok = (
        is_int
        & title.notna()
        & (title != "")
        & ~(title.str.isdigit() == True)  # noqa: E712 — see above
    )
    conf = pd.Series(None, index=n, dtype="object")
    hit_idx = ok[ok].index
    conf.loc[hit_idx] = [
        refsem.toc_confidence(s) for s in stripped.loc[hit_idx]
    ]
    out["pot_ok"] = ok.astype(bool)
    out["pot_title"] = title.where(ok).astype("object")
    out["pot_page"] = pg.where(ok).astype("object")
    out["pot_conf"] = conf

    df = pd.DataFrame(out)
    for c in ("prim_idx", "prim_page", "enh_page", "pot_page"):
        df[c] = df[c].astype("Int64")
    df["pot_conf"] = df["pot_conf"].astype("Float64")
    return df


def toc_candidate_lines(
    pages: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """pages → (doc_id, page, line_no, line) after the page<=60 prune (F1)
    and the content-start cut (X6).  ``line`` is rstripped (X5)."""
    toc_pages = pages.filter(F.col("page") <= cfg.toc_max_page)
    lines = toc_pages.select(
        "doc_id",
        "page",
        F.posexplode(
            F.split(F.coalesce(F.col("text"), F.lit("")), "\n", -1)
        ).alias("line_no", "raw_line"),
    ).withColumn("line", py_rstrip(F.col("raw_line"))).drop("raw_line")

    pos = F.struct(F.col("page"), F.col("line_no"))
    w = Window.partitionBy("doc_id")
    start = F.min(
        F.when(F.col("line").rlike(TOC_INDICATOR), pos)
    ).over(w)
    return (
        lines.withColumn("_start", start)
        .filter(F.col("_start").isNull() | (pos > F.col("_start")))
        .drop("_start")
    )


def _line_features_df(lines: DataFrame) -> DataFrame:
    f = lines.withColumn("f", toc_line_features("line"))
    return f.select(
        "doc_id",
        F.col("page").alias("src_page"),
        "line_no",
        py_strip("line").alias("stripped"),
        "f.*",
    )


def toc_features_df(
    pages: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """The per-line features of every TOC candidate line — the stage's
    one Arrow crossing, over ``pages`` alone.  The three accept passes
    and two anti-joins of ``toc_entries_df`` each read it, so
    ``run_pipeline`` writes it once (its ``toc_feats`` stage): as a plan
    Catalyst would re-execute the UDF once per consumer (SURVEY.md §4d —
    "keep pandas-UDF stages few and fused")."""
    return _line_features_df(toc_candidate_lines(pages, cfg))


def toc_entries_df(
    feats: DataFrame,
    metadata: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Full three-pass TOC extraction + dedup (toc_parser.py:141-691) over
    the ``toc_features_df`` lines.

    Returns the reference TOC entry's columns (toc_parser.py:211-226)
    plus ``entry_order`` (the final sorted position per doc — consumed
    by the section stage's W1 ranges).

    One pass, no join: the feature lines some battery matched and the
    metadata rows are shuffled once on doc_id, and every window below
    chains over that exchange.  The first, unordered doc_id window
    collects each doc's primary full paths and lowercased titles (J4)
    and takes the title of its one metadata row (J6; NULL without
    one); each line then yields its accepted candidates of the three
    passes through one ``explode``.  ``accepted_primary`` is evaluated
    once per line."""
    accepted_primary = (
        F.col("prim_matched")
        & (F.col("prim_page") > 0)
        & is_high_quality_entry(
            F.col("prim_title"),
            F.col("prim_page"),
            cfg.max_valid_page,
            refsem.TECHNICAL_PATTERNS,
        )
    )
    meta_rows = metadata.select(
        "doc_id", F.struct("doc_title").alias("_meta")
    )
    w_doc = Window.partitionBy("doc_id")
    prim = F.col("_prim")
    # a line none of the three batteries matched yields no entry and
    # shadows none, so it stays out of the shuffle
    matched = F.col("prim_matched") | F.col("enh_matched") | F.col("pot_ok")
    lines = (
        feats.filter(matched)
        .withColumn("_prim", accepted_primary)
        .unionByName(meta_rows, allowMissingColumns=True)
        .select(
            "*",
            F.collect_list(F.when(prim, F.col("stripped")))
            .over(w_doc).alias("_prim_paths"),
            F.collect_set(F.when(prim, F.lower("prim_title")))
            .over(w_doc).alias("_prim_titles"),
            F.max("_meta.doc_title").over(w_doc).alias("doc_title"),
        )
        .filter(F.col("_meta").isNull())
    )

    # ---- enhanced pass (toc_parser.py:381-470) -------------------------
    enh_candidate = (
        F.col("enh_matched")
        & F.col("enh_page").between(1, cfg.max_valid_page)
        & (F.length(py_strip(F.col("enh_title"))) >= 5)
        & ~F.lower(F.col("enh_title")).startswith("page ")
        & ~is_technical_data(F.col("enh_title"), refsem.TECHNICAL_PATTERNS)
        & is_genuine_toc_entry(
            F.col("enh_title"), refsem.TOC_GENUINE_KEYWORDS
        )
    )
    # J4a: skip lines already contained in any primary full_path;
    # J4b: titles already present among primary entries (lowercased)
    shadowed = F.exists(
        "_prim_paths", lambda p: p.contains(F.col("stripped"))
    ) | F.array_contains("_prim_titles", F.lower("enh_title"))
    lines = lines.withColumn(
        "_enh_key",
        F.when(
            enh_candidate & ~F.coalesce(shadowed, F.lit(False)),
            F.lower("enh_title"),
        ),
    )
    # first-wins among surviving enhanced candidates, in line order
    w_first = Window.partitionBy("doc_id", "_enh_key").orderBy(
        "src_page", "line_no"
    )
    lines = lines.withColumn(
        "_enh_first",
        F.col("_enh_key").isNotNull() & (F.row_number().over(w_first) == 1),
    )

    # ---- fallback pass (toc_parser.py:620-659) -------------------------
    fallback = (
        ~prim
        & F.col("pot_ok")
        & (F.col("pot_conf") >= cfg.fallback_confidence)
        & ~is_technical_data(F.col("pot_title"), refsem.TECHNICAL_PATTERNS)
        & is_genuine_toc_entry(F.col("pot_title"), refsem.TOC_GENUINE_KEYWORDS)
        & (F.length(py_strip(F.col("pot_title"))) >= 8)
        & (word_count(F.col("pot_title")) >= 2)
        & ~F.lower(F.col("pot_title")).rlike(
            r"^(error|data object|byte|bit)"
        )
    )

    # ---- each line's accepted candidates, in pass order ----------------
    # level/parent derive from the RAW section-id group (_raw_sid)
    def candidate(pass_rank, section_id, title, page, raw_sid):
        return F.struct(
            section_id.alias("section_id"),
            title.alias("title"),
            page.cast("int").alias("page"),
            F.lit(pass_rank).alias("pass_rank"),
            raw_sid.alias("_raw_sid"),
        )

    no_sid = F.lit(None).cast("string")
    candidates = F.array(
        F.when(prim, candidate(
            0, F.col("prim_sid"), F.col("prim_title"), F.col("prim_page"),
            F.col("prim_sid"),
        )),
        F.when(F.col("_enh_first"), candidate(
            1,
            # dict.get default only fires when the group is ABSENT from the
            # pattern, not when None (toc_parser.py:451-454 quirk).
            F.when(F.col("enh_has_sid"), F.col("enh_sid")).otherwise(
                F.concat(F.lit("Section-"), F.col("enh_page"))
            ),
            F.col("enh_title"), F.col("enh_page"), F.col("enh_sid"),
        )),
        F.when(fallback, candidate(
            2, no_sid, F.col("pot_title"), F.col("pot_page"), no_sid,
        )),
    )
    allp = lines.select(
        "doc_id",
        "src_page",
        "line_no",
        F.col("stripped").alias("full_path"),
        "doc_title",
        F.explode(F.filter(candidates, lambda c: c.isNotNull())).alias("c"),
    ).select("*", "c.*").drop("c")

    # ---- derive level/parent/tags, dedup (W3), sanity (F9) -------------
    allp = (
        allp.withColumn("level", section_level(F.col("_raw_sid")))
        .withColumn("parent_id", section_parent(F.col("_raw_sid")))
        .withColumn(
            "tags",
            F.when(
                F.col("pass_rank") == 1, F.array(F.lit("enhanced_extraction"))
            ).otherwise(toc_tags(F.col("title"), refsem.TAG_RULES)),
        )
        .drop("_raw_sid")
    )

    # W3 first-wins dedup: sorted by (page, title) stable over insertion
    # order (pass, line); key = (page, lower(title).strip()[:50])
    dedup_key = F.substring(py_strip(F.lower(F.col("title"))), 1, 50)
    w_dedup = Window.partitionBy("doc_id", "page", dedup_key).orderBy(
        "title", "pass_rank", "src_page", "line_no"
    )
    deduped = (
        allp.withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .filter(F.col("page").between(1, cfg.absolute_max_page))
    )

    w_order = Window.partitionBy("doc_id").orderBy(
        "page", "title", "pass_rank", "src_page", "line_no"
    )
    # J6: doc_title propagation from the metadata step (main.py:204-210)
    entries = deduped.withColumn("entry_order", F.row_number().over(w_order))
    return entries.select(
        "doc_id",
        "doc_title",
        "section_id",
        "title",
        "page",
        "level",
        "parent_id",
        "full_path",
        "tags",
        "entry_order",
    )
