"""Text-analysis operators for large-scale corpus curation: token
counting, language-ID heuristic, quality scoring, document fingerprinting.

All native Column expressions (JVM-side, whole-stage codegen) — these run
over every document at 100 TB, so no Python in the hot path.  Hashes are
md5 (engine-portable → DuckDB oracle parity).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from pdf_parser_spark.operators.exprs import let_bound

# A small stopword table per language for the n-gram/stopword language-ID
# heuristic.  Deliberately tiny and deterministic — the goal is the Spark
# expression shape (score per language → argmax), not linguistic accuracy.
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "les"],
    "es": ["el", "de", "las"],
}

# BPE-ish tokenizer regex: letter runs, digit runs, single non-space symbol
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def whitespace_token_count(text: Column) -> Column:
    """len(s.split()) over whitespace runs."""
    t = F.trim(F.coalesce(text, F.lit("")))
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, "\\s+"))
    ).cast("long")


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish tokens (letter runs / digit runs / symbols)."""
    return F.regexp_count(F.coalesce(text, F.lit("")), F.lit(BPE_TOKEN_RE)) \
        .cast("long")


def _marker_hits(text_lower: Column, markers) -> Column:
    """Total occurrences of ' marker ' patterns (word-ish containment)."""
    out = None
    for m in markers:
        c = F.regexp_count(text_lower, F.lit(f"\\b{m}\\b")).cast("long")
        out = c if out is None else out + c
    return out


def lang_scores(text: Column) -> dict:
    low = F.lower(F.coalesce(text, F.lit("")))
    return {lang: _marker_hits(low, ms) for lang, ms in LANG_MARKERS.items()}


def lang_id(text: Column) -> Column:
    """argmax over language marker-hit counts; ties → lexicographically
    first language; zero hits → 'unknown'."""
    scores = lang_scores(text)
    pairs = F.array(
        *[
            F.struct(
                scores[lang].alias("score"), F.lit(lang).alias("lang")
            )
            for lang in sorted(LANG_MARKERS)
        ]
    )
    # max of struct(score, lang) picks highest score; ties pick the
    # lexicographically LARGEST lang, so invert: filter to max score,
    # take first lang in sorted order.  Both pairs (the per-language
    # regexp_count battery) and best are let-bound: referencing the
    # `best` EXPRESSION from the filter lambda re-ran every language's
    # regexp_count once per language element (see exprs.let_bound).
    def pick(bound_pairs: Column) -> Column:
        best_expr = F.array_max(
            F.transform(bound_pairs, lambda p: p["score"])
        )

        def choose(best: Column) -> Column:
            first_best = F.filter(
                bound_pairs, lambda p: p["score"] == best
            )[0]["lang"]
            return F.when(best > 0, first_best).otherwise(F.lit("unknown"))

        return let_bound(best_expr, choose)

    return let_bound(pairs, pick)


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1]: length band + punctuation
    ratio + stopword presence + mean word length band.

    Mirrors the shape of the reference's confidence scoring
    (toc_parser.py:589-618: additive capped evidence) applied to whole
    documents.  Integer-derived arithmetic → DuckDB-reproducible.
    """
    t = F.coalesce(text, F.lit(""))
    n = F.length(t)
    words = whitespace_token_count(t)
    punct = F.regexp_count(t, F.lit("[.,;:!?]")).cast("long")
    stop_hits = _marker_hits(F.lower(t), LANG_MARKERS["en"])
    score = (
        F.when((n >= 100) & (n <= 20000), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(
            (punct * 20 >= words) & (punct * 2 <= words), F.lit(0.3)
        ).otherwise(F.lit(0.0))
        + F.when(stop_hits > 0, F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(
            (words > 0) & ((n - words + 1) * 2 >= words * 7)
            & ((n - words + 1) <= words * 12),
            F.lit(0.2),
        ).otherwise(F.lit(0.0))
    )
    return F.round(F.least(score, F.lit(1.0)), 2)


def fingerprint(text: Column, n_words: int = 8) -> Column:
    """Deterministic document fingerprint: md5 of the first ``n_words``
    whitespace-normalized lowercase words (rolling-hash analog for
    near-head dedup)."""
    t = F.lower(F.trim(F.coalesce(text, F.lit(""))))
    head = F.array_join(F.slice(F.split(t, "\\s+"), 1, n_words), " ")
    return F.md5(head)
