"""Deduplication operators for training-data curation at corpus scale:

- exact dedup           — hash-groupBy on normalized content
- MinHash + LSH         — shingle → minhash signature → band buckets →
                          candidate-pair join (near-dup at 10^12 docs)
- n-gram Jaccard        — exact similarity on candidate pairs
- SimHash               — 64-bit fingerprint (two 32-bit halves),
                          pigeonhole 16-bit Hamming blocks

Portability rule: the hash family is seeded md5 per shingle — digest g
is md5(shingle) for g=0 and md5('g:' || shingle) for g>=1 — sliced into
disjoint 8-hex-char windows; slot i takes the LEXICOGRAPHIC MIN of its
window.  md5-hex is identical in Spark and DuckDB, so every stage here
has an exact SQL oracle (no JVM hash() / xxhash64, which DuckDB can't
reproduce).

Scale notes: shingling explodes ~|words| rows per doc — the shuffle is
(doc_id) for signatures and (band_hash) for buckets; hot buckets (boiler-
plate shingles) are the skew risk, bounded by banding (the default bucket
key is a conjunction of 16 minhashes, so collisions require Jaccard near
s* ≈ 0.92).  The pair join never materializes the full O(n²) space — only
same-bucket pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark.operators.exprs import let_bound
from pdf_parser_spark.sources import tables


def normalized_text(text: Column) -> Column:
    """lowercase + collapse whitespace — the exact-dedup key basis."""
    return F.regexp_replace(
        F.lower(F.trim(F.coalesce(text, F.lit("")))), "\\s+", " "
    )


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup via md5-groupBy: per content hash, the kept (min) id and
    the duplicate count.  Returns only groups with >1 member."""
    h = F.md5(normalized_text(F.col(text_col))).alias("content_hash")
    return (
        df.select(F.col(id_col).alias("id"), h)
        .groupBy("content_hash")
        .agg(
            F.min("id").alias("keep_id"),
            F.count("*").alias("n_dups"),
        )
        .filter(F.col("n_dups") > 1)
    )


def shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles over whitespace-normalized words (array<string>).
    Docs with < k words yield their full word-join as one shingle.

    The word array is let-bound (``let_bound``) so the normalize+split
    runs ONCE per row: referencing it directly from the per-position
    lambda re-evaluates the regex split per shingle (177 s → 9 s on the
    local[2]/10k heavy-doc A/B — see exprs.let_bound)."""

    def build(ws: Column) -> Column:
        n = F.size(ws)
        idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
        return F.transform(
            idx,
            lambda i: F.array_join(F.slice(ws, i, k), " "),
        )

    return let_bound(F.split(normalized_text(text), " "), build)


def minhash_signature(text: Column, n_hashes: int = 4, k: int = 3) -> Column:
    """array<string> of ``n_hashes`` minhashes via one-permutation
    hashing: ONE md5 per shingle, sliced into ``n_hashes`` disjoint
    8-hex-char windows; slot i is the lexicographic min of slice i over
    all shingles.  4× cheaper than seeded-rehash per slot at identical
    LSH behavior (md5 bits are independent), and md5+substr is exactly
    reproducible in the DuckDB oracle.

    Width is NOT capped at 4 (ADVICE r3): digest g of a shingle is
    ``md5(shingle)`` for g=0 (bit-identical to the historical
    n_hashes<=4 behavior) and ``md5('g:' || shingle)`` for g>=1 —
    seeded rehash per GROUP of 4 slots, so the md5 count stays
    ``ceil(n/4)`` per shingle and every slot remains portable SQL
    (md5 + substr — never JVM hash()/xxhash64).

    Why width matters at 100 TB: 4 hashes force 2-band × 2-row LSH
    with ~44% candidate rate at Jaccard 0.5 — near-quadratic pair
    fan-out on a web corpus.  n_hashes=64 with 4 bands × 16 rows puts
    the false-candidate rate at s=0.5 below 10^-4 while setting the
    band-collision threshold at s* = (1/4)^(1/16) ≈ 0.92, the near-dup
    regime a curation pass targets."""
    if n_hashes < 1:
        raise ValueError("n_hashes must be >= 1")
    n_groups = (n_hashes + 3) // 4
    sh = shingles(text, k)
    # single fold pass: ceil(n/4) md5s per shingle, all slots updated
    # together.  (Separate per-slot array_min(transform(...)) expressions
    # get inlined by CollapseProject and re-run the md5 pass once per
    # slot.)  The digest array is let-bound so each md5 evaluates ONCE
    # even though 4 slots slice it — HOF lambdas get no common-
    # subexpression elimination (see exprs.let_bound).
    sentinel = F.array_repeat(F.lit("~" * 8), n_hashes)  # '~' > any hex

    def step(acc, s):
        digs = F.array(
            *[
                F.md5(s) if g == 0 else F.md5(F.concat(F.lit(f"{g}:"), s))
                for g in range(n_groups)
            ]
        )

        def upd(d):
            return F.array(
                *[
                    F.least(
                        acc[i],
                        F.substring(d[i // 4], 8 * (i % 4) + 1, 8),
                    )
                    for i in range(n_hashes)
                ]
            )

        return let_bound(digs, upd)

    return F.aggregate(sh, sentinel, step)


def minhash_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 4,
    k: int = 3,
) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"),
        minhash_signature(F.col(text_col), n_hashes, k).alias("sig"),
    )


def lsh_bands(sig: Column, n_bands: int, rows_per_band: int) -> Column:
    """array<string> of band keys: md5 of the concatenated row hashes."""
    return F.array(
        *[
            F.md5(
                F.array_join(
                    F.slice(sig, b * rows_per_band + 1, rows_per_band), "|"
                )
            )
            for b in range(n_bands)
        ]
    )


def lsh_candidate_pairs(
    df: DataFrame,
    stage_ref: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    k: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b) sharing >=1 LSH band.

    Scale path: explode bands → shuffle on (band_idx, band_key) only —
    never an all-pairs comparison.  Default banding is 4 bands × 16
    rows (n_hashes=64): band-collision probability s^16 per band makes
    the false-candidate rate at Jaccard 0.5 ≈ 6×10^-5 — the 100-TB-safe
    regime — vs ~44% for the old 2×2 default, which went near-quadratic
    on a real web corpus.

    The signatures are written once under ``stage_ref``
    (``sources.tables.write_and_read``) before banding and self-joining:
    downstream references would otherwise inline (CollapseProject) and
    re-run the md5 fold once per band and once per join side.  The
    table is durable, so a lost executor recomputes from storage.
    """
    sigs = tables.write_and_read(
        minhash_df(df, id_col, text_col, n_hashes, k),
        tables.internal_ref(stage_ref, "signatures"),
    )[0]
    return lsh_band_pairs(sigs, n_bands, n_hashes // n_bands)


def lsh_band_pairs(
    sigs: DataFrame, n_bands: int, rows_per_band: int
) -> DataFrame:
    """The band self-join over a materialized ``(id, sig)`` signatures
    table: distinct pairs (id_a < id_b) that share >=1 band key.  Shuffles
    on (band_idx, band_key) only — never an all-pairs comparison."""
    banded = sigs.select(
        "id",
        F.posexplode(
            lsh_bands(F.col("sig"), n_bands, rows_per_band)
        ).alias("band_idx", "band_key"),
    )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b")
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs: |A∩B| / |A∪B|,
    computed via distinct-shingle explode + pair join (no UDF)."""
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(F.col(text_col), k))).alias(
            "shingle"
        ),
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_shingles"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.join(
            sizes.select(F.col("id").alias("id_a"),
                         F.col("n_shingles").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"),
                         F.col("n_shingles").alias("n_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )
    return out


def _fold_bits32(hashes: Column) -> Column:
    """Majority-vote bit fold shared by the simhash fingerprints:
    ``hashes`` is a let-bound array<long> of 32-bit values; returns the
    long whose bit b is set iff more elements have bit b set than unset.

    Bit b is extracted arithmetically — ``floor(h / 2^b) % 2`` — because
    shiftright takes only literal shift amounts and b here is a sequence
    element; exact since h < 2^32 < 2^53 (double-exact range)."""

    def bit_of(h, b):
        return F.floor(h / F.pow(F.lit(2.0), b)).cast("long") % 2

    n = F.size(hashes)
    bits = F.sequence(F.lit(0), F.lit(31))
    bit_vals = F.transform(
        bits,
        lambda b: F.when(
            F.aggregate(
                hashes,
                F.lit(0).cast("long"),
                lambda acc, h: acc + bit_of(h, b),
            )
            * 2
            > n,
            F.pow(F.lit(2.0), b).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(
        bit_vals, F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def simhash64(text: Column, k: int = 1) -> Column:
    """64-bit SimHash as struct<hi: long, lo: long> of 32-bit halves
    (Manku et al., WWW'07 — 64-bit fingerprints keep Hamming buckets
    selective at web scale, where 32 bits go quadratic past ~10^6 docs
    per shard).

    Per shingle ONE md5 supplies both halves — hi from hex chars 1-8,
    lo from 9-16 — shared via a let-bound digest array (HOF lambdas get
    no common-subexpression elimination; an unshared md5 would run
    twice per shingle).  The two-long representation avoids 64-bit
    overflow entirely: every value stays < 2^32, so the per-bit
    majority arithmetic is double-exact AND the DuckDB oracle can
    replay it with the same floor/pow integer math.  Hamming distance
    between fingerprints is ``bit_count(hi XOR hi') + bit_count(lo XOR
    lo')`` — both engines agree on non-negative 32-bit patterns."""
    sh = F.array_distinct(shingles(text, k))
    digests = F.transform(sh, F.md5)

    def build(ds: Column) -> Column:
        def half(off: int) -> Column:
            vals = F.transform(
                ds,
                lambda d: F.conv(F.substring(d, off, 8), 16, 10).cast(
                    "long"
                ),
            )
            return let_bound(vals, _fold_bits32)

        return F.struct(half(1).alias("hi"), half(9).alias("lo"))

    return let_bound(digests, build)


def simhash64_block_values(fp: Column, max_hamming: int = 3) -> Column:
    """array<long> of the 64-bit fingerprint's pigeonhole block values:
    the 64 bits of (hi:lo) split into ``max_hamming + 1`` contiguous
    blocks (remainder spread over leading blocks).  ``fp`` is the
    struct<hi, lo> from :func:`simhash64`.  Two fingerprints within the
    Hamming radius agree exactly on >=1 block, so the equal-block
    bucket join is a complete candidate generator.  All shift amounts
    are Python literals (shiftright requires literals); blocks that
    straddle the hi/lo boundary recombine the two slices with an exact
    integer multiply (< 2^32, no overflow)."""
    hi, lo = fp["hi"], fp["lo"]
    n_blocks = max_hamming + 1
    base, rem = divmod(64, n_blocks)
    blocks, start = [], 0
    for i in range(n_blocks):
        w = base + (1 if i < rem else 0)
        end = start + w
        parts = []
        if start < 32:
            lo_w = min(end, 32) - start
            parts.append(
                F.shiftright(lo, start).bitwiseAND(F.lit((1 << lo_w) - 1))
            )
        if end > 32:
            hi_start = max(start - 32, 0)
            hi_w = end - max(start, 32)
            hpart = F.shiftright(hi, hi_start).bitwiseAND(
                F.lit((1 << hi_w) - 1)
            )
            if start < 32:  # straddling block: splice above the lo slice
                hpart = hpart * F.lit(1 << (32 - start))
            parts.append(hpart)
        blocks.append(parts[0] if len(parts) == 1 else parts[0] + parts[1])
        start = end
    return F.array(*blocks)


def simhash_candidate_pairs(
    df: DataFrame,
    stage_ref: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 1,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, hamming) within the Hamming
    radius, via the standard bit-block trick — the SimHash analog of
    ``lsh_candidate_pairs`` (reference analog: the TOC dedup pass,
    toc_parser.py:661-691, lifted to corpus-level near-dup search).

    64-bit fingerprints (Manku et al., WWW'07): with the default
    ``max_hamming=3`` the 64 bits split into 4 exact 16-bit blocks —
    65,536 keys per block table — so bucket fan-out stays selective on
    web-scale corpora where the old 32-bit/8-bit-block variant went
    quadratic past ~10^6 docs per shard.

    Scale path: fingerprints shuffle once on (block_idx, block_val); the
    exact two-half ``bit_count`` filter after the bucket join is a cheap
    integer op per candidate.  Never an all-pairs comparison.  The
    fingerprints are written once under ``stage_ref``, as the signatures
    are in ``lsh_candidate_pairs``."""
    fps = tables.write_and_read(
        df.select(
            F.col(id_col).alias("id"),
            simhash64(F.col(text_col), k).alias("fp"),
        ),
        tables.internal_ref(stage_ref, "fingerprints"),
    )[0]
    banded = fps.select(
        "id",
        "fp",
        F.posexplode(
            simhash64_block_values(F.col("fp"), max_hamming)
        ).alias("block_idx", "block_val"),
    )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.block_idx") == F.col("r.block_idx"))
            & (F.col("l.block_val") == F.col("r.block_val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            (
                F.bit_count(
                    F.col("l.fp.hi").bitwiseXOR(F.col("r.fp.hi"))
                )
                + F.bit_count(
                    F.col("l.fp.lo").bitwiseXOR(F.col("r.fp.lo"))
                )
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
