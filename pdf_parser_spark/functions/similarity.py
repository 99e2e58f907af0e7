"""Embedding similarity search over ``array<float>`` columns.

- brute-force cosine top-k — the correctness baseline (native
  ``zip_with`` + ``aggregate``; no Python in the loop)
- LSH-bucketed ANN        — a scale path: random-hyperplane sign bits
  derived deterministically from md5 (portable, seedable), bucket join
  instead of all-pairs scan.
- IVF ANN                 — the other classic scale path: nearest-centroid
  inverted lists (seeded deterministic centroids; no Lloyd refinement,
  which no key needs), physically partitioned by list id, probe-pruned
  reads.

At 100 TB the brute-force path is a full scan per query — fine for batch
re-ranking, wrong for online lookup; the LSH variant prunes to one bucket
(and its probe neighbors) so the scan cost drops by ~2^n_bits.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right float sum (deterministic per row)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Brute-force cosine top-k against a constant query vector.

    Scores are rounded before ranking and ties break on id, so the result
    set is deterministic across engines and partitionings.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    scored = embeddings.select(
        F.col(id_col).alias("id"),
        F.round(
            dot(F.col(vec_col), q) / (norm(F.col(vec_col)) * F.lit(qn)),
            decimals,
        ).alias("score"),
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("id")).limit(k)
    )


def _plane(dim: int, n_bits: int, salt: str = ""):
    """Deterministic pseudo-random hyperplanes: component (b, d) is
    +1/-1 by a fixed parity of md5 — computed driver-side so the plan
    embeds plain literals.  ``salt`` derives INDEPENDENT hash tables
    (multi-table OR for near-dup candidate generation); the default ""
    reproduces the original family exactly."""
    import hashlib

    planes = []
    for b in range(n_bits):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"plane{salt}:{b}:{d}".encode()).hexdigest()
            row.append(1.0 if int(h[:2], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def lsh_bucket(
    vec: Column, dim: int, n_bits: int = 8, salt: str = ""
) -> Column:
    """Random-hyperplane LSH bucket id (0..2^n_bits-1) as a long."""
    planes = _plane(dim, n_bits, salt)
    out = F.lit(0).cast("long")
    for b, row in enumerate(planes):
        proj = dot(vec, F.array(*[F.lit(c) for c in row]))
        out = out + F.when(
            proj > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
    return out


def query_bucket(query_vec: list, n_bits: int) -> int:
    """Driver-side bucket of a query vector (same hash family as
    ``lsh_bucket``; left-to-right float sum matches the Column fold)."""
    planes = _plane(len(query_vec), n_bits)
    qbucket = 0
    for b, row in enumerate(planes):
        proj = sum(c * float(x) for c, x in zip(row, query_vec))
        if proj > 0:
            qbucket |= 1 << b
    return qbucket


def probe_buckets(query_vec: list, n_bits: int, radius: int = 1) -> list:
    """Multi-probe bucket set: the query's bucket plus every bucket within
    the given Hamming radius (radius 1 flips each single bit).  Sorted,
    deterministic — at scale this is the partition-pruning IN-list."""
    qb = query_bucket(query_vec, n_bits)
    probes = {qb}
    if radius >= 1:
        for b in range(n_bits):
            probes.add(qb ^ (1 << b))
    if radius >= 2:
        for b1 in range(n_bits):
            for b2 in range(b1 + 1, n_bits):
                probes.add(qb ^ (1 << b1) ^ (1 << b2))
    return sorted(probes)


def ann_topk(
    embeddings: DataFrame,
    query_vec: list,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
    radius: int = 1,
) -> DataFrame:
    """LSH-pruned cosine top-k over an IN-MEMORY DataFrame: the bucket is
    computed per row at query time, so this still SCANS every row (it
    saves only the full dot-product ranking on non-probe rows).  Correct
    as the semantic definition and for one-shot batch use; the scale path
    is ``write_bucketed`` + ``ann_topk_bucketed``, where the same probe
    IN-list becomes a partition filter and non-probe rows are never read.
    Recall is tuned by ``radius``/``n_bits`` (see tests/test_functions.py
    recall gate)."""
    dim = len(query_vec)
    probes = probe_buckets(query_vec, n_bits, radius)
    pruned = embeddings.filter(
        lsh_bucket(F.col(vec_col), dim, n_bits).isin(probes)
    )
    return cosine_topk(pruned, query_vec, k, id_col, vec_col)


def write_bucketed(
    embeddings: DataFrame,
    path: str,
    dim: int,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One-time physical ANN layout: materialize the embeddings table
    partitioned by LSH ``bucket`` (2^n_bits directories).

    This is the 100-TB design: bucket assignment runs ONCE at write time
    (a pure projection over the ingest scan), and every subsequent query
    reads only its probe partitions — ``1 + n_bits`` of ``2^n_bits`` at
    radius 1 — via partition pruning, never a full scan.  Parquet
    ``partitionBy`` here ≙ Iceberg identity-partitioning on ``bucket``
    in production."""
    out = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket(F.col(vec_col), dim, n_bits).alias("bucket"),
    )
    out.write.mode("overwrite").partitionBy("bucket").parquet(path)


def ann_topk_bucketed(
    spark,
    path: str,
    query_vec: list,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
    radius: int = 1,
) -> DataFrame:
    """ANN top-k against a ``write_bucketed`` layout: the probe IN-list
    lands in the scan's ``PartitionFilters`` (plan-asserted in
    tests/test_plans.py), so only probe-bucket files are listed and read.
    Same hash family and probe set as ``ann_topk`` — results are
    identical; only the physical scan differs."""
    probes = probe_buckets(query_vec, n_bits, radius)
    scanned = spark.read.parquet(path).filter(
        F.col("bucket").isin(probes)
    )
    return cosine_topk(scanned, query_vec, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the OTHER classic scale path beside
# hyperplane LSH: partition the space by nearest-centroid lists, store
# vectors physically by list, probe only the query's nearest lists.
# Centroid seeding is md5-derived (portable to the SQL oracle, same
# device as _plane); the seeded centroids are used as they are.
# ---------------------------------------------------------------------------


def seed_centroids(dim: int, n_lists: int) -> list:
    """Deterministic pseudo-random centroids: component (j, d) maps the
    md5 byte of ``ivf:{j}:{d}`` onto [-1, 1] (byte/127.5 - 1) — exactly
    replayable in SQL, so seeded-IVF assignment is oracle-verifiable."""
    import hashlib

    cents = []
    for j in range(n_lists):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"ivf:{j}:{d}".encode()).hexdigest()
            row.append(int(h[:2], 16) / 127.5 - 1.0)
        cents.append(row)
    return cents


def _cent_dist(vec: Column, cent: list) -> Column:
    """Rank-equivalent squared L2 distance to a constant centroid:
    ``-2*dot(v, c) + dot(c, c)`` (the per-row ``dot(v, v)`` term is
    constant across centroids, so it never affects the argmin).  The
    dot-product formulation keeps Spark, driver Python, and the DuckDB
    oracle summing the same terms left-to-right."""
    c = F.array(*[F.lit(float(x)) for x in cent])
    c2 = sum(float(x) * float(x) for x in cent)
    return F.lit(-2.0) * dot(vec, c) + F.lit(c2)


def ivf_assign(vec: Column, centroids: list) -> Column:
    """Nearest-centroid list id (first minimal index on ties)."""
    dists = F.array(*[_cent_dist(vec, c) for c in centroids])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _py_dist(query_vec: list, cent: list) -> float:
    return -2.0 * sum(
        float(x) * float(c) for x, c in zip(query_vec, cent)
    ) + sum(float(c) * float(c) for c in cent)


def query_probe_lists(
    query_vec: list, centroids: list, n_probe: int
) -> list:
    """Driver-side probe set: the ``n_probe`` nearest centroid lists to
    the query (ties broken on list id), sorted — the partition-pruning
    IN-list of the IVF layout."""
    order = sorted(
        range(len(centroids)),
        key=lambda j: (_py_dist(query_vec, centroids[j]), j),
    )
    return sorted(order[:n_probe])


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list,
    centroids: list,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF cosine top-k over an in-memory DataFrame (semantic
    definition — assignment computed per row; the scale path is
    ``write_ivf`` + ``ivf_topk_partitioned``)."""
    probes = query_probe_lists(query_vec, centroids, n_probe)
    pruned = embeddings.filter(
        ivf_assign(F.col(vec_col), centroids).isin(probes)
    )
    return cosine_topk(pruned, query_vec, k, id_col, vec_col)


def write_ivf(
    embeddings: DataFrame,
    path: str,
    centroids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One-time physical IVF layout: the table partitioned by
    ``list_id`` (nearest centroid).  Same 100-TB shape as
    ``write_bucketed``: assignment is a pure projection over the ingest
    scan, run once; queries read only their probe lists via partition
    pruning (``n_probe`` of ``n_lists`` directories).  Parquet
    ``partitionBy`` ≙ Iceberg identity-partitioning on ``list_id``."""
    out = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        ivf_assign(F.col(vec_col), centroids).alias("list_id"),
    )
    out.write.mode("overwrite").partitionBy("list_id").parquet(path)


def ivf_topk_partitioned(
    spark,
    path: str,
    query_vec: list,
    centroids: list,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k against a ``write_ivf`` layout: the probe IN-list lands
    in the scan's ``PartitionFilters`` (plan-asserted), so only probe
    lists are listed and read.  Identical results to ``ivf_topk`` with
    the same centroids."""
    probes = query_probe_lists(query_vec, centroids, n_probe)
    scanned = spark.read.parquet(path).filter(
        F.col("list_id").isin(probes)
    )
    return cosine_topk(scanned, query_vec, k, id_col, vec_col)


def embedding_near_dup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 6,
    n_tables: int = 2,
    decimals: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine):
    candidates share a hyperplane-LSH bucket in ANY of ``n_tables``
    independent tables (salted hash families), then an EXACT cosine
    ``>= threshold`` post-filter on the rounded score.

    This is the embedding flavor of the dedup family (beside MinHash
    and SimHash): semantically-duplicate documents — re-encodes,
    near-identical revisions — sit at cosine ~1 and collide in every
    table w.h.p.; the multi-table OR recovers pairs that a single
    table's hyperplanes happen to split.  Scale shape mirrors
    ``lsh_candidate_pairs``: one shuffle on (table, bucket), never
    all-pairs; vectors are re-joined onto the (much smaller) candidate
    set for the exact filter.  Recall is tuned by ``n_tables``/
    ``n_bits`` (fewer bits → bigger buckets → higher recall, more
    candidates)."""
    vecs = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    buckets = vecs.select(
        "id",
        *[
            lsh_bucket(F.col("v"), dim, n_bits, salt=f"t{t}").alias(
                f"_b{t}"
            )
            for t in range(n_tables)
        ],
    )
    banded = buckets.select(
        "id",
        F.posexplode(
            F.array(*[F.col(f"_b{t}") for t in range(n_tables)])
        ).alias("tbl", "bucket"),
    )
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.tbl") == F.col("r.tbl"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    a = vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine(F.col("va"), F.col("vb")), decimals
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
