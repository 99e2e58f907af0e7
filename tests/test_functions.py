"""Unit tests for the training-data curation operators: dedup, similarity,
text stats, multimodal plumbing — verified against independent pure-Python
computations."""

import hashlib
import math

import pytest

from pyspark.sql import functions as F

from pdf_parser_spark.functions import dedup as dd
from pdf_parser_spark.functions import multimodal as mm
from pdf_parser_spark.functions import similarity as sim
from pdf_parser_spark.functions import textstats as ts


@pytest.fixture(scope="module")
def texts_df(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different content with no overlap whatsoever"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, ""),
        (6, "der hund und die katze und der vogel"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _py_shingles(text, k=3):
    words = " ".join(text.lower().strip().split()).split(" ")
    if len(words) < k:
        return [" ".join(words)]
    return [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]


def _py_minhash(text, n_hashes=4, k=3):
    # one-permutation hashing: one md5 per shingle, 8-hex-char slices
    sh = _py_shingles(text, k)
    digests = [hashlib.md5(s.encode()).hexdigest() for s in sh]
    return [
        min(d[8 * i : 8 * i + 8] for d in digests)
        for i in range(n_hashes)
    ]


def test_exact_duplicates(texts_df):
    rows = dd.exact_duplicates(texts_df).collect()
    assert len(rows) == 1
    assert rows[0].keep_id == 1 and rows[0].n_dups == 2


def test_minhash_matches_python(texts_df):
    got = {
        r.id: list(r.sig)
        for r in dd.minhash_df(texts_df, n_hashes=4, k=3).collect()
    }
    for doc_id, text in [(1, "the quick brown fox jumps over the lazy dog"),
                         (3, "completely different content with no overlap "
                             "whatsoever")]:
        assert got[doc_id] == _py_minhash(text), doc_id


def test_wide_minhash_matches_python(texts_df):
    """Seeded-group signatures (n_hashes > 4) match an independent
    pure-Python implementation of the md5('g:' || s) hash family, and
    the first 4 slots are bit-identical to the historical n<=4 family."""
    got = {
        r.id: list(r.sig)
        for r in dd.minhash_df(texts_df, n_hashes=12, k=3).collect()
    }
    text = "the quick brown fox jumps over the lazy dog"
    sh = _py_shingles(text, 3)
    want = []
    for i in range(12):
        g, j = divmod(i, 4)
        pre = "" if g == 0 else f"{g}:"
        want.append(
            min(
                hashlib.md5((pre + s).encode()).hexdigest()[
                    8 * j : 8 * j + 8
                ]
                for s in sh
            )
        )
    assert got[1] == want
    assert got[1][:4] == _py_minhash(text, 4)


def test_wide_lsh_candidate_rate(spark):
    """The 100-TB default banding (64 hashes, 4 bands × 16 rows) must
    keep the false-candidate rate at Jaccard ~0.5 under 1% — the old
    2×2 banding admitted ~44% of such pairs, going near-quadratic on a
    web corpus.  Analytic bound: 1-(1-s^16)^4 at s=0.5 ≈ 6e-5.
    Empirical: 150 planted half-overlap pairs yield (almost) no
    candidates, while planted exact dups always collide."""
    # analytic check on the shipped defaults
    import inspect

    sig = inspect.signature(dd.lsh_candidate_pairs)
    n_hashes = sig.parameters["n_hashes"].default
    n_bands = sig.parameters["n_bands"].default
    rows_per_band = n_hashes // n_bands
    assert rows_per_band >= 4
    fp_rate = 1 - (1 - 0.5**rows_per_band) ** n_bands
    assert fp_rate < 0.01

    # empirical: half-overlap pairs (shingle Jaccard ~0.5-0.6)
    rows = []
    for p in range(150):
        shared = " ".join(f"s{p}w{i}" for i in range(60))
        ua = " ".join(f"a{p}w{i}" for i in range(20))
        ub = " ".join(f"b{p}w{i}" for i in range(20))
        rows.append((f"x{p}", f"{shared} {ua}"))
        rows.append((f"y{p}", f"{shared} {ub}"))
    # planted exact dups: guaranteed collisions in every band
    rows.append(("dupA", rows[0][1]))
    rows.append(("dupB", rows[2][1]))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r.id_a, r.id_b)
        for r in dd.lsh_candidate_pairs(df).collect()
    }
    assert ("dupA", "x0") in pairs
    assert ("dupB", "x1") in pairs
    half_overlap_hits = {
        (a, b)
        for a, b in pairs
        if a[0] in "xy" and b[0] in "xy" and a[1:] == b[1:]
    }
    assert len(half_overlap_hits) <= 2  # <=1.4% of 150 planted pairs


def test_lsh_finds_near_dups(texts_df):
    pairs = {
        (r.id_a, r.id_b)
        for r in dd.lsh_candidate_pairs(
            texts_df, n_hashes=4, k=3, n_bands=2
        ).collect()
    }
    assert (1, 4) in pairs        # exact dup always collides
    assert (1, 3) not in pairs    # disjoint docs never collide
    assert all(a < b for a, b in pairs)


def test_ngram_jaccard(texts_df, spark):
    pairs = spark.createDataFrame([(1, 2), (1, 4)], ["id_a", "id_b"])
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.ngram_jaccard_pairs(texts_df, pairs, k=3).collect()
    }
    assert got[(1, 4)] == 1.0
    a = set(_py_shingles("the quick brown fox jumps over the lazy dog"))
    b = set(_py_shingles("the quick brown fox jumps over the lazy cat"))
    expected = round(len(a & b) / len(a | b), 6)
    assert got[(1, 2)] == expected


def test_simhash_properties(texts_df):
    out = {
        r.doc_id: (r.sh.hi, r.sh.lo)
        for r in texts_df.select(
            "doc_id", dd.simhash64(F.col("text")).alias("sh")
        ).collect()
    }
    assert out[1] == out[4]                    # identical text → same hash
    assert all(0 <= half < 2**32 for half in out[1])

    def hamming(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    # near-dup differs in few bits; disjoint docs differ in many
    assert hamming(out[1], out[2]) < hamming(out[1], out[3])


def test_cosine_topk_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(50, 16)).astype("float64")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        ["vec_id", "embedding"],
    )
    q = [float(x) for x in vecs[0]]
    got = [
        (r.id, r.score) for r in sim.cosine_topk(df, q, k=5).collect()
    ]
    sims = vecs @ vecs[0] / (
        np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[0])
    )
    order = sorted(
        range(50), key=lambda i: (-round(float(sims[i]), 6), i)
    )[:5]
    want = [(i, round(float(sims[i]), 6)) for i in order]
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert math.isclose(g[1], w[1], abs_tol=1e-6)


def test_ann_topk_contains_query(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(80, 16)).astype("float64")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)],
        ["vec_id", "embedding"],
    )
    q = [float(x) for x in vecs[3]]
    got = [r.id for r in sim.ann_topk(df, q, k=5, n_bits=4).collect()]
    # the query vector itself lands in the query bucket and ranks first
    assert got and got[0] == 3


def test_textstats(texts_df):
    rows = {r.doc_id: r for r in ts.text_stats_df(texts_df).collect()}
    assert rows[1].ws_tokens == 9
    assert rows[5].ws_tokens == 0
    assert rows[1].lang_guess == "en"
    assert rows[6].lang_guess == "de"
    assert rows[5].lang_guess == "unknown"
    assert rows[1].fingerprint == hashlib.md5(
        "the quick brown fox jumps over the lazy".encode()
    ).hexdigest()
    assert 0.0 <= rows[1].quality <= 1.0


def test_multimodal_fake_decode(spark, docs_df):
    media = mm.synthesize_media(spark, docs_df)
    feats = mm.decode_features(media, fake=True)
    rows = feats.collect()
    assert rows
    for r in rows:
        assert r.decode_status == "ok"
        assert len(r.feature) == 8
        assert r.n_bytes == len(f"payload:{r.media_ref}".encode())
        want = hashlib.md5(f"payload:{r.media_ref}".encode()).digest()
        assert r.feature == [want[i] / 255.0 for i in range(8)]


def test_multimodal_real_png_decode(spark, docs_df):
    """Real decode path: native-built PNG payloads round-trip their IHDR
    width/height through the mapInPandas decoder."""
    media = mm.synthesize_png_media(docs_df)
    want = {
        r.media_ref: (r.width, r.height)
        for r in media.select("media_ref", "width", "height").collect()
    }
    rows = mm.decode_features(media, fake=False).collect()
    assert rows
    for r in rows:
        assert r.decode_status == "ok", r
        assert (r.width, r.height) == want[r.media_ref]
        assert r.duration_ms is None
        assert r.feature is None
    # driver-side cross-check of one payload against the stdlib parser
    one = media.head()
    assert mm.decode_png_dims(bytes(one.payload)) == (
        one.width,
        one.height,
    )


def test_multimodal_real_wav_decode(spark):
    """Real decode path: a genuine WAV payload (written with the stdlib
    ``wave`` module) decodes to its exact duration."""
    import io
    import wave as wave_mod

    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00" * 4000)  # 0.5 s
    payload = buf.getvalue()
    media = spark.createDataFrame(
        [("wav-1", "audio", bytearray(payload), None, None, None)],
        mm.MEDIA_SCHEMA,
    )
    rows = mm.decode_features(media, fake=False).collect()
    assert len(rows) == 1
    assert rows[0].decode_status == "ok"
    assert rows[0].duration_ms == 500
    assert rows[0].width is None


def test_multimodal_unsupported_format_is_structured(spark, docs_df):
    """Non-PNG/WAV payloads come back as quarantine-style rows, never a
    task failure (error-column philosophy, SURVEY.md §4 P10)."""
    media = mm.synthesize_media(spark, docs_df)  # utf-8 text payloads
    rows = mm.decode_features(media, fake=False).collect()
    assert rows
    for r in rows:
        assert r.decode_status == "unsupported_format"
        assert r.n_bytes > 0


def test_png_gray_roundtrip_and_resize_exact():
    """Pure-Python: encode → decode round-trips, and nearest-neighbor
    resize produces exactly the (dst*src)//dst-mapped pixels."""
    w, h = 6, 4
    px = bytes((7 * x + 13 * y + 5) % 251 for y in range(h) for x in range(w))
    png = mm.encode_png_gray(w, h, px)
    assert mm.decode_png_gray(png) == (w, h, px)
    nw, nh, out, ow, oh = mm.resize_png_nearest(png, 3)
    assert (ow, oh, nw, nh) == (6, 4, 3, 2)
    dec = mm.decode_png_gray(out)
    assert dec[0] == 3 and dec[1] == 2
    want = bytes(
        px[((y * h) // nh) * w + (x * w) // nw]
        for y in range(nh)
        for x in range(nw)
    )
    assert dec[2] == want
    # max_dim >= max(w, h): identity, never upscales
    nw2, nh2, out2, _, _ = mm.resize_png_nearest(png, 100)
    assert (nw2, nh2) == (6, 4) and mm.decode_png_gray(out2)[2] == px


def test_png_decode_reconstructs_all_filters():
    """decode_png_gray handles every standard scanline filter, so PNGs
    from ANY conforming encoder (not just ours) decode correctly: each
    row is forward-filtered with a different type, and decode must
    recover the original pixels."""
    import struct as st
    import zlib as zl

    w, h = 5, 5
    px = [[(3 * x + 11 * y + 1) % 256 for x in range(w)] for y in range(h)]
    raw = bytearray()
    prev = [0] * w
    for y, ft in enumerate([0, 1, 2, 3, 4]):
        raw.append(ft)
        for x in range(w):
            left = px[y][x - 1] if x else 0
            up = prev[x]
            ul = prev[x - 1] if x else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = left
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (left + up) >> 1
            else:
                pred = mm._paeth(left, up, ul)
            raw.append((px[y][x] - pred) & 0xFF)
        prev = px[y]
    ihdr = st.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    png = (
        mm.PNG_MAGIC
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", zl.compress(bytes(raw)))
        + mm._png_chunk(b"IEND", b"")
    )
    got = mm.decode_png_gray(png)
    assert got == (w, h, bytes(b for row in px for b in row))


def test_resize_images_spark_roundtrip(spark, docs_df):
    """Distributed resize: synthesized full-pixel PNGs → resize_images →
    png_pixel_stats; dims and pixel sums must equal the arithmetic
    nearest-neighbor recompute for every image."""
    media = mm.synthesize_pixel_png_media(docs_df)
    resized = mm.resize_images(media, max_dim=12)
    stats = {r.media_ref: r for r in mm.png_pixel_stats(resized).collect()}
    rows = resized.collect()
    assert rows
    for r in rows:
        assert r.resize_status == "ok"
        s = stats[r.media_ref]
        assert s.pixel_status == "ok"
        assert (s.width, s.height) == (r.width, r.height)
        assert max(r.width, r.height) <= 12 or (
            r.orig_width,
            r.orig_height,
        ) == (r.width, r.height)
        import hashlib as hl

        hx = hl.md5(r.media_ref.encode()).hexdigest()
        w = 8 + int(hx[0:2], 16) % 24
        h = 8 + int(hx[2:4], 16) % 24
        seed = int(hx[4:6], 16)
        assert (w, h) == (r.orig_width, r.orig_height)
        want = sum(
            (7 * ((x * w) // r.width) + 13 * ((y * h) // r.height) + seed)
            % 251
            for y in range(r.height)
            for x in range(r.width)
        )
        assert s.pixel_sum == want


def test_sample_frames_wav_decimation(spark):
    """Frame sampling keeps exactly every Nth PCM frame and re-encodes a
    decodable WAV at rate // N."""
    samples = [((37 * i + 9) % 20001) - 10000 for i in range(101)]
    payload = mm.encode_wav_pcm16(samples, 8000)
    media = spark.createDataFrame(
        [("wav-1", "audio", bytearray(payload), None, None, None)],
        mm.MEDIA_SCHEMA,
    )
    out = mm.sample_frames(media, every_n=3).collect()
    assert len(out) == 1
    r = out[0]
    assert r.sample_status == "ok"
    assert (r.orig_frames, r.frames, r.rate) == (101, 34, 2666)
    rate, got = mm.decode_wav_pcm16(bytes(r.payload))
    assert rate == 2666 and got == samples[::3]


def test_resize_and_sample_unsupported_rows(spark, docs_df):
    """Non-decodable payloads flow through both operators as structured
    unsupported_format rows (quarantine philosophy)."""
    media = mm.synthesize_media(spark, docs_df)  # utf-8 text payloads
    for df, status_col in [
        (mm.resize_images(media, 12), "resize_status"),
        (mm.sample_frames(media, 4), "sample_status"),
    ]:
        rows = df.collect()
        assert rows
        assert all(
            getattr(r, status_col) == "unsupported_format" for r in rows
        )
        assert all(r.payload is None for r in rows)


def test_media_linking(spark, docs_df):
    from pdf_parser_spark.operators import pages as P

    flat = P.explode_spans(docs_df)
    spans_out = P.span_sequence_df(P.valid_spans(flat))
    media = mm.synthesize_media(spark, docs_df)
    linked = mm.link_media(spans_out, media)
    rows = linked.collect()
    assert rows
    assert all(r.media_type == "image" for r in rows if r.media_type)


def test_ann_full_probe_equals_brute(spark):
    """Probing every bucket (radius == n_bits at n_bits=2) must reproduce
    the brute-force top-k exactly — the pruning is the ONLY approximation."""
    import numpy as np

    rng = np.random.default_rng(23)
    vecs = rng.normal(size=(60, 16)).astype("float64")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        ["vec_id", "embedding"],
    )
    q = [float(x) for x in vecs[5]]
    assert len(sim.probe_buckets(q, n_bits=2, radius=2)) == 4
    brute = [r.id for r in sim.cosine_topk(df, q, k=10).collect()]
    full = [
        r.id
        for r in sim.ann_topk(df, q, k=10, n_bits=2, radius=2).collect()
    ]
    assert full == brute


def test_ann_recall_on_planted_neighbors(spark):
    """The near-dup use case: 10 tiny-perturbation copies of the query
    among 200 random distractors.  Hyperplane LSH keeps near-identical
    vectors in the query's bucket w.h.p.; radius-1 multi-probe covers the
    single-bit escapes → recall@10 over the planted set must be high."""
    import numpy as np

    rng = np.random.default_rng(42)
    base = rng.normal(size=64)
    planted = [base + 0.02 * rng.normal(size=64) for _ in range(10)]
    noise = [rng.normal(size=64) for _ in range(200)]
    rows = [(0, [float(x) for x in base])]
    rows += [
        (1 + i, [float(x) for x in v]) for i, v in enumerate(planted)
    ]
    rows += [
        (100 + i, [float(x) for x in v]) for i, v in enumerate(noise)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = rows[0][1]
    got = {
        r.id
        for r in sim.ann_topk(
            df, q, k=11, n_bits=8, radius=1
        ).collect()
    }
    planted_ids = set(range(1, 11))
    recall = len(got & planted_ids) / 10
    assert recall >= 0.9, f"planted-neighbor recall {recall}"


def test_ann_recall_floor_on_embeddings_table(spark):
    """Pinned recall floor on the real (deterministic) embeddings table:
    n_bits=4 radius=1 probes 5/16 buckets; mean recall@10 over 3 queries
    measured 0.53 — gate at >= 0.4 so implementation drift that hurts
    recall fails loudly.  (Uniform-random embeddings are the LSH
    worst case; see the planted-neighbor test for the near-dup case.)"""
    emb = spark.read.parquet(
        "/root/testdata/sf0.01/embeddings.parquet"
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    emb = emb.cache()
    emb.count()
    total = 0.0
    for qid in (0, 7, 123):
        q = emb.filter(F.col("vec_id") == qid).head()["embedding"]
        brute = {r.id for r in sim.cosine_topk(emb, q, k=10).collect()}
        ann = {
            r.id
            for r in sim.ann_topk(
                emb, q, k=10, n_bits=4, radius=1
            ).collect()
        }
        total += len(brute & ann) / 10
    emb.unpersist()
    assert total / 3 >= 0.4, f"mean recall {total / 3}"


def test_ann_bucketed_layout_matches_inmemory(spark, tmp_path):
    """The physical bucket-partitioned layout returns EXACTLY what the
    in-memory probe filter returns — only the scan differs (pruned
    partitions vs full scan + per-row bucket eval)."""
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(120, 16)).astype("float64")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(120)],
        ["vec_id", "embedding"],
    )
    path = str(tmp_path / "emb_bucketed")
    sim.write_bucketed(df, path, dim=16, n_bits=4)
    q = [float(x) for x in vecs[9]]
    want = [
        (r.id, r.score)
        for r in sim.ann_topk(df, q, k=10, n_bits=4, radius=1).collect()
    ]
    got = [
        (r.id, r.score)
        for r in sim.ann_topk_bucketed(
            spark, path, q, k=10, n_bits=4, radius=1
        ).collect()
    ]
    assert got == want
    # the layout really is one directory per bucket
    import os

    parts = [
        d for d in os.listdir(path) if d.startswith("bucket=")
    ]
    assert 1 < len(parts) <= 16


def _long_text(seed: str, n_words: int = 120) -> str:
    """Deterministic ~n_words text — long enough that one appended word
    flips only a few of the 64 majority bits (the near-dup regime the
    fingerprint targets; short texts legitimately flip many bits)."""
    words = [f"{seed}{i % 37}tok{i}" for i in range(n_words)]
    return " ".join(words)


def test_simhash_candidate_pairs_planted(spark):
    """Pigeonhole completeness + precision on 64-bit fingerprints:
    planted near-dups (one appended word on a long doc) are found
    within Hamming<=3; unrelated docs are not paired."""
    base = _long_text("alpha")
    other = _long_text("omega")
    rows = [
        ("a1", base),
        ("a2", base + " extra"),
        ("b1", other),
        ("b2", other + " okay"),
        ("c1", "unrelated gamma delta epsilon zeta eta theta iota kappa"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dd.simhash_candidate_pairs(df, max_hamming=3).collect()
    }
    assert ("a1", "a2") in pairs and pairs[("a1", "a2")] <= 3
    assert ("b1", "b2") in pairs and pairs[("b1", "b2")] <= 3
    assert all({a[0], b[0]} != {"a", "c"} for a, b in pairs)
    assert ("a1", "b1") not in pairs

    # ground truth: pairs == ALL pairs within the radius (bucket join is
    # pruning only, never lossy) — brute-force check over fingerprints
    fps = {
        r.doc_id: (r.fp.hi, r.fp.lo)
        for r in df.select(
            "doc_id", dd.simhash64(F.col("text"), 1).alias("fp")
        ).collect()
    }
    import itertools

    def ham(a, b):
        return (
            bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")
        )

    brute = {
        (x, y): ham(fps[x], fps[y])
        for x, y in itertools.combinations(sorted(fps), 2)
        if ham(fps[x], fps[y]) <= 3
    }
    assert pairs == brute


def test_simhash64_matches_python(spark):
    """Fingerprint halves match an independent pure-Python fold."""
    rows = [("d1", _long_text("px", 40)), ("d2", "tiny doc")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.fp.hi, r.fp.lo)
        for r in df.select(
            "doc_id", dd.simhash64(F.col("text"), 1).alias("fp")
        ).collect()
    }
    for doc_id, text in rows:
        words = list(dict.fromkeys(" ".join(text.lower().split()).split()))
        digs = [hashlib.md5(w.encode()).hexdigest() for w in words]

        def half(off):
            vals = [int(d[off : off + 8], 16) for d in digs]
            fp = 0
            for b in range(32):
                if 2 * sum((v >> b) & 1 for v in vals) > len(vals):
                    fp |= 1 << b
            return fp

        assert got[doc_id] == (half(0), half(8)), doc_id


def test_simhash64_block_split_covers_all_bits(spark):
    """The four 16-bit block values must partition all 64 bits:
    reassembling them reproduces (hi:lo) exactly."""
    df = spark.createDataFrame(
        [("d1", _long_text("blk", 30))], ["doc_id", "text"]
    )
    fp = dd.simhash64(F.col("text"), 1)
    row = df.select(
        fp.alias("fp"),
        dd.simhash64_block_values(fp, max_hamming=3).alias("blocks"),
    ).head()
    full = (row.fp.hi << 32) | row.fp.lo
    acc, lo = 0, 0
    for v in row.blocks:
        assert 0 <= v < (1 << 16)
        acc |= v << lo
        lo += 16
    assert acc == full


def test_embedding_near_dup_pairs_planted(spark):
    """Planted exact/near duplicates are recovered; unrelated random
    vectors (cosine ~0 at dim 32) never pass the threshold."""
    import numpy as np

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(40, 32)).astype("float64")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    # exact duplicate of 3, near-duplicate of 7
    rows.append((103, [float(x) for x in vecs[3]]))
    near = vecs[7] + 0.001 * rng.normal(size=32)
    rows.append((107, [float(x) for x in near]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in sim.embedding_near_dup_pairs(
            df, dim=32, threshold=0.99, n_bits=4, n_tables=2
        ).collect()
    }
    assert (3, 103) in got and got[(3, 103)] == 1.0
    assert (7, 107) in got and got[(7, 107)] >= 0.99
    assert len(got) == 2  # nothing else crosses the threshold


def _ivf_fixture(spark, n=80, dim=16, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, dim)).astype("float64")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        ["vec_id", "embedding"],
    )
    return df, vecs


def test_ivf_full_probe_equals_brute(spark):
    """Probing every list must reproduce brute-force exactly, with both
    seeded and Lloyd-trained centroids — pruning is the only
    approximation in IVF."""
    df, vecs = _ivf_fixture(spark)
    q = [float(x) for x in vecs[3]]
    brute = [(r.id, r.score) for r in sim.cosine_topk(df, q, k=8).collect()]
    for cents in (
        sim.seed_centroids(16, 4),
        sim.train_centroids(df, 16, 4, n_iters=2),
    ):
        got = [
            (r.id, r.score)
            for r in sim.ivf_topk(df, q, cents, k=8, n_probe=4).collect()
        ]
        assert got == brute


def test_ivf_training_reduces_objective(spark):
    """Lloyd refinement must not worsen the clustering objective
    (sum over rows of distance-to-assigned-centroid; the per-row
    ``dot(v, v)`` constant cancels in the comparison)."""
    df, _ = _ivf_fixture(spark, n=120)

    def objective(cents):
        dists = F.array(
            *[sim._cent_dist(F.col("embedding"), c) for c in cents]
        )
        return df.select(
            F.sum(F.array_min(dists)).alias("o")
        ).head().o

    seeded = sim.seed_centroids(16, 4)
    trained = sim.train_centroids(df, 16, 4, n_iters=3)
    assert objective(trained) <= objective(seeded) + 1e-9


def test_ivf_partitioned_equals_memory_and_finds_self(spark, tmp_path):
    """The physical layout must return exactly what the in-memory
    definition returns, and the query vector itself (same list by
    construction) is found even at n_probe=1."""
    df, vecs = _ivf_fixture(spark, n=100)
    cents = sim.train_centroids(df, 16, 5, n_iters=2)
    q = [float(x) for x in vecs[11]]
    path = str(tmp_path / "emb_ivf")
    sim.write_ivf(df, path, cents)
    mem = [
        (r.id, r.score)
        for r in sim.ivf_topk(df, q, cents, k=6, n_probe=2).collect()
    ]
    part = [
        (r.id, r.score)
        for r in sim.ivf_topk_partitioned(
            spark, path, q, cents, k=6, n_probe=2
        ).collect()
    ]
    assert part == mem
    top1 = sim.ivf_topk(df, q, cents, k=1, n_probe=1).head()
    assert top1.id == 11 and abs(top1.score - 1.0) < 1e-9


def test_let_bound_single_evaluation(spark):
    """let_bound must evaluate its value ONCE per row: binding a
    nondeterministic rand() and referencing it from every element of a
    transform yields identical elements, while referencing the rand()
    expression directly re-evaluates it per element (the HOF re-eval
    hazard let_bound exists to prevent)."""
    from pdf_parser_spark.operators.exprs import let_bound

    df = spark.range(20)
    seq = F.sequence(F.lit(1), F.lit(50))

    bound = df.select(
        F.size(
            F.array_distinct(
                let_bound(
                    F.rand(), lambda r: F.transform(seq, lambda i: r)
                )
            )
        ).alias("n")
    )
    assert all(r.n == 1 for r in bound.collect())

    r_expr = F.rand()
    inline = df.select(
        F.size(
            F.array_distinct(F.transform(seq, lambda i: r_expr))
        ).alias("n")
    )
    # per-element re-evaluation: 50 draws are (near-certainly) distinct
    assert all(r.n > 1 for r in inline.collect())


def test_non_blank_matches_python_strip_truthiness(spark):
    from pdf_parser_spark.operators.exprs import non_blank

    rows = [
        (0, ""), (1, "   "), (2, "\t\n"), (3, "  "),
        (4, " a "), (5, "x"), (6, " x "), (7, None),
    ]
    df = spark.createDataFrame(rows, ["i", "s"])
    got = {
        r.i: r.nb
        for r in df.select(
            "i", non_blank(F.coalesce("s", F.lit(""))).alias("nb")
        ).collect()
    }
    want = {i: bool((s or "").strip()) for i, s in rows}
    assert got == want


def test_gif_block_walk_decode():
    """decode_gif_meta on a FOREIGN-style GIF (global color table,
    graphic-control + comment extensions, local color table on frame 2)
    and on malformed payloads — the block-walk must count frames without
    LZW decompression and refuse corrupt streams structurally."""
    from pdf_parser_spark.functions import multimodal as mm

    def frame(w, h, local_bits=None):
        lct = b""
        packed = 0
        if local_bits is not None:  # local color table precedes LZW data
            packed = 0x80 | (local_bits - 1)
            lct = bytes(3 * (2 ** local_bits))
        return (
            b"\x2c" + b"\x00\x00\x00\x00"
            + w.to_bytes(2, "little") + h.to_bytes(2, "little")
            + bytes([packed]) + lct
            + b"\x02" + b"\x02\xaa\xbb" + b"\x00"
        )

    gct = bytes(3 * 4)  # 2-bit global color table (4 entries)
    gce = b"\x21\xf9\x04\x00\x0a\x00\x00\x00"          # graphic control
    comment = b"\x21\xfe\x05hello\x00"                  # comment ext
    gif = (
        b"GIF89a" + (300).to_bytes(2, "little") + (200).to_bytes(2, "little")
        + bytes([0x80 | 0x01]) + b"\x00\x00" + gct
        + gce + frame(300, 200) + comment + frame(10, 10, local_bits=2)
        + b"\x3b"
    )
    assert mm.decode_gif_meta(gif) == (300, 200, 2)
    # truncated mid-frame → None (not a crash); junk → None; GIF87a ok
    assert mm.decode_gif_meta(gif[:-10]) is None
    assert mm.decode_gif_meta(b"NOTAGIF" * 4) is None
    assert mm.decode_gif_meta(b"GIF87a" + gif[6:]) == (300, 200, 2)
    assert mm._decode_one(b"junkjunkjunkjunk")["decode_status"] == (
        "unsupported_format"
    )


def test_gif_frame_sampling_byte_exact(spark):
    """sample_frames over synthesized multi-frame GIFs: keeps frames
    0, n, 2n... by byte-range copy, output re-decodes to the kept count
    with unchanged canvas dims; a trailing graphic-control extension
    attached to a dropped frame is dropped with it."""
    from pdf_parser_spark.functions import multimodal as mm

    docs = spark.createDataFrame(
        [("d1", [("image", "x", "gif-a", 0)]),
         ("d2", [("figure", "x", "gif-b", 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    media = mm.synthesize_gif_media(docs)
    out = {r.media_ref: r for r in
           mm.sample_frames(media, every_n=2).collect()}
    for r in media.collect():
        s = out[r.media_ref]
        assert s.sample_status == "ok" and s.rate is None
        w, h, n_in = mm.decode_gif_meta(bytes(r.payload))
        assert s.orig_frames == n_in
        assert s.frames == (n_in + 1) // 2
        assert mm.decode_gif_meta(bytes(s.payload)) == (
            w, h, (n_in + 1) // 2
        )

    # extension attribution: GCE+frame, GCE+frame → sampling every 2nd
    # keeps frame 0 WITH its GCE (delay rescaled ×2 to preserve total
    # playback duration) and drops frame 1 AND its GCE; a comment after
    # the last frame is flushed before the trailer, not dropped
    gce = b"\x21\xf9\x04\x00\x0a\x00\x00\x00"           # delay 10 cs
    gce_x2 = b"\x21\xf9\x04\x00\x14\x00\x00\x00"        # delay 20 cs
    comment = b"\x21\xfe\x05hello\x00"
    f = (b"\x2c\x00\x00\x00\x00\x05\x00\x05\x00\x00"
         b"\x02\x02\xaa\xbb\x00")
    gif = (b"GIF89a\x05\x00\x05\x00\x00\x00\x00"
           + gce + f + gce + f + comment + b"\x3b")
    n_in, n_kept, sampled = mm.sample_gif_frames(gif, 2)
    assert (n_in, n_kept) == (2, 1)
    assert sampled.count(gce) == 0          # original delay rewritten
    assert sampled.count(gce_x2) == 1       # kept GCE, rescaled delay
    assert sampled.count(comment) == 1      # trailing comment survives
    assert sampled.endswith(comment + b"\x3b")
    assert mm.decode_gif_meta(sampled) == (5, 5, 1)
    # delay clamp: 0x9000 cs × 2 saturates at 0xFFFF
    gce_big = b"\x21\xf9\x04\x00\x00\x90\x00\x00"
    gif2 = (b"GIF89a\x05\x00\x05\x00\x00\x00\x00"
            + gce_big + f + b"\x3b")
    _, _, sampled2 = mm.sample_gif_frames(gif2, 2)
    assert b"\x21\xf9\x04\x00\xff\xff\x00\x00" in sampled2
