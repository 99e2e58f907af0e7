"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched ``mapInPandas``.

Two decode paths through the SAME dataflow:

- **real** (default): stdlib decoders for the formats this container can
  parse — PNG header decode (width/height from the IHDR chunk via
  ``struct``), GIF block-walk (canvas dims + frame count, no LZW
  decompression) and WAV decode (sample rate / frame count → duration via
  ``wave``).  Payloads in any other format yield a structured
  ``decode_status='unsupported_format'`` row (the quarantine-column
  philosophy — never a task failure).  Heavier codecs (JPEG, video,
  resampling) plug into the same branch with PIL/ffmpeg when available.
- **fake=True**: deterministic digest-derived feature vector, for
  plumbing tests that need a stable ``feature`` column without any
  format assumptions.

The media span model follows the reference's image records
(extractor.py:260-291: name/bbox/width/height identity) lifted to binary
payloads keyed by ``media_ref``.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_parser_spark.config import IMAGE_KINDS

MEDIA_SCHEMA = StructType(
    [
        StructField("media_ref", StringType(), nullable=False),
        StructField("media_type", StringType()),   # image|audio|video
        StructField("payload", BinaryType()),      # opaque encoded bytes
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),       # PNG / GIF decode
        StructField("height", IntegerType()),      # PNG / GIF decode
        StructField("duration_ms", LongType()),    # WAV decode
        StructField("n_frames", IntegerType()),    # GIF decode (video)
        StructField("feature", ArrayType(DoubleType())),  # fixed dim 8
        StructField("decode_status", StringType()),
    ]
)

_FEATURE_DIM = 8

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _fake_feature(payload: bytes) -> list:
    """Deterministic stand-in for a learned embedding: 8 doubles derived
    from the payload digest (stable across runs/partitions)."""
    digest = hashlib.md5(payload or b"").digest()
    return [digest[i] / 255.0 for i in range(_FEATURE_DIM)]


def decode_png_dims(payload: bytes):
    """(width, height) from a PNG's IHDR chunk, or None if not a PNG.

    PNG layout (public spec): 8-byte signature, then the IHDR chunk —
    4-byte length, 4-byte type ``IHDR``, then big-endian u32 width and
    u32 height."""
    if (
        payload is None
        or len(payload) < 24
        or not payload.startswith(PNG_MAGIC)
        or payload[12:16] != b"IHDR"
    ):
        return None
    return struct.unpack(">II", payload[16:24])


def decode_wav_duration_ms(payload: bytes):
    """Duration in ms from a RIFF/WAVE payload, or None on parse failure."""
    if payload is None or len(payload) < 12 or payload[:4] != b"RIFF":
        return None
    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            rate = w.getframerate()
            if rate <= 0:
                return None
            return (w.getnframes() * 1000) // rate
    except wave.Error:
        return None


def decode_gif_meta(payload: bytes):
    """(width, height, n_frames) from a GIF87a/89a payload, or None.

    Pure block-walk over the public GIF grammar — logical screen
    descriptor for the canvas dims, then one count per image descriptor
    (0x2C), skipping extensions (0x21), color tables, and LZW data
    sub-blocks WITHOUT decompressing anything: frame counting for the
    video-shaped case needs structure, not pixels."""
    if (
        payload is None
        or len(payload) < 13
        or payload[:6] not in (b"GIF87a", b"GIF89a")
    ):
        return None
    w, h = struct.unpack("<HH", payload[6:10])
    pos = 13
    if payload[10] & 0x80:  # global color table
        pos += 3 * (2 ** ((payload[10] & 0x07) + 1))
    frames = 0
    try:
        while pos < len(payload):
            b0 = payload[pos]
            if b0 == 0x3B:  # trailer
                return (w, h, frames)
            if b0 == 0x21:  # extension: introducer + label + sub-blocks
                pos += 2
                while payload[pos] != 0:
                    pos += 1 + payload[pos]
                pos += 1
            elif b0 == 0x2C:  # image descriptor
                frames += 1
                pos += 10
                lpacked = payload[pos - 1]
                if lpacked & 0x80:  # local color table
                    pos += 3 * (2 ** ((lpacked & 0x07) + 1))
                pos += 1  # LZW minimum code size
                while payload[pos] != 0:
                    pos += 1 + payload[pos]
                pos += 1
            else:
                return None  # corrupt block stream
    except IndexError:
        return None
    return None  # ran off the end without a trailer


_NO_DECODE = {
    "width": None,
    "height": None,
    "duration_ms": None,
    "n_frames": None,
}


def _decode_one(payload) -> dict:
    """Real per-item decode (runs inside the Arrow batch loop)."""
    b = bytes(payload or b"")
    dims = decode_png_dims(b)
    if dims is not None:
        return {
            **_NO_DECODE,
            "width": dims[0],
            "height": dims[1],
            "decode_status": "ok",
        }
    gif = decode_gif_meta(b)
    if gif is not None:
        return {
            **_NO_DECODE,
            "width": gif[0],
            "height": gif[1],
            "n_frames": gif[2],
            "decode_status": "ok",
        }
    ms = decode_wav_duration_ms(b)
    if ms is not None:
        return {
            **_NO_DECODE,
            "duration_ms": ms,
            "decode_status": "ok",
        }
    return {**_NO_DECODE, "decode_status": "unsupported_format"}


def decode_features(media: DataFrame, fake: bool = False) -> DataFrame:
    """mapInPandas over media rows → per-item feature/metadata rows.

    One Arrow batch at a time — never the whole partition in memory.
    The real path (default) decodes PNG dimensions, GIF dimensions +
    frame counts (the video-shaped case), and WAV durations with the
    stdlib; other formats come back as structured
    ``unsupported_format`` rows.  ``fake=True`` swaps the decoder for
    the deterministic digest feature (identical dataflow)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n_bytes = pdf["payload"].map(
                lambda p: len(p) if p is not None else 0
            )
            if fake:
                yield pd.DataFrame(
                    {
                        "media_ref": pdf["media_ref"],
                        "media_type": pdf["media_type"],
                        "n_bytes": n_bytes,
                        "width": pd.Series(
                            [None] * len(pdf), dtype="object"
                        ),
                        "height": pd.Series(
                            [None] * len(pdf), dtype="object"
                        ),
                        "duration_ms": pd.Series(
                            [None] * len(pdf), dtype="object"
                        ),
                        "n_frames": pd.Series(
                            [None] * len(pdf), dtype="object"
                        ),
                        "feature": pdf["payload"].map(
                            lambda p: _fake_feature(bytes(p or b""))
                        ),
                        "decode_status": "ok",
                    }
                )
                continue
            decoded = pd.DataFrame(
                [_decode_one(p) for p in pdf["payload"]],
                index=pdf.index,
            )
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "media_type": pdf["media_type"],
                    "n_bytes": n_bytes,
                    "width": decoded["width"],
                    "height": decoded["height"],
                    "duration_ms": decoded["duration_ms"],
                    "n_frames": decoded["n_frames"],
                    # a learned feature needs a vision/audio model — out
                    # of scope for the stdlib decoders
                    "feature": pd.Series([None] * len(pdf), dtype="object"),
                    "decode_status": decoded["decode_status"],
                }
            )

    return media.mapInPandas(batches, FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# Real pixel/PCM codecs (stdlib zlib/wave) behind the resize and
# frame-sample operators.  Scope: 8-bit grayscale non-interlaced PNG
# (all five scanline filters on decode, filter 0 on encode) and PCM16
# mono WAV — the formats the fixture synthesizers emit; anything else
# comes back as a structured ``unsupported_format`` row.
# ---------------------------------------------------------------------------


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png_gray(width: int, height: int, pixels: bytes) -> bytes:
    """Real PNG encoder: 8-bit grayscale, filter 0 scanlines, one
    zlib-compressed IDAT, correct CRCs (decodable by any PNG reader)."""
    raw = b"".join(
        b"\x00" + pixels[y * width : (y + 1) * width]
        for y in range(height)
    )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png_gray(payload):
    """(width, height, pixel-bytes) for an 8-bit grayscale non-interlaced
    PNG, or None if the payload is not one.  Reconstructs all five
    standard scanline filters (None/Sub/Up/Average/Paeth) at 1 byte per
    pixel, so inputs from any conforming encoder decode correctly."""
    b = bytes(payload or b"")
    if not b.startswith(PNG_MAGIC):
        return None
    pos, idat, w, h = 8, [], None, None
    while pos + 8 <= len(b):
        (ln,) = struct.unpack(">I", b[pos : pos + 4])
        ctype = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + ln]
        if ctype == b"IHDR":
            if len(data) < 13:
                return None
            w, h, depth, color, comp, filt, inter = struct.unpack(
                ">IIBBBBB", data[:13]
            )
            if depth != 8 or color != 0 or comp or filt or inter:
                return None
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if w is None or not idat:
        return None
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    stride = w + 1
    if len(raw) < stride * h:
        return None
    out = bytearray()
    prev = bytearray(w)
    for y in range(h):
        line = raw[y * stride : (y + 1) * stride]
        ft, cur = line[0], bytearray(line[1:])
        if ft == 1:  # Sub
            for x in range(1, w):
                cur[x] = (cur[x] + cur[x - 1]) & 0xFF
        elif ft == 2:  # Up
            for x in range(w):
                cur[x] = (cur[x] + prev[x]) & 0xFF
        elif ft == 3:  # Average
            for x in range(w):
                left = cur[x - 1] if x else 0
                cur[x] = (cur[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for x in range(w):
                left = cur[x - 1] if x else 0
                ul = prev[x - 1] if x else 0
                cur[x] = (cur[x] + _paeth(left, prev[x], ul)) & 0xFF
        elif ft != 0:
            return None
        out += cur
        prev = cur
    return w, h, bytes(out)


def resize_png_nearest(payload, max_dim: int):
    """Nearest-neighbor downscale so max(w, h) <= max_dim (never
    upscales); integer source mapping ``src = (dst * src_dim) //
    dst_dim`` so an oracle can recompute sampled pixels arithmetically.
    Returns (new_w, new_h, new_png_bytes, orig_w, orig_h) or None."""
    dec = decode_png_gray(payload)
    if dec is None:
        return None
    w, h, px = dec
    m = max(w, h)
    if m <= max_dim:
        nw, nh = w, h
    else:
        nw = max(1, (w * max_dim) // m)
        nh = max(1, (h * max_dim) // m)
    out = bytearray(nw * nh)
    for y in range(nh):
        row_off = ((y * h) // nh) * w
        base = y * nw
        for x in range(nw):
            out[base + x] = px[row_off + (x * w) // nw]
    return nw, nh, encode_png_gray(nw, nh, bytes(out)), w, h


RESIZE_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("media_type", StringType()),
        StructField("orig_width", IntegerType()),
        StructField("orig_height", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("payload", BinaryType()),
        StructField("resize_status", StringType()),
    ]
)


def resize_images(media: DataFrame, max_dim: int = 256) -> DataFrame:
    """Image resize as an Arrow-batched ``mapInPandas`` stage: each
    batch's PNG payloads are decoded, nearest-neighbor downscaled to fit
    ``max_dim``, and re-encoded — real bytes in, real bytes out.
    Non-decodable payloads yield ``resize_status='unsupported_format'``
    rows with a null payload (quarantine philosophy, never a task
    failure).  Embarrassingly parallel: no shuffle, one pass."""

    cols = list(RESIZE_SCHEMA.fieldNames())

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for ref, mtype, payload in zip(
                pdf["media_ref"], pdf["media_type"], pdf["payload"]
            ):
                r = resize_png_nearest(payload, max_dim)
                if r is None:
                    rows.append(
                        (ref, mtype, None, None, None, None, None,
                         "unsupported_format")
                    )
                else:
                    nw, nh, out, w, h = r
                    rows.append((ref, mtype, w, h, nw, nh, out, "ok"))
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(batches, RESIZE_SCHEMA)


PIXEL_STATS_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("pixel_sum", LongType()),
        StructField("pixel_status", StringType()),
    ]
)


def png_pixel_stats(media: DataFrame) -> DataFrame:
    """Decode PNG payloads back to pixels and report (dims, pixel sum) —
    the round-trip verifier for ``resize_images``: a green driver hash
    on these stats proves the re-encoded payload is a valid PNG holding
    exactly the nearest-neighbor-sampled pixels."""

    cols = list(PIXEL_STATS_SCHEMA.fieldNames())

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                dec = decode_png_gray(payload)
                if dec is None:
                    rows.append((ref, None, None, None, "undecodable"))
                else:
                    w, h, px = dec
                    rows.append((ref, w, h, sum(px), "ok"))
            yield pd.DataFrame(rows, columns=cols)

    return media.select("media_ref", "payload").mapInPandas(
        batches, PIXEL_STATS_SCHEMA
    )


def encode_wav_pcm16(samples, rate: int) -> bytes:
    """Real PCM16 mono WAV encoder via the stdlib ``wave`` module."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack("<%dh" % len(samples), *samples))
    return buf.getvalue()


def decode_wav_pcm16(payload):
    """(rate, samples-list) for a PCM16 mono WAV, else None."""
    b = bytes(payload or b"")
    if len(b) < 12 or b[:4] != b"RIFF":
        return None
    try:
        with wave.open(io.BytesIO(b), "rb") as w:
            if w.getnchannels() != 1 or w.getsampwidth() != 2:
                return None
            rate = w.getframerate()
            n = w.getnframes()
            data = w.readframes(n)
    except wave.Error:
        return None
    return None if len(data) < 2 * n else (
        rate, list(struct.unpack("<%dh" % n, data[: 2 * n]))
    )


SAMPLE_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("media_type", StringType()),
        StructField("orig_frames", LongType()),
        StructField("frames", LongType()),
        StructField("rate", IntegerType()),
        StructField("payload", BinaryType()),
        StructField("sample_status", StringType()),
    ]
)


def _rescale_gce_delays(ext_bytes: bytearray, factor: int) -> None:
    """Multiply every Graphic Control Extension's frame delay (bytes 4-5
    of the 0xF9 block, little-endian centiseconds) by ``factor``,
    clamped to the field's 0xFFFF max — keeping every Nth frame without
    stretching its delay would play the sampled animation N× fast."""
    i = 0
    while i < len(ext_bytes):
        label = ext_bytes[i + 1]
        j = i + 2
        if label == 0xF9 and ext_bytes[j] == 4:
            delay = ext_bytes[j + 2] | (ext_bytes[j + 3] << 8)
            delay = min(delay * factor, 0xFFFF)
            ext_bytes[j + 2] = delay & 0xFF
            ext_bytes[j + 3] = delay >> 8
        while ext_bytes[j] != 0:
            j += 1 + ext_bytes[j]
        j += 1
        i = j


def sample_gif_frames(payload: bytes, every_n: int) -> tuple | None:
    """Keep every ``every_n``-th image-descriptor block of a GIF (frames
    0, n, 2n, ...) by BYTE-RANGE copy — no LZW decompression: kept
    frames' compressed data is moved verbatim.  Extension blocks that
    immediately precede a frame (graphic control etc.) travel with it —
    kept with a kept frame, dropped with a dropped one — and kept
    frames' GCE delays are rescaled ×``every_n`` so playback DURATION
    is preserved (the same contract as the WAV branch's sample-rate
    rescale); extensions trailing the final frame (e.g. a comment
    block) are flushed before the trailer, not dropped.  Returns
    (n_frames_in, n_frames_kept, new_payload) or None if not a GIF."""
    meta = decode_gif_meta(payload)
    if meta is None:
        return None
    out = bytearray(payload[:13])
    pos = 13
    if payload[10] & 0x80:
        end = pos + 3 * (2 ** ((payload[10] & 0x07) + 1))
        out += payload[pos:end]
        pos = end
    frames_in = frames_kept = 0
    pending = bytearray()  # extensions riding with the NEXT frame
    while pos < len(payload):
        b0 = payload[pos]
        if b0 == 0x3B:
            break
        start = pos
        if b0 == 0x21:
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            pending += payload[start:pos]
            continue
        # image descriptor (decode_gif_meta already validated the walk)
        pos += 10
        if payload[pos - 1] & 0x80:
            pos += 3 * (2 ** ((payload[pos - 1] & 0x07) + 1))
        pos += 1
        while payload[pos] != 0:
            pos += 1 + payload[pos]
        pos += 1
        if frames_in % every_n == 0:
            _rescale_gce_delays(pending, every_n)
            out += pending + payload[start:pos]
            frames_kept += 1
        frames_in += 1
        pending = bytearray()
    out += pending  # trailing extensions (comments etc.) survive
    out += b"\x3b"
    return (frames_in, frames_kept, bytes(out))


def sample_frames(media: DataFrame, every_n: int = 4) -> DataFrame:
    """Frame sampling as an Arrow-batched ``mapInPandas`` stage, over
    BOTH temporal formats this container can really parse:

    - PCM16 WAV: keep every ``every_n``-th sample and re-encode at
      ``rate // every_n`` so playback duration is preserved;
    - GIF animation (the video-shaped case): keep every
      ``every_n``-th image-descriptor block by byte-range copy — kept
      frames' compressed LZW data moves verbatim, nothing decompressed.

    Other payloads come back as structured ``unsupported_format`` rows.
    No shuffle, one pass."""

    cols = list(SAMPLE_SCHEMA.fieldNames())

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for ref, mtype, payload in zip(
                pdf["media_ref"], pdf["media_type"], pdf["payload"]
            ):
                dec = decode_wav_pcm16(payload)
                if dec is not None:
                    rate, samples = dec
                    kept = samples[::every_n]
                    out_rate = max(1, rate // every_n)
                    rows.append(
                        (ref, mtype, len(samples), len(kept), out_rate,
                         encode_wav_pcm16(kept, out_rate), "ok")
                    )
                    continue
                gif = sample_gif_frames(bytes(payload or b""), every_n)
                if gif is not None:
                    rows.append(
                        (ref, mtype, gif[0], gif[1], None, gif[2], "ok")
                    )
                    continue
                rows.append(
                    (ref, mtype, None, None, None, None,
                     "unsupported_format")
                )
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(batches, SAMPLE_SCHEMA)


PCM_STATS_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("rate", IntegerType()),
        StructField("frames", LongType()),
        StructField("sample_sum", LongType()),
        StructField("pcm_status", StringType()),
    ]
)


def wav_pcm_stats(media: DataFrame) -> DataFrame:
    """Decode WAV payloads back to PCM and report (rate, frame count,
    sample sum) — the round-trip verifier for ``sample_frames``."""

    cols = list(PCM_STATS_SCHEMA.fieldNames())

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                dec = decode_wav_pcm16(payload)
                if dec is None:
                    rows.append((ref, None, None, None, "undecodable"))
                else:
                    rate, samples = dec
                    rows.append(
                        (ref, rate, len(samples), sum(samples), "ok")
                    )
            yield pd.DataFrame(rows, columns=cols)

    return media.select("media_ref", "payload").mapInPandas(
        batches, PCM_STATS_SCHEMA
    )


def link_media(
    spans_out: DataFrame,
    media: DataFrame,
    broadcast: bool | None = None,
) -> DataFrame:
    """Media-reference linking (north rule): join image/figure spans to
    their payload metadata on ``media_ref``.

    Join strategy is gated, not hard-wired: at 100 TB the distinct-asset
    dimension is NOT broadcastable, so by default (``broadcast=None``) no
    hint is planted and AQE sizes the join at runtime (broadcast when the
    dim is under the threshold, sort-merge + skew-split otherwise — hot
    media_refs are the documented skew case).  Pass ``broadcast=True``
    only when the caller KNOWS the dim is bounded (e.g. a per-tenant
    asset catalog)."""
    media_dim = media.select("media_ref", "media_type", "width", "height")
    if broadcast:
        media_dim = F.broadcast(media_dim)
    image_spans = spans_out.filter(F.col("kind").isin(*IMAGE_KINDS))
    return image_spans.join(media_dim, "media_ref", "left")


def synthesize_media(spark, docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from span media_refs (fixtures
    carry no real payloads): payload bytes = utf-8 of the ref string."""
    refs = (
        docs.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind").isin(*IMAGE_KINDS))
        .select(
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("dims"),
        )
        .filter(F.col("media_ref").isNotNull())
        .distinct()
    )
    return refs.select(
        "media_ref",
        F.lit("image").alias("media_type"),
        F.encode(F.concat(F.lit("payload:"), F.col("media_ref")), "utf-8")
        .alias("payload"),
        F.coalesce(
            F.split(F.col("dims"), "x")[0].cast("int"), F.lit(0)
        ).alias("width"),
        F.coalesce(
            F.split(F.col("dims"), "x")[1].cast("int"), F.lit(0)
        ).alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )


def _image_refs(docs: DataFrame) -> DataFrame:
    return (
        docs.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind").isin(*IMAGE_KINDS))
        .select(F.col("s.media_ref").alias("media_ref"))
        .filter(F.col("media_ref").isNotNull())
        .distinct()
    )


def synthesize_pixel_png_media(docs: DataFrame) -> DataFrame:
    """Deterministic FULL-pixel PNG media table (one per distinct image
    media_ref), built distributed via mapInPandas: dims and a pixel seed
    derive from md5 of the ref (w = 8 + b0 % 24, h = 8 + b1 % 24,
    seed = b2, using the hexdigest's byte values — the same md5-string
    arithmetic a SQL oracle can replay), and pixel(x, y) =
    (7x + 13y + seed) % 251.  Payloads are REAL zlib-compressed PNGs."""

    cols = list(MEDIA_SCHEMA.fieldNames())

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for ref in pdf["media_ref"]:
                hx = hashlib.md5(ref.encode()).hexdigest()
                w = 8 + int(hx[0:2], 16) % 24
                h = 8 + int(hx[2:4], 16) % 24
                seed = int(hx[4:6], 16)
                px = bytes(
                    (7 * x + 13 * y + seed) % 251
                    for y in range(h)
                    for x in range(w)
                )
                rows.append(
                    (ref, "image", encode_png_gray(w, h, px), w, h, None)
                )
            yield pd.DataFrame(rows, columns=cols)

    return _image_refs(docs).mapInPandas(batches, MEDIA_SCHEMA)


def synthesize_wav_media(docs: DataFrame) -> DataFrame:
    """Deterministic PCM16 WAV media table (one per distinct image
    media_ref, typed audio): n_frames = 100 + b0 % 100, seed = b1 from
    md5 of the ref, rate 8000 Hz, sample(i) = ((37i + seed) % 20001)
    - 10000 — all recomputable arithmetically by a SQL oracle."""

    cols = list(MEDIA_SCHEMA.fieldNames())

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for ref in pdf["media_ref"]:
                hx = hashlib.md5(ref.encode()).hexdigest()
                n = 100 + int(hx[0:2], 16) % 100
                seed = int(hx[2:4], 16)
                samples = [
                    ((37 * i + seed) % 20001) - 10000 for i in range(n)
                ]
                payload = encode_wav_pcm16(samples, 8000)
                rows.append(
                    (ref, "audio", payload, None, None, (n * 1000) // 8000)
                )
            yield pd.DataFrame(rows, columns=cols)

    return _image_refs(docs).mapInPandas(batches, MEDIA_SCHEMA)


def synthesize_png_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-format media table: one minimal PNG payload per
    distinct image media_ref, dimensions derived from the ref string.

    Built entirely with native expressions — the PNG signature + IHDR
    prefix is assembled as hex and ``unhex``-ed into binary (big-endian
    u32 width/height = zero-padded 8-hex-char fields), so the fixture
    generator itself stays JVM-side.  The payload is a header-only PNG
    (no IDAT) — exactly what a header decoder needs, invalid for a pixel
    decoder, which is fine: ``decode_png_dims`` reads only the IHDR."""
    refs = (
        docs.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind").isin(*IMAGE_KINDS))
        .select(F.col("s.media_ref").alias("media_ref"))
        .filter(F.col("media_ref").isNotNull())
        .distinct()
    )
    # deterministic dims from the ref string: 16..271 via md5 bytes
    h = F.md5(F.col("media_ref"))
    width = (F.conv(F.substring(h, 1, 2), 16, 10).cast("int") + 16)
    height = (F.conv(F.substring(h, 3, 2), 16, 10).cast("int") + 16)
    png_hex = F.concat(
        F.lit("89504E470D0A1A0A"),        # signature
        F.lit("0000000D49484452"),        # IHDR length=13 + type
        F.lpad(F.hex(width), 8, "0"),     # big-endian u32 width
        F.lpad(F.hex(height), 8, "0"),    # big-endian u32 height
        F.lit("0806000000"),              # bit depth 8, RGBA, no interlace
        F.lit("00000000"),                # CRC (unchecked by header decode)
    )
    return refs.select(
        "media_ref",
        F.lit("image").alias("media_type"),
        F.unhex(png_hex).alias("payload"),
        width.alias("width"),
        height.alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )


def _le16_hex(v: F.Column) -> F.Column:
    """Little-endian u16 as 4 hex chars (byte-swapped big-endian hex)."""
    be = F.lpad(F.hex(v), 4, "0")
    return F.concat(F.substring(be, 3, 2), F.substring(be, 1, 2))


def synthesize_gif_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-format animation payloads (the video-shaped
    case): one minimal multi-frame GIF89a per distinct image media_ref,
    built entirely with native expressions (hex → ``unhex``).

    Canvas dims 16..271 from md5 bytes 1-2/3-4, frame count 1..4 from
    byte 5.  Each frame is an image descriptor + 1-bit LZW stub data
    sub-block — structurally valid for the block-walk decoder
    (``decode_gif_meta`` skips data without decompressing), so the
    fixture needs no LZW encoder."""
    refs = (
        docs.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind").isin(*IMAGE_KINDS))
        .select(F.col("s.media_ref").alias("media_ref"))
        .filter(F.col("media_ref").isNotNull())
        .distinct()
    )
    h = F.md5(F.col("media_ref"))
    width = (F.conv(F.substring(h, 1, 2), 16, 10).cast("int") + 16)
    height = (F.conv(F.substring(h, 3, 2), 16, 10).cast("int") + 16)
    n_frames = (F.conv(F.substring(h, 5, 2), 16, 10).cast("int") % 4 + 1)
    # per frame: 2C | left=0 top=0 | w,h LE | packed=00 | LZW min code 02
    # | one 1-byte data sub-block | 00 terminator  (14 bytes)
    frame_hex = F.concat(
        F.lit("2C"), F.lit("00000000"),
        _le16_hex(width), _le16_hex(height),
        F.lit("00"), F.lit("02"), F.lit("0100"), F.lit("00"),
    )
    gif_hex = F.concat(
        F.lit("474946383961"),            # 'GIF89a'
        _le16_hex(width), _le16_hex(height),
        F.lit("000000"),                  # packed (no GCT), bg, aspect
        F.repeat(frame_hex, n_frames),
        F.lit("3B"),                      # trailer
    )
    return refs.select(
        "media_ref",
        F.lit("video").alias("media_type"),
        F.unhex(gif_hex).alias("payload"),
        width.alias("width"),
        height.alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
