"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Real pipelines carry image/audio/video as `binary` columns with typed
metadata and run decode / feature-extract / resize / frame-sample as
Arrow-batched Pandas functions over `mapInPandas`.  The decode libs
(PIL/ffmpeg/...) are NOT in this container, so the decode kernel is a
clearly-marked deterministic STUB — but the Spark-side plumbing
(binary encoding, schema contract, mapInPandas batch iteration,
partition-preserving projection) is real and oracle-checked: the stub
derives width/height from the byte payload with arithmetic DuckDB can
replicate.

Scale shape: mapInPandas is a narrow transformation — no shuffle; Arrow
batches stream through Python at columnar speed, and binary payloads
never pass through a Python row loop.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_addresses_spark.operators.dedup import CORPUS_CTE, corpus_df
from etl_addresses_spark.sources.tables import load_table

def binary_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text encoded to a binary payload column — the stand-in
    for an image/audio blob column at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.col("source"),
    )


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_payload(doc_id: int) -> bytes:
    """A fully valid RGB8 PNG (signature, IHDR+CRC32, zlib IDAT, IEND)
    built from the stdlib only (struct + zlib — no PIL).  Dimensions and
    pixel fill derive deterministically from doc_id so the decode stage
    has an arithmetic oracle."""
    import struct
    import zlib

    width = 8 + doc_id % 56
    height = 8 + (doc_id * 3) % 56
    row = b"\x00" + bytes([doc_id % 256]) * (3 * width)  # filter 0 + RGB
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(row * height, 6))
        + chunk(b"IEND", b"")
    )


def _encode_png_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": pdf["doc_id"].map(lambda i: _png_payload(int(i))),
            }
        )


def binary_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synthetic PNG blob per document row — the image-column
    stand-in, with REAL image bytes (parseable by any PNG reader)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        _encode_png_batches, schema="doc_id bigint, payload binary"
    )


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _decode_png_meta(p: bytes) -> tuple[int, int, int, int, bool]:
    """Parse the IHDR chunk of a PNG byte payload: width/height are the
    big-endian u32 pair at bytes 16-24, bit depth and color type follow,
    and the chunk CRC32 (bytes 29-33) covers tag+data (bytes 12-29)."""
    import zlib

    if p[:8] != PNG_SIG or p[12:16] != b"IHDR":
        raise ValueError("not a PNG")
    width = int.from_bytes(p[16:20], "big")
    height = int.from_bytes(p[20:24], "big")
    bit_depth = p[24]
    channels = _PNG_CHANNELS[p[25]]
    crc_ok = zlib.crc32(p[12:29]) == int.from_bytes(p[29:33], "big")
    return width, height, channels, bit_depth, crc_ok


def _decode_png_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Real image decode kernel: header parse + CRC verification per
    payload, Arrow-batched.  (A full pixel decode would additionally
    zlib-decompress the IDAT stream — same batch shape.)"""
    for pdf in batches:
        meta = pdf["payload"].map(_decode_png_meta)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": meta.map(lambda m: m[0]).astype("int32"),
                "height": meta.map(lambda m: m[1]).astype("int32"),
                "channels": meta.map(lambda m: m[2]).astype("int32"),
                "bit_depth": meta.map(lambda m: m[3]).astype("int32"),
                "crc_ok": meta.map(lambda m: m[4]),
            }
        )


DECODE_PNG_SCHEMA = (
    "doc_id bigint, width int, height int, channels int, bit_depth int, "
    "crc_ok boolean"
)


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG metadata decode over binary payloads via mapInPandas — a real
    byte-level parser (signature, IHDR fields, CRC32 check), no image
    libraries.  Oracle: the generator derives dimensions from doc_id, so
    DuckDB replays the arithmetic; a parser that mis-read any header
    byte would hash-mismatch."""
    return binary_images(spark, sf_dir).mapInPandas(
        _decode_png_batches, schema=DECODE_PNG_SCHEMA
    )


MULTIMODAL_DECODE_SQL = """
SELECT doc_id,
  CAST(8 + doc_id % 56 AS INTEGER) AS width,
  CAST(8 + (doc_id * 3) % 56 AS INTEGER) AS height,
  3 AS channels,
  8 AS bit_depth,
  TRUE AS crc_ok
FROM documents
"""


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-JVM metadata over the binary column (no Python at all):
    the cheap pre-filter stage that runs before any decode at scale."""
    b = binary_documents(spark, sf_dir)
    return b.select(
        "doc_id",
        "source",
        F.length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("content_hash"),
        (F.length("payload") >= 256).alias("decode_worthy"),
    )


MULTIMODAL_META_SQL = """
SELECT doc_id, source,
  octet_length(encode(text)) AS n_bytes,
  md5(text) AS content_hash,
  octet_length(encode(text)) >= 256 AS decode_worthy
FROM documents
"""


def _pixel_stats(p: bytes) -> tuple[int, int, int, float, float, float, int, int, int]:
    """FULL pixel decode: zlib-decompress the IDAT stream, strip the
    per-row filter bytes (the generator writes filter type 0), and
    compute per-channel means plus a 2x nearest-neighbor downsample.
    Any stride/offset bug pulls 0x00 filter bytes into the pixel plane
    and shifts the means — the oracle would hash-mismatch."""
    import struct
    import zlib

    import numpy as np

    if p[:8] != PNG_SIG or p[12:16] != b"IHDR":
        raise ValueError("not a PNG")
    width = int.from_bytes(p[16:20], "big")
    height = int.from_bytes(p[20:24], "big")
    # walk chunks to collect IDAT data (the generator emits one, but a
    # real file may split it)
    idat = b""
    off = 8
    while off < len(p):
        (ln,) = struct.unpack(">I", p[off : off + 4])
        tag = p[off + 4 : off + 8]
        if tag == b"IDAT":
            idat += p[off + 8 : off + 8 + ln]
        off += 12 + ln
    raw = zlib.decompress(idat)
    stride = 1 + 3 * width
    if len(raw) != height * stride:
        raise ValueError("bad IDAT length")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride)
    if rows[:, 0].any():
        raise ValueError("unsupported PNG filter")
    px = rows[:, 1:].reshape(height, width, 3)
    means = px.reshape(-1, 3).mean(axis=0, dtype=np.float64)
    rh, rw = max(1, height // 2), max(1, width // 2)
    small = px[::2, ::2][:rh, :rw]  # nearest-neighbor downsample
    return (
        width,
        height,
        width * height,
        float(means[0]),
        float(means[1]),
        float(means[2]),
        rw,
        rh,
        int(small.sum(dtype=np.int64)),
    )


def _pixel_stats_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        s = pdf["payload"].map(_pixel_stats)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": s.map(lambda m: m[0]).astype("int32"),
                "height": s.map(lambda m: m[1]).astype("int32"),
                "n_pixels": s.map(lambda m: m[2]).astype("int64"),
                "mean_r": s.map(lambda m: m[3]),
                "mean_g": s.map(lambda m: m[4]),
                "mean_b": s.map(lambda m: m[5]),
                "resized_w": s.map(lambda m: m[6]).astype("int32"),
                "resized_h": s.map(lambda m: m[7]).astype("int32"),
                "resized_sum": s.map(lambda m: m[8]).astype("int64"),
            }
        )


PIXEL_STATS_SCHEMA = (
    "doc_id bigint, width int, height int, n_pixels bigint, "
    "mean_r double, mean_g double, mean_b double, "
    "resized_w int, resized_h int, resized_sum bigint"
)


def multimodal_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-level decode + resize over the binary image column — the
    feature-extract stage of a multimodal pipeline, Arrow-batched
    through mapInPandas like the header decoder.  Narrow transformation
    (no shuffle); the only Python data path in the repo beyond the PNG
    codec itself, justified the same way: the decode genuinely cannot
    be a JVM column expression.

    Oracle: the generator fills every pixel with doc_id % 256 at
    doc_id-derived dimensions, so per-channel means, resize dims, and
    the downsampled pixel sum are all closed-form in SQL — while the
    Spark side computes them from the actual decompressed bytes."""
    return binary_images(spark, sf_dir).mapInPandas(
        _pixel_stats_batches, schema=PIXEL_STATS_SCHEMA
    )


MULTIMODAL_PIXEL_STATS_SQL = """
WITH dims AS (
  SELECT doc_id,
    CAST(8 + doc_id % 56 AS INTEGER) AS width,
    CAST(8 + (doc_id * 3) % 56 AS INTEGER) AS height,
    CAST(doc_id % 256 AS BIGINT) AS fill
  FROM documents
)
SELECT doc_id, width, height,
  CAST(width AS BIGINT) * height AS n_pixels,
  CAST(fill AS DOUBLE) AS mean_r,
  CAST(fill AS DOUBLE) AS mean_g,
  CAST(fill AS DOUBLE) AS mean_b,
  CAST(width // 2 AS INTEGER) AS resized_w,
  CAST(height // 2 AS INTEGER) AS resized_h,
  fill * (width // 2) * (height // 2) * 3 AS resized_sum
FROM dims
"""


# ---------------------------------------------------------------------------
# Audio: WAV (RIFF/PCM16) synth + feature extraction.
# ---------------------------------------------------------------------------

_WAV_RATE = 8000


def _wav_payload(doc_id: int) -> bytes:
    """A valid mono 16-bit PCM WAV built from the stdlib: RIFF header,
    fmt chunk, data chunk.  The waveform is the deterministic integer
    sequence x[i] = ((doc_id + 7 i) mod 256 - 128) * 64, so every
    feature the decoder extracts has a closed-form SQL replay."""
    import struct

    n = 200 + doc_id % 100
    samples = bytes()
    pcm = struct.pack(
        "<%dh" % n,
        *(((doc_id + 7 * i) % 256 - 128) * 64 for i in range(n)),
    )
    fmt = struct.pack("<HHIIHH", 1, 1, _WAV_RATE, _WAV_RATE * 2, 2, 16)
    data_sz = len(pcm)
    riff_sz = 4 + (8 + len(fmt)) + (8 + data_sz)
    return (
        b"RIFF"
        + struct.pack("<I", riff_sz)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", data_sz)
        + pcm
    )


def _encode_wav_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": pdf["doc_id"].map(lambda i: _wav_payload(int(i))),
            }
        )


def binary_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synthetic WAV blob per document row — the audio-column
    stand-in, real RIFF bytes parseable by any WAV reader."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        _encode_wav_batches, schema="doc_id bigint, payload binary"
    )


def _audio_features(p: bytes) -> tuple[int, int, float, int, int]:
    """Real WAV parse: walk RIFF chunks to the data chunk, decode PCM16
    via numpy, extract duration, sum of squares (the exact integer core
    of RMS), zero-crossing count, and peak amplitude."""
    import struct

    import numpy as np

    if p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    off = 12
    rate, pcm = None, None
    while off + 8 <= len(p):
        tag = p[off : off + 4]
        (ln,) = struct.unpack("<I", p[off + 4 : off + 8])
        body = p[off + 8 : off + 8 + ln]
        if tag == b"fmt ":
            rate = struct.unpack("<HHIIHH", body)[2]
        elif tag == b"data":
            pcm = np.frombuffer(body, dtype="<i2")
        off += 8 + ln + (ln & 1)
    if rate is None or pcm is None:
        raise ValueError("missing fmt/data chunk")
    x = pcm.astype(np.int64)
    zc = int(((x[:-1] < 0) != (x[1:] < 0)).sum())
    return (
        len(x),
        rate,
        float(np.sum(x * x)),
        zc,
        int(np.abs(x).max()),
    )


def _audio_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        s = pdf["payload"].map(_audio_features)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_samples": s.map(lambda m: m[0]).astype("int64"),
                "sample_rate": s.map(lambda m: m[1]).astype("int32"),
                "sum_sq": s.map(lambda m: m[2]),
                "zero_crossings": s.map(lambda m: m[3]).astype("int64"),
                "peak": s.map(lambda m: m[4]).astype("int64"),
            }
        )


AUDIO_FEATURES_SCHEMA = (
    "doc_id bigint, n_samples bigint, sample_rate int, sum_sq double, "
    "zero_crossings bigint, peak bigint"
)


def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over binary WAV payloads — RIFF chunk
    walk + PCM16 decode + vectorized numpy features per Arrow batch.
    Same sanctioned mapInPandas shape as the PNG kernel.  The oracle
    replays the deterministic waveform arithmetic in SQL (sum over
    generate_series), so a parser mis-reading byte order, chunk
    offsets, or sample width diverges immediately."""
    return binary_audio(spark, sf_dir).mapInPandas(
        _audio_feature_batches, schema=AUDIO_FEATURES_SCHEMA
    )


MULTIMODAL_AUDIO_SQL = f"""
WITH d AS (
  SELECT doc_id, 200 + doc_id % 100 AS n FROM documents
),
w AS (
  SELECT doc_id, n,
    list_transform(generate_series(0, n - 1),
      i -> ((doc_id + 7 * i) % 256 - 128) * 64) AS x
  FROM d
)
SELECT doc_id,
  CAST(n AS BIGINT) AS n_samples,
  {_WAV_RATE} AS sample_rate,
  CAST(list_reduce(list_transform(x, v -> CAST(v AS DOUBLE) * v),
    (a, b) -> a + b) AS DOUBLE) AS sum_sq,
  CAST(len(list_filter(generate_series(2, n),
    i -> (x[i - 1] < 0) <> (x[i] < 0))) AS BIGINT) AS zero_crossings,
  CAST(list_max(list_transform(x, v -> abs(v))) AS BIGINT) AS peak
FROM w
"""


# ---------------------------------------------------------------------------
# Video: concatenated-PNG frame container + every-2nd frame sampling.
# ---------------------------------------------------------------------------


def _video_payload(doc_id: int) -> bytes:
    """A 'video' container: 3 + doc_id % 4 PNG frames back-to-back
    (frame f is the PNG for doc_id + f) — enough structure to exercise
    real frame-boundary walking without an ffmpeg dependency."""
    n_frames = 3 + doc_id % 4
    return b"".join(_png_payload(doc_id + f) for f in range(n_frames))


def _encode_video_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": pdf["doc_id"].map(lambda i: _video_payload(int(i))),
            }
        )


def binary_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        _encode_video_batches, schema="doc_id bigint, payload binary"
    )


def _sample_frames(p: bytes) -> list[tuple[int, int, int]]:
    """Walk PNG frame boundaries (signature .. IEND chunk) and decode
    the IHDR of every SECOND frame — the frame-sampling stage of a
    video pipeline (1 -> N row expansion inside the Arrow batch)."""
    import struct

    frames = []
    off = 0
    while off < len(p):
        if p[off : off + 8] != PNG_SIG:
            raise ValueError("bad frame boundary")
        start = off
        off += 8
        while True:
            (ln,) = struct.unpack(">I", p[off : off + 4])
            tag = p[off + 4 : off + 8]
            off += 12 + ln
            if tag == b"IEND":
                break
        frames.append((start, off))
    out = []
    for idx in range(0, len(frames), 2):
        s, _ = frames[idx]
        width = int.from_bytes(p[s + 16 : s + 20], "big")
        height = int.from_bytes(p[s + 20 : s + 24], "big")
        out.append((idx, width, height))
    return out


def _frame_sample_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            for idx, w, h in _sample_frames(payload):
                rows.append((int(doc_id), idx, w, h))
        yield pd.DataFrame(
            rows, columns=["doc_id", "frame_idx", "width", "height"]
        )


FRAME_SAMPLE_SCHEMA = "doc_id bigint, frame_idx int, width int, height int"


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary video payloads: boundary walk +
    every-2nd-frame IHDR decode, expanding each container row into one
    row per sampled frame inside the Arrow batch (mapInPandas is the
    right API precisely because output cardinality != input
    cardinality).  Oracle: frame f of doc d is the PNG for d + f, so
    sampled dims are closed-form over generate_series."""
    return binary_video(spark, sf_dir).mapInPandas(
        _frame_sample_batches, schema=FRAME_SAMPLE_SCHEMA
    )


MULTIMODAL_FRAME_SAMPLE_SQL = """
SELECT doc_id,
  CAST(f AS INTEGER) AS frame_idx,
  CAST(8 + (doc_id + f) % 56 AS INTEGER) AS width,
  CAST(8 + ((doc_id + f) * 3) % 56 AS INTEGER) AS height
FROM documents, UNNEST(generate_series(0, 2 + doc_id % 4)) AS u(f)
WHERE f % 2 = 0
"""


# --- image perceptual-hash dedup ----------------------------------------
#
# The aHash pipeline needs CONTENT-derived pixels (the doc_id-derived
# payloads above are dimension-varied but flat-filled, which collapses
# every average-hash to the same value).  So the dedup corpus encodes an
# 8x8 GRAYSCALE PNG whose pixels tile the md5 digest of the document
# TEXT — identical texts produce identical images, and the average hash
# is a closed-form function of the md5 hex that DuckDB can replay.


def _png_gray8x8(digest: bytes) -> bytes:
    """Valid 8-bit grayscale 8x8 PNG whose 64 pixels tile the 16-byte
    digest 4x (stdlib only: struct + zlib)."""
    import struct
    import zlib

    pixels = (digest * 4)[:64]
    raw = b"".join(
        b"\x00" + pixels[r * 8 : (r + 1) * 8] for r in range(8)
    )  # filter 0 per row
    ihdr = struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 0)

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _encode_content_png_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import hashlib

    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": pdf["text"].map(
                    lambda t: _png_gray8x8(hashlib.md5(t.encode()).digest())
                ),
            }
        )


def _ahash_bits(p: bytes) -> str:
    """REAL decode + average hash: zlib-decompress the IDAT stream,
    strip the per-row filter bytes, then emit the 64 pixel-above-mean
    bits as a '0'/'1' string (row-major).  The mean divides by 64 (a
    power of two), so the comparison is exact in both engines."""
    import struct
    import zlib

    if p[:8] != PNG_SIG or p[12:16] != b"IHDR":
        raise ValueError("not a PNG")
    # IDAT begins after the 25-byte IHDR chunk; walk chunks properly
    off = 8
    idat = b""
    while off < len(p):
        ln = int.from_bytes(p[off : off + 4], "big")
        tag = p[off + 4 : off + 8]
        if tag == b"IDAT":
            idat += p[off + 8 : off + 8 + ln]
        off += 12 + ln
    raw = zlib.decompress(idat)
    pixels = [b for r in range(8) for b in raw[r * 9 + 1 : r * 9 + 9]]
    mean = sum(pixels) / 64.0
    return "".join("1" if px > mean else "0" for px in pixels)


def _ahash_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "ahash": pdf["payload"].map(_ahash_bits),
            }
        )


def multimodal_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup by perceptual (average) hash over the dup-injected
    corpus: encode content-derived PNGs, REALLY decode them back
    (zlib inflate + filter-byte strip), average-hash the pixels, and
    group identical hashes — exact-copy documents produce byte-identical
    images and collapse to one representative.

    This is the image twin of `dedup_exact`: the dedup join operates on
    a perceptual fingerprint computed from DECODED PIXELS, not file
    bytes, which is what makes it extend to re-encoded/resized
    duplicates with a real DCT pHash.  At 100 TB both kernels are
    narrow Arrow-batched stages (no shuffle) and the final grouping is
    one hash aggregation on a 64-bit-equivalent key.  Oracle: the
    average hash is a closed-form function of md5(text) — DuckDB
    recomputes every pixel, the mean, and the bit string; any decode
    bug (wrong filter offset, wrong inflate) hash-mismatches."""
    c = corpus_df(spark, sf_dir).select("doc_id", "text")
    images = c.mapInPandas(
        _encode_content_png_batches, schema="doc_id bigint, payload binary"
    )
    hashed = images.mapInPandas(
        _ahash_batches, schema="doc_id bigint, ahash string"
    )
    return hashed.groupBy("ahash").agg(
        F.min("doc_id").alias("rep_doc_id"),
        F.count(F.lit(1)).alias("n_images"),
    )


MULTIMODAL_IMAGE_DEDUP_SQL = "WITH " + CORPUS_CTE.strip() + """,
bytes AS (
  SELECT doc_id,
    list_transform(generate_series(0, 15),
      i -> CAST(('0x' || substr(md5(text), 2 * i + 1, 2)) AS INTEGER))
      AS dg
  FROM corpus
),
px AS (
  SELECT doc_id,
    list_transform(generate_series(0, 63), i -> dg[(i % 16) + 1]) AS pixels
  FROM bytes
),
ah AS (
  SELECT doc_id,
    array_to_string(
      list_transform(pixels,
        p -> CASE WHEN p > list_sum(pixels) / 64.0e0 THEN '1' ELSE '0' END),
      '') AS ahash
  FROM px
)
SELECT ahash, min(doc_id) AS rep_doc_id, count(*) AS n_images
FROM ah GROUP BY ahash
"""
