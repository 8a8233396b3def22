"""Multimodal-column operators (BASELINE.json north star).

Design: image/audio/video payloads are opaque ``binary`` columns with typed
metadata riding alongside.  The Spark-side plumbing — schema, Arrow batch
shape, ``mapInPandas`` signature, partition sizing — is real and tested;
the codec step is STUBBED (this container ships no image/audio libraries)
behind ``decode_image_batch(stub=False)`` → ``NotImplementedError`` and a
deterministic fake in stub mode, so swapping in PIL/torchaudio later is a
one-function change.

Scale notes:
- binary payloads dominate row size → ``spark.sql.files.maxPartitionBytes``
  should target ~128 MB of payload per task; metadata-only queries never
  touch the blob column thanks to parquet column pruning.
- decode fan-out runs in ``mapInPandas`` so each Arrow batch amortizes the
  Python crossing; per-row UDFs would be 10-100x slower.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import pin
from ..sources.readers import load_table

# The mapInPandas closures below reference this module's helpers
# (decode_png_pixels, make_png, ...).  cloudpickle serializes module-level
# functions BY REFERENCE, which breaks on executors that don't have the
# package on sys.path (e.g. a driver launched outside the repo with only a
# sys.path.insert).  Registering the module for by-value pickling ships the
# function bodies inside the task instead — no deploy-time path coupling.
try:  # pragma: no cover - depends on pyspark's vendored cloudpickle
    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(sys.modules[__name__])
except Exception:
    pass

DECODED_SCHEMA = (
    "doc_id bigint, n_bytes int, content_md5 string, "
    "width int, height int, channels int, decode_status string"
)


def binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest documents as opaque binary payloads + typed metadata — the
    canonical multimodal row shape (content, n_bytes, checksum)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.octet_length("text").alias("n_bytes"),
        F.md5(F.col("text")).alias("content_md5"),
    )


#: PNG color type → sample channels (PNG spec 11.2.2).
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def parse_image_header(buf: bytes) -> tuple[int, int, int, str] | None:
    """REAL pure-python header parse for the three trivially-parseable
    container formats — (width, height, channels, format) or None.

    This is the honest no-PIL decode tier: dimensions come from the actual
    bytes (PNG IHDR big-endian, GIF logical-screen little-endian, BMP
    BITMAPINFOHEADER little-endian), not from a fake.  Full pixel decode
    (inflate + unfilter) still belongs to PIL/libvips — see
    :func:`decode_image_batch`'s ``stub`` flag docs."""
    if len(buf) >= 26 and buf[:8] == b"\x89PNG\r\n\x1a\n" and buf[12:16] == b"IHDR":
        w = int.from_bytes(buf[16:20], "big")
        h = int.from_bytes(buf[20:24], "big")
        channels = _PNG_CHANNELS.get(buf[25], 0)
        return (w, h, channels, "png")
    if len(buf) >= 10 and buf[:6] in (b"GIF87a", b"GIF89a"):
        w = int.from_bytes(buf[6:8], "little")
        h = int.from_bytes(buf[8:10], "little")
        return (w, h, 3, "gif")
    if len(buf) >= 26 and buf[:2] == b"BM":
        w = int.from_bytes(buf[18:22], "little", signed=True)
        h = int.from_bytes(buf[22:26], "little", signed=True)
        return (w, h, 3, "bmp")
    return None


def decode_image_batch(stub: bool = True):
    """Return the mapInPandas decode function.

    stub=True  → deterministic fake decode (dimensions derived from the
                 payload size / id), exercising the full Arrow round trip
                 on payloads that are not images at all (the documents
                 table's UTF-8 text).
    stub=False → REAL header decode via :func:`parse_image_header`:
                 PNG/GIF/BMP payloads get their true dimensions and
                 ``decode_status='ok'``; unrecognized payloads get null
                 dims and ``'not_an_image'``.  Pixel-level decode (inflate
                 + unfilter + resample) would still need PIL/libvips — the
                 header tier is what metadata extraction at 100 TB actually
                 runs, and it needs no image library.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payloads (missing blob → null n_bytes/content) are
            # valid rows at ingest scale; a single one must degrade to
            # decode_status='missing', never crash the whole Arrow batch
            # (the naive .astype('int64') raised IntCastingNaNError on
            # the NaN a null n_bytes becomes — degenerate-corpus probe,
            # round 10).
            have = pdf["n_bytes"].notna()
            if stub:
                n_bytes = pdf["n_bytes"].fillna(0).astype("int64")
                width = (n_bytes % 64 + 16).astype("Int32").where(have)
                height = (
                    ((pdf["doc_id"].astype("int64") * 7) % 64 + 16)
                    .astype("Int32")
                    .where(have)
                )
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "n_bytes": pdf["n_bytes"],
                        "content_md5": pdf["content_md5"],
                        # deterministic fake "decode": dims from size/id
                        "width": width,
                        "height": height,
                        "channels": pd.array(
                            [3 if h else None for h in have], dtype="Int32"
                        ),
                        "decode_status": [
                            "stub" if h else "missing" for h in have
                        ],
                    }
                )
                continue
            parsed = [
                parse_image_header(bytes(b)) if b is not None else None
                for b in pdf["content"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["n_bytes"],
                    "content_md5": pdf["content_md5"],
                    "width": pd.array(
                        [p[0] if p else None for p in parsed], dtype="Int32"
                    ),
                    "height": pd.array(
                        [p[1] if p else None for p in parsed], dtype="Int32"
                    ),
                    "channels": pd.array(
                        [p[2] if p else None for p in parsed], dtype="Int32"
                    ),
                    "decode_status": [
                        "ok" if p
                        else ("not_an_image" if h else "missing")
                        for p, h in zip(parsed, have)
                    ],
                }
            )

    return decode


def decoded_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multimodal pipeline: binary ingest → Arrow-batched decode
    (stubbed) → typed metadata.  The blob column is projected away at the
    end so downstream aggregation never shuffles payloads."""
    return binary_ingest(spark, sf_dir).mapInPandas(
        decode_image_batch(stub=True), schema=DECODED_SCHEMA
    )


def make_png(width: int, height: int, seed: int) -> bytes:
    """A COMPLETE, valid truecolor PNG (signature + IHDR + IDAT + IEND,
    correct CRCs, zlib-deflated filtered scanlines) built with only the
    stdlib — the deterministic image fixture for the real-decode path.
    Pixel (x, y) = ((seed + x + y) % 256) across R/G/B."""
    import struct
    import zlib

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = b"".join(
        b"\x00" + bytes(((seed + x + y) % 256) for x in range(width) for _ in range(3))
        for y in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def synthesize_png_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas stage: (doc_id) → real PNG payload with dimensions a
    deterministic function of doc_id (width = doc_id % 64 + 16,
    height = doc_id * 7 % 64 + 16 — the same formulas the stub tier fakes,
    now carried by actual bytes)."""
    import hashlib

    for pdf in batches:
        rows = []
        for doc_id in pdf["doc_id"].astype("int64"):
            w = int(doc_id % 64 + 16)
            h = int(doc_id * 7 % 64 + 16)
            png = make_png(w, h, int(doc_id))
            rows.append((doc_id, png, len(png), hashlib.md5(png).hexdigest()))
        yield pd.DataFrame(
            rows, columns=["doc_id", "content", "n_bytes", "content_md5"]
        )


def png_roundtrip_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-decode roundtrip — the non-stub multimodal path: synthesize a
    valid PNG per document (Arrow-batched, dims derived from doc_id) →
    parse the actual IHDR back with :func:`parse_image_header` →
    (doc_id, width, height, channels, decode_status).  The oracle recomputes
    the expected dims arithmetically, so a hash match proves the decoder
    read the real bytes.  Plumbing is identical to what a PIL-backed decode
    would use; only the pixel tier remains out of scope."""
    doc_ids = load_table(spark, sf_dir, "documents").select("doc_id")
    payloads = doc_ids.mapInPandas(
        synthesize_png_batch,
        schema="doc_id bigint, content binary, n_bytes int, content_md5 string",
    )
    decoded = payloads.mapInPandas(
        decode_image_batch(stub=False), schema=DECODED_SCHEMA
    )
    return decoded.select("doc_id", "width", "height", "channels", "decode_status")


def frame_sample(spark: SparkSession, sf_dir: str, every_n: int = 10) -> DataFrame:
    """Frame-sampling shape for video-like payloads: deterministic 1-in-N
    selection by id hash — a pushdown-friendly filter (no decode needed to
    drop 90% of rows)."""
    ingest = binary_ingest(spark, sf_dir)
    return ingest.filter(F.col("doc_id") % every_n == 0).select(
        "doc_id", "n_bytes", "content_md5"
    )


def decode_png_pixels(buf: bytes) -> tuple[int, int, bytes]:
    """REAL pixel decode for filter-0 truecolor PNGs (the fixtures
    :func:`make_png` emits, and any minimal encoder's output): walk the
    chunk stream, concatenate IDAT, zlib-inflate, strip the per-row filter
    byte.  Pure stdlib — the pixel tier no longer needs PIL for this
    subset.  Raises ValueError on non-PNG or filtered rows (those would
    need the full unfilter algorithms)."""
    import struct
    import zlib

    if buf[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat, w, h = 8, b"", None, None
    while pos + 8 <= len(buf):
        ln = struct.unpack(">I", buf[pos : pos + 4])[0]
        tag = buf[pos + 4 : pos + 8]
        payload = buf[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w, h = struct.unpack(">II", payload[:8])
            if payload[8] != 8 or payload[9] != 2:
                raise ValueError("only 8-bit truecolor supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + ln
    raw = zlib.decompress(idat)
    stride = w * 3 + 1
    rows = []
    for y in range(h):
        row = raw[y * stride : (y + 1) * stride]
        if row[0] != 0:
            raise ValueError("filtered scanline (only filter 0 supported)")
        rows.append(row[1:])
    return w, h, b"".join(rows)


def resize_nearest(pixels: bytes, w: int, h: int, tw: int, th: int) -> bytes:
    """Nearest-neighbor RGB resize (numpy index math, no image libs)."""
    import numpy as np

    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, 3)
    ys = (np.arange(th) * h) // th
    xs = (np.arange(tw) * w) // tw
    return arr[ys][:, xs].tobytes()


def png_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image feature extraction: synthesize a valid PNG per document,
    pixel-decode it (zlib inflate + unfilter), and compute mean pixel
    intensity with numpy — Arrow-batched end to end.  The oracle recomputes
    the mean ARITHMETICALLY from the pixel formula, so a hash match proves
    the decoder read every byte correctly."""
    import numpy as np

    doc_ids = load_table(spark, sf_dir, "documents").select("doc_id")
    payloads = doc_ids.mapInPandas(
        synthesize_png_batch,
        schema="doc_id bigint, content binary, n_bytes int, content_md5 string",
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, buf in zip(
                pdf["doc_id"].astype("int64"), pdf["content"]
            ):
                w, h, px = decode_png_pixels(bytes(buf))
                arr = np.frombuffer(px, dtype=np.uint8)
                rows.append(
                    (
                        int(doc_id),
                        w,
                        h,
                        int(arr.size // 3),
                        round(float(arr.mean()) + 1e-8, 4),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "n_pixels", "mean_pixel"],
            )

    return payloads.mapInPandas(
        extract,
        schema="doc_id bigint, width int, height int, n_pixels bigint,"
        " mean_pixel double",
    )


def png_resize_features(
    spark: SparkSession, sf_dir: str, target_w: int = 16, target_h: int = 16
) -> DataFrame:
    """REAL resize: decode pixels, nearest-neighbor downscale, and report
    the resized image's mean intensity.  The oracle recomputes the SAME
    nearest-neighbor sampling arithmetically (pixel (x,y) of the source is
    a pure function of doc_id), so the hash match verifies both the decode
    AND the index math of the resize."""
    import numpy as np

    doc_ids = load_table(spark, sf_dir, "documents").select("doc_id")
    payloads = doc_ids.mapInPandas(
        synthesize_png_batch,
        schema="doc_id bigint, content binary, n_bytes int, content_md5 string",
    )

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, buf in zip(
                pdf["doc_id"].astype("int64"), pdf["content"]
            ):
                w, h, px = decode_png_pixels(bytes(buf))
                out = resize_nearest(px, w, h, target_w, target_h)
                arr = np.frombuffer(out, dtype=np.uint8)
                rows.append(
                    (
                        int(doc_id),
                        target_w,
                        target_h,
                        round(float(arr.mean()) + 1e-8, 4),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "out_width", "out_height", "mean_pixel"]
            )

    return payloads.mapInPandas(
        resize,
        schema="doc_id bigint, out_width int, out_height int, mean_pixel double",
    )


def make_wav(n_samples: int, sample_rate: int, seed: int) -> bytes:
    """A COMPLETE, valid 16-bit mono PCM WAV (RIFF + fmt + data chunks)
    built with only the stdlib — the audio twin of :func:`make_png`.
    Sample i = ((seed * 31 + i * 7) % 65536) - 32768."""
    import struct

    pcm = b"".join(
        struct.pack("<h", ((seed * 31 + i * 7) % 65536) - 32768)
        for i in range(n_samples)
    )
    data_len = len(pcm)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + data_len)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", data_len)
        + pcm
    )


def parse_wav_header(
    buf: bytes,
) -> tuple[int, int, int, int, int, int] | None:
    """(sample_rate, channels, bits, n_samples, data_offset, data_len)
    from a RIFF/WAVE buffer, or None if it isn't one — pure stdlib chunk
    walk.  ``n_samples`` is per-channel frames derived from the PARSED
    fmt (channels x bits/8 bytes per frame, not hardcoded 16-bit mono),
    and ``data_offset`` locates the data chunk wherever it sits — a
    trailing LIST/INFO chunk no longer corrupts the slice."""
    import struct

    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        return None
    pos, rate, ch, bits = 12, None, None, None
    data_offset, data_len = None, None
    while pos + 8 <= len(buf):
        tag = buf[pos : pos + 4]
        ln = struct.unpack("<I", buf[pos + 4 : pos + 8])[0]
        body = buf[pos + 8 : pos + 8 + ln]
        if tag == b"fmt " and len(body) >= 16:
            _, ch, rate, _, _block, bits = struct.unpack("<HHIIHH", body[:16])
        elif tag == b"data" and data_offset is None:
            data_offset, data_len = pos + 8, ln
        pos += 8 + ln + (ln & 1)
    if rate is None or data_offset is None or not ch or not bits:
        return None
    frame_bytes = ch * (bits // 8)
    if frame_bytes == 0:
        return None
    return rate, ch, bits, data_len // frame_bytes, data_offset, data_len


def wav_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio feature extraction: synthesize a valid WAV per document
    (length and content deterministic functions of doc_id), parse the
    RIFF header back, and compute RMS energy over the ACTUAL PCM samples
    with numpy — Arrow-batched end to end.  The oracle recomputes the RMS
    arithmetically from the sample formula, so a hash match proves the
    chunk walk and sample decode are byte-correct."""
    import numpy as np

    doc_ids = load_table(spark, sf_dir, "documents").select("doc_id")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in batches:
            for doc_id in pdf["doc_id"].astype("int64"):
                n = int(doc_id % 800 + 100)
                wav = make_wav(n, 16_000, int(doc_id))
                rate, ch, bits, n_parsed, off, dlen = parse_wav_header(wav)
                pcm = np.frombuffer(
                    wav[off : off + dlen], dtype="<i2"
                ).astype(np.float64)
                rows.append(
                    (
                        int(doc_id),
                        rate,
                        ch,
                        bits,
                        n_parsed,
                        round(float(np.sqrt(np.mean(pcm * pcm))) + 1e-8, 3),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sample_rate", "channels", "bits",
                    "n_samples", "rms",
                ],
            )
            rows = []

    return doc_ids.mapInPandas(
        extract,
        schema="doc_id bigint, sample_rate int, channels int, bits int,"
        " n_samples int, rms double",
    )


def make_avi(n_frames: int, seed: int, width: int = 32, height: int = 24) -> bytes:
    """A minimal RIFF('AVI ') container holding ``n_frames`` video chunks
    ('00dc'), each a complete PNG from :func:`make_png` with seed
    ``seed + frame`` — the deterministic video fixture (container walk +
    per-frame decode are REAL; only the codec is PNG-per-frame rather
    than H.264)."""
    import struct

    frames = b""
    for f in range(n_frames):
        payload = make_png(width, height, seed + f)
        frames += b"00dc" + struct.pack("<I", len(payload)) + payload
        if len(payload) & 1:
            frames += b"\x00"
    movi = b"LIST" + struct.pack("<I", 4 + len(frames)) + b"movi" + frames
    return b"RIFF" + struct.pack("<I", 4 + len(movi)) + b"AVI " + movi


def parse_avi_frames(buf: bytes) -> list[bytes]:
    """Walk the RIFF/AVI chunk tree and return the '00dc' frame payloads
    (pure stdlib)."""
    import struct

    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        return []
    frames = []

    def walk(pos: int, end: int) -> None:
        while pos + 8 <= end:
            tag = buf[pos : pos + 4]
            ln = struct.unpack("<I", buf[pos + 4 : pos + 8])[0]
            if tag == b"LIST":
                walk(pos + 12, pos + 8 + ln)
            elif tag == b"00dc":
                frames.append(buf[pos + 8 : pos + 8 + ln])
            pos += 8 + ln + (ln & 1)

    walk(12, len(buf))
    return frames


def video_frame_features(
    spark: SparkSession, sf_dir: str, every_n: int = 5
) -> DataFrame:
    """REAL video-pipeline shape: synthesize an AVI per document
    (doc_id % 20 + 5 frames), WALK the container, sample every
    ``every_n``-th frame, and pixel-decode the sampled frames (zlib
    inflate + unfilter) for mean intensity — the
    extract→sample→decode chain a real video featurizer runs, Arrow-
    batched, stdlib-only.  The oracle recomputes frame count, sampled
    indices, and per-frame means arithmetically."""
    import numpy as np

    doc_ids = load_table(spark, sf_dir, "documents").select("doc_id")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"].astype("int64"):
                n = int(doc_id % 20 + 5)
                avi = make_avi(n, int(doc_id))
                frames = parse_avi_frames(avi)
                assert len(frames) == n
                for idx in range(0, len(frames), every_n):
                    w, h, px = decode_png_pixels(frames[idx])
                    arr = np.frombuffer(px, dtype=np.uint8)
                    rows.append(
                        (
                            int(doc_id),
                            idx,
                            len(frames),
                            w,
                            h,
                            round(float(arr.mean()) + 1e-8, 4),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "frame_idx", "n_frames", "width", "height",
                    "mean_pixel",
                ],
            )

    return doc_ids.mapInPandas(
        extract,
        schema="doc_id bigint, frame_idx int, n_frames int, width int,"
        " height int, mean_pixel double",
    )


# ---------------------------------------------------------------------------
# Perceptual image dedup: average-hash over REAL decoded pixels + hamming LSH
# ---------------------------------------------------------------------------

#: aHash geometry: 8x8 grid = 64 bits, split into 4 16-bit bands for the
#: hamming-LSH candidate join (two hashes within hamming<=6 of each other
#: are guaranteed to agree on >=1 whole band only for d<=3 in the worst
#: case, but for aHash near-dups differing bits cluster spatially, so band
#: agreement recalls essentially all real near-pairs — the standard
#: pigeonhole banding trade-off, same contract as MinHash banding).
AHASH_GRID = 8
AHASH_BANDS = 4
AHASH_MAX_HAMMING = 6


def ahash64(pixels: bytes, w: int, h: int) -> int:
    """64-bit average hash of a decoded RGB image: nearest-resize to 8x8
    (:func:`resize_nearest` — the tested resize), read the first channel,
    set bit (ty*8+tx) where the sample exceeds the 64-sample mean.
    Returned as a SIGNED 64-bit int (Java long / DuckDB BIGINT bit
    pattern)."""
    small = resize_nearest(pixels, w, h, AHASH_GRID, AHASH_GRID)
    samples = small[::3]  # first channel of each RGB triplet
    mean = sum(samples) / float(len(samples))
    bits = 0
    for i, p in enumerate(samples):
        if p > mean:
            bits |= 1 << i
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def image_near_duplicates(
    spark: SparkSession,
    sf_dir: str,
    max_hamming: int = AHASH_MAX_HAMMING,
    max_bucket: int | None = None,
) -> DataFrame:
    """Perceptual image dedup — the multimodal twin of the MinHash tier:
    synthesize a valid PNG per doc (the real-decode fixture), REALLY
    decode + resize + aHash it (Arrow-batched Python: zlib inflate,
    unfilter, numpy nearest resize, mean threshold), then find near-dup
    pairs via hamming LSH — each 64-bit hash splits into 4 16-bit bands,
    candidates share a band (equi-join, never all-pairs), and survivors
    verify with a JVM-side ``bit_count(xor)`` hamming distance <=
    ``max_hamming``.

    The oracle recomputes the hash ARITHMETICALLY from the fixture pixel
    formula — a match proves byte-exact decode + resize + threshold AND
    the banding/hamming algebra.  On real corpora the decode stage swaps
    to PIL/libvips inside the same mapInPandas; everything after the
    (doc_id, ahash) frame is pure JVM.

    Scale shape: hashing rides the payload scan (one Arrow pass, 8 bytes
    out per image); the band join shuffles 4 rows per image on
    (band_idx, band_val); verification touches candidates only.  The
    synthetic gradient fixture makes some band buckets hot (many no-wrap
    images share one hash) — real-image buckets are hash-spread, and a
    production run would cap bucket width exactly like exact-substring's
    ``max_df`` boilerplate cap (operators/dedup.py).
    """
    doc_ids = load_table(spark, sf_dir, "documents").select("doc_id")
    payloads = doc_ids.mapInPandas(
        synthesize_png_batch,
        schema="doc_id bigint, content binary, n_bytes int, content_md5 string",
    )

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, buf in zip(pdf["doc_id"].astype("int64"), pdf["content"]):
                w, h, px = decode_png_pixels(bytes(buf))
                rows.append((int(doc_id), ahash64(px, w, h)))
            yield pd.DataFrame(rows, columns=["doc_id", "ahash"])

    hashes = payloads.mapInPandas(
        hash_batch, schema="doc_id bigint, ahash bigint"
    ).transform(pin)

    bands = hashes.select(
        "doc_id",
        "ahash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright(F.col("ahash"), 16 * i)
                        .bitwiseAND(F.lit(65535))
                        .alias("band_val"),
                    )
                    for i in range(AHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "ahash", "band.band_idx", "band.band_val")

    if max_bucket is not None:
        # The exact-substring max_df precedent, in hamming space: a band
        # bucket wider than ``max_bucket`` is boilerplate (monochrome /
        # letterbox frames, or this fixture's no-wrap gradient), and its
        # quadratic pair fan-out buys no dedup signal — cap it BEFORE the
        # self-join so the join input, not just the output, is bounded.
        # Changes semantics (capped buckets emit no pairs), so the
        # default None keeps the oracle-gated spelling exact.
        wide = (
            bands.groupBy("band_idx", "band_val")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_bucket)
            .select("band_idx", "band_val")
        )
        bands = bands.join(wide, ["band_idx", "band_val"], "left_anti")

    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.ahash").alias("ha"),
            F.col("b.ahash").alias("hb"),
        )
        # hamming is a per-row function of (ha, hb), so filtering BEFORE
        # the dedup is result-identical and shrinks the distinct()
        # shuffle from every band collision to the surviving sliver —
        # exactly the hot-bucket case the docstring warns about.
        .filter(hamming <= max_hamming)
        .distinct()
        .select(
            "doc_id_a", "doc_id_b", hamming.cast("int").alias("hamming")
        )
        .orderBy("doc_id_a", "doc_id_b")
    )
