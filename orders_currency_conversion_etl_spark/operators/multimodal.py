"""Multimodal-column operators (SURVEY L4 + north-star mandate).

Pattern: media lives in an opaque ``binary`` column next to typed
metadata; decode / feature-extraction runs as Arrow-batched
``mapInPandas`` so bytes never round-trip through Python row objects.
Every row-wise stage is a per-row function handed to
:func:`map_rows` (``functions/pandas_fn.py``), which owns the batch loop and
names the output columns from the stage's schema; only the vectorized
:func:`_feature_batches` writes its own batch function.
At 100 TB the binary column rides the same parquet scan as everything
else — column pruning means queries that don't touch payloads never
read them, and ``maxPartitionBytes`` keeps per-task memory bounded.

The container has no native image/audio codecs, so the module carries
FOUR decode tiers, each dependency-free down the list:

- :func:`_feature_batches` — byte-level features (no decode at all);
  oracle-checkable because every feature is recomputable from the
  source text in SQL.
- a pure-Python PPM (P6) codec (r9: :func:`encode_ppm` /
  :func:`decode_ppm` / :func:`resize_rgb_nearest`) — a REAL pixel
  path with zero native dependencies: `multimodal_resize` decodes
  actual image bytes and runs a numpy nearest-neighbor resample
  unconditionally on this rig.
- pure-Python COMPRESSED-format codecs (r10): PNG (stdlib-zlib
  inflate, all five scanline unfilters, CRC-checked —
  :func:`decode_png`) and baseline JPEG (Huffman + dequant + IDCT +
  YCbCr, `jpeg_codec.py` — lossy, so its registered query checks a
  quantization-derived tolerance instead of byte equality).
- :func:`decode_image_batch` — dims/mode only, so it parses HEADERS
  only (r11: IHDR / SOFn / P6 header — covers progressive and
  subsampled JPEG too, zero pixel decode); PIL for anything else when
  present, NotImplementedError otherwise.
- :func:`decode_image_pixels` — full pixel decode, native-first: PIL
  handles PNG/JPEG when installed (libpng/libjpeg are ~100x the pure
  codecs — the right dispatch on a real cluster), the pure-Python
  codecs are the dependency-free fallback. The two registered
  ``*_decode`` queries stay pinned to the pure codecs on purpose:
  they verify the codecs themselves.

Audio rides the same pattern (r10, completed r11): :func:`decode_wav_ex`
/ :func:`audio_features` parse RIFF with all three PCM encodings —
16-bit integer (verbatim), IEEE float32 (exact ``k/32768``
convention), G.711 mu-law (256-entry expand table) — through the
identical Arrow-batched mapInPandas shape; the registered
``multimodal_audio_decode`` round-trips each tier exactly.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.pandas_fn import map_rows, row_batches
from ..plans.registry import query
from ..sources import catalog

#: Output schema of the feature extractor — declared once, never inferred.
FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.IntegerType()),
        T.StructField("first_byte", T.IntegerType()),
        T.StructField("checksum_md5", T.StringType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach the opaque media column + typed metadata struct.

    Payload is the utf-8 encoding of the text — a deterministic stand-in
    for image/audio bytes that keeps every byte-level feature
    recomputable by the oracle."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("content_type"),
            F.length(F.col("text")).alias("declared_len"),
            F.col("source").alias("origin"),
        ).alias("media_meta"),
    )


def _feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The 'decoder': pure byte-level features, one vectorized pass per
    Arrow batch. Runs on executors; no driver materialization."""
    import hashlib

    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "byte_len": payloads.map(len).astype("int32"),
                "first_byte": payloads.map(lambda b: b[0] if len(b) else -1).astype("int32"),
                "checksum_md5": payloads.map(lambda b: hashlib.md5(b).hexdigest()),
                "n_frames": payloads.map(lambda b: len(b) % 7).astype("int32"),
            }
        )


_FEATURES_ORACLE = """
SELECT doc_id,
       CAST(strlen(text) AS INT) AS byte_len,
       CAST(CASE WHEN strlen(text) = 0 THEN -1 ELSE ascii(substr(text, 1, 1)) END AS INT) AS first_byte,
       md5(text) AS checksum_md5,
       CAST(strlen(text) % 7 AS INT) AS n_frames
FROM documents
"""


@query("multimodal_features", _FEATURES_ORACLE)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction through real mapInPandas
    plumbing (Arrow batches, fixed output schema)."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    # r18 opt (guide §4.1): mapInPandas is opaque to column pruning —
    # project to exactly the columns _feature_batches reads before the
    # boundary, so media_meta (a struct the function never touches)
    # stops crossing JVM->Arrow->Python.
    return (
        with_binary_payload(docs)
        .select("doc_id", "payload")
        .mapInPandas(_feature_batches, schema=FEATURE_SCHEMA)
    )


_FRAME_LEN = 16
_FRAME_STRIDE = 64

# documents.text is pure ASCII (asserted in tests), so byte offsets in
# the utf-8 payload equal character offsets in the text — the oracle
# recomputes every frame with substr + md5.
_FRAMES_ORACLE = f"""
WITH f AS (
    SELECT doc_id, text,
           CAST(pos AS INT) AS frame_idx,
           md5(substr(text, pos * {_FRAME_STRIDE} + 1, {_FRAME_LEN})) AS frame_md5
    FROM documents,
         unnest(range(0, CAST(ceil(CAST(strlen(text) AS DOUBLE) / {_FRAME_STRIDE}) AS BIGINT))) AS u(pos)
    WHERE strlen(text) > 0
)
SELECT doc_id, frame_idx, frame_md5 FROM f
"""


@query("multimodal_frame_sample", _FRAMES_ORACLE)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling through the real mapInPandas plumbing; frames are
    emitted as md5 digests so the comparison is byte-portable."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    # r18 opt (guide §4.1): project to the two columns the frame
    # sampler reads before the opaque mapInPandas boundary.
    frames = sample_frames(
        with_binary_payload(docs).select("doc_id", "payload"),
        frame_len=_FRAME_LEN,
        stride=_FRAME_STRIDE,
    )
    return frames.select("doc_id", "frame_idx", F.md5("frame").alias("frame_md5"))


#: Fixed resample target for the registered query (both up- and
#: down-scaling occur: source widths span 4-16, heights 3-13).
_RESIZE_TW = 8
_RESIZE_TH = 6

# The oracle reconstructs the resized PPM byte-for-byte: source images
# are solid-color (every pixel = the 3 ascii-hex chars of
# substr(md5(text),1,3)), so ANY correct sampling of them is the solid
# target-size image — and md5 of that reconstructed payload must equal
# md5 of what the pure-Python decode->numpy-resample->encode pipeline
# actually produced. (Sampling-index correctness, which solid images
# can't discriminate, is pinned on gradient images in
# tests/test_llm_ops.py.)
_RESIZE_ORACLE = f"""
SELECT doc_id,
       CAST(4 + doc_id % 13 AS INT) AS width,
       CAST(3 + doc_id % 11 AS INT) AS height,
       CAST({_RESIZE_TW} AS INT) AS new_width,
       CAST({_RESIZE_TH} AS INT) AS new_height,
       md5('P6' || chr(10) || '{_RESIZE_TW} {_RESIZE_TH}' || chr(10) || '255'
           || chr(10)
           || repeat(substr(md5(text), 1, 3), {_RESIZE_TW} * {_RESIZE_TH})
       ) AS resized_md5
FROM documents
"""


@query("multimodal_resize", _RESIZE_ORACLE)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 resize on a REAL pixel path, unconditionally on this rig
    (r9, VERDICT r8 ask #6 — the pre-r9 query was a byte-budget
    truncation): synthesizes a PPM
    (P6) image per document JVM-side (solid color keyed off md5(text),
    dims keyed off doc_id), then mapInPandas DECODES the actual bytes
    with the pure-Python codec, resamples nearest-neighbor in numpy,
    re-encodes, and emits the resized payload's md5 for portable
    comparison."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    out = resize_images_nearest(
        with_ppm_payload(docs), target_w=_RESIZE_TW, target_h=_RESIZE_TH
    )
    return out.select(
        "doc_id",
        "width",
        "height",
        "new_width",
        "new_height",
        F.md5("payload").alias("resized_md5"),
    )


# --------------------------------------------------------------------------
# Pure-Python PPM (P6) codec: the dependency-free real-pixel tier
# --------------------------------------------------------------------------

PPM_MODE = "RGB"


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """Binary PPM (P6): ``P6\\n{w} {h}\\n255\\n`` + raw row-major RGB."""
    if len(rgb) != width * height * 3:
        raise ValueError(
            f"rgb length {len(rgb)} != {width}x{height}x3 = {width * height * 3}"
        )
    return b"P6\n%d %d\n255\n" % (width, height) + rgb


def decode_ppm(payload: bytes) -> tuple[int, int, bytes]:
    """Parse a binary PPM written by :func:`encode_ppm` → (w, h, rgb).

    maxsplit=3 keeps pixel bytes intact even when they contain 0x0A."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    parts = payload.split(b"\n", 3)
    if len(parts) < 4:
        raise ValueError("truncated PPM header")
    dims = parts[1].split()
    w, h = int(dims[0]), int(dims[1])
    if int(parts[2]) != 255:
        raise ValueError("only maxval=255 PPMs supported")
    rgb = parts[3]
    if len(rgb) != w * h * 3:
        raise ValueError(f"pixel payload {len(rgb)} bytes, expected {w * h * 3}")
    return w, h, rgb


def resize_rgb_nearest(rgb: bytes, w: int, h: int, tw: int, th: int) -> bytes:
    """Nearest-neighbor resample of a row-major RGB buffer (numpy fancy
    indexing — vectorized, no per-pixel Python loop). Handles both up-
    and down-scaling: source index = floor(target_index * src / dst)."""
    import numpy as np

    a = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
    rows = (np.arange(th) * h) // th
    cols = (np.arange(tw) * w) // tw
    return a[rows][:, cols].tobytes()


def with_ppm_payload(docs: DataFrame) -> DataFrame:
    """Attach a REAL decodable image per document, synthesized entirely
    JVM-side (string exprs — no UDF on the build path): solid-color PPM
    whose RGB is the first 3 ascii-hex chars of md5(text) and whose
    dims derive from doc_id (w in 4..16, h in 3..13). Solid color keeps
    the resized result SQL-reconstructable for the oracle; ascii-hex
    pixels keep utf-8 encoding byte-faithful on both engines."""
    w = (F.lit(4) + F.col("doc_id") % 13).cast("int")
    h = (F.lit(3) + F.col("doc_id") % 11).cast("int")
    body = F.expr("repeat(substring(md5(text), 1, 3), (4 + doc_id % 13) * (3 + doc_id % 11))")
    header = F.concat_ws(
        "",
        F.lit("P6\n"),
        w.cast("string"),
        F.lit(" "),
        h.cast("string"),
        F.lit("\n255\n"),
    )
    return docs.select(
        "doc_id", F.encode(F.concat(header, body), "utf-8").alias("payload")
    )


RESIZED_IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("new_width", T.IntegerType()),
        T.StructField("new_height", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def resize_images_nearest(
    docs_with_payload: DataFrame, target_w: int, target_h: int
) -> DataFrame:
    """decode → numpy nearest-neighbor resample → re-encode, Arrow-
    batched on executors. This is the production resize shape: binary
    in, bounded binary out (every output payload is exactly
    ``target_w*target_h*3 + header`` bytes, keeping downstream shuffle
    and write volume predictable at 100 TB)."""

    def _resize(doc_id, payload):
        w, h, rgb = decode_ppm(bytes(payload))
        out = resize_rgb_nearest(rgb, w, h, target_w, target_h)
        yield doc_id, w, h, target_w, target_h, encode_ppm(target_w, target_h, out)

    return map_rows(
        docs_with_payload.select("doc_id", "payload"), _resize, RESIZED_IMAGE_SCHEMA
    )


# --------------------------------------------------------------------------
# Pure-Python PNG codec (r10, VERDICT r9 ask #3): compressed-format
# decode with ZERO native deps — zlib is stdlib. Closes the last L4
# gap: a user handing the engine PNG bytes no longer hits the PIL gate.
# Scope: 8-bit RGB (color type 2) and RGBA (6), all five scanline
# filters on decode. Encode emits rows cycling through filters 0-4 so
# the registered end-to-end query exercises EVERY unfilter path
# against a real DEFLATE round-trip, not just the trivial filter-0 one.
# --------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


# Legal (colortype, bitdepth) matrix (PNG spec §11.2.2) and channel
# counts; Adam7 passes as (x_start, y_start, x_step, y_step).
_PNG_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8), 4: (8, 16), 6: (8, 16)}
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def _png_passes(w: int, h: int, interlace: int) -> "list[tuple[int, int, int, int, int, int]]":
    """(x0, y0, xstep, ystep, pass_w, pass_h) per reduced image; empty
    Adam7 passes contribute no scanlines (spec: they are absent)."""
    if interlace == 0:
        return [(0, 0, 1, 1, w, h)]
    out = []
    for x0, y0, xs, ys in _ADAM7:
        pw = (w - x0 + xs - 1) // xs
        ph = (h - y0 + ys - 1) // ys
        if pw > 0 and ph > 0:
            out.append((x0, y0, xs, ys, pw, ph))
    return out


def _png_filter_rows(rows, bpp: int, cycle_filters: bool) -> bytes:
    """Filter packed scanline bytes (h, stride) -> the PNG filtered
    stream; filter ``row % 5`` when cycling (exercises every decode
    path), else filter 0."""
    import numpy as np

    h, stride = rows.shape
    a = rows.astype(np.int16)
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int16)
    for y in range(h):
        row = a[y]
        ft = (y % 5) if cycle_filters else 0
        left = np.concatenate([np.zeros(bpp, dtype=np.int16), row[:-bpp]]) if stride > bpp else np.zeros(stride, dtype=np.int16)
        up = prev
        upleft = np.concatenate([np.zeros(bpp, dtype=np.int16), prev[:-bpp]]) if stride > bpp else np.zeros(stride, dtype=np.int16)
        if ft == 0:
            filt = row
        elif ft == 1:
            filt = row - left
        elif ft == 2:
            filt = row - up
        elif ft == 3:
            filt = row - (left + up) // 2
        else:  # Paeth
            p = left + up - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft))
            filt = row - pred
        raw.append(ft)
        raw.extend((filt % 256).astype(np.uint8).tobytes())
        prev = row
    return bytes(raw)


def _png_pack_rows(samples, depth: int):
    """(h, w*channels) sample array -> packed scanline bytes
    (h, row_bytes): MSB-first bit packing below 8 bits, big-endian
    byte pairs at 16 (spec §7.2)."""
    import numpy as np

    h, n = samples.shape
    if depth == 8:
        return samples.astype(np.uint8)
    if depth == 16:
        out = np.empty((h, n * 2), dtype=np.uint8)
        out[:, 0::2] = (samples >> 8) & 0xFF
        out[:, 1::2] = samples & 0xFF
        return out
    bits = ((samples[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1).astype(np.uint8)
    return np.packbits(bits.reshape(h, n * depth), axis=1)


def encode_png(
    width: int,
    height: int,
    data: bytes,
    cycle_filters: bool = True,
    *,
    colortype: int = 2,
    bitdepth: int = 8,
    palette: "bytes | None" = None,
    trns: "bytes | None" = None,
    interlace: bool = False,
) -> bytes:
    """PNG writer across the full (colortype, bitdepth) matrix + Adam7
    (r14 — previously 8-bit RGB only). ``data`` is one SAMPLE value
    per channel per pixel, row-major: palette indices for colortype 3,
    gray (+alpha) for 0/4, RGB(A) for 2/6; one byte per sample below
    16-bit depth, big-endian byte pairs at 16. ``cycle_filters`` picks
    scanline filter ``row % 5`` (exercises every decode path); False
    pins filter 0 — the cheapest encode, what a 100 TB write path
    would use since DEFLATE does the heavy lifting anyway."""
    import struct
    import zlib

    import numpy as np

    if colortype not in _PNG_DEPTHS:
        raise ValueError(f"PNG colortype {colortype} invalid")
    if bitdepth not in _PNG_DEPTHS[colortype]:
        raise ValueError(f"PNG bitdepth {bitdepth} illegal for colortype {colortype}")
    ch = _PNG_CHANNELS[colortype]
    n_samples = width * height * ch
    if bitdepth == 16:
        if len(data) != n_samples * 2:
            raise ValueError(f"data length {len(data)} != {n_samples} 16-bit samples")
        flat = np.frombuffer(data, dtype=">u2").astype(np.uint16)
    else:
        if len(data) != n_samples:
            raise ValueError(f"data length {len(data)} != {n_samples} samples")
        flat = np.frombuffer(data, dtype=np.uint8)
        if bitdepth < 8 and flat.size and int(flat.max()) >= (1 << bitdepth):
            raise ValueError(f"sample exceeds {bitdepth}-bit range")
    if colortype == 3:
        if not palette or len(palette) % 3 or len(palette) // 3 > 256:
            raise ValueError("colortype 3 needs a packed-RGB palette of <=256 entries")
        if flat.size and int(flat.max()) >= len(palette) // 3:
            raise ValueError("palette index beyond PLTE")
    grid = flat.reshape(height, width, ch)
    bpp = max(1, ch * bitdepth // 8)
    raw = bytearray()
    for x0, y0, xs, ys, _pw, _ph in _png_passes(width, height, 1 if interlace else 0):
        sub = grid[y0::ys, x0::xs, :]
        packed = _png_pack_rows(sub.reshape(sub.shape[0], -1), bitdepth)
        raw.extend(_png_filter_rows(packed, bpp, cycle_filters))
    ihdr = struct.pack(
        ">IIBBBBB", width, height, bitdepth, colortype, 0, 0, 1 if interlace else 0
    )
    out = _PNG_SIG + _png_chunk(b"IHDR", ihdr)
    if colortype == 3:
        out += _png_chunk(b"PLTE", palette)
        if trns is not None:
            out += _png_chunk(b"tRNS", trns)
    out += _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6)) + _png_chunk(b"IEND", b"")
    return out


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int):
    """One reduced image's filtered scanlines -> (h, stride) uint8.

    Filters 0/1/2 unfilter fully vectorized (Sub is a per-byte-lane
    cumsum; Up is an add against the prior reconstructed row); 3/4
    carry an intra-row sequential dependency by construction, so they
    fall back to a per-byte loop — acceptable because rows are short
    relative to DEFLATE cost and a production encode path pins filter
    0/2 anyway."""
    import numpy as np

    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        filt = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int32)
        if ft == 0:
            recon = filt
        elif ft == 1:  # Sub: cumsum per byte lane
            recon = filt.copy()
            for lane in range(bpp):
                recon[lane::bpp] = np.cumsum(filt[lane::bpp]) % 256
        elif ft == 2:  # Up
            recon = (filt + prev) % 256
        elif ft in (3, 4):  # Average / Paeth: sequential by spec
            recon = np.empty(stride, dtype=np.int32)
            for i in range(stride):
                left = recon[i - bpp] if i >= bpp else 0
                up = int(prev[i])
                if ft == 3:
                    recon[i] = (filt[i] + (left + up) // 2) % 256
                else:
                    upleft = int(prev[i - bpp]) if i >= bpp else 0
                    p = left + up - upleft
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - upleft)
                    pred = left if pa <= pb and pa <= pc else (up if pb <= pc else upleft)
                    recon[i] = (filt[i] + pred) % 256
        else:
            raise ValueError(f"PNG filter type {ft} out of range")
        out[y] = recon.astype(np.uint8)
        prev = recon
    return out


def _png_unpack_rows(packed, pw: int, channels: int, depth: int):
    """(h, row_bytes) packed scanline bytes -> (h, pw, channels)
    sample values (uint8 below 16-bit, uint16 at 16): MSB-first bit
    unpacking below 8, big-endian pairs at 16 (spec §7.2)."""
    import numpy as np

    h = packed.shape[0]
    n = pw * channels
    if depth == 8:
        return packed[:, :n].reshape(h, pw, channels)
    if depth == 16:
        hi = packed[:, 0 : 2 * n : 2].astype(np.uint16)
        lo = packed[:, 1 : 2 * n : 2].astype(np.uint16)
        return ((hi << 8) | lo).reshape(h, pw, channels)
    bits = np.unpackbits(packed, axis=1)[:, : n * depth].reshape(h, n, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (bits * weights).sum(axis=2, dtype=np.uint16).astype(np.uint8).reshape(
        h, pw, channels
    )


def decode_png(payload: bytes) -> tuple[int, int, str, bytes]:
    """Parse a PNG → (w, h, mode, pixels) across the FULL legal
    (colortype, bitdepth) matrix and both interlace methods (r14 —
    previously 8-bit RGB/RGBA non-interlaced only): grayscale 1/2/4/8/
    16, palette 1/2/4/8 (PLTE + optional tRNS alpha), RGB(A) and
    gray+alpha at 8/16, Adam7 deinterlacing for all of them. Stdlib
    zlib + numpy only; every chunk CRC-verified.

    Output canonicalization: palette maps to 'RGB' (or 'RGBA' with
    tRNS); sub-8-bit grayscale scales exactly to 8-bit 'L'
    (x * 255 / maxval, the spec's sample depth scaling); 16-bit keeps
    big-endian sample bytes under an ';16'-suffixed mode — no silent
    precision loss."""
    import struct
    import zlib

    import numpy as np

    if not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    idat = bytearray()
    plte = trns = None
    w = h = bitdepth = colortype = interlace = None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        expect_crc = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])[0]
        if zlib.crc32(tag + body) & 0xFFFFFFFF != expect_crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            w, h, bitdepth, colortype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if colortype not in _PNG_DEPTHS or bitdepth not in _PNG_DEPTHS[colortype]:
                raise ValueError(
                    f"PNG bitdepth={bitdepth} illegal for colortype={colortype}"
                )
            if interlace not in (0, 1):
                raise ValueError(f"PNG interlace method {interlace} invalid")
        elif tag == b"PLTE":
            if length % 3 or length > 768:
                raise ValueError("PNG PLTE length invalid")
            plte = bytes(body)
        elif tag == b"tRNS":
            trns = bytes(body)
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if w is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    ch = _PNG_CHANNELS[colortype]
    bpp = max(1, ch * bitdepth // 8)
    raw = zlib.decompress(bytes(idat))
    dtype = np.uint16 if bitdepth == 16 else np.uint8
    grid = np.zeros((h, w, ch), dtype=dtype)
    offset = 0
    for x0, y0, xs, ys, pw, ph in _png_passes(w, h, interlace):
        row_bytes = (pw * ch * bitdepth + 7) // 8
        need = ph * (row_bytes + 1)
        if offset + need > len(raw):
            raise ValueError(
                f"PNG pixel stream {len(raw)} bytes, needs {offset + need}"
            )
        rows = _png_unfilter(raw[offset : offset + need], ph, row_bytes, bpp)
        offset += need
        grid[y0::ys, x0::xs, :] = _png_unpack_rows(rows, pw, ch, bitdepth)
    if offset != len(raw):
        raise ValueError(
            f"PNG pixel stream {len(raw)} bytes, expected {offset}"
        )
    if colortype == 3:
        if plte is None:
            raise ValueError("PNG colortype 3 missing PLTE")
        idx = grid[:, :, 0]
        if idx.size and int(idx.max()) * 3 + 3 > len(plte):
            raise ValueError("PNG palette index beyond PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        rgb = pal[idx]
        if trns is not None:
            if len(trns) > len(pal):
                raise ValueError("PNG tRNS longer than PLTE")
            alpha = np.full(len(pal), 255, dtype=np.uint8)
            alpha[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
            return w, h, "RGBA", np.dstack([rgb, alpha[idx]]).tobytes()
        return w, h, "RGB", rgb.tobytes()
    if bitdepth < 8:  # grayscale only (palette handled above)
        maxval = (1 << bitdepth) - 1
        scaled = (grid[:, :, 0].astype(np.uint16) * 255 // maxval).astype(np.uint8)
        return w, h, "L", scaled.tobytes()
    base = {0: "L", 2: "RGB", 4: "LA", 6: "RGBA"}[colortype]
    if bitdepth == 16:
        be = np.empty(grid.shape + (2,), dtype=np.uint8)
        be[..., 0] = (grid >> 8) & 0xFF
        be[..., 1] = grid & 0xFF
        return w, h, base + ";16", be.tobytes()
    return w, h, base, grid.astype(np.uint8).tobytes()


#: ``(doc_id, payload)``: what the executor-side PNG, JPEG and WAV encoders emit.
_PAYLOAD_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("payload", T.BinaryType())]
)


def _solid_color_spec(docs: DataFrame) -> DataFrame:
    """``(doc_id, w, h, rgb3)``: the solid-color image each codec
    builder encodes — dims from doc_id (w in 4..16, h in 3..13), every
    pixel the first 3 ascii-hex chars of md5(text), the
    :func:`with_ppm_payload` convention the oracles reconstruct."""
    return docs.select(
        "doc_id",
        (F.lit(4) + F.col("doc_id") % 13).cast("int").alias("w"),
        (F.lit(3) + F.col("doc_id") % 11).cast("int").alias("h"),
        F.substring(F.md5(F.col("text")), 1, 3).alias("rgb3"),
    )


def with_png_payload(docs: DataFrame) -> DataFrame:
    """Attach a REAL compressed PNG per document: same solid-color /
    md5-keyed pixel convention as :func:`with_ppm_payload` (so the
    oracle can reconstruct the decoded pixels in SQL), but the payload
    goes through an actual DEFLATE compress executor-side. Encoding is
    a mapInPandas stage because zlib can't be expressed JVM-side; at
    100 TB this is exactly where encode belongs anyway — with the data,
    Arrow-batched, never on the driver."""

    def _encode(doc_id, w, h, rgb3):
        yield doc_id, encode_png(w, h, rgb3.encode("ascii") * (w * h))

    return map_rows(_solid_color_spec(docs), _encode, _PAYLOAD_SCHEMA)


PNG_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mode", T.StringType()),
        T.StructField("pixels_md5", T.StringType()),
    ]
)


# Decoded pixels of a solid-color PNG are the repeated 3-char ascii-hex
# block — SQL-reconstructable, so the md5 proves the full DEFLATE →
# unfilter pipeline byte-for-byte (dims/mode alone would pass on a
# header-only parse).
_PNG_ORACLE = """
SELECT doc_id,
       CAST(4 + doc_id % 13 AS INT) AS width,
       CAST(3 + doc_id % 11 AS INT) AS height,
       'RGB' AS mode,
       md5(repeat(substr(md5(text), 1, 3), (4 + doc_id % 13) * (3 + doc_id % 11))) AS pixels_md5
FROM documents
"""


@query("multimodal_png_decode", _PNG_ORACLE)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 compressed-format decode with zero native deps (r10, VERDICT
    r9 ask #3): synthesize a real PNG per document executor-side (rows
    cycle scanline filters 0-4), then decode through the stdlib-zlib
    decoder — inflate, unfilter all five filter types, emit
    decoded-pixel md5 for portable comparison. Pinned DIRECTLY to
    :func:`decode_png` (not the :func:`decode_image_pixels` dispatch,
    which prefers PIL when installed): this query's purpose is
    verifying the pure codec itself, so it must keep exercising it
    even on a Pillow-equipped cluster.
    Reference parity: the closest reference analogue is opaque-payload
    handling around its pandas intermediate
    (order_currency_conversion_dag.py:95-103); the decode tier itself
    is north-star EXT surface."""
    import hashlib

    docs = catalog.load_table(spark, sf_dir, "documents")

    def _decode(doc_id, payload):
        w, h, mode, pixels = decode_png(bytes(payload))
        yield doc_id, w, h, mode, hashlib.md5(pixels).hexdigest()

    return map_rows(with_png_payload(docs), _decode, PNG_DECODE_SCHEMA)


# --------------------------------------------------------------------------
# Pure-Python JPEG tier (r10): baseline JFIF decode/encode with zero
# native deps (operators/jpeg_codec.py). JPEG is lossy, so the
# registered query's contract is within-tolerance, not byte equality:
# solid-color sources must decode within +-3 per channel (the bound
# the quality-75 quant tables guarantee for DC-only blocks), and the
# dims/mode columns stay exactly oracle-checkable.
# --------------------------------------------------------------------------

from .jpeg_codec import decode_jpeg, encode_jpeg  # noqa: E402  (re-export)

_JPEG_TOL = 3


def with_jpeg_payload(docs: DataFrame) -> DataFrame:
    """Attach a REAL baseline JPEG per document — same solid-color /
    md5-keyed convention as the PPM/PNG builders, but through an
    actual DCT + Huffman encode executor-side."""

    def _encode(doc_id, w, h, rgb3):
        yield doc_id, encode_jpeg(w, h, rgb3.encode("ascii") * (w * h))

    return map_rows(_solid_color_spec(docs), _encode, _PAYLOAD_SCHEMA)


JPEG_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mode", T.StringType()),
        T.StructField("within_tol", T.BooleanType()),
    ]
)


# Dims/mode are exact; the pixel check is a within-tolerance boolean
# (the approx-aggregate pattern: the engine emits a value the oracle
# can hash) because JPEG is lossy — byte equality is not a property
# even a perfect decoder has. A broken Huffman/IDCT path flips
# within_tol to false and fails the value hash.
_JPEG_ORACLE = """
SELECT doc_id,
       CAST(4 + doc_id % 13 AS INT) AS width,
       CAST(3 + doc_id % 11 AS INT) AS height,
       'RGB' AS mode,
       TRUE AS within_tol
FROM documents
"""


@query("multimodal_jpeg_decode", _JPEG_ORACLE)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 lossy-format decode with zero native deps (r10): synthesize a
    real baseline JPEG per document executor-side (DCT, quality-scaled
    Annex K quant tables, canonical Huffman), decode it through the
    stdlib-only jpeg_codec, and assert the decoded pixels sit within
    the quantization-derived tolerance of the known solid color.
    Decode correctness is independently pinned by a hand-assembled
    single-block spec vector in tests/test_llm_ops.py. Pinned DIRECTLY
    to the pure codec (not :func:`decode_image_pixels`, which prefers
    PIL when installed): the query's purpose is verifying the codec
    itself, so the dispatch must never swap libjpeg in under it."""
    import numpy as np

    docs = catalog.load_table(spark, sf_dir, "documents")
    # One narrow projection feeds one mapInPandas stage — the expected
    # color rides the same row as the pixels, so no join ever reunites
    # them (a doc_id shuffle that would be pure waste at 100 TB).

    def _roundtrip(doc_id, w0, h0, rgb3):
        color_bytes = rgb3.encode("ascii")
        payload = encode_jpeg(w0, h0, color_bytes * (w0 * h0))
        w, h, mode, pixels = decode_jpeg(payload)
        a = np.frombuffer(pixels, dtype=np.uint8).astype(np.int32)
        color = np.tile(np.frombuffer(color_bytes, dtype=np.uint8), w * h).astype(np.int32)
        yield doc_id, w, h, mode, bool(np.abs(a - color).max() <= _JPEG_TOL)

    return map_rows(_solid_color_spec(docs), _roundtrip, JPEG_DECODE_SCHEMA)


# --------------------------------------------------------------------------
# The compressed-format decode path (PIL when present, PPM fallback)
# --------------------------------------------------------------------------

try:  # pragma: no cover - environment-dependent
    from PIL import Image  # noqa: F401

    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False


IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mode", T.StringType()),
    ]
)


#: IHDR colortype -> PIL-convention mode string (header-level fact, so
#: the dims parser can report it for formats the full decoder gates).
_PNG_CT_MODE = {0: "L", 2: "RGB", 3: "P", 4: "LA", 6: "RGBA"}

#: Every SOFn marker that opens a frame header (dims live at the same
#: offsets in all of them) — C4/C8/CC are DHT/JPG/DAC, not frames.
_JPEG_SOF_MARKERS = frozenset(
    0xFFC0 + i for i in range(16) if i not in (4, 8, 12)
)


def ppm_dims(payload: bytes) -> tuple[int, int, str]:
    """P6 header parse -> (w, h, mode). Never touches pixel bytes."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    parts = payload.split(b"\n", 2)
    if len(parts) < 3:
        raise ValueError("truncated PPM header")
    dims = parts[1].split()
    return int(dims[0]), int(dims[1]), PPM_MODE


def pnm_dims(payload: bytes) -> tuple[int, int, str]:
    """The netpbm siblings (late r13): P4 (bitmap, mode '1'), P5
    (graymap, 'L'), P6 (pixmap, 'RGB') — whitespace/comment-tolerant
    header scan per the netpbm spec, pixel bytes never touched."""
    if payload[:1] != b"P" or payload[1:2] not in b"456":
        raise ValueError("not a binary netpbm (P4/P5/P6) payload")
    mode = {b"4": "1", b"5": "L", b"6": "RGB"}[payload[1:2]]
    # token scan: dims are the first two whitespace-separated integer
    # tokens after the magic; '#' starts a to-end-of-line comment
    tokens: list[int] = []
    pos = 2
    n = len(payload)
    while pos < n and len(tokens) < 2:
        c = payload[pos : pos + 1]
        if c == b"#":
            eol = payload.find(b"\n", pos)
            if eol < 0:
                break
            pos = eol + 1
        elif c.isspace():
            pos += 1
        elif c.isdigit():
            end = pos
            while end < n and payload[end : end + 1].isdigit():
                end += 1
            if end == n:
                # the token runs to end-of-payload: a valid binary
                # netpbm always has a maxval/raster after the dims, so
                # an unterminated dims token is a truncated stream —
                # accepting it would silently report a WRONG dimension
                # (e.g. "480" cut to "48"; r18 fuzz-screen finding,
                # FUZZ_SCREEN_r18.json image_truncation tier)
                raise ValueError("truncated netpbm header (unterminated dims token)")
            tokens.append(int(payload[pos:end]))
            pos = end
        else:
            raise ValueError(f"unexpected byte {c!r} in netpbm header")
    if len(tokens) < 2:
        raise ValueError("truncated netpbm header (missing dimensions)")
    return tokens[0], tokens[1], mode


def ico_dims(payload: bytes) -> tuple[int, int, str]:
    """ICO/CUR header parse (late r13) -> largest image's (w, h,
    'RGBA'): 6-byte ICONDIR + 16-byte ICONDIRENTRYs, where a 0 width/
    height byte means 256 (the favicon format's quirk). Entry payloads
    (PNG or DIB) are never touched — dims are directory facts."""
    import struct

    if len(payload) < 6:
        raise ValueError("not an ICO payload (short header)")
    reserved, img_type, count = struct.unpack("<HHH", payload[:6])
    if reserved != 0 or img_type not in (1, 2):
        raise ValueError("not an ICO/CUR payload (bad ICONDIR)")
    if count == 0:
        raise ValueError("ICO with zero images")
    if 6 + 16 * count > len(payload):
        raise ValueError("ICO directory overruns the payload")
    best = (0, 0)
    for i in range(count):
        off = 6 + 16 * i
        w = payload[off] or 256
        h = payload[off + 1] or 256
        if w * h > best[0] * best[1]:
            best = (w, h)
    return best[0], best[1], "RGBA"


def png_dims(payload: bytes) -> tuple[int, int, str]:
    """IHDR-only parse -> (w, h, mode): reads 33 bytes, CRC-checks the
    header chunk, never inflates IDAT. Reports dims/mode for ALL
    colortypes (as of r14 :func:`decode_png` decodes the full legal
    matrix too; dims stay a header fact, never a pixel one)."""
    import struct
    import zlib

    if not payload.startswith(_PNG_SIG) or len(payload) < 33:
        raise ValueError("not a PNG payload")
    if payload[12:16] != b"IHDR":  # IHDR must be first per spec
        raise ValueError("PNG IHDR not first chunk")
    body = payload[16:29]
    if zlib.crc32(payload[12:29]) & 0xFFFFFFFF != struct.unpack(">I", payload[29:33])[0]:
        raise ValueError("PNG IHDR CRC mismatch")
    w, h, _bd, colortype, _c, _f, _i = struct.unpack(">IIBBBBB", body)
    return w, h, _PNG_CT_MODE.get(colortype, f"CT{colortype}")


def jpeg_dims(payload: bytes) -> tuple[int, int, str]:
    """Marker-walk to the first SOFn -> (w, h, mode) with ZERO entropy
    decode (r11, VERDICT r10 ask #1): dims sit at fixed offsets in
    every SOF variant, so this handles progressive and subsampled
    streams that the full baseline decoder gates — and costs O(header)
    instead of the Huffman+IDCT pass :func:`decode_jpeg` pays."""
    import struct

    if not payload.startswith(b"\xff\xd8"):
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    n = len(payload)
    while pos < n:
        if payload[pos] != 0xFF:
            raise ValueError(f"JPEG marker expected at {pos}")
        # spec allows any number of 0xFF fill bytes before the marker code
        while pos < n and payload[pos] == 0xFF:
            pos += 1
        if pos >= n:
            break
        marker = 0xFF00 | payload[pos]
        pos += 1
        if marker in (0xFFD9, 0xFFDA):  # EOI / SOS without a frame header
            break
        if marker == 0xFF01 or 0xFFD0 <= marker <= 0xFFD7:
            continue  # TEM / RSTn: standalone markers, no length field
        if pos + 2 > n:
            raise ValueError("truncated JPEG segment length")
        length = struct.unpack(">H", payload[pos : pos + 2])[0]
        if length < 2 or pos + length > n:
            raise ValueError("truncated JPEG segment body")
        if marker in _JPEG_SOF_MARKERS:
            if length < 8:
                raise ValueError("truncated JPEG SOF header")
            _prec, h, w, nc = struct.unpack(">BHHB", payload[pos + 2 : pos + 8])
            mode = {1: "L", 3: "RGB", 4: "CMYK"}.get(nc, f"NC{nc}")
            return w, h, mode
        pos += length
    raise ValueError("JPEG frame header (SOFn) not found")


def webp_dims(payload: bytes) -> tuple[int, int, str]:
    """RIFF-walk to the first VP8 / VP8L / VP8X chunk -> (w, h, mode),
    header bytes only (r12, VERDICT r11 ask #8): covers lossy (VP8
    frame tag + sync code), lossless (VP8L 14-bit packed dims +
    alpha bit) and extended (VP8X 24-bit canvas) containers. Like
    png_dims/jpeg_dims this is a dims fact-extractor — there is no
    pure-Python WebP pixel decoder here (PIL covers pixels where
    installed), but a PIL-less rig can at least MEASURE WebP corpora."""
    import struct

    if len(payload) < 16 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP payload")
    pos, n = 12, len(payload)
    while pos + 8 <= n:
        tag = payload[pos : pos + 4]
        size = struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        body = payload[pos + 8 : pos + 8 + size]
        if tag == b"VP8 ":
            if len(body) < 10 or body[3:6] != b"\x9d\x01\x2a":
                raise ValueError("truncated/invalid VP8 frame header")
            w = struct.unpack("<H", body[6:8])[0] & 0x3FFF
            h = struct.unpack("<H", body[8:10])[0] & 0x3FFF
            return w, h, "RGB"
        if tag == b"VP8L":
            if len(body) < 5 or body[0] != 0x2F:
                raise ValueError("truncated/invalid VP8L header")
            w = (body[1] | ((body[2] & 0x3F) << 8)) + 1
            h = ((body[2] >> 6) | (body[3] << 2) | ((body[4] & 0x0F) << 10)) + 1
            return w, h, "RGBA" if (body[4] >> 4) & 1 else "RGB"
        if tag == b"VP8X":
            if len(body) < 10:
                raise ValueError("truncated VP8X header")
            w = 1 + int.from_bytes(body[4:7], "little")
            h = 1 + int.from_bytes(body[7:10], "little")
            return w, h, "RGBA" if body[0] & 0x10 else "RGB"
        pos += 8 + size + (size & 1)  # RIFF chunks are 2-byte aligned
    raise ValueError("WebP dims chunk (VP8/VP8L/VP8X) not found")


def gif_dims(payload: bytes) -> tuple[int, int, str]:
    """GIF87a/GIF89a logical-screen descriptor -> (w, h, mode): reads
    10 header bytes, never touches LZW data. GIF pixels are always
    palette-indexed -> mode 'P' (the convention PIL uses)."""
    import struct

    if payload[:6] not in (b"GIF87a", b"GIF89a") or len(payload) < 10:
        raise ValueError("not a GIF payload")
    w, h = struct.unpack("<HH", payload[6:10])
    return w, h, "P"


def bmp_dims(payload: bytes) -> tuple[int, int, str]:
    """BMP BITMAPINFOHEADER parse -> (w, h, mode): header bytes only.
    Height may be negative (top-down row order) — dims report its
    magnitude. Mode from bits-per-pixel (24 RGB / 32 RGBA / 8 P /
    1 bilevel), matching the PIL naming the other parsers use."""
    import struct

    if payload[:2] != b"BM" or len(payload) < 18:
        raise ValueError("not a BMP payload")
    hdr_size = struct.unpack("<I", payload[14:18])[0]
    if hdr_size == 12:  # BITMAPCOREHEADER: 16-bit dims, ends at byte 26
        if len(payload) < 26:
            raise ValueError("truncated BMP core header")
        w, h = struct.unpack("<HH", payload[18:22])
        bpp = struct.unpack("<H", payload[24:26])[0]
    else:
        # Every other defined header (OS/2 2.x 16/64, BITMAPINFOHEADER
        # 40, V4/V5 108/124) shares the INFOHEADER's first 16 bytes:
        # 32-bit signed dims at 18, bpp at 28 (r13, bmp ADVICE fix —
        # the old `< 40` gate misparsed 16/64-byte OS/2 headers through
        # the 16-bit core branch, and the blanket 30-byte minimum
        # rejected valid 26-29 byte core-header files).
        if len(payload) < 30:
            raise ValueError("truncated BMP info header")
        w, h = struct.unpack("<ii", payload[18:26])
        bpp = struct.unpack("<H", payload[28:30])[0]
    mode = {24: "RGB", 32: "RGBA", 8: "P", 1: "1"}.get(bpp, f"BPP{bpp}")
    return w, abs(h), mode


def ogg_audio_info(payload: bytes) -> tuple[str, int, int]:
    """First-page parse of an OGG container -> (codec, channels,
    sample_rate) with zero packet decode (r12, VERDICT r11 ask #8):
    reads the Vorbis or Opus identification header from page 0's
    segment-table-delimited payload — the audio analogue of the
    header-only image dims parsers."""
    import struct

    if len(payload) < 27 or payload[:4] != b"OggS" or payload[4] != 0:
        raise ValueError("not an OGG payload")
    nsegs = payload[26]
    if len(payload) < 27 + nsegs:
        raise ValueError("truncated OGG page header")
    body_len = sum(payload[27 : 27 + nsegs])
    body = payload[27 + nsegs : 27 + nsegs + body_len]
    if body.startswith(b"\x01vorbis"):
        if len(body) < 16:
            raise ValueError("truncated Vorbis identification header")
        return "vorbis", body[11], struct.unpack("<I", body[12:16])[0]
    if body.startswith(b"OpusHead"):
        if len(body) < 16:
            raise ValueError("truncated Opus identification header")
        return "opus", body[9], struct.unpack("<I", body[12:16])[0]
    raise ValueError("unsupported OGG codec (expected Vorbis or Opus)")


def flac_audio_info(payload: bytes) -> tuple[str, int, int]:
    """STREAMINFO parse of a native-FLAC stream -> ("flac", channels,
    sample_rate) with zero frame decode (r13): the mandatory first
    metadata block after the ``fLaC`` marker packs sample rate
    (20 bits), channels-1 (3 bits) and bits-per-sample-1 (5 bits) into
    a 64-bit field at block offset 10. The declared block length must
    be the STREAMINFO-mandated 34 and a zero sample rate (legal only
    for non-audio metadata-carrying streams) is rejected loudly."""
    if len(payload) < 8 or payload[:4] != b"fLaC":
        raise ValueError("not a native-FLAC payload (no fLaC marker)")
    btype = payload[4] & 0x7F
    blen = int.from_bytes(payload[5:8], "big")
    if btype != 0:
        raise ValueError("first FLAC metadata block is not STREAMINFO")
    if blen != 34:
        raise ValueError(f"STREAMINFO length {blen}, spec mandates 34")
    if len(payload) < 8 + 34:
        raise ValueError("truncated FLAC STREAMINFO block")
    packed = int.from_bytes(payload[18:26], "big")
    sample_rate = packed >> 44
    channels = ((packed >> 41) & 0x7) + 1
    if sample_rate == 0:
        raise ValueError("FLAC STREAMINFO sample rate is zero")
    return "flac", channels, sample_rate


def encode_flac_header(
    channels: int, sample_rate: int, bits_per_sample: int = 16,
    total_samples: int = 0,
) -> bytes:
    """Minimal spec-shaped native-FLAC header: fLaC marker + a
    last-flagged STREAMINFO block carrying exactly the fields
    :func:`flac_audio_info` reads (the fixture half)."""
    packed = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bits_per_sample - 1) << 36)
        | (total_samples & ((1 << 36) - 1))
    )
    body = (
        (4096).to_bytes(2, "big") * 2       # min/max blocksize
        + b"\x00\x00\x00" * 2               # min/max framesize (unknown)
        + packed.to_bytes(8, "big")
        + b"\x00" * 16                      # MD5 (unset)
    )
    assert len(body) == 34
    return b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big") + body


# MPEG-1/2 Layer III: bitrate (kbps) and sample-rate lookup tables,
# indexed per ISO/IEC 11172-3 / 13818-3 frame-header fields.
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000), 0: (11025, 12000, 8000)}


def mp3_audio_info(payload: bytes) -> tuple[str, int, int]:
    """First-frame-header parse of an MP3 stream -> ("mp3", channels,
    sample_rate) with zero audio decode (r13): skips a leading ID3v2
    tag (syncsafe 28-bit size), requires the 11-bit frame sync, and
    reads the MPEG version / sample-rate-index / channel-mode fields
    of the 4-byte header. Only Layer III is accepted — this is an MP3
    sniffer, not a general MPEG-audio parser — and reserved
    version/rate indexes are corruption, not defaults."""
    pos = 0
    if payload[:3] == b"ID3":
        if len(payload) < 10:
            raise ValueError("truncated ID3v2 tag header")
        if any(b & 0x80 for b in payload[6:10]):
            raise ValueError("ID3v2 size bytes are not syncsafe")
        size = (
            (payload[6] << 21) | (payload[7] << 14) | (payload[8] << 7) | payload[9]
        )
        pos = 10 + size
    if pos + 4 > len(payload):
        raise ValueError("no MPEG frame header after the ID3v2 tag")
    h = payload[pos : pos + 4]
    if h[0] != 0xFF or (h[1] & 0xE0) != 0xE0:
        raise ValueError(f"no MPEG frame sync at offset {pos}")
    version = (h[1] >> 3) & 0x3  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5, 1=reserved
    layer = (h[1] >> 1) & 0x3    # 1 = Layer III
    if version == 1:
        raise ValueError("reserved MPEG version id")
    if layer != 1:
        raise NotImplementedError("only MPEG Layer III (MP3) is supported")
    rate_idx = (h[2] >> 2) & 0x3
    if rate_idx == 3:
        raise ValueError("reserved MPEG sample-rate index")
    sample_rate = _MP3_RATES[version][rate_idx]
    channel_mode = (h[3] >> 6) & 0x3  # 3 = mono
    channels = 1 if channel_mode == 3 else 2
    return "mp3", channels, sample_rate


def encode_mp3_header(
    channels: int, sample_rate: int, id3_size: int = 0
) -> bytes:
    """Minimal MP3 lead-in: optional ID3v2 tag (syncsafe size, zero
    body) + one Layer-III frame header carrying the version /
    rate-index / channel-mode fields :func:`mp3_audio_info` reads
    (the fixture half)."""
    out = bytearray()
    if id3_size:
        out += b"ID3\x04\x00\x00" + bytes(
            [(id3_size >> 21) & 0x7F, (id3_size >> 14) & 0x7F,
             (id3_size >> 7) & 0x7F, id3_size & 0x7F]
        )
        out += b"\x00" * id3_size
    version, rate_idx = next(
        (v, i)
        for v, rates in _MP3_RATES.items()
        for i, r in enumerate(rates)
        if r == sample_rate
    )
    out += bytes(
        [
            0xFF,
            0xE0 | (version << 3) | (1 << 1),       # sync + version + Layer III
            (0x9 << 4) | (rate_idx << 2),            # a valid bitrate idx + rate
            (0x3 if channels == 1 else 0x0) << 6,    # channel mode
        ]
    )
    return bytes(out)


def audio_info(payload: bytes) -> tuple[str, int, int]:
    """Container-sniffing dispatch for audio payloads — the
    :func:`image_dims` / :func:`video_dims` analogue, every branch
    O(header): RIFF/WAVE routes through the fmt-chunk walk
    (:func:`decode_wav_ex` reads data too, so this reads fmt only),
    OGG to :func:`ogg_audio_info`, native FLAC to
    :func:`flac_audio_info`, MP3/ID3 to :func:`mp3_audio_info`."""
    import struct

    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        pos = 12
        while pos + 8 <= len(payload):
            cid = payload[pos : pos + 4]
            size = struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
            if cid == b"fmt ":
                if size < 16:
                    raise ValueError("truncated WAVE fmt chunk")
                tag, ch, rate = struct.unpack(
                    "<HHI", payload[pos + 8 : pos + 16]
                )
                codec = {1: "pcm16", 3: "float32", 7: "mulaw"}.get(tag)
                if codec is None:
                    raise NotImplementedError(f"WAVE format tag {tag} not supported")
                return codec, ch, rate
            pos += 8 + size + (size & 1)
        raise ValueError("RIFF/WAVE payload has no fmt chunk")
    if payload[:4] == b"OggS":
        return ogg_audio_info(payload)
    if payload[:4] == b"fLaC":
        return flac_audio_info(payload)
    if payload[:3] == b"ID3" or (
        len(payload) >= 2 and payload[0] == 0xFF and (payload[1] & 0xE0) == 0xE0
    ):
        return mp3_audio_info(payload)
    raise ValueError("unrecognized audio container (WAV/OGG/FLAC/MP3)")


def decode_image_pixels(payload: bytes) -> tuple[int, int, str, bytes]:
    """Full pixel decode with native-first dispatch (r11, VERDICT r10
    ask #1): when PIL is installed it handles PNG and JPEG — libpng /
    libjpeg are ~100x the pure-Python codecs and also cover the
    variants they gate (sampling factors above 2; progressive SOF2,
    2x-subsampled baseline and the full PNG legal matrix all decode
    pure-Python as of r14)
    — with the stdlib codecs as the dependency-free fallback if
    PIL itself fails on a stream. Without PIL the pure codecs run, and
    a NotImplementedError from them (a format variant they honestly
    gate) propagates, naming PIL as the fix. PPM stays pure-Python
    unconditionally: it is raw bytes behind a text header, and the
    codec is already allocation-bounded.

    The registered queries ``multimodal_png_decode`` /
    ``multimodal_jpeg_decode`` deliberately do NOT route through this
    dispatch — they call :func:`decode_png` / ``decode_jpeg`` directly
    because their purpose is verifying the pure codecs themselves."""
    import io

    if payload.startswith(b"P6\n"):
        w, h, rgb = decode_ppm(payload)
        return w, h, PPM_MODE, rgb
    is_png = payload.startswith(_PNG_SIG)
    is_jpeg = payload.startswith(b"\xff\xd8")
    is_gif = payload[:6] in (b"GIF87a", b"GIF89a")
    if (is_png or is_jpeg or is_gif) and _HAS_PIL:
        try:
            with Image.open(io.BytesIO(payload)) as im:
                return im.width, im.height, im.mode, im.tobytes()
        except Exception:  # corrupt-for-PIL: let the pure codec rule
            pass
    if is_png:
        return decode_png(payload)
    if is_jpeg:
        return decode_jpeg(payload)
    if is_gif:  # r14: pure LZW tier (operators/gif_codec.py)
        from .gif_codec import decode_gif

        return decode_gif(payload)
    if _HAS_PIL:  # pragma: no cover - requires PIL
        with Image.open(io.BytesIO(payload)) as im:
            return im.width, im.height, im.mode, im.tobytes()
    raise NotImplementedError(
        "decoding image bytes beyond PPM/PNG/JPEG(SOF0+SOF2)/GIF "
        "requires PIL, not available in this environment"
    )


def decode_image_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Dims/mode extraction. This path returns only (width, height,
    mode) — all header facts — so as of r11 it parses HEADERS ONLY
    (IHDR / first SOFn / P6 text header) and never pays inflate or
    Huffman+IDCT for pixels it would throw away (VERDICT r10 ask #1:
    at sf1 the old full-decode route spent ~28 s of pure-Python
    entropy decode to report three integers). Header parsing also
    widens coverage: progressive/subsampled JPEG and palette PNG get
    correct dims with no PIL. Unknown formats go through PIL when
    installed (``Image.open`` is itself header-lazy) and raise
    NotImplementedError otherwise. The Spark plumbing (binary in,
    typed struct out, Arrow batching) is identical to
    :func:`_feature_batches`."""
    return row_batches(_image_dims_row, IMAGE_SCHEMA)(batches)


def _image_dims_row(doc_id, payload):
    yield doc_id, *image_dims(bytes(payload))


def image_dims(payload: bytes) -> tuple[int, int, str]:
    """Header-only dims dispatch with PIL as the rescue path (r12
    ADVICE fix): a spec-exotic external payload the strict pure parser
    rejects (e.g. APPn padding the walk mishandles) still resolves via
    ``Image.open`` when PIL is installed — PIL is itself header-lazy,
    so the rescue stays O(header). Without PIL the parser's ValueError
    propagates with the original diagnostic."""
    import io

    if payload.startswith(b"P6\n"):
        parser = ppm_dims
    elif payload[:1] == b"P" and payload[1:2] in b"456":
        parser = pnm_dims  # P4/P5 + whitespace-variant P6 (late r13)
    elif payload[:4] == b"\x00\x00\x01\x00" or payload[:4] == b"\x00\x00\x02\x00":
        parser = ico_dims  # ICO/CUR (late r13)
    elif (
        len(payload) >= 12
        and payload[4:8] == b"ftyp"
        and payload[8:12].decode("latin-1") in _HEIF_BRANDS
    ):
        # HEIF/AVIF (late r13): a STILL image in an ISO-BMFF container;
        # video brands keep routing through video_dims/mp4_dims
        b, w, h = heif_dims(payload)
        return w, h, "RGB"
    elif payload.startswith(_PNG_SIG):
        parser = png_dims
    elif payload.startswith(b"\xff\xd8"):
        parser = jpeg_dims
    elif payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        parser = webp_dims
    elif payload[:6] in (b"GIF87a", b"GIF89a"):
        parser = gif_dims
    elif payload[:4] in (b"II\x2a\x00", b"MM\x00\x2a", b"II\x2b\x00", b"MM\x00\x2b"):
        parser = tiff_dims  # r13; the 0x2b pair is the BigTIFF layout
    elif payload[:2] == b"BM":
        parser = bmp_dims
    elif _HAS_PIL:  # pragma: no cover - requires PIL
        with Image.open(io.BytesIO(payload)) as im:
            return im.width, im.height, im.mode
    else:
        raise NotImplementedError(
            "image bytes beyond netpbm(P4/P5/P6)/PNG/JPEG/WebP/GIF/"
            "TIFF/BigTIFF/BMP/ICO "
            "require PIL, not available in this environment; those "
            "parse header-only via the pure-Python dims parsers, and "
            "multimodal_features is the codec-free byte-level path"
        )
    try:
        return parser(payload)
    except ValueError as strict_err:
        if _HAS_PIL:  # pragma: no cover - requires PIL
            # If PIL ALSO rejects the payload it raises its own
            # UnidentifiedImageError — re-raise the strict parser's
            # ValueError instead so callers see one exception type
            # regardless of whether PIL is installed (r13 ADVICE fix).
            try:
                with Image.open(io.BytesIO(payload)) as im:
                    return im.width, im.height, im.mode
            except Exception:
                raise strict_err from None
        raise


def decode_images(docs_with_payload: DataFrame) -> DataFrame:
    """mapInPandas wiring for dims extraction (header-only parse)."""
    return map_rows(
        docs_with_payload.select("doc_id", "payload"), _image_dims_row, IMAGE_SCHEMA
    )


# --------------------------------------------------------------------------
# Resize / frame-sample: deterministic byte-level stand-ins with the
# production batch shape (binary in -> binary/array out)
# --------------------------------------------------------------------------

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(docs_with_payload: DataFrame, frame_len: int = 16, stride: int = 64) -> DataFrame:
    """Frame sampling: one row per sampled fixed-length slice of the
    payload (the video-keyframe shape: 1 input row -> N output rows).
    Row expansion happens executor-side inside the Arrow batch, never
    on the driver."""

    def _frames(doc_id, payload):
        for i, off in enumerate(range(0, len(payload), stride)):
            yield doc_id, i, bytes(payload[off : off + frame_len])

    return map_rows(docs_with_payload.select("doc_id", "payload"), _frames, FRAMES_SCHEMA)


# --------------------------------------------------------------------------
# Audio tier (r10): WAV (RIFF PCM) — stdlib parse, no codec needed.
# PCM is uncompressed, so unlike the PNG/JPEG tiers the whole path is
# lossless and byte-exact. Feature extraction (duration, peak, RMS)
# is vectorized numpy inside the same Arrow-batched mapInPandas shape
# as every other decoder here.
# --------------------------------------------------------------------------


# --- G.711 mu-law (format tag 7): 256-entry expand table built from
# the spec algorithm; compress is the classic bias-0x84 segment search.
# encode(decode(code)) == code for every code except 0x7F, which
# collides with 0xFF on +-0 (both decode to 0; compress emits 0xFF) —
# the documented wart of the standard, pinned in tests.
_MULAW_BIAS = 0x84
_MULAW_CLIP = 32635


def mulaw_decode_sample(code: int) -> int:
    """One mu-law byte -> linear int16 per ITU-T G.711."""
    code = ~code & 0xFF
    sign = code & 0x80
    exponent = (code >> 4) & 0x07
    mantissa = code & 0x0F
    mag = (((mantissa << 3) + _MULAW_BIAS) << exponent) - _MULAW_BIAS
    return -mag if sign else mag


def mulaw_encode_sample(sample: int) -> int:
    """Linear int16 -> mu-law byte per ITU-T G.711."""
    sign = 0x80 if sample < 0 else 0
    if sample < 0:
        sample = -sample
    if sample > _MULAW_CLIP:
        sample = _MULAW_CLIP
    sample += _MULAW_BIAS
    exponent = 7
    mask = 0x4000
    while exponent > 0 and not (sample & mask):
        exponent -= 1
        mask >>= 1
    mantissa = (sample >> (exponent + 3)) & 0x0F
    return ~(sign | (exponent << 4) | mantissa) & 0xFF


#: Expand table (numpy int16) so batch decode is one fancy-index, not
#: a per-sample Python loop.
def _mulaw_table():
    import numpy as np

    return np.array([mulaw_decode_sample(c) for c in range(256)], dtype=np.int16)


def mulaw_encode_array(samples) -> "np.ndarray":
    """Vectorized G.711 compress (r11): whole int16 arrays, no
    per-sample Python. The segment search (scalar: walk a mask from
    bit 14 down) is exactly ``bit_length(mag) - 8`` clipped to [0, 7];
    ``np.frexp`` gives bit_length exactly (no float-log rounding
    hazards). Pinned equal to the scalar encoder over the ENTIRE int16
    domain in tests."""
    import numpy as np

    s = np.asarray(samples).astype(np.int32)
    sign = np.where(s < 0, 0x80, 0)
    mag = np.minimum(np.abs(s), _MULAW_CLIP) + _MULAW_BIAS
    _, exp = np.frexp(mag.astype(np.float64))  # mag = m * 2**exp, 0.5 <= m < 1
    e = np.clip(exp - 8, 0, 7)
    m = (mag >> (e + 3)) & 0x0F
    return (~(sign | (e << 4) | m) & 0xFF).astype(np.uint8)


_WAV_TAGS = {"pcm16": 1, "float32": 3, "mulaw": 7}
_WAV_TAG_NAMES = {1: "pcm16", 3: "float32", 7: "mulaw"}


def encode_wav(
    sample_rate: int,
    samples: "list[int] | bytes",
    n_channels: int = 1,
    fmt: str = "pcm16",
) -> bytes:
    """Minimal RIFF/WAVE writer. ``samples`` is int16 PCM (a list of
    ints, or raw little-endian int16 bytes); ``fmt`` picks the stored
    encoding: ``pcm16`` (tag 1, verbatim), ``float32`` (tag 3, IEEE
    float ``k/32768`` — exactly representable for every int16 k, so
    the round-trip is lossless), or ``mulaw`` (tag 7, G.711
    compression — lossy in general, exact on table values)."""
    import struct

    import numpy as np

    if fmt not in _WAV_TAGS:
        raise ValueError(f"unknown WAV fmt {fmt!r} (pcm16/float32/mulaw)")
    if isinstance(samples, (bytes, bytearray)):
        raw = bytes(samples)
        if len(raw) % 2:
            raise ValueError("PCM byte length not a multiple of int16")
        pcm = np.frombuffer(raw, dtype="<i2")
    else:
        pcm = np.array(samples, dtype="<i2")
    if pcm.size % n_channels:
        raise ValueError("sample count not a multiple of the channel count")
    tag = _WAV_TAGS[fmt]
    if fmt == "pcm16":
        data, bits = pcm.tobytes(), 16
    elif fmt == "float32":
        data, bits = (pcm.astype(np.float32) / np.float32(32768.0)).astype("<f4").tobytes(), 32
    else:
        data = mulaw_encode_array(pcm).tobytes()
        bits = 8
    block_align = n_channels * bits // 8
    byte_rate = sample_rate * block_align
    fmt_body = struct.pack("<HHIIHH", tag, n_channels, sample_rate, byte_rate, block_align, bits)
    riff_body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_wav_ex(payload: bytes) -> tuple[str, int, int, int, bytes]:
    """Parse RIFF/WAVE -> (encoding, sample_rate, n_channels, n_frames,
    int16 PCM bytes).

    Three tiers, all stdlib+numpy (r11, VERDICT r10 ask #5 — the old
    NotImplementedError for float/mu-law is now unreachable):

    - tag 1 / 16-bit: integer PCM, verbatim (lossless, byte-exact);
    - tag 3 / 32-bit: IEEE-float PCM, converted by round(f * 32768)
      with clipping — exact inverse of the ``k/32768`` convention
      :func:`encode_wav` writes, since every such float is exactly
      representable in binary32;
    - tag 7 / 8-bit: G.711 mu-law, expanded through the 256-entry
      table (one numpy fancy-index per payload, no per-sample loop).

    Anything else (ADPCM, a-law, 24-bit PCM) still raises
    NotImplementedError naming the tag. Chunk walk skips unknown
    chunks (LIST/INFO etc.) per the RIFF spec."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            tag, nch, rate, _br, _ba, bits = struct.unpack("<HHIIHH", body[:16])
            if (tag, bits) not in ((1, 16), (3, 32), (7, 8)):
                raise NotImplementedError(
                    f"WAV format tag {tag} / {bits}-bit unsupported "
                    "(16-bit PCM, 32-bit IEEE float, 8-bit mu-law)"
                )
            fmt = (tag, rate, nch)
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    tag, rate, nch = fmt
    if tag == 1:
        pcm = data
    elif tag == 3:
        f = np.frombuffer(data, dtype="<f4").astype(np.float64)
        pcm = np.clip(np.rint(f * 32768.0), -32768, 32767).astype("<i2").tobytes()
    else:
        pcm = _mulaw_table()[np.frombuffer(data, dtype=np.uint8)].astype("<i2").tobytes()
    n_frames = len(pcm) // (2 * nch)
    return _WAV_TAG_NAMES[tag], rate, nch, n_frames, pcm


def decode_wav(payload: bytes) -> tuple[int, int, int, bytes]:
    """Back-compat 4-tuple: (sample_rate, n_channels, n_frames, int16
    PCM bytes) — float32/mu-law payloads come back expanded to int16."""
    _enc, rate, nch, n_frames, pcm = decode_wav_ex(payload)
    return rate, nch, n_frames, pcm


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("pcm_md5", T.StringType()),
    ]
)


def audio_features(docs_with_payload: DataFrame) -> DataFrame:
    """WAV decode + feature extraction, Arrow-batched executor-side:
    the audio twin of decode_images. PCM is lossless, so pcm_md5 makes
    the whole parse byte-exact-checkable."""
    import hashlib

    import numpy as np

    def _features(doc_id, payload):
        rate, nch, n_frames, pcm = decode_wav(bytes(payload))
        a = np.frombuffer(pcm, dtype="<i2")
        peak = int(np.abs(a.astype(np.int32)).max()) if a.size else 0
        yield doc_id, rate, n_frames, n_frames * 1000 // rate, peak, hashlib.md5(pcm).hexdigest()

    return map_rows(
        docs_with_payload.select("doc_id", "payload"), _features, AUDIO_FEATURES_SCHEMA
    )


def with_wav_payload(docs: DataFrame, sample_rate: int = 8000) -> DataFrame:
    """Attach a deterministic WAV per document: PCM bytes are the
    utf-8 text repeated/truncated to an even length — SQL-recomputable
    like every other payload builder here, and genuinely parsed back
    through the RIFF chunk walk."""

    def _encode(doc_id, text):
        raw = text.encode("utf-8")
        raw = raw[: len(raw) - (len(raw) % 2)] or b"\x00\x00"
        yield doc_id, encode_wav(sample_rate, raw)

    return map_rows(docs.select("doc_id", F.col("text")), _encode, _PAYLOAD_SCHEMA)


AUDIO_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("encoding", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("roundtrip_ok", T.BooleanType()),
    ]
)


# encoding / sample_rate / n_frames are exactly SQL-recomputable from
# the text column; roundtrip_ok follows the JPEG within_tol pattern
# (the engine emits a boolean the oracle can hash): a broken expand
# table, float scale, or chunk walk flips it false and fails the
# value hash. n_frames: one mu-law code per text byte; one int16 frame
# per text byte PAIR for pcm16/float32 (with the 1-frame empty-text
# fallback the payload builder guarantees).
_AUDIO_DECODE_ORACLE = """
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INT)
            WHEN 0 THEN 'pcm16' WHEN 1 THEN 'float32' ELSE 'mulaw'
       END AS encoding,
       CAST(8000 AS INT) AS sample_rate,
       CAST(CASE WHEN doc_id % 3 = 2 THEN GREATEST(strlen(text), 1)
                 ELSE GREATEST(strlen(text) // 2, 1) END AS INT) AS n_frames,
       TRUE AS roundtrip_ok
FROM documents
"""


@query("multimodal_audio_decode", _AUDIO_DECODE_ORACLE)
def multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 audio tier, all three encodings (r11, VERDICT r10 ask #5):
    per document, synthesize a WAV whose stored encoding cycles
    pcm16 / IEEE-float32 / G.711 mu-law by doc_id, decode it back
    through :func:`decode_wav_ex`, and verify the round trip EXACTLY —
    int16 PCM byte-equality for pcm16/float32 (the ``k/32768`` float
    convention is lossless by construction), re-compressed code-stream
    byte-equality for mu-law (G.711 expand/compress is an exact
    involution on code points once 0x7F — the one code that re-encodes
    differently, the 0x7F/0xFF zero-collision — is remapped out of the
    synthesized stream, making the check fixture-independent).

    One narrow projection feeds one mapInPandas stage — encode, decode
    and verify all happen on the same executor row, so no shuffle and
    no reunite join at any scale (the multimodal_jpeg_decode shape).
    Reference parity: nearest analogue is opaque-payload handling
    around the reference's pandas intermediate
    (order_currency_conversion_dag.py:95-103); the audio tier itself is
    north-star EXT surface."""
    import numpy as np

    docs = catalog.load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", (F.col("doc_id") % 3).cast("int").alias("enc_id"), "text")
    table = _mulaw_table()

    def _roundtrip(doc_id, enc_id, text):
        raw = text.encode("utf-8")
        if enc_id == 2:
            # 0x7f and 0xff both decode to 0 but re-encode to 0xff (the
            # G.711 zero-collision) — remap 0x7f in the synthesized code
            # stream so the exact-involution check never depends on the
            # fixture's byte content (r12 ADVICE fix; previously held
            # only because documents.text is printable ASCII).
            codes = (raw or b"\xff").replace(b"\x7f", b"\xff")
            source = table[np.frombuffer(codes, dtype=np.uint8)].astype("<i2").tobytes()
            fmt = "mulaw"
        else:
            source = raw[: len(raw) - (len(raw) % 2)] or b"\x00\x00"
            fmt = "pcm16" if enc_id == 0 else "float32"
        payload = encode_wav(8000, source, fmt=fmt)
        enc, rate, _nch, n_frames, pcm = decode_wav_ex(payload)
        if enc_id == 2:
            back = mulaw_encode_array(np.frombuffer(pcm, dtype="<i2")).tobytes()
            ok = back == codes
        else:
            ok = pcm == source
        yield doc_id, enc, rate, n_frames, bool(ok)

    return map_rows(base, _roundtrip, AUDIO_DECODE_SCHEMA)


# --------------------------------------------------------------------------
# Container-header tier (r12, VERDICT r11 ask #8): WebP dims and OGG
# audio identification, driver-oracled the multimodal_audio_decode way —
# synthesize the container deterministically from the documents table,
# parse it back with the header-only parser, verify every field against
# SQL-recomputable arithmetic.
# --------------------------------------------------------------------------

WEBP_DIMS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("container", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mode", T.StringType()),
    ]
)

# width/height from the text length, container cycling the three WebP
# forms, alpha on a doc_id stripe that intersects VP8L and VP8X evenly
# (VP8 lossy has no alpha channel — always RGB).
_WEBP_DIMS_ORACLE = """
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INT)
            WHEN 0 THEN 'VP8' WHEN 1 THEN 'VP8L' ELSE 'VP8X'
       END AS container,
       CAST(1 + strlen(text) % 640 AS INT) AS width,
       CAST(1 + (strlen(text) // 7) % 480 AS INT) AS height,
       CASE WHEN doc_id % 3 = 0 THEN 'RGB'
            WHEN doc_id % 9 < 3 THEN 'RGBA' ELSE 'RGB'
       END AS mode
FROM documents
"""


def encode_webp_header(form: int, w: int, h: int, alpha: bool) -> bytes:
    """Minimal spec-shaped WebP container carrying only the chunk
    :func:`webp_dims` reads: VP8 frame tag + sync code (form 0), VP8L
    14-bit packed dims (form 1), VP8X 24-bit canvas (form 2)."""
    import struct

    if form == 0:
        body = b"\x00\x00\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", w, h)
        tag = b"VP8 "
    elif form == 1:
        b1 = (w - 1) & 0xFF
        b2 = ((w - 1) >> 8) | (((h - 1) & 0x03) << 6)
        b3 = ((h - 1) >> 2) & 0xFF
        b4 = ((h - 1) >> 10) | (0x10 if alpha else 0)
        body = bytes([0x2F, b1, b2, b3, b4])
        tag = b"VP8L"
    else:
        body = bytes([0x10 if alpha else 0, 0, 0, 0]) + (w - 1).to_bytes(
            3, "little"
        ) + (h - 1).to_bytes(3, "little")
        tag = b"VP8X"
    chunk = tag + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) % 2 else b"")
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


@query("multimodal_webp_dims", _WEBP_DIMS_ORACLE)
def multimodal_webp_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only WebP dims across all three container forms (r12):
    per document, synthesize a VP8 / VP8L / VP8X container whose dims
    derive from the text length (alpha flagged on a deterministic
    doc_id stripe), then parse it back through the :func:`image_dims`
    dispatch — so the RIFF walk, the 14-bit VP8L bit-unpacking, the
    24-bit VP8X canvas read AND the dispatch's signature routing are
    all under the value hash. Same one-stage mapInPandas shape as
    multimodal_audio_decode: synthesis and parse share the executor
    row, no shuffle at any scale."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")

    names = {0: "VP8", 1: "VP8L", 2: "VP8X"}

    def _roundtrip(doc_id, text):
        n = len(text.encode("utf-8"))
        w, h = 1 + n % 640, 1 + (n // 7) % 480
        form = int(doc_id) % 3
        alpha = int(doc_id) % 9 < 3
        got_w, got_h, mode = image_dims(encode_webp_header(form, w, h, alpha))
        yield doc_id, names[form], got_w, got_h, mode

    return map_rows(base, _roundtrip, WEBP_DIMS_SCHEMA)


OGG_INFO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("codec", T.StringType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
    ]
)

_OGG_INFO_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'vorbis' ELSE 'opus' END AS codec,
       CAST(1 + doc_id % 8 AS INT) AS channels,
       CAST(8000 * (1 + doc_id % 6) AS INT) AS sample_rate
FROM documents
"""


def encode_ogg_id_page(codec: str, channels: int, sample_rate: int) -> bytes:
    """First OGG page (BOS) holding a Vorbis or Opus identification
    header — the bytes :func:`ogg_audio_info` reads."""
    import struct

    if codec == "vorbis":
        packet = (
            b"\x01vorbis" + struct.pack("<I", 0) + bytes([channels])
            + struct.pack("<I", sample_rate)
        )
    else:
        packet = (
            b"OpusHead" + bytes([1, channels]) + struct.pack("<H", 312)
            + struct.pack("<I", sample_rate)
        )
    return b"OggS" + b"\x00\x02" + b"\x00" * 20 + bytes([1, len(packet)]) + packet


@query("multimodal_ogg_info", _OGG_INFO_ORACLE)
def multimodal_ogg_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGG identification-header parse, driver-oracled (r12): per
    document, build a first page carrying a Vorbis (even doc_id) or
    Opus (odd) identification header with arithmetic-derived channel
    count and sample rate, parse it back through
    :func:`ogg_audio_info`, and emit the recovered fields — segment
    table walk, codec magic routing and little-endian field reads all
    under the value hash. One mapInPandas stage, no shuffle."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id")

    def _roundtrip(doc_id):
        codec = "vorbis" if int(doc_id) % 2 == 0 else "opus"
        page = encode_ogg_id_page(codec, 1 + int(doc_id) % 8, 8000 * (1 + int(doc_id) % 6))
        yield doc_id, *ogg_audio_info(page)

    return map_rows(base, _roundtrip, OGG_INFO_SCHEMA)


# --------------------------------------------------------------------------
# MP4 / ISO-BMFF header dims (r13, VERDICT r12 ask #3): the dominant
# video container joins the header-only family. A stdlib box walk to
# moov/trak/tkhd (dims) and moov/mvhd (duration) — zero sample decode,
# O(header) like the image parsers.
# --------------------------------------------------------------------------


def _bmff_boxes(buf: bytes, pos: int, end: int):
    """Yield (type, body_start, body_end) for the ISO-BMFF boxes in
    buf[pos:end], handling 32-bit sizes, size==1 (64-bit largesize
    follows the type) and size==0 (box extends to the end)."""
    import struct

    while pos + 8 <= end:
        size = struct.unpack(">I", buf[pos : pos + 4])[0]
        btype = buf[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated ISO-BMFF largesize box")
            size = struct.unpack(">Q", buf[pos + 8 : pos + 16])[0]
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < body - pos or pos + size > end:
            raise ValueError("ISO-BMFF box overruns its container")
        yield btype, body, pos + size
        pos += size


#: ftyp major brands that mean "HEIF-family still image", not video —
#: the phone-camera formats (HEIC) and AVIF; mif1/msf1 are the generic
#: HEIF structural brands.
_HEIF_BRANDS = frozenset({"heic", "heix", "heim", "heis", "mif1", "msf1", "avif", "avis"})


def heif_dims(payload: bytes) -> tuple[str, int, int]:
    """HEIF/AVIF header walk (late r13) -> (brand, width, height):
    the dominant phone-camera (HEIC) and modern-web (AVIF) still
    formats are ISO-BMFF containers — dims live in
    ``meta/iprp/ipco/ispe`` property boxes, one per stored image item
    (thumbnails included), so the PRIMARY image is reported as the
    largest ``ispe``. ``meta`` is a FullBox (4 version/flags bytes
    before its children — the classic misparse this walk handles);
    the compressed item payloads (``mdat``/``idat``) are never
    touched. Codec decode is out of scope by construction (HEVC/AV1
    bitstreams need native decoders) — this is the O(header) dims
    tier, the same contract as every other parser here."""
    import struct

    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload (no ftyp box)")
    brand = payload[8:12].decode("latin-1")
    best = (0, 0)
    for btype, b0, b1 in _bmff_boxes(payload, 0, len(payload)):
        if btype != b"meta":
            continue
        # meta is a FullBox: skip version/flags before its children
        for ctype, c0, c1 in _bmff_boxes(payload, b0 + 4, b1):
            if ctype != b"iprp":
                continue
            for ptype, p0, p1 in _bmff_boxes(payload, c0, c1):
                if ptype != b"ipco":
                    continue
                for qtype, q0, q1 in _bmff_boxes(payload, p0, p1):
                    if qtype != b"ispe":
                        continue
                    if q0 + 12 > q1:
                        raise ValueError("truncated ispe box")
                    w, h = struct.unpack(">II", payload[q0 + 4 : q0 + 12])
                    if w * h > best[0] * best[1]:
                        best = (w, h)
    if best == (0, 0):
        raise ValueError("HEIF meta/iprp/ipco/ispe dims not found")
    return brand, best[0], best[1]


def encode_heif_header(
    brand: str, sizes: "list[tuple[int, int]]"
) -> bytes:
    """Minimal spec-shaped HEIF/AVIF: ftyp + meta(FullBox) containing
    iprp/ipco with one ispe per (w, h) — the fixture half of
    :func:`heif_dims` (primary image first or last, the parser picks
    the largest regardless)."""
    import struct

    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + btype + body

    ispes = b"".join(
        box(b"ispe", struct.pack(">III", 0, w, h)) for w, h in sizes
    )
    ipco = box(b"ipco", ispes)
    iprp = box(b"iprp", ipco)
    meta = box(b"meta", b"\x00\x00\x00\x00" + iprp)
    ftyp = box(b"ftyp", brand.encode("latin-1") + struct.pack(">I", 0))
    return ftyp + meta


def mp4_dims(payload: bytes) -> tuple[str, int, int, int]:
    """ISO-BMFF header walk -> (brand, width, height, duration_ms):
    ``ftyp`` major brand, first ``trak/tkhd`` with a nonzero canvas
    (tkhd stores 16.16 fixed-point dims; audio tracks carry 0x0 and
    are skipped), and ``mvhd`` duration rescaled to milliseconds via
    its timescale. Both version-0 (32-bit times) and version-1
    (64-bit) layouts of mvhd/tkhd are parsed; no mdat byte is ever
    touched. Reference parity: none — the reference is tabular-only
    (BASELINE.json:6); EXT north-star surface."""
    import struct

    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload (no ftyp box)")
    brand = payload[8:12].decode("latin-1")
    width = height = -1
    duration_ms = -1
    for btype, b0, b1 in _bmff_boxes(payload, 0, len(payload)):
        if btype != b"moov":
            continue
        for ctype, c0, c1 in _bmff_boxes(payload, b0, b1):
            if ctype == b"mvhd" and duration_ms < 0:
                ver = payload[c0]
                if ver == 1:
                    ts = struct.unpack(">I", payload[c0 + 20 : c0 + 24])[0]
                    dur = struct.unpack(">Q", payload[c0 + 24 : c0 + 32])[0]
                else:
                    ts = struct.unpack(">I", payload[c0 + 12 : c0 + 16])[0]
                    dur = struct.unpack(">I", payload[c0 + 16 : c0 + 20])[0]
                if ts == 0:
                    raise ValueError("mvhd timescale is zero")
                duration_ms = dur * 1000 // ts
            elif ctype == b"trak" and width < 0:
                for ttype, t0, t1 in _bmff_boxes(payload, c0, c1):
                    if ttype != b"tkhd":
                        continue
                    ver = payload[t0]
                    off = t0 + (88 if ver == 1 else 76)
                    if off + 8 > t1:
                        raise ValueError("truncated tkhd box")
                    w_fp, h_fp = struct.unpack(">II", payload[off : off + 8])
                    if w_fp and h_fp:
                        width, height = w_fp >> 16, h_fp >> 16
    if width < 0 or duration_ms < 0:
        raise ValueError("ISO-BMFF moov/tkhd video dims or mvhd not found")
    return brand, width, height, duration_ms


def avi_dims(payload: bytes) -> tuple[str, int, int, int]:
    """RIFF/AVI header walk -> ("avi", width, height, duration_ms):
    top-level chunk walk to LIST/``hdrl``, then to the ``avih``
    MainAVIHeader whose dwWidth/dwHeight give the canvas and whose
    dwTotalFrames x dwMicroSecPerFrame give the duration — the same
    O(header) posture as :func:`mp4_dims` (the ``movi`` data chunk is
    never touched; for a multi-GB capture the walk reads a few hundred
    bytes). RIFF chunks are 2-byte aligned, same as the WebP walk."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    pos, end = 12, len(payload)
    while pos + 8 <= end:
        ctype = payload[pos : pos + 4]
        size = struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        body0, body1 = pos + 8, pos + 8 + size
        if body1 > end:
            raise ValueError(f"AVI chunk {ctype!r} overruns the payload")
        if ctype == b"LIST" and payload[body0 : body0 + 4] == b"hdrl":
            ipos = body0 + 4
            while ipos + 8 <= body1:
                itype = payload[ipos : ipos + 4]
                isize = struct.unpack("<I", payload[ipos + 4 : ipos + 8])[0]
                if ipos + 8 + isize > body1:
                    raise ValueError("AVI hdrl sub-chunk overruns its LIST")
                if itype == b"avih":
                    if isize < 40:
                        raise ValueError("truncated avih MainAVIHeader")
                    usec_per_frame, = struct.unpack(
                        "<I", payload[ipos + 8 : ipos + 12]
                    )
                    total_frames, = struct.unpack(
                        "<I", payload[ipos + 24 : ipos + 28]
                    )
                    w, h = struct.unpack("<II", payload[ipos + 40 : ipos + 48])
                    duration_ms = total_frames * usec_per_frame // 1000
                    return "avi", w, h, duration_ms
                ipos += 8 + isize + (isize & 1)
            raise ValueError("AVI hdrl LIST has no avih header chunk")
        pos = body1 + (size & 1)
    raise ValueError("AVI hdrl LIST not found")


def encode_avi_header(
    w: int, h: int, total_frames: int, usec_per_frame: int
) -> bytes:
    """Minimal spec-shaped AVI: RIFF('AVI ') + LIST(hdrl(avih)) + an
    empty LIST(movi) — exactly the fields :func:`avi_dims` reads, with
    a leading JUNK chunk inside hdrl so the walk's sub-chunk skip is
    exercised (the fixture half)."""
    import struct

    avih_body = struct.pack(
        "<14I",
        usec_per_frame,  # dwMicroSecPerFrame
        0, 0, 0,         # dwMaxBytesPerSec, dwPaddingGranularity, dwFlags
        total_frames,    # dwTotalFrames
        0, 1, 0,         # dwInitialFrames, dwStreams, dwSuggestedBufferSize
        w, h,            # dwWidth, dwHeight
        0, 0, 0, 0,      # dwReserved[4]
    )
    junk = b"JUNK" + struct.pack("<I", 3) + b"pad\x00"  # odd size: alignment path
    avih = b"avih" + struct.pack("<I", len(avih_body)) + avih_body
    hdrl_body = b"hdrl" + junk + avih
    hdrl = b"LIST" + struct.pack("<I", len(hdrl_body)) + hdrl_body
    movi = b"LIST" + struct.pack("<I", 4) + b"movi"
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _ebml_varint(payload: bytes, pos: int, keep_marker: bool) -> tuple[int, int]:
    """Read one EBML variable-length integer at ``pos`` -> (value,
    next_pos). Element IDs keep the length-marker bit (``keep_marker``,
    per the spec IDs are compared with it); sizes strip it. A size
    whose value bits are ALL ones means "unknown size" and returns -1."""
    if pos >= len(payload):
        raise ValueError(f"truncated EBML varint at offset {pos}")
    first = payload[pos]
    if first == 0:
        raise ValueError(f"invalid EBML varint lead byte 0x00 at offset {pos}")
    length = 9 - first.bit_length()  # leading-zeros + 1
    if pos + length > len(payload):
        raise ValueError(f"EBML varint overruns the payload at offset {pos}")
    raw = int.from_bytes(payload[pos : pos + length], "big")
    if keep_marker:
        return raw, pos + length
    value = raw - (1 << (7 * length))  # strip the marker bit
    if value == (1 << (7 * length)) - 1:
        return -1, pos + length  # unknown size
    return value, pos + length


def _ebml_children(payload: bytes, pos: int, end: int):
    """Yield (element_id, body_start, body_end) for each child element
    in [pos, end). Unknown-size elements are only legal for the
    top-level Segment (handled by the caller); here they are loud."""
    while pos < end:
        eid, pos = _ebml_varint(payload, pos, keep_marker=True)
        size, pos = _ebml_varint(payload, pos, keep_marker=False)
        if size < 0:
            raise ValueError(f"unknown-size EBML element 0x{eid:X} below Segment level")
        if pos + size > end:
            raise ValueError(f"EBML element 0x{eid:X} overruns its parent")
        yield eid, pos, pos + size
        pos += size


# Matroska/WebM element IDs (with the length-marker bit, as compared)
_EBML_HEADER = 0x1A45DFA3
_EBML_DOCTYPE = 0x4282
_MKV_SEGMENT = 0x18538067
_MKV_INFO = 0x1549A966
_MKV_TIMESTAMP_SCALE = 0x2AD7B1
_MKV_DURATION = 0x4489
_MKV_TRACKS = 0x1654AE6B
_MKV_TRACK_ENTRY = 0xAE
_MKV_TRACK_TYPE = 0x83
_MKV_VIDEO = 0xE0
_MKV_PIXEL_WIDTH = 0xB0
_MKV_PIXEL_HEIGHT = 0xBA


def mkv_dims(payload: bytes) -> tuple[str, int, int, int]:
    """Matroska/WebM EBML walk -> (doctype, width, height,
    duration_ms): DocType from the EBML header ("matroska" or "webm"),
    PixelWidth/PixelHeight from the first video TrackEntry (TrackType
    1; audio entries are skipped, the mp4 posture), and Info's
    float Duration x TimestampScale (default 1,000,000 ns) rescaled to
    milliseconds. Only header-level masters are walked — Cluster data
    is never touched, so the walk is O(header) however large the
    capture. The top-level Segment may carry the streamed "unknown
    size" and is then taken to extend to the payload end (how
    live-muxed mkv is written); unknown sizes anywhere else are
    corruption and raise."""
    import struct

    n = len(payload)
    if n < 4 or payload[:4] != b"\x1a\x45\xdf\xa3":
        raise ValueError("not an EBML payload (no EBML header magic)")
    doctype = "matroska"
    width = height = -1
    duration_raw = None
    tscale = 1_000_000  # ns, the Matroska default
    pos = 0
    while pos < n:
        eid, p = _ebml_varint(payload, pos, keep_marker=True)
        size, p = _ebml_varint(payload, p, keep_marker=False)
        if size < 0:
            if eid != _MKV_SEGMENT:
                raise ValueError(
                    f"unknown-size EBML element 0x{eid:X} outside Segment"
                )
            body_end = n
        else:
            body_end = p + size
            if body_end > n:
                raise ValueError(f"EBML element 0x{eid:X} overruns the payload")
        if eid == _EBML_HEADER:
            for cid, c0, c1 in _ebml_children(payload, p, body_end):
                if cid == _EBML_DOCTYPE:
                    doctype = payload[c0:c1].rstrip(b"\x00").decode("ascii", "replace")
        elif eid == _MKV_SEGMENT:
            for cid, c0, c1 in _ebml_children(payload, p, body_end):
                if cid == _MKV_INFO:
                    for iid, i0, i1 in _ebml_children(payload, c0, c1):
                        if iid == _MKV_TIMESTAMP_SCALE:
                            tscale = int.from_bytes(payload[i0:i1], "big")
                        elif iid == _MKV_DURATION:
                            if i1 - i0 == 4:
                                duration_raw = struct.unpack(">f", payload[i0:i1])[0]
                            elif i1 - i0 == 8:
                                duration_raw = struct.unpack(">d", payload[i0:i1])[0]
                            else:
                                raise ValueError("mkv Duration is not float32/float64")
                elif cid == _MKV_TRACKS and width < 0:
                    for tid, t0, t1 in _ebml_children(payload, c0, c1):
                        if tid != _MKV_TRACK_ENTRY:
                            continue
                        ttype, video_span = None, None
                        for fid, f0, f1 in _ebml_children(payload, t0, t1):
                            if fid == _MKV_TRACK_TYPE:
                                ttype = int.from_bytes(payload[f0:f1], "big")
                            elif fid == _MKV_VIDEO:
                                video_span = (f0, f1)
                        if ttype == 1 and video_span:
                            for vid, v0, v1 in _ebml_children(payload, *video_span):
                                if vid == _MKV_PIXEL_WIDTH:
                                    width = int.from_bytes(payload[v0:v1], "big")
                                elif vid == _MKV_PIXEL_HEIGHT:
                                    height = int.from_bytes(payload[v0:v1], "big")
                            break
        pos = body_end
    if width < 0 or height < 0:
        raise ValueError("mkv Tracks has no video TrackEntry with pixel dims")
    if duration_raw is None:
        raise ValueError("mkv Info has no Duration element")
    duration_ms = int(duration_raw * tscale // 1_000_000)
    return doctype, width, height, duration_ms


def encode_mkv_header(
    doctype: str, w: int, h: int, duration_ticks: float,
    timestamp_scale: int = 1_000_000, unknown_size_segment: bool = False,
) -> bytes:
    """Minimal spec-shaped Matroska/WebM: EBML header (DocType) +
    Segment(Info(TimestampScale, float64 Duration) + Tracks(audio
    TrackEntry THEN video TrackEntry)) — exactly the elements
    :func:`mkv_dims` reads, with the leading audio entry forcing the
    track-type skip and ``unknown_size_segment`` exercising the
    streamed live-mux layout (the fixture half)."""
    import struct

    def vint_size(value: int) -> bytes:
        for length in range(1, 9):
            if value < (1 << (7 * length)) - 1:
                return (value + (1 << (7 * length))).to_bytes(length, "big")
        raise ValueError("EBML size too large")

    def elem(eid: int, body: bytes) -> bytes:
        return eid.to_bytes((eid.bit_length() + 7) // 8, "big") + vint_size(len(body)) + body

    def uint_body(v: int) -> bytes:
        return v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big")

    header = elem(_EBML_HEADER, elem(_EBML_DOCTYPE, doctype.encode("ascii")))
    info = elem(
        _MKV_INFO,
        elem(_MKV_TIMESTAMP_SCALE, uint_body(timestamp_scale))
        + elem(_MKV_DURATION, struct.pack(">d", duration_ticks)),
    )
    audio_entry = elem(
        _MKV_TRACK_ENTRY, elem(_MKV_TRACK_TYPE, uint_body(2))
    )
    video_entry = elem(
        _MKV_TRACK_ENTRY,
        elem(_MKV_TRACK_TYPE, uint_body(1))
        + elem(
            _MKV_VIDEO,
            elem(_MKV_PIXEL_WIDTH, uint_body(w))
            + elem(_MKV_PIXEL_HEIGHT, uint_body(h)),
        ),
    )
    tracks = elem(_MKV_TRACKS, audio_entry + video_entry)
    seg_body = info + tracks
    if unknown_size_segment:
        seg = (
            _MKV_SEGMENT.to_bytes(4, "big")
            + b"\x01" + b"\xff" * 7  # 8-byte all-ones size = unknown
            + seg_body
        )
    else:
        seg = elem(_MKV_SEGMENT, seg_body)
    return header + seg


def video_dims(payload: bytes) -> tuple[str, int, int, int]:
    """Container-sniffing dispatch for video payloads — the
    :func:`image_dims` analogue. MP4/MOV (ftyp at byte 4) routes to
    :func:`mp4_dims`; AVI (RIFF) to :func:`avi_dims`; MKV/WebM (EBML
    magic) to :func:`mkv_dims` — all three r13, all O(header)."""
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        return mp4_dims(payload)
    if payload[:4] == b"\x1a\x45\xdf\xa3":
        return mkv_dims(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return avi_dims(payload)
    raise ValueError("unrecognized video container (expected ISO-BMFF ftyp)")


def encode_mp4_header(
    brand: str, w: int, h: int, duration: int, timescale: int, version: int,
    large_moov: bool = False,
) -> bytes:
    """Minimal spec-shaped MP4: ftyp + moov(mvhd + audio trak + video
    trak) carrying exactly the fields :func:`mp4_dims` reads. The
    leading ZERO-dims audio trak forces the parser to skip non-video
    tracks; ``large_moov`` wraps moov in the size==1/largesize form."""
    import struct

    def box(btype: bytes, body: bytes, large: bool = False) -> bytes:
        if large:
            return struct.pack(">I", 1) + btype + struct.pack(">Q", 16 + len(body)) + body
        return struct.pack(">I", 8 + len(body)) + btype + body

    ftyp = box(b"ftyp", brand.encode("latin-1") + struct.pack(">I", 0) + b"isom")
    if version == 1:
        mvhd_body = (
            b"\x01\x00\x00\x00" + b"\x00" * 16
            + struct.pack(">IQ", timescale, duration) + b"\x00" * 80
        )
        tkhd_head = b"\x01\x00\x00\x00" + b"\x00" * 84
    else:
        mvhd_body = (
            b"\x00" * 4 + b"\x00" * 8
            + struct.pack(">II", timescale, duration) + b"\x00" * 80
        )
        tkhd_head = b"\x00" * 4 + b"\x00" * 72
    audio_trak = box(b"trak", box(b"tkhd", tkhd_head + struct.pack(">II", 0, 0)))
    video_trak = box(
        b"trak", box(b"tkhd", tkhd_head + struct.pack(">II", w << 16, h << 16))
    )
    moov = box(b"moov", box(b"mvhd", mvhd_body) + audio_trak + video_trak, large_moov)
    return ftyp + moov


MP4_DIMS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("brand", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

# duration = k * timescale with k = 1 + bytes % 120, so duration_ms is
# exactly 1000k whatever the timescale stripe; odd doc_ids use the
# version-1 64-bit layout and every third doc wraps moov in
# size==1/largesize — all three variants under one value hash.
_MP4_DIMS_ORACLE = """
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INT)
            WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42' ELSE 'avc1'
       END AS brand,
       CAST(1 + strlen(text) % 640 AS INT) AS width,
       CAST(1 + (strlen(text) // 7) % 480 AS INT) AS height,
       CAST(1000 * (1 + strlen(text) % 120) AS BIGINT) AS duration_ms
FROM documents
"""


@query("multimodal_mp4_dims", _MP4_DIMS_ORACLE)
def multimodal_mp4_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only MP4 dims + duration (r13, VERDICT r12 ask #3): per
    document, synthesize an ISO-BMFF container (brand cycling
    isom/mp42/avc1, dims from the text length, duration an exact
    multiple of a varying timescale, version-0 and version-1 layouts
    on alternating doc_ids, largesize moov on a third stripe, and a
    zero-dims AUDIO trak ahead of the video trak) and parse it back
    through the :func:`video_dims` dispatch — box walk, largesize
    handling, track skipping, 16.16 fixed-point dims and the
    timescale division all under the value hash. One mapInPandas
    stage, synthesis and parse share the executor row, no shuffle at
    any scale (the multimodal_webp_dims shape)."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")

    brands = {0: "isom", 1: "mp42", 2: "avc1"}

    def _roundtrip(doc_id, text):
        d = int(doc_id)
        n = len(text.encode("utf-8"))
        w, h = 1 + n % 640, 1 + (n // 7) % 480
        ts = 500 * (1 + d % 4)
        payload = encode_mp4_header(
            brands[d % 3], w, h,
            duration=(1 + n % 120) * ts, timescale=ts,
            version=d % 2, large_moov=(d % 3 == 2),
        )
        yield doc_id, *video_dims(payload)

    return map_rows(base, _roundtrip, MP4_DIMS_SCHEMA)


# --------------------------------------------------------------------------
# TIFF header dims (r13, VERDICT r12 "What's missing" #4 continuation):
# an IFD tag walk in both byte orders — TIFF is the remaining common
# still-image container without a header-only parser here.
# --------------------------------------------------------------------------


def tiff_dims(payload: bytes) -> tuple[int, int, str]:
    """TIFF 6.0 baseline IFD walk -> (w, h, mode): reads the 8-byte
    header (II little / MM big endian, magic 42) and the FIRST image
    file directory only — strip/tile data is never touched. Dims from
    tags 256/257 (SHORT or LONG per spec); mode from tag 262
    (PhotometricInterpretation: 0/1 grayscale -> 'L', 2 -> 'RGB',
    3 palette -> 'P') refined by tag 277 (4 samples -> 'RGBA').
    BigTIFF (magic 43, late r13 — closing the r13-introduction gate):
    the 8-byte-offset layout walks through the same tag reads with the
    widened header (offset bytesize must be 8, the padding word 0),
    8-byte entry counts, 20-byte entries and LONG8 (type 16) inline
    values — the form multi-gigabyte scan/satellite imagery ships."""
    import struct

    if len(payload) < 8:
        raise ValueError("not a TIFF payload (short header)")
    if payload[:2] == b"II":
        e = "<"
    elif payload[:2] == b"MM":
        e = ">"
    else:
        raise ValueError("not a TIFF payload (no II/MM byte-order mark)")
    magic = struct.unpack(e + "H", payload[2:4])[0]
    big = magic == 43
    if not big and magic != 42:
        raise ValueError(f"not a TIFF payload (magic {magic}, expected 42 or 43)")
    if big:
        if len(payload) < 16:
            raise ValueError("truncated BigTIFF header")
        osize, pad = struct.unpack(e + "HH", payload[4:8])
        if osize != 8 or pad != 0:
            raise ValueError(
                f"malformed BigTIFF header (offset bytesize {osize}, pad {pad})"
            )
        ifd = struct.unpack(e + "Q", payload[8:16])[0]
        cnt_len, ent_len = 8, 20
    else:
        ifd = struct.unpack(e + "I", payload[4:8])[0]
        cnt_len, ent_len = 2, 12
    if ifd + cnt_len > len(payload):
        raise ValueError("TIFF IFD offset overruns the payload")
    n = struct.unpack(
        e + ("Q" if big else "H"), payload[ifd : ifd + cnt_len]
    )[0]
    if ifd + cnt_len + ent_len * n > len(payload):
        raise ValueError("TIFF IFD entries overrun the payload")
    tags: dict[int, int] = {}
    for i in range(n):
        off = ifd + cnt_len + ent_len * i
        tag, ftype = struct.unpack(e + "HH", payload[off : off + 4])
        if tag in (256, 257, 262, 277):
            # count==1 inline value in the value field (classic: 4
            # bytes at +8; BigTIFF: 8 bytes at +12): SHORT (3) in the
            # first 2, LONG (4) in the first 4, LONG8 (16) in all 8
            v = off + (12 if big else 8)
            if ftype == 3:
                tags[tag] = struct.unpack(e + "H", payload[v : v + 2])[0]
            elif ftype == 4:
                tags[tag] = struct.unpack(e + "I", payload[v : v + 4])[0]
            elif ftype == 16 and big:
                tags[tag] = struct.unpack(e + "Q", payload[v : v + 8])[0]
    if 256 not in tags or 257 not in tags:
        raise ValueError("TIFF IFD lacks ImageWidth/ImageLength tags")
    photo = tags.get(262, 1)
    samples = tags.get(277, 1)
    if photo == 2:
        mode = "RGBA" if samples == 4 else "RGB"
    elif photo == 3:
        mode = "P"
    else:
        mode = "L"
    return tags[256], tags[257], mode


def encode_tiff_header(
    w: int, h: int, photo: int, samples: int, big_endian: bool, use_long: bool
) -> bytes:
    """Minimal spec-shaped TIFF: header + one IFD carrying exactly the
    tags :func:`tiff_dims` reads, dims as SHORT or LONG."""
    import struct

    e = ">" if big_endian else "<"
    ftype, fmt = (4, "I") if use_long else (3, "H")

    def entry(tag: int, value: int) -> bytes:
        raw = struct.pack(e + fmt, value)
        return struct.pack(e + "HHI", tag, ftype, 1) + raw + b"\x00" * (4 - len(raw))

    entries = (
        entry(256, w) + entry(257, h)
        + entry(262, photo) + entry(277, samples)
    )
    ifd = struct.pack(e + "H", 4) + entries + struct.pack(e + "I", 0)
    head = (b"MM" if big_endian else b"II") + struct.pack(e + "HI", 42, 8)
    return head + ifd


def encode_bigtiff_header(
    w: int, h: int, photo: int, samples: int, big_endian: bool, use_long8: bool
) -> bytes:
    """BigTIFF twin of :func:`encode_tiff_header` (late r13): 16-byte
    header (magic 43, offset bytesize 8), 8-byte entry count, 20-byte
    entries, dims as SHORT or LONG8."""
    import struct

    e = ">" if big_endian else "<"
    ftype, fmt = (16, "Q") if use_long8 else (3, "H")

    def entry(tag: int, value: int) -> bytes:
        raw = struct.pack(e + fmt, value)
        return struct.pack(e + "HHQ", tag, ftype, 1) + raw + b"\x00" * (8 - len(raw))

    entries = (
        entry(256, w) + entry(257, h)
        + entry(262, photo) + entry(277, samples)
    )
    ifd = struct.pack(e + "Q", 4) + entries + struct.pack(e + "Q", 0)
    head = (b"MM" if big_endian else b"II") + struct.pack(e + "HHHQ", 43, 8, 0, 16)
    return head + ifd


TIFF_DIMS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_order", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mode", T.StringType()),
    ]
)

# Endianness alternates by doc_id, dims cycle SHORT/LONG encodings,
# and the photometric/samples stripes cover all four mode outcomes.
_TIFF_DIMS_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
       CAST(1 + strlen(text) % 640 AS INT) AS width,
       CAST(1 + (strlen(text) // 7) % 480 AS INT) AS height,
       CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN 'L' WHEN 1 THEN 'RGB' WHEN 2 THEN 'P' ELSE 'RGBA'
       END AS mode
FROM documents
"""


@query("multimodal_tiff_dims", _TIFF_DIMS_ORACLE)
def multimodal_tiff_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only TIFF dims, driver-oracled (r13): per document,
    synthesize a TIFF whose byte order (II/MM), dims tag type
    (SHORT/LONG) and photometric/samples stripes all derive from
    doc_id arithmetic, then parse it back through the
    :func:`image_dims` dispatch — endian-aware IFD walk, inline-value
    tag reads and the mode decision table all under the value hash.
    One mapInPandas stage, synthesis and parse share the executor row,
    no shuffle at any scale (the multimodal_webp_dims shape)."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")

    photo_samples = {0: (1, 1), 1: (2, 3), 2: (3, 1), 3: (2, 4)}

    def _roundtrip(doc_id, text):
        d = int(doc_id)
        n = len(text.encode("utf-8"))
        w, h = 1 + n % 640, 1 + (n // 7) % 480
        photo, samples = photo_samples[d % 4]
        payload = encode_tiff_header(
            w, h, photo, samples,
            big_endian=(d % 2 == 1), use_long=(d % 3 == 0),
        )
        yield doc_id, "MM" if d % 2 else "II", *image_dims(payload)

    return map_rows(base, _roundtrip, TIFF_DIMS_SCHEMA)


# --------------------------------------------------------------------------
# Palette-codec queries: GIF LZW and palette/interlace PNG. Both share
# one fixture and one oracle: width is a multiple of 4 and the palette
# has exactly 4 entries whose RGB bytes are the first 12 ascii-hex chars
# of md5(text); pixel p maps to palette[p % 4], so the decoded stream is
# the 12-char block repeated w*h/4 times — SQL-reconstructable, making
# the md5 prove the whole decode byte-for-byte (dims/mode alone would
# pass on a header-only walk). Both queries are pinned DIRECTLY to the
# pure codecs, not the PIL-preferring dispatch: they verify the codecs.
# --------------------------------------------------------------------------

PIXELS_MD5_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mode", T.StringType()),
        T.StructField("pixels_md5", T.StringType()),
    ]
)

_PALETTE_PIXELS_ORACLE = """
SELECT doc_id,
       CAST(4 * (1 + doc_id % 6) AS INT) AS width,
       CAST(3 + doc_id % 11 AS INT) AS height,
       'RGB' AS mode,
       md5(repeat(substr(md5(text), 1, 12),
                  (4 * (1 + doc_id % 6)) * (3 + doc_id % 11) // 4))
           AS pixels_md5
FROM documents
"""


def _palette_pixels_md5(spark: SparkSession, sf_dir: str, roundtrip) -> DataFrame:
    """Per document, ``roundtrip(doc_id, w, h, idx, pal)`` encodes the
    palette-index stream ``idx`` with the 4-entry palette ``pal`` and
    decodes it back to ``(w, h, mode, rgb)``; the rgb bytes are
    reported as an md5."""
    import hashlib

    docs = catalog.load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        (F.lit(4) * (F.lit(1) + F.col("doc_id") % 6)).cast("int").alias("w"),
        (F.lit(3) + F.col("doc_id") % 11).cast("int").alias("h"),
        F.substring(F.md5(F.col("text")), 1, 12).alias("pal12"),
    )

    def _pixels_md5(doc_id, w, h, pal12):
        w, h = int(w), int(h)
        idx = bytes(p % 4 for p in range(w * h))
        gw, gh, mode, rgb = roundtrip(doc_id, w, h, idx, pal12.encode("ascii"))
        yield doc_id, gw, gh, mode, hashlib.md5(rgb).hexdigest()

    return map_rows(base, _pixels_md5, PIXELS_MD5_SCHEMA)


@query("multimodal_gif_decode", _PALETTE_PIXELS_ORACLE)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF pixel decode with zero native deps: a real GIF89a per
    document — 4-color global palette, real LZW compression, odd
    doc_ids interlaced, every third stream carrying a NETSCAPE
    extension — decoded through :mod:`operators.gif_codec`. One
    mapInPandas stage, no shuffle at any scale."""
    from .gif_codec import decode_gif, encode_gif

    def _roundtrip(doc_id, w, h, idx, pal):
        gif = encode_gif(
            w, h, idx, pal,
            interlace=bool(doc_id % 2),
            loop_extension=(doc_id % 3 == 0),
        )
        return decode_gif(gif)

    return _palette_pixels_md5(spark, sf_dir, _roundtrip)


@query("multimodal_png_palette_decode", _PALETTE_PIXELS_ORACLE)
def multimodal_png_palette_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Palette/interlace PNG decode with zero native deps: a REAL
    colortype-3 bitdepth-2 PNG per document (Adam7 on odd doc_ids,
    cycling scanline filters when doc_id % 5 != 0) decoded through
    :func:`decode_png` — inflate, unfilter, sub-byte unpack,
    deinterlace and palette map all under the md5. One mapInPandas
    stage, no shuffle at any scale."""

    def _roundtrip(doc_id, w, h, idx, pal):
        png = encode_png(
            w, h, idx,
            cycle_filters=(doc_id % 5 != 0),
            colortype=3,
            bitdepth=2,
            palette=pal,
            interlace=bool(doc_id % 2),
        )
        return decode_png(png)

    return _palette_pixels_md5(spark, sf_dir, _roundtrip)


# --------------------------------------------------------------------------
# Container dispatch queries: one query per sniffing dispatch
# (:func:`video_dims`, :func:`audio_info`, :func:`image_dims`). Each
# synthesizes a different container per ``doc_id`` stripe and parses
# it back, so every branch of the dispatch is under one value hash.
# One mapInPandas stage over ``documents``, O(header) per row, no
# shuffle at any scale.
# --------------------------------------------------------------------------

VIDEO_DIMS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("container", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

# Every container stripe encodes duration_ms = 1000 * k with
# k = 1 + strlen % 120, so one expression covers all three branches;
# the container label is the dispatch's own report (ftyp brand / "avi"
# / EBML DocType).
_VIDEO_DIMS_ORACLE = """
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INT)
            WHEN 0 THEN 'isom'
            WHEN 1 THEN 'avi'
            ELSE CASE WHEN strlen(text) % 2 = 0
                      THEN 'webm' ELSE 'matroska' END
       END AS container,
       CAST(1 + strlen(text) % 640 AS INT) AS width,
       CAST(1 + (strlen(text) // 7) % 480 AS INT) AS height,
       CAST(1000 * (1 + strlen(text) % 120) AS BIGINT) AS duration_ms
FROM documents
"""


@query("multimodal_video_dims", _VIDEO_DIMS_ORACLE)
def multimodal_video_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified video dims through :func:`video_dims`: MP4
    (version-0/1 mvhd+tkhd on a length stripe, largesize moov on a
    fifth stripe, leading zero-dims audio trak), AVI (RIFF hdrl walk
    with a JUNK sub-chunk), MKV (webm/matroska DocType, leading audio
    TrackEntry, streamed unknown-size Segment on a third stripe)."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")

    def _dims(doc_id, text):
        doc_id = int(doc_id)
        n = len(text)
        w, h, k = 1 + n % 640, 1 + (n // 7) % 480, 1 + n % 120
        if doc_id % 3 == 0:
            ts = 90_000 if n % 2 else 48_000
            payload = encode_mp4_header(
                "isom", w, h, k * ts, ts,
                version=n % 2, large_moov=(n % 5 == 0),
            )
        elif doc_id % 3 == 1:
            payload = encode_avi_header(w, h, 50 * k, 20_000)
        else:
            payload = encode_mkv_header(
                "webm" if n % 2 == 0 else "matroska",
                w, h, 1000.0 * k,
                unknown_size_segment=(n % 3 == 0),
            )
        yield doc_id, *video_dims(payload)

    return map_rows(base, _dims, VIDEO_DIMS_SCHEMA)


AUDIO_INFO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("codec", T.StringType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
    ]
)

# sample_rate cycles the MPEG-1 Layer-III legal set so ONE stripe
# formula covers every container; channels alternate mono/stereo.
_AUDIO_INFO_ORACLE = """
SELECT doc_id,
       CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN CASE CAST(strlen(text) % 3 AS INT)
                             WHEN 0 THEN 'pcm16'
                             WHEN 1 THEN 'float32'
                             ELSE 'mulaw' END
            WHEN 1 THEN CASE WHEN strlen(text) % 2 = 0
                             THEN 'vorbis' ELSE 'opus' END
            WHEN 2 THEN 'flac'
            ELSE 'mp3'
       END AS codec,
       CAST(1 + strlen(text) % 2 AS INT) AS channels,
       CAST(CASE CAST(strlen(text) % 3 AS INT)
                 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000
            END AS INT) AS sample_rate
FROM documents
"""


@query("multimodal_audio_info", _AUDIO_INFO_ORACLE)
def multimodal_audio_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified audio info through :func:`audio_info`: WAV fmt-chunk
    walk (all three supported tags), OGG Vorbis/Opus identification
    pages, FLAC STREAMINFO bit-unpacking, MP3 frame header behind an
    ID3v2 syncsafe skip."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")

    def _info(doc_id, text):
        doc_id = int(doc_id)
        n = len(text)
        ch = 1 + n % 2
        rate = (44100, 48000, 32000)[n % 3]
        if doc_id % 4 == 0:
            fmt = ("pcm16", "float32", "mulaw")[n % 3]
            payload = encode_wav(rate, [0, 1] * ch, ch, fmt)
        elif doc_id % 4 == 1:
            payload = encode_ogg_id_page("vorbis" if n % 2 == 0 else "opus", ch, rate)
        elif doc_id % 4 == 2:
            payload = encode_flac_header(ch, rate)
        else:
            payload = encode_mp3_header(ch, rate, id3_size=(n % 7) * 3)
        yield doc_id, *audio_info(payload)

    return map_rows(base, _info, AUDIO_INFO_SCHEMA)


IMAGE_DIMS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mode", T.StringType()),
    ]
)

_IMAGE_DIMS_ORACLE = """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 4 = 1
                 THEN CASE WHEN strlen(text) % 9 = 0
                           THEN 256 ELSE 1 + strlen(text) % 255 END
                 ELSE 1 + strlen(text) % 300 END AS INT) AS width,
       CAST(CASE WHEN doc_id % 4 = 1
                 THEN CASE WHEN strlen(text) % 9 = 0
                           THEN 256 ELSE 1 + (strlen(text) // 3) % 255 END
                 ELSE 1 + (strlen(text) // 7) % 200 END AS INT) AS height,
       CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN CASE CAST(strlen(text) % 3 AS INT)
                             WHEN 0 THEN '1' WHEN 1 THEN 'L' ELSE 'RGB' END
            WHEN 1 THEN 'RGBA'
            WHEN 2 THEN CASE CAST(strlen(text) % 3 AS INT)
                             WHEN 0 THEN 'RGB' WHEN 1 THEN 'RGBA' ELSE 'P' END
            ELSE 'RGB'
       END AS mode
FROM documents
"""


def _ico_bytes(w: int, h: int) -> bytes:
    """Two-entry ICONDIR: a 1x1 thumb + the (w, h) primary — the
    largest-entry selection and the 0-means-256 quirk both live in
    the entry bytes (256 encodes as 0)."""
    import struct

    def entry(ew: int, eh: int) -> bytes:
        return struct.pack(
            "<BBBBHHII", ew % 256, eh % 256, 0, 0, 1, 32, 16, 22
        )

    return struct.pack("<HHH", 0, 1, 2) + entry(1, 1) + entry(w, h)


def _bmp_bytes(w: int, h: int, bpp: int, topdown: bool) -> bytes:
    """BITMAPFILEHEADER + BITMAPINFOHEADER (40), no pixel data — the
    dims walk never reads past the header."""
    import struct

    info = struct.pack(
        "<IiiHHIIiiII", 40, w, -h if topdown else h, 1, bpp, 0, 0, 0, 0, 0, 0
    )
    file_hdr = b"BM" + struct.pack("<IHHI", 14 + 40, 0, 0, 14 + 40)
    return file_hdr + info


def _pnm_bytes(kind: int, w: int, h: int) -> bytes:
    """P4/P5 header with a comment line (pnm_dims' token-scan skip
    branch) and a placeholder pixel byte; P6 stays comment-free —
    ``image_dims`` routes ``P6\\n`` to the STRICT ppm parser, which
    per its contract takes the plain ``P6/W H/MAX`` layout only."""
    comment = "" if kind == 6 else "# fixture\n"
    return (
        f"P{kind}\n{comment}{w} {h}\n".encode()
        + (b"" if kind == 4 else b"255\n")
        + b"\x00"
    )


@query("multimodal_image_dims", _IMAGE_DIMS_ORACLE)
def multimodal_image_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only dims through :func:`image_dims` for four families:
    netpbm (comment-tolerant token scan), ICO (largest directory entry
    + 256 quirk on a ninth stripe), BMP (info header, top-down negative
    height on an odd stripe), HEIF/AVIF (ispe walk with a thumbnail
    entry to skip)."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")

    def _dims(doc_id, text):
        doc_id = int(doc_id)
        n = len(text)
        if doc_id % 4 == 1:
            if n % 9 == 0:
                w = h = 256
            else:
                w, h = 1 + n % 255, 1 + (n // 3) % 255
            payload = _ico_bytes(w, h)
        else:
            w, h = 1 + n % 300, 1 + (n // 7) % 200
            if doc_id % 4 == 0:
                payload = _pnm_bytes((4, 5, 6)[n % 3], w, h)
            elif doc_id % 4 == 2:
                payload = _bmp_bytes(w, h, (24, 32, 8)[n % 3], topdown=(n % 2 == 1))
            else:
                payload = encode_heif_header(
                    "heic" if n % 2 == 0 else "avif", [(1, 1), (w, h)]
                )
        yield doc_id, *image_dims(payload)

    return map_rows(base, _dims, IMAGE_DIMS_SCHEMA)
