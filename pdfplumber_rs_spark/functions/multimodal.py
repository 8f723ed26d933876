"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

The Spark side — schemas, per-row functions run through
`pipeline.map_rows` (the package's one Arrow boundary), partitioning —
AND the codec step are real: PNG (stdlib zlib + un-filter), baseline
JPEG (functions/jpeg.py pure-numpy DCT codec), GIF (functions/gif.py
LZW codec), and uncompressed BMP all pixel-decode with no codec
library. Only exotic variants (progressive JPEG, interlaced GIF, RLE
BMP, 16-bit PNG, TIFF…) remain gated behind NotImplementedError, where
Pillow/libvips plug in for production. The `FAKE` magic format
survives for pipeline tests that want fully synthetic grids.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..pipeline import map_rows

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType()),       # image | audio | video
        StructField("mime", StringType()),
        StructField("data", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_s", DoubleType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_bytes", LongType()),
        StructField("sha1", StringType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_luma", DoubleType()),
        StructField("decode_error", StringType()),
    ]
)

FAKE_MAGIC = b"FAKEIMG1"


def parse_image_dimensions(data: bytes) -> tuple[str, int, int] | None:
    """Codec-free container-header parse → (format, width, height).
    PNG IHDR, JPEG SOFn scan, GIF logical-screen descriptor, BMP
    BITMAPINFOHEADER — dimensions need no pixel codec. None when the
    format is unrecognized."""
    if len(data) >= 24 and data[:8] == b"\x89PNG\r\n\x1a\n" \
            and data[12:16] == b"IHDR":
        w, h = struct.unpack(">II", data[16:24])
        return "png", w, h
    if len(data) >= 4 and data[:2] == b"\xff\xd8":  # JPEG SOI
        pos = 2
        n = len(data)
        while pos + 4 <= n:
            if data[pos] != 0xFF:
                pos += 1
                continue
            marker = data[pos + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            seg_len = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
            # SOF0-15 except DHT(C4)/JPG(C8)/DAC(CC) carry dimensions
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if pos + 9 <= n:
                    h, w = struct.unpack(">HH", data[pos + 5 : pos + 9])
                    return "jpeg", w, h
                return None
            pos += 2 + seg_len
        return None
    if len(data) >= 10 and data[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", data[6:10])
        return "gif", w, h
    if len(data) >= 26 and data[:2] == b"BM":
        w, h = struct.unpack("<ii", data[18:26])
        return "bmp", abs(w), abs(h)
    return None


def make_fake_image(media_id: int) -> bytes:
    """Deterministic fake 8x8 'image': FAKEIMG1 + w + h + seeded byte
    grid."""
    seed = hashlib.sha1(str(media_id).encode()).digest()
    body = (seed * (64 // len(seed) + 1))[:64]
    return FAKE_MAGIC + struct.pack("<II", 8, 8) + body


_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color_type -> samples/pixel


def decode_png(data: bytes) -> tuple[int, int, bytes]:
    """Pure-Python PNG pixel decode → (width, height, 8-bit luma bytes).

    No codec library: chunk walk + zlib (stdlib) + the same PNG
    un-filtering the PDF Flate predictor path uses
    (kernel/filters.py:_apply_png_predictor — filter types 0-4 incl.
    Paeth). Supports 8-bit depth, color types 0 (gray), 2 (RGB),
    4 (gray+alpha), 6 (RGBA), interlace 0; color is collapsed to luma
    via integer Rec.601 (299R+587G+114B)/1000. Raises ValueError on
    unsupported variants (16-bit, palette, Adam7) so callers surface a
    decode_error column instead of failing the task."""
    import zlib

    from ..kernel.filters import _apply_png_predictor

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG signature")
    pos = 8
    w = h = None
    depth = ctype = interlace = None
    idat = bytearray()
    n = len(data)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            if len(body) < 13:
                raise ValueError("truncated IHDR")
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body[:13])
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
        pos += 12 + length  # length + tag + crc
    if w is None:
        raise ValueError("missing IHDR")
    if depth != 8:
        raise ValueError(f"unsupported bit depth {depth}")
    if ctype not in _PNG_CHANNELS:
        raise ValueError(f"unsupported color type {ctype} (palette?)")
    if interlace != 0:
        raise ValueError("Adam7 interlace unsupported")
    ch = _PNG_CHANNELS[ctype]
    if w == 0 or h == 0 or w * h > 100_000_000:
        raise ValueError("bad PNG dimensions")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt IDAT: {e}") from e
    expect = h * (1 + w * ch)
    if len(raw) < expect:
        raise ValueError(f"truncated IDAT ({len(raw)} < {expect})")
    px = _apply_png_predictor(raw[:expect], ch, 8, w, h * w * ch)
    arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch)
    if ctype == 0:
        luma = arr[:, :, 0]
    elif ctype == 4:
        luma = arr[:, :, 0]  # gray+alpha: luma is channel 0
    else:  # RGB / RGBA -> integer Rec.601
        a32 = arr[:, :, :3].astype(np.uint32)
        luma = ((299 * a32[:, :, 0] + 587 * a32[:, :, 1]
                 + 114 * a32[:, :, 2]) // 1000).astype(np.uint8)
    return int(w), int(h), luma.tobytes()


def encode_png_gray(width: int, height: int, pixels: bytes) -> bytes:
    """8-bit grayscale PNG writer (filter 0 rows, stdlib zlib) — the
    re-encode half of the codec-free PNG path."""
    import zlib

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + pixels[y * width : (y + 1) * width] for y in range(height)
    )
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))


def decode_image(data: bytes) -> tuple[int, int, bytes]:
    """Decode to (width, height, 8-bit luma bytes). Real paths — all
    pure Python/numpy, no codec library: PNG (decode_png), baseline
    JPEG (functions/jpeg.py), GIF LZW (functions/gif.py), uncompressed
    BMP (decode_bmp). FAKE test format decodes its own grid. Exotic
    variants (progressive/subsampled JPEG, interlaced GIF, RLE BMP,
    16-bit PNG) raise NotImplementedError — plug Pillow/libvips there
    in production."""
    if data[:8] == FAKE_MAGIC:
        w, h = struct.unpack("<II", data[8:16])
        return w, h, data[16 : 16 + w * h]
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(data)
    if data[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        return decode_jpeg(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        from .gif import decode_gif

        return decode_gif(data)
    if data[:2] == b"BM":
        return decode_bmp(data)
    raise NotImplementedError(
        "unrecognized image codec; plug Pillow/libvips here in production"
    )


def _decode_error(e: Exception) -> str:
    """The decode_error column of a failed decode."""
    if isinstance(e, NotImplementedError):
        return f"unsupported codec: {e}"
    return f"corrupt: {e}"


def _feature_rows(media_id: int, data: bytes | None):
    data = data or b""
    row = {"media_id": media_id, "n_bytes": len(data),
           "sha1": hashlib.sha1(data).hexdigest()}
    dims = parse_image_dimensions(data)
    if dims is not None:
        row["format"], row["width"], row["height"] = dims
    try:
        w, h, px = decode_image(data)
        if dims is None:
            row["format"], row["width"], row["height"] = "fake", int(w), int(h)
        row["mean_luma"] = round(sum(px) / max(len(px), 1) / 255.0, 6)
    except Exception as e:  # noqa: BLE001
        row["decode_error"] = _decode_error(e)
    yield row


def image_features(df: DataFrame) -> DataFrame:
    """Per-row feature extraction over binary media columns; errors
    become a column, not task failures. PNG, baseline JPEG, GIF and
    BMP rows get format + dimensions from codec-free header parsing and
    a REAL pixel decode (pure Python, no codec library) → mean_luma;
    the FAKE test format decodes its own grid."""
    return map_rows(df.select("media_id", "data"), _feature_rows,
                    FEATURE_SCHEMA)


DHASH_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("format", StringType()),
    StructField("dhash_hi", LongType()),
    StructField("dhash_lo", LongType()),
    StructField("decode_error", StringType()),
])


def _dhash_rows(media_id: int, data: bytes | None):
    data = data or b""
    dims = parse_image_dimensions(data)
    row = {"media_id": media_id, "format": dims and dims[0]}
    try:
        w, h, px = decode_image(data)
        a = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
        g = a[(np.arange(8) * h) // 8][:, (np.arange(9) * w) // 9]
        bits = np.packbits(g[:, :-1] > g[:, 1:])  # 8×8, MSB-first
        row["dhash_hi"] = int.from_bytes(bits[:4].tobytes(), "big")
        row["dhash_lo"] = int.from_bytes(bits[4:].tobytes(), "big")
    except Exception as e:  # noqa: BLE001
        row["decode_error"] = _decode_error(e)
    yield row


def image_dhash(df: DataFrame) -> DataFrame:
    """Difference-hash (dHash) image fingerprint — the standard
    perceptual key for near-duplicate IMAGE dedup in multimodal
    training corpora: decode to grayscale (real PNG/JPEG/GIF/BMP
    codecs, functions/{multimodal,jpeg,gif}.py), nearest-neighbor
    subsample onto a 9×8 grid (source index sr=(r·h)//8, sc=(c·w)//9),
    bit (r,c) = px[r][c] > px[r][c+1], packed row-major MSB-first into
    two 32-bit halves (dhash_hi = rows 0-3, dhash_lo = rows 4-7; both
    fit signed 64 for the SQL oracle). Near-identical crops/re-encodes
    differ in a few bits — band the halves exactly like
    dedup.simhash_candidates for the candidate join.

    Per-row map, no shuffle; corrupt bytes degrade to a decode_error
    row. Returns (media_id, format, dhash_hi, dhash_lo, decode_error)."""
    return map_rows(df.select("media_id", "data"), _dhash_rows,
                    DHASH_SCHEMA)


def dhash_dedup(hashes: DataFrame) -> DataFrame:
    """Near-duplicate IMAGE removal over dHash fingerprints: band the
    64-bit hash into four 16-bit chunks — any pair within Hamming
    distance 3 shares at least one identical band (pigeonhole, the
    same recall contract as dedup.simhash_candidates) — and per
    (band, key) bucket keep the min-id representative; an image's
    keep_id is the min representative over its bands. LINEAR in
    bucket size (a crawl's 10^6 identical thumbnails cost 10^6 rows,
    never 5·10^11 pairs — flat/solid-color images all hash to 0 and
    WOULD meet in one mega-bucket, the exact case pair enumeration
    melts down on). Single-pass union semantics like minhash_dedup.

    Input: image_dhash output (media_id, dhash_hi, dhash_lo). Returns
    (media_id, keep_id) for images to drop."""
    bands = hashes.select(
        F.col("media_id"),
        F.explode(F.array(
            F.struct(F.lit(0).alias("band"),
                     F.shiftright("dhash_hi", 16).alias("key")),
            F.struct(F.lit(1).alias("band"),
                     F.col("dhash_hi").bitwiseAND(0xFFFF).alias("key")),
            F.struct(F.lit(2).alias("band"),
                     F.shiftright("dhash_lo", 16).alias("key")),
            F.struct(F.lit(3).alias("band"),
                     F.col("dhash_lo").bitwiseAND(0xFFFF).alias("key")),
        )).alias("bk"),
    ).select("media_id", "bk.band", "bk.key")
    # window representative instead of agg + self-join: the join's two
    # branches re-ran the upstream lineage (for image_dedup that means
    # DECODING EVERY IMAGE TWICE) — round-6, same fix as minhash_dedup;
    # values identical, still linear in bucket size
    from pyspark.sql import Window

    rep = F.min("media_id").over(Window.partitionBy("band", "key"))
    return (
        bands.withColumn("rep", rep)
        .groupBy("media_id")
        .agg(F.min("rep").alias("keep_id"))
        .filter(F.col("keep_id") < F.col("media_id"))
    )


def make_png(width: int, height: int, seed: int = 0) -> bytes:
    """Deterministic REAL PNG (8-bit grayscale, zlib-compressed) for
    fixtures — valid per the PNG spec, no image library involved."""
    import zlib

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + bytes(((seed + y * width + x) * 31) % 256
                        for x in range(width))
        for y in range(height)
    )
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))


def make_jpeg_header(width: int, height: int) -> bytes:
    """Deterministic JPEG container with a valid SOF0 segment (enough
    for header-dimension parsing; not a decodable image)."""
    sof = struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00"
    return (b"\xff\xd8"
            + b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
            + b"\xff\xd9")


def make_bmp_gray(width: int, height: int, pixels: bytes) -> bytes:
    """Real 8-bit palettized BMP (BITMAPINFOHEADER, BI_RGB, bottom-up
    4-byte-padded rows, gray palette)."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer size mismatch")
    stride = (width + 3) & ~3
    offset = 14 + 40 + 256 * 4
    img_size = stride * height
    out = bytearray()
    out += b"BM" + struct.pack("<IHHI", offset + img_size, 0, 0, offset)
    out += struct.pack("<IiiHHIIiiII", 40, width, height, 1, 8, 0,
                       img_size, 2835, 2835, 256, 0)
    for i in range(256):
        out += bytes((i, i, i, 0))
    pad = b"\x00" * (stride - width)
    for y in range(height - 1, -1, -1):
        out += pixels[y * width:(y + 1) * width] + pad
    return bytes(out)


def decode_bmp(data: bytes) -> tuple[int, int, bytes]:
    """Decode an uncompressed (BI_RGB) BITMAPINFOHEADER BMP to 8-bit
    luma: 8-bit palettized (palette → integer 601 luma, exact for gray
    palettes) or 24-bit BGR. RLE/16/32-bit raise NotImplementedError."""
    if data[:2] != b"BM" or len(data) < 54:
        raise ValueError("not a BMP")
    offset = struct.unpack("<I", data[10:14])[0]
    hdr_size = struct.unpack("<I", data[14:18])[0]
    if hdr_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMP")
    w, h = struct.unpack("<ii", data[18:26])
    bpp = struct.unpack("<H", data[28:30])[0]
    compression = struct.unpack("<I", data[30:34])[0]
    if compression != 0:
        raise NotImplementedError("compressed BMP")
    top_down = h < 0
    h = abs(h)
    if w <= 0 or h <= 0 or w * h > 100_000_000:
        raise ValueError("bad BMP dimensions")
    luma = bytearray(w * h)
    if bpp == 8:
        n_colors = struct.unpack("<I", data[46:50])[0] or 256
        pal_off = 14 + hdr_size
        pal = data[pal_off:pal_off + 4 * n_colors]
        if len(pal) != 4 * n_colors:
            raise ValueError("truncated palette")
        lut = [(299 * pal[4 * i + 2] + 587 * pal[4 * i + 1]
                + 114 * pal[4 * i] + 500) // 1000 for i in range(n_colors)]
        stride = (w + 3) & ~3
        for row in range(h):
            src = offset + row * stride
            line = data[src:src + w]
            if len(line) != w:
                raise ValueError("truncated pixel data")
            y = row if top_down else h - 1 - row
            for x, idx in enumerate(line):
                if idx >= n_colors:
                    raise ValueError("palette index out of range")
                luma[y * w + x] = lut[idx]
    elif bpp == 24:
        stride = (3 * w + 3) & ~3
        for row in range(h):
            src = offset + row * stride
            line = data[src:src + 3 * w]
            if len(line) != 3 * w:
                raise ValueError("truncated pixel data")
            y = row if top_down else h - 1 - row
            for x in range(w):
                b, g, r = line[3 * x:3 * x + 3]
                luma[y * w + x] = (299 * r + 587 * g + 114 * b + 500) // 1000
    else:
        raise NotImplementedError(f"{bpp}-bit BMP")
    return w, h, bytes(luma)


def make_jpeg_flat(width: int, height: int, value: int) -> bytes:
    """REAL baseline JPEG of one flat gray `value` (functions/jpeg.py
    encoder, standard tables). `value` must be even: the flat block's
    only nonzero coefficient is DC = 8·(value−128), and with the
    Annex-K DC quantizer of 16 the quantized value (value−128)/2 is an
    exact integer — so decode reproduces `value` per pixel EXACTLY,
    which is what lets a lossy codec sit under a closed-form oracle."""
    if value % 2:
        raise ValueError("flat value must be even for exact roundtrip")
    from .jpeg import encode_jpeg_gray

    return encode_jpeg_gray(width, height,
                            bytes([value]) * (width * height))


def make_gif_header(width: int, height: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", width, height) + b"\x00\x00\x00;"


def parse_av_meta(data: bytes) -> dict | None:
    """Codec-free audio/video container metadata: WAV RIFF (fmt/data
    chunks → channels, sample rate, sample count) and MP4 (moov/mvhd →
    timescale, duration units). None when unrecognized. `rate` is the
    WAV sample rate or the MP4 timescale; `n_units` the sample count or
    mvhd duration — exact integers, no float duration math."""
    if len(data) >= 12 and data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        pos = 12
        ch = rate = bits = None
        data_size = None
        while pos + 8 <= len(data):
            tag = data[pos : pos + 4]
            size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
            body = data[pos + 8 : pos + 8 + size]
            if tag == b"fmt " and len(body) >= 16:
                _f, ch, rate, _br, _ba, bits = struct.unpack("<HHIIHH", body[:16])
            elif tag == b"data":
                data_size = size
            pos += 8 + size + (size & 1)  # chunks are word-aligned
        if rate:
            n = None
            if data_size is not None and ch and bits:
                n = data_size // (ch * bits // 8)
            return {"kind": "audio", "rate": int(rate), "n_units": n,
                    "channels": int(ch) if ch else None}
    if len(data) >= 12 and data[4:8] == b"ftyp":
        pos = 0
        while pos + 8 <= len(data):
            size = struct.unpack(">I", data[pos : pos + 4])[0]
            tag = data[pos + 4 : pos + 8]
            if tag == b"moov":
                inner = data[pos + 8 : pos + max(size, 8)]
                q = 0
                while q + 8 <= len(inner):
                    isz = struct.unpack(">I", inner[q : q + 4])[0]
                    if inner[q + 4 : q + 8] == b"mvhd" and q + 28 <= len(inner):
                        ver = inner[q + 8]
                        if ver == 0:
                            ts, dur = struct.unpack(">II", inner[q + 20 : q + 28])
                        elif q + 40 <= len(inner):
                            ts = struct.unpack(">I", inner[q + 28 : q + 32])[0]
                            dur = struct.unpack(">Q", inner[q + 32 : q + 40])[0]
                        else:
                            break
                        return {"kind": "video", "rate": int(ts),
                                "n_units": int(dur), "channels": None}
                    q += max(isz, 8)
            pos += max(size, 8)
    return None


def make_wav(sample_rate: int, channels: int, n_samples: int) -> bytes:
    """Deterministic valid 16-bit PCM WAV container (silence payload)."""
    frame = channels * 2
    payload = b"\x00" * (n_samples * frame)
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate,
                      sample_rate * frame, frame, 16)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(payload)) + payload)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def make_mp4_header(timescale: int, duration: int) -> bytes:
    """Deterministic minimal MP4: ftyp + moov/mvhd(v0) — enough for
    codec-free duration metadata, not a playable file."""
    mvhd = (b"\x00\x00\x00\x00"            # version+flags
            + struct.pack(">II", 0, 0)       # ctime mtime
            + struct.pack(">II", timescale, duration)
            + b"\x00" * 80)                  # rate/volume/matrix/next_track
    mvhd_box = struct.pack(">I", 8 + len(mvhd)) + b"mvhd" + mvhd
    moov = struct.pack(">I", 8 + len(mvhd_box)) + b"moov" + mvhd_box
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + struct.pack(">I", 512)
    return ftyp + moov


AV_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType()),
        StructField("rate", LongType()),
        StructField("n_units", LongType()),
        StructField("channels", IntegerType()),
        StructField("parse_error", StringType()),
    ]
)


def _av_rows(media_id: int, data: bytes | None):
    row = {"media_id": media_id}
    try:
        meta = parse_av_meta(data or b"")
        if meta is None:
            row["parse_error"] = "unrecognized container"
        else:
            row.update(meta)
    except Exception as e:  # noqa: BLE001
        row["parse_error"] = f"corrupt: {e}"
    yield row


def av_features(df: DataFrame) -> DataFrame:
    """Per-row audio/video metadata over binary columns (WAV / MP4
    headers; codec-free). Errors become a column, never task
    failures — the poison-doc rule that matters at 10^12 rows."""
    return map_rows(df.select("media_id", "data"), _av_rows,
                    AV_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("data", BinaryType()),
        StructField("resize_error", StringType()),
    ]
)


def _resized(data: bytes, max_side: int) -> bytes:
    """`data` decoded, nearest-neighbor scaled so its longer side is at
    most `max_side`, and re-encoded in its own format."""
    w, h, px = decode_image(data)
    scale = max(w, h) / max_side if max(w, h) > max_side else 1.0
    nw, nh = max(int(w / scale), 1), max(int(h / scale), 1)
    arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
    ys = np.minimum((np.arange(nh) * scale).astype(np.int64), h - 1)
    xs = np.minimum((np.arange(nw) * scale).astype(np.int64), w - 1)
    npx = arr[np.ix_(ys, xs)].tobytes()
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return encode_png_gray(nw, nh, npx)
    if data[:2] == b"\xff\xd8":
        from .jpeg import encode_jpeg_gray

        return encode_jpeg_gray(nw, nh, npx)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        from .gif import make_gif_gray

        return make_gif_gray(nw, nh, npx)
    if data[:2] == b"BM":
        return make_bmp_gray(nw, nh, npx)
    return FAKE_MAGIC + struct.pack("<II", nw, nh) + npx


def _resize_rows(media_id: int, data: bytes | None, *, max_side: int):
    try:
        yield {"media_id": media_id, "data": _resized(data or b"", max_side)}
    except Exception as e:  # noqa: BLE001
        yield {"media_id": media_id, "resize_error": str(e)}


def resize_images(df: DataFrame, max_side: int) -> DataFrame:
    """Nearest-neighbor resize over binary image columns: PNG, baseline
    JPEG, GIF, and BMP all decode and re-encode in their own REAL
    format (decode_png / functions/jpeg.py / functions/gif.py /
    make_bmp_gray); the FAKE test format round-trips its own container.
    Unrecognized or corrupt bytes surface a resize_error row.
    Vectorized per image via numpy index grids — no per-pixel Python
    loop."""
    return map_rows(df.select("media_id", "data"), _resize_rows,
                    RESIZE_SCHEMA, max_side=max_side)


def frame_sample_plan(df: DataFrame) -> DataFrame:
    """Video frame-sampling plan (Spark-native, no decode): explode a
    one-frame-per-second timestamp grid per media row from its duration
    metadata."""
    n_frames = F.greatest(
        F.ceil(F.col("duration_s") / F.lit(1.0)), F.lit(1)
    ).cast("int")
    return (
        df.select(
            F.col("media_id"),
            F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
        )
        .select(
            "media_id",
            (F.col("frame_idx") * F.lit(1.0)).alias("sample_ts"),
        )
    )


def sniff_content(data: Column) -> Column:
    """Magic-byte content router — the post-fetch dispatch of a crawl
    pipeline (send bytes to the PDF kernel / image decoders / AV
    parsers / HTML stripper without trusting Content-Type headers).
    Pure Column expressions over hex prefixes: whole-stage codegen,
    no shuffle, no Python. Returns pdf|png|jpeg|gif|bmp|wav|mp4|warc|
    html|unknown."""
    hx = F.hex(F.substring(data, 1, 12))
    head = F.substring(data.cast("string"), 1, 256)
    return (
        F.when(hx.startswith("255044462D"), F.lit("pdf"))          # %PDF-
        .when(hx.startswith("89504E470D0A1A0A"), F.lit("png"))
        .when(hx.startswith("FFD8"), F.lit("jpeg"))
        .when(hx.startswith("474946383761"), F.lit("gif"))         # GIF87a
        .when(hx.startswith("474946383961"), F.lit("gif"))         # GIF89a
        .when(hx.startswith("424D"), F.lit("bmp"))
        .when(hx.startswith("52494646")                            # RIFF…WAVE
              & (F.hex(F.substring(data, 9, 4)) == "57415645"),
              F.lit("wav"))
        .when(F.hex(F.substring(data, 5, 4)) == "66747970",        # ....ftyp
              F.lit("mp4"))
        .when(hx.startswith("574152432F"), F.lit("warc"))          # WARC/
        .when(F.lower(head).rlike(r"^\s*(<!doctype html|<html)"),
              F.lit("html"))
        .otherwise(F.lit("unknown"))
    )
