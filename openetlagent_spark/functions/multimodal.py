"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed by Arrow-batched ``mapInPandas`` stages.

There is one DECODE path, the built-in pure-Python codecs, with no
dependency: BMP (24/32-bit BI_RGB), PNM (P5 grayscale / P6 RGB), PNG
(8-bit non-interlaced, all color types and row filters, via stdlib
zlib), JPEG (baseline and progressive), WAV (RIFF PCM 8/16-bit) and
Y4M video.  Decode is TOTAL: corrupt, truncated or unsupported
payloads (any other format) yield the zero feature vector, or zero
frame rows, instead of failing the task — at 100 TB one bad crawl
byte must never abort the job.  ``strict=True`` turns an undecodable
non-empty payload into a loud task error instead.

Everything else — the media struct schema, batch iteration, partition
sizing, feature schemas — is the production shape: at 100 TB these run
as embarrassingly parallel mapInPandas stages over binary columns, with
``spark.sql.files.maxPartitionBytes`` controlling scan granularity and
no shuffle anywhere.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Literal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

# Typed metadata accompanying an opaque payload.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("frame_payload", T.BinaryType()),
    ]
)


# --- built-in pure-Python codecs (uncompressed formats) ---------------
#
# BMP (BITMAPINFOHEADER, BI_RGB 24/32-bit) and PNM (P5/P6, maxval 255)
# need no external library: fixed headers plus raw samples.  Grayscale
# conversion uses the ITU-R 601-2 integer luma (299R+587G+114B)//1000 —
# exact for R=G=B payloads (the encoder below), deterministic for all.

_BMP_HEADER_BYTES = 54  # 14-byte file header + 40-byte BITMAPINFOHEADER


def encode_gray_bmp(pixels: np.ndarray) -> bytes:
    """(h, w) uint8 grayscale → 24-bit uncompressed BMP (R=G=B), the
    canonical payload format for the in-repo media pipeline.  Empty
    input → b'' (no media)."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 2:
        raise ValueError(f"encode_gray_bmp expects (h, w), got shape {arr.shape}")
    h, w = arr.shape
    if h == 0 or w == 0:
        return b""
    stride = (w * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    img_size = stride * h
    file_size = _BMP_HEADER_BYTES + img_size
    header = (
        b"BM"
        + file_size.to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + _BMP_HEADER_BYTES.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)  # positive: bottom-up
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")  # BI_RGB
        + img_size.to_bytes(4, "little")
        + (0).to_bytes(4, "little") * 4
    )
    rows = np.repeat(arr, 3, axis=1)  # B G R, equal channels
    if stride > w * 3:
        rows = np.hstack([rows, np.zeros((h, stride - w * 3), dtype=np.uint8)])
    return header + rows[::-1].tobytes()  # bottom-up row order


def _decode_bmp(payload: bytes) -> np.ndarray | None:
    """Uncompressed BI_RGB 24/32-bit BMP → (h, w) uint8 grayscale, or
    None if the payload is not a decodable BMP."""
    try:
        if len(payload) < _BMP_HEADER_BYTES or payload[:2] != b"BM":
            return None
        data_off = int.from_bytes(payload[10:14], "little")
        hdr_size = int.from_bytes(payload[14:18], "little")
        if hdr_size < 40:
            return None
        w = int.from_bytes(payload[18:22], "little", signed=True)
        h = int.from_bytes(payload[22:26], "little", signed=True)
        bpp = int.from_bytes(payload[28:30], "little")
        compression = int.from_bytes(payload[30:34], "little")
        if compression != 0 or bpp not in (24, 32) or w <= 0 or h == 0:
            return None
        bottom_up = h > 0
        h = abs(h)
        nch = bpp // 8
        stride = (w * nch + 3) & ~3
        end = data_off + stride * h
        if data_off < _BMP_HEADER_BYTES or end > len(payload):
            return None
        raw = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=data_off)
        rows = raw.reshape(h, stride)[:, : w * nch].reshape(h, w, nch)
        if bottom_up:
            rows = rows[::-1]
        b = rows[:, :, 0].astype(np.int64)
        g = rows[:, :, 1].astype(np.int64)
        r = rows[:, :, 2].astype(np.int64)
        return ((r * 299 + g * 587 + b * 114) // 1000).astype(np.uint8)
    except Exception:
        return None


def encode_gray_pgm(pixels: np.ndarray) -> bytes:
    """(h, w) uint8 grayscale → binary PGM (P5, maxval 255)."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 2:
        raise ValueError(f"encode_gray_pgm expects (h, w), got shape {arr.shape}")
    h, w = arr.shape
    if h == 0 or w == 0:
        return b""
    return f"P5\n{w} {h}\n255\n".encode("ascii") + arr.tobytes()


def _decode_pnm(payload: bytes) -> np.ndarray | None:
    """Binary PNM (P5 gray / P6 RGB, maxval ≤ 255) → (h, w) uint8
    grayscale, or None if not a decodable PNM.  Samples at maxval <
    255 rescale to full range (``(v·255) // maxval`` — integer,
    deterministic), and the single byte after maxval must be
    whitespace (a comment or junk there is a malformed header →
    None, never a mis-read raster)."""
    try:
        magic = payload[:2]
        if magic not in (b"P5", b"P6"):
            return None
        # header: magic, width, height, maxval as whitespace-separated
        # tokens; '#' comments run to end-of-line
        tokens: list[int] = []
        i = 2
        while len(tokens) < 3 and i < len(payload):
            c = payload[i : i + 1]
            if c == b"#":
                while i < len(payload) and payload[i : i + 1] != b"\n":
                    i += 1
            elif c.isspace():
                i += 1
            elif c.isdigit():
                j = i
                while j < len(payload) and payload[j : j + 1].isdigit():
                    j += 1
                tokens.append(int(payload[i:j]))
                i = j
            else:
                return None
        if len(tokens) < 3 or i >= len(payload):
            return None
        w, h, maxval = tokens
        if w <= 0 or h <= 0 or not (0 < maxval <= 255):
            return None
        if not payload[i : i + 1].isspace():
            return None  # exactly ONE whitespace byte before the raster
        i += 1
        nch = 1 if magic == b"P5" else 3
        n = w * h * nch
        if i + n > len(payload):
            return None
        raw = np.frombuffer(payload, dtype=np.uint8, count=n, offset=i)
        if maxval != 255:
            # clamp before the uint8 cast: a (malformed but tolerated)
            # sample above maxval must saturate at white, not wrap
            # modulo 256 into arbitrary intensities
            raw = np.minimum(
                (raw.astype(np.int64) * 255) // maxval, 255
            ).astype(np.uint8)
        if nch == 1:
            return raw.reshape(h, w).copy()
        rgb = raw.reshape(h, w, 3).astype(np.int64)
        return (
            (rgb[:, :, 0] * 299 + rgb[:, :, 1] * 587 + rgb[:, :, 2] * 114) // 1000
        ).astype(np.uint8)
    except Exception:
        return None


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_gray_png(pixels: np.ndarray) -> bytes:
    """(h, w) uint8 grayscale → PNG (color type 0, bit depth 8,
    non-interlaced, filter 0 on every row), IDAT as STORED zlib blocks.

    Stored blocks make the encoding a pure function of the raster with
    a CLOSED-FORM byte length — ``raw = h·(w+1)`` filter-prefixed
    bytes, ``zlib = 2 + 5·⌈raw/65535⌉ + raw + 4``, total = 8 (sig) +
    25 (IHDR) + 12 + zlib (IDAT) + 12 (IEND) — so SQL oracles can
    derive ``n_bytes`` without modeling a compressor, while the file
    stays a fully standard PNG any decoder reads.  Empty input → b''
    (no media)."""
    import struct
    import zlib

    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 2:
        raise ValueError(f"encode_gray_png expects (h, w), got shape {arr.shape}")
    h, w = arr.shape
    if h == 0 or w == 0:
        return b""
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    body = bytearray(b"\x78\x01")  # 32K window, fastest — ignored for stored
    for off in range(0, len(raw), 65535):
        block = raw[off : off + 65535]
        final = 1 if off + 65535 >= len(raw) else 0
        body += (
            bytes([final])
            + len(block).to_bytes(2, "little")
            + (len(block) ^ 0xFFFF).to_bytes(2, "little")
            + block
        )
    body += zlib.adler32(raw).to_bytes(4, "big")

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big")
            + typ
            + data
            + zlib.crc32(typ + data).to_bytes(4, "big")
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", bytes(body)) + chunk(b"IEND", b"")


def _decode_png(payload: bytes) -> np.ndarray | None:
    """PNG → (h, w) uint8 grayscale via stdlib zlib, or None if not a
    decodable PNG.  Covers the dominant web format in-sandbox: 8-bit
    depth, non-interlaced, color types 0 (gray), 2 (RGB), 3 (palette),
    4 (gray+alpha), 6 (RGBA), ALL five row filters (None/Sub/Up/
    Average/Paeth).  16-bit depth and Adam7 interlacing return None
    (undecodable).  Color converts through the
    same ITU-R 601-2 integer luma as the BMP/PNM codecs; alpha is
    ignored (features describe the raster, not compositing).  Sub/
    Average/Paeth rows unfilter sequentially per byte — inherent to
    the filter recurrence; our own encoder emits filter 0 rows, which
    stay fully vectorized."""
    import zlib

    try:
        if not payload.startswith(_PNG_SIG):
            return None
        ihdr: bytes | None = None
        plte: bytes | None = None
        idat: list[bytes] = []
        i, n = 8, len(payload)
        while i + 8 <= n:
            ln = int.from_bytes(payload[i : i + 4], "big")
            typ = payload[i + 4 : i + 8]
            if i + 12 + ln > n:
                return None  # truncated chunk
            data = payload[i + 8 : i + 8 + ln]
            if typ == b"IHDR":
                ihdr = data
            elif typ == b"PLTE":
                plte = data
            elif typ == b"IDAT":
                idat.append(data)
            elif typ == b"IEND":
                break
            i += 12 + ln
        if ihdr is None or len(ihdr) != 13 or not idat:
            return None
        w = int.from_bytes(ihdr[0:4], "big")
        h = int.from_bytes(ihdr[4:8], "big")
        depth, ctype, comp, filt, interlace = ihdr[8:13]
        if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
            return None
        nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
        if nch is None or w <= 0 or h <= 0:
            return None
        if ctype == 3 and (plte is None or len(plte) == 0 or len(plte) % 3):
            return None
        stride = w * nch
        expect = h * (1 + stride)
        # BOUNDED inflate: a decompression-bomb IDAT (tiny declared
        # dims, huge inflation ratio) must fail the size check, not
        # OOM the worker — totality means surviving hostile bytes too
        d = zlib.decompressobj()
        raw = d.decompress(b"".join(idat), expect + 1)
        if len(raw) != expect or d.decompress(b"", 1):
            return None
        if not d.eof and d.unconsumed_tail:
            return None
        out = np.zeros((h, stride), dtype=np.uint8)
        prev = np.zeros(stride, dtype=np.int64)
        pos = 0
        for y in range(h):
            ftype = raw[pos]
            pos += 1
            line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos).astype(
                np.int64
            )
            pos += stride
            if ftype == 0:
                cur = line
            elif ftype == 2:  # Up — vectorizes (depends only on prev row)
                cur = (line + prev) % 256
            elif ftype in (1, 3, 4):  # Sub / Average / Paeth — sequential
                cur = np.zeros(stride, dtype=np.int64)
                for x in range(stride):
                    a = int(cur[x - nch]) if x >= nch else 0
                    b = int(prev[x])
                    if ftype == 1:
                        pred = a
                    elif ftype == 3:
                        pred = (a + b) // 2
                    else:
                        c = int(prev[x - nch]) if x >= nch else 0
                        p = a + b - c
                        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                        pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[x] = (int(line[x]) + pred) % 256
            else:
                return None
            out[y] = cur.astype(np.uint8)
            prev = cur
        if ctype == 0:
            return out.copy()
        if ctype == 4:
            return out.reshape(h, w, 2)[:, :, 0].copy()
        if ctype == 3:
            pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3).astype(np.int64)
            idx = out
            if int(idx.max(initial=0)) >= len(pal):
                return None
            rgb = pal[idx]
        else:
            rgb = out.reshape(h, w, nch)[:, :, :3].astype(np.int64)
        return (
            (rgb[:, :, 0] * 299 + rgb[:, :, 1] * 587 + rgb[:, :, 2] * 114) // 1000
        ).astype(np.uint8)
    except Exception:
        return None


# --- JPEG: baseline JFIF, pure numpy + stdlib --------------------------
#
# The remaining dominant web image format, decoded in-sandbox: a GENERAL
# baseline decoder (SOF0/SOF1, 8-bit, grayscale or interleaved
# multi-component scans with arbitrary sampling factors, DRI/RSTn
# restart intervals, FF00 byte unstuffing, canonical DHT huffman tables
# read from the stream) — huffman entropy decode, dequantize, inverse
# zigzag, separable float64 iDCT, +128 level shift.  The grayscale
# output is the LUMA PLANE (the first SOF component) directly — JPEG
# stores luma natively, so no chroma upsample/convert is needed for
# intensity features; chroma blocks are still entropy-decoded (the
# bitstream interleaves them) but skip the iDCT.  PROGRESSIVE (SOF2)
# files — the dominant real-web variant — decode through the dedicated
# multi-scan decoder (_decode_jpeg_progressive: full Annex G spectral
# selection + successive approximation, EOBn run lengths, refinement
# scans, restarts).  Arithmetic-coded, 12-bit, lossless, and
# hierarchical files return None (undecodable).
# Totality contract as the other codecs: hostile/truncated bytes →
# None, never a raised task error.
#
# The matching encoder emits FLAT-BLOCK grayscale baseline JFIF: every
# 8×8 block is a single constant value, i.e. DC-only coefficient blocks
# (DC = 8·(v−128) with an all-ones quantization table, exact in the
# huffman integer domain), so decode(encode(x)) is an EXACT round-trip
# — the iDCT of a DC-only block is mathematically flat, and the ≤2⁻⁴⁶
# float64 basis error vanishes under the final round().  That keeps
# JPEG pipelines byte-derivable for SQL oracles exactly like the
# BMP/PNG stored-block encoders, while the decoder exercises the full
# standard path (the tests drive its AC/ZRL/EOB, restart, and
# subsampled multi-component branches through _encode_jpeg_coeffs).

# Zigzag scan: raster index of each of the 64 zigzag positions.
_JPEG_ZZ = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K.3 typical huffman tables (luminance) — written into DHT by the
# encoder; the decoder always builds its tables from the stream.
_JPEG_DC_BITS = bytes(
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
)
_JPEG_DC_VALS = bytes(range(12))
_JPEG_AC_BITS = bytes(
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
)
_JPEG_AC_VALS = bytes(
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ]
)


def _jpeg_idct_basis() -> np.ndarray:
    """Orthonormal 8-point DCT basis A with A[u, x] = ½·C(u)·cos((2x+1)uπ/16),
    C(0)=1/√2 else 1 — iDCT of coefficient block F is Aᵀ·F·A."""
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    a = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    a[0, :] *= 1.0 / np.sqrt(2.0)
    return a


_JPEG_A = _jpeg_idct_basis()


class _JpegErr(Exception):
    pass


from functools import lru_cache


@lru_cache(maxsize=64)
def _jpeg_huff_lut(bits: bytes, vals: bytes) -> list[int]:
    """Canonical huffman table → 16-bit-prefix LUT as a plain Python
    list: entry v is ``(symbol << 5) | code_length`` for the code whose
    bits prefix the 16-bit window v, or −1 for an invalid prefix.  One
    numpy slice-fill per code keeps construction O(codes), then a
    single ``tolist()``: the decode loop is pure-Python int arithmetic,
    and CPython list indexing beats numpy scalar indexing ~3×.  Cached
    by table bytes (read-only consumers): a media corpus repeats the
    same 2–4 tables across millions of payloads, and rebuilding two
    64 Ki LUTs per payload was ~25% of a small image's decode cost."""
    sym = np.full(65536, -1, dtype=np.int32)
    ln = np.zeros(65536, dtype=np.int32)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if k >= len(vals) or code >= (1 << length):
                raise _JpegErr
            lo = code << (16 - length)
            hi = lo + (1 << (16 - length))
            sym[lo:hi] = vals[k]
            ln[lo:hi] = length
            code += 1
            k += 1
        code <<= 1
    return np.where(sym < 0, -1, (sym << 5) | ln).tolist()


# Segments above this bit count keep their window table as an int64
# numpy array (8 B/entry) instead of a Python int list (~36 B/entry
# once CPython object + list-slot overhead is counted — measured ~300×
# the segment size, vs ~64× for the array form).  List indexing is ~3×
# faster per symbol, so small segments — the entire synthetic harness,
# and most real-web thumbnails — keep the fast path; a multi-MB
# real-web scan inside a mapInPandas batch must not OOM the executor
# (r12 ADVICE, medium).  2M bits = 256 KB of entropy data ≈ 9 MB as a
# list, ~2 MB as an array.
_JPEG_WIN_LIST_MAX_BITS = 2_000_000


def _jpeg_windows(data: bytes) -> "tuple[list[int] | np.ndarray, int]":
    """Entropy segment bytes → (win, n) where ``win[j]`` is the 16-bit
    big-endian window starting at bit j, for every j in 0..n (n = bit
    count; windows past the data are padded with 1-bits, mirroring the
    spec's final-byte padding).  One vectorized unpackbits +
    sliding-window + packbits pass per segment replaces the per-symbol
    numpy slice-and-dot peek the r11 decoder did — the entropy decode's
    inner loop becomes two Python list indexings per huffman symbol.
    Above ``_JPEG_WIN_LIST_MAX_BITS`` the table stays a numpy int64
    array: consumers only do ``win[i]`` + shifts, and np.int64 indexes
    the huffman LUT lists and raises IndexError past n exactly like the
    list form, so the decode loops are representation-agnostic."""
    n = len(data) * 8
    if n <= 2048:
        # Small-segment fast path (restart-heavy progressive scans
        # produce hundreds of tiny segments per image — the numpy
        # setup cost below dominated the r12 progressive profile at
        # 252 window builds per image): one big int, pure-Python
        # shifts.  Identical output to the vectorized path.
        val = int.from_bytes(data + b"\xff\xff", "big")
        top = n + 16 - 16  # shift that leaves the first 16 bits
        return [(val >> (top - j)) & 0xFFFF for j in range(n + 1)], n
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
    padded = np.concatenate([bits, np.ones(16, dtype=np.uint8)])
    sw = np.lib.stride_tricks.sliding_window_view(padded, 16)[: n + 1]
    win = np.packbits(sw, axis=1).view(">u2").ravel().astype(np.int64)
    if n > _JPEG_WIN_LIST_MAX_BITS:
        return win, n
    return win.tolist(), n


_JPEG_LAZY_CHUNK = 32  # initial windows built per lazy small segment


class _JpegBits:
    """Bit cursor over the scan's entropy segments (pre-split at RSTn
    markers, FF00 already unstuffed).  Segments are raw bytes; each is
    expanded to its 16-bit sliding-window table by :func:`_jpeg_windows`
    LAZILY on first use, so bulk consumers that read whole segments
    directly (the vectorized DC-refinement path) never pay the window
    build at all.  Block decoders pull (win, n, i) into locals and
    write ``i`` back; indexing ``win`` past n raises IndexError, which
    the decode wrappers map to None — identical totality to the r11
    reader's explicit peek guard.

    ``lazy=True`` (the progressive reader): small segments build only
    the first :data:`_JPEG_LAZY_CHUNK` windows up front and extend by
    doubling via :meth:`_grow` — restart-heavy AC scans decode one
    EOBn symbol (a handful of bits) per segment and then skip, so the
    r13 eager build spent most of its window work on bits nobody reads
    (profiled 16% of the progressive decode).  The baseline block
    decoder keeps the eager full table: it indexes ``win`` directly in
    a locals-cached loop where a short prefix would mis-signal
    corruption."""

    def __init__(self, raw_segments: list[bytes], lazy: bool = False) -> None:
        if not raw_segments:
            raise _JpegErr
        self.raw = raw_segments
        self._wins: list = [None] * len(raw_segments)
        self._vals: list = [None] * len(raw_segments)
        self.lazy = lazy
        self.si = 0
        self.win, self.n = self._seg(0)
        self.i = 0

    def _seg(self, j: int):
        w = self._wins[j]
        if w is None:
            data = self.raw[j]
            n = len(data) * 8
            if self.lazy and n <= 2048:
                # same big-int windows as _jpeg_windows' small path,
                # built only up to the first chunk
                val = int.from_bytes(data + b"\xff\xff", "big")
                upto = min(n, _JPEG_LAZY_CHUNK)
                w = ([(val >> (n - k)) & 0xFFFF for k in range(upto + 1)], n)
                self._vals[j] = val
            else:
                w = _jpeg_windows(data)
            self._wins[j] = w
        return w

    def _grow(self, i: int) -> int:
        """Extend the current segment's lazy window list to cover bit
        ``i`` (doubling), returning ``win[i]``; past-``n`` indexes
        raise IndexError exactly like the full table."""
        win, n = self._wins[self.si]
        val = self._vals[self.si]
        if val is None or i > n:
            raise IndexError(i)
        upto = min(n, max(i, 2 * len(win)))
        win.extend(
            (val >> (n - k)) & 0xFFFF for k in range(len(win), upto + 1)
        )
        return win[i]

    def restart(self) -> None:
        self.si += 1
        if self.si >= len(self.raw):
            raise _JpegErr
        self.win, self.n = self._seg(self.si)
        self.i = 0


def _jpeg_extend(v: int, s: int) -> int:
    """JPEG EXTEND: s-bit magnitude v → signed coefficient value."""
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _jpeg_decode_block(
    br: _JpegBits,
    dc_lut: list[int],
    ac_lut: list[int],
    pred: int,
    kbuf: list[int],
    vbuf: list[int],
) -> int:
    """One entropy-coded block: appends (zigzag position, value) pairs
    for the nonzero quantized coefficients — DC first, cumulative —
    to ``kbuf``/``vbuf`` and returns the new DC predictor.  Bounds
    semantics match the r11 per-symbol reader exactly: a huffman code
    may consume up to 7 bits into the final byte's 1-padding
    (``i > n + 7`` raises), value bits must be real data
    (``i + s > n`` raises), and peeking past bit n raises (IndexError
    from the window list, caught by the totality wrapper)."""
    win, n, i = br.win, br.n, br.i
    p = dc_lut[win[i]]
    if p < 0:
        raise _JpegErr
    i += p & 31
    if i > n + 7:  # consumed into nonexistent padding
        raise _JpegErr
    t = p >> 5
    if t > 15:
        raise _JpegErr
    if t:
        if i + t > n:  # value bits are real data, never padding
            raise _JpegErr
        v = win[i] >> (16 - t)
        i += t
        pred += v if v >= (1 << (t - 1)) else v - (1 << t) + 1
    kbuf.append(0)
    vbuf.append(pred)
    k = 1
    while k < 64:
        p = ac_lut[win[i]]
        if p < 0:
            raise _JpegErr
        i += p & 31
        if i > n + 7:
            raise _JpegErr
        rs = p >> 5
        s = rs & 15
        if s == 0:
            if rs == 0xF0:  # ZRL: 16 zeros
                k += 16
                continue
            break  # EOB
        k += rs >> 4
        if k > 63:
            raise _JpegErr
        if i + s > n:
            raise _JpegErr
        v = win[i] >> (16 - s)
        i += s
        kbuf.append(k)
        vbuf.append(v if v >= (1 << (s - 1)) else v - (1 << s) + 1)
        k += 1
    br.i = i
    return pred


def _jpeg_entropy_segments(
    payload: bytes, scan_start: int
) -> tuple[list[bytes], int]:
    """Split one scan's entropy data at RSTn and unstuff FF00 —
    vectorized: classify every 0xFF by its successor in one numpy pass
    (stuffing / restart / scan-terminating marker, an FF as the final
    byte terminating like a reader's nxt=-1), then slice segments
    between restarts and np.delete the stuffed zeros.  The r11 per-byte
    Python loop here was the single largest line in a small image's
    decode after the entropy stage itself.  Pairs never straddle a cut:
    a restart position is an FF byte, and the second byte of any pair
    is 00/D0-D7.  Returns (segments, absolute position of the
    terminating 0xFF — or len(payload) if the data just ends), so the
    progressive decoder can resume its marker walk after each scan."""
    if len(payload) - scan_start <= 65536:
        # Small-payload fast path: a sequential bytes.find walk (C
        # speed between FF bytes) beats the ~10 numpy array ops below
        # by ~5× when the remaining data is a few KB — and progressive
        # images call this once per SCAN, so the harness's ~1 KB
        # ten-scan payloads paid the numpy setup seven times each.
        # Identical classification: FF00 keeps the FF and drops the
        # stuffed 00, FFD0–D7 cuts a segment, any other successor
        # (or FF as the final byte, nxt = -1) terminates the scan.
        segs_py: list[bytes] = []
        cur = bytearray()
        pos = scan_start
        n_pay = len(payload)
        end_abs = n_pay
        while True:
            j = payload.find(b"\xff", pos)
            if j < 0:
                cur += payload[pos:]
                break
            nxt = payload[j + 1] if j + 1 < n_pay else -1
            if nxt == 0x00:
                cur += payload[pos : j + 1]
                pos = j + 2
            elif 0xD0 <= nxt <= 0xD7:
                cur += payload[pos:j]
                segs_py.append(bytes(cur))
                cur = bytearray()
                pos = j + 2
            else:
                cur += payload[pos:j]
                end_abs = j
                break
        segs_py.append(bytes(cur))
        return segs_py, end_abs
    data = np.frombuffer(payload, dtype=np.uint8)[scan_start:]
    nd = int(data.shape[0])
    ff = np.flatnonzero(data == 0xFF)
    if ff.size:
        nxt = np.full(ff.shape, -1, dtype=np.int32)
        has_next = ff + 1 < nd
        nxt[has_next] = data[ff[has_next] + 1]
        is_stuff = nxt == 0x00
        is_rst = (nxt >= 0xD0) & (nxt <= 0xD7)
        term = np.flatnonzero(~(is_stuff | is_rst))
        end = int(ff[term[0]]) if term.size else nd
        rst_pos = ff[is_rst & (ff < end)]
        stuff_pos = ff[is_stuff & (ff < end)]
    else:
        end = nd
        rst_pos = stuff_pos = np.empty(0, dtype=np.int64)
    seg_starts = np.concatenate([[0], rst_pos + 2]).tolist()
    seg_ends = np.concatenate([rst_pos, [end]]).tolist()
    segs: list[bytes] = []
    for s0, e0 in zip(seg_starts, seg_ends):
        chunk = data[s0:e0]
        sp = stuff_pos[(stuff_pos >= s0) & (stuff_pos < e0)] - s0
        if sp.size:
            chunk = np.delete(chunk, sp + 1)
        segs.append(chunk.tobytes())
    return segs, scan_start + end


def _decode_jpeg(payload: bytes) -> np.ndarray | None:
    """Baseline JFIF → (h, w) uint8 grayscale (the luma plane), or None
    if the payload is not a decodable baseline JPEG.  See the section
    comment above for coverage and the totality contract."""
    try:
        n = len(payload)
        if n < 4 or payload[0:2] != b"\xff\xd8":
            return None
        qt: dict[int, np.ndarray] = {}
        huff: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}
        comps: list[dict] = []
        height = width = 0
        ri = 0
        scan: list[tuple[int, int, int]] = []  # (comp index, dc id, ac id)
        i = 2
        scan_start = -1
        while i + 1 < n:
            if payload[i] != 0xFF:
                return None
            while i + 1 < n and payload[i + 1] == 0xFF:  # fill bytes
                i += 1
            m = payload[i + 1]
            i += 2
            if m == 0xD8 or m == 0x01 or 0xD0 <= m <= 0xD7:
                continue
            if m == 0xD9:
                return None  # EOI before any scan
            if i + 2 > n:
                return None
            seg_len = int.from_bytes(payload[i : i + 2], "big")
            if seg_len < 2 or i + seg_len > n:
                return None
            seg = payload[i + 2 : i + seg_len]
            if m == 0xDB:  # DQT
                p = 0
                while p < len(seg):
                    pq, tq = seg[p] >> 4, seg[p] & 15
                    p += 1
                    if pq == 0:
                        if p + 64 > len(seg):
                            return None
                        qt[tq] = np.frombuffer(
                            seg[p : p + 64], dtype=np.uint8
                        ).astype(np.int64)
                        p += 64
                    elif pq == 1:
                        if p + 128 > len(seg):
                            return None
                        qt[tq] = np.frombuffer(
                            seg[p : p + 128], dtype=">u2"
                        ).astype(np.int64)
                        p += 128
                    else:
                        return None
            elif m in (0xC0, 0xC1):  # SOF0 baseline / SOF1 ext. sequential
                if len(seg) < 6 or seg[0] != 8:
                    return None
                height = int.from_bytes(seg[1:3], "big")
                width = int.from_bytes(seg[3:5], "big")
                nc = seg[5]
                if height <= 0 or width <= 0 or nc == 0 or len(seg) < 6 + 3 * nc:
                    return None
                comps = [
                    {
                        "id": seg[6 + 3 * c],
                        "hs": seg[7 + 3 * c] >> 4,
                        "vs": seg[7 + 3 * c] & 15,
                        "tq": seg[8 + 3 * c],
                    }
                    for c in range(nc)
                ]
                if any(c["hs"] == 0 or c["vs"] == 0 for c in comps):
                    return None
            elif m == 0xC2:  # progressive DCT: the multi-scan decoder
                return _decode_jpeg_progressive(payload)
            elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None  # lossless / arithmetic / hierarchical
            elif m == 0xC4:  # DHT
                p = 0
                while p + 17 <= len(seg):
                    tc, th = seg[p] >> 4, seg[p] & 15
                    bits = seg[p + 1 : p + 17]
                    cnt = sum(bits)
                    if p + 17 + cnt > len(seg):
                        return None
                    huff[(tc, th)] = _jpeg_huff_lut(
                        bits, seg[p + 17 : p + 17 + cnt]
                    )
                    p += 17 + cnt
            elif m == 0xDD:  # DRI
                if len(seg) < 2:
                    return None
                ri = int.from_bytes(seg[0:2], "big")
            elif m == 0xDA:  # SOS
                if not comps:
                    return None
                ns = seg[0]
                if ns != len(comps):  # multi-scan sequential: fall back
                    return None
                if len(seg) < 1 + 2 * ns + 3:
                    return None
                by_id = {c["id"]: ci for ci, c in enumerate(comps)}
                for s_ in range(ns):
                    cs = seg[1 + 2 * s_]
                    tdta = seg[2 + 2 * s_]
                    if cs not in by_id:
                        return None
                    scan.append((by_id[cs], tdta >> 4, tdta & 15))
                scan_start = i + seg_len
                break
            i += seg_len
        if scan_start < 0 or not comps:
            return None
        if len(comps) == 1:
            # A single-component scan is NON-interleaved per the spec
            # (ITU-T T.81 §A.2.2): one 8×8 data unit per MCU in raster
            # order with ceil(w/8)×ceil(h/8) blocks, the declared
            # sampling factors IGNORED — some transcoders emit
            # grayscale with hs/vs=2 and the r11 decoder scrambled
            # those by tiling hs×vs blocks per MCU.  Restart-interval
            # counting follows the one-block MCUs.
            comps[0]["hs"] = comps[0]["vs"] = 1
        hmax = max(c["hs"] for c in comps)
        vmax = max(c["vs"] for c in comps)
        luma = comps[scan[0][0]] if len(comps) == 1 else comps[0]
        if len(comps) > 1 and (luma["hs"] != hmax or luma["vs"] != vmax):
            return None  # luma must be full-resolution to BE the gray plane
        for c in comps:
            if c["tq"] not in qt:
                return None
        segs, _scan_end = _jpeg_entropy_segments(payload, scan_start)
        br = _JpegBits(segs)
        mcx = -(-width // (8 * hmax))
        mcy = -(-height // (8 * vmax))
        li = 0 if len(comps) > 1 else scan[0][0]
        lvs, lhs = luma["vs"], luma["hs"]
        lq = qt[luma["tq"]]
        preds = [0] * len(comps)
        a = _JPEG_A
        # LUTs are constant per scan — resolve once, not per MCU
        scan_luts = []
        for ci, dci, aci in scan:
            dl, al = huff.get((0, dci)), huff.get((1, aci))
            if dl is None or al is None:
                return None
            scan_luts.append((ci, comps[ci], dl, al))
        # Sparse coefficient pairs (zigzag pos, value) gathered across
        # the whole scan plus a nonzero-count per luma block, scattered
        # in ONE fancy-index assignment afterwards — the per-block
        # np.zeros(64) + stack the r11 decoder did was ~30% of the
        # entropy stage.  Luma blocks land in deterministic
        # (my, mx, by, bx) order, so pixel placement is a single
        # 6-D reshape/transpose instead of an 8×8 slice store per block.
        kbuf: list[int] = []
        vbuf: list[int] = []
        counts: list[int] = []
        scratch_k: list[int] = []
        scratch_v: list[int] = []
        mcu = 0
        for _my in range(mcy):
            for _mx in range(mcx):
                if ri and mcu and mcu % ri == 0:
                    br.restart()
                    preds = [0] * len(comps)
                mcu += 1
                for ci, c, dl, al in scan_luts:
                    if ci == li:
                        for _ in range(lvs * lhs):
                            m0 = len(kbuf)
                            preds[ci] = _jpeg_decode_block(
                                br, dl, al, preds[ci], kbuf, vbuf
                            )
                            counts.append(len(kbuf) - m0)
                    else:  # chroma: bitstream advance only
                        scratch_k.clear()
                        scratch_v.clear()
                        for _ in range(c["vs"] * c["hs"]):
                            preds[ci] = _jpeg_decode_block(
                                br, dl, al, preds[ci], scratch_k, scratch_v
                            )
        # Batched dequant + inverse zigzag + iDCT over ALL luma blocks:
        # one stacked matmul chain instead of per-block zeros/matmul/
        # clip/round (was ~40% of a small image's decode).  np.matmul
        # broadcasts Aᵀ·F·A per slice with the same 8-dot kernels as the
        # per-block form, so pixels are bit-identical (the AC tests
        # assert exact equality against the per-block reference math).
        nb = len(counts)  # == mcy * mcx * lvs * lhs
        zz = np.zeros((nb, 64), dtype=np.int64)
        zz[np.repeat(np.arange(nb), counts), kbuf] = vbuf  # zigzag order
        blk = np.zeros((nb, 64), dtype=np.float64)
        blk[:, _JPEG_ZZ] = zz * lq
        pix = np.matmul(a.T, np.matmul(blk.reshape(-1, 8, 8), a))
        out = np.clip(np.round(pix) + 128, 0, 255).astype(np.uint8)
        plane = (
            out.reshape(mcy, mcx, lvs, lhs, 8, 8)
            .transpose(0, 2, 4, 1, 3, 5)
            .reshape(mcy * lvs * 8, mcx * lhs * 8)
        )
        return plane[:height, :width].copy()
    except Exception:
        return None


def _pg_huff(br: _JpegBits, lut: list[int]) -> int:
    """One huffman symbol off the progressive scan cursor (same bounds
    semantics as the baseline block decoder: a code may consume up to
    7 bits into the final byte's 1-padding).  The IndexError branch
    grows a lazy segment's window list (or propagates for a true
    past-``n`` peek — identical totality either way)."""
    win, n, i = br.win, br.n, br.i
    try:
        w16 = win[i]
    except IndexError:
        w16 = br._grow(i)
    p = lut[w16]
    if p < 0:
        raise _JpegErr
    i += p & 31
    if i > n + 7:
        raise _JpegErr
    br.i = i
    return p >> 5


def _pg_bits(br: _JpegBits, t: int) -> int:
    """t raw bits (t ≤ 16) — value bits are real data, never padding."""
    if t == 0:
        return 0
    win, n, i = br.win, br.n, br.i
    if i + t > n:
        raise _JpegErr
    try:
        w16 = win[i]
    except IndexError:
        w16 = br._grow(i)
    br.i = i + t
    return w16 >> (16 - t)


def _prog_scan_units(
    scan_sel: list[tuple[int, int, int]],
    comps: list[dict],
    mcx: int,
    mcy: int,
    hmax: int,
    vmax: int,
    width: int,
    height: int,
) -> list[list[tuple[int, int]]]:
    """The (component index, block id) schedule for one progressive
    scan, one inner list per MCU — interleaved scans tile hs×vs blocks
    per component per MCU on the padded grid; a single-component scan
    is non-interleaved (ITU-T T.81 §A.2.2): one data unit per MCU in
    raster order over the component's ceil(comp_w/8) × ceil(comp_h/8)
    UNPADDED grid, addressed with the padded stride so every scan type
    shares one coefficient store layout.  Single-component scans return
    a FLAT bid list (no per-block tuple allocation — at ten scans per
    progressive image the tuple schedule was a measurable slice of the
    decode); interleaved scans return the nested (ci, bid) form.
    Callers cache results per scan_sel key: geometry repeats across a
    frame's scans."""
    if len(scan_sel) > 1:
        units: list[list[tuple[int, int]]] = []
        for my in range(mcy):
            for mx in range(mcx):
                u = []
                for ci, _dci, _aci in scan_sel:
                    c = comps[ci]
                    hs, vs = c["hs"], c["vs"]
                    stride = mcx * hs
                    for by in range(vs):
                        for bx in range(hs):
                            u.append(
                                (ci, (my * vs + by) * stride + mx * hs + bx)
                            )
                units.append(u)
        return units
    ci = scan_sel[0][0]
    c = comps[ci]
    hs, vs = c["hs"], c["vs"]
    stride = mcx * hs
    cw = (-(-width * hs // hmax) + 7) // 8  # ceil(ceil(w·hs/hmax)/8)
    ch = (-(-height * vs // vmax) + 7) // 8
    return [by * stride + bx for by in range(ch) for bx in range(cw)]


def _decode_jpeg_progressive(payload: bytes) -> np.ndarray | None:
    """Progressive JFIF (SOF2) → (h, w) uint8 grayscale luma plane, or
    None if undecodable.  Full ITU-T T.81 Annex G huffman progressive
    support: spectral selection (per-band AC scans, EOBn run lengths)
    AND successive approximation (DC/AC first + refinement scans),
    interleaved or single-component DC scans, DRI/RSTn inside every
    scan, tables redefinable between scans.  Coefficients accumulate
    across scans in per-component zigzag-order stores; the luma store
    then runs the same batched dequant + iDCT + reshape pipeline as
    the baseline decoder, so a progressive re-encode of the same
    quantized coefficients decodes to bit-identical pixels (the
    property tests pin exactly that against `_decode_jpeg` on
    `_encode_jpeg_coeffs` output).  Totality contract unchanged:
    hostile/truncated bytes → None, never a raised task error."""
    try:
        n = len(payload)
        if n < 4 or payload[0:2] != b"\xff\xd8":
            return None
        qt: dict[int, np.ndarray] = {}
        huff: dict[tuple[int, int], list[int]] = {}
        comps: list[dict] = []
        stores: list[np.ndarray] = []
        acnz: list[list[int]] = []
        height = width = 0
        mcx = mcy = hmax = vmax = 0
        ri = 0
        nscans = 0
        geo_cache: dict = {}
        i = 2
        while i + 1 < n:
            if payload[i] != 0xFF:
                return None
            while i + 1 < n and payload[i + 1] == 0xFF:  # fill bytes
                i += 1
            m = payload[i + 1]
            i += 2
            if m == 0xD8 or m == 0x01 or 0xD0 <= m <= 0xD7:
                continue
            if m == 0xD9:  # EOI
                break
            if i + 2 > n:
                return None
            seg_len = int.from_bytes(payload[i : i + 2], "big")
            if seg_len < 2 or i + seg_len > n:
                return None
            seg = payload[i + 2 : i + seg_len]
            if m == 0xDB:  # DQT
                p = 0
                while p < len(seg):
                    pq, tq = seg[p] >> 4, seg[p] & 15
                    p += 1
                    if pq == 0:
                        if p + 64 > len(seg):
                            return None
                        qt[tq] = np.frombuffer(
                            seg[p : p + 64], dtype=np.uint8
                        ).astype(np.int64)
                        p += 64
                    elif pq == 1:
                        if p + 128 > len(seg):
                            return None
                        qt[tq] = np.frombuffer(
                            seg[p : p + 128], dtype=">u2"
                        ).astype(np.int64)
                        p += 128
                    else:
                        return None
            elif m == 0xC2:  # SOF2
                if comps:
                    return None  # second frame header
                if len(seg) < 6 or seg[0] != 8:
                    return None
                height = int.from_bytes(seg[1:3], "big")
                width = int.from_bytes(seg[3:5], "big")
                nc = seg[5]
                if height <= 0 or width <= 0 or nc == 0 or len(seg) < 6 + 3 * nc:
                    return None
                comps = [
                    {
                        "id": seg[6 + 3 * c],
                        "hs": seg[7 + 3 * c] >> 4,
                        "vs": seg[7 + 3 * c] & 15,
                        "tq": seg[8 + 3 * c],
                    }
                    for c in range(nc)
                ]
                if any(c["hs"] == 0 or c["vs"] == 0 for c in comps):
                    return None
                hmax = max(c["hs"] for c in comps)
                vmax = max(c["vs"] for c in comps)
                mcx = -(-width // (8 * hmax))
                mcy = -(-height // (8 * vmax))
                # int64 numpy stores: scalar reads/writes from the
                # sequential scan loops work unchanged, the bulk DC
                # refinement ORs via fancy indexing, and the final
                # dequant pipeline reshapes in place with no
                # list→array conversion (was ~0.5 ms per image)
                stores = [
                    np.zeros(mcy * c["vs"] * mcx * c["hs"] * 64, np.int64)
                    for c in comps
                ]
                # per-block count of nonzero AC coefficients — lets
                # refinement scans skip zero-history EOB-run blocks
                # without walking their band (no bits live there)
                acnz = [
                    [0] * (mcy * c["vs"] * mcx * c["hs"]) for c in comps
                ]
            elif m in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                       0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None  # only SOF2 belongs in this decoder
            elif m == 0xC4:  # DHT — redefinable between scans
                p = 0
                while p + 17 <= len(seg):
                    tc, th = seg[p] >> 4, seg[p] & 15
                    bits = seg[p + 1 : p + 17]
                    cnt = sum(bits)
                    if p + 17 + cnt > len(seg):
                        return None
                    huff[(tc, th)] = _jpeg_huff_lut(
                        bits, seg[p + 17 : p + 17 + cnt]
                    )
                    p += 17 + cnt
            elif m == 0xDD:  # DRI — redefinable between scans
                if len(seg) < 2:
                    return None
                ri = int.from_bytes(seg[0:2], "big")
            elif m == 0xDA:  # SOS: decode this scan in place
                if not comps:
                    return None
                ns = seg[0]
                if ns < 1 or ns > len(comps) or len(seg) < 1 + 2 * ns + 3:
                    return None
                by_id = {c["id"]: ci for ci, c in enumerate(comps)}
                scan_sel: list[tuple[int, int, int]] = []
                for s_ in range(ns):
                    cs = seg[1 + 2 * s_]
                    tdta = seg[2 + 2 * s_]
                    if cs not in by_id:
                        return None
                    scan_sel.append((by_id[cs], tdta >> 4, tdta & 15))
                ss = seg[1 + 2 * ns]
                se = seg[2 + 2 * ns]
                ahal = seg[3 + 2 * ns]
                ah, al = ahal >> 4, ahal & 15
                if ss > 63 or se > 63 or ah > 13 or al > 13:
                    return None
                if ss == 0:
                    if se != 0:
                        return None  # DC scans cover exactly [0, 0]
                else:
                    if se < ss or ns != 1:
                        return None  # AC scans are single-component
                segs, scan_end = _jpeg_entropy_segments(payload, i + seg_len)
                br = _JpegBits(segs, lazy=True)
                _decode_prog_scan(
                    br, scan_sel, comps, stores, acnz, huff, ss, se, ah, al,
                    ri, mcx, mcy, hmax, vmax, width, height, geo_cache,
                )
                nscans += 1
                i = scan_end
                continue
            i += seg_len
        if not comps or nscans == 0:
            return None
        luma = comps[0]
        if len(comps) > 1 and (luma["hs"] != hmax or luma["vs"] != vmax):
            return None  # luma must be full-resolution to BE the gray plane
        if luma["tq"] not in qt:
            return None
        lq = qt[luma["tq"]]
        lvs, lhs = luma["vs"], luma["hs"]
        rows_b, cols_b = mcy * lvs, mcx * lhs
        nb = rows_b * cols_b
        zz = stores[0].reshape(nb, 64)
        a = _JPEG_A
        blk = np.zeros((nb, 64), dtype=np.float64)
        blk[:, _JPEG_ZZ] = zz * lq
        pix = np.matmul(a.T, np.matmul(blk.reshape(-1, 8, 8), a))
        out = np.clip(np.round(pix) + 128, 0, 255).astype(np.uint8)
        # the store is in RASTER block order (bid = row·stride + col),
        # unlike the baseline decoder's MCU-tile emission order — the
        # assembly transpose differs accordingly
        plane = (
            out.reshape(rows_b, cols_b, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(rows_b * 8, cols_b * 8)
        )
        return plane[:height, :width].copy()
    except Exception:
        return None


def _dc_refine_bulk(
    br: _JpegBits,
    store_or_stores,
    cis: "np.ndarray | None",
    bases: np.ndarray,
    per_seg: int,
    bit: int,
) -> None:
    """Vectorized DC refinement: the scan is exactly one raw bit per
    block in schedule order, restart-segmented every ``per_seg`` blocks
    (0 = no restarts).  Reads each segment's consumed prefix straight
    from its raw bytes — the window table is never built.  Totality
    matches the per-block cursor exactly: a missing restart segment or
    a segment with fewer DATA bits than blocks raises _JpegErr (value
    bits must be real data, never the final-byte padding).  ``cis`` is
    None for single-component scans (``store_or_stores`` is the store);
    interleaved scans pass the per-block component ids and the store
    list."""
    nu = len(bases)
    per = per_seg if per_seg else nu
    pos = 0
    si = 0
    raws = br.raw
    while pos < nu:
        if si >= len(raws):
            raise _JpegErr  # more restart intervals than segments
        raw = raws[si]
        cnt = min(per, nu - pos)
        if cnt > len(raw) * 8:
            raise _JpegErr  # refinement bits are data, never padding
        seg_bits = np.unpackbits(
            np.frombuffer(raw, dtype=np.uint8), count=cnt
        )
        set_rel = np.flatnonzero(seg_bits)
        if set_rel.size:
            idx = pos + set_rel
            if cis is None:
                store_or_stores[bases[idx]] |= bit
            else:
                hit_cis = cis[idx]
                for ci in np.unique(hit_cis):
                    store_or_stores[int(ci)][
                        bases[idx[hit_cis == ci]]
                    ] |= bit
        pos += cnt
        si += 1


def _decode_prog_scan(
    br: _JpegBits,
    scan_sel: list[tuple[int, int, int]],
    comps: list[dict],
    stores: list[np.ndarray],
    acnz: list[list[int]],
    huff: dict[tuple[int, int], list[int]],
    ss: int,
    se: int,
    ah: int,
    al: int,
    ri: int,
    mcx: int,
    mcy: int,
    hmax: int,
    vmax: int,
    width: int,
    height: int,
    geo_cache: dict | None = None,
) -> None:
    """Apply ONE progressive scan to the coefficient stores.  The four
    Annex G decode procedures, mirrored from the spec (and libjpeg's
    jdphuff structure, reimplemented): DC first (G.2 — diffs of the
    point-transformed value, << Al), DC refinement (one appended bit
    per block, |= 1<<Al — two's-complement OR is sign-correct), AC
    first (band [Ss..Se], EOBn run lengths, values << Al), AC
    refinement (correction bits for history-nonzero coefficients
    interleaved with newly-significant ±1<<Al placements, EOB runs
    carrying correction bits).  Restart intervals reset DC predictors
    AND the EOB run."""
    key = tuple(ci for ci, _d, _a in scan_sel)
    units = geo_cache.get(key) if geo_cache is not None else None
    if units is None:
        units = _prog_scan_units(
            scan_sel, comps, mcx, mcy, hmax, vmax, width, height
        )
        if geo_cache is not None:
            geo_cache[key] = units
    if ss == 0:  # DC scan
        bit = 1 << al
        if ah != 0:
            # DC refinement consumes EXACTLY one raw bit per block (no
            # huffman symbols), so the whole scan batches: per restart
            # segment, unpack the consumed prefix of the segment's
            # bytes in one numpy pass and OR 1<<Al into the blocks
            # whose bit is set — no per-block cursor calls at all (the
            # r12 profile's largest remaining per-scan Python loop).
            if len(scan_sel) > 1:
                cis = np.array(
                    [ci for u in units for ci, _b in u], dtype=np.int64
                )
                bases = np.array(
                    [bid * 64 for u in units for _c, bid in u],
                    dtype=np.int64,
                )
                _dc_refine_bulk(
                    br, stores, cis, bases, ri * len(units[0]) if ri else 0,
                    bit,
                )
            else:
                bases = np.asarray(units, dtype=np.int64) * 64
                _dc_refine_bulk(
                    br, stores[scan_sel[0][0]], None, bases, ri, bit
                )
            return
        dlut = [huff.get((0, dci)) for _ci, dci, _aci in scan_sel]
        if any(t is None for t in dlut):
            raise _JpegErr
        mcu = 0
        if len(scan_sel) > 1:  # interleaved: nested (ci, bid) schedule
            slot_of = {scj: sj for sj, (scj, _d, _a) in enumerate(scan_sel)}
            preds = [0] * len(comps)
            for u in units:
                if ri and mcu and mcu % ri == 0:
                    br.restart()
                    preds = [0] * len(comps)
                mcu += 1
                for ci, bid in u:
                    st = stores[ci]
                    t = _pg_huff(br, dlut[slot_of[ci]])
                    if t > 15:
                        raise _JpegErr
                    preds[ci] += _jpeg_extend(_pg_bits(br, t), t)
                    st[bid * 64] = preds[ci] << al
            return
        # single-component DC first scan: flat bid schedule
        st = stores[scan_sel[0][0]]
        dl = dlut[0]
        pred = 0
        for bid in units:
            if ri and mcu and mcu % ri == 0:
                br.restart()
                pred = 0
            mcu += 1
            t = _pg_huff(br, dl)
            if t > 15:
                raise _JpegErr
            pred += _jpeg_extend(_pg_bits(br, t), t)
            st[bid * 64] = pred << al
        return
    # AC scan: single component (validated by the caller).  Blocks
    # inside an EOB run consume no bits at all in first scans, and no
    # bits in refinement scans when the block has no nonzero AC history
    # (tracked by the acnz sidecar) — so runs skip in O(1) chunks up to
    # the next restart boundary instead of one Python iteration per
    # block.  Flat-block corpora (the synth oracle shape) are almost
    # entirely EOB runs, and this is what keeps the 10-scan progressive
    # decode within ~2× of the single-scan baseline there.
    ci, _dci, aci = scan_sel[0]
    alut = huff.get((1, aci))
    if alut is None:
        raise _JpegErr
    st = stores[ci]
    anz = acnz[ci]
    bids = units  # single-component scans carry the flat bid schedule
    nu = len(bids)
    eobrun = 0
    nxt_rst = ri if ri else nu
    if ah == 0:  # AC first scan
        i = 0
        while i < nu:
            if i == nxt_rst:
                br.restart()
                eobrun = 0
                nxt_rst += ri
            if eobrun:
                skip = min(eobrun, nxt_rst - i, nu - i)
                eobrun -= skip
                i += skip
                continue
            bid = bids[i]
            base = bid * 64
            i += 1
            k = ss
            while k <= se:
                rs = _pg_huff(br, alut)
                r, s = rs >> 4, rs & 15
                if s:
                    k += r
                    if k > se:
                        raise _JpegErr
                    st[base + k] = _jpeg_extend(_pg_bits(br, s), s) << al
                    anz[bid] += 1
                    k += 1
                else:
                    if r < 15:
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += _pg_bits(br, r)
                        break
                    k += 16  # ZRL
        return
    # AC refinement scan.  Blocks with zero AC history consume no
    # correction bits inside an EOB run, so runs skip straight to the
    # next history-nonzero schedule position in one arithmetic step
    # (the r12 code still paid one Python iteration + sidecar read per
    # skipped block).  The pre-scan snapshot is exact: anz only
    # changes for already-visited blocks, and each schedule position
    # is visited at most once per scan.
    p1 = 1 << al
    m1 = -1 << al
    nz_list = np.flatnonzero(
        np.asarray(anz, dtype=np.int64)[np.asarray(bids, dtype=np.int64)]
    ).tolist()
    nnz = len(nz_list)
    hp = 0
    i = 0
    while i < nu:
        if i == nxt_rst:
            br.restart()
            eobrun = 0
            nxt_rst += ri
        if eobrun:
            while hp < nnz and nz_list[hp] < i:
                hp += 1
            next_nz = nz_list[hp] if hp < nnz else nu
            if next_nz > i:
                skip = min(eobrun, nxt_rst - i, nu - i, next_nz - i)
                eobrun -= skip
                i += skip
                continue
        bid = bids[i]
        base = bid * 64
        i += 1
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = _pg_huff(br, alut)
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r < 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += _pg_bits(br, r)
                        break
                    val = 0  # ZRL: skip 16 zero-history positions
                else:
                    if s != 1:
                        raise _JpegErr
                    val = p1 if _pg_bits(br, 1) else m1
                while k <= se:
                    cval = st[base + k]
                    if cval != 0:
                        if _pg_bits(br, 1) and (cval & p1) == 0:
                            st[base + k] = cval + (p1 if cval >= 0 else m1)
                    else:
                        r -= 1
                        if r < 0:
                            break
                    k += 1
                if val:
                    if k > se:
                        raise _JpegErr  # newly-significant coef out of band
                    st[base + k] = val
                    anz[bid] += 1
                k += 1
        if eobrun > 0:
            # EOB run: remaining band positions still carry correction
            # bits for history-nonzero coefficients
            while k <= se:
                cval = st[base + k]
                if cval != 0:
                    if _pg_bits(br, 1) and (cval & p1) == 0:
                        st[base + k] = cval + (p1 if cval >= 0 else m1)
                k += 1
            eobrun -= 1


def _jpeg_enc_table(bits: bytes, vals: bytes) -> dict[int, tuple[int, int]]:
    """Canonical huffman table → {symbol: (code, length)} for encoding."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _JpegBitWriter:
    """MSB-first bit accumulator with FF00 byte stuffing and 1-bit
    final padding (the scan-data encoding rules of ISO/IEC 10918-1)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)
        return bytes(self.out)


def _jpeg_put_coef(wr: _JpegBitWriter, table: dict, sym_high: int, v: int) -> None:
    """Emit huffman(sym_high<<4 | size(v)) + the size(v) magnitude bits."""
    s = abs(v).bit_length()
    code, length = table[(sym_high << 4) | s]
    wr.put(code, length)
    if s:
        wr.put(v if v >= 0 else v + (1 << s) - 1, s)


def _encode_jpeg_coeffs(
    comp_coeffs: list[np.ndarray],
    height: int,
    width: int,
    *,
    samplings: list[tuple[int, int]] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Entropy-encode QUANTIZED coefficient blocks into a baseline JFIF
    stream: all-ones quantization table, Annex K luminance huffman
    tables for every component, interleaved single scan.  Each
    ``comp_coeffs[c]`` is (blocks_y, blocks_x, 8, 8) int coefficients in
    RASTER block layout, already padded to whole MCUs.  The test-facing
    generality hook: arbitrary AC patterns, subsampled components, and
    restart intervals all route through here; the public flat-block
    encoder is the DC-only special case."""
    nc = len(comp_coeffs)
    if samplings is None:
        samplings = [(1, 1)] * nc
    hmax = max(h for h, _ in samplings)
    vmax = max(v for _, v in samplings)
    mcx = -(-width // (8 * hmax))
    mcy = -(-height // (8 * vmax))
    for c in range(nc):
        hs, vs = samplings[c]
        want = (mcy * vs, mcx * hs)
        if comp_coeffs[c].shape[:2] != want:
            raise ValueError(
                f"_encode_jpeg_coeffs: component {c} needs {want} blocks, "
                f"got {comp_coeffs[c].shape[:2]}"
            )
    dc_t = _jpeg_enc_table(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_t = _jpeg_enc_table(_JPEG_AC_BITS, _JPEG_AC_VALS)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    head = bytearray(b"\xff\xd8")  # SOI
    head += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    head += seg(0xDB, bytes([0x00]) + b"\x01" * 64)  # DQT 0: all ones
    sof = bytes([8]) + height.to_bytes(2, "big") + width.to_bytes(2, "big")
    sof += bytes([nc])
    for c in range(nc):
        hs, vs = samplings[c]
        sof += bytes([c + 1, (hs << 4) | vs, 0])
    head += seg(0xC0, sof)
    head += seg(0xC4, bytes([0x00]) + _JPEG_DC_BITS + _JPEG_DC_VALS)
    head += seg(0xC4, bytes([0x10]) + _JPEG_AC_BITS + _JPEG_AC_VALS)
    if restart_interval:
        head += seg(0xDD, restart_interval.to_bytes(2, "big"))
    sos = bytes([nc])
    for c in range(nc):
        sos += bytes([c + 1, 0x00])  # DC table 0, AC table 0
    sos += bytes([0, 63, 0])
    head += seg(0xDA, sos)

    # Bulk per-component preprocessing (r14; the baseline mirror of the
    # progressive encoder's pure-block pass): one vectorized zigzag +
    # has-AC detection replaces the four per-block numpy calls
    # (asarray/reshape/fancy-index/nonzero) the loop paid — on a
    # DC-only flat corpus every block short-circuits to
    # DC-diff + EOB with no numpy at all.
    zz_arrs = [
        np.asarray(cc, dtype=np.int64).reshape(-1, 64)[:, _JPEG_ZZ]
        for cc in comp_coeffs
    ]
    dc_ls = [a[:, 0].tolist() for a in zz_arrs]
    has_ac_ls = [(a[:, 1:] != 0).any(axis=1).tolist() for a in zz_arrs]

    body = bytearray()
    wr = _JpegBitWriter()
    preds = [0] * nc
    mcu = 0
    rst = 0
    eob_code, eob_len = ac_t[0x00]
    for my in range(mcy):
        for mx in range(mcx):
            if restart_interval and mcu and mcu % restart_interval == 0:
                body += wr.flush()
                body += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                wr = _JpegBitWriter()
                preds = [0] * nc
            mcu += 1
            for c in range(nc):
                hs, vs = samplings[c]
                stride = mcx * hs
                for by in range(vs):
                    for bx in range(hs):
                        bid = (my * vs + by) * stride + mx * hs + bx
                        dc = dc_ls[c][bid]
                        d = dc - preds[c]
                        preds[c] = dc
                        if not has_ac_ls[c][bid]:
                            # DC-only block: huffman(size) + magnitude
                            # + EOB concatenated MSB-first equals the
                            # three separate puts bit-for-bit — one
                            # accumulator call instead of three
                            s = (d if d >= 0 else -d).bit_length()
                            code, length = dc_t[s]
                            if s:
                                mag = d if d >= 0 else d + (1 << s) - 1
                                packed = (
                                    (code << s | (mag & ((1 << s) - 1)))
                                    << eob_len
                                ) | eob_code
                            else:
                                packed = (code << eob_len) | eob_code
                            wr.put(packed, length + s + eob_len)
                            continue
                        _jpeg_put_coef(wr, dc_t, 0, d)
                        zz = zz_arrs[c][bid]
                        nz = np.nonzero(zz[1:])[0]
                        k = 1
                        for pos in nz + 1:
                            run = int(pos) - k
                            while run >= 16:
                                code, length = ac_t[0xF0]  # ZRL
                                wr.put(code, length)
                                run -= 16
                            _jpeg_put_coef(wr, ac_t, run, int(zz[pos]))
                            k = int(pos) + 1
                        if k < 64:
                            wr.put(eob_code, eob_len)  # EOB
    body += wr.flush()
    return bytes(head) + bytes(body) + b"\xff\xd9"  # EOI


# Huffman AC table for PROGRESSIVE scans: every (run, size) symbol
# 0x00..0xFF — Annex K's baseline table lacks the EOBn symbols
# 0x10..0xE0 that encode EOB runs > 1.  Canonical lengths 255×9-bit +
# 1×10-bit leave the all-ones 10-bit code unused, per the Annex C
# reservation rule, so standard decoders accept the table.
_JPEG_PROG_AC_BITS = bytes([0, 0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0])
_JPEG_PROG_AC_VALS = bytes(list(range(255)) + [255])


def encode_jpeg_progressive(
    comp_coeffs: list[np.ndarray],
    height: int,
    width: int,
    *,
    samplings: list[tuple[int, int]] | None = None,
    al_dc: int = 1,
    al_ac: int = 1,
    ac_bands: tuple[tuple[int, int], ...] = ((1, 5), (6, 63)),
    restart_interval: int = 0,
) -> bytes:
    """Entropy-encode QUANTIZED coefficient blocks into a PROGRESSIVE
    (SOF2) JFIF stream — the multi-scan sibling of
    :func:`_encode_jpeg_coeffs`, emitting the full Annex G scan script:
    an interleaved DC first scan at point transform ``al_dc``, DC
    refinement scans down to Al=0, then per component per spectral
    band an AC first scan at ``al_ac`` plus AC refinement scans down
    to Al=0 (EOB-run accumulation with buffered correction bits,
    ZRL-fold-into-EOB, the spec's G.1.2.3 successive-approximation
    encoder).  Same input contract as the baseline encoder: each
    ``comp_coeffs[c]`` is (blocks_y, blocks_x, 8, 8) ints in RASTER
    block layout padded to whole MCUs, all-ones quantization.  The
    decoders must agree: decode(progressive_encode(C)) ==
    decode(baseline_encode(C)) pixel-for-pixel, which the property
    tests pin."""
    nc = len(comp_coeffs)
    if samplings is None:
        samplings = [(1, 1)] * nc
    hmax = max(h for h, _ in samplings)
    vmax = max(v for _, v in samplings)
    mcx = -(-width // (8 * hmax))
    mcy = -(-height // (8 * vmax))
    for c in range(nc):
        hs, vs = samplings[c]
        want = (mcy * vs, mcx * hs)
        if comp_coeffs[c].shape[:2] != want:
            raise ValueError(
                f"encode_jpeg_progressive: component {c} needs {want} blocks, "
                f"got {comp_coeffs[c].shape[:2]}"
            )
    for bs, be in ac_bands:
        if not (1 <= bs <= be <= 63):
            raise ValueError(f"encode_jpeg_progressive: bad AC band ({bs}, {be})")
    dc_t = _jpeg_enc_table(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_t = _jpeg_enc_table(_JPEG_PROG_AC_BITS, _JPEG_PROG_AC_VALS)
    ri = restart_interval

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    head = bytearray(b"\xff\xd8")
    head += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    head += seg(0xDB, bytes([0x00]) + b"\x01" * 64)
    sof = bytes([8]) + height.to_bytes(2, "big") + width.to_bytes(2, "big")
    sof += bytes([nc])
    for c in range(nc):
        hs, vs = samplings[c]
        sof += bytes([c + 1, (hs << 4) | vs, 0])
    head += seg(0xC2, sof)
    head += seg(0xC4, bytes([0x00]) + _JPEG_DC_BITS + _JPEG_DC_VALS)
    head += seg(0xC4, bytes([0x10]) + _JPEG_PROG_AC_BITS + _JPEG_PROG_AC_VALS)
    if ri:
        head += seg(0xDD, ri.to_bytes(2, "big"))

    comps = [{"hs": h, "vs": v} for h, v in samplings]
    zz_arrs = [
        np.asarray(cc, dtype=np.int64).reshape(-1, 64)[:, _JPEG_ZZ]
        for cc in comp_coeffs
    ]
    zzs = [a.tolist() for a in zz_arrs]
    out = bytearray(head)

    def sos(sel: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        b = bytes([len(sel)])
        for ci in sel:
            b += bytes([ci + 1, 0x00])
        return seg(0xDA, b + bytes([ss, se, (ah << 4) | al]))

    # --- DC scans (interleaved over all components; a one-component
    # frame is non-interleaved and gets the flat bid schedule) --------
    if nc > 1:
        dc_units = _prog_scan_units(
            [(ci, 0, 0) for ci in range(nc)], comps, mcx, mcy, hmax, vmax,
            width, height,
        )
    else:
        dc_units = [
            [(0, bid)]
            for bid in _prog_scan_units(
                [(0, 0, 0)], comps, mcx, mcy, hmax, vmax, width, height
            )
        ]
    for ah, al in [(0, al_dc)] + [(a + 1, a) for a in range(al_dc - 1, -1, -1)]:
        out += sos(list(range(nc)), 0, 0, ah, al)
        wr = _JpegBitWriter()
        preds = [0] * nc
        rst = 0
        mcu = 0
        for u in dc_units:
            if ri and mcu and mcu % ri == 0:
                out += wr.flush()
                out += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                wr = _JpegBitWriter()
                preds = [0] * nc
            mcu += 1
            for ci, bid in u:
                dc = zzs[ci][bid][0]
                if ah == 0:
                    tv = dc >> al
                    _jpeg_put_coef(wr, dc_t, 0, tv - preds[ci])
                    preds[ci] = tv
                else:
                    wr.put((dc >> al) & 1, 1)
        out += wr.flush()

    # --- AC scans (single component, per spectral band) --------------
    for ci in range(nc):
        hs, vs = samplings[ci]
        comp_bids = _prog_scan_units(
            [(ci, 0, 0)], comps, mcx, mcy, hmax, vmax, width, height
        )
        bid_idx = np.asarray(comp_bids, dtype=np.int64)
        band_abs = {
            (bs, be): np.abs(zz_arrs[ci][bid_idx][:, bs : be + 1])
            for bs, be in ac_bands
        }
        for bs, be in ac_bands:
            for ah, al in [(0, al_ac)] + [
                (a + 1, a) for a in range(al_ac - 1, -1, -1)
            ]:
                # Bulk PURE-BLOCK detection (r14; the encoder mirror of
                # the decoder's EOB-run batching): a block whose band
                # coefficients all vanish at this point transform
                # contributes exactly ``eobrun += 1`` in BOTH scan
                # kinds — AC first: no nonzero, so any_nz stays False;
                # AC refinement: every t == 0, so r > 0 with an empty
                # correction buffer — so one vectorized max per scan
                # replaces the 63-position Python loop for them.
                # Flat-block corpora (the synth oracle shape) are pure
                # almost everywhere; profiled 3.03 s -> see
                # OPTIMIZATION_r14.md (11.6M abs() calls removed per
                # 300 images).
                pure = ((band_abs[(bs, be)] >> al).max(axis=1) == 0).tolist()
                out += sos([ci], bs, be, ah, al)
                wr = _JpegBitWriter()
                eobrun = 0
                bebuf: list[int] = []

                def flush_eob() -> None:
                    nonlocal eobrun
                    if eobrun:
                        nb_ = eobrun.bit_length() - 1
                        code, length = ac_t[nb_ << 4]
                        wr.put(code, length)
                        if nb_:
                            wr.put(eobrun - (1 << nb_), nb_)
                        eobrun = 0
                    for b_ in bebuf:
                        wr.put(b_, 1)
                    bebuf.clear()

                rst = 0
                mcu = 0
                for j, bid in enumerate(comp_bids):
                    if ri and mcu and mcu % ri == 0:
                        flush_eob()
                        out += wr.flush()
                        out += bytes([0xFF, 0xD0 + (rst & 7)])
                        rst += 1
                        wr = _JpegBitWriter()
                    mcu += 1
                    if pure[j]:
                        eobrun += 1
                        if eobrun == 0x7FFF:
                            flush_eob()
                        continue
                    zz = zzs[ci][bid]
                    if ah == 0:  # AC first scan at precision al
                        r = 0
                        any_nz = False
                        for k in range(bs, be + 1):
                            v = zz[k]
                            t = (abs(v) >> al) if v >= 0 else -(abs(v) >> al)
                            if t == 0:
                                r += 1
                                continue
                            if not any_nz:
                                flush_eob()
                                any_nz = True
                            while r > 15:
                                code, length = ac_t[0xF0]
                                wr.put(code, length)
                                r -= 16
                            s = abs(t).bit_length()
                            code, length = ac_t[(r << 4) | s]
                            wr.put(code, length)
                            wr.put(t if t >= 0 else t + (1 << s) - 1, s)
                            r = 0
                        if not any_nz or r > 0:
                            eobrun += 1
                            if eobrun == 0x7FFF:
                                flush_eob()
                    else:  # AC refinement scan: Ah = al+1 -> Al = al
                        p_bits: list[int] = []  # bits since last symbol
                        ab = [abs(zz[k]) >> al for k in range(bs, be + 1)]
                        eobpos = -1
                        for j, t in enumerate(ab):
                            if t == 1:
                                eobpos = j
                        r = 0
                        for j, t in enumerate(ab):
                            if t == 0:
                                r += 1
                                continue
                            while r > 15 and j <= eobpos:
                                flush_eob()
                                code, length = ac_t[0xF0]
                                wr.put(code, length)
                                r -= 16
                                for b_ in p_bits:
                                    wr.put(b_, 1)
                                p_bits = []
                            if t > 1:
                                p_bits.append(t & 1)
                                continue
                            flush_eob()
                            code, length = ac_t[(r << 4) | 1]
                            wr.put(code, length)
                            wr.put(1 if zz[bs + j] > 0 else 0, 1)
                            for b_ in p_bits:
                                wr.put(b_, 1)
                            p_bits = []
                            r = 0
                        if r > 0 or p_bits:
                            eobrun += 1
                            bebuf.extend(p_bits)
                            if eobrun == 0x7FFF:
                                flush_eob()
                flush_eob()
                out += wr.flush()

    return bytes(out) + b"\xff\xd9"


def encode_gray_jpeg_flat(blocks: np.ndarray) -> bytes:
    """(rows, cols) uint8 of FLAT BLOCK VALUES → baseline grayscale JFIF
    where entry (r, c) is an entire constant 8×8 pixel block — a
    (rows·8, cols·8) image.  DC-only coefficients with an all-ones
    quantization table make decode(encode(x)) an exact round-trip (see
    the JPEG section comment), which is what keeps JPEG corpora
    SQL-oracle-derivable.  Empty input → b'' (no media)."""
    arr = np.asarray(blocks, dtype=np.uint8)
    if arr.ndim != 2:
        raise ValueError(
            f"encode_gray_jpeg_flat expects (rows, cols), got shape {arr.shape}"
        )
    rows, cols = arr.shape
    if rows == 0 or cols == 0:
        return b""
    coeffs = np.zeros((rows, cols, 8, 8), dtype=np.int64)
    coeffs[:, :, 0, 0] = 8 * (arr.astype(np.int64) - 128)
    return _encode_jpeg_coeffs([coeffs], rows * 8, cols * 8)


def decode_image_builtin(payload: bytes | None) -> np.ndarray | None:
    """Dependency-free image decode: BMP, PNM, PNG, or JPEG (baseline
    AND progressive) by magic bytes → (h, w) uint8 grayscale; None for
    anything else (undecodable)."""
    if not payload:
        return None
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:2] in (b"P5", b"P6"):
        return _decode_pnm(payload)
    if payload[: len(_PNG_SIG)] == _PNG_SIG:
        return _decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        return _decode_jpeg(payload)
    return None


def _decode_features(payload: bytes | None, dim: int) -> tuple[int, np.ndarray]:
    """THE image featurization: image bytes → (n_pixels, L1-normalized
    grayscale intensity histogram) — deterministic given the payload.
    TOTAL: corrupt/truncated/undecodable payloads yield (0, zero
    vector) instead of failing the task (filter n_pixels == 0
    downstream)."""
    arr = decode_image_builtin(payload)
    if arr is None or arr.size == 0:
        return 0, np.zeros(dim, dtype=np.float32)
    flat = arr.ravel()
    hist, _ = np.histogram(flat, bins=dim, range=(0, 256))
    return flat.size, (hist / flat.size).astype(np.float32)


# --- audio: WAV (RIFF PCM) --------------------------------------------
#
# The third modality, same design as images: a REAL standard container
# decoded pure-Python (canonical RIFF/WAVE with PCM 8-bit unsigned or
# 16-bit signed samples; unknown chunks skipped), total on hostile
# bytes, featurized as an amplitude histogram whose bins are integer
# counts — SQL-oracle-friendly by construction.

AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

_WAV_HEADER_BYTES = 44  # canonical RIFF + fmt(16) + data headers


def encode_wav_pcm8(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """1-D uint8 samples → canonical mono 8-bit-PCM WAV (44-byte
    header + data — closed-form size for SQL oracles).  8-bit WAV is
    UNSIGNED by spec (center 128).  Empty input → b'' (no media)."""
    arr = np.asarray(samples, dtype=np.uint8)
    if arr.ndim != 1:
        raise ValueError(f"encode_wav_pcm8 expects 1-D samples, got shape {arr.shape}")
    if arr.size == 0:
        return b""
    data = arr.tobytes()
    return (
        b"RIFF"
        + (36 + len(data)).to_bytes(4, "little")
        + b"WAVE"
        + b"fmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")  # PCM
        + (1).to_bytes(2, "little")  # mono
        + sample_rate.to_bytes(4, "little")
        + sample_rate.to_bytes(4, "little")  # byte rate (1 B/sample)
        + (1).to_bytes(2, "little")  # block align
        + (8).to_bytes(2, "little")  # bits
        + b"data"
        + len(data).to_bytes(4, "little")
        + data
    )


def _decode_wav(payload: bytes) -> tuple[int, int, np.ndarray] | None:
    """RIFF/WAVE PCM → (sample_rate, n_channels, (n, ch) uint8
    amplitude grid) or None if not decodable.  8-bit unsigned passes
    through; 16-bit signed quantizes to the same uint8 amplitude scale
    ((v + 32768) >> 8) so every downstream featurizer sees ONE domain.
    Unknown chunks (LIST, fact, …) are skipped by declared size; a
    truncated data chunk is rejected, never partially read."""
    try:
        if len(payload) < _WAV_HEADER_BYTES or payload[:4] != b"RIFF":
            return None
        if payload[8:12] != b"WAVE":
            return None
        i = 12
        fmt = None
        data: bytes | None = None
        while i + 8 <= len(payload):
            cid = payload[i : i + 4]
            ln = int.from_bytes(payload[i + 4 : i + 8], "little")
            body_end = i + 8 + ln
            if body_end > len(payload):
                return None  # truncated chunk
            if cid == b"fmt ":
                fmt = payload[i + 8 : body_end]
            elif cid == b"data":
                data = payload[i + 8 : body_end]
            i = body_end + (ln & 1)  # chunks pad to even offsets
        if fmt is None or data is None or len(fmt) < 16:
            return None
        audio_format = int.from_bytes(fmt[0:2], "little")
        channels = int.from_bytes(fmt[2:4], "little")
        rate = int.from_bytes(fmt[4:8], "little")
        bits = int.from_bytes(fmt[14:16], "little")
        if audio_format != 1 or channels < 1 or rate <= 0 or bits not in (8, 16):
            return None
        bytes_per_frame = channels * (bits // 8)
        n = len(data) // bytes_per_frame
        if n == 0:
            return None
        data = data[: n * bytes_per_frame]
        if bits == 8:
            grid = np.frombuffer(data, dtype=np.uint8).reshape(n, channels)
        else:
            s16 = np.frombuffer(data, dtype="<i2").reshape(n, channels)
            grid = ((s16.astype(np.int32) + 32768) >> 8).astype(np.uint8)
        return rate, channels, grid
    except Exception:
        return None


def extract_audio_features(
    df: DataFrame,
    *,
    payload_col: str = "payload",
    id_col: str = "media_id",
    mime_col: str = "mime",
    dim: int = 16,
    strict: bool = False,
) -> DataFrame:
    """Binary audio payload → fixed-dim amplitude histogram, one
    mapInPandas stage — the audio sibling of extract_image_features.

    Parses WAV (RIFF PCM 8/16-bit, any channel count — channel 0 is
    featurized; the histogram describes the waveform, not the mix),
    yielding ``n_samples`` per-channel frames, ``duration_ms =
    n_samples·1000 // rate`` (integer), and an L1-normalized
    ``dim``-bin amplitude histogram (float32).  Undecodable payloads:
    zero vector, n_samples = 0, duration 0 — total, or ``strict=True``
    raises."""
    if dim <= 0 or 256 % dim != 0:
        raise ValueError(
            f"extract_audio_features: dim must divide 256, got {dim}"
        )
    bin_div = 256 // dim

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def decode(b):
            dec = _decode_wav(bytes(b)) if b else None
            if dec is None:
                if strict and b:
                    raise ValueError(
                        f"extract_audio_features(strict=True): undecodable "
                        f"{len(b)}-byte payload (magic {bytes(b)[:4]!r}); "
                        "built-in decode covers RIFF/WAVE PCM 8/16-bit"
                    )
                return 0, 0, np.zeros(dim, dtype=np.float32)
            rate, _ch, grid = dec
            wave = grid[:, 0]
            hist = np.bincount(wave // bin_div, minlength=dim).astype(np.float64)
            return (
                len(wave),
                len(wave) * 1000 // rate,
                (hist / len(wave)).astype(np.float32),
            )

        for pdf in it:
            payloads = pdf[payload_col]
            decoded = payloads.map(decode)
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "mime": pdf[mime_col],
                    "n_bytes": payloads.map(
                        lambda b: 0 if b is None else len(b)
                    ).astype("int64"),
                    "n_samples": decoded.map(lambda t: t[0]).astype("int64"),
                    "duration_ms": decoded.map(lambda t: t[1]).astype("int64"),
                    "feature": decoded.map(lambda t: t[2].tolist()),
                }
            )

    return df.mapInPandas(batches, AUDIO_FEATURE_SCHEMA)


def synthesize_media_wav(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_rate: int = 8000,
) -> DataFrame:
    """Build a REAL-audio media table from any text table: each doc's
    utf-8 bytes become the unsigned 8-bit PCM samples of a mono WAV —
    sample i IS text byte i, so SQL oracles derive amplitude
    histograms, n_samples, and duration from the text alone (n_bytes =
    44 + len, the canonical-header closed form; no padding anywhere).
    Empty/NULL text → empty payload.  One mapInPandas pass, no
    shuffle — the audio sibling of synthesize_media_bmp/_y4m."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("mime", T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("duration_ms", T.LongType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads, durs = [], []
            for text in pdf[text_col]:
                data = (text or "").encode("utf-8")
                if not data:
                    payloads.append(b"")
                    durs.append(0)
                    continue
                payloads.append(
                    encode_wav_pcm8(
                        np.frombuffer(data, dtype=np.uint8), sample_rate
                    )
                )
                durs.append(len(data) * 1000 // sample_rate)
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "payload": payloads,
                    "mime": "audio/wav",
                    "width": np.int32(0),
                    "height": np.int32(0),
                    "duration_ms": pd.Series(durs, dtype="int64"),
                }
            )

    # project to the two consumed columns BEFORE the mapInPandas
    # boundary: Python UDF stages are black boxes to Catalyst, so
    # without this the parquet scan reads every documents column
    return df.select(id_col, text_col).mapInPandas(batches, out_schema)


def extract_image_features(
    df: DataFrame,
    *,
    payload_col: str = "payload",
    id_col: str = "media_id",
    mime_col: str = "mime",
    dim: int = 16,
    strict: bool = False,
) -> DataFrame:
    """Binary payload → fixed-dim feature vector, one mapInPandas stage.

    Batches stream through Arrow; nothing is collected.  Decode runs
    the built-in BMP/PNM/PNG/JPEG codecs (pure Python, always
    available).  ``n_pixels`` is the decoded pixel count; 0 for
    undecodable payloads (any other format included), whose feature is
    the zero vector, so ``feature != zeros ⇔ n_pixels > 0``.

    ``strict=True`` turns an undecodable NON-EMPTY payload into a loud
    task error instead of a zero vector — the per-payload totality
    default is right for dirty crawl data, but it also masks a corpus
    in a format the codecs do not cover (it would silently featurize
    to 100% zeros); pipelines over trusted formats should run strict."""

    def decode(b):
        n, feat = _decode_features(b, dim)
        if strict and n == 0 and b:
            raise ValueError(
                f"extract_image_features(strict=True): undecodable "
                f"{len(b)}-byte payload (magic {b[:4]!r}); built-in "
                "codecs cover BMP/PNM/PNG/baseline+progressive JPEG"
            )
        return n, feat.tolist()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf[payload_col]
            decoded = payloads.map(decode)
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "mime": pdf[mime_col],
                    "n_bytes": payloads.map(lambda b: 0 if b is None else len(b)).astype("int64"),
                    "n_pixels": decoded.map(lambda t: t[0]).astype("int64"),
                    "feature": decoded.map(lambda t: t[1]),
                }
            )

    return df.mapInPandas(batches, IMAGE_FEATURE_SCHEMA)


_Y4M_SIG = b"YUV4MPEG2 "


def encode_y4m_gray(frames: np.ndarray, fps: tuple[int, int] = (25, 1)) -> bytes:
    """(t, h, w) uint8 luma frames → Y4M (YUV4MPEG2, ``Cmono``) — the
    standard UNCOMPRESSED video container (what ``ffmpeg -f yuv4mpegpipe``
    emits).  Byte length is closed-form: header + t·(6 + h·w), so SQL
    oracles can derive sizes.  Empty input → b''."""
    arr = np.asarray(frames, dtype=np.uint8)
    if arr.ndim != 3:
        raise ValueError(f"encode_y4m_gray expects (t, h, w), got shape {arr.shape}")
    t, h, w = arr.shape
    if t == 0 or h == 0 or w == 0:
        return b""
    header = f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 Cmono\n".encode("ascii")
    return header + b"".join(b"FRAME\n" + arr[i].tobytes() for i in range(t))


def _parse_y4m(payload: bytes) -> tuple[int, int, int, list[int]] | None:
    """Parse a Y4M container: returns (w, h, luma_size, [frame data
    offsets]) or None if not decodable Y4M.  Handles Cmono / C420* /
    C422 / C444 frame sizes (the luma plane leads every frame, so
    grayscale extraction never needs the chroma)."""
    try:
        if not payload.startswith(_Y4M_SIG):
            return None
        nl = payload.find(b"\n")
        if nl < 0:
            return None
        w = h = 0
        cs = b"420"
        for p in payload[len(_Y4M_SIG) : nl].split(b" "):
            if p[:1] == b"W":
                w = int(p[1:])
            elif p[:1] == b"H":
                h = int(p[1:])
            elif p[:1] == b"C":
                cs = p[1:]
        if w <= 0 or h <= 0:
            return None
        luma = w * h
        if cs.startswith(b"mono"):
            fsize = luma
        elif cs.startswith(b"420"):
            if w % 2 or h % 2:
                return None
            fsize = luma + 2 * (w // 2) * (h // 2)
        elif cs.startswith(b"422"):
            if w % 2:
                return None
            fsize = luma + 2 * (w // 2) * h
        elif cs.startswith(b"444"):
            fsize = 3 * luma
        else:
            return None
        offs: list[int] = []
        i = nl + 1
        while i < len(payload):
            if payload[i : i + 5] != b"FRAME":
                return None
            j = payload.find(b"\n", i)
            if j < 0:
                return None
            start = j + 1
            if start + fsize > len(payload):
                return None  # truncated frame
            offs.append(start)
            i = start + fsize
        if not offs:
            return None
        return w, h, luma, offs
    except Exception:
        return None


def _sample_indices(total: int, n_frames: int) -> list[int]:
    """Deterministic even sampling: k = min(n_frames, total) source
    indices ⌊j·total/k⌋ — strictly increasing (total/k ≥ 1), always
    includes frame 0, engine-independent integer math (the contract the
    SQL oracle mirrors)."""
    k = min(n_frames, total)
    return [(j * total) // k for j in range(k)]


def sample_frames(
    df: DataFrame,
    *,
    payload_col: str = "payload",
    id_col: str = "media_id",
    n_frames: int = 4,
    strict: bool = False,
) -> DataFrame:
    """Video → frame rows (one output row per sampled frame): the
    row-expanding mapInPandas shape.

    Decodes Y4M (YUV4MPEG2 — the standard uncompressed container,
    ``ffmpeg -f yuv4mpegpipe`` output) built-in with zero dependencies
    (header + fixed-size frames; the luma plane leads each frame for
    every colorspace, so grayscale extraction is a slice).  Each
    sampled frame is emitted as a standalone grayscale PNG payload
    (encode_gray_png), so the frame rows compose directly with
    extract_image_features / image near-dup — video becomes images
    after ONE stage.  Sampling is deterministic integer math: k =
    min(n_frames, total) source indices ⌊j·total/k⌋; ``frame_index``
    is the SOURCE index.  Undecodable payloads (compressed containers
    included) yield zero rows (total, the crawl default) unless
    ``strict=True`` raises.

    Scale: embarrassingly parallel mapInPandas, no shuffle; memory per
    task is one frame (Y4M slices by offset)."""
    if n_frames < 1:
        raise ValueError(f"sample_frames: n_frames must be >= 1, got {n_frames}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_ids, out_idx, out_payload = [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                payload = bytes(payload) if payload else b""
                parsed = _parse_y4m(payload)
                if parsed is None:
                    if strict and payload:
                        raise ValueError(
                            f"sample_frames(strict=True): undecodable "
                            f"{len(payload)}-byte payload (magic "
                            f"{payload[:10]!r}); built-in decode covers Y4M"
                        )
                    continue  # total: zero rows for undecodable video
                w, h, luma, offs = parsed
                for idx in _sample_indices(len(offs), n_frames):
                    arr = np.frombuffer(
                        payload, np.uint8, count=luma, offset=offs[idx]
                    ).reshape(h, w)
                    out_ids.append(mid)
                    out_idx.append(idx)
                    out_payload.append(encode_gray_png(arr))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out_ids, dtype="int64"),
                    "frame_index": pd.Series(out_idx, dtype="int32"),
                    "frame_payload": out_payload,
                }
            )

    return df.mapInPandas(batches, FRAME_SAMPLE_SCHEMA)


def synthesize_media_y4m(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 16,
    height: int = 4,
) -> DataFrame:
    """Build a REAL-video media table from any text table: each doc's
    utf-8 bytes become consecutive ``height×width`` luma frames of a
    Y4M (Cmono) clip, the final frame zero-padded — so frame ``i``'s
    raster IS text bytes [i·h·w, (i+1)·h·w) and SQL oracles can derive
    per-frame pixel statistics from substrings.  Empty/NULL text →
    empty payload (no media).  One mapInPandas pass, no shuffle — the
    video sibling of synthesize_media_bmp."""
    frame_bytes = width * height
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("mime", T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("duration_ms", T.LongType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads, frames_n = [], []
            for text in pdf[text_col]:
                data = (text or "").encode("utf-8")
                t = (len(data) + frame_bytes - 1) // frame_bytes
                if t == 0:
                    payloads.append(b"")
                    frames_n.append(0)
                    continue
                arr = np.frombuffer(
                    data.ljust(t * frame_bytes, b"\0"), dtype=np.uint8
                ).reshape(t, height, width)
                payloads.append(encode_y4m_gray(arr))
                frames_n.append(t)
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "payload": payloads,
                    "mime": "video/x-yuv4mpeg",
                    "width": np.int32(width),
                    "height": np.int32(height),
                    # 25 fps → 40 ms per frame
                    "duration_ms": pd.Series(
                        [n * 40 for n in frames_n], dtype="int64"
                    ),
                }
            )

    # project to the two consumed columns BEFORE the mapInPandas
    # boundary: Python UDF stages are black boxes to Catalyst, so
    # without this the parquet scan reads every documents column
    return df.select(id_col, text_col).mapInPandas(batches, out_schema)


def synthesize_media_bmp(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 32,
    codec: Literal["bmp", "png", "alternate"] = "bmp",
) -> DataFrame:
    """Build a REAL-pixel media table from any text table: each doc's
    utf-8 bytes become the grayscale raster of a 24-bit BMP (or an
    8-bit grayscale PNG), ``width`` pixels per row, final row
    zero-padded.  decode(encode(text)) is an exact round-trip through
    the built-in codecs, so feature pipelines get pixel-true
    payloads with byte-derivable oracles (the pixel stream IS
    text-bytes + pad zeros; the PNG encoder's stored-block zlib keeps
    even its byte LENGTH closed-form).  ``codec='alternate'`` encodes
    even ids as BMP and odd ids as PNG — a mixed-format corpus on one
    table, the shape real crawls have.  Empty/NULL text → empty
    payload (no media).  One mapInPandas pass, no shuffle."""
    if codec not in ("bmp", "png", "alternate"):
        raise ValueError(
            f"synthesize_media_bmp: unknown codec {codec!r} (bmp|png|alternate)"
        )
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("mime", T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("duration_ms", T.LongType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads, heights, mimes = [], [], []
            for mid, text in zip(pdf[id_col], pdf[text_col]):
                use_png = codec == "png" or (codec == "alternate" and int(mid) % 2 == 1)
                data = (text or "").encode("utf-8")
                rows = (len(data) + width - 1) // width
                if rows == 0:
                    payloads.append(b"")
                    heights.append(0)
                    mimes.append("image/png" if use_png else "image/bmp")
                    continue
                arr = np.frombuffer(
                    data.ljust(rows * width, b"\0"), dtype=np.uint8
                ).reshape(rows, width)
                payloads.append(
                    encode_gray_png(arr) if use_png else encode_gray_bmp(arr)
                )
                heights.append(rows)
                mimes.append("image/png" if use_png else "image/bmp")
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "payload": payloads,
                    "mime": mimes,
                    "width": np.int32(width),
                    "height": pd.Series(heights, dtype="int32"),
                    "duration_ms": np.int64(0),
                }
            )

    # project to the two consumed columns BEFORE the mapInPandas
    # boundary: Python UDF stages are black boxes to Catalyst, so
    # without this the parquet scan reads every documents column
    return df.select(id_col, text_col).mapInPandas(batches, out_schema)


def encode_gray_jpeg_prog_flat(blocks: np.ndarray) -> bytes:
    """PROGRESSIVE (SOF2) sibling of :func:`encode_gray_jpeg_flat`:
    the same flat-block DC-only coefficients emitted as a ten-scan
    successive-approximation stream (DC first at Al=2 + two DC
    refinement scans, two spectral AC bands each with a first scan at
    Al=1 plus a refinement scan — all-EOB-run since AC is zero — and
    a restart interval through every scan — 37 MCUs, so docs past ~148
    chars carry multiple restart segments per scan without the
    hundreds-of-tiny-segments pathology a very small interval caused),
    so decoding exercises the full Annex G progressive path while the
    pixels stay bit-identical to the baseline encoding of the same
    text.  Empty input → b''."""
    arr = np.asarray(blocks, dtype=np.uint8)
    if arr.ndim != 2:
        raise ValueError(
            f"encode_gray_jpeg_prog_flat expects (rows, cols), got shape {arr.shape}"
        )
    rows, cols = arr.shape
    if rows == 0 or cols == 0:
        return b""
    coeffs = np.zeros((rows, cols, 8, 8), dtype=np.int64)
    coeffs[:, :, 0, 0] = 8 * (arr.astype(np.int64) - 128)
    return encode_jpeg_progressive(
        [coeffs], rows * 8, cols * 8, al_dc=2, al_ac=1, restart_interval=37
    )


def synthesize_media_jpeg(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width_blocks: int = 4,
    codec: Literal["baseline", "progressive"] = "baseline",
) -> DataFrame:
    """Build a REAL baseline-JPEG media table from any text table: each
    doc's utf-8 bytes become the FLAT 8×8 BLOCKS of a grayscale JFIF —
    byte value = block intensity, ``width_blocks`` blocks per row,
    final row zero-padded — so the decoded raster is exactly
    ``kron(bytes, ones(8,8))`` and decode(encode(text)) is an exact
    round-trip through the built-in baseline decoder (DC-only blocks,
    all-ones quant table; see the JPEG section comment).  The pixel
    stream stays byte-derivable for SQL oracles: every text byte
    contributes exactly 64 pixels of its own value, pad blocks 64
    zeros.  Empty/NULL text → empty payload (no media).  One
    mapInPandas pass, no shuffle — same plumbing as the BMP/PNG/WAV/Y4M
    synths.

    ``codec='progressive'`` emits the SAME pixels as a multi-scan SOF2
    successive-approximation stream (encode_gray_jpeg_prog_flat), so
    the one oracle serves both codecs while the decode exercises the
    progressive path."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("mime", T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("duration_ms", T.LongType()),
        ]
    )

    if codec not in ("baseline", "progressive"):
        raise ValueError(
            f"synthesize_media_jpeg codec must be baseline/progressive, got {codec!r}"
        )
    encode = (
        encode_gray_jpeg_flat if codec == "baseline" else encode_gray_jpeg_prog_flat
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads, heights = [], []
            for text in pdf[text_col]:
                data = (text or "").encode("utf-8")
                rows = (len(data) + width_blocks - 1) // width_blocks
                if rows == 0:
                    payloads.append(b"")
                    heights.append(0)
                    continue
                arr = np.frombuffer(
                    data.ljust(rows * width_blocks, b"\0"), dtype=np.uint8
                ).reshape(rows, width_blocks)
                payloads.append(encode(arr))
                heights.append(rows * 8)
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "payload": payloads,
                    "mime": "image/jpeg",
                    "width": np.int32(width_blocks * 8),
                    "height": pd.Series(heights, dtype="int32"),
                    "duration_ms": np.int64(0),
                }
            )

    # project to the two consumed columns BEFORE the mapInPandas
    # boundary: Python UDF stages are black boxes to Catalyst, so
    # without this the parquet scan reads every documents column
    return df.select(id_col, text_col).mapInPandas(batches, out_schema)


def image_features_jpeg_oracle_sql(
    doc_pred: str = "TRUE",
    dim: int = 16,
    table: str = "documents",
    width_blocks: int = 4,
) -> str:
    """DuckDB mirror of ``synthesize_media_jpeg → extract_image_features`` as a
    parenthesized subquery yielding (media_id, mime, n_pixels, feature REAL[]).

    Valid for ASCII corpora (the driver's test tables are): the decoded
    raster is each text byte repeated as a flat 8×8 block, so bin b
    counts ``64 ×`` the chars with ``ascii // (256/dim) = b`` — plus
    ``64 ×`` the pad-block count in bin 0 — over ``n_pixels =
    rows · width_blocks · 64`` real pixels.  ``n_bytes`` is NOT emitted:
    huffman scan length has no SQL closed form (the one column the
    lossless-container oracles could derive that entropy coding
    can't).

    The ASCII restriction is GUARDED, not assumed: the synth encodes
    UTF-8 BYTES while this oracle counts CHARACTERS, so the ``d`` CTE
    raises a DuckDB ``error()`` on the first row where
    ``octet_length(encode(text)) != length(text)`` — a future
    non-ASCII corpus fails loudly with a named cause instead of
    silently hash-mismatching (r11 ADVICE)."""
    bin_width = 256 // dim
    bins = ", ".join(
        f"SUM(CASE WHEN ascii(ch) // {bin_width} = {b} THEN 1 ELSE 0 END) AS c{b}"
        for b in range(dim)
    )
    pad = f"(d.rows_ * {width_blocks} - d.len)"
    terms = []
    for b in range(dim):
        c = f"COALESCE(c.c{b}, 0)" + (f" + {pad}" if b == 0 else "")
        terms.append(
            f"CASE WHEN d.len > 0 THEN CAST(CAST(({c}) * 64 AS DOUBLE) "
            f"/ CAST(d.rows_ * {width_blocks} * 64 AS DOUBLE) AS REAL) "
            f"ELSE CAST(0.0 AS REAL) END"
        )
    feature = "[" + ", ".join(terms) + "]"
    return (
        f"(WITH d AS (SELECT CAST(doc_id AS BIGINT) AS media_id, "
        f"'image/jpeg' AS mime, "
        f"CASE WHEN COALESCE(octet_length(encode(text)), 0) = COALESCE(length(text), 0) "
        f"THEN COALESCE(length(text), 0) "
        f"ELSE CAST(error('jpeg oracle requires ASCII text: synth encodes UTF-8 bytes, oracle counts chars') AS BIGINT) END AS len, "
        f"CAST(CEIL(COALESCE(length(text), 0) / {width_blocks}.0) AS BIGINT) AS rows_, "
        f"text FROM {table} WHERE {doc_pred}), "
        f"chars AS (SELECT media_id, unnest(string_split_regex(text, '')) AS ch "
        f"FROM d WHERE len > 0), "
        f"cnt AS (SELECT media_id, {bins} FROM chars GROUP BY media_id) "
        f"SELECT d.media_id, d.mime, "
        f"CASE WHEN d.len > 0 THEN d.rows_ * {width_blocks} * 64 ELSE 0 END AS n_pixels, "
        f"{feature} AS feature FROM d LEFT JOIN cnt c USING (media_id))"
    )


def image_features_bmp_oracle_sql(
    doc_pred: str = "TRUE",
    dim: int = 16,
    table: str = "documents",
    width: int = 32,
    codec: Literal["bmp", "png", "alternate"] = "bmp",
) -> str:
    """DuckDB mirror of ``synthesize_media_bmp → extract_image_features`` as a
    parenthesized subquery yielding (media_id, mime, n_bytes, n_pixels, feature REAL[]).

    Valid for ASCII corpora (the driver's test tables are — verified):
    the BMP raster is exactly text-bytes plus ``rows·width − len`` pad
    zeros, and the built-in decoder recovers it bit-for-bit (R=G=B luma
    is the identity), so bin b counts chars with ``ascii // (256/dim)
    = b`` — plus the pad count in bin 0 — over ``n_pixels = rows·width``
    real pixels.  ``n_bytes`` is the encoded BMP size: 54-byte header +
    rows · stride, stride = width·3 rounded up to 4.

    ``codec`` mirrors :func:`synthesize_media_bmp`'s: PNG payloads
    (encode_gray_png's stored-block zlib) have the closed-form size
    ``63 + 5·⌈raw/65535⌉ + raw`` with ``raw = rows·(width+1)``, so the
    mixed-format ``alternate`` corpus (odd ids PNG, even BMP) stays
    fully SQL-derivable — bins and n_pixels are codec-independent (both
    encoders carry the identical raster)."""
    bin_width = 256 // dim
    stride = (width * 3 + 3) & ~3
    bmp_bytes = f"54 + d.rows_ * {stride}"
    png_raw = f"d.rows_ * {width + 1}"
    png_bytes = f"63 + 5 * CAST(CEIL(({png_raw}) / 65535.0) AS BIGINT) + {png_raw}"
    if codec == "bmp":
        mime = "'image/bmp'"
        nbytes = bmp_bytes
    elif codec == "png":
        mime = "'image/png'"
        nbytes = png_bytes
    elif codec == "alternate":
        # % 2 <> 0, not = 1: DuckDB's -3 % 2 is -1 while Python's is 1 —
        # the inequality makes "odd" agree across engines for any sign
        mime = "CASE WHEN doc_id % 2 <> 0 THEN 'image/png' ELSE 'image/bmp' END"
        nbytes = (
            f"CASE WHEN d.media_id % 2 <> 0 THEN {png_bytes} ELSE {bmp_bytes} END"
        )
    else:
        raise ValueError(
            f"image_features_bmp_oracle_sql: unknown codec {codec!r} "
            "(bmp|png|alternate)"
        )
    bins = ", ".join(
        f"SUM(CASE WHEN ascii(ch) // {bin_width} = {b} THEN 1 ELSE 0 END) AS c{b}"
        for b in range(dim)
    )
    pad = "(d.rows_ * {w} - d.len)".format(w=width)
    terms = []
    for b in range(dim):
        c = f"COALESCE(c.c{b}, 0)" + (f" + {pad}" if b == 0 else "")
        terms.append(
            f"CASE WHEN d.len > 0 THEN CAST(CAST({c} AS DOUBLE) "
            f"/ CAST(d.rows_ * {width} AS DOUBLE) AS REAL) ELSE CAST(0.0 AS REAL) END"
        )
    feature = "[" + ", ".join(terms) + "]"
    return (
        f"(WITH d AS (SELECT CAST(doc_id AS BIGINT) AS media_id, "
        f"{mime} AS mime, COALESCE(length(text), 0) AS len, "
        f"CAST(CEIL(COALESCE(length(text), 0) / {width}.0) AS BIGINT) AS rows_, "
        f"text FROM {table} WHERE {doc_pred}), "
        f"chars AS (SELECT media_id, unnest(string_split_regex(text, '')) AS ch "
        f"FROM d WHERE len > 0), "
        f"cnt AS (SELECT media_id, {bins} FROM chars GROUP BY media_id) "
        f"SELECT d.media_id, d.mime, "
        f"CASE WHEN d.len > 0 THEN {nbytes} ELSE 0 END AS n_bytes, "
        f"CASE WHEN d.len > 0 THEN d.rows_ * {width} ELSE 0 END AS n_pixels, "
        f"{feature} AS feature FROM d LEFT JOIN cnt c USING (media_id))"
    )
