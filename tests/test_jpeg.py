"""Baseline-JPEG codec tests (functions/multimodal.py): exact flat-block
round-trip, the general decode paths (AC runs / ZRL / EOB, restart
intervals, subsampled multi-component scans) pinned against direct iDCT
math, totality on hostile bytes, and the Spark synth → feature
pipeline.  Plus the adversarial PNG-decoder fuzz cases the r10 verdict
asked for — both codecs are load-bearing for image_decode/jpeg_decode/
image_neardup, so corrupt payloads must yield None (zero vector
downstream), never a raised task error."""

from __future__ import annotations

import numpy as np
import pytest

from openetlagent_spark.functions.multimodal import (
    _JPEG_A,
    _decode_jpeg,
    _decode_png,
    _encode_jpeg_coeffs,
    decode_image_builtin,
    encode_gray_jpeg_flat,
    encode_gray_png,
)


def _idct_block(coeffs: np.ndarray) -> np.ndarray:
    """Reference iDCT + level shift, computed independently of the
    decoder's inner loop."""
    pix = _JPEG_A.T @ coeffs.astype(np.float64) @ _JPEG_A
    return np.clip(np.round(pix) + 128, 0, 255).astype(np.uint8)


# --- JPEG: round-trips ------------------------------------------------


def test_jpeg_flat_block_roundtrip_exact():
    rng = np.random.default_rng(11)
    blocks = rng.integers(0, 256, size=(6, 5), dtype=np.uint8)
    payload = encode_gray_jpeg_flat(blocks)
    img = _decode_jpeg(payload)
    assert img is not None and img.shape == (48, 40)
    assert (img == np.kron(blocks, np.ones((8, 8), dtype=np.uint8))).all()


def test_jpeg_flat_extremes_roundtrip():
    """0 and 255 hit the largest DC magnitudes (category 11) and the
    clip boundaries."""
    blocks = np.array([[0, 255, 0, 255], [255, 0, 128, 1]], dtype=np.uint8)
    img = _decode_jpeg(encode_gray_jpeg_flat(blocks))
    assert img is not None
    assert (img == np.kron(blocks, np.ones((8, 8), dtype=np.uint8))).all()


def test_jpeg_general_ac_coefficients_match_direct_idct():
    """Sparse random AC patterns exercise run-length coding, ZRL, and
    EOB; every decoded block must equal the direct iDCT of its
    coefficients."""
    rng = np.random.default_rng(23)
    coeffs = np.zeros((3, 4, 8, 8), dtype=np.int64)
    mask = rng.random((3, 4, 8, 8)) < 0.2
    coeffs[mask] = rng.integers(-300, 300, size=int(mask.sum()))
    coeffs[1, 2, 7, 7] = 50  # forces a long zero run ending in a coefficient
    img = _decode_jpeg(_encode_jpeg_coeffs([coeffs], 24, 32))
    assert img is not None and img.shape == (24, 32)
    for by in range(3):
        for bx in range(4):
            assert (
                img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                == _idct_block(coeffs[by, bx])
            ).all(), (by, bx)


def test_jpeg_restart_intervals_reset_predictors():
    rng = np.random.default_rng(31)
    coeffs = np.zeros((2, 6, 8, 8), dtype=np.int64)
    coeffs[:, :, 0, 0] = rng.integers(-900, 900, size=(2, 6))
    plain = _decode_jpeg(_encode_jpeg_coeffs([coeffs], 16, 48))
    for ri in (1, 3, 5):
        with_rst = _decode_jpeg(
            _encode_jpeg_coeffs([coeffs], 16, 48, restart_interval=ri)
        )
        assert with_rst is not None and (with_rst == plain).all(), ri


def test_jpeg_subsampled_multicomponent_luma_plane():
    """4:2:0 three-component scan: chroma blocks must be entropy-decoded
    (the bitstream interleaves them) but only the full-resolution luma
    plane is returned."""
    rng = np.random.default_rng(41)
    luma = np.zeros((4, 4, 8, 8), dtype=np.int64)
    luma[:, :, 0, 0] = rng.integers(-800, 800, size=(4, 4))
    luma[0, 0, 0, 1] = 77  # one AC coefficient in the mix
    chroma = np.zeros((2, 2, 8, 8), dtype=np.int64)
    chroma[:, :, 0, 0] = rng.integers(-200, 200, size=(2, 2))
    img = _decode_jpeg(
        _encode_jpeg_coeffs(
            [luma, chroma, chroma.copy()],
            32,
            32,
            samplings=[(2, 2), (1, 1), (1, 1)],
        )
    )
    assert img is not None and img.shape == (32, 32)
    for by in range(4):
        for bx in range(4):
            assert (
                img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                == _idct_block(luma[by, bx])
            ).all(), (by, bx)


def test_jpeg_non_multiple_of_8_dims_crop():
    """Declared dims crop the padded MCU grid."""
    blocks = np.full((2, 3), 200, dtype=np.uint8)
    coeffs = np.zeros((2, 3, 8, 8), dtype=np.int64)
    coeffs[:, :, 0, 0] = 8 * (200 - 128)
    img = _decode_jpeg(_encode_jpeg_coeffs([coeffs], 13, 21))
    assert img is not None and img.shape == (13, 21)
    assert (img == 200).all()


def test_jpeg_empty_input_no_media():
    assert encode_gray_jpeg_flat(np.zeros((0, 4), dtype=np.uint8)) == b""


def test_jpeg_dispatch_magic_bytes():
    blocks = np.array([[64, 192]], dtype=np.uint8)
    payload = encode_gray_jpeg_flat(blocks)
    assert payload[:2] == b"\xff\xd8"
    img = decode_image_builtin(payload)
    assert img is not None and img.shape == (8, 16)


# --- JPEG: totality on hostile bytes ----------------------------------


@pytest.mark.parametrize(
    "mutate",
    [
        lambda p: p[:2],  # bare SOI
        lambda p: p[:30],  # truncated mid-header
        lambda p: p[:-25],  # truncated mid-scan
        lambda p: p[:20] + b"\x00" * 10 + p[30:],  # corrupted segment
        lambda p: p.replace(b"\xff\xc0", b"\xff\xc2", 1),  # progressive SOF
        lambda p: b"\xff\xd8" + bytes(200),  # SOI then zero noise
        lambda p: b"",  # empty
        lambda p: b"\xff\xd9",  # not a JPEG at all
    ],
)
def test_jpeg_hostile_bytes_yield_none(mutate):
    blocks = np.arange(48, dtype=np.uint8).reshape(6, 8) * 5
    payload = encode_gray_jpeg_flat(blocks)
    bad = mutate(payload)
    if bad == payload:  # mutation did not apply — still a valid file
        pytest.skip("mutation no-op")
    assert _decode_jpeg(bad) is None


def test_jpeg_truncated_huffman_value_bits_yield_none():
    """Cut INSIDE the entropy scan so a receive() runs past the data."""
    blocks = np.full((4, 4), 37, dtype=np.uint8)
    payload = encode_gray_jpeg_flat(blocks)
    # locate SOS, then truncate a few bytes into the scan
    sos = payload.index(b"\xff\xda")
    cut = sos + 2 + 2 + 6 + 2  # partial first blocks only
    assert _decode_jpeg(payload[:cut]) is None


# --- PNG: adversarial fuzz (r10 verdict task 7) ------------------------


def _png_sample() -> tuple[np.ndarray, bytes]:
    rng = np.random.default_rng(53)
    pix = rng.integers(0, 256, size=(9, 14), dtype=np.uint8)
    return pix, encode_gray_png(pix)


def test_png_truncated_idat_yields_none():
    pix, payload = _png_sample()
    idat = payload.index(b"IDAT")
    for cut in (idat + 2, idat + 10, len(payload) - 16):
        assert _decode_png(payload[:cut]) is None, cut


def test_png_corrupt_idat_bytes_yield_none():
    """Flipping bytes inside the stored-zlib IDAT breaks the stream or
    the length bookkeeping — either way: None, not an exception."""
    pix, payload = _png_sample()
    idat = payload.index(b"IDAT")
    for off in (4, 8, 20):
        bad = bytearray(payload)
        bad[idat + off] ^= 0xFF
        out = _decode_png(bytes(bad))
        # a byte flip inside block DATA (not structure) still inflates
        # to the right length: then decode succeeds with altered pixels.
        # Structural flips must yield None; none may raise.
        if out is not None:
            assert out.shape == pix.shape


def test_png_wrong_filter_byte_yields_none():
    """Filter type 5 does not exist — the row loop must bail to None."""
    import zlib

    pix, _ = _png_sample()
    h, w = pix.shape
    raw = bytearray()
    for y in range(h):
        raw += bytes([5]) + pix[y].tobytes()  # invalid filter id
    sig = b"\x89PNG\r\n\x1a\n"
    import struct

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big")
            + typ
            + data
            + zlib.crc32(typ + data).to_bytes(4, "big")
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    payload = sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    assert _decode_png(payload) is None


def test_png_interlaced_flag_yields_none():
    """Adam7 interlacing is out of scope for the built-in codec — the
    flag must route to None (Pillow fallback), not garbage pixels."""
    import struct
    import zlib

    pix, _ = _png_sample()
    h, w = pix.shape
    raw = b"".join(bytes([0]) + pix[y].tobytes() for y in range(h))

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big")
            + typ
            + data
            + zlib.crc32(typ + data).to_bytes(4, "big")
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 1)  # interlace=1
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert _decode_png(payload) is None


def test_png_decompression_bomb_yields_none():
    """Tiny declared dims + huge inflation: the bounded inflate must
    reject, not materialize the bomb."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big")
            + typ
            + data
            + zlib.crc32(typ + data).to_bytes(4, "big")
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    bomb = zlib.compress(bytes(50_000_000), 9)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", bomb)
        + chunk(b"IEND", b"")
    )
    assert _decode_png(payload) is None


def test_png_missing_plte_for_palette_yields_none():
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big")
            + typ
            + data
            + zlib.crc32(typ + data).to_bytes(4, "big")
        )

    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0)  # palette, no PLTE
    raw = bytes([0, 0, 1])
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert _decode_png(payload) is None


# --- Spark integration -------------------------------------------------


def test_synthesize_media_jpeg_pipeline(spark):
    """Text → flat-block JFIF → real decode → histogram: each byte is
    exactly 64 pixels of its value; pad blocks land in bin 0."""
    from pyspark.sql import Row

    from openetlagent_spark.functions.multimodal import (
        extract_image_features,
        synthesize_media_jpeg,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="ABCDE"),  # 5 bytes -> 2 block rows, 3 pad
            Row(doc_id=2, text=""),
            Row(doc_id=3, text=None),
        ]
    )
    media = synthesize_media_jpeg(docs)
    feats = extract_image_features(media, dim=16).collect()
    by_id = {r["media_id"]: r for r in feats}
    r1 = by_id[1]
    assert r1["n_pixels"] == 2 * 4 * 64  # 2 rows x 4 blocks x 64 px
    counts = [round(f * r1["n_pixels"]) for f in r1["feature"]]
    # 'A'..'E' = 65..69 -> bin 4 gets 5*64; 3 pad blocks -> bin 0 gets 192
    assert counts[4] == 5 * 64
    assert counts[0] == 3 * 64
    assert sum(counts) == r1["n_pixels"]
    for mid in (2, 3):
        assert by_id[mid]["n_pixels"] == 0
        assert all(f == 0.0 for f in by_id[mid]["feature"])
