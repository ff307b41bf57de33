"""The stdlib PNG decoder (no Spark needed).

decode_png: 8-bit gray/RGB/RGBA, all five scanline filters (the test
forward-filters a known image per type and asserts exact inversion),
palette, sub-byte and 16-bit depths, gray-alpha and Adam7 interlace,
bomb-safe geometry caps, and agreement with the font atlas writer
``fontmetrics.write_png_gray8``."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from osmgraft.operators.multimodal import decode_png


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def _forward_filter(img: np.ndarray, filter_type: int) -> bytes:
    """Apply one PNG filter to every scanline (encoder side, spec 9.2)."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    rows = img.reshape(h, w * c).astype(np.int32)
    out = b""
    for y in range(h):
        line = rows[y]
        prior = rows[y - 1] if y else np.zeros(w * c, np.int32)
        a = np.concatenate([np.zeros(c, np.int32), line[:-c]])
        b = prior
        cc = np.concatenate([np.zeros(c, np.int32), prior[:-c]])
        if filter_type == 0:
            filt = line
        elif filter_type == 1:
            filt = line - a
        elif filter_type == 2:
            filt = line - b
        elif filter_type == 3:
            filt = line - ((a + b) >> 1)
        else:  # Paeth
            p = a + b - cc
            pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - cc)
            pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, cc))
            filt = line - pred
        out += bytes([filter_type]) + (filt & 0xFF).astype(np.uint8).tobytes()
    return out


def _encode_png(img: np.ndarray, filter_type: int) -> bytes:
    h, w = img.shape[:2]
    c = 1 if img.ndim == 2 else img.shape[2]
    color = {1: 0, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(_forward_filter(img, filter_type)))
        + _png_chunk(b"IEND", b"")
    )


def _test_img(h: int, w: int, c: int, seed: int = 3) -> np.ndarray:
    rng = np.random.default_rng(seed)
    shape = (h, w) if c == 1 else (h, w, c)
    return rng.integers(0, 256, size=shape, dtype=np.uint8)


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("channels", [1, 3, 4])
def test_png_all_filters_roundtrip(filter_type, channels):
    img = _test_img(11, 7, channels)
    got = decode_png(_encode_png(img, filter_type))
    assert got.shape == img.shape
    assert np.array_equal(got, img), f"filter {filter_type} c={channels}"


def test_png_gradient_smooth_image_all_filters():
    # smooth gradients are the adversarial case for Sub/Average/Paeth
    # prediction (small residuals — any off-by-one in the predictor shows)
    y, x = np.mgrid[0:16, 0:23]
    img = ((x * 7 + y * 3) % 256).astype(np.uint8)
    for f in range(5):
        assert np.array_equal(decode_png(_encode_png(img, f)), img)


def test_png_matches_own_atlas_writer(tmp_path):
    # the fontmetrics PNG writer (filter 0, gray8) is decodable by the
    # general decoder — two independent stdlib implementations agree
    from osmgraft.functions.fontmetrics import write_png_gray8

    img = _test_img(9, 13, 1)
    p = str(tmp_path / "x.png")
    write_png_gray8(p, 13, 9, img.tobytes())
    with open(p, "rb") as fh:
        assert np.array_equal(decode_png(fh.read()), img)


def test_png_rejects_unsupported_shapes():
    img = _test_img(4, 4, 1)
    ok = _encode_png(img, 0)
    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\nnot-chunks")
    # 16-bit header over an 8-bit-layout stream: supported depth, but the
    # stream is half the declared size -> length mismatch
    bad_ihdr = struct.pack(">IIBBBBB", 4, 4, 16, 0, 0, 0, 0)
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", bad_ihdr)
        + _png_chunk(b"IDAT", zlib.compress(_forward_filter(img, 0)))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="length mismatch"):
        decode_png(bad)
    # genuinely unsupported: depth 2 RGB is not a legal PNG shape
    with pytest.raises(ValueError, match="unsupported"):
        decode_png(
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 2, 2, 0, 0, 0))
            + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 8))
            + _png_chunk(b"IEND", b"")
        )
    # Adam7 header over a non-interlaced-layout stream: the per-pass
    # length accounting must reject it (Adam7 itself is supported — see
    # test_png_adam7_roundtrip)
    il_ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 1)
    il = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", il_ihdr)
        + _png_chunk(b"IDAT", zlib.compress(_forward_filter(img, 0)))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="length mismatch"):
        decode_png(il)
    # invalid filter type byte
    raw = b"\x05" + img[0].tobytes()
    bf = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 1, 8, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        decode_png(bf)
    assert decode_png(ok).shape == (4, 4)


def test_png_decode_bomb_safe():
    """Untrusted-bytes contract: a tiny deflate bomb claiming a huge canvas
    must be rejected at the IHDR geometry cap BEFORE any inflate, and an
    over-long pixel stream within a sane canvas must fail the bounded
    inflate's length check — neither path allocates the claimed size."""
    # 1) 100000x100000 RGB claimed by a <1 KB payload -> geometry cap
    bomb_ihdr = struct.pack(">IIBBBBB", 100_000, 100_000, 8, 2, 0, 0, 0)
    bomb = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", bomb_ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 4096))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="max_samples"):
        decode_png(bomb)
    # 2) sane 4x4 gray canvas but the deflate stream inflates far past the
    #    declared scanlines -> bounded decompressobj + length check
    over = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 1_000_000))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="length mismatch"):
        decode_png(over)
    # the cap is configurable: the same bomb decodes nothing but a clear
    # error with a raised cap too (still no crash path)
    with pytest.raises(ValueError):
        decode_png(bomb, max_samples=10**18)


# --- extended envelope: palette / sub-byte / 16-bit / gray-alpha ----------


def _png_full(w, h, depth, color, raw_rows, plte=None, trns=None):
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _png_chunk(b"PLTE", plte)
    if trns is not None:
        out += _png_chunk(b"tRNS", trns)
    return out + _png_chunk(b"IDAT", zlib.compress(raw_rows)) + _png_chunk(b"IEND", b"")


def test_png_palette8_roundtrip():
    rng = np.random.default_rng(5)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (9, 13), dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(9))
    img = decode_png(_png_full(13, 9, 8, 3, raw, plte=pal.tobytes()))
    assert np.array_equal(img, pal[idx])


def test_png_palette_trns_alpha():
    rng = np.random.default_rng(5)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (9, 13), dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(9))
    img = decode_png(_png_full(13, 9, 8, 3, raw, plte=pal.tobytes(), trns=bytes([10, 200])))
    assert img.shape == (9, 13, 4)
    alpha = np.array([10, 200] + [255] * 14, dtype=np.uint8)
    assert np.array_equal(img[..., 3], alpha[idx])
    assert np.array_equal(img[..., :3], pal[idx])


def test_png_palette4_bitpacked():
    rng = np.random.default_rng(6)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (5, 7), dtype=np.uint8)  # odd width: pad nibble

    def pack4(row):
        padded = np.concatenate([row, [0]]).astype(np.uint8)
        return bytes((padded[0::2] << 4 | padded[1::2]).astype(np.uint8))

    raw = b"".join(b"\x00" + pack4(idx[y]) for y in range(5))
    assert np.array_equal(decode_png(_png_full(7, 5, 4, 3, raw, plte=pal.tobytes())), pal[idx])


def test_png_gray1_scaled_to_full_range():
    rng = np.random.default_rng(7)
    g = rng.integers(0, 2, (6, 10), dtype=np.uint8)
    raw = b"".join(b"\x00" + np.packbits(g[y]).tobytes() for y in range(6))
    assert np.array_equal(decode_png(_png_full(10, 6, 1, 0, raw)), g * 255)


def test_png_gray16_high_byte_with_up_filter():
    rng = np.random.default_rng(8)
    g16 = rng.integers(0, 65536, (4, 5), dtype=np.uint16)
    rows = [g16[y].astype(">u2").tobytes() for y in range(4)]
    raw = b"\x00" + rows[0]
    for y in range(1, 4):  # Up filter exercises the 2-byte-per-pixel stride
        prev = np.frombuffer(rows[y - 1], dtype=np.uint8)
        cur = np.frombuffer(rows[y], dtype=np.uint8)
        raw += b"\x02" + (cur - prev).tobytes()
    assert np.array_equal(decode_png(_png_full(5, 4, 16, 0, raw)), (g16 >> 8).astype(np.uint8))


def test_png_gray_alpha():
    rng = np.random.default_rng(9)
    ga = rng.integers(0, 256, (3, 4, 2), dtype=np.uint8)
    raw = b"".join(b"\x00" + ga[y].tobytes() for y in range(3))
    assert np.array_equal(decode_png(_png_full(4, 3, 8, 4, raw)), ga)


def test_png_palette_index_out_of_range_raises():
    pal = np.zeros((4, 3), dtype=np.uint8)
    bad = np.full((2, 2), 99, dtype=np.uint8)
    raw = b"".join(b"\x00" + bad[y].tobytes() for y in range(2))
    with pytest.raises(ValueError, match="palette index"):
        decode_png(_png_full(2, 2, 8, 3, raw, plte=pal.tobytes()))


def test_png_palette_missing_plte_raises():
    raw = b"\x00\x00\x00" + b"\x00\x00\x00"
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(_png_full(2, 2, 8, 3, b"\x00\x00\x00" * 2))


# --- Adam7 interlace -------------------------------------------------------

_ADAM7 = (  # (x0, y0, dx, dy) per PNG spec §8.2 / libpng png_pass_*
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _encode_adam7(img: np.ndarray, filter_type: int = 0) -> bytes:
    """Forward Adam7 encoder (test-only): split into the 7 passes, filter
    each pass independently, concatenate."""
    h, w = img.shape[:2]
    c = 1 if img.ndim == 2 else img.shape[2]
    color = {1: 0, 3: 2, 4: 6}[c]
    stream = b""
    for x0, y0, dx, dy in _ADAM7:
        sub = img[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        stream += _forward_filter(sub, filter_type)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 1)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(stream))
        + _png_chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("filter_type", [0, 1, 2, 4])
@pytest.mark.parametrize("channels", [1, 3, 4])
def test_png_adam7_roundtrip(filter_type, channels):
    # 13x11 exercises non-multiple-of-8 pass geometry (empty-row passes,
    # 1-column passes); every pass is filtered independently
    img = _test_img(13, 11, channels, seed=21)
    assert np.array_equal(decode_png(_encode_adam7(img, filter_type)), img)


def test_png_adam7_tiny_images():
    # images smaller than the pass grid: several passes are empty
    for h, w in ((1, 1), (2, 2), (3, 5), (8, 1), (1, 8)):
        img = _test_img(h, w, 3, seed=h * 16 + w)
        assert np.array_equal(decode_png(_encode_adam7(img, 0)), img)


def test_adam7_grid_matches_canonical_pattern():
    # independent cross-check: the pass table must reproduce the spec's
    # canonical 8x8 pass-number matrix (shared-constant bugs between the
    # encoder helper and decoder can't hide from this)
    from osmgraft.operators.multimodal import _ADAM7 as A

    g = np.zeros((8, 8), int)
    for p, (x0, y0, dx, dy) in enumerate(A, 1):
        g[y0::dy, x0::dx] = p
    canon = np.array(
        [
            [1, 6, 4, 6, 2, 6, 4, 6],
            [7, 7, 7, 7, 7, 7, 7, 7],
            [5, 6, 5, 6, 5, 6, 5, 6],
            [7, 7, 7, 7, 7, 7, 7, 7],
            [3, 6, 4, 6, 3, 6, 4, 6],
            [7, 7, 7, 7, 7, 7, 7, 7],
            [5, 6, 5, 6, 5, 6, 5, 6],
            [7, 7, 7, 7, 7, 7, 7, 7],
        ]
    )
    assert np.array_equal(g, canon)
    assert np.array_equal(A, _ADAM7)  # test helper uses the same grid


def test_png_adam7_palette_bitpacked():
    # interlace composes with the palette/sub-byte path: 4-bit palette,
    # per-pass bit packing (pass rows repack at the pass's own width)
    rng = np.random.default_rng(31)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (9, 13), dtype=np.uint8)

    def pack4(row):
        padded = np.concatenate([row, [0]]) if len(row) % 2 else row
        return bytes(((padded[0::2] << 4) | padded[1::2]).astype(np.uint8))

    stream = b""
    for x0, y0, dx, dy in _ADAM7:
        sub = idx[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        stream += b"".join(b"\x00" + pack4(sub[y]) for y in range(sub.shape[0]))
    ihdr = struct.pack(">IIBBBBB", 13, 9, 4, 3, 0, 0, 1)
    p = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal.tobytes())
        + _png_chunk(b"IDAT", zlib.compress(stream))
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(p), pal[idx])
