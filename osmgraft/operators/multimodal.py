"""Stdlib-only PNG decoder over untrusted bytes.

:func:`decode_png` (struct + zlib + numpy) decodes a PNG payload into a
uint8 array. No engine path calls it; it is the independent reader that
checks the font atlas writer ``functions.fontmetrics.write_png_gray8``.
"""

from __future__ import annotations

import struct

import numpy as np

from osmgraft.guard import untrusted_parser


def _png_unfilter(raw: bytes, height: int, stride: int, bpp: int) -> np.ndarray:
    """Invert PNG scanline filtering (types 0-4 per the PNG spec) over a
    generic byte layout — ``stride`` filtered bytes per row, ``bpp``
    bytes per pixel for the left-neighbor distance (1 for sub-byte
    depths, channels x depth/8 otherwise). Numpy-vectorized: None/Up are
    whole-row ops; Sub is a per-channel prefix sum mod 256 (cumsum —
    modular addition distributes over the running sum); Average/Paeth
    carry a true left-pixel recurrence, so they loop over *columns* with
    all channels as one vector step. Returns ``(height, stride)``
    uint8."""
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG pixel stream length mismatch")
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    ftypes = arr[:, 0]
    bad = ftypes[ftypes > 4]
    if bad.size:
        raise ValueError(f"PNG filter type {int(bad[0])} invalid")
    out = np.zeros((height, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        f = int(ftypes[y])
        line = arr[y, 1:]
        if f == 0:
            rec = line
        elif f == 2:  # Up — uint8 addition wraps mod 256 natively
            rec = line + prior
        elif f == 1:  # Sub: rec[x] = line[x] + rec[x-bpp] == channel cumsum mod 256
            rec = (
                (np.cumsum(line.reshape(stride // bpp, bpp), axis=0, dtype=np.int64) & 0xFF)
                .astype(np.uint8)
                .reshape(stride)
            )
        else:  # Average / Paeth: true left-pixel recurrence — bytearray ints
            # (C-speed indexing, no numpy scalar boxing; ~an order of
            # magnitude over per-sample ndarray reads)
            lb = line.tobytes()
            pb = prior.tobytes()
            res = bytearray(stride)
            if f == 3:  # Average
                for x in range(bpp):
                    res[x] = (lb[x] + (pb[x] >> 1)) & 0xFF
                for x in range(bpp, stride):
                    res[x] = (lb[x] + ((res[x - bpp] + pb[x]) >> 1)) & 0xFF
            else:  # Paeth; for x < bpp, a == c == 0 so the predictor is b
                for x in range(bpp):
                    res[x] = (lb[x] + pb[x]) & 0xFF
                for x in range(bpp, stride):
                    a = res[x - bpp]
                    b = pb[x]
                    c = pb[x - bpp]
                    p = a + b - c
                    pa, pbb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pbb and pa <= pc) else (b if pbb <= pc else c)
                    res[x] = (lb[x] + pred) & 0xFF
            rec = np.frombuffer(bytes(res), dtype=np.uint8)
        out[y] = rec
        prior = out[y]
    return out


_PNG_MAX_SAMPLES = 64_000_000  # width*height*channels cap (~64 MP gray / 16 MP RGBA)


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color type -> samples/pixel

# Adam7 pass grid: (x0, y0, dx, dy) per pass, PNG spec §8.2
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_extract(rows: np.ndarray, width: int, channels: int, depth: int) -> np.ndarray:
    """(h, stride) unfiltered bytes -> (h, width, channels) uint8 samples
    (bit-unpack for sub-byte depths, high byte for 16-bit)."""
    height = rows.shape[0]
    if depth < 8:
        bits = np.unpackbits(rows, axis=1)[:, : width * depth]
        weights = 1 << np.arange(depth - 1, -1, -1)
        samples = (bits.reshape(height, width, depth) * weights).sum(axis=2).astype(np.uint8)
        return samples.reshape(height, width, 1)
    if depth == 16:
        return rows.reshape(height, width, channels, 2)[..., 0]
    return rows.reshape(height, width, channels)


@untrusted_parser
def decode_png(payload: bytes, max_samples: int = _PNG_MAX_SAMPLES) -> np.ndarray:
    """Stdlib-only PNG decoder (struct + zlib + numpy), all five scanline
    filters:

    - depth 8/16, color 0/2/4/6: gray -> HxW, gray+alpha -> HxWx2,
      RGB -> HxWx3, RGBA -> HxWx4 (16-bit downconverts to uint8 via the
      high byte — the thumbnail/training path, same as Pillow's L/RGB
      modes);
    - depth 1/2/4 gray (color 0): bit-unpacked, scaled to full range
      (``v * 255 / (2^d - 1)``);
    - depth 1/2/4/8 palette (color 3): PLTE lookup -> HxWx3, or HxWx4
      when a tRNS chunk carries per-entry alpha;
    - Adam7 interlace across all of the above (7 independently-filtered
      sub-image passes scattered onto the pixel grid).

    Payloads are untrusted bytes, so the decoder is bomb-safe: IHDR
    geometry is capped at ``max_samples`` BEFORE any inflate, the inflate
    runs through ``decompressobj`` with a ``max_length`` bound, and
    palette indices are range-checked — a tiny deflate bomb claiming a
    huge canvas can never allocate past the declared (capped) scanline
    size."""
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    width = height = 0
    color = depth = interlace = None
    idat = b""
    plte = trns = None
    pos = 8
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body[:13]
            )
        elif tag == b"PLTE":
            plte = body
        elif tag == b"tRNS":
            trns = body
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if depth is None:
        raise ValueError("PNG missing IHDR")
    ok_shape = (
        (depth in (8, 16) and color in (0, 2, 4, 6))
        or (depth in (1, 2, 4) and color in (0, 3))
        or (depth == 8 and color == 3)
    )
    if not ok_shape or interlace not in (0, 1):
        raise ValueError(
            f"unsupported PNG shape: depth={depth} color={color} interlace={interlace} "
            "(gray/RGB/RGBA/gray-alpha at 8/16-bit, gray/palette at 1/2/4-bit, "
            "none/Adam7 interlace)"
        )
    if color == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE chunk")
    if width < 1 or height < 1:
        raise ValueError(f"bad PNG geometry {width}x{height}")
    channels = _PNG_CHANNELS[color]
    out_channels = (4 if trns is not None else 3) if color == 3 else channels
    if width * height * out_channels > max_samples:
        raise ValueError(
            f"PNG geometry {width}x{height}x{out_channels} exceeds max_samples={max_samples}"
        )
    bpp = max(1, channels * depth // 8)  # filter left-neighbor distance
    if interlace == 0:
        passes = [(0, 0, 1, 1, width, height)]
    else:  # Adam7: (x0, y0, dx, dy, cols, rows) per non-empty pass
        passes = []
        for x0, y0, dx, dy in _ADAM7:
            cols = (width - x0 + dx - 1) // dx
            rows_n = (height - y0 + dy - 1) // dy
            if cols > 0 and rows_n > 0:
                passes.append((x0, y0, dx, dy, cols, rows_n))
    expected = sum(r * ((c * channels * depth + 7) // 8 + 1) for *_, c, r in passes)
    # bounded inflate: ask for exactly one byte more than the scanline
    # stream; a conforming stream yields == expected, an over-long stream
    # yields expected+1 and fails the length check — either way allocation
    # never exceeds the capped geometry
    raw = zlib.decompressobj().decompress(idat, expected + 1)
    if len(raw) != expected:
        raise ValueError("PNG pixel stream length mismatch")
    samples = np.zeros((height, width, channels), dtype=np.uint8)
    off = 0
    for x0, y0, dx, dy, cols, rows_n in passes:
        stride = (cols * channels * depth + 7) // 8
        span = rows_n * (stride + 1)
        sub = _png_unfilter(raw[off : off + span], rows_n, stride, bpp)
        samples[y0::dy, x0::dx] = _png_extract(sub, cols, channels, depth)
        off += span
    if color == 3:
        pal = np.frombuffer(plte, dtype=np.uint8)
        pal = pal[: (len(pal) // 3) * 3].reshape(-1, 3)
        idx = samples.reshape(height, width)
        if pal.shape[0] == 0 or int(idx.max()) >= pal.shape[0]:
            raise ValueError("PNG palette index out of range")
        rgb = pal[idx]
        if trns is not None:
            alpha = np.full(pal.shape[0], 255, dtype=np.uint8)
            alpha[: min(len(trns), pal.shape[0])] = np.frombuffer(
                trns[: pal.shape[0]], dtype=np.uint8
            )
            return np.concatenate([rgb, alpha[idx][..., None]], axis=2)
        return rgb
    if color == 0 and depth < 8:  # scale sub-byte gray to full range
        samples = (samples.astype(np.uint16) * 255 // ((1 << depth) - 1)).astype(np.uint8)
    return (
        samples.reshape(height, width, channels)
        if channels > 1
        else samples.reshape(height, width)
    )
