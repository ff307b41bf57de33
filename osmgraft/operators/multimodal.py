"""Multimodal column plumbing: opaque binary media + typed metadata.

Media (image/audio/video) are opaque ``binary`` columns with a typed
metadata struct, processed by Arrow-batched kernels over ``mapInPandas``.
One codec is REAL and stdlib-only: PCM WAV (``decode_wav`` — struct reads
over the RIFF chunks, 8/16/32-bit PCM + 32-bit float, any channel count),
feeding ``wav_features`` (duration, RMS, zero-crossing rate, peak +
log-magnitude spectrum bins). Image/video codec libraries are NOT in this
container, so those mimes still raise behind ``decode_media`` — the seam
(``extract_features(codec=...)``) accepts any ``(payload, mime) ->
ndarray`` callable, and everything around it (schema, batching, partition
sizing, feature signature, deterministic fake features for tests) is real
Spark plumbing that works unchanged once a richer codec is dropped in.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from osmgraft.guard import untrusted_parser

MEDIA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),      # 'image' | 'audio' | 'video'
        StructField("mime", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
        StructField("payload", BinaryType(), False),
    ]
)


_WAV_MIMES = ("audio/wav", "audio/x-wav", "audio/wave")


@untrusted_parser
def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Stdlib-only PCM WAV decoder: struct reads over the RIFF chunk list
    (word-aligned, unknown chunks skipped). Supports format 1 (PCM) at
    8/16/32 bits and format 3 (IEEE float) at 32 bits, any channel count
    (downmixed to mono by mean). Returns ``(float32 mono samples in
    [-1, 1], sample_rate)``. Raises ``ValueError`` on anything that is not
    a decodable WAV — nothing silently trains on garbage bytes."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt = data = None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            fmt = struct.unpack_from("<HHIIHH", body)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, n_ch, rate, _byte_rate, _block, bits = fmt
    if n_ch < 1 or rate < 1:
        raise ValueError(f"bad fmt chunk: channels={n_ch} rate={rate}")
    if (audio_fmt, bits) == (1, 8):
        raw = np.frombuffer(data, dtype=np.uint8)
        samples = (raw.astype(np.float32) - 128.0) / 128.0
    elif (audio_fmt, bits) == (1, 16):
        raw = np.frombuffer(data[: len(data) - (len(data) % 2)], dtype="<i2")
        samples = raw.astype(np.float32) / 32768.0
    elif (audio_fmt, bits) == (1, 32):
        raw = np.frombuffer(data[: len(data) - (len(data) % 4)], dtype="<i4")
        samples = raw.astype(np.float32) / 2147483648.0
    elif (audio_fmt, bits) == (3, 32):
        samples = np.frombuffer(data[: len(data) - (len(data) % 4)], dtype="<f4").copy()
    else:
        raise ValueError(f"unsupported WAV encoding: format={audio_fmt} bits={bits}")
    n_frames = samples.size // n_ch
    return samples[: n_frames * n_ch].reshape(n_frames, n_ch).mean(axis=1).astype(np.float32), rate


def encode_wav_pcm16(samples: np.ndarray, rate: int) -> bytes:
    """Canonical 44-byte-header PCM16 mono WAV writer (struct-only) — the
    synth/test counterpart of :func:`decode_wav`."""
    # x*32768 rounded (clipped to int16) inverts decode's /32768 exactly
    scaled = np.round(np.asarray(samples, dtype=np.float64) * 32768.0)
    pcm = np.clip(scaled, -32768, 32767).astype("<i2")
    data = pcm.tobytes()
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
    )
    return hdr + data


def wav_features(samples: np.ndarray, rate: int, n_spec: int = 60) -> np.ndarray:
    """Fixed-length audio feature vector: ``[duration_s, rms,
    zero_crossing_rate, peak]`` + ``n_spec`` log-magnitude spectrum bins
    (rfft magnitudes mean-pooled into equal bins). Deterministic, pure
    numpy."""
    n = samples.size
    if n == 0:
        return np.zeros(4 + n_spec, dtype=np.float32)
    rms = float(np.sqrt(np.mean(samples.astype(np.float64) ** 2)))
    zcr = float(np.count_nonzero(np.signbit(samples[1:]) != np.signbit(samples[:-1]))) / max(
        n - 1, 1
    )
    peak = float(np.max(np.abs(samples)))
    mag = np.abs(np.fft.rfft(samples.astype(np.float64)))
    # mean-pool the spectrum into n_spec equal bins (pad if shorter)
    if mag.size < n_spec:
        mag = np.pad(mag, (0, n_spec - mag.size))
    edges = np.linspace(0, mag.size, n_spec + 1).astype(int)
    pooled = np.add.reduceat(mag, edges[:-1]) / np.maximum(np.diff(edges), 1)
    spec = np.log1p(pooled)
    head = np.array([n / rate, rms, zcr, peak], dtype=np.float64)
    return np.concatenate([head, spec]).astype(np.float32)


_PNM_MIMES = ("image/x-portable-graymap", "image/x-portable-pixmap", "image/pnm")
_PNG_MIMES = ("image/png",)


@untrusted_parser
def decode_pnm(payload: bytes) -> np.ndarray:
    """Stdlib-only binary PNM decoder: P5 (gray) -> HxW uint8, P6 (RGB) ->
    HxWx3 uint8. Header is whitespace-separated magic/width/height/maxval
    with ``#`` comments; maxval must be <= 255 (1 byte/sample)."""
    if payload[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary PNM (P5/P6) payload")
    # tokenize the header: 4 fields, comments run to end-of-line, and the
    # single whitespace byte after maxval terminates the header
    tokens: list[bytes] = []
    pos = 0
    while len(tokens) < 4:
        if pos >= len(payload):
            raise ValueError("truncated PNM header")
        b = payload[pos : pos + 1]
        if b == b"#":
            pos = payload.index(b"\n", pos) + 1
        elif b.isspace():
            pos += 1
        else:
            end = pos
            while end < len(payload) and not payload[end : end + 1].isspace():
                end += 1
            tokens.append(payload[pos:end])
            pos = end
    magic, w, h, maxval = tokens[0], int(tokens[1]), int(tokens[2]), int(tokens[3])
    if w < 1 or h < 1 or not (0 < maxval <= 255):
        raise ValueError(f"bad PNM geometry {w}x{h} maxval={maxval}")
    channels = 3 if magic == b"P6" else 1
    data = payload[pos + 1 : pos + 1 + w * h * channels]
    if len(data) < w * h * channels:
        raise ValueError("truncated PNM pixel data")
    img = np.frombuffer(data, dtype=np.uint8)
    return img.reshape(h, w, 3) if channels == 3 else img.reshape(h, w)


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
    filters, non-interlaced:

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

    Payloads are untrusted bytes by this module's contract, so the decoder
    is bomb-safe: IHDR geometry is capped at ``max_samples`` BEFORE any
    inflate, the inflate runs through ``decompressobj`` with a
    ``max_length`` bound, and palette indices are range-checked — a tiny
    deflate bomb claiming a huge canvas can never allocate past the
    declared (capped) scanline size."""
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


def image_features(img: np.ndarray, n_hist: int = 59) -> np.ndarray:
    """Fixed-length image feature vector: ``[width, height, channels,
    mean, std]`` (intensities in [0,1]) + ``n_hist`` normalized grayscale
    histogram bins. Deterministic, pure numpy — the image counterpart of
    :func:`wav_features`."""
    h, w = img.shape[:2]
    c = 1 if img.ndim == 2 else img.shape[2]
    flat = img.astype(np.float64) / 255.0
    gray = flat if img.ndim == 2 else flat[..., : min(c, 3)].mean(axis=2)
    hist, _ = np.histogram(gray, bins=n_hist, range=(0.0, 1.0))
    head = np.array([w, h, c, flat.mean(), flat.std()], dtype=np.float64)
    return np.concatenate([head, hist / gray.size]).astype(np.float32)


@untrusted_parser
def decode_media(payload: bytes, mime: str) -> np.ndarray:
    """Default codec for the ``extract_features`` seam.

    REAL stdlib decoders: ``audio/wav`` (RIFF parse ->
    :func:`wav_features`), ``image/png`` (gray/RGB/RGBA/gray-alpha at
    8/16-bit, palette and sub-byte gray at 1/2/4-bit, all five filters)
    and binary PNM P5/P6 -> :func:`image_features`. Anything else (JPEG,
    video, ...) raises so nothing silently trains on fake pixels — real
    deployments plug Pillow/ffmpeg in via the ``codec=`` parameter."""
    if mime in _WAV_MIMES:
        return wav_features(*decode_wav(payload))
    if mime in _PNG_MIMES:
        return image_features(decode_png(payload))
    if mime in _PNM_MIMES:
        return image_features(decode_pnm(payload))
    raise NotImplementedError(
        f"media codec for {mime!r} not available in this environment; "
        "wire Pillow/ffmpeg here on a real cluster"
    )


def _on_error_policy(on_error: str):
    """Validate the decode kernels' poisoned-payload policy (driver-side,
    before the kernel ships). ``"raise"`` preserves fail-fast semantics
    (the oracle/test default: any undecodable byte is a bug). ``"skip"``
    drops the row — at 10^12 documents of scraped media, SOME payloads
    are corrupt or adversarial, and one of them must not be able to kill
    the task (and, after retries, the job). Only the codec contract
    errors (ValueError / NotImplementedError, see
    :mod:`osmgraft.guard`) are skippable; genuine runtime errors still
    propagate."""
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be 'raise' or 'skip', got {on_error!r}")
    return on_error == "skip"


def fake_features(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic stand-in feature extractor: content-keyed RNG vector.
    Lets the full pipeline (schema, shuffles, joins, ANN) run end-to-end
    without codecs while staying reproducible."""
    seed = int.from_bytes(hashlib.blake2b(payload, digest_size=8).digest(), "little")
    return np.random.default_rng(seed).standard_normal(dim).astype(np.float32)


_FEAT_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("features", ArrayType(FloatType())),
        StructField("n_bytes", LongType()),
    ]
)


def extract_features(
    media: DataFrame, dim: int = 64, use_codec: bool = False, codec=None,
    on_error: str = "raise",
) -> DataFrame:
    """media -> (media_id, features[dim], n_bytes). Arrow-batched; each
    batch handles its payloads in one pass.

    ``use_codec=True`` routes payloads through ``codec`` — this parameter
    IS the deployment seam: any ``(payload: bytes, mime: str) -> ndarray``
    callable, captured BY VALUE into the Arrow kernel's closure so
    executors need no module patching (a module-global would not survive
    the worker-process boundary). Default is :func:`decode_media`, which
    raises in this container; real clusters pass a Pillow/ffmpeg-backed
    callable. The seam is pinned by a contract test that injects a stub
    codec (tests/test_extras.py::test_multimodal_codec_seam)."""
    decode = codec if codec is not None else decode_media
    skip = _on_error_policy(on_error)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids, feats, nbytes = [], [], []
            for media_id, payload, mime in zip(pdf["media_id"], pdf["payload"], pdf["mime"]):
                raw = bytes(payload)
                if use_codec:
                    try:
                        v = decode(raw, mime).ravel()[:dim].astype(np.float32)
                    except (ValueError, NotImplementedError):
                        if not skip:
                            raise
                        continue
                    if v.size < dim:  # uniform length: zero-pad short decodes
                        v = np.pad(v, (0, dim - v.size))
                else:
                    v = fake_features(raw, dim)
                mids.append(int(media_id))
                feats.append(v)
                nbytes.append(len(raw))
            if not mids:
                continue  # all-skipped batch: empty frame has wrong dtypes for Arrow
            yield pd.DataFrame({"media_id": mids, "features": feats, "n_bytes": nbytes})

    return media.select("media_id", "mime", "payload").mapInPandas(kernel, schema=_FEAT_SCHEMA)


_WAV_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_samples", LongType()),
        StructField("duration_ms", LongType()),
    ]
)


def wav_decode_meta(media: DataFrame, on_error: str = "raise") -> DataFrame:
    """Decode WAV headers+data at scale: (media_id, sample_rate, n_samples,
    duration_ms), all derived from the BYTES by :func:`decode_wav` — the
    DuckDB oracle recomputes them arithmetically from ``octet_length`` and
    the staged ``rate`` column, so a hash match proves the byte-level
    parse. Arrow-batched ``mapInPandas``; duration uses integer math
    (``n*1000 // rate``) to stay float-free on both sides."""

    skip = _on_error_policy(on_error)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mid, sr, ns, ms = [], [], [], []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    samples, rate = decode_wav(bytes(payload))
                except (ValueError, NotImplementedError):
                    if not skip:
                        raise
                    continue
                mid.append(int(media_id))
                sr.append(rate)
                ns.append(samples.size)
                ms.append(samples.size * 1000 // rate)
            if not mid:
                continue
            yield pd.DataFrame(
                {"media_id": mid, "sample_rate": sr, "n_samples": ns, "duration_ms": ms}
            )

    return media.select("media_id", "payload").mapInPandas(kernel, schema=_WAV_META_SCHEMA)


_PNG_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("px_sum", LongType()),
    ]
)


def png_decode_meta(media: DataFrame, on_error: str = "raise") -> DataFrame:
    """Decode PNG payloads at scale: (media_id, width, height, px_sum) all
    derived from the BYTES by :func:`decode_png` — zlib inflate + scanline
    unfiltering included, so ``px_sum`` (sum over reconstructed samples)
    proves the full pixel path, not just an IHDR header read. The DuckDB
    oracle replays staged geometry/pixel-sum side-channel columns.
    Arrow-batched ``mapInPandas``, image-decode counterpart of
    :func:`wav_decode_meta`."""

    skip = _on_error_policy(on_error)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mid, ws, hs, sums = [], [], [], []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    img = decode_png(bytes(payload))
                except (ValueError, NotImplementedError):
                    if not skip:
                        raise
                    continue
                mid.append(int(media_id))
                hs.append(img.shape[0])
                ws.append(img.shape[1])
                sums.append(int(img.astype(np.int64).sum()))
            if not mid:
                continue
            yield pd.DataFrame({"media_id": mid, "width": ws, "height": hs, "px_sum": sums})

    return media.select("media_id", "payload").mapInPandas(kernel, schema=_PNG_META_SCHEMA)


@untrusted_parser
def parse_mp4_meta(payload: bytes, max_boxes: int = 10_000) -> dict:
    """ISO-BMFF (MP4/MOV) metadata from BYTES: struct-only box walk of
    ``ftyp``/``moov``/``mvhd`` (timescale + duration) and ``trak/tkhd``
    (16.16 fixed-point presentation width/height; the first visual track
    — nonzero width — wins). Returns ``{duration_ms, timescale, width,
    height, n_tracks, brand}``. Frame DECODE still raises through
    :func:`decode_media` (no stdlib video codec — honest seam); this makes
    the video *metadata* column real, so :func:`sample_frames` plans can
    run against byte-derived durations instead of trusted side-channel
    metadata. Untrusted-bytes contract: bounded box count, no allocation
    proportional to claimed sizes."""
    n = len(payload)

    def walk(start: int, end: int, depth: int, budget: list[int]):
        pos = start
        while pos + 8 <= end:
            if budget[0] <= 0:
                raise ValueError("MP4 box count exceeds bound")
            budget[0] -= 1
            (size,) = struct.unpack_from(">I", payload, pos)
            tag = payload[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:
                if pos + 16 > end:
                    raise ValueError("truncated MP4 largesize box")
                (size,) = struct.unpack_from(">Q", payload, pos + 8)
                body = pos + 16
            elif size == 0:  # box extends to end of enclosing container
                size = end - pos
            if size < 8 or pos + size > end:
                raise ValueError(f"MP4 box {tag!r} overruns its container")
            yield tag, body, pos + size, depth
            if tag in (b"moov", b"trak", b"mdia", b"minf", b"stbl") and depth < 8:
                yield from walk(body, pos + size, depth + 1, budget)
            pos += size

    if n < 8:
        raise ValueError("not an MP4 payload (too short)")
    brand = None
    timescale = duration = None
    width = height = None
    n_tracks = 0
    budget = [max_boxes]
    for tag, body, box_end, _depth in walk(0, n, 0, budget):
        if tag == b"ftyp":
            brand = payload[body : body + 4].decode("ascii", "replace")
        elif tag == b"mvhd":
            ver = payload[body]
            if ver == 1:
                timescale, duration = struct.unpack_from(">IQ", payload, body + 20)
            else:
                timescale, duration = struct.unpack_from(">II", payload, body + 12)
        elif tag == b"trak":
            n_tracks += 1
        elif tag == b"tkhd" and width is None:
            ver = payload[body]
            geo = body + (96 - 8 if ver == 1 else 84 - 8)  # width offset in box
            w16, h16 = struct.unpack_from(">II", payload, geo)
            if w16:
                width, height = w16 >> 16, h16 >> 16
    if brand is None or timescale is None:
        raise ValueError("MP4 missing ftyp/mvhd")
    if timescale == 0:
        raise ValueError("MP4 mvhd timescale is zero")
    return {
        "duration_ms": duration * 1000 // timescale,
        "timescale": timescale,
        "width": width,
        "height": height,
        "n_tracks": n_tracks,
        "brand": brand,
    }


def encode_mp4_stub(
    duration_ms: int, width: int, height: int, timescale: int = 1000
) -> bytes:
    """Minimal valid ISO-BMFF writer (test/synth counterpart of
    :func:`parse_mp4_meta`): ftyp + moov(mvhd + trak(tkhd)) + empty mdat.
    Carries real timing/geometry metadata and no media samples."""

    def box(tag: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + tag + body

    duration = duration_ms * timescale // 1000
    mvhd = (
        b"\x00\x00\x00\x00"  # version/flags
        + struct.pack(">II", 0, 0)  # creation/modification
        + struct.pack(">II", timescale, duration)
        + struct.pack(">I", 0x00010000)  # rate 1.0
        + struct.pack(">H", 0x0100)  # volume 1.0
        + b"\x00" * 10
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2)  # next track id
    )
    tkhd = (
        b"\x00\x00\x00\x07"  # version 0, flags: enabled|in-movie|in-preview
        + struct.pack(">II", 0, 0)
        + struct.pack(">I", 1)  # track id
        + b"\x00" * 4
        + struct.pack(">I", duration)
        + b"\x00" * 8
        + struct.pack(">hhhh", 0, 0, 0, 0)  # layer/group/volume/reserved
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16)
    )
    moov = box(b"moov", box(b"mvhd", mvhd) + box(b"trak", box(b"tkhd", tkhd)))
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    return ftyp + moov + box(b"mdat", b"")


_MP4_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("duration_ms", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_tracks", LongType()),
    ]
)


def mp4_decode_meta(media: DataFrame, on_error: str = "raise") -> DataFrame:
    """Parse MP4 container metadata at scale: (media_id, duration_ms,
    width, height, n_tracks), all derived from the BYTES by
    :func:`parse_mp4_meta`. Arrow-batched ``mapInPandas`` — the video
    counterpart of :func:`wav_decode_meta`/:func:`png_decode_meta`."""

    skip = _on_error_policy(on_error)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in _MP4_META_SCHEMA.fields}
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    meta = parse_mp4_meta(bytes(payload))
                except (ValueError, NotImplementedError):
                    if not skip:
                        raise
                    continue
                rows["media_id"].append(int(media_id))
                rows["duration_ms"].append(int(meta["duration_ms"]))
                rows["width"].append(int(meta["width"] or 0))
                rows["height"].append(int(meta["height"] or 0))
                rows["n_tracks"].append(int(meta["n_tracks"]))
            if not rows["media_id"]:
                continue
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(kernel, schema=_MP4_META_SCHEMA)


_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_ms", IntegerType()),
    ]
)


def sample_frames(media: DataFrame, fps_out: float = 1.0) -> DataFrame:
    """Video frame sampling plan: one row per sampled frame timestamp —
    pure Catalyst (sequence/explode); the decode of each frame is the
    stubbed codec step."""
    n = (F.col("duration_ms") / F.lit(1000.0) * fps_out).cast("int")
    idx = F.explode(F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0))))
    return (
        media.where(F.col("kind") == "video")
        .select("media_id", "duration_ms", idx.alias("frame_idx"))
        .withColumn("frame_ms", (F.col("frame_idx") * F.lit(1000.0) / fps_out).cast("int"))
        .select("media_id", "frame_idx", "frame_ms")
    )


def synth_media(spark, n: int, seed: int = 42) -> DataFrame:
    """Deterministic opaque media table for tests/bench (no codecs needed)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kinds = ("image", "audio", "video")
        mimes = {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}
        for pdf in batches:
            rows = {k.name: [] for k in MEDIA.fields}
            for i in pdf["id"]:
                rng = np.random.default_rng([seed, int(i)])
                kind = kinds[int(i) % 3]
                payload = rng.bytes(int(rng.integers(64, 512)))
                rows["media_id"].append(int(i))
                rows["kind"].append(kind)
                rows["mime"].append(mimes[kind])
                rows["width"].append(int(rng.integers(16, 4096)) if kind == "image" else None)
                rows["height"].append(int(rng.integers(16, 4096)) if kind == "image" else None)
                rows["duration_ms"].append(int(rng.integers(1000, 60000)) if kind != "image" else None)
                rows["payload"].append(payload)
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(gen, schema=MEDIA)
