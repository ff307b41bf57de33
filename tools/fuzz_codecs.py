"""Deterministic mutation fuzzer for the untrusted-bytes parser surface.

Every parser over untrusted bytes (``operators.multimodal.decode_png``,
``functions.ttf.parse_ttf`` and ``sources.geoblob``) documents one
contract: a malformed payload raises ``ValueError`` (or
``NotImplementedError`` for an out-of-envelope but well-formed variant).
Nothing else may escape — a ``struct.error`` / ``zlib.error`` /
``IndexError`` reaching the Spark kernel is an executor task death, and at 10^12 documents a single adversarial payload must not
be able to kill a job (or stall it: each call is also wall-clocked).

Run: ``python tools/fuzz_codecs.py [iterations-per-codec] [seed]``.
Exit code 1 if any contract violation is found; prints a repro line
(codec, seed payload, mutation ops) for each.
"""

from __future__ import annotations

import os
import random
import sys
import time
import zlib

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from osmgraft.functions.ttf import parse_ttf
from osmgraft.operators.multimodal import decode_png
from osmgraft.sources import geoblob

ALLOWED = (ValueError, NotImplementedError)
WALL_LIMIT_S = 5.0  # generous: a 200-byte payload must never take seconds


def _png_seed() -> bytes:
    # minimal in-repo encoder (tests have one too, but tools/ must not
    # import tests/): 8-bit RGB, filter 0 rows, single IDAT
    import struct

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 7, 9, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(9))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _ttf_seed() -> bytes:
    sys.path.insert(0, os.path.join(REPO, "tests"))
    from util_ttf import encode_ttf  # test fixture builder, reused as seed

    return encode_ttf(
        {"a": 1000, "b": 1200, "c": 900},
        kerning={("a", "b"): -50},
        gpos_kerning={("b", "c"): -30},
    )


def _parse_ttf_bytes(payload: bytes):
    import tempfile

    fd, path = tempfile.mkstemp(suffix=".ttf")
    try:
        with os.fdopen(fd, "wb") as fh:
            fh.write(payload)
        return parse_ttf(path)
    finally:
        os.unlink(path)


def seeds() -> dict[str, tuple[bytes, object]]:
    return {
        "png": (_png_seed(), lambda b: decode_png(b)),
        "ttf": (_ttf_seed(), _parse_ttf_bytes),
        # geometry blobs: the flagship decode path's own payload format
        "geoblob_point": (geoblob.pack_point(48.1, 11.5), geoblob.unpack),
        # the point kernels' checked unpack (decode.decode_point_rows)
        "geoblob_points": (
            geoblob.pack_point(48.1, 11.5),
            lambda b: geoblob.unpack_points(["b0", "b1"], [geoblob.pack_point(0.0, 0.0), b]),
        ),
        "geoblob_segment": (
            geoblob.pack_segment(0, 42, [1, 2, 3], [48.0, 48.1, 48.2], [11.0, 11.1, 11.2]),
            geoblob.unpack,
        ),
    }


def mutate(payload: bytes, rng: random.Random) -> tuple[bytes, str]:
    op = rng.choice(("truncate", "flip", "flipN", "grow", "zero_run", "swap"))
    b = bytearray(payload)
    if op == "truncate" or not b:
        cut = rng.randrange(len(b) + 1)
        return bytes(b[:cut]), f"truncate@{cut}"
    if op == "flip":
        i = rng.randrange(len(b))
        b[i] ^= 1 << rng.randrange(8)
        return bytes(b), f"flip@{i}"
    if op == "flipN":
        idx = [rng.randrange(len(b)) for _ in range(min(8, len(b)))]
        for i in idx:
            b[i] = rng.randrange(256)
        return bytes(b), f"flipN@{idx[:3]}..."
    if op == "grow":
        extra = bytes(rng.getrandbits(8) for _ in range(rng.randrange(1, 64)))
        pos = rng.randrange(len(b) + 1)
        return bytes(b[:pos]) + extra + bytes(b[pos:]), f"grow@{pos}+{len(extra)}"
    if op == "zero_run":
        i = rng.randrange(len(b))
        j = min(len(b), i + rng.randrange(1, 32))
        b[i:j] = bytes(j - i)
        return bytes(b), f"zero@{i}:{j}"
    i, j = rng.randrange(len(b)), rng.randrange(len(b))
    b[i], b[j] = b[j], b[i]
    return bytes(b), f"swap@{i},{j}"


class _Hang(Exception):
    """A decoder call exceeded WALL_LIMIT_S of *wall clock* — raised from
    SIGALRM so a true infinite loop is REPORTED instead of wedging the
    campaign (the post-hoc `dt > WALL_LIMIT_S` check can only fire after
    the call returns, which a hang never does; a real hang was found and
    fixed in the cmap12 group walk, see ttf.py)."""


def _alarm_handler(_sig, _frm):
    raise _Hang()


def main() -> int:
    import signal

    iters = int(sys.argv[1]) if len(sys.argv) > 1 else 400
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 20260818
    signal.signal(signal.SIGALRM, _alarm_handler)
    failures = 0
    for name, (payload, fn) in seeds().items():
        rng = random.Random(f"{seed}:{name}")
        # sanity: the unmutated seed must decode
        fn(payload)
        slow = 0.0
        for it in range(iters):
            mutated, desc = mutate(payload, rng)
            # second-order mutations half the time: corrupt an already-
            # corrupt payload (catches parsers that only validate once)
            if rng.random() < 0.5:
                mutated, d2 = mutate(mutated, rng)
                desc = f"{desc}+{d2}"
            t0 = time.monotonic()
            signal.setitimer(signal.ITIMER_REAL, WALL_LIMIT_S)
            try:
                fn(mutated)
            except ALLOWED:
                pass
            except _Hang:
                failures += 1
                print(f"FAIL {name} it={it} mut={desc}: HANG > {WALL_LIMIT_S}s (SIGALRM)")
            except Exception as exc:  # noqa: BLE001 — the point of the fuzzer
                failures += 1
                print(
                    f"FAIL {name} it={it} mut={desc}: "
                    f"{type(exc).__module__}.{type(exc).__name__}: {exc}"
                )
                if failures > 40:
                    print("... stopping after 40 failures")
                    return 1
            finally:
                signal.setitimer(signal.ITIMER_REAL, 0)
            slow = max(slow, time.monotonic() - t0)
        print(f"ok   {name}: {iters} mutations, max wall {slow*1000:.0f} ms")
    print(f"FAILURES: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
