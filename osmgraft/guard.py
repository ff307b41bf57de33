"""Boundary guard for parsers over untrusted bytes.

Every parser over untrusted bytes (`operators.multimodal.decode_png`,
`functions.ttf.parse_ttf`, `sources.geoblob.unpack`) documents one
contract: malformed input raises ``ValueError``. The parser BODIES use
stdlib primitives whose own exception types leak on adversarial bytes —
``struct.error`` on a short buffer, ``zlib.error`` on corrupt deflate,
``IndexError`` / ``OverflowError`` on a tampered offset or length
field. Uncaught, any of those kills the Spark task (and after task
retries, the 10^12-document job) on ONE bad payload.

:func:`untrusted_parser` converts that closed set to ``ValueError`` at
the function boundary (verified by ``tools/fuzz_codecs.py``'s mutation
fuzzer and ``tests/test_fuzz_codecs.py``). Genuine resource/runtime
errors — ``MemoryError``, ``RecursionError``, ``KeyboardInterrupt`` —
still propagate: the allocation bombs those would signal are prevented
structurally by the decoders' explicit size caps, and masking them
would hide real bugs.
"""

from __future__ import annotations

import functools
import struct
import zlib

#: exception types stdlib/numpy parsing primitives raise on malformed
#: bytes; anything here is, by construction, an input problem
_MALFORMED = (
    struct.error,
    zlib.error,
    IndexError,
    OverflowError,
    UnicodeDecodeError,
)


def untrusted_parser(fn):
    """Wrap a bytes-parsing entry point so malformed input always
    surfaces as ``ValueError`` (the documented parser contract)."""

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except ValueError:
            raise
        except _MALFORMED as exc:
            raise ValueError(
                f"{fn.__name__}: malformed payload ({type(exc).__name__}: {exc})"
            ) from exc

    return wrapped
