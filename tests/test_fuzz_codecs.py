"""Pin the untrusted-bytes contract: every parser over untrusted bytes
(``decode_png``, ``parse_ttf``, ``geoblob.unpack``/``unpack_points``)
raises ONLY ValueError (or NotImplementedError) on malformed payloads —
never struct.error / zlib.error / IndexError, each of which would kill
the Spark task carrying the decode kernel. Runs the deterministic mutation
fuzzer from tools/ at a small fixed budget; ``python
tools/fuzz_codecs.py 4000`` is the deep version of the same sweep."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import pytest

from fuzz_codecs import ALLOWED, mutate, seeds


@pytest.mark.parametrize("name", sorted(seeds()))
def test_mutated_payloads_raise_only_valueerror(name):
    import random

    payload, fn = seeds()[name]
    fn(payload)  # the unmutated seed must decode
    rng = random.Random(f"pytest:{name}")
    for _ in range(80):
        mutated, desc = mutate(payload, rng)
        if rng.random() < 0.5:
            mutated, d2 = mutate(mutated, rng)
            desc = f"{desc}+{d2}"
        try:
            fn(mutated)
        except ALLOWED:
            pass
        except Exception as exc:  # noqa: BLE001
            pytest.fail(f"{name} mut={desc}: {type(exc).__name__}: {exc}")


def test_guard_preserves_valueerror_text(tmp_path):
    from osmgraft.functions.ttf import parse_ttf

    path = tmp_path / "not_a_font.ttf"
    path.write_bytes(b"definitely not a font payload")
    with pytest.raises(ValueError, match="not a TTF: sfnt version"):
        parse_ttf(str(path))


def test_guard_converts_struct_error(tmp_path):
    import struct

    from osmgraft.functions.ttf import parse_ttf

    from fuzz_codecs import _ttf_seed

    # truncated inside the table directory: stdlib struct would raise
    # struct.error; the guard re-raises it as ValueError, cause kept
    path = tmp_path / "truncated.ttf"
    path.write_bytes(_ttf_seed()[:20])
    with pytest.raises(ValueError, match="parse_ttf: malformed payload") as err:
        parse_ttf(str(path))
    assert isinstance(err.value.__cause__, struct.error)
