"""Pin the untrusted-bytes contract: every codec/container parser raises
ONLY ValueError (or NotImplementedError) on malformed payloads — never
struct.error / zlib.error / IndexError, each of which would kill the
Spark task carrying the decode kernel. Runs the deterministic mutation
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


def test_on_error_skip_survives_poisoned_payloads(spark):
    """A corrupt payload in a decode kernel: default raises (fail-fast,
    what the oracles pin); on_error='skip' drops exactly the poisoned
    rows and keeps every decodable one — the 10^12-doc contract that one
    adversarial blob cannot kill the job."""
    import numpy as np

    from osmgraft.operators.multimodal import (
        encode_wav_pcm16,
        extract_features,
        wav_decode_meta,
    )

    good = encode_wav_pcm16(np.linspace(-0.5, 0.5, 400), 8000)
    rows = [
        (1, "audio/wav", bytearray(good)),
        (2, "audio/wav", bytearray(good[:13])),  # truncated mid-header
        (3, "audio/wav", bytearray(b"\x00" * 64)),  # not RIFF at all
        (4, "audio/wav", bytearray(good)),
    ]
    media = spark.createDataFrame(rows, "media_id long, mime string, payload binary")

    import pytest as _pytest

    # default policy: fail fast (Spark surfaces the kernel's ValueError)
    with _pytest.raises(Exception, match="RIFF|malformed|ValueError"):
        wav_decode_meta(media).collect()

    kept = wav_decode_meta(media, on_error="skip").collect()
    assert sorted(r["media_id"] for r in kept) == [1, 4]
    assert all(r["sample_rate"] == 8000 and r["n_samples"] == 400 for r in kept)

    # the feature seam honors the same policy (decode_media sniffs WAV)
    feats = extract_features(media, dim=4, use_codec=True, on_error="skip").collect()
    assert sorted(r["media_id"] for r in feats) == [1, 4]

    with _pytest.raises(ValueError, match="on_error"):
        wav_decode_meta(media, on_error="ignore")
