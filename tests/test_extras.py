"""Extras outside the label path: multimodal plumbing, the parquet catalog
and the registry/oracle key check — checked on the driver tables at
sf0.001 plus constructed fixtures."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

SF_DIR = "/root/testdata/sf0.001"


# --- multimodal ------------------------------------------------------------------


def test_multimodal_plumbing(spark):
    from osmgraft.operators.multimodal import (
        decode_media,
        extract_features,
        sample_frames,
        synth_media,
    )

    media = synth_media(spark, 60).cache()
    assert media.count() == 60

    feats = extract_features(media, dim=16).collect()
    assert len(feats) == 60
    for r in feats[:5]:
        assert len(r["features"]) == 16 and r["n_bytes"] > 0
    # deterministic across runs
    again = {r["media_id"]: r["features"] for r in extract_features(media, dim=16).collect()}
    first = {r["media_id"]: r["features"] for r in feats}
    assert first == again

    frames = sample_frames(media, fps_out=1.0).collect()
    assert len(frames) > 0
    for r in frames[:10]:
        assert r["frame_ms"] == r["frame_idx"] * 1000

    # image/png is a REAL codec now: garbage bytes are a decode error,
    # not a missing-codec error; video stays unimplemented
    with pytest.raises(ValueError):
        decode_media(b"xx", "image/png")
    with pytest.raises(NotImplementedError):
        decode_media(b"xx", "video/mp4")
    # codec-routed path raises on execution (synth payloads are random
    # bytes — every real codec rejects them)
    with pytest.raises(Exception):
        extract_features(media, dim=8, use_codec=True).collect()


def test_wav_codec_roundtrip_and_features(spark):
    """The stdlib WAV codec, pinned three independent ways: (a) bit-exact
    round-trip against the stdlib `wave` module as reference encoder,
    (b) analytic sine-wave feature checks, (c) real (non-fake) features
    flowing through extract_features(use_codec=True)."""
    import io
    import wave as wave_mod

    import numpy as np

    from osmgraft.operators.multimodal import (
        decode_wav,
        encode_wav_pcm16,
        extract_features,
        fake_features,
        wav_features,
    )

    # (a) encode with the stdlib wave module, decode with our struct parser
    rng = np.random.default_rng(7)
    pcm = (rng.uniform(-1, 1, 2048) * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(pcm.tobytes())
    samples, rate = decode_wav(buf.getvalue())
    assert rate == 16000 and samples.size == 2048
    assert np.array_equal((samples * 32768.0).astype("<i2"), pcm)
    # and the inverse: our encoder read back by the wave module
    with wave_mod.open(io.BytesIO(encode_wav_pcm16(samples, 16000)), "rb") as w:
        assert (w.getframerate(), w.getnchannels(), w.getnframes()) == (16000, 1, 2048)
        assert np.array_equal(np.frombuffer(w.readframes(2048), "<i2"), pcm)

    # stereo downmix: L/R averaging through a hand-built 2-channel header
    import struct

    inter = np.empty(64, "<i2")
    inter[0::2], inter[1::2] = 10000, -10000
    data = inter.tobytes()
    stereo = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    s2, r2 = decode_wav(stereo)
    assert r2 == 8000 and s2.size == 32 and np.allclose(s2, 0.0)

    # (b) analytic sine: rms = amp/sqrt(2), duration exact, spectral peak
    rate, amp, freq = 8000, 0.6, 440.0
    t = np.arange(8000) / rate
    sine = amp * np.sin(2 * np.pi * freq * t)
    s, r = decode_wav(encode_wav_pcm16(sine, rate))
    feats = wav_features(s, r, n_spec=60)
    assert feats.shape == (64,)
    dur, rms, zcr, peak = feats[:4]
    assert abs(dur - 1.0) < 1e-6
    assert abs(rms - amp / np.sqrt(2)) < 1e-3
    assert abs(zcr - 2 * freq / rate) < 0.01  # a sine crosses zero 2f/s
    assert abs(peak - amp) < 1e-3
    # dominant energy in the bin holding 440 Hz (rfft bin 440 of 4001 -> pooled bin 6)
    spec = feats[4:]
    assert int(np.argmax(spec)) == int(440 / (4001 / 60))

    # (c) end-to-end: valid WAV payloads through the default codec seam
    rows = []
    for i in range(12):
        wav = encode_wav_pcm16(0.5 * np.sin(2 * np.pi * (100 + 50 * i) * t[:2000]), rate)
        rows.append((i, "audio/wav", bytearray(wav)))
    media = spark.createDataFrame(rows, "media_id long, mime string, payload binary")
    out = {r["media_id"]: r for r in extract_features(media, dim=64, use_codec=True).collect()}
    assert len(out) == 12
    for i, _, wav in rows:
        want = wav_features(*decode_wav(bytes(wav)))
        got = np.asarray(out[i]["features"], dtype=np.float32)
        assert np.allclose(got, want)
        assert not np.allclose(got, fake_features(bytes(wav), 64))  # real, not fake
        assert out[i]["n_bytes"] == len(wav)

    # rejects: truncated/garbage payloads and unsupported encodings
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxWAVE")
    with pytest.raises(ValueError):
        decode_wav(b"not a wav at all")


# --- catalog (parquet fallback of the Iceberg-or-parquet table layer) ------------


def test_catalog_roundtrip(spark, tmp_path):
    from osmgraft.sources.catalog import Catalog

    cat = Catalog(spark, warehouse=str(tmp_path / "wh"))
    assert cat.iceberg is None  # no iceberg jar in this environment
    df = spark.range(100).withColumn("k", F.col("id") % 7)
    cat.save(df, "t1", partition_by=["k"])
    assert cat.exists("t1")
    back = cat.load("t1")
    assert back.count() == 100
    assert set(back.columns) == {"id", "k"}


def test_tag_keys_stats_column(spark, synth_small):
    from osmgraft.sources.catalog import with_tag_keys_stats

    docs, _, _ = synth_small
    out = with_tag_keys_stats(docs)
    row = out.where(F.col("doc_id").startswith("node/")).select("tag_keys", "spans").first()
    span_keys = {s["text"].split("=", 1)[0] for s in row["spans"] if s["kind"] == "tag"}
    assert set(row["tag_keys"]) == span_keys


def test_multimodal_codec_seam(spark):
    # Contract test for the codec seam: use_codec=True must (a) raise with
    # the default stub (nothing silently trains on fake pixels) and (b)
    # run end-to-end with an injected codec callable — proving a real
    # Pillow/ffmpeg decoder drops in without touching the Spark plumbing.
    from osmgraft.operators.multimodal import extract_features, synth_media

    media = synth_media(spark, 30).localCheckpoint()

    with pytest.raises(Exception) as exc:
        extract_features(media, dim=4, use_codec=True).collect()
    # video mimes raise NotImplementedError; synth audio/image payloads
    # are random bytes, which the real WAV/PNG codecs reject at parse
    assert any(
        s in str(exc.value)
        for s in ("NotImplementedError", "media codec", "RIFF", "PNG", "PNM")
    )

    def stub_codec(payload: bytes, mime: str) -> np.ndarray:
        # deterministic "decoded pixels": first 16 payload bytes
        return np.frombuffer(payload[:16].ljust(16, b"\0"), dtype=np.uint8).astype(np.float32)

    out = {r["media_id"]: r for r in extract_features(media, dim=4, use_codec=True, codec=stub_codec).collect()}
    raw = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    assert set(out) == set(raw)
    for mid, r in out.items():
        want = np.frombuffer(raw[mid][:16].ljust(16, b"\0"), dtype=np.uint8).astype(np.float32)[:4]
        assert np.allclose(np.asarray(r["features"], dtype=np.float32), want)
        assert r["n_bytes"] == len(raw[mid])


def test_png_decode_meta_spark(spark):
    """The PNG codec at scale: png_decode_meta recovers geometry + pixel
    sum from the bytes of the staged oracle table (mixed None/Up filters,
    zlib inflate in the Arrow kernel), matching the staged side-channel
    columns row-for-row; and extract_features(use_codec=True) produces
    real (header-derived) image features for image/png payloads."""
    import os
    import sys

    import numpy as np

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from __spark_entry__ import _stage_png_oracle
    from osmgraft.operators.multimodal import extract_features, png_decode_meta

    staged = spark.read.parquet(_stage_png_oracle())
    got = {
        r["media_id"]: (r["width"], r["height"], r["px_sum"])
        for r in png_decode_meta(staged.select("media_id", "payload")).collect()
    }
    want = {
        r["media_id"]: (r["w"], r["h"], r["px_sum"]) for r in staged.collect()
    }
    assert got == want and len(got) == 120

    media = staged.selectExpr("media_id", "'image/png' as mime", "payload")
    feats = {
        r["media_id"]: np.array(r["features"])
        for r in extract_features(media, dim=8, use_codec=True).collect()
    }
    for r in staged.select("media_id", "w", "h").collect():
        v = feats[r["media_id"]]
        assert (v[0], v[1], v[2]) == (r["w"], r["h"], 1.0)


def test_registry_and_oracles_share_keys():
    """Every registry query has an oracle and every oracle a query: the
    oracle checker iterates queries() only, so an oracle orphaned by a
    deleted query would otherwise go unnoticed. The bench rows and the plan
    audit name registry keys as string literals (``_entry("…")``,
    ``queries()["…"]``), which no import check sees, so each such literal
    must also be a key. Parses those files with ``ast``; Spark-free."""
    import ast
    import os
    import sys

    repo = os.path.join(os.path.dirname(__file__), "..")
    sys.path.insert(0, repo)
    from __spark_entry__ import oracle_sql, queries

    keys = set(queries())
    assert keys == set(oracle_sql())

    def is_queries_call(node) -> bool:
        f = getattr(node, "func", None)
        return isinstance(node, ast.Call) and (
            isinstance(f, ast.Name) and f.id == "queries"
            or isinstance(f, ast.Attribute) and f.attr == "queries"
        )

    named = []
    for rel in ("bench.py", "tools/explain_audit.py"):
        with open(os.path.join(repo, rel)) as f:
            tree = ast.parse(f.read(), filename=rel)
        for node in ast.walk(tree):
            if isinstance(node, ast.Subscript) and is_queries_call(node.value):
                lit = node.slice
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "_entry"
                and node.args
            ):
                lit = node.args[0]
            else:
                continue
            if isinstance(lit, ast.Constant) and isinstance(lit.value, str):
                named.append((rel, lit.value))
    assert {rel for rel, _ in named} == {"bench.py", "tools/explain_audit.py"}
    assert [(rel, k) for rel, k in named if k not in keys] == []


def test_osmgraft_imports_resolve():
    """Every ``from osmgraft.… import name`` in the repo's Python files
    resolves. Registry queries, bench rows, tools and many tests import
    lazily inside functions that tier-1 never runs, so a deleted module or
    function would otherwise leave a dangling import behind unnoticed.
    Parses the files with ``ast`` and imports only osmgraft modules; no
    SparkSession is started."""
    import ast
    import glob
    import importlib.util
    import os
    import sys

    repo = os.path.join(os.path.dirname(__file__), "..")
    sys.path.insert(0, repo)
    files = [os.path.join(repo, f) for f in ("__spark_entry__.py", "bench.py")]
    for pattern in ("tools/*.py", "perfbench/*.py", "osmgraft/**/*.py", "tests/*.py"):
        files += glob.glob(os.path.join(repo, pattern), recursive=True)

    def resolves(module: str, name: str | None) -> bool:
        try:
            mod = importlib.import_module(module)
        except ModuleNotFoundError:
            return False
        if name is None or name == "*" or hasattr(mod, name):
            return True
        return importlib.util.find_spec(f"{module}.{name}") is not None

    checked, dangling = 0, []
    for path in files:
        with open(path) as f:
            tree = ast.parse(f.read(), filename=path)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.level == 0:
                targets = [(node.module, a.name) for a in node.names]
            elif isinstance(node, ast.Import):
                targets = [(a.name, None) for a in node.names]
            else:
                continue
            for module, name in targets:
                if module != "osmgraft" and not module.startswith("osmgraft."):
                    continue
                checked += 1
                if not resolves(module, name):
                    where = os.path.relpath(path, repo)
                    dangling.append(f"{where}:{node.lineno} {module} {name or ''}".rstrip())
    assert checked > 100, checked
    assert not dangling, dangling
