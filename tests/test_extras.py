"""Training-data extras: dedup families, similarity search, text stats,
multimodal plumbing — checked on the driver tables at sf0.001 plus
constructed fixtures."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


# --- dedup ---------------------------------------------------------------


def test_exact_dedup(spark):
    from osmgraft.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y"), (4, "a  b c")],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in exact_dedup(df).collect())
    assert kept == [1, 3, 4]  # 2 is an exact dup of 1; 4 differs by spacing


def test_jaccard_pairs_small(spark):
    from osmgraft.operators.dedup import jaccard_pairs

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown fox sleeps"),
            (3, "entirely different words here"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jaccard_pairs(df, threshold=0.5).collect()}
    assert set(pairs) == {(1, 2)}
    assert abs(pairs[(1, 2)] - 4 / 6) < 1e-12


def test_minhash_lsh_finds_near_dups(spark, docs):
    from osmgraft.operators.dedup import jaccard_pairs, minhash_lsh_pairs

    # plant near-duplicates: copy 10 docs with one word changed
    base = docs.limit(10).select("doc_id", "text")
    dups = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(dups)
    got = minhash_lsh_pairs(corpus, num_hashes=32, bands=16, shingle_n=3, verify_threshold=0.6)
    got_pairs = {(r["id_a"], r["id_b"]) for r in got.collect()}
    planted = {(i, i + 100000) for i in range(10)}
    # banded LSH with 16 bands @ threshold ~(1/16)^(1/2)=0.25 catches >=0.6 pairs
    assert planted <= got_pairs
    # verification step keeps only true near-dups
    truth = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(corpus.where(F.col("doc_id").isin([*range(10), *[i + 100000 for i in range(10)]])), threshold=0.0).collect()
        if r["jaccard"] >= 0.6
    }
    assert got_pairs >= planted and planted <= truth


def test_minhash_dedup_removes_planted(spark, docs):
    from osmgraft.operators.dedup import minhash_dedup

    base = docs.limit(10).select("doc_id", "text")
    dups = base.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    corpus = docs.select("doc_id", "text").unionByName(dups)
    out = minhash_dedup(corpus, num_hashes=32, bands=16, shingle_n=3, verify_threshold=0.9)
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert not any(i + 100000 in ids for i in range(10))  # dups suppressed
    assert set(range(10)) <= ids  # originals kept


def test_simhash_pairs(spark):
    from osmgraft.operators.dedup import simhash_pairs

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_pairs(df, max_hamming=16, prefix_bits=4).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_multiprobe_beats_single_table(spark, docs):
    # Near-dup twins whose signature diffs land in the top prefix bits are
    # invisible to a single prefix table; the rotated multi-probe tables
    # must recover them. Recall is measured against exact Hamming truth.
    import hashlib

    import numpy as np

    from osmgraft.operators.dedup import simhash_pairs

    base = docs.limit(40).select("doc_id", "text")
    twins = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq xv qj")).alias("text"),
    )
    corpus = base.unionByName(twins)

    # exact truth from the same signature definition, computed locally
    def h64(w):
        return int.from_bytes(hashlib.md5(w.encode()).digest()[8:16], "little")

    def sig_of(t):
        hs = np.array([h64(w) for w in t.split()], dtype=np.uint64)
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int32)
        votes = (2 * bits - 1).sum(axis=0)
        s = np.uint64(0)
        for b in np.nonzero(votes > 0)[0]:
            s |= np.uint64(1) << np.uint64(b)
        return s

    rows = corpus.collect()
    sigs = {r["doc_id"]: sig_of(r["text"]) for r in rows}
    max_h = 10
    truth = set()
    prefix_hit = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            x = int(sigs[a] ^ sigs[b])
            if bin(x).count("1") <= max_h:
                truth.add((a, b))
                if x >> 48:  # any differing bit in the top 16 = prefix zone
                    prefix_hit.add((a, b))
    assert prefix_hit, "fixture must contain prefix-differing near-dup pairs"

    single = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs(corpus, max_hamming=max_h, prefix_bits=16, n_tables=1, signature="md5").collect()
    }
    multi = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs(corpus, max_hamming=max_h, prefix_bits=16, n_tables=4, signature="md5").collect()
    }
    assert single <= truth and multi <= truth  # verify step admits no junk
    assert single.isdisjoint(prefix_hit)  # single table provably misses these
    assert multi > single  # rotations recover pairs the prefix killed
    assert len(multi & prefix_hit) > 0


def test_jaccard_hot_token_damping(spark):
    from osmgraft.operators.dedup import jaccard_pairs

    df = spark.createDataFrame(
        [
            (1, "the alpha beta gamma"),
            (2, "the alpha beta delta"),
            (3, "the unrelated words entirely"),
            (4, "the other stuff altogether"),
        ],
        "doc_id long, text string",
    )
    # undamped: every doc pairs through "the" at threshold 0
    full = {(r["id_a"], r["id_b"]) for r in jaccard_pairs(df, threshold=0.01).collect()}
    assert (3, 4) in full
    # df cutoff 2 drops "the" (df=4); only real overlap survives, and the
    # jaccard is computed on the damped sets (2/4 for docs 1-2)
    damped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(df, threshold=0.01, max_df=2).collect()
    }
    assert set(damped) == {(1, 2)}
    assert abs(damped[(1, 2)] - 2 / 4) < 1e-12


# --- similarity search --------------------------------------------------------


def test_brute_force_topk_matches_numpy(spark, embeddings):
    from osmgraft.operators.simsearch import brute_force_topk

    rows = embeddings.collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    q = mat[7]
    cos = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -cos))[:5]
    want = list(ids[order])
    got = [r["vec_id"] for r in brute_force_topk(embeddings, list(map(float, q)), 5).collect()]
    assert got == want


def test_ann_recall_vs_brute(spark, embeddings):
    from osmgraft.operators.simsearch import ann_topk, brute_force_topk

    queries = embeddings.limit(8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding")
    )
    ann = ann_topk(embeddings, queries, k=5, dim=64, n_planes=6, n_tables=10)
    got = {(r["q_id"], r["vec_id"]) for r in ann.collect()}
    # every query finds at least itself (same bucket, cosine 1)
    for q in [r["q_id"] for r in queries.collect()]:
        assert (q, q) in got
    # recall@5 averaged over queries is positive and sane
    hits = total = 0
    for q in [r["q_id"] for r in queries.select("q_id").collect()]:
        qv = [
            float(x)
            for x in embeddings.where(F.col("vec_id") == q).collect()[0]["embedding"]
        ]
        truth = {r["vec_id"] for r in brute_force_topk(embeddings, qv, 5).collect()}
        hits += len(truth & {v for (qq, v) in got if qq == q})
        total += 5
    assert hits / total > 0.2  # single-table LSH; exactness not claimed


def test_ivf_full_probe_equals_brute_force(spark, embeddings):
    """nprobe == n_cells probes every inverted list -> IVF must return the
    exact brute-force top-k, regardless of how the quantizer carved the
    space (the IVF analogue of the LSH full-recall pin)."""
    from osmgraft.operators.simsearch import brute_force_topk, ivf_topk

    queries = embeddings.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = ivf_topk(embeddings, queries, k=5, n_cells=8, nprobe=8, seed=3, iters=2)
    got = {(r["q_id"], r["vec_id"], r["rk"]) for r in out.collect()}
    for q in [r["q_id"] for r in queries.collect()]:
        qv = [
            float(x)
            for x in embeddings.where(F.col("vec_id") == q).collect()[0]["embedding"]
        ]
        truth = brute_force_topk(embeddings, qv, 5).collect()
        for rk, row in enumerate(truth, 1):
            assert (q, row["vec_id"], rk) in got


def test_ivf_partial_probe_recall_and_pruning(spark, embeddings):
    from osmgraft.operators.simsearch import brute_force_topk, ivf_topk

    queries = embeddings.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = ivf_topk(embeddings, queries, k=5, n_cells=16, nprobe=4, seed=3, iters=3)
    got = {(r["q_id"], r["vec_id"]) for r in out.collect()}
    # a query's own vector shares its cell -> always found at cosine 1
    hits = total = 0
    for q in [r["q_id"] for r in queries.select("q_id").collect()]:
        assert (q, q) in got
        qv = [
            float(x)
            for x in embeddings.where(F.col("vec_id") == q).collect()[0]["embedding"]
        ]
        truth = {r["vec_id"] for r in brute_force_topk(embeddings, qv, 5).collect()}
        hits += len(truth & {v for (qq, v) in got if qq == q})
        total += 5
    assert hits / total > 0.4  # 4-of-16 cells probed; exactness not claimed
    # pruning is real: fewer candidates than brute force would rerank
    assert out.count() <= 8 * 5


def test_ivf_exact_assign_matches_udf_assign(spark, embeddings):
    """The Catalyst rounded-argmax assignment (oracle path) and the numpy
    matmul assignment agree cell-for-cell on real data (rounding to 4
    decimals never flips an argmax on the synth vectors)."""
    from osmgraft.operators.simsearch import (
        _ivf_assign_udf,
        _ivf_cell_expr,
        ivf_centroids,
    )

    cents = ivf_centroids(embeddings, 8, seed_ids=[3, 17, 29, 41, 53, 61, 77, 89])
    exact = {
        r["vec_id"]: r["_cell"]
        for r in embeddings.select(
            "vec_id", _ivf_cell_expr(F.col("embedding"), cents)
        ).collect()
    }
    fast = {
        r["vec_id"]: r["c"]
        for r in embeddings.select(
            "vec_id", _ivf_assign_udf(cents)(F.col("embedding")).alias("c")
        ).collect()
    }
    assert exact == fast


def test_ivf_centroids_seed_ids_and_determinism(spark, embeddings):
    import numpy as np

    from osmgraft.operators.simsearch import ivf_centroids

    cents = ivf_centroids(embeddings, 2, seed_ids=[5, 9])
    want = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in embeddings.where(F.col("vec_id").isin([5, 9])).collect()
    }
    assert np.allclose(cents[0], want[5] / np.linalg.norm(want[5]))
    assert np.allclose(cents[1], want[9] / np.linalg.norm(want[9]))
    with pytest.raises(ValueError, match="not found"):
        ivf_centroids(embeddings, 2, seed_ids=[5, 10**9])
    a = ivf_centroids(embeddings, 8, seed=3, iters=3)
    b = ivf_centroids(embeddings, 8, seed=3, iters=3)
    assert np.array_equal(a, b)


def test_quantize_embeddings_roundtrip(spark, embeddings):
    import numpy as np

    from osmgraft.operators.simsearch import dequantize_expr, quantize_embeddings

    q = quantize_embeddings(embeddings)
    joined = q.join(embeddings, "vec_id").select(
        "vec_id", "embedding", dequantize_expr(F.col("qvec"), F.col("scale")).alias("deq"), "qvec"
    )
    for r in joined.limit(50).collect():
        orig = np.array(r["embedding"], dtype=np.float64)
        deq = np.array(r["deq"])
        assert np.all(np.abs(np.array(r["qvec"])) <= 127)
        # max error bound: 0.5/scale = max|v|/254
        assert np.max(np.abs(orig - deq)) <= np.max(np.abs(orig)) / 254 + 1e-12
        cos = orig @ deq / (np.linalg.norm(orig) * np.linalg.norm(deq))
        assert cos > 0.9995


def test_quantize_embeddings_zero_vector_and_plan(spark):
    from osmgraft.operators.simsearch import dequantize_expr, quantize_embeddings

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id bigint, embedding array<double>",
    )
    q = quantize_embeddings(df)
    rows = {r["vec_id"]: r for r in q.collect()}
    assert rows[1]["qvec"] == [0, 0, 0] and rows[1]["scale"] == 0.0
    assert rows[2]["qvec"] == [64, -127, 32]  # floor(x*63.5 + 0.5)
    deq = {
        r["vec_id"]: r["d"]
        for r in q.select("vec_id", dequantize_expr(F.col("qvec"), F.col("scale")).alias("d")).collect()
    }
    assert deq[1] == [0.0, 0.0, 0.0]
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan  # narrow, JVM-side


def test_pairwise_neighbors_blocked(spark, embeddings):
    from osmgraft.operators.simsearch import pairwise_neighbors

    out = pairwise_neighbors(embeddings.limit(50), k=3)
    rows = out.collect()
    by_a = {}
    for r in rows:
        by_a.setdefault(r["id_a"], []).append(r)
    for a, lst in by_a.items():
        assert len(lst) == 3
        assert sorted(r["rk"] for r in lst) == [1, 2, 3]


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


# --- embedding-cosine near-dup ---------------------------------------------------


def test_embedding_dedup_exact_vs_lsh(spark):
    import numpy as np

    from osmgraft.operators.dedup import embedding_dedup, embedding_dup_pairs

    rng = np.random.default_rng(3)
    base = rng.standard_normal((60, 16)).astype("float32")
    rows = [(i, [float(x) for x in base[i]]) for i in range(60)]
    # near-duplicates of the first 6 vectors (tiny perturbation)
    rows += [
        (1000 + i, [float(x) for x in (base[i] + rng.normal(0, 1e-4, 16).astype("float32"))])
        for i in range(6)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = embedding_dup_pairs(emb, threshold=0.999, exact=True)
    got = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    assert got == {(i, 1000 + i) for i in range(6)}

    # LSH path: candidates are a superset-threshold check; with 8 tables the
    # 6 true near-dup pairs must all be recovered
    lsh = embedding_dup_pairs(emb, threshold=0.999, dim=16, n_planes=6, n_tables=8)
    got_lsh = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
    assert got_lsh == got

    kept = embedding_dedup(emb, threshold=0.999, exact=True)
    ids = {r["vec_id"] for r in kept.collect()}
    assert ids == set(range(60))  # all 1000+ dupes suppressed


def test_simhash_degenerate_text(spark):
    # Empty / whitespace-only / NULL documents: signature 0 on the engine
    # side (str.split() -> no tokens), pairing only with each other — the
    # SQL oracle reproduces this via its w <> '' filter + sig-0 fallback.
    from osmgraft.operators.dedup import simhash_pairs, simhash_udf

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "real content here okay")],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: r["sig"] for r in df.select("doc_id", simhash_udf()(F.col("text")).alias("sig")).collect()}
    assert sigs[1] == sigs[2] == sigs[3] == 0
    assert sigs[4] != 0
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_pairs(df, max_hamming=4).collect()}
    assert pairs == {(1, 2), (1, 3), (2, 3)}


def test_simhash_expr_matches_replayed_xxhash_votes(spark, docs):
    # Pin the Catalyst signature kernel (the default/scale path): replay
    # Spark's OWN xxhash64 token hashes through a plain-Python majority
    # vote and require bit-identical signatures. (xxhash64 itself is the
    # trusted builtin; this pins the vote/fold expression around it.)
    import numpy as np

    from osmgraft.operators.dedup import simhash_expr

    corpus = docs.limit(60).select("doc_id", "text")
    got = {
        r["doc_id"]: r["sig"]
        for r in corpus.select("doc_id", simhash_expr(F.col("text")).alias("sig")).collect()
    }
    tok_hashes = (
        corpus.select(
            "doc_id",
            F.explode(F.filter(F.split(F.trim("text"), r"\s+"), lambda w: w != F.lit(""))).alias("w"),
        )
        .select("doc_id", F.xxhash64(F.col("w")).alias("h"))
        .collect()
    )
    by_doc: dict[int, list[int]] = {}
    for r in tok_hashes:
        by_doc.setdefault(r["doc_id"], []).append(r["h"])
    for doc_id, sig in got.items():
        hs = np.array(by_doc.get(doc_id, []), dtype=np.int64).view(np.uint64)
        if len(hs) == 0:
            assert sig == 0
            continue
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int32)
        votes = (2 * bits - 1).sum(axis=0)
        want = np.uint64(0)
        for b in np.nonzero(votes > 0)[0]:
            want |= np.uint64(1) << np.uint64(b)
        assert sig == np.int64(want.view(np.int64)), doc_id


def test_simhash_catalyst_default_finds_planted_pairs(spark):
    # The default (Catalyst) path end-to-end: planted near-dup twins pair,
    # unrelated docs don't, and degenerate text folds to signature 0 like
    # the md5 kernel.
    from osmgraft.operators.dedup import simhash_expr, simhash_pairs

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappb"),
            (3, "one two three four five six seven eight nine ten"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: r["sig"] for r in df.select("doc_id", simhash_expr(F.col("text")).alias("sig")).collect()}
    assert sigs[4] == 0
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_pairs(df, max_hamming=16, prefix_bits=4).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_jaccard_default_damps_planted_stopword(spark):
    # The damping rail must be on BY DEFAULT: a corpus where every document
    # shares one stopword would otherwise feed an all-pairs self-join
    # (1500 docs -> ~1.1M intersection rows here; quadratic at scale).
    from osmgraft.operators.dedup import jaccard_pairs

    docs = spark.range(1500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("the unique"), F.col("id").cast("string"),
                 F.lit(" tok"), (F.col("id") * 7).cast("string")).alias("text"),
    )
    # default (finite max_df): the stopword is dropped, no pair shares a
    # surviving token -> zero rows, and the plan stays bucketed
    assert jaccard_pairs(docs, threshold=0.01).count() == 0
    # explicit opt-out reproduces exact jaccard: all pairs share only 'the'
    # (1/5 each) -> a planted twin is still found above threshold
    twin = spark.createDataFrame(
        [(100000, "the unique3 tok21")], "doc_id long, text string"
    )
    exact = jaccard_pairs(
        docs.where(F.col("doc_id") < 50).unionByName(twin), threshold=0.9, max_df=None
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in exact} == {(3, 100000)}


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
    deleted query would otherwise go unnoticed. Spark-free."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from __spark_entry__ import oracle_sql, queries

    assert set(queries()) == set(oracle_sql())
