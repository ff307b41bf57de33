"""Benchmark harness — prints ONE JSON line.

Headline metric: POI rows extracted+tiled per second through the full
engine pipeline (decode -> classify -> areas -> rank -> label -> tile) on
the interleaved documents table, plus per-query wall times for the other
operator families at $SPARK_GRAFT_SF_DIR.

Window-proof protocol (the sandbox host's CPU/memory bandwidth swings
2-7x between co-tenancy windows, so a single-pass record is
uninterpretable on its own):

- queries run INTERLEAVED over several rounds (q1..q6, q1..q6, ...) and
  the reported per-query number is the MEDIAN across rounds — a slow
  window hits all queries of that round symmetrically instead of pinning
  one query to a bogus number;
- per-round samples are written into the artifact, so round-over-round
  comparison needs no forensic work.

The synthetic documents table is staged once under /tmp (generation is
NOT part of the measured time; the input is a parquet table, as in the
target deployment). The staged labels table is keyed on a fingerprint of
the osmgraft package source so a code change can never silently reuse
stale labels.

Env:
  SPARK_GRAFT_SF_DIR    (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS      (default 32)
  OSMGRAFT_BENCH_DOCS   (override synth doc count)
  OSMGRAFT_BENCH_ROUNDS (interleaved rounds, default 3)
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import pyspark.sql.functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SEED = 42


def sf_of(path: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1)) if m else 0.1


def _fingerprint(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def synth_fingerprint() -> str:
    """Docs/blobs staging key: the synth output depends only on the
    generator code + params, so only synth.py participates."""
    return _fingerprint([f"{REPO}/osmgraft/sources/synth.py"])


def pkg_fingerprint() -> str:
    """Labels staging key: the label pipeline can be touched from anywhere
    in the package, so the whole source tree participates."""
    return _fingerprint(glob.glob(f"{REPO}/osmgraft/**/*.py", recursive=True))


def stage_synth(spark, n_docs: int) -> tuple[str, str]:
    """Generate (once per synth-code version) the interleaved docs+blobs
    parquet."""
    from osmgraft.sources.synth import SynthParams, write_synth

    root = f"/tmp/osmgraft_bench_{SEED}_{n_docs}_{synth_fingerprint()}"
    docs_p, blobs_p = f"{root}/documents.parquet", f"{root}/blobs.parquet"
    if not (os.path.exists(f"{docs_p}/_SUCCESS") and os.path.exists(f"{blobs_p}/_SUCCESS")):
        write_synth(spark, root, SynthParams(n_docs=n_docs, seed=SEED), partitions=CPUS * 2)
    return docs_p, blobs_p


def codec_fingerprint() -> str:
    return _fingerprint([f"{REPO}/osmgraft/operators/multimodal.py"])


def stage_codec_media(spark, n: int = 12_000) -> str:
    """Stage >=10^4 payloads per codec (WAV / PNG) so codec
    throughput appears in the bench record — the correctness oracles are
    120-150 rows, too small to see a decode regression. Generation is
    distributed (mapInPandas over spark.range) and keyed on the codec
    sources so a codec change restages."""
    import numpy as np
    import pandas as pd

    root = f"/tmp/osmgraft_bench_codec_{n}_{codec_fingerprint()}"
    paths = {k: f"{root}/{k}.parquet" for k in ("wav", "png")}
    if all(os.path.exists(f"{p}/_SUCCESS") for p in paths.values()):
        return root

    schema = "media_id long, payload binary"

    def gen_wav(batches):
        from osmgraft.operators.multimodal import encode_wav_pcm16

        for pdf in batches:
            ids, pls = [], []
            for i in pdf["id"]:
                rng = np.random.default_rng([11, int(i)])
                x = rng.standard_normal(2000) * 0.3
                ids.append(int(i))
                pls.append(encode_wav_pcm16(x, 8000))
            yield pd.DataFrame({"media_id": ids, "payload": pls})

    def gen_png(batches):
        import struct
        import zlib

        def chunk(tag, payload):
            return (
                struct.pack(">I", len(payload))
                + tag
                + payload
                + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
            )

        for pdf in batches:
            ids, pls = [], []
            for i in pdf["id"]:
                rng = np.random.default_rng([13, int(i)])
                img = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
                flat = img.reshape(64, 192).astype(np.int32)
                ftype = int(i) % 5  # cycle all five filters incl. Paeth
                left = np.zeros_like(flat)
                left[:, 3:] = flat[:, :-3]
                up = np.zeros_like(flat)
                up[1:] = flat[:-1]
                ul = np.zeros_like(flat)
                ul[1:, 3:] = flat[:-1, :-3]
                if ftype == 0:
                    res = flat
                elif ftype == 1:
                    res = flat - left
                elif ftype == 2:
                    res = flat - up
                elif ftype == 3:
                    res = flat - ((left + up) >> 1)
                else:
                    p = left + up - ul
                    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul)
                    )
                    res = flat - pred
                raw = b"".join(
                    bytes([ftype]) + (res[y] & 0xFF).astype(np.uint8).tobytes()
                    for y in range(64)
                )
                png = (
                    b"\x89PNG\r\n\x1a\n"
                    + chunk(b"IHDR", struct.pack(">IIBBBBB", 64, 64, 8, 2, 0, 0, 0))
                    + chunk(b"IDAT", zlib.compress(raw, 1))
                    + chunk(b"IEND", b"")
                )
                ids.append(int(i))
                pls.append(png)
            yield pd.DataFrame({"media_id": ids, "payload": pls})

    for kind, gen in (("wav", gen_wav), ("png", gen_png)):
        spark.range(n).repartition(CPUS * 2).mapInPandas(gen, schema).write.mode(
            "overwrite"
        ).parquet(paths[kind])
    return root


def main() -> None:
    from osmgraft.session import get_spark

    spark = get_spark(app_name="osmgraft-bench", cores=CPUS, shuffle_partitions=CPUS)
    sf = sf_of(SF_DIR)
    n_docs = int(os.environ.get("OSMGRAFT_BENCH_DOCS", str(max(2000, int(600_000 * sf)))))
    rounds = int(os.environ.get("OSMGRAFT_BENCH_ROUNDS", "3"))
    docs_path, blobs_path = stage_synth(spark, n_docs)

    docs = spark.read.parquet(docs_path)
    blobs = spark.read.parquet(blobs_path)

    # untimed warm-up on a small doc slice: JIT, Arrow/pandas worker spin-up,
    # codegen caches — so the timed numbers are steady-state engine
    # throughput, not JVM cold-start (the target deployment is a long-lived
    # cluster, not a fresh JVM per query)
    def _warmup():
        from osmgraft.operators.dedup import minhash_lsh_pairs
        from osmgraft.operators.knn import dedup_labels
        from osmgraft.operators.pip import pip_join
        from osmgraft.operators.tiles import assign_tiles
        from osmgraft.plans.pipeline import label_pipeline
        from osmgraft.sources.decode import decode_documents

        small = docs.limit(2000)
        labels = label_pipeline(spark, small, blobs)
        assign_tiles(labels, z=12).count()
        # touch every timed path once so each query measures steady-state
        # engine throughput, not its first-use codegen/Arrow spin-up
        frames = decode_documents(small, blobs)
        pip_join(
            frames.node_pois.select("osm_id", "lat", "lon"),
            frames.polygons,
            strategy="partitioned",
            res=4,
        ).count()
        dedup_labels(labels, radius_m=2000.0).count()
        from osmgraft.operators.multimodal import png_decode_meta, wav_decode_meta

        croot = stage_codec_media(spark)
        wav_decode_meta(spark.read.parquet(f"{croot}/wav.parquet").limit(200)).count()
        png_decode_meta(spark.read.parquet(f"{croot}/png.parquet").limit(200)).count()
        minhash_lsh_pairs(
            spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text").limit(200),
            num_hashes=32,
            bands=8,
            verify_threshold=0.5,
        ).count()
        from osmgraft.operators.dedup import dup_spans
        from osmgraft.operators.retrieval import bm25_topk

        dslice = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "text"
        ).limit(200)
        bm25_topk(dslice, ["spark", "join", "window"], k=10).count()
        dup_spans(dslice, n=5).count()

    _warmup()

    # q3's input: the pipeline that derives the labels is q1's measurement;
    # staging it once (untimed, like the docs synth) keeps q3 a clean
    # per-operator number instead of re-paying the pipeline cost every
    # round. Keyed on the PACKAGE fingerprint: a pipeline code change must
    # invalidate the staged labels.
    labels_path = f"{docs_path.rsplit('/', 1)[0]}/labels_{pkg_fingerprint()}.parquet"
    if not os.path.exists(f"{labels_path}/_SUCCESS"):
        from osmgraft.plans.pipeline import label_pipeline

        label_pipeline(spark, docs, blobs).write.mode("overwrite").parquet(labels_path)
    staged_labels = spark.read.parquet(labels_path)

    # ---- queries ----------------------------------------------------------

    def q_pipeline():
        from osmgraft.operators.tiles import assign_tiles
        from osmgraft.plans.pipeline import label_pipeline

        return assign_tiles(label_pipeline(spark, docs, blobs), z=12).count()

    def q_pip():
        from osmgraft.operators.pip import pip_join
        from osmgraft.sources.decode import decode_documents

        frames = decode_documents(docs, blobs)
        pts = frames.node_pois.select("osm_id", "lat", "lon")
        return pip_join(pts, frames.polygons, strategy="partitioned", res=4).count()

    def q_dedup():
        from osmgraft.operators.knn import dedup_labels

        return dedup_labels(staged_labels, radius_m=2000.0).count()

    def q_rank():
        from __spark_entry__ import queries

        return queries()["global_rank"](spark, SF_DIR).count()

    def q_minhash():
        from osmgraft.operators.dedup import minhash_lsh_pairs

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
        return minhash_lsh_pairs(d, num_hashes=32, bands=8, verify_threshold=0.5).count()

    def q_ann():
        from osmgraft.operators.simsearch import brute_force_topk

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        qv = [float(x) for x in emb.where(F.col("vec_id") == 7).collect()[0]["embedding"]]
        return brute_force_topk(emb, qv, 10).count()

    def q_components():
        from osmgraft.operators.dedup import connected_components

        # 16-long id chains over an id space the size of the staged corpus:
        # the adversarial depth case for pair->cluster closure (forces ~4-5
        # alternating large/small-star rounds; one-hop would not converge)
        ids = spark.range(n_docs).select(F.col("id").alias("doc_id"))
        edges = ids.where((F.col("doc_id") % 16 != 15) & (F.col("doc_id") + 1 < n_docs)).select(
            F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
        )
        return connected_components(edges).count()

    def q_decontam():
        from osmgraft.operators.curation import contaminated_ids

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
        bench_side = d.where(F.col("doc_id") % 10 == 7)
        corpus = d.where(F.col("doc_id") % 10 != 7)
        return contaminated_ids(corpus, bench_side, n=3, min_shared=2).count()

    def q_bm25():
        from osmgraft.operators.retrieval import bm25_topk

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
        # top-k forces scoring of every matching document; the count is 100
        # but the work is the full corpus tokenize + posting aggregation
        return bm25_topk(d, ["spark", "join", "window"], k=100).count()

    def q_dup_spans():
        from osmgraft.operators.dedup import dup_spans

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
        return dup_spans(d, n=5).count()

    def q_asof():
        from __spark_entry__ import queries

        return queries()["asof_join_events"](spark, SF_DIR).count()

    def _entry(name):
        # the entry-registry queries are the exact code the correctness
        # oracle runs; timing them at SF_DIR makes the bench row and the
        # oracled semantics one and the same object
        from __spark_entry__ import queries

        return queries()[name](spark, SF_DIR).count()

    def q_poly_overlap():
        return _entry("poly_overlap_tris")

    def q_snap():
        return _entry("snap_points_ways")

    def q_cdc():
        return _entry("cdc_upsert")

    def q_weighted_sample():
        return _entry("weighted_sample_docs")

    def q_hist_quantiles_by():
        return _entry("hist_quantiles_by_lang")

    def q_geohash():
        return _entry("geohash_cells")

    def q_idw():
        return _entry("idw_surface")

    def q_vec_runs():
        return _entry("vectorize_runs")

    def q_scd2():
        return _entry("scd2_intervals")

    def q_stay():
        return _entry("stay_points")

    def q_od():
        return _entry("od_flows")

    def q_smooth():
        return _entry("smooth_box")

    def q_contours():
        return _entry("contour_segments")

    def q_s2c():
        return _entry("s2_compact")

    def q_dbscan():
        return _entry("dbscan_clusters")

    def q_geofence():
        return _entry("geofence_events")

    def q_resample():
        return _entry("resample_track")

    def q_spike():
        return _entry("spike_filter")

    def q_sssp():
        return _entry("sssp_6hop")

    def q_viterbi():
        # the oracled registry query pins a 60-fix trellis; the bench
        # scales the SAME generator to 2000 movers x 6 fixes over 100
        # road bundles (800 segments) so the row measures the candidate
        # join + per-mover DP at real width
        from __spark_entry__ import _MM_RADIUS_M, _MM_SIGMA_M, _match_inputs
        from osmgraft.operators.matching import viterbi_match

        fixes, segs = _match_inputs(spark, SF_DIR, n_rows=12_000, n_bundles=100)
        return viterbi_match(fixes, segs, _MM_RADIUS_M, sigma_m=_MM_SIGMA_M).count()

    def q_tile_pyramid():
        from osmgraft.operators.tiles import tile_pyramid

        # z12 base + 6 rollup levels off the staged labels; the corpus is
        # scanned once (per-level persist), so the timing is base-agg
        # dominated. unpersist the pyramid's own frames after so repeat
        # rounds re-measure the work (not clearCache — that would evict
        # unrelated caches).
        tracker = []
        pyr = tile_pyramid(
            staged_labels, z_max=12, z_min=6, rank_col="rank", persist_tracker=tracker
        )
        n = pyr.count()
        for frame in tracker:
            frame.unpersist()
        return n

    # codec throughput rows: staged (untimed) >=10^4-payload tables; each
    # query decodes every payload byte-for-byte on executors and reduces
    # to one number so nothing short-circuits the kernel
    codec_root = stage_codec_media(spark)
    codec_bytes = {
        k: spark.read.parquet(f"{codec_root}/{k}.parquet")
        .agg(F.sum(F.octet_length("payload")))
        .collect()[0][0]
        for k in ("wav", "png")
    }

    def q_wav_codec():
        from osmgraft.operators.multimodal import wav_decode_meta

        m = spark.read.parquet(f"{codec_root}/wav.parquet")
        return wav_decode_meta(m).agg(F.sum("n_samples")).collect()[0][0]

    def q_png_codec():
        from osmgraft.operators.multimodal import png_decode_meta

        m = spark.read.parquet(f"{codec_root}/png.parquet")
        return png_decode_meta(m).agg(F.sum("px_sum")).collect()[0][0]

    QUERIES = [
        ("osm_pipeline_tiles", q_pipeline),
        ("pip_partitioned", q_pip),
        ("knn_dedup_2km", q_dedup),
        ("classify_global_rank", q_rank),
        ("minhash_lsh_docs", q_minhash),
        ("ann_brute_topk", q_ann),
        ("decontam_3gram", q_decontam),
        ("cc_chains", q_components),
        ("bm25_topk", q_bm25),
        ("dup_spans_5gram", q_dup_spans),
        ("tile_pyramid_z12_6", q_tile_pyramid),
        ("asof_join_events", q_asof),
        ("poly_overlap_tris", q_poly_overlap),
        ("snap_points_ways", q_snap),
        ("cdc_upsert", q_cdc),
        ("weighted_sample_docs", q_weighted_sample),
        ("hist_quantiles_by_lang", q_hist_quantiles_by),
        ("geohash_cells", q_geohash),
        ("idw_surface", q_idw),
        ("vectorize_runs", q_vec_runs),
        ("scd2_intervals", q_scd2),
        ("stay_points", q_stay),
        ("od_flows", q_od),
        ("smooth_box", q_smooth),
        ("contour_segments", q_contours),
        ("s2_compact", q_s2c),
        ("dbscan_clusters", q_dbscan),
        ("viterbi_match_12k", q_viterbi),
        ("geofence_events", q_geofence),
        ("resample_track", q_resample),
        ("spike_filter", q_spike),
        ("sssp_6hop", q_sssp),
        ("wav_decode_12k", q_wav_codec),
        ("png_decode_12k", q_png_codec),
    ]

    # ---- interleaved campaign ----------------------------------------------

    samples: dict[str, list[float]] = {name: [] for name, _ in QUERIES}
    n_labels = 0
    for _ in range(rounds):
        for name, fn in QUERIES:
            t0 = time.perf_counter()
            out = fn()
            samples[name].append(round(time.perf_counter() - t0, 3))
            if name == "osm_pipeline_tiles":
                n_labels = out

    times = {name: round(statistics.median(s), 3) for name, s in samples.items()}
    total = round(sum(times.values()), 3)
    print(
        json.dumps(
            {
                "metric": "poi_rows_extracted_tiled_per_sec",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": sf,
                "cpus": CPUS,
                "n_docs": n_docs,
                "rounds": rounds,
                "poi_rows": n_labels,
                "poi_rows_per_sec": round(n_labels / times["osm_pipeline_tiles"], 1),
                "codec_bytes": codec_bytes,
                "codec_mb_per_sec": {
                    k: round(codec_bytes[k] / 2**20 / times[f"{k}_decode_12k"], 1)
                    for k in ("wav", "png")
                },
                "query_samples": samples,
            }
        )
    )


if __name__ == "__main__":
    main()
