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

    def _entry(name):
        # the entry-registry queries are the exact code the correctness
        # oracle runs; timing them at SF_DIR makes the bench row and the
        # oracled semantics one and the same object
        from __spark_entry__ import queries

        return queries()[name](spark, SF_DIR).count()

    def q_idw():
        return _entry("idw_surface")

    def q_vec_runs():
        return _entry("vectorize_runs")

    def q_smooth():
        return _entry("smooth_box")

    def q_contours():
        return _entry("contour_segments")

    def q_s2c():
        return _entry("s2_compact")

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

    QUERIES = [
        ("osm_pipeline_tiles", q_pipeline),
        ("pip_partitioned", q_pip),
        ("knn_dedup_2km", q_dedup),
        ("classify_global_rank", q_rank),
        ("tile_pyramid_z12_6", q_tile_pyramid),
        ("idw_surface", q_idw),
        ("vectorize_runs", q_vec_runs),
        ("smooth_box", q_smooth),
        ("contour_segments", q_contours),
        ("s2_compact", q_s2c),
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
                "query_samples": samples,
            }
        )
    )


if __name__ == "__main__":
    main()
