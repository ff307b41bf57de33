"""The three workloads. Each one stages its seeded inputs and oracle
fingerprints (untimed, no Spark), warms up on a small corpus, then runs
timed iterations through osmgraft's public entry points and checks every
output. ``traced`` runs one iteration layer by layer inside spans and
returns the per-layer counts it measured.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

from perfbench import inputs
from perfbench.measure import Tracer, fingerprint, same_fingerprint, tree_cpu_s

TILE_ZOOM = 12
# the spatial warm-up runs on a 300-doc corpus and 3k labels: its timings
# were as steady after it as after a full-size pass, which costs 18 s
WARM_DOCS = 300
WARM_LABELS = 3_000

# every workload runs on one corpus per seed
LABEL_DOCS = 10_000
RESUME_CHUNKS = 8
LOST_CHUNKS = 2

STREAM_FILES = 64
FILES_PER_TRIGGER = 8
STREAM_BATCHES = STREAM_FILES // FILES_PER_TRIGGER

PIP_RES = 4
DEDUP_RADIUS_M = inputs.DEDUP_RADIUS_M
# below dedup_labels' default 100k-row gate, which prepass_min_rows=0
# lifts: at 100k-120k clustered labels one dedup pass takes 20-26 s
DEDUP_LABELS = 20_000
# dedup_labels' own defaults: a cell is hot above HOT_THRESHOLD rows and the
# hot/cold route engages once some cell holds ROUTING_GATE x that
HOT_THRESHOLD = 200
ROUTING_GATE = 2.0

_MB = float(1 << 20)


@dataclass
class Iteration:
    """One timed pass: seconds on the clock, CPU seconds of the process
    tree, output rows, checked outputs, and the workload's own timings
    (``legs``)."""

    wall_s: float
    cpu_s: float = 0.0
    rows: int = 0
    attempted: int = 0
    failed: int = 0
    legs: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str, weight: int = 1) -> None:
        self.attempted += weight
        if not ok:
            self.failed += weight
            self.notes.append(what)


# The JVM's JIT compiler threads: a run of the job still compiles 8-20
# CPU-seconds of code in the first passes after the warm-up, an amount that
# depends on the pass and on the host's load, while the program's own
# threads use 13-18. The JVM keeps these threads for its whole life
# (-XX:-UseDynamicNumberOfCompilerThreads), so none exits between samples.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _cpu_s() -> float:
    return tree_cpu_s(os.getpid(), JIT_THREADS)


def _cost(fn) -> tuple[float, float]:
    """Wall seconds of ``fn()`` and the CPU seconds that the process tree
    (this driver, the JVM and its Python workers), less the JIT compiler,
    spent meanwhile."""
    c0, t0 = _cpu_s(), time.perf_counter()
    fn()
    wall = time.perf_counter() - t0
    return wall, _cpu_s() - c0


def _label_fp(rows: list[dict], drop_rank: bool = False) -> dict:
    keys = (inputs.label_key(r) for r in rows)
    return fingerprint(inputs.without_rank(k) for k in keys) if drop_rank else fingerprint(keys)


def _dir_files_mb(path: str) -> tuple[int, float]:
    n, size = 0, 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return n, size / _MB


class Workload:
    name = ""
    # per-layer metric prefixes this workload's traced run measures
    layers: tuple[str, ...] = ()
    # timed iterations a run makes at least: the first ones after the
    # warm-up still run while the JIT compiles, so a run reports a median
    min_iterations = 3

    def __init__(self, seed: int, run_dir: str) -> None:
        self.seed = seed
        self.run_dir = run_dir

    def _dir(self, tag: str) -> str:
        d = os.path.join(self.run_dir, tag)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    # stage -> (warm) x N -> iterate x N [-> traced]
    def stage(self) -> None:
        raise NotImplementedError

    def warm(self, spark) -> None:
        """One untimed pass of the timed calls."""
        raise NotImplementedError

    def iterate(self, spark, it: int) -> Iteration:
        raise NotImplementedError

    def traced(self, spark, tr: Tracer, it: int) -> tuple[Iteration, dict]:
        raise NotImplementedError

    def event_metrics(self, groups: dict) -> dict:
        return {}

    def spark_groups(self, groups: dict) -> list:
        """Event-log groups of the traced pass (its root spans)."""
        return [groups["iteration"], groups["resume"]]


def _noop(df) -> None:
    """Compute every row and column of ``df`` and discard them."""
    df.write.format("noop").mode("overwrite").save()


def first_call(spark) -> None:
    """The set-up's first job, the same for every workload. It runs no
    Python UDF: Python workers start in the warm-up pass, which runs once."""
    spark.range(1000).count()


# ---------------------------------------------------------------------------
# batch_labels
# ---------------------------------------------------------------------------


class BatchLabels(Workload):
    """``osmgraft.job.main`` batch with chunked stages. The traced run
    also deletes 2 of the 8 ``labels`` chunks and resumes (timed as
    ``lineage.resume_s``)."""

    name = "batch_labels"
    # a run of the job costs about 9 s: two keep a run within its time
    min_iterations = 2
    layers = ("decode", "extract", "areas", "labels", "rank", "tiles", "sink", "lineage", "scale")

    def stage(self) -> None:
        self.corpus = inputs.stage_corpus(self.seed, LABEL_DOCS)
        self.want = inputs.oracle_labels(self.corpus)

    def _job(self, corpus, out: str, stage_dir: str) -> tuple[float, float]:
        """One fresh ``job.main`` run: its wall and CPU seconds."""
        from osmgraft.job import main

        argv = [
            "--docs", corpus.docs, "--blobs", corpus.blobs, "--out", out,
            "--stage-dir", stage_dir, "--resume-chunks", str(RESUME_CHUNKS),
            "--tile-zoom", str(TILE_ZOOM),
        ]
        with contextlib.redirect_stdout(sys.stderr):
            return _cost(lambda: main(argv))

    def _lose_chunks(self, stage_dir: str, it: int) -> tuple[list[int], int]:
        """Delete LOST_CHUNKS seed-chosen chunks of the labels stage;
        returns them and the rows they held."""
        from osmgraft.plans.lineage import read_lineage

        lost = sorted(random.Random(f"{self.seed}:{it}").sample(range(RESUME_CHUNKS), LOST_CHUNKS))
        rows = 0
        for i in lost:
            cpath = os.path.join(stage_dir, "labels", f"chunk-{i:05d}")
            rows += read_lineage(cpath)["total_rows"]
            shutil.rmtree(cpath)
        return lost, rows

    def _check_fresh(self, out: str, it: Iteration) -> dict:
        fresh = inputs.read_rows(out)
        fp = _label_fp(fresh)
        it.rows = fp["rows"]
        it.check(
            same_fingerprint(fp, self.want["labels"]) and inputs.tiles_consistent(fresh, TILE_ZOOM),
            "fresh output differs from the DuckDB replica",
        )
        return fp

    def _check(self, out: str, out2: str, stage_dir: str, lost: list[int], it: Iteration) -> None:
        fp = self._check_fresh(out, it)
        resumed = inputs.read_rows(out2)
        with open(os.path.join(stage_dir, "labels", "_lineage.json")) as fh:
            flags = [bool(c.get("resumed")) for c in json.load(fh)["chunks"]]
        it.check(
            same_fingerprint(_label_fp(resumed), fp)
            and inputs.tiles_consistent(resumed, TILE_ZOOM)
            and flags == [i not in lost for i in range(RESUME_CHUNKS)],
            "resume output or sidecar differs from the fresh run",
        )

    def warm(self, spark) -> None:
        d = self._dir("warm")
        self._job(self.corpus, os.path.join(d, "out"), os.path.join(d, "stage"))

    def iterate(self, spark, it: int) -> Iteration:
        """The fresh run, checked against the replica."""
        d = self._dir(f"it{it}")
        out = os.path.join(d, "out")
        res = Iteration(*self._job(self.corpus, out, os.path.join(d, "stage")))
        self._check_fresh(out, res)
        return res


    def traced(self, spark, tr: Tracer, it: int) -> tuple[Iteration, dict]:
        import pyspark.sql.functions as F

        from osmgraft.functions.labels import attach_label_ball
        from osmgraft.functions.names import label_name_expr, population_expr
        from osmgraft.operators.rank import global_rank
        from osmgraft.operators.tiles import assign_tiles
        from osmgraft.plans.lineage import (
            is_complete,
            materialize_chunked,
            partition_fingerprint,
            resume_or_compute,
        )
        from osmgraft.plans.pipeline import (
            admitted_area_pois,
            admitted_node_pois,
            label_pipeline,
            levels_df,
        )
        from osmgraft.sources.config import default_config
        from osmgraft.sources.decode import decode_documents

        d = self._dir(f"trace{it}")
        out, out2, st = (os.path.join(d, x) for x in ("out", "out2", "stage"))
        cfg = default_config()
        docs = spark.read.parquet(self.corpus.docs)
        blobs = spark.read.parquet(self.corpus.blobs)
        ranked_cols = ["lat", "lon", "level_id", "rank", "radius", "osm_id", "label", "factor"]
        poi_cols = ["osm_id", "kind", "lat", "lon", "tags", "level_id", "name", "level_name", "factor", "icon"]
        chunk_by = ["osm_id"]

        # the composition of plans.pipeline.label_pipeline and the job's
        # staged sink, one forced layer per span
        with tr.span("iteration") as root:
            with tr.span("decode"):
                fr = decode_documents(docs, blobs)
                fr = dataclasses.replace(
                    fr,
                    node_pois=fr.node_pois.localCheckpoint(eager=True),
                    rel_packed=fr.rel_packed.localCheckpoint(eager=True),
                )
            with tr.span("extract"):
                levels = levels_df(spark, cfg)
                nodes = admitted_node_pois(fr.node_pois, cfg, levels).localCheckpoint(eager=True)
            with tr.span("areas"):
                areas = admitted_area_pois(fr, cfg, levels).localCheckpoint(eager=True)
            with tr.span("labels"):
                pois = nodes.select(*poi_cols).unionByName(areas.select(*poi_cols))
                labeled = attach_label_ball(
                    pois.withColumn("population", population_expr(F.col("tags"))).withColumn(
                        "label_src", label_name_expr(F.col("tags"))
                    ),
                    cfg,
                    name_col="label_src",
                )
                slim = labeled.select(
                    "lat", "lon", "level_id", "population", "osm_id", "label", "radius",
                    F.col("factor").cast("double").alias("factor"),
                ).localCheckpoint(eager=True)
            with tr.span("rank"):
                ranked = global_rank(slim).select(*ranked_cols).localCheckpoint(eager=True)
            with tr.span("lineage.materialize"):
                staged = materialize_chunked(
                    ranked, os.path.join(st, "labels"), "labels", RESUME_CHUNKS, chunk_by
                )
            with tr.span("tiles"):
                tiled = assign_tiles(staged, z=TILE_ZOOM).localCheckpoint(eager=True)
            with tr.span("sink"):
                tiled.write.mode("overwrite").parquet(out)

        lost, lost_rows = self._lose_chunks(st, it)
        built = []

        def builder():
            built.append(1)
            return label_pipeline(spark, docs, blobs, cfg=cfg)

        with tr.span("resume") as resume_span:
            with tr.span("lineage.resume"):
                staged2 = resume_or_compute(
                    spark, os.path.join(st, "labels"), "labels", builder,
                    n_chunks=RESUME_CHUNKS, chunk_by=chunk_by,
                )
            with tr.span("tiles"):
                tiled2 = assign_tiles(staged2, z=TILE_ZOOM).localCheckpoint(eager=True)
            with tr.span("sink"):
                tiled2.write.mode("overwrite").parquet(out2)

        # lineage probes on the committed chunks, outside the iteration
        chunk_paths = [os.path.join(st, "labels", f"chunk-{i:05d}") for i in range(RESUME_CHUNKS)]
        with tr.span("probe.lineage.fingerprint") as fp_span:
            for p in chunk_paths:
                partition_fingerprint(spark.read.parquet(p))
        with tr.span("probe.lineage.verify") as verify_span:
            for p in chunk_paths:
                is_complete(spark, p)

        res = Iteration(root.duration)
        self._check(out, out2, st, lost, res)
        node_pois_out = fr.node_pois.count()
        rel_out = fr.rel_packed.count()
        part_rows = [
            r["n"]
            for r in ranked.groupBy(F.spark_partition_id().alias("p")).agg(F.count("*").alias("n")).collect()
        ]
        files, mb = _dir_files_mb(out)
        labels_rows = slim.count()
        counts = {
            "decode.docs_in": docs.count(),
            "decode.node_pois_out": node_pois_out,
            "decode.rel_out": rel_out,
            "extract.admit_ratio": nodes.count() / max(node_pois_out, 1),
            "areas.rel_in": rel_out,
            "areas.pois_out": areas.count(),
            "labels.rows": labels_rows,
            "rank.part_skew": max(part_rows) / statistics.median(part_rows),
            "sink.files": files,
            "sink.mb": mb,
            "lineage.fingerprint_s": fp_span.duration,
            "lineage.verify_s": verify_span.duration,
            # the builder recomputes the whole stage to refill the lost chunks
            "lineage.recompute_ratio": len(built) * labels_rows / max(lost_rows, 1),
            "lineage.resume_s": resume_span.duration,
        }
        return res, counts

    def event_metrics(self, groups: dict) -> dict:
        return {
            "decode.shuffle_mb": groups["decode"].shuffle_write_bytes / _MB,
            "rank.shuffle_mb": groups["rank"].shuffle_write_bytes / _MB,
            "rank.jobs": groups["rank"].jobs,
        }


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------


def _progress_dicts(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        raw = getattr(p, "json", None)
        out.append(json.loads(raw) if isinstance(raw, str) else dict(p))
    return out


def _epoch_ts(text: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(text.replace("Z", "+00:00")).timestamp()


def run_stream(spark, docs_dir: str, blobs_path: str, d: str, per_trigger: int):
    """``stream_documents`` + ``stream_pipeline_foreach_batch`` with
    availableNow over the files already in ``docs_dir`` (a closed loop
    draining an existing backlog), with a fresh checkpoint and output
    under ``d``. Returns (out, wall_s, epoch progress dicts,
    first_batch_s, run id)."""
    from osmgraft.operators.tiles import assign_tiles
    from osmgraft.streaming.ingest import stream_documents, stream_pipeline_foreach_batch

    out, ckpt = os.path.join(d, "out"), os.path.join(d, "checkpoint")
    blobs = spark.read.parquet(blobs_path)
    t0_wall = time.time()
    t0 = time.perf_counter()
    q = stream_pipeline_foreach_batch(
        spark,
        stream_documents(spark, docs_dir, max_files=per_trigger),
        blobs,
        out,
        ckpt,
        extra=lambda df: assign_tiles(df, z=TILE_ZOOM),
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    epochs = [p for p in _progress_dicts(q) if p.get("numInputRows", 0) > 0]
    first_batch_s = wall
    if epochs:
        first = epochs[0]
        first_batch_s = (
            _epoch_ts(first["timestamp"]) + first["durationMs"]["triggerExecution"] / 1000.0 - t0_wall
        )
    return out, wall, epochs, first_batch_s, str(q.runId)


class StreamIngest(Workload):
    """The same corpus as batch_labels, as 64 parquet files drained 8 per
    trigger: 8 micro-batches, each a full ``label_pipeline`` and a
    per-epoch sink commit."""

    name = "stream_ingest"
    layers = ("stream",)
    # a stream run takes about 35 s
    min_iterations = 1

    def stage(self) -> None:
        self.corpus = inputs.stage_corpus(self.seed, LABEL_DOCS)
        self.want = inputs.oracle_labels(self.corpus)
        self.docs_dir = inputs.split_documents(self.corpus, STREAM_FILES)

    def warm(self, spark) -> None:
        self._run(spark, self._dir("warm"))

    def _run(self, spark, d: str) -> tuple[Iteration, list[dict], str]:
        c0 = _cpu_s()
        out, wall, epochs, first_batch_s, run_id = run_stream(
            spark, self.docs_dir, self.corpus.blobs, d, FILES_PER_TRIGGER
        )
        cpu = _cpu_s() - c0
        rows = inputs.read_rows(out) if os.path.exists(out) else []
        res = Iteration(wall, cpu, len(rows))
        res.legs["first_batch_s"] = first_batch_s
        res.legs["ubatch_p50_s"] = (
            statistics.median(p["durationMs"]["triggerExecution"] for p in epochs) / 1000.0
            if epochs else wall
        )
        # rank is assigned per micro-batch, so the check drops it; a
        # mismatch fails every epoch of the run
        res.check(
            same_fingerprint(_label_fp(rows, drop_rank=True), self.want["labels_norank"])
            and inputs.tiles_consistent(rows, TILE_ZOOM)
            and len(epochs) == STREAM_BATCHES
            and len({r["_epoch"] for r in rows}) == STREAM_BATCHES,
            "stream output differs from the batch replica (rank aside) or epochs missing",
            weight=STREAM_BATCHES,
        )
        return res, epochs, run_id

    def iterate(self, spark, it: int) -> Iteration:
        return self._run(spark, self._dir(f"it{it}"))[0]

    def probe(self, spark, it: int) -> tuple[Iteration, dict]:
        """One checked stream run and its per-micro-batch figures."""
        res, epochs, self.run_id = self._run(spark, self._dir(f"stream{it}"))

        def med(key: str) -> float:
            return float(statistics.median(p["durationMs"].get(key, 0) for p in epochs))

        self.batches = len(epochs)
        return res, {
            "stream.batches": len(epochs),
            "stream.plan_ms": med("queryPlanning"),
            "stream.addbatch_ms": med("addBatch"),
            "stream.walcommit_ms": med("walCommit"),
            "stream.first_batch_s": res.legs["first_batch_s"],
            "stream.ubatch_p50_s": res.legs["ubatch_p50_s"],
        }

    def traced(self, spark, tr: Tracer, it: int) -> tuple[Iteration, dict]:
        with tr.span("iteration"):
            return self.probe(spark, it)

    def event_metrics(self, groups: dict) -> dict:
        return {"stream.scan_mb_per_batch": sum(g.input_bytes for g in self._run_groups(groups))
                / _MB / max(self.batches, 1)}

    def _run_groups(self, groups: dict) -> list:
        # Spark describes micro-batch jobs with the query's run id
        return [g for k, g in groups.items() if f"runId = {self.run_id}" in k]

    def spark_groups(self, groups: dict) -> list:
        return super().spark_groups(groups) + self._run_groups(groups)


# ---------------------------------------------------------------------------
# spatial_join
# ---------------------------------------------------------------------------


class SpatialJoin(Workload):
    """``pip_join(corpus node points, admin polygons, partitioned, res=4)``
    then ``dedup_labels(20k clustered ranked labels, 2000 m)`` through
    its hot/cold prepass; both results are committed as parquet (dedup
    survivors tiled, as in the job's dedup path)."""

    name = "spatial_join"
    layers = ("cells", "skew", "pip", "knn", "tiles", "sink", "stream")

    def stage(self) -> None:
        self.corpus = inputs.stage_corpus(self.seed, LABEL_DOCS)
        self.paths = inputs.spatial_frames(self.corpus)
        self.paths["labels"] = inputs.dense_labels(self.seed, DEDUP_LABELS)
        self.want_pip = inputs.oracle_pip(self.corpus)
        self.want_dedup = inputs.oracle_dedup(self.paths["labels"], self.seed)
        self.warm_paths = inputs.spatial_frames(inputs.stage_corpus(self.seed, WARM_DOCS))
        self.warm_paths["labels"] = inputs.dense_labels(self.seed, WARM_LABELS)
        # the traced run also drains the batch_labels corpus as a stream: the
        # traced batch_labels run has no time left for it within a run's limit
        self.stream = StreamIngest(self.seed, self.run_dir)
        self.stream.stage()

    def _frames(self, spark, paths: dict[str, str]):
        return tuple(spark.read.parquet(paths[k]) for k in ("points", "polygons", "labels"))

    def _calls(self, spark, paths: dict[str, str], d: str) -> None:
        from osmgraft.operators.knn import dedup_labels
        from osmgraft.operators.pip import pip_join
        from osmgraft.operators.tiles import assign_tiles

        pts, polys, labels = self._frames(spark, paths)
        out_pip, out_dedup = self._outs(d)
        pip_join(pts, polys, strategy="partitioned", res=PIP_RES).select(
            "osm_id", "poly_id"
        ).write.parquet(out_pip)
        kept = dedup_labels(labels, radius_m=DEDUP_RADIUS_M, prepass_min_rows=0)
        assign_tiles(kept, z=TILE_ZOOM).write.parquet(out_dedup)

    @staticmethod
    def _outs(d: str) -> tuple[str, str]:
        return os.path.join(d, "pip"), os.path.join(d, "dedup")

    def _check(self, out_pip: str, out_dedup: str, res: Iteration) -> None:
        hits = inputs.read_rows(out_pip)
        kept = inputs.read_rows(out_dedup)
        res.rows = len(hits) + len(kept)
        pip_mod, dedup_mod = inputs.PIP_SUBSET_MOD, inputs.DEDUP_SUBSET_MOD
        res.check(
            same_fingerprint(
                fingerprint(
                    (r["osm_id"], r["poly_id"]) for r in hits if r["osm_id"] % pip_mod == self.seed % pip_mod
                ),
                self.want_pip,
            ),
            "pip hits differ from the DuckDB replica",
        )
        res.check(
            same_fingerprint(
                fingerprint((r["osm_id"],) for r in kept if r["osm_id"] % dedup_mod == self.seed % dedup_mod),
                self.want_dedup,
            )
            and inputs.tiles_consistent(kept, TILE_ZOOM),
            "dedup survivors differ from the DuckDB replica",
        )
        self.n_hits, self.n_kept = len(hits), len(kept)

    def warm(self, spark) -> None:
        self._calls(spark, self.warm_paths, self._dir("warm"))

    def iterate(self, spark, it: int) -> Iteration:
        d = self._dir(f"it{it}")
        res = Iteration(*_cost(lambda: self._calls(spark, self.paths, d)))
        self._check(*self._outs(d), res)
        return res

    def traced(self, spark, tr: Tracer, it: int) -> tuple[Iteration, dict]:
        import pyspark.sql.functions as F

        from osmgraft.functions.cells import hex_cell_udf
        from osmgraft.operators.knn import dedup_labels, knn_candidates, res_for_radius
        from osmgraft.operators.pip import pip_join
        from osmgraft.operators.skew import hot_cell_map
        from osmgraft.operators.tiles import assign_tiles

        d = self._dir(f"trace{it}")
        out_pip, out_dedup = self._outs(d)
        pts, polys, labels = self._frames(spark, self.paths)
        with tr.span("iteration") as root:
            with tr.span("pip"):
                hits = pip_join(pts, polys, strategy="partitioned", res=PIP_RES).select(
                    "osm_id", "poly_id"
                ).localCheckpoint(eager=True)
            with tr.span("sink"):
                hits.write.parquet(out_pip)
            with tr.span("knn"):
                kept = dedup_labels(
                    labels, radius_m=DEDUP_RADIUS_M, prepass_min_rows=0
                ).localCheckpoint(eager=True)
            with tr.span("tiles"):
                tiled = assign_tiles(kept, z=TILE_ZOOM).localCheckpoint(eager=True)
            with tr.span("sink"):
                tiled.write.parquet(out_dedup)

        # layer probes: standalone calls, outside the iteration's wall time
        n_pts = pts.count()
        with tr.span("probe.cells") as cells_span:
            _noop(pts.select(hex_cell_udf(PIP_RES)(F.col("lat"), F.col("lon"))))
        # the cell dedup_labels keys its hot/cold split on, for |lat| < 45.6
        dedup_res = res_for_radius(DEDUP_RADIUS_M, min_cos_lat=math.cos(math.radians(45.6)), probe_k=3)
        celled = labels.withColumn(
            "cell", hex_cell_udf(dedup_res)(F.col("lat"), F.col("lon"))
        ).localCheckpoint(eager=True)
        with tr.span("probe.skew") as skew_span:
            hot = hot_cell_map(celled, "cell", HOT_THRESHOLD).collect()
        max_cell = celled.groupBy("cell").count().agg(F.max("count")).first()[0]
        with tr.span("probe.knn_pairs"):
            slim = labels.select("osm_id", "rank", "lat", "lon")
            pairs = knn_candidates(slim, slim, DEDUP_RADIUS_M).count()
        with tr.span("probe.stream"):
            stream_res, stream_counts = self.stream.probe(spark, it)

        res = Iteration(root.duration)
        self._check(out_pip, out_dedup, res)
        res.attempted += stream_res.attempted
        res.failed += stream_res.failed
        res.notes += stream_res.notes
        files, mb = _dir_files_mb(d)
        suppressed = labels.count() - self.n_kept
        if max_cell <= ROUTING_GATE * HOT_THRESHOLD:
            print(f"# NOTE: densest dedup cell holds {max_cell} labels; dedup_labels routes exact")
        return res, {
            "cells.encode_s": cells_span.duration,
            "cells.per_point_us": cells_span.duration / max(n_pts, 1) * 1e6,
            "skew.prepass_s": skew_span.duration,
            "skew.hot_cells": len(hot),
            "skew.max_cell_rows": max_cell,
            "pip.hits": self.n_hits,
            "knn.pairs": pairs,
            "knn.suppressed": suppressed,
            "knn.useful_ratio": suppressed / max(pairs, 1),
            "sink.files": files,
            "sink.mb": mb,
            **stream_counts,
        }

    def event_metrics(self, groups: dict) -> dict:
        return {
            "pip.shuffle_mb": groups["pip"].shuffle_write_bytes / _MB,
            "pip.task_skew": groups["pip"].task_skew(),
            **self.stream.event_metrics(groups),
        }


WORKLOADS = {w.name: w for w in (BatchLabels, SpatialJoin, StreamIngest)}
