"""osmgraft benchmark entry point.

    python3 perfbench/run.py --workload batch_labels --seed 1 --seconds 10 --trace 0

Run from the repository root. Stages seeded inputs (untimed), starts
Spark as ``local[nproc]`` and sets up five times, warms up once, runs
timed iterations of the workload for ``--seconds`` (at least the
workload's ``min_iterations``), checks
every output against the DuckDB replicas, and prints one JSON object as the
last line of stdout. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics of one traced iteration. All files go
under ``.perfbench_work/`` next to this directory. See README.md.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# the first set-up also launches the JVM and the second still runs while
# the JIT compiles, so the median of five is a set-up in a warm JVM
SETUP_REPS = 5

# reported on every workload, and bounded in BENCHMARK.json. wall_s and
# rows_per_s, and a workload's own timings (Iteration.legs), are printed
# by name beside them: on a shared host they move with the neighbours'
# load, which CPU time leaves out
END_TO_END = {"cpu_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "decode.self_s": "s", "decode.docs_in": "count", "decode.node_pois_out": "count",
    "decode.rel_out": "count", "decode.shuffle_mb": "MB",
    "extract.self_s": "s", "extract.admit_ratio": "ratio",
    "areas.self_s": "s", "areas.rel_in": "count", "areas.pois_out": "count",
    "labels.self_s": "s", "labels.rows": "count", "labels.rows_per_s": "rows/s",
    "rank.self_s": "s", "rank.shuffle_mb": "MB", "rank.part_skew": "ratio", "rank.jobs": "count",
    "tiles.self_s": "s",
    "sink.write_s": "s", "sink.files": "count", "sink.mb": "MB",
    "lineage.materialize_s": "s", "lineage.fingerprint_s": "s", "lineage.verify_s": "s",
    "lineage.recompute_ratio": "ratio", "lineage.resume_s": "s", "lineage.resume_compute_s": "s",
    "cells.encode_s": "s", "cells.per_point_us": "us",
    "skew.prepass_s": "s", "skew.hot_cells": "count", "skew.max_cell_rows": "count",
    "pip.self_s": "s", "pip.hits": "count", "pip.shuffle_mb": "MB", "pip.task_skew": "ratio",
    "knn.self_s": "s", "knn.pairs": "count", "knn.suppressed": "count", "knn.useful_ratio": "ratio",
    "stream.batches": "count", "stream.plan_ms": "ms", "stream.addbatch_ms": "ms",
    "stream.walcommit_ms": "ms", "stream.scan_mb_per_batch": "MB",
    "stream.first_batch_s": "s", "stream.ubatch_p50_s": "s",
    "spark.gc_s": "s", "spark.spill_mb": "MB", "spark.jobs": "count", "spark.tasks": "count",
    "scale.eff_1_4": "ratio", "trace.overhead_frac": "ratio", "trace.gap_s": "s",
}
# layers every traced run measures, whatever the workload
COMMON_LAYERS = ("spark", "trace")

# span name -> per-layer self-time metric
SELF_TIME = {
    "decode": "decode.self_s", "extract": "extract.self_s", "areas": "areas.self_s",
    "labels": "labels.self_s", "rank": "rank.self_s", "tiles": "tiles.self_s",
    "sink": "sink.write_s", "lineage.materialize": "lineage.materialize_s",
    "pip": "pip.self_s", "knn": "knn.self_s", "lineage.resume": "lineage.resume_compute_s",
}
# root spans: their self time is the benchmark's own work between layer calls
ROOT_SPANS = ("iteration", "resume")


def _info(msg: str) -> None:
    print(f"# {msg}", flush=True)


def _configure_env() -> None:
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    # Python workers import osmgraft from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")


class Session:
    """Owns the SparkSession and the JVM it runs in."""

    def __init__(self, event_dir: str | None) -> None:
        self.event_dir = event_dir
        self.spark = None

    def start(self, cores: int | None = None):
        from osmgraft.session import get_spark

        self.stop()
        tmp = os.path.join(WORK, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # fixed JIT compiler threads: cpu_s leaves them out (workloads.JIT_THREADS)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        }
        if self.event_dir:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
        return self.spark

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _merged(groups):
    from perfbench.measure import GroupStats

    out = GroupStats()
    for g in groups:
        out.jobs += g.jobs
        out.tasks += g.tasks
        out.spill_bytes += g.spill_bytes
        out.gc_ms += g.gc_ms
    return out


def _layer_metrics(wl, session: Session, tr, traced, counts: dict) -> dict:
    """Per-layer metrics of the traced iteration; the session is stopped
    here to flush its event log."""
    from perfbench.measure import GroupStats, group_event_log, read_event_log, self_time_by_name

    app_id = session.spark.sparkContext.applicationId
    session.stop()

    class _Groups(dict):
        def __missing__(self, key):
            return GroupStats()

    groups = _Groups(group_event_log(read_event_log(os.path.join(session.event_dir, app_id))))
    selfs = self_time_by_name(tr.spans)
    m = {metric: selfs[span] for span, metric in SELF_TIME.items() if span in selfs}
    m.update(counts)
    m.update(wl.event_metrics(groups))
    if "labels.self_s" in m:
        m["labels.rows_per_s"] = m["labels.rows"] / m["labels.self_s"]
    spark_g = _merged(wl.spark_groups(groups))
    m["spark.gc_s"] = spark_g.gc_ms / 1000.0
    m["spark.spill_mb"] = spark_g.spill_bytes / float(1 << 20)
    m["spark.jobs"] = spark_g.jobs
    m["spark.tasks"] = spark_g.tasks
    m["trace.gap_s"] = sum(selfs.get(s, 0.0) for s in ROOT_SPANS)
    # the tracer's own bookkeeping (spans, job descriptions) per traced
    # second; the forcing of each layer's output is part of its span
    m["trace.overhead_frac"] = tr.own_s / traced.wall_s

    root_self = selfs.get("iteration", 0.0)
    layers = {k: v for k, v in self_time_by_name(_iteration_spans(tr.spans)).items() if k != "iteration"}
    _info(
        "traced wall %.3f s = layer self times %.3f s + untraced gap %.3f s (%s)"
        % (traced.wall_s, sum(layers.values()), root_self,
           ", ".join(f"{k} {v:.3f}" for k, v in layers.items()))
    )
    return m


def _iteration_spans(spans: list) -> list:
    """The spans of the first ``iteration`` root and its descendants, with
    parent indices renumbered."""
    root = next(i for i, s in enumerate(spans) if s.name == "iteration" and s.parent is None)
    keep, index = [], {}
    for i, s in enumerate(spans):
        if i == root or (s.parent is not None and s.parent in index):
            index[i] = len(keep)
            keep.append(dataclasses.replace(s, parent=index.get(s.parent)))
    return keep


def _scale_leg(wl, session: Session) -> tuple[float, list]:
    """The paper's N -> 4N check: the fresh run at local[nproc] and at
    local[1], each in a new session of the already warm JVM."""
    ncpu = len(os.sched_getaffinity(0))
    runs = [wl.iterate(session.start(cores=c), f"scale{c}") for c in (ncpu, 1)]
    many, one = (r.rows / r.wall_s for r in runs)
    _info(f"fresh run rows/s: local[{ncpu}] {many:.1f}, local[1] {one:.1f}")
    return many / (ncpu * one), runs


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def run(args) -> dict:
    from perfbench.measure import Tracer, median, summarize, tree_peak_rss_mb
    from perfbench.workloads import WORKLOADS, first_call

    run_dir = os.path.join(WORK, "run", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    wl = WORKLOADS[args.workload](args.seed, os.path.join(run_dir, "data"))
    session = Session(event_dir)
    try:
        # inputs are staged (pure Python and DuckDB, untimed) while the
        # first session launches the JVM
        staged = []
        stager = threading.Thread(target=lambda: staged.append(_timed(wl.stage)), daemon=True)
        stager.start()
        # set-up = SparkSession (re)start + the workload's first call on a
        # small input; the first one also launches the JVM
        setup = []
        # (the traced run reports no set-up time, so it sets up once)
        for rep in range(1 if args.trace else SETUP_REPS):
            t0 = time.perf_counter()
            spark = session.start()
            started = time.perf_counter() - t0
            if rep == 0:
                stager.join()
                if not staged:
                    raise RuntimeError("staging the inputs failed")
                _info(f"inputs and oracle staged in {staged[0]:.2f} s (untimed)")
            t0 = time.perf_counter()
            first_call(spark)
            setup.append(started + time.perf_counter() - t0)
            _info(f"set-up: session {started:.2f} s, first call {setup[-1] - started:.2f} s")
        # one untimed pass over the full input lets the JIT and caches settle
        _info(f"warm-up pass {_timed(lambda: wl.warm(spark)):.2f} s (untimed)")

        if not args.trace:
            its = []
            t_start = time.perf_counter()
            while len(its) < wl.min_iterations or time.perf_counter() - t_start < args.seconds:
                its.append(wl.iterate(spark, len(its)))
            _info(f"{args.workload} seed {args.seed}: iterations {len(its)}, rows {its[0].rows}, "
                  f"cpu_s {[round(i.cpu_s, 2) for i in its]}, setup_s {[round(s, 3) for s in setup]}")
            printed = {
                "wall_s": [i.wall_s for i in its],
                "rows_per_s": [i.rows / i.wall_s for i in its],
                **{leg: [i.legs[leg] for i in its if leg in i.legs] for leg in its[0].legs},
            }
            for name, vals in printed.items():
                _info(f"metric {name} = {summarize(vals)}")
            metrics = {
                "cpu_s": median(i.cpu_s for i in its),
                "setup_s": median(setup),
                "peak_rss_mb": tree_peak_rss_mb(session.jvm_pid()),
            }
            units = END_TO_END
        else:
            tr = Tracer(on_change=spark.sparkContext.setJobDescription)
            traced, counts = wl.traced(spark, tr, 0)
            its = [traced]
            metrics = _layer_metrics(wl, session, tr, traced, counts)
            if "scale" in wl.layers:
                metrics["scale.eff_1_4"], runs = _scale_leg(wl, session)
                its += runs
            missing = [k for k in PER_LAYER if k not in metrics]
            for k in missing:
                if k.split(".")[0] in wl.layers + COMMON_LAYERS:
                    raise RuntimeError(f"{args.workload} should measure {k}")
                metrics[k] = 0.0
            _info(f"not measured on {args.workload}, reported as 0 (see perfbench/README.md): "
                  f"{', '.join(missing)}")
            units = PER_LAYER
    finally:
        session.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted = sum(i.attempted for i in its)
    failed = sum(i.failed for i in its)
    for i in its:
        for note in i.notes:
            _info(f"FAILED: {note}")
    _info(f"metric failed_frac = {failed}/{attempted} = {failed / attempted:.4f}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="osmgraft benchmark")
    ap.add_argument("--workload", required=True, choices=["batch_labels", "spatial_join", "stream_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="timed window per run")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "osmgraft", "__init__.py")):
        print("perfbench: the osmgraft package is not next to perfbench/", file=sys.stderr)
        return 2
    _configure_env()
    sys.path.insert(0, ROOT)
    if args.workload != "stream_ingest":
        _info("stream_ingest is left out of BENCHMARK.json for time (a run takes about 84 s); "
              "the traced spatial_join run measures its layer (see perfbench/README.md)")
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
