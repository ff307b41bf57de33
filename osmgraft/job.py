"""spark-submit entrypoint (north_rule: `spark-submit --py-files` on a
multi-executor cluster).

Build the dependency zip and submit:

    python tools/build_pyfiles.py                    # -> dist/osmgraft.zip
    spark-submit --py-files dist/osmgraft.zip \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        osmgraft/job.py \
        --docs s3://bucket/documents --blobs s3://bucket/blobs \
        --out s3://bucket/labels --stage-dir /mnt/shared/_stages \
        --tile-zoom 12 [--dedup-radius-m 2000] [--resume] \
        [--resume-chunks 64 --chunk-by osm_id]

Stages (each materialized via plans/lineage.py when --stage-dir is given,
so a killed job resumes at the first incomplete stage). The stage dir must
be a local or mounted path, not a URI: the lineage sidecars, `_SUCCESS`
markers and parquet footers that resume trusts are read and written through
the local filesystem.

    decode+extract -> rank -> label -> [knn dedup] -> tiles -> sink

A staged write costs one Spark job per chunk (plus one checkpoint of the
stage when more than one chunk is written): each chunk's row count and
content hash are observed in its own write job. On --resume the reused
chunks are checked from their parquet footers (no job) and then by content
in one job for all of them; a chunk that fails is recomputed. The sink's
row count is observed in the sink's write job, in parquet and text mode.

Streaming ingest mode (the documents table grows continuously):

    ... osmgraft/job.py --streaming --checkpoint s3://bucket/_ckpt \
        --docs s3://bucket/documents --blobs s3://bucket/blobs \
        --out s3://bucket/labels [--dedup-docs [--dedup-ttl "24 hours"]]

Each invocation drains the files not yet recorded in the checkpoint
(availableNow) through the full pipeline per micro-batch and lands them
under per-epoch partitions (idempotent overwrite); re-running with the
same checkpoint processes only NEW files — the streaming counterpart of
--resume.

In local mode (no cluster) the same file runs under plain `python` for
smoke testing.
"""

from __future__ import annotations

import argparse
import json
import math
import sys


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(description="osmgraft label pipeline job")
    ap.add_argument("--docs", required=True, help="documents table path/URI")
    ap.add_argument("--blobs", required=True, help="geometry blobs table path/URI")
    ap.add_argument("--out", required=True, help="output labels path")
    ap.add_argument("--config", default=None, help="labeling config JSON (default built-in)")
    ap.add_argument("--stage-dir", default=None, help="local or mounted stage dir (enables resume)")
    ap.add_argument("--resume", action="store_true", help="skip complete stages in --stage-dir")
    ap.add_argument(
        "--resume-chunks",
        type=int,
        default=1,
        help="commit each stage as N independently-resumable partition-range "
        "chunks (pmod(xxhash64(chunk-by), N)); a killed job re-executes only "
        "the missing chunks instead of the whole stage",
    )
    ap.add_argument(
        "--chunk-by",
        default=None,
        help="with --resume-chunks > 1: comma-separated columns driving chunk "
        "membership (default osm_id — a stable natural id keeps chunking "
        "content-deterministic)",
    )
    ap.add_argument("--tile-zoom", type=int, default=12)
    ap.add_argument("--dedup-radius-m", type=float, default=0.0, help="0 = no kNN dedup")
    ap.add_argument("--text-format", action="store_true", help="emit K1 text rows instead of parquet")
    ap.add_argument("--export-hierarchy", action="store_true", help="-eh flag: level id instead of rank")
    ap.add_argument(
        "--streaming",
        action="store_true",
        help="ingest --docs as a file stream (one availableNow pass over new "
        "files; per-epoch idempotent parquet sink). Requires --checkpoint; "
        "incompatible with --text-format/--stage-dir (streaming resume IS "
        "the checkpoint) and with --dedup-radius-m (kNN dedup is a global "
        "pass, run it batch-side after ingest)",
    )
    ap.add_argument("--checkpoint", default=None, help="streaming checkpoint dir (with --streaming)")
    ap.add_argument(
        "--dedup-docs",
        action="store_true",
        help="with --streaming: stateful cross-batch first-seen dedup of "
        "documents by span-sequence fingerprint before labeling",
    )
    ap.add_argument(
        "--dedup-ttl",
        default=None,
        help='state TTL horizon for --dedup-docs (e.g. "24 hours"; default unbounded)',
    )
    ap.add_argument(
        "--max-files-per-trigger",
        type=int,
        default=None,
        help="with --streaming: micro-batch size in files (default 64)",
    )
    return ap


def check_args(args: argparse.Namespace) -> None:
    """Reject flag combinations that ``main`` would otherwise ignore without
    a word. Runs before any SparkSession exists, so a bad command line costs
    no cluster start-up."""
    if args.stage_dir and "://" in args.stage_dir:
        raise SystemExit(
            f"--stage-dir {args.stage_dir!r}: stage lineage is read and written "
            "through the local filesystem, so it needs a local or mounted path, "
            "not a URI"
        )
    if args.resume and not args.stage_dir:
        raise SystemExit("--resume requires --stage-dir")
    if args.resume_chunks < 1:
        raise SystemExit(f"--resume-chunks must be at least 1, got {args.resume_chunks}")
    if args.resume_chunks > 1 and not args.stage_dir:
        raise SystemExit("--resume-chunks > 1 requires --stage-dir")
    if args.chunk_by is not None and args.resume_chunks <= 1:
        raise SystemExit("--chunk-by requires --stage-dir and --resume-chunks > 1")
    if not (math.isfinite(args.dedup_radius_m) and args.dedup_radius_m >= 0):
        raise SystemExit(
            f"--dedup-radius-m must be a finite radius >= 0 (0 = no kNN dedup), "
            f"got {args.dedup_radius_m}"
        )
    if not 0 <= args.tile_zoom <= 30:
        raise SystemExit(f"--tile-zoom must be a zoom level in 0..30, got {args.tile_zoom}")
    if args.export_hierarchy and not args.text_format:
        raise SystemExit("--export-hierarchy requires --text-format")
    if args.streaming:
        if not args.checkpoint:
            raise SystemExit("--streaming requires --checkpoint")
        if args.text_format or args.stage_dir or args.dedup_radius_m > 0:
            raise SystemExit(
                "--streaming is incompatible with --text-format/--stage-dir/"
                "--dedup-radius-m (see --help)"
            )
    else:
        for flag, given in (
            ("--dedup-docs", args.dedup_docs),
            ("--dedup-ttl", args.dedup_ttl is not None),
            ("--checkpoint", args.checkpoint is not None),
            ("--max-files-per-trigger", args.max_files_per_trigger is not None),
        ):
            if given:
                raise SystemExit(f"{flag} requires --streaming")
    if args.dedup_ttl is not None:
        if not args.dedup_docs:
            raise SystemExit("--dedup-ttl requires --dedup-docs")
        from osmgraft.streaming.ingest import _duration_ms

        try:
            _duration_ms(args.dedup_ttl)
        except ValueError as e:
            raise SystemExit(f"--dedup-ttl: {e}") from None


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    check_args(args)

    from pyspark.sql import Observation, SparkSession
    from pyspark.sql import functions as F

    # only stop a session this entrypoint itself created: under spark-submit
    # that's the job's own session; embedded (tests, notebooks) the caller
    # keeps ownership of theirs
    owns_session = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName("osmgraft-labels").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from osmgraft.operators.tiles import assign_tiles
    from osmgraft.plans.pipeline import format_complete, label_pipeline
    from osmgraft.sources.config import default_config, load_config

    cfg = load_config(args.config) if args.config else default_config()

    if args.streaming:
        from osmgraft.streaming.ingest import (
            stream_documents,
            stream_dedup_documents,
            stream_pipeline_foreach_batch,
        )

        max_files = 64 if args.max_files_per_trigger is None else args.max_files_per_trigger
        stream = stream_documents(spark, args.docs, max_files=max_files)
        if args.dedup_docs:
            stream = stream_dedup_documents(stream, state_ttl=args.dedup_ttl)
        q = stream_pipeline_foreach_batch(
            spark,
            stream,
            spark.read.parquet(args.blobs),
            args.out,
            args.checkpoint,
            cfg=cfg,
            extra=lambda df: assign_tiles(df, z=args.tile_zoom),
        )
        q.awaitTermination()
        # a fully-caught-up checkpoint drains zero micro-batches, so
        # foreachBatch never creates args.out — report 0 rows instead of
        # crashing on PATH_NOT_FOUND. Asking Spark, not os.path, keeps
        # URI outputs (file://, s3://, hdfs://) countable.
        from pyspark.errors import AnalysisException

        try:
            n = spark.read.parquet(args.out).count()
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            n = 0
        print(json.dumps({"status": "ok", "out": args.out, "rows": n, "mode": "streaming"}))
        if owns_session:
            spark.stop()
        return

    def staged(name: str, builder):
        if args.stage_dir:
            from osmgraft.plans.lineage import (
                materialize,
                materialize_chunked,
                resume_or_compute,
            )

            path = f"{args.stage_dir}/{name}"
            n_chunks = args.resume_chunks
            chunk_by = [c.strip() for c in (args.chunk_by or "osm_id").split(",") if c.strip()]
            if args.resume:
                return resume_or_compute(
                    spark, path, name, builder, n_chunks=n_chunks, chunk_by=chunk_by
                )
            if n_chunks > 1:
                return materialize_chunked(builder(), path, name, n_chunks, chunk_by)
            return materialize(builder(), path, name)
        return builder()

    def build_labels():
        # the inputs are read only if the stage is built: each bare parquet
        # read runs a schema-inference job that a verified resume skips
        docs, blobs = spark.read.parquet(args.docs), spark.read.parquet(args.blobs)
        return label_pipeline(spark, docs, blobs, cfg=cfg)

    labels = staged("labels", build_labels)
    if args.dedup_radius_m > 0:
        from osmgraft.operators.knn import dedup_labels

        labels = staged(
            "labels_dedup", lambda: dedup_labels(labels, radius_m=args.dedup_radius_m)
        )
    tiled = assign_tiles(labels, z=args.tile_zoom)

    if args.text_format:
        tiled = format_complete(tiled, export_hierarchy=args.export_hierarchy)
    # the sink's row count comes from its own write job, not a re-read
    sunk = Observation()
    writer = tiled.observe(sunk, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
    (writer.text if args.text_format else writer.parquet)(args.out)

    print(json.dumps({"status": "ok", "out": args.out, "rows": sunk.get["rows"]}))
    if owns_session:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
