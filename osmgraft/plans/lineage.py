"""Checkpoint / lineage / resume rails (north_rule: resumable at 10^12 docs).

Each pipeline stage can be materialized to Parquet with a ``_lineage.json``
sidecar. ``resume_or_compute`` skips any stage whose materialization is
complete and verified, making re-runs idempotent: a killed job re-executes
only unfinished stages.

Granularity is per partition-range ("chunk"), not only per stage: a stage
written with ``n_chunks > 1`` commits each chunk independently
(``chunk-00000/`` subdirs, each with its own ``_SUCCESS`` + sidecar), so a
job killed at 99% re-executes only the missing chunks instead of the whole
stage. Chunk membership is a pure function of row content
(``pmod(xxhash64(cols), n)``) — stable across runs, schedulers, and
cluster sizes, which is what makes a partially-written stage resumable at
all. At 10^12 rows, ``chunk_by`` should name the table's partition column
so the per-chunk filter prunes the rescan.

Sidecar (``format`` 2; a sidecar without it is stale and its chunk is
recomputed): ``stage``, ``path``, ``written_at``, ``schema``,
``total_rows`` and ``content_hash`` — the decimal SUM of every row's
``xxhash64`` over all columns, order-insensitive so it is stable across
task scheduling, ``"0"`` for an empty chunk. A chunk's sidecar also
records its chunking (``n_chunks``, ``chunk_index``, ``chunk_by``). A
chunked stage's own sidecar lists its chunks' sidecars, each marked
``resumed`` if this run reused it rather than wrote it.

What is checked, and what it costs:

- **write** (:func:`materialize`): a ``pyspark.sql.Observation`` attached
  directly before the parquet write yields ``total_rows`` and
  ``content_hash`` from the write job itself; nothing is re-read. Re-reads
  pass the known schema, so they run no schema-inference job.
- **resume, structure** (:func:`is_complete`, no Spark job): the sidecar
  is current, ``_SUCCESS`` exists and the pyarrow parquet footers' row
  counts add up to ``total_rows``. A missing or truncated part file fails.
- **resume, content** (:func:`resume_or_compute`, ONE Spark job for all
  candidate chunks together): each chunk's re-hashed (rows, hash) must
  equal its sidecar's, so a chunk rewritten with other rows of the same
  count is caught. A chunk whose files cannot be read (a damaged data page
  behind a valid footer) fails that job; the chunks are then re-hashed one
  job each and the unreadable ones join the recomputed set.

A chunk that fails either check is recomputed.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from functools import reduce

import pyarrow
import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

LINEAGE_FILE = "_lineage.json"
FORMAT = 2


def _content(cols: list[str]):
    """(rows, hash) aggregates of a frame; an empty frame hashes to 0."""
    # decimal(38,0): the SUM is order-insensitive and overflow-free under ANSI
    h = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
    zero = F.lit(0).cast("decimal(38,0)")
    return F.count(F.lit(1)).alias("rows"), F.coalesce(F.sum(h), zero).alias("hash")


def partition_fingerprint(df: DataFrame) -> list[dict]:
    """Per-partition (count, hash-sum) fingerprints; their hashes add up to
    the frame's ``content_hash``."""
    rows = df.groupBy(F.spark_partition_id().alias("_pid")).agg(*_content(df.columns)).collect()
    return [
        {"partition": r["_pid"], "rows": r["rows"], "hash": str(r["hash"])}
        for r in sorted(rows, key=lambda r: r["_pid"])
    ]


def _write_sidecar(path: str, meta: dict) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, LINEAGE_FILE), "w") as fh:
        json.dump({"format": FORMAT, "path": path, "written_at": time.time(), **meta}, fh)


def materialize(
    df: DataFrame, path: str, stage: str, mode: str = "overwrite", extra: dict | None = None
) -> DataFrame:
    """Write a stage to Parquet + lineage sidecar; returns the re-read frame
    (downstream reads decouple from upstream lineage -> shorter plans,
    stable resume points). ``extra`` merges additional keys into the
    sidecar (chunk writes record their chunking there). The sidecar
    describes exactly the rows this write commits, so ``mode`` must
    replace the path or fail on an existing one."""
    if mode not in ("overwrite", "error", "errorifexists"):
        raise ValueError(f"materialize mode must replace or fail, got {mode!r}")
    obs = Observation()
    df.observe(obs, *_content(df.columns)).write.mode(mode).parquet(path)
    got = obs.get
    _write_sidecar(
        path,
        {
            "stage": stage,
            "total_rows": got["rows"],
            "content_hash": str(got["hash"]),
            "schema": df.schema.jsonValue(),
            **(extra or {}),
        },
    )
    return df.sparkSession.read.schema(df.schema).parquet(path)


def is_complete(spark: SparkSession, path: str) -> bool:
    """Structural check from files alone (no Spark job): a current sidecar,
    ``_SUCCESS``, and parquet footers whose row counts add up to the
    sidecar's ``total_rows``. A missing or undecodable sidecar, a missing
    ``_SUCCESS`` or an unreadable footer means incomplete; any other error
    propagates."""
    try:
        meta = read_lineage(path)
        if meta.get("format") != FORMAT:
            return False
        os.stat(os.path.join(path, "_SUCCESS"))
        parts = [f for f in os.listdir(path) if not f.startswith(("_", "."))]
        rows = sum(pq.read_metadata(os.path.join(path, f)).num_rows for f in parts)
        return rows == meta["total_rows"]
    except (OSError, json.JSONDecodeError, pyarrow.ArrowInvalid, KeyError):
        return False


def _rehash(spark: SparkSession, candidates: dict[int, tuple[str, dict]]) -> dict[int, tuple]:
    """(rows, hash) of each candidate chunk, re-read with its recorded schema:
    an Observation per chunk, a single noop write of their union."""
    obs, frames = {}, []
    for i, (p, meta) in candidates.items():
        schema = StructType.fromJson(meta["schema"])
        obs[i] = Observation()
        frame = spark.read.schema(schema).parquet(p)
        frames.append(frame.observe(obs[i], *_content(frame.columns)).select(F.lit(i)))
    reduce(DataFrame.unionAll, frames).write.format("noop").mode("overwrite").save()
    return {i: (o.get["rows"], str(o.get["hash"])) for i, o in obs.items()}


def _unreadable(err: Py4JJavaError) -> bool:
    return "FAILED_READ_FILE" in str(err)


def _verified(spark: SparkSession, candidates: dict[int, tuple[str, dict]]) -> list[int]:
    """Keys of the ``candidates`` (key -> (path, sidecar)) whose re-hashed
    (rows, hash) equal their sidecars'. One Spark job for all of them. If a
    part file cannot be read (a damaged data page under a valid footer),
    each chunk is re-hashed in its own job and the unreadable ones are left
    out, so they are recomputed; any other failure propagates."""
    if not candidates:
        return []
    try:
        seen = _rehash(spark, candidates)
    except Py4JJavaError as err:
        if not _unreadable(err):
            raise
        seen = {}
        for i, cand in candidates.items():
            try:
                seen.update(_rehash(spark, {i: cand}))
            except Py4JJavaError as chunk_err:
                if not _unreadable(chunk_err):
                    raise
    return [i for i, (_, m) in candidates.items() if seen.get(i) == (m["total_rows"], m["content_hash"])]


def chunk_expr(n_chunks: int, cols: list[str]):
    """Deterministic, content-based chunk id: stable across runs and task
    scheduling (unlike ``spark_partition_id``), so a chunk written by a
    killed job holds exactly the rows a resume would assign to it."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_chunks)).cast("int")


def _chunk_path(path: str, i: int) -> str:
    return os.path.join(path, f"chunk-{i:05d}")


def read_chunked(spark: SparkSession, path: str, n_chunks: int) -> DataFrame:
    """All chunks of a stage, read with the schema chunk 0's sidecar records."""
    schema = StructType.fromJson(read_lineage(_chunk_path(path, 0))["schema"])
    return spark.read.schema(schema).parquet(*[_chunk_path(path, i) for i in range(n_chunks)])


def _write_stage_sidecar(path: str, stage: str, chunk_metas: list[dict]) -> None:
    _write_sidecar(
        path,
        {
            "stage": stage,
            "n_chunks": len(chunk_metas),
            "total_rows": sum(c["total_rows"] for c in chunk_metas),
            "chunks": chunk_metas,
        },
    )


def materialize_chunked(
    df: DataFrame,
    path: str,
    stage: str,
    n_chunks: int,
    chunk_by: list[str] | None = None,
    _existing: dict[int, dict] | None = None,
) -> DataFrame:
    """Write a stage as ``n_chunks`` independently-committed partition
    ranges. ``_existing`` (from :func:`resume_or_compute`) maps chunk index
    -> verified sidecar; those chunks are NOT rewritten — their lineage
    entries (incl. original ``written_at``) carry into the stage sidecar,
    which is the auditable proof of partial reuse. A verified chunk whose
    schema differs from ``df``'s was written by another plan and is
    rewritten too."""
    schema = df.schema.jsonValue()
    existing = {i: m for i, m in (_existing or {}).items() if m["schema"] == schema}
    missing = [i for i in range(n_chunks) if i not in existing]
    src = df.withColumn("_chunk", chunk_expr(n_chunks, chunk_by or df.columns))
    write_tasks = None
    if len(missing) > 1:
        # one materialization of the producing plan; each chunk write is
        # then a cheap filter. A single missing chunk skips this: one
        # filtered pass beats checkpointing the full frame.
        src = src.localCheckpoint(eager=True)
        # a chunk holds about 1/n_chunks of every partition's rows: writing
        # it with 1/n_chunks of the tasks keeps the staged frame's rows per
        # file, and each parquet file written has a fixed CPU cost
        write_tasks = max(1, src.rdd.getNumPartitions() // n_chunks)
    chunk_metas: list[dict] = []
    for i in range(n_chunks):
        if i in existing:
            chunk_metas.append({**existing[i], "resumed": True})
            continue
        cpath = _chunk_path(path, i)
        chunk = src.where(F.col("_chunk") == i).drop("_chunk")
        materialize(
            chunk.coalesce(write_tasks) if write_tasks else chunk,
            cpath,
            f"{stage}#{i}",
            # the chunk records the modulus its rows were assigned under —
            # resume refuses to mix chunks from different chunkings
            extra={"n_chunks": n_chunks, "chunk_index": i, "chunk_by": chunk_by},
        )
        chunk_metas.append(read_lineage(cpath))
    _write_stage_sidecar(path, stage, chunk_metas)
    _prune_stale_chunks(path, n_chunks)
    return df.sparkSession.read.schema(df.schema).parquet(
        *[_chunk_path(path, i) for i in range(n_chunks)]
    )


def _prune_stale_chunks(path: str, n_chunks: int) -> None:
    """Remove orphan ``chunk-XXXXX`` dirs beyond the current chunking (left
    behind when a path is re-chunked with a smaller ``n_chunks``) so a
    later resume can never read rows assigned under a different modulus."""
    for name in os.listdir(path):
        m = re.fullmatch(r"chunk-(\d{5})", name)
        if m and int(m.group(1)) >= n_chunks:
            shutil.rmtree(os.path.join(path, name), ignore_errors=True)


def resume_or_compute(
    spark: SparkSession,
    path: str,
    stage: str,
    builder,
    n_chunks: int = 1,
    chunk_by: list[str] | None = None,
) -> DataFrame:
    """Idempotent stage execution: reuse a complete materialization, else
    build + materialize. ``builder`` is a zero-arg callable -> DataFrame.

    With ``n_chunks > 1`` the reuse is per partition-range: every chunk
    that passes the structural check (:func:`is_complete`) and then the
    content check (one Spark job over all such chunks) is kept as-is and
    only the other chunks are computed and written (the builder runs once,
    filtered per missing chunk). All chunks verified -> the builder never
    runs.

    A chunk is reusable only if its sidecar records the SAME ``n_chunks``
    it is being resumed under: chunk membership is ``pmod(hash, n_chunks)``,
    so a chunk written under a different modulus holds a different row set
    — mixing chunkings would silently drop or duplicate rows. Stale chunks
    (older sidecar format or mismatched ``n_chunks``) are discarded and
    recomputed."""
    if n_chunks <= 1:
        if is_complete(spark, path):
            meta = read_lineage(path)
            if _verified(spark, {0: (path, meta)}):
                return spark.read.schema(StructType.fromJson(meta["schema"])).parquet(path)
        return materialize(builder(), path, stage)
    candidates = {}
    for i in range(n_chunks):
        cpath = _chunk_path(path, i)
        if not is_complete(spark, cpath):
            continue
        meta = read_lineage(cpath)
        if meta.get("n_chunks") != n_chunks:
            continue  # written under a different modulus: row set differs
        if meta.get("chunk_by") != chunk_by:
            # same modulus but different hash columns: pmod(xxhash64(*cols),
            # N) assigns a different row set per chunk, so mixing would
            # drop/duplicate rows exactly like an n_chunks mismatch
            continue
        candidates[i] = (cpath, meta)
    existing = {i: candidates[i][1] for i in _verified(spark, candidates)}
    if len(existing) == n_chunks:
        reused = [{**existing[i], "resumed": True} for i in range(n_chunks)]
        _write_stage_sidecar(path, stage, reused)
        return read_chunked(spark, path, n_chunks)
    return materialize_chunked(builder(), path, stage, n_chunks, chunk_by, _existing=existing)


def read_lineage(path: str) -> dict:
    with open(os.path.join(path, LINEAGE_FILE)) as fh:
        return json.load(fh)
