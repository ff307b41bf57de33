"""Structured Streaming ingest path (optional — SURVEY.md §2.9).

The reference is a one-shot batch importer; the engine adds one streaming
ingest pipeline for deployments where the documents table grows
continuously (CLI: ``job.py --streaming [--dedup-docs]``):

- ``stream_documents``: file-source stream over the interleaved documents
  layout (new parquet files = new micro-batch; on a cluster this is the
  Iceberg/Kafka source with the same schema).
- ``stream_dedup_documents`` (optional): exact first-occurrence dedup of
  documents across micro-batches by span-sequence fingerprint, built on
  the custom STATEFUL operator ``stream_dedup_first_seen``
  (``applyInPandasWithState``; one boolean of state per key, optional
  TTL horizon).
- ``stream_pipeline_foreach_batch``: batch-incremental mode — each
  micro-batch runs the FULL batch pipeline (incl. area assembly) and
  lands in a per-epoch parquet partition; a replayed epoch overwrites its
  own partition, so resume is idempotent. Global rank is a total order
  over ALL rows; the per-epoch rank restarts at 0 each epoch.
"""

from __future__ import annotations

import math
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from osmgraft.schemas import DOCUMENTS


def _duration_ms(text: str) -> int:
    """Driver-side duration parse for the stateful dedup's TTL:
    '24 hours' / '10 minutes' / '30 seconds' / bare milliseconds. Raises
    a ValueError NAMING the accepted forms for anything else ('10s',
    '2 min', ...) and for a duration that is not a finite count of at
    least 1 ms ('0 hours', '-1 hours', 'inf hours'), instead of an opaque
    KeyError or ``setTimeoutDuration`` error inside an executor."""
    qty, _, unit = text.partition(" ")
    mult = {
        "": 1, "ms": 1, "milliseconds": 1,
        "second": 1000, "seconds": 1000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
        "day": 86_400_000, "days": 86_400_000,
    }
    u = unit.strip().lower()
    try:
        ms = float(qty) * mult[u]
    except (KeyError, ValueError):
        ms = math.nan
    if not (math.isfinite(ms) and ms >= 1):
        raise ValueError(
            f"unsupported duration {text!r}: use '<number> <unit>' of at least "
            "1 ms with unit in ms/seconds/minutes/hours/days (or a bare "
            "millisecond count)"
        )
    return int(ms)


def stream_documents(spark: SparkSession, path: str, max_files: int = 64) -> DataFrame:
    """File-source stream of interleaved documents (append-only directory)."""
    return (
        spark.readStream.schema(DOCUMENTS)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def stream_pipeline_foreach_batch(
    spark: SparkSession,
    docs_stream: DataFrame,
    blobs: DataFrame,
    out_path: str,
    checkpoint_path: str,
    cfg=None,
    trigger_available_now: bool = True,
    extra: Callable[[DataFrame], DataFrame] | None = None,
):
    """Batch-incremental full pipeline: every micro-batch of documents runs
    the complete batch plan (incl. area assembly and per-batch rank) and
    appends to ``out_path``. Returns the started StreamingQuery."""
    from osmgraft.plans.pipeline import label_pipeline

    def process(batch_docs: DataFrame, epoch_id: int) -> None:
        if batch_docs.isEmpty():
            return
        out = label_pipeline(spark, batch_docs, blobs, cfg=cfg)
        if extra is not None:
            out = extra(out)
        # foreachBatch is at-least-once: a replayed epoch must land in the
        # same place, not append a second copy. partitionBy(_epoch) +
        # dynamic partition overwrite rewrites ONLY this epoch's partition,
        # leaving completed epochs untouched — idempotent resume.
        (
            out.withColumn("_epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch")
            .parquet(out_path)
        )

    writer = (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup_first_seen(
    stream: DataFrame,
    key_cols: list[str],
    order_cols: list[str] | None = None,
    state_ttl: str | None = None,
) -> DataFrame:
    """Custom STATEFUL streaming operator (``applyInPandasWithState``):
    exact first-occurrence dedup across micro-batches.

    Emits each key's first-seen row and suppresses every later duplicate
    — including duplicates arriving in LATER micro-batches, which a
    per-batch ``dropDuplicates`` cannot do and an unbounded streaming
    ``dropDuplicates`` only does with watermark columns in the key. State
    per key is a single boolean marker (~bytes), the minimum possible
    footprint for exact dedup; at 10^12 documents the marker store is
    what RocksDB state backends are for, and ``state_ttl`` (e.g. ``"24
    hours"``, processing-time timeout) bounds it for dedup-within-horizon
    semantics (the usual crawl contract: re-emits only after the horizon).

    ``order_cols`` makes the within-batch winner deterministic (smallest
    tuple wins); default is the key itself, so a batch holding N copies
    of a key emits exactly one, reproducibly. Output schema = input
    schema, append-only.

    Scale shape: one hash exchange on ``key_cols`` (the same shuffle a
    batch ``dropDuplicates(key_cols)`` pays), Arrow-batched state function, no
    collect; skewed keys cost one state lookup per row, not a join
    fan-out."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import BooleanType, StructField, StructType

    out_schema = stream.schema
    cols = [f.name for f in out_schema.fields]
    order = order_cols or key_cols
    state_schema = StructType([StructField("seen", BooleanType())])
    ttl_ms = None
    if state_ttl is not None:
        # "24 hours" / "10 minutes" / bare ms — parse driver-side once
        ttl_ms = _duration_ms(state_ttl)

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if not state.exists:
            best = None
            for pdf in pdfs:
                if not len(pdf):
                    continue
                cand = pdf.sort_values(order, kind="stable").iloc[[0]]
                if best is None or tuple(cand.iloc[0][order]) < tuple(best.iloc[0][order]):
                    best = cand
            if best is not None:
                state.update((True,))
                if ttl_ms is not None:
                    state.setTimeoutDuration(ttl_ms)
                yield best[cols]
                return
        else:
            # drain the iterator (required by the contract) and refresh TTL
            for _ in pdfs:
                pass
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
        return

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return stream.groupBy(*[F.col(c) for c in key_cols]).applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout
    )


def document_fingerprint_expr():
    """Content fingerprint of an interleaved document: xxhash64 over the
    ordered span sequence (kind, text, media_ref) — the span-sequence
    equality invariant, hashed. Two documents with identical span
    sequences collide by construction."""
    # every field coalesced explicitly: concat_ws SKIPS nulls, which would
    # make ("a", NULL, "b") collide with ("a", "b", NULL) — and the DuckDB
    # oracle replica (plans/sql_oracle.doc_dedup_sql) must be able to
    # reproduce the key string byte-for-byte
    parts = F.transform(
        F.col("spans"),
        lambda s: F.concat_ws(
            "\x1f",
            s["kind"],
            F.coalesce(s["text"], F.lit("")),
            F.coalesce(s["media_ref"], F.lit("")),
        ),
    )
    return F.xxhash64(F.concat_ws("\x1e", parts))


def stream_dedup_documents(docs_stream: DataFrame, state_ttl: str | None = None) -> DataFrame:
    """Streaming ingest dedup for the documents table: drop every document
    whose span-sequence fingerprint was already seen (first occurrence
    wins, ``doc_id`` tie-break within a batch). Composes in front of
    :func:`stream_pipeline_foreach_batch`."""
    fp = docs_stream.withColumn("_fp", document_fingerprint_expr())
    out = stream_dedup_first_seen(
        fp, key_cols=["_fp"], order_cols=["_fp", "doc_id"], state_ttl=state_ttl
    )
    return out.drop("_fp")
