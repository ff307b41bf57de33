"""Structured Streaming ingest path: the foreachBatch batch-incremental
full pipeline, the stateful first-seen document dedup in front of it, and
the TTL parse of that dedup."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    """Documents+blobs written to disk (file streams need a directory)."""
    from osmgraft.sources.synth import SynthParams, write_synth

    root = str(tmp_path_factory.mktemp("stream_src"))
    write_synth(spark, root, SynthParams(n_docs=400, seed=5), partitions=4)
    return root


def test_foreach_batch_full_pipeline(spark, staged, tmp_path):
    """Batch-incremental mode: full pipeline per micro-batch, appended to
    parquet; output rows match the one-shot batch pipeline on the same docs,
    label balls included, and the ``extra`` tiling step lands every row on
    a z12 tile."""
    from osmgraft.operators.tiles import assign_tiles
    from osmgraft.plans.pipeline import label_pipeline
    from osmgraft.streaming.ingest import stream_documents, stream_pipeline_foreach_batch

    def tiled(df):
        return assign_tiles(df, z=12)

    blobs = spark.read.parquet(f"{staged}/blobs.parquet")
    stream = stream_documents(spark, f"{staged}/documents.parquet", max_files=2)
    assert stream.isStreaming
    out_path = str(tmp_path / "labels_out")
    q = stream_pipeline_foreach_batch(
        spark, stream, blobs, out_path, str(tmp_path / "ckpt_fb"), extra=tiled
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_path)
    docs = spark.read.parquet(f"{staged}/documents.parquet")
    want = label_pipeline(spark, docs, blobs)
    # per-batch rank is per-micro-batch (documented); compare the label sets
    got_rows = got.collect()
    got_set = {(r["osm_id"], r["label"], round(r["radius"], 6)) for r in got_rows}
    want_set = {(r["osm_id"], r["label"], round(r["radius"], 6)) for r in want.collect()}
    assert got_set == want_set
    assert len(got_set) > 0
    z12 = 1 << 12
    for r in got_rows:
        assert 0 <= r["tile_x"] < z12 and 0 <= r["tile_y"] < z12

    # idempotent resume: replaying the same epochs (fresh checkpoint, same
    # input, same epoch ids) must OVERWRITE the per-epoch partitions, not
    # append a second copy — foreachBatch is at-least-once.
    n_first = got.count()
    q2 = stream_pipeline_foreach_batch(
        spark,
        stream_documents(spark, f"{staged}/documents.parquet", max_files=2),
        blobs,
        out_path,
        str(tmp_path / "ckpt_fb_replay"),
        extra=tiled,
    )
    q2.awaitTermination(180)
    assert spark.read.parquet(out_path).count() == n_first


def test_stream_dedup_first_seen_stateful(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): duplicates are
    suppressed ACROSS micro-batches — the second batch's copy of a key
    already emitted in the first batch produces no row, which per-batch
    dropDuplicates cannot do."""
    from osmgraft.streaming.ingest import stream_dedup_first_seen

    src = tmp_path / "dedup_src"
    src.mkdir()
    # batch 1: keys a, b (a twice — in-batch dup); batch 2: a, b again + c
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "k string, v long"
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [("a", 4), ("b", 5), ("c", 6)], "k string, v long"
    ).coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema("k string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = stream_dedup_first_seen(stream, key_cols=["k"], order_cols=["k", "v"])
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["k"]: r["v"] for r in spark.sql("select * from dedup_stream").collect()}
    # one row per key; in-batch dup resolved deterministically (min v)
    assert set(rows) == {"a", "b", "c"}
    assert rows["a"] == 1  # not 2 (in-batch order tie-break) and not 4 (cross-batch dup)
    # the run really was multi-batch (otherwise this proves nothing)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2


def test_stream_dedup_documents(spark, staged, tmp_path):
    """Document-level streaming dedup: identical span sequences collapse to
    the first doc_id; distinct documents all survive."""
    from osmgraft.streaming.ingest import document_fingerprint_expr, stream_dedup_documents

    docs = spark.read.parquet(f"{staged}/documents.parquet")
    n_distinct = docs.select(document_fingerprint_expr().alias("f")).distinct().count()

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{staged}/documents.parquet")
    )
    out = stream_dedup_documents(stream)
    assert out.columns == docs.columns  # fingerprint column dropped
    q = (
        out.writeStream.format("memory")
        .queryName("doc_dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_docdedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("select * from doc_dedup_stream")
    assert got.count() == n_distinct


def test_stateful_dedup_composes_with_labeling(spark, staged, tmp_path):
    """stream_dedup_documents -> stream_pipeline_foreach_batch runs as ONE
    streaming query (the ``job.py --streaming --dedup-docs`` composition):
    the stateful FlatMapGroupsInPandasWithState node feeds the per-epoch
    full pipeline, and labels land."""
    from osmgraft.streaming.ingest import (
        stream_documents,
        stream_dedup_documents,
        stream_pipeline_foreach_batch,
    )

    blobs = spark.read.parquet(f"{staged}/blobs.parquet")
    stream = stream_documents(spark, f"{staged}/documents.parquet", max_files=2)
    out_path = str(tmp_path / "dedup_labels_out")
    q = stream_pipeline_foreach_batch(
        spark,
        stream_dedup_documents(stream),
        blobs,
        out_path,
        str(tmp_path / "ckpt_compose"),
    )
    q.awaitTermination(180)
    assert q.exception() is None
    assert spark.read.parquet(out_path).count() > 0


def test_duration_ms_accepted_and_rejected_forms():
    """The --dedup-ttl parse: '<number> <unit>' or bare milliseconds; any
    other form is a ValueError that names the accepted units."""
    from osmgraft.streaming.ingest import _duration_ms

    assert _duration_ms("24 hours") == 86_400_000
    assert _duration_ms("10 minutes") == 600_000
    assert _duration_ms("30 seconds") == 30_000
    assert _duration_ms("1.5 hours") == 5_400_000
    assert _duration_ms("1500") == 1500
    for bad in ("10s", "2 min", "", "0 hours", "-1 hours", "0.0001 seconds", "inf hours"):
        with pytest.raises(ValueError, match="ms/seconds/minutes/hours/days"):
            _duration_ms(bad)
