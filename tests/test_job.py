"""spark-submit entrypoint e2e: the CLI path must reach the chunked
partition-range resume rails (round-4 gap: `resume_or_compute` was only ever
called with the default n_chunks=1 from job.py, so the tested lineage
machinery was unreachable from spark-submit)."""

from __future__ import annotations

import json
import os

import pytest


def _write_inputs(spark, tmp_path):
    from osmgraft.sources.synth import SynthParams, write_synth

    d = str(tmp_path / "in")
    write_synth(spark, d, SynthParams(n_docs=300, seed=7), partitions=4)
    return f"{d}/documents.parquet", f"{d}/blobs.parquet"


def test_job_cli_chunked_resume(spark, tmp_path, capsys):
    """Kill a --resume-chunks 2 job after its first chunk lands; rerunning
    the SAME CLI line must recompute only the missing chunk (surviving
    chunk's sidecar byte-identical) and produce the full output."""
    from osmgraft import job
    from osmgraft.plans import lineage
    from osmgraft.plans.lineage import read_lineage

    docs, blobs = _write_inputs(spark, tmp_path)
    stage_dir = str(tmp_path / "stages")
    out = str(tmp_path / "labels_out")
    argv = [
        "--docs", docs, "--blobs", blobs, "--out", out,
        "--stage-dir", stage_dir, "--resume",
        "--resume-chunks", "2", "--chunk-by", "osm_id",
        "--tile-zoom", "12",
    ]

    real_materialize, writes = lineage.materialize, []

    def dying(frame, cpath, stage, mode="overwrite", extra=None):
        if len(writes) == 1:
            raise RuntimeError("killed mid-stage")
        writes.append(cpath)
        return real_materialize(frame, cpath, stage, mode, extra)

    lineage.materialize = dying
    try:
        with pytest.raises(RuntimeError):
            job.main(argv)
    finally:
        lineage.materialize = real_materialize

    assert len(writes) == 1  # exactly one chunk of the labels stage landed
    done_chunk = writes[0]
    assert os.path.basename(done_chunk).startswith("chunk-")
    chunk_meta = read_lineage(done_chunk)
    assert chunk_meta["n_chunks"] == 2
    mtime = os.path.getmtime(os.path.join(done_chunk, "_SUCCESS"))

    # same CLI line again = the operator's resume action
    job.main(argv)
    status = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert status["status"] == "ok"

    # surviving chunk reused byte-for-byte, stage sidecar proves the split
    assert os.path.getmtime(os.path.join(done_chunk, "_SUCCESS")) == mtime
    assert read_lineage(done_chunk) == chunk_meta
    stage_meta = read_lineage(os.path.join(stage_dir, "labels"))
    assert stage_meta["n_chunks"] == 2
    assert sorted(c.get("resumed", False) for c in stage_meta["chunks"]) == [False, True]

    # output equals a no-staging run of the same pipeline
    expect = (
        json.loads(
            _run_plain(spark, docs, blobs, str(tmp_path / "labels_plain"))
        )
    )
    got_rows = spark.read.parquet(out)
    ref_rows = spark.read.parquet(str(tmp_path / "labels_plain"))
    assert status["rows"] == expect["rows"]
    a = sorted(map(tuple, got_rows.collect()))
    b = sorted(map(tuple, ref_rows.collect()))
    assert a == b


def _run_plain(spark, docs, blobs, out):
    from osmgraft import job

    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        job.main(["--docs", docs, "--blobs", blobs, "--out", out, "--tile-zoom", "12"])
    return buf.getvalue().strip().splitlines()[-1]


def test_job_staged_job_budget(spark, tmp_path, monkeypatch, capsys):
    """Staging and verifying cost a bounded number of Spark jobs: a fresh
    staged run adds at most one write per chunk plus two jobs to the
    unstaged run, and a --resume with every chunk intact runs at most two
    (verification) jobs before tiles and sink. Jobs are counted per run
    through a job group. The sink reports its row count in text mode too."""
    from osmgraft import job
    from osmgraft.operators import tiles
    from osmgraft.plans.lineage import read_lineage

    docs, blobs = _write_inputs(spark, tmp_path)
    sc = spark.sparkContext
    n_chunks = 4
    real_assign_tiles = tiles.assign_tiles
    before_tiles = {}

    def run(name, extra):
        sc.setJobGroup(name, name)
        try:
            job.main(
                ["--docs", docs, "--blobs", blobs, "--out", str(tmp_path / name),
                 "--tile-zoom", "12", *extra]
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
        return len(sc.statusTracker().getJobIdsForGroup(name))

    def counting_tiles(df, *args, **kw):
        name = sc.getLocalProperty("spark.jobGroup.id")
        before_tiles[name] = len(sc.statusTracker().getJobIdsForGroup(name))
        return real_assign_tiles(df, *args, **kw)

    monkeypatch.setattr(tiles, "assign_tiles", counting_tiles)
    stage = ["--stage-dir", str(tmp_path / "stages"), "--resume-chunks", str(n_chunks)]
    unstaged = run("budget_unstaged", [])
    rows = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["rows"]
    run("budget_text", ["--text-format"])
    text_status = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert text_status["rows"] == rows  # a label may span lines: count rows, not lines
    staged = run("budget_staged", stage)
    assert staged <= unstaged + n_chunks + 2, (staged, unstaged)

    run("budget_resumed", [*stage, "--resume"])
    assert before_tiles["budget_resumed"] <= 2, before_tiles
    assert all(c["resumed"] for c in read_lineage(str(tmp_path / "stages" / "labels"))["chunks"])


def test_job_cli_streaming_incremental(spark, tmp_path, capsys):
    """--streaming drains the docs dir through the per-epoch pipeline sink;
    rerunning with the SAME checkpoint after new files arrive processes
    only the new documents (the streaming counterpart of --resume)."""
    import shutil

    from osmgraft import job

    docs, blobs = _write_inputs(spark, tmp_path)
    # stream source dir we control file arrival in
    src = str(tmp_path / "stream_docs")
    os.makedirs(src)
    parts = sorted(
        f for f in os.listdir(docs) if f.endswith(".parquet") and not f.startswith("_")
    )
    assert len(parts) >= 4
    for f in parts[:2]:
        shutil.copy(os.path.join(docs, f), os.path.join(src, f))

    out = str(tmp_path / "labels_stream")
    ckpt = str(tmp_path / "ckpt_job_stream")
    argv = [
        "--docs", src, "--blobs", blobs, "--out", out,
        "--streaming", "--checkpoint", ckpt, "--dedup-docs",
        "--max-files-per-trigger", "1", "--tile-zoom", "12",
    ]
    job.main(argv)
    n1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["rows"]
    assert n1 > 0

    # new files arrive; same checkpoint -> only they are processed
    for f in parts[2:]:
        shutil.copy(os.path.join(docs, f), os.path.join(src, f))
    job.main(argv)
    n2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["rows"]
    assert n2 > n1

    # the union equals the one-shot batch pipeline over all files
    from osmgraft.operators.tiles import assign_tiles
    from osmgraft.plans.pipeline import label_pipeline

    want = assign_tiles(
        label_pipeline(spark, spark.read.parquet(src), spark.read.parquet(blobs)), z=12
    )
    got_set = {(r["osm_id"], r["label"]) for r in spark.read.parquet(out).collect()}
    want_set = {(r["osm_id"], r["label"]) for r in want.collect()}
    assert got_set == want_set

    # fully-caught-up checkpoint + fresh out dir: zero micro-batches fire,
    # foreachBatch never creates the path — the job must report rows 0,
    # not crash on PATH_NOT_FOUND reading back a sink it never wrote
    out_empty = str(tmp_path / "labels_stream_empty")
    job.main([
        "--docs", src, "--blobs", blobs, "--out", out_empty,
        "--streaming", "--checkpoint", ckpt, "--dedup-docs",
        "--max-files-per-trigger", "1", "--tile-zoom", "12",
    ])
    status = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert status["rows"] == 0 and not os.path.exists(out_empty)

    # a URI --out (file://, as s3:// or hdfs:// on a cluster) reports the
    # rows it wrote, not 0: the read-back must not go through os.path
    out_uri = "file://" + str(tmp_path / "labels_stream_uri")
    job.main([
        "--docs", src, "--blobs", blobs, "--out", out_uri,
        "--streaming", "--checkpoint", str(tmp_path / "ckpt_job_stream_uri"),
    ])
    status = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert status["rows"] > 0
    assert status["rows"] == spark.read.parquet(out_uri).count()

    # guard rails: config conflicts fail fast
    with pytest.raises(SystemExit):
        job.main(argv + ["--text-format"])
    with pytest.raises(SystemExit):
        job.main(["--docs", src, "--blobs", blobs, "--out", out, "--streaming"])


_BASE = ["--docs", "d", "--blobs", "b", "--out", "o"]


@pytest.fixture
def no_session(monkeypatch):
    """Fail if job.main builds a SparkSession: a rejected command line must
    exit before any cluster start-up."""
    from pyspark.sql import SparkSession

    def refuse(self):
        raise AssertionError("job.main built a SparkSession")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", refuse)


def test_job_rejects_uri_stage_dir(no_session, tmp_path, monkeypatch):
    """Stage lineage goes through the local filesystem, so a URI stage dir
    would never find its `_SUCCESS` markers and every --resume would
    recompute everything; the job refuses it up front. Spark-free."""
    from osmgraft import job

    monkeypatch.chdir(tmp_path)
    for uri in ("s3://bucket/_stages", "file:///tmp/osmgraft_stages"):
        with pytest.raises(SystemExit, match="local or mounted path"):
            job.main([*_BASE, "--stage-dir", uri, "--resume"])
    assert os.listdir(tmp_path) == []  # no ./file: or ./s3: directory left behind


@pytest.mark.parametrize(
    "extra, message",
    [
        (["--resume"], "--resume requires --stage-dir"),
        (["--dedup-docs"], "--dedup-docs requires --streaming"),
        (["--dedup-ttl", "24 hours"], "--dedup-ttl requires --streaming"),
        (["--checkpoint", "c"], "--checkpoint requires --streaming"),
        (["--streaming", "--checkpoint", "c", "--dedup-ttl", "24 hours"],
         "--dedup-ttl requires --dedup-docs"),
        (["--streaming", "--checkpoint", "c", "--dedup-docs", "--dedup-ttl", "10s"],
         "unsupported duration"),
        (["--export-hierarchy"], "--export-hierarchy requires --text-format"),
        (["--resume-chunks", "0"], "--resume-chunks must be at least 1"),
        (["--dedup-radius-m", "-1"], "--dedup-radius-m must be a finite radius"),
        (["--dedup-radius-m", "nan"], "--dedup-radius-m must be a finite radius"),
        (["--dedup-radius-m", "inf"], "--dedup-radius-m must be a finite radius"),
        (["--streaming"], "--streaming requires --checkpoint"),
        (["--streaming", "--checkpoint", "c", "--text-format"], "incompatible"),
        (["--streaming", "--checkpoint", "c", "--stage-dir", "s"], "incompatible"),
        (["--streaming", "--checkpoint", "c", "--dedup-radius-m", "100"], "incompatible"),
        # the command lines the job serves pass the checks and reach Spark
        ([], None),
        (["--stage-dir", "st", "--resume-chunks", "8", "--tile-zoom", "12"], None),
        (["--stage-dir", "st", "--resume", "--resume-chunks", "2", "--chunk-by", "osm_id"], None),
        (["--text-format", "--export-hierarchy", "--dedup-radius-m", "2000"], None),
        (["--streaming", "--checkpoint", "c", "--dedup-docs", "--dedup-ttl", "24 hours",
          "--max-files-per-trigger", "1"], None),
        # flags main parses but would never read without the flags they need
        (["--resume-chunks", "64"], "--resume-chunks > 1 requires --stage-dir"),
        (["--chunk-by", "osm_id"], "--chunk-by requires --stage-dir"),
        (["--resume-chunks", "8", "--chunk-by", "osm_id"], "--resume-chunks > 1 requires --stage-dir"),
        (["--stage-dir", "st", "--chunk-by", "osm_id"],
         "--chunk-by requires --stage-dir and --resume-chunks > 1"),
        (["--max-files-per-trigger", "1"], "--max-files-per-trigger requires --streaming"),
        # tiles.tile_xy computes 1 << z, only after the labels stage has run
        (["--tile-zoom", "-1"], "--tile-zoom must be a zoom level in 0..30"),
        (["--tile-zoom", "31"], "--tile-zoom must be a zoom level in 0..30"),
        (["--tile-zoom", "0"], None),
        (["--tile-zoom", "30"], None),
    ],
)
def test_job_checks_flags_before_spark(no_session, extra, message):
    """Flag combinations the job would otherwise ignore without a word exit
    with a message naming the flag, before a SparkSession is built; the
    supported ones get as far as building it. Spark-free."""
    from osmgraft import job

    if message is None:
        with pytest.raises(AssertionError, match="built a SparkSession"):
            job.main([*_BASE, *extra])
        return
    with pytest.raises(SystemExit) as exc:
        job.main([*_BASE, *extra])
    assert message in str(exc.value.code)
