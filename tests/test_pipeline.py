"""End-to-end pipeline: rank semantics, admission filters, golden oracle.

The oracle is a pure-Python single-process re-implementation of the full
semantics (SURVEY.md §5.3) run over the SAME deterministic synthetic
documents — every Spark output row must match it exactly.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from osmgraft.functions.classify import levels_rows, py_filter, py_level
from osmgraft.functions.labels import compute_label_ball
from osmgraft.operators.areas import assemble_polygon, centroid_of_rings
from osmgraft.plans.pipeline import label_pipeline, label_rows
from osmgraft.sources import geoblob
from osmgraft.sources.config import default_config
from osmgraft.sources.synth import SynthParams, _cluster_centers, _make

CFG = default_config()
LEVELS = {lid: (name, factor, icon) for lid, name, factor, icon in levels_rows(CFG)}


def _py_atoi(s):
    import re

    m = re.match(r"^[\t\n\x0b\x0c\r ]*([+-]?[0-9]+)", s)
    return int(m.group(1)) if m else 0


def oracle_labels(p: SynthParams):
    """Pure-Python full pipeline -> list of dicts sorted+ranked."""
    centers = _cluster_centers(p.seed)
    segments = {}   # way_id -> (node_ids, coords dict)
    blobs_all = {}
    docs = []
    for i in range(p.n_docs):
        d, bl = _make(i, p, centers)
        docs.append(d)
        for b in bl:
            blobs_all[b["blob_id"]] = b["payload"]

    pois = []
    for d in docs:
        doc_id = d["doc_id"]
        tags = {}
        refs = []
        for s in sorted(d["spans"], key=lambda s: s["offset"]):
            if s["kind"] == "tag":
                k, _, v = s["text"].partition("=")
                tags[k] = v
            else:
                refs.append(s["media_ref"].removeprefix("geom://"))
        kind, _, num = doc_id.partition("/")
        osm_id = int(num)
        if not py_filter(CFG.filter_tree, tags):
            continue
        level = py_level(CFG, tags)
        if kind == "node":
            if level == 0:
                continue
            name = tags.get("name") or tags.get("official_name") or tags.get("int_name") or tags.get("name:en") or ""
            icon = LEVELS[level][2]
            if name == "" and icon == "":
                continue
            pt = geoblob.unpack(blobs_all[refs[0]])
            pois.append((osm_id, pt["lat"], pt["lon"], tags, level))
        elif kind == "rel":
            # member resolution
            outer, inner = [], []
            missing = unknown = False
            segs = {}
            coords = {}
            for r in refs:
                if r not in blobs_all:
                    missing = True
                    continue
                sd = geoblob.unpack(blobs_all[r])
                wid = sd["way_id"]
                segs[wid] = [int(x) for x in sd["node_ids"]]
                for nid, la, lo in zip(sd["node_ids"], sd["lats"], sd["lons"]):
                    coords[int(nid)] = (float(la), float(lo))
                if sd["role"] == geoblob.ROLE_OUTER:
                    outer.append(wid)
                elif sd["role"] == geoblob.ROLE_INNER:
                    inner.append(wid)
                else:
                    unknown = True
            if unknown or missing or level == 0 or not outer:
                continue
            if sum(len(segs[w]) for w in outer) > 100:
                continue
            rings = assemble_polygon(outer, segs)
            if not rings:
                continue
            lat, lon = centroid_of_rings(rings, coords)
            pois.append((osm_id, lat, lon, tags, level))

    pois.sort(key=lambda x: (x[4], _py_atoi(x[3].get("population", "0") or "0"), x[0]))
    out = []
    for rank, (osm_id, lat, lon, tags, level) in enumerate(pois):
        name, factor, icon = LEVELS[level]
        label_src = tags.get("name") or tags.get("name:de") or tags.get("name:en") or "<undefined>"
        label, radius = compute_label_ball(label_src, icon, factor, CFG.split_bound, CFG.split_chars)
        out.append(
            {
                "osm_id": osm_id,
                "lat": lat,
                "lon": lon,
                "level_id": level,
                "rank": rank,
                "radius": radius,
                "label": label,
                "factor": float(factor),
            }
        )
    return out


def test_golden_end_to_end(spark, synth_small):
    docs, blobs, p = synth_small
    got = [r.asDict() for r in label_pipeline(spark, docs, blobs, CFG).collect()]
    want = oracle_labels(p)
    assert len(got) == len(want), (len(got), len(want))
    got_sorted = sorted(got, key=lambda r: r["rank"])
    for g, w in zip(got_sorted, want):
        assert g["osm_id"] == w["osm_id"], (g, w)
        assert g["rank"] == w["rank"]
        assert g["level_id"] == w["level_id"]
        assert abs(g["lat"] - w["lat"]) < 1e-9 and abs(g["lon"] - w["lon"]) < 1e-9
        assert g["label"] == w["label"]
        assert g["radius"] == w["radius"]
        assert g["factor"] == w["factor"]


def test_rank_is_dense_and_deterministic(spark, synth_small):
    docs, blobs, _ = synth_small
    out = label_pipeline(spark, docs, blobs, CFG)
    ranks = [r["rank"] for r in out.select("rank").collect()]
    assert sorted(ranks) == list(range(len(ranks)))
    # two runs agree (determinism through shuffles)
    again = {r["osm_id"]: r["rank"] for r in label_pipeline(spark, docs, blobs, CFG).collect()}
    first = {r["osm_id"]: r["rank"] for r in out.collect()}
    assert first == again


def test_two_phase_rank_equals_window(spark, synth_small):
    """O2 two-phase rank == row_number() over the same total order."""
    from pyspark.sql import Window

    from osmgraft.plans.pipeline import extract_pois
    from osmgraft.functions.names import population_expr
    from osmgraft.operators.rank import global_rank

    docs, blobs, _ = synth_small
    pois = extract_pois(spark, docs, blobs, CFG).withColumn(
        "population", population_expr(F.col("tags"))
    )
    two_phase = {r["osm_id"]: r["rank"] for r in global_rank(pois).collect()}
    w = Window.orderBy(F.col("level_id").asc(), F.col("population").asc(), F.col("osm_id").asc())
    window = {
        r["osm_id"]: r["rank"] - 1
        for r in pois.withColumn("rank", F.row_number().over(w)).collect()
    }
    assert two_phase == window
    # the 100k-partition emit path (broadcast-joined offsets frame instead
    # of a codegen array literal) must produce the identical total order
    joined = {
        r["osm_id"]: r["rank"]
        for r in global_rank(pois, array_literal_max=0).collect()
    }
    assert joined == window


def test_pipeline_sql_oracle_matches_engine(spark, tmp_path):
    """The DuckDB replica of the FULL pipeline (plans/sql_oracle.py) —
    decode, filter/classify, assembly centroid, rank, label kernel — must
    match the engine row-for-row on a fresh staged corpus (different seed
    and size than the driver's, so this is not a fixture replay)."""
    import duckdb

    from osmgraft.plans.pipeline import label_pipeline
    from osmgraft.plans.sql_oracle import label_pipeline_sql, stage_pipeline_corpus
    from osmgraft.sources.config import default_config

    docs_p, blobs_p, geom_p = stage_pipeline_corpus(
        n_docs=500, seed=9, base=str(tmp_path / "corpus")
    )
    out = label_pipeline(spark, spark.read.parquet(docs_p), spark.read.parquet(blobs_p))
    got = {
        r["osm_id"]: (
            round(r["lat"], 6), round(r["lon"], 6), r["level_id"], r["rank"],
            r["radius"], r["label"], r["factor"],
        )
        for r in out.collect()
    }
    sql = label_pipeline_sql(docs_p, geom_p, default_config())
    want = {
        r[5]: (r[0], r[1], r[2], r[3], r[4], r[6], r[7])
        for r in duckdb.connect().execute(sql).fetchall()
    }
    assert len(got) == len(want) > 300
    mism = {k: (got[k], want.get(k)) for k in got if got[k] != want.get(k)}
    assert not mism, dict(list(mism.items())[:3])


def _python_operators(df):
    """(name, input column names) of each Python operator in ``df``'s
    optimized plan; a cached input is a leaf."""

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    ops, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        kids = seq(node.children())
        if node.nodeName() in ("MapInPandas", "ArrowEvalPython"):
            ops.append((node.nodeName(), {a.name() for k in kids for a in seq(k.output())}))
        stack.extend(kids)
    return ops


@pytest.mark.parametrize("literal_bugs", [False, True])
def test_label_rows_plans_three_python_operators(spark, synth_small, literal_bugs):
    """Point + label kernel, segment decode, area + label kernel — and
    the tags map (or the literal name) reaches none of them."""
    docs, blobs, _ = synth_small
    ops = _python_operators(label_rows(spark, docs, blobs, CFG, literal_bugs=literal_bugs))
    assert len(ops) == 3, ops
    for name, cols in ops:
        assert not cols & {"tags", "_name_lit"}, (name, cols)


def test_literal_mode_pipeline_equals_composed_blocks(spark, synth_small):
    """literal_bugs=True through the fused kernels equals the kept blocks
    composed by hand: decode_documents(literal_names=True) ->
    admitted_node_pois / admitted_area_pois (extract_pois) ->
    attach_label_ball on the literal label source -> global_rank."""
    from osmgraft.functions.labels import attach_label_ball
    from osmgraft.functions.names import label_name_literal_expr, population_expr
    from osmgraft.operators.rank import global_rank
    from osmgraft.plans.pipeline import extract_pois
    from osmgraft.sources.decode import decode_documents

    docs, blobs, _ = synth_small
    cols = ["lat", "lon", "level_id", "rank", "radius", "osm_id", "label", "factor"]
    pois = extract_pois(spark, docs, blobs, CFG, literal_bugs=True)
    labeled = attach_label_ball(
        pois.withColumn("population", population_expr(F.col("tags"))).withColumn(
            "label_src", label_name_literal_expr(F.col("tags"))
        ),
        CFG,
        name_col="label_src",
    )
    slim = labeled.select(
        "lat", "lon", "level_id", "population", "osm_id", "label", "radius",
        F.col("factor").cast("double").alias("factor"),
    )
    composed = global_rank(slim).select(*cols)
    fused = label_pipeline(spark, docs, blobs, CFG, literal_bugs=True)
    # nullability too: stage lineage rewrites a chunk whose schema differs
    assert fused.schema == composed.schema
    want = sorted(tuple(r) for r in composed.collect())
    got = sorted(tuple(r) for r in fused.collect())
    assert got == want and len(got) > 100

    # the reference's assembly bails on every relation with several outer
    # segments; the intended mode keeps some of them
    outer = F.filter("mem", lambda m: m["role"] == geoblob.ROLE_OUTER)
    multi = {
        r["rel_id"]
        for r in decode_documents(docs, blobs).rel_packed.where(F.size(outer) > 1).collect()
    }
    intended = {r["osm_id"] for r in label_pipeline(spark, docs, blobs, CFG).collect()}
    assert multi & intended
    assert not multi & {r[cols.index("osm_id")] for r in got}
