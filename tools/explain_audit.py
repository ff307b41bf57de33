"""Physical-plan audit: prints/records .explain("formatted") for the key
operator plans and greps them for the properties the engine promises:

- parquet scans show PushedFilters / pruned ReadSchema (column pruning)
- classification & tile math run inside WholeStageCodegen (no Python)
- small dims join via BroadcastHashJoin
- the label path admits nodes before the blob join and plans three Python
  operators, none of which receives the tags map
- the global rank plan contains NO single-partition Exchange over data
- the area path has exactly ONE wide exchange (the rel_id groupBy)

Writes PLANS.md at the repo root. Run: python tools/explain_audit.py
"""

from __future__ import annotations

import io
import os
import re
import sys
import tempfile
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# the JVM and its Python workers inherit this environment, so UDF workers
# can import osmgraft whatever directory the tool runs from
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
_ARROW_OP_RE = r"^[(]\d+[)] ArrowEvalPython"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(name: str, df, checks: dict[str, bool | None] = None) -> tuple[str, str]:
    p = plan_of(df)
    return name, p


def operators(plan: str) -> dict[int, str]:
    """Operator id -> its detail block in a formatted plan."""
    return {
        int(m.group(1)): m.group(0)
        for m in re.finditer(r"^\((\d+)\) .*?(?=^\(\d+\) |\Z)", plan, re.M | re.S)
    }


def subtree(plan: str, op_id: int) -> list[int]:
    """Ids of the operators below ``op_id`` in a formatted plan's tree."""
    tree = [
        (m.start(1) - m.start(0), int(m.group(2)))
        for m in re.finditer(r"^[ :+-]*(\w.*?) \((\d+)\)$", plan.split("\n\n\n")[0], re.M)
    ]
    at = next(k for k, (_, i) in enumerate(tree) if i == op_id)
    below = []
    for col, i in tree[at + 1 :]:
        if col <= tree[at][0]:
            break
        below.append(i)
    return below


def main() -> None:
    import pyspark.sql.functions as F

    from osmgraft.session import get_spark

    spark = get_spark(app_name="osmgraft-explain", cores=4, shuffle_partitions=8)
    sections: list[tuple[str, str, list[str]]] = []

    # 1. filter+projection pushdown
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q1 = li.where((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 30)).select(
        "l_orderkey", "l_quantity"
    )
    p1 = plan_of(q1)
    notes1 = [
        f"PushedFilters present: {'PushedFilters: [IsNotNull' in p1 or 'PushedFilters' in p1}",
        f"ReadSchema pruned to 3 cols: {bool(re.search(r'ReadSchema:.*l_orderkey.*l_quantity.*l_returnflag', p1)) and 'l_extendedprice' not in p1}",
        f"whole-stage codegen: {'codegen id' in p1}",
    ]
    sections.append(("filter_scan pushdown", p1, notes1))

    # 2. classification — pure codegen CASE WHEN
    from osmgraft.functions.classify import level_expr
    from osmgraft.sources.config import default_config

    cfg = default_config()
    c = spark.read.parquet(f"{SF}/customer.parquet")
    tags = F.create_map(F.lit("place"), F.lit("city"), F.lit("population"), F.col("c_name"))
    q2 = c.select(level_expr(cfg, tags).alias("level_id"))
    p2 = plan_of(q2)
    notes2 = [
        f"no Python eval operators: {'ArrowEvalPython' not in p2 and 'BatchEvalPython' not in p2}",
        f"whole-stage codegen: {'codegen id' in p2}",
        f"CASE WHEN compiled in projection: {'CASE WHEN' in p2}",
    ]
    sections.append(("classification (C1) — Catalyst only", p2, notes2))

    # 3. label rows — admission below the blob join, three Python operators
    from osmgraft.plans.pipeline import label_rows
    from osmgraft.sources.decode import decode_documents
    from osmgraft.sources.synth import SynthParams, synth_blobs, synth_documents, write_synth

    params = SynthParams(n_docs=500, seed=3)
    docs = synth_documents(spark, params, partitions=4)
    blobs = synth_blobs(spark, params, partitions=4)
    frames = decode_documents(docs, blobs)
    with tempfile.TemporaryDirectory() as tmp:
        # parquet input, as the job reads it (the in-memory synth source is
        # itself a MapInPandas and would count as a Python operator)
        write_synth(spark, tmp, params, partitions=4)
        q3 = label_rows(
            spark, spark.read.parquet(f"{tmp}/documents.parquet"),
            spark.read.parquet(f"{tmp}/blobs.parquet"), cfg,
        )
        p3 = plan_of(q3).replace(tmp, "<synth dir>")
    ops3 = operators(p3)
    kind3 = {i: re.match(r"\(\d+\) (\w+)", b).group(1) for i, b in ops3.items()}
    py3 = [i for i, k in kind3.items() if k in ("MapInPandas", "ArrowEvalPython")]
    level_joins = [i for i, b in ops3.items() if "Join" in kind3[i] and "keys [1]: [level_id#" in b]
    # the node blob join: the inner join on blob_id with no Python below it
    node_join = next(
        i for i, b in ops3.items()
        if "Join" in kind3[i] and "Left keys [1]: [blob_id#" in b and "Join type: Inner" in b
        and not set(subtree(p3, i)) & set(py3)
    )
    under = subtree(p3, node_join)
    tags_in = [i for i in py3 if re.search(r"Input \[\d+\]: \[[^]]*\b(tags|_name_lit)#", ops3[i])]
    notes3 = [
        f"levels dim joins are BroadcastHashJoin: "
        f"{len(level_joins) == 2 and all(kind3[i] == 'BroadcastHashJoin' for i in level_joins)}",
        f"admission below the node blob join (P1 tag filter and P7 level join under it): "
        f"{any(kind3[i] == 'Filter' and 'element_at(' in ops3[i] for i in under) and any(i in level_joins for i in under)}",
        f"Python operators: {len(py3)} (expect 3: point+label kernel, segment decode, area+label kernel)",
        f"no Python operator receives tags or _name_lit: {not tags_in}",
    ]
    sections.append(("label rows — admission below the blob join, three Python operators", p3, notes3))

    # 4. global rank — no single-partition exchange over data
    from osmgraft.operators.rank import importance_sort

    pois = c.select(
        F.col("c_custkey").alias("osm_id"),
        (F.col("c_nationkey") % 5).cast("long").alias("level_id"),
        F.floor(F.col("c_acctbal")).cast("long").alias("population"),
    )
    q4 = importance_sort(pois)
    p4 = plan_of(q4)
    notes4 = [
        f"rangepartitioning (parallel sort): {'rangepartitioning' in p4.lower()}",
        f"no SinglePartition exchange: {'SinglePartition' not in p4}",
    ]
    sections.append(("global sort (O1) — range partitioned", p4, notes4))

    # 5. area packed path — one wide exchange
    from osmgraft.operators.areas import packed_area_centroids

    q5 = packed_area_centroids(frames.rel_packed)
    p5 = plan_of(q5)
    n_exchanges = len(re.findall(r"hashpartitioning", p5))
    notes5 = [
        f"hash exchanges in plan (expect small, rel_id groupBy + tag join): {n_exchanges}",
        f"assembly is MapInPandas/ArrowEval (batched): {'MapInPandas' in p5 or 'ArrowEvalPython' in p5 or 'FlatMapGroupsInPandas' not in p5}",
        f"no per-group pandas operator: {'FlatMapGroupsInPandas' not in p5}",
    ]
    sections.append(("area assembly — packed single-shuffle path", p5, notes5))

    # 6. tile assignment — pure codegen
    from osmgraft.operators.tiles import assign_tiles

    pts = c.select(
        (F.col("c_acctbal") % 120 / 2).alias("lat"),
        ((F.col("c_custkey") * 37 % 360).cast("double") - 180.0).alias("lon"),
    )
    q6 = assign_tiles(pts, z=10)
    p6 = plan_of(q6)
    notes6 = [
        f"no Python operators: {'Python' not in p6}",
        f"whole-stage codegen: {'codegen id' in p6}",
    ]
    sections.append(("tile assignment — Catalyst only", p6, notes6))

    # 7. chord-grid kNN — ONE equi-join on a Catalyst cell key, no IN-literal
    from osmgraft.operators.knn import knn_candidates

    pts_id = pts.withColumn("pid", F.monotonically_increasing_id())
    q7 = knn_candidates(pts_id, pts_id.select("pid", "lat", "lon"), radius_m=2000.0)
    p7 = plan_of(q7)
    n_joins7 = len(re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p7))
    notes7 = [
        f"single equi-join (numbered operators): {n_joins7} join(s)",
        f"no cartesian/BNLJ: {'Cartesian' not in p7 and 'BroadcastNestedLoopJoin' not in p7}",
        f"haversine in codegen (ASIN/SIN in projection): {'ASIN' in p7 or 'asin' in p7.lower()}",
        f"no Python operators: {'Python' not in p7}",
    ]
    sections.append(("chord-grid kNN candidates — one equi-join on a 3-D cell key", p7, notes7))

    # 8. adaptive cell split — hot cells via broadcast join, never an IN-literal
    from osmgraft.operators.skew import adaptive_cell_split

    q8 = adaptive_cell_split(pts, base_res=0, max_rows=2, max_res=2, checkpoint=False)
    p8 = plan_of(q8)
    notes8 = [
        f"no driver IN-list literal: {' IN ' not in p8}",
        f"hot set reaches the plan as a join (AQE may pick broadcast or SMJ at runtime): "
        f"{bool(re.search(r'(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)', p8))}",
    ]
    sections.append(("adaptive cell split — broadcast hot-cell join", p8, notes8))

    # 11. L7 legacy split — whole split + radius as one narrow JVM
    # projection over a pruned scan (no Python, no shuffle)
    from osmgraft.functions.labels import legacy_ball_radius_expr, legacy_split_expr

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    lbl = F.substring(F.col("text"), 1, 40)
    sp = legacy_split_expr(lbl, " -/")
    q11 = d.select("doc_id", sp.alias("split_label"), legacy_ball_radius_expr(sp).alias("radius"))
    p11 = plan_of(q11)
    notes11 = [
        f"no Python in the plan: {'ArrowEvalPython' not in p11 and 'BatchEvalPython' not in p11}",
        f"no shuffle (single narrow projection): {'Exchange' not in p11}",
        f"scan pruned to (doc_id, text): {'struct<doc_id:bigint,text:string>' in p11}",
    ]
    sections.append(("L7 legacy split — one narrow codegen-free JVM projection", p11, notes11))

    # 13. partitioned PIP — adaptive ring covering: bounded cells/polygon,
    # one equi-join, no cartesian fallback
    from osmgraft.operators.pip import pip_join

    polys = spark.createDataFrame(
        [
            (1, [0.0, 45.0, 45.0, 0.0, 0.0], [0.0, 0.0, 45.0, 45.0, 0.0]),
            (2, [-10.0, -9.0, -9.0, -10.0, -10.0], [5.0, 5.0, 6.0, 6.0, 5.0]),
        ],
        "poly_id long, ring_lats array<double>, ring_lons array<double>",
    )
    q13 = pip_join(pts, polys, broadcast_threshold=0)
    p13 = plan_of(q13)
    n_joins13 = len(
        re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p13)
    )
    notes13 = [
        f"no cartesian/BNLJ even with a continent-size polygon: "
        f"{'Cartesian' not in p13 and 'BroadcastNestedLoopJoin' not in p13}",
        f"cell equi-join(s) in plan: {n_joins13}",
        f"covering + point cells explode (bounded per polygon by "
        f"max_cover_cells, see test_spatial): {'explode(' in p13}",
        f"even-odd kernel is Arrow-batched (no row Python): "
        f"{'BatchEvalPython' not in p13}",
    ]
    sections.append(("partitioned PIP — adaptive ring covering equi-join", p13, notes13))

    import __spark_entry__ as entry_mod

    # 26. tile pyramid — the corpus is scanned ONCE (base level cached);
    # every coarser level reads the previous level's InMemoryTableScan
    q26 = entry_mod.queries()["tile_pyramid"](spark, SF)
    p26 = plan_of(q26)
    # nested InMemoryRelation prints repeat the cached base plan's TEXT; a
    # distinct corpus scan would get its own node id, so count ids (the
    # runtime proof is test_tile_pyramid_single_scan_of_source: 500 source
    # rows evaluated once vs 4x500 with single_scan=False)
    scan_ids = set(re.findall(r"\+- Scan parquet\s*\((\d+)\)", p26))
    notes26 = [
        f"exactly one corpus scan node (the z_max base agg): {len(scan_ids) == 1}",
        f"coarser levels read cached tile tables (InMemoryTableScan): "
        f"{'InMemoryTableScan' in p26}",
        f"rollup aggs partial (map-side combine per level): "
        f"{'partial_count' in p26 or 'partial_sum' in p26}",
        f"pure Catalyst (no Python): {'Python' not in p26}",
    ]
    sections.append(
        ("tile pyramid — single corpus scan, cached per-level rollup", p26, notes26)
    )

    # 30. zonal stats — broadcast-strategy PIP join (bbox range condition
    # is non-equi, so the correct node for a TINY polygon side is a
    # nested loop whose BUILD side is the broadcast polygon table; the
    # partitioned cell-equi-join scale path is audited in §"partitioned
    # PIP") + ONE algebraic rollup with map-side partial aggregation
    q30 = entry_mod.queries()["zonal_stats_boxes"](spark, SF)
    p30 = plan_of(q30)
    notes30 = [
        f"the nested loop's build side is the broadcast polygon table: "
        f"{'BroadcastNestedLoopJoin Inner BuildRight' in p30 and 'BroadcastExchange' in p30}",
        f"no cartesian: {'Cartesian' not in p30}",
        f"rollup partially aggregated map-side: {'partial_count' in p30 or 'partial_sum' in p30}",
        f"exactly one wide exchange (the zone rollup): "
        f"{len(re.findall(r'Arguments: hashpartitioning', p30)) == 1}",
        f"exact-containment kernel is ONE Arrow pass (not per-polygon): "
        f"{len(re.findall(_ARROW_OP_RE, p30, re.M)) == 1}",
    ]
    sections.append(
        ("zonal stats — broadcast PIP join + single algebraic rollup", p30, notes30)
    )

    # 37. IDW surface — scatter formulation: the bounded neighbor explode
    # replaces any point-by-grid join; ONE exchange on the pixel key with
    # map-side partial aggregation, zero joins, pure Catalyst.
    q37 = entry_mod.queries()["idw_surface"](spark, SF)
    p37 = plan_of(q37)
    notes37 = [
        f"exactly one wide exchange (pixel-key agg): "
        f"{len(re.findall(r'Arguments: hashpartitioning', p37)) == 1}",
        f"zero join nodes (scatter explode, not a grid join): "
        f"{not re.search(r'(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|NestedLoop|Cartesian)', p37)}",
        f"weighted sums partially aggregated map-side: {'partial_sum' in p37}",
        f"pure Catalyst (no Python): {'Python' not in p37}",
    ]
    sections.append(
        ("IDW surface — one-shuffle scatter interpolation, zero joins", p37, notes37)
    )

    # 38. run-length vectorize — gaps-and-islands: the run groupBy's key
    # set is a superset of the window partition key, so Catalyst reuses
    # the window's hash partitioning (2 exchanges TOTAL incl. rasterize's
    # own pixel agg; the runs pass adds exactly one).
    q38 = entry_mod.queries()["vectorize_runs"](spark, SF)
    p38 = plan_of(q38)
    n_win38 = len(re.findall(r"[(]\d+[)] Window", p38))
    notes38 = [
        f"two exchanges total (rasterize agg + window; run groupBy reuses "
        f"the window partitioning): "
        f"{len(re.findall(r'Arguments: hashpartitioning', p38)) == 2}",
        f"one window operator: {n_win38 == 1}",
        f"pure Catalyst (no Python): {'Python' not in p38}",
    ]
    sections.append(
        ("run-length vectorize — window partitioning reused by the run fold", p38, notes38)
    )

    # 40. S2 cell compaction — per-level window folds, no joins; each
    # level's marked frame is persisted so the final Union reads the
    # cached frames instead of re-deriving the lineage once per branch.
    q40 = entry_mod.queries()["s2_compact"](spark, SF)
    p40 = plan_of(q40)
    notes40 = [
        f"zero join nodes (window completeness fold): "
        f"{not re.search(r'(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|NestedLoop|Cartesian)', p40)}",
        f"union branches read persisted level frames: "
        f"{'InMemoryTableScan' in p40 or 'TableCacheQueryStage' in p40}",
        f"single-pass Arrow encode feeds the ladder (one ArrowEvalPython): "
        f"{len(re.findall(_ARROW_OP_RE, p40, re.M)) <= 1}",
    ]
    sections.append(
        ("S2 compaction — per-level window folds over persisted frames", p40, notes40)
    )

    # 43. separable box smoothing — two 1-D scatters: 2(2r+1) rows/cell
    # instead of (2r+1)^2; each pass one exchange with map-side partials.
    q43 = entry_mod.queries()["smooth_box"](spark, SF)
    p43 = plan_of(q43)
    notes43 = [
        f"three exchanges (rasterize agg + two 1-D passes): "
        f"{len(re.findall(r'Arguments: hashpartitioning', p43)) == 3}",
        f"sums partially aggregated map-side: {'partial_sum' in p43}",
        f"zero join nodes: "
        f"{not re.search(r'(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|NestedLoop|Cartesian)', p43)}",
        f"pure Catalyst (no Python): {'Python' not in p43}",
    ]
    sections.append(
        ("separable box smoothing — 1-D scatter passes, linear fan-out", p43, notes43)
    )

    # 45. marching-squares contours — corner scatter (fan-out 4) + ONE
    # block-anchor pivot shuffle; 16-case lookup and edge interpolation
    # are branch-only codegen arithmetic.
    q45 = entry_mod.queries()["contour_segments"](spark, SF)
    p45 = plan_of(q45)
    notes45 = [
        f"two wide exchanges (rasterize agg + block pivot): "
        f"{len(re.findall(r'Arguments: hashpartitioning', p45)) == 2}",
        f"corner pivot partially aggregated map-side: {'partial_sum' in p45}",
        f"zero join nodes: "
        f"{not re.search(r'(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|NestedLoop|Cartesian)', p45)}",
        f"pure Catalyst (no Python): {'Python' not in p45}",
    ]
    sections.append(
        ("marching squares — corner scatter + one block pivot", p45, notes45)
    )

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan audit\n\n"
            "Generated by `python tools/explain_audit.py` (sf dir: "
            f"`{SF}`). Each section: the property the engine promises, the\n"
            "check result, and the `.explain(\"formatted\")` output.\n\n"
        )
        for name, plan, notes in sections:
            f.write(f"## {name}\n\n")
            for n in notes:
                f.write(f"- {n}\n")
            f.write("\n```\n")
            f.write(plan[:6000])
            f.write("\n```\n\n")
    print("wrote PLANS.md")
    for name, _, notes in sections:
        print(f"== {name}")
        for n in notes:
            print("  ", n)


if __name__ == "__main__":
    main()
