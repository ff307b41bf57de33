"""Physical-plan audit: prints/records .explain("formatted") for the key
operator plans and greps them for the properties the engine promises:

- parquet scans show PushedFilters / pruned ReadSchema (column pruning)
- classification & tile math run inside WholeStageCodegen (no Python)
- small dims join via BroadcastHashJoin
- the global rank plan contains NO single-partition Exchange over data
- the area path has exactly ONE wide exchange (the rel_id groupBy)

Writes PLANS.md at the repo root. Run: python tools/explain_audit.py
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

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

    # 3. levels dim broadcast join in the pipeline's node path
    from osmgraft.plans.pipeline import admitted_node_pois, levels_df
    from osmgraft.sources.decode import decode_documents
    from osmgraft.sources.synth import SynthParams, synth_blobs, synth_documents

    params = SynthParams(n_docs=500, seed=3)
    docs = synth_documents(spark, params, partitions=4)
    blobs = synth_blobs(spark, params, partitions=4)
    frames = decode_documents(docs, blobs)
    q3 = admitted_node_pois(frames.node_pois, cfg, levels_df(spark, cfg))
    p3 = plan_of(q3)
    notes3 = [
        f"BroadcastHashJoin for levels dim: {'BroadcastHashJoin' in p3}",
        f"blob decode is ArrowEval (vectorized): {'ArrowEvalPython' in p3 or 'MapInPandas' in p3}",
    ]
    sections.append(("node path — broadcast dim join", p3, notes3))

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
    # core shape with the skew rail off: exactly ONE equi-join
    q7 = knn_candidates(
        pts_id, pts_id.select("pid", "lat", "lon"), radius_m=2000.0, skew_max_rows=None
    )
    p7 = plan_of(q7)
    n_joins7 = len(re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p7))
    notes7 = [
        f"single equi-join (numbered operators): {n_joins7} join(s)",
        f"no cartesian/BNLJ: {'Cartesian' not in p7 and 'BroadcastNestedLoopJoin' not in p7}",
        f"haversine in codegen (ASIN/SIN in projection): {'ASIN' in p7 or 'asin' in p7.lower()}",
        f"no Python operators: {'Python' not in p7}",
    ]
    sections.append(("chord-grid kNN candidates — one equi-join on a 3-D cell key", p7, notes7))

    # default path (skew rail ON): the salted join stays an equi-join on
    # (cell, salt); the only additions are the broadcast hot-map joins
    q7b = knn_candidates(pts_id, pts_id.select("pid", "lat", "lon"), radius_m=2000.0)
    p7b = plan_of(q7b)
    notes7b = [
        f"no cartesian/BNLJ: {'Cartesian' not in p7b and 'BroadcastNestedLoopJoin' not in p7b}",
        f"hot-cell map reaches the big side as a BROADCAST join (never a shuffle "
        f"of the label side): {'BroadcastHashJoin' in p7b or 'BroadcastExchange' in p7b}",
        # at audit scale AQE may broadcast the salted side — BroadcastHashJoin
        # is still a hash equi-join, the property is "never nested-loop"
        f"salted main join still a hash equi-join (SMJ/SHJ/BHJ): "
        f"{bool(re.search(r'(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)', p7b))}",
        f"no Python operators: {'Python' not in p7b}",
    ]
    sections.append(("chord-grid kNN candidates — auto skew rail active (default)", p7b, notes7b))

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

    # 9. embedding LSH dedup — bucket exchange carries ids only, no vectors
    from osmgraft.operators.dedup import embedding_dup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    q9 = embedding_dup_pairs(emb, 0.9, dim=64)
    p9 = plan_of(q9)
    ex_lines = [l for l in p9.splitlines() if "Exchange hashpartitioning" in l]
    vec_in_exchange = False
    for line in ex_lines:
        m = re.search(r"Exchange hashpartitioning\(([^)]*)\)", line)
        if m and "embedding" in m.group(0):
            vec_in_exchange = True
    notes9 = [
        f"hash exchanges: {len(ex_lines)}",
        f"no embedding column in any exchange key: {not vec_in_exchange}",
        f"posexplode buckets present: {'posexplode' in p9}",
    ]
    sections.append(("embedding LSH dedup — vector-free bucket exchange", p9, notes9))

    # 10. default SimHash signature pass — JVM token hashing, shuffle-free,
    # one Arrow crossing carrying only the 8-byte hash arrays
    from osmgraft.operators.dedup import simhash_expr

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    q10 = d.select("doc_id", simhash_expr(F.col("text")).alias("sig"))
    p10 = plan_of(q10)
    notes10 = [
        f"token hashing in JVM (xxhash64 in plan): {'xxhash64' in p10}",
        # formatted explain names each operator twice (tree + detail block)
        "exactly one Arrow crossing (the vote kernel): "
        + str(len(re.findall(_ARROW_OP_RE, p10, re.M)) == 1),
        f"no shuffle in the signature pass: {'Exchange' not in p10}",
    ]
    sections.append(("simhash default path — JVM hash + one Arrow vote, shuffle-free", p10, notes10))

    # 11. L7 legacy split — whole split + radius as one narrow JVM
    # projection over a pruned scan (no Python, no shuffle)
    from osmgraft.functions.labels import legacy_ball_radius_expr, legacy_split_expr

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

    # 12. lang_id — one regex-split pass per row (materialized in a lower
    # projection; Catalyst does not dedupe HOF subtrees across aliases)
    from osmgraft.operators.textstats import lang_id

    q12 = lang_id(d)
    p12 = plan_of(q12)
    n_splits = len(re.findall(r"split\(trim\(lower", p12))
    notes12 = [
        f"regex split appears ONCE in the plan (shared lower projection): {n_splits == 1} ({n_splits})",
        f"no Python operators: {'Python' not in p12}",
        f"no shuffle: {'Exchange' not in p12}",
    ]
    sections.append(("lang_id — single split pass, shared across counters", p12, notes12))

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
    # core shape with the skew rail off: one cell equi-join; the default
    # rails-on plan only adds broadcast hot-map joins (see kNN section)
    q13 = pip_join(pts, polys, broadcast_threshold=0, skew_max_rows=None)
    p13 = plan_of(q13)
    n_joins13 = len(
        re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p13)
    )
    q13b = pip_join(pts, polys, broadcast_threshold=0)  # default: rail on
    p13b = plan_of(q13b)
    notes13 = [
        f"no cartesian/BNLJ even with a continent-size polygon: "
        f"{'Cartesian' not in p13 and 'BroadcastNestedLoopJoin' not in p13}",
        f"cell equi-join(s) in plan: {n_joins13}",
        f"covering + point cells explode (bounded per polygon by "
        f"max_cover_cells, see test_spatial): {'explode(' in p13}",
        f"even-odd kernel is Arrow-batched (no row Python): "
        f"{'BatchEvalPython' not in p13}",
        f"default auto skew rail adds only broadcast joins, no extra shuffle "
        f"join or cartesian: "
        f"{'Cartesian' not in p13b and 'BroadcastNestedLoopJoin' not in p13b}",
    ]
    sections.append(("partitioned PIP — adaptive ring covering equi-join", p13, notes13))

    # 14. decontamination — bench grams broadcast, corpus side narrow until
    # the per-doc count; sampling — pure narrow filter, zero exchange
    from osmgraft.operators.curation import contaminated_ids, stratified_sample

    bench_side = d.where(F.col("doc_id") % 10 == 7)
    corpus = d.where(F.col("doc_id") % 10 != 7)
    q14 = contaminated_ids(corpus, bench_side, n=3, min_shared=2)
    p14 = plan_of(q14)
    # formatted explain prints the operator line bare ("(4) Exchange") with
    # partitioning in the details block — count operator lines
    n_wide14 = len(re.findall(r"\(\d+\) Exchange\b", p14))
    notes14 = [
        f"bench gram set broadcast (no corpus-side gram shuffle): "
        f"{'BroadcastHashJoin' in p14 or 'BroadcastExchange' in p14}",
        f"no cartesian/BNLJ: {'Cartesian' not in p14 and 'BroadcastNestedLoopJoin' not in p14}",
        f"corpus-side wide exchanges (per-doc hit count + bench-gram dedup "
        f"only): {n_wide14} (<= 3)",
        f"no Python operators (grams are Catalyst zip_with): {'Python' not in p14}",
    ]
    sections.append(("decontamination — broadcast eval grams, narrow corpus scan", p14, notes14))

    d15 = d.withColumn("stratum", F.pmod(F.col("doc_id"), F.lit(3)).cast("string"))
    q15 = stratified_sample(d15, {"0": 0.5, "1": 0.25}, strata_col="stratum", id_col="doc_id")
    p15 = plan_of(q15)
    notes15 = [
        f"zero exchange (pure filter over the scan): {'Exchange' not in p15}",
        f"whole-stage codegen: {'codegen id' in p15}",
        f"no Python operators: {'Python' not in p15}",
    ]
    sections.append(("deterministic stratified sampling — narrow codegen filter", p15, notes15))

    # 16. IVF ANN — narrow assignment, nprobe-cell equi-join, no cartesian
    from osmgraft.operators.simsearch import ivf_topk

    emb16 = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs16 = emb16.where(F.col("vec_id") < 8).select(F.col("vec_id").alias("q_id"), "embedding")
    q16 = ivf_topk(emb16, qs16, k=5, n_cells=8, nprobe=3, seed=3, iters=2)
    p16 = plan_of(q16)
    n_arrow16 = len(re.findall(_ARROW_OP_RE, p16, re.M))
    notes16 = [
        f"no cartesian/BNLJ (candidates via _cell equi-join): "
        f"{'Cartesian' not in p16 and 'BroadcastNestedLoopJoin' not in p16}",
        f"assignment is Arrow-batched matmul, not row Python: "
        f"{'BatchEvalPython' not in p16} ({n_arrow16} Arrow ops)",
        f"exact re-rank windows on q_id (bounded partitions), no global "
        f"single-partition sort: {'SinglePartition' not in p16}",
    ]
    sections.append(("IVF ANN — broadcast centroids, nprobe-cell equi-join", p16, notes16))

    # 17. connected components — one alternating-star round (the loop body;
    # the full operator repeats this plan O(log n) times over a
    # localCheckpoint-ed frame, so the per-round plan IS the scale story)
    from osmgraft.operators.dedup import _large_star, _small_star

    e17 = (
        d.where(F.col("doc_id") < 400)
        .select(F.col("doc_id").alias("u"), (F.col("doc_id") + 1).alias("v"))
    )
    q17 = _small_star(_large_star(e17))
    p17 = plan_of(q17)
    n_hash_u = len(re.findall(r"hashpartitioning\(u#", p17))
    notes17 = [
        f"no cartesian/BNLJ: {'Cartesian' not in p17 and 'BroadcastNestedLoopJoin' not in p17}",
        f"every exchange keys on the node id u (co-partitioned min-agg + "
        f"join): {n_hash_u >= 2} ({n_hash_u} hashpartitioning(u) exchanges)",
        f"no single-partition stage: {'SinglePartition' not in p17}",
        f"no Python operators (pure Catalyst round): {'Python' not in p17}",
        f"map-side partial min before each exchange: {'partial_min' in p17 or p17.count('min(v') >= 2}",
    ]
    sections.append(
        ("connected components — one large-star/small-star round", p17, notes17)
    )

    # 18. BM25 — posting filter BEFORE any exchange, idf/stats broadcast
    from osmgraft.operators.retrieval import bm25_topk

    # materialize_postings=False exposes the full lineage: the default
    # lazily checkpoints the aggregated tf frame (the plan then shows a
    # Scan ExistingRDD), which is what caps corpus scans at two
    q18 = bm25_topk(
        d.select("doc_id", "text"),
        ["spark", "join", "window"],
        k=100,
        materialize_postings=False,
    )
    p18 = plan_of(q18)
    n_bcast18 = p18.count("BroadcastExchange")
    # the query-term IN filter must sit in the scan stage, i.e. its detail
    # node precedes the first shuffle's hashpartitioning detail (node
    # numbering follows the plan tree bottom-up)
    first_ex = p18.find("Arguments: hashpartitioning")
    filt_pos = p18.find("IN (spark,join,window)")
    notes18 = [
        f"df + corpus-stats sides broadcast: {n_bcast18 >= 2} ({n_bcast18} BroadcastExchange)",
        f"query-term posting filter precedes the first shuffle: "
        f"{0 <= filt_pos < first_ex if first_ex != -1 else False}",
        f"top-k is TakeOrdered, not a global sort: {'TakeOrderedAndProject' in p18}",
        f"no Python operators: {'Python' not in p18}",
        f"map-side partial tf aggregation: {'partial_count' in p18 or 'partial' in p18}",
    ]
    sections.append(("BM25 top-k — filtered postings, broadcast idf", p18, notes18))

    # 19. duplicated-substring spans — one gram-hash shuffle, per-doc window
    from osmgraft.operators.dedup import dup_spans

    q19 = dup_spans(d.select("doc_id", "text"), n=5)
    p19 = plan_of(q19)
    n_gh = len(re.findall(r"hashpartitioning\(gh#", p19))
    bcast_semi = bool(re.search(r"BroadcastHashJoin LeftSemi", p19))
    # Two valid shapes: (a) >=2 gh exchanges = shuffle semi-join co-partitioned
    # with the gram agg (the 100-TB shape); (b) 1 gh exchange + a broadcast
    # LeftSemi = AQE found the dup-gram list small enough to broadcast —
    # strictly fewer shuffles, the better plan when it fits.
    notes19 = [
        f"dup-gram semi-join co-partitioned OR broadcast (no extra shuffle): "
        f"{n_gh >= 2 or (n_gh == 1 and bcast_semi)} "
        f"({n_gh} hashpartitioning(gh) exchanges, broadcast semi: {bcast_semi})",
        f"island window partitioned by doc (never one task): "
        f"{'SinglePartition' not in p19}",
        f"no cartesian/BNLJ: {'Cartesian' not in p19 and 'BroadcastNestedLoopJoin' not in p19}",
        f"no Python operators (pure Catalyst): {'Python' not in p19}",
    ]
    sections.append(
        ("dup_spans — gram-hash shuffle + per-doc island window", p19, notes19)
    )

    # 20. HyperLogLog — one bucket-keyed exchange, pure codegen hash
    from osmgraft.operators.sketch import hll_registers

    v20 = d.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"))
    q20 = hll_registers(v20, "w", p=12)
    p20 = plan_of(q20)
    notes20 = [
        f"exactly one exchange, keyed on the sketch bucket: "
        f"{len(re.findall(r'Arguments: hashpartitioning', p20)) == 1 and 'hashpartitioning(bucket#' in p20}",
        f"map-side partial max before the exchange: {'partial_max' in p20}",
        f"hash/bucket/rho pure Catalyst (no Python): {'Python' not in p20}",
        f"scan pruned to the one input column: "
        f"{'ReadSchema: struct<text:string>' in p20}",
    ]
    sections.append(("HyperLogLog registers — one 2^p-row exchange", p20, notes20))

    # 21. composed curation pipeline — narrow stages fused around the
    # dedup/decontam shuffles, bench grams broadcast
    from osmgraft.operators.curation import curation_pipeline

    corpus21 = d.select("doc_id", "text").where(F.col("doc_id") % 10 != 7)
    bench21 = d.select("doc_id", "text").where(F.col("doc_id") % 10 == 7)
    q21 = curation_pipeline(corpus21, bench21, decontam_min_shared=10, sql_exact=True)
    p21 = plan_of(q21)
    notes21 = [
        f"benchmark gram set broadcast (no corpus-side gram shuffle): "
        f"{'BroadcastExchange' in p21}",
        f"no cartesian/BNLJ: {'Cartesian' not in p21 and 'BroadcastNestedLoopJoin' not in p21}",
        f"sample + quality predicates and chunking stay narrow (no Python): "
        f"{'Python' not in p21}",
        f"no single-partition stage: {'SinglePartition' not in p21}",
    ]
    sections.append(
        ("curation pipeline — five stages, two real shuffles", p21, notes21)
    )

    # 22. domain caps — URL canonicalize/domain ride the scan; the only
    # exchange is the per-domain rank window
    import __spark_entry__ as entry_mod

    q22 = entry_mod.queries()["domain_caps"](spark, SF)
    p22 = plan_of(q22)
    notes22 = [
        f"canonicalize + domain are pure Catalyst (no Python): {'Python' not in p22}",
        f"exactly one exchange (the domain window): "
        f"{len(re.findall(r'Arguments: hashpartitioning', p22)) == 1 and 'hashpartitioning(domain#' in p22}",
        f"scan pruned to (doc_id, source, n_chars) — text never read: "
        f"{'text:string' not in p22}",
        f"no cartesian/BNLJ: {'Cartesian' not in p22 and 'BroadcastNestedLoopJoin' not in p22}",
    ]
    sections.append(
        ("domain caps — URL curation rail, one window exchange", p22, notes22)
    )

    # 23. sessionization — the window and the refined-key session rollup
    # share ONE exchange (hashpartitioning on user_id); no Python eval
    q23 = entry_mod.queries()["sessionize_events"](spark, SF)
    p23 = plan_of(q23)
    notes23 = [
        f"exactly one exchange (user_id hash): "
        f"{len(re.findall(r'Arguments: hashpartitioning', p23)) == 1 and 'hashpartitioning(user_id#' in p23}",
        f"session rollup reuses the window partitioning (no second shuffle): "
        f"{'HashAggregate' in p23}",
        f"pure Catalyst (no Python): {'Python' not in p23}",
        f"scan pruned — event_type/props never read: "
        f"{'event_type' not in p23 and 'props' not in p23}",
    ]
    sections.append(
        ("sessionization — one shuffle, window + in-partition rollup", p23, notes23)
    )

    # 24. Count-Min table — one exchange whose input is bounded at d*w
    # rows per map partition (partial_sum combine), pure Catalyst hashing
    q24 = entry_mod.queries()["cms_heavy_hitters"](spark, SF)
    p24 = plan_of(q24)
    notes24 = [
        f"pure Catalyst (no Python): {'Python' not in p24}",
        f"map-side combine before the cell exchange (partial_sum): "
        f"{'partial_sum' in p24}",
        f"probe join broadcast (table <= d*w rows): {'BroadcastHashJoin' in p24}",
        f"scan pruned to (doc_id, n_chars) — text never read: "
        f"{'text' not in p24}",
    ]
    sections.append(
        ("Count-Min sketch — bounded cell exchange, broadcast probe", p24, notes24)
    )

    # 25. Z-order key — a narrow pure-codegen projection: NO exchange, no
    # Python, scan pruned to the three source columns
    q25 = entry_mod.queries()["zorder_keys"](spark, SF)
    p25 = plan_of(q25)
    notes25 = [
        f"no exchange (narrow projection): {'Exchange' not in p25}",
        f"whole-stage codegen: {'codegen id' in p25}",
        f"pure Catalyst (no Python): {'Python' not in p25}",
        f"scan pruned — c_name/c_address never read: "
        f"{'c_name' not in p25 and 'c_address' not in p25}",
    ]
    sections.append(
        ("Z-order key — pure codegen bit interleave, zero shuffle", p25, notes25)
    )

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

    # 27. as-of join — union-tag carry-forward: ONE shuffle of |L|+|R|,
    # NO join node (the naive inequality join would be a per-key BNLJ)
    q27 = entry_mod.queries()["asof_join_events"](spark, SF)
    p27 = plan_of(q27)
    notes27 = [
        f"no join node of any kind: "
        f"{all(j not in p27 for j in ('SortMergeJoin', 'BroadcastHashJoin', 'BroadcastNestedLoopJoin', 'Cartesian', 'ShuffledHashJoin'))}",
        f"exactly one data exchange on the key (the window): "
        f"{len(re.findall(r'Arguments: hashpartitioning[(]_k', p27)) == 1}",
        f"pure Catalyst (no Python): {'Python' not in p27}",
        f"scan pruned — event_type/props never read: "
        f"{'event_type' not in p27 and 'props' not in p27}",
    ]
    sections.append(
        ("as-of join — one union-tag shuffle, zero join nodes", p27, notes27)
    )

    # 28. Morton box query — the exact box predicates reach the parquet
    # scan as PushedFilters; no shuffle, no Python
    q28 = entry_mod.queries()["zorder_box_query"](spark, SF)
    p28 = plan_of(q28)
    notes28 = [
        f"box predicates pushed to the scan: {'PushedFilters: [IsNotNull' in p28}",
        f"no exchange (narrow filter): {'Exchange' not in p28}",
        f"pure Catalyst (no Python): {'Python' not in p28}",
        f"whole-stage codegen: {'codegen id' in p28}",
    ]
    sections.append(
        ("Morton box query — pushed filters, zero shuffle", p28, notes28)
    )

    # 29. interval join — short intervals bucket-explode into an equi-join;
    # the ONLY nested loop is the broadcast long-interval rail
    q29 = entry_mod.queries()["interval_join_events"](spark, SF)
    p29 = plan_of(q29)
    notes29 = [
        f"short rail is an equi-join: "
        f"{bool(re.search(r'(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)', p29))}",
        f"at most one BNLJ, and it is the broadcast long rail: "
        f"{len(re.findall(r'BroadcastNestedLoopJoin', p29)) <= 1}",
        f"no cartesian: {'CartesianProduct' not in p29}",
        f"pure Catalyst (no Python): {'Python' not in p29}",
    ]
    sections.append(
        ("interval join — bucketized equi-join + broadcast long rail", p29, notes29)
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

    # 31. weighted sampling — the ES key is a narrow codegen expression;
    # selection is ONE per-stratum window exchange, no Python
    q31 = entry_mod.queries()["weighted_sample_docs"](spark, SF)
    p31 = plan_of(q31)
    notes31 = [
        f"exactly one exchange (the stratum window): "
        f"{len(re.findall(r'Arguments: hashpartitioning', p31)) == 1}",
        f"pure Catalyst (no Python): {'Python' not in p31}",
        f"scan pruned — text never read: {'text' not in p31}",
        f"no cartesian/BNLJ: {'Cartesian' not in p31 and 'BroadcastNestedLoopJoin' not in p31}",
    ]
    sections.append(
        ("weighted sampling — codegen ES key, one stratum window", p31, notes31)
    )

    # 32. grouped histogram quantiles — both windows and the rank groupBy
    # share the per-group partitioning; no single-task stage
    q32 = entry_mod.queries()["hist_quantiles_by_lang"](spark, SF)
    p32 = plan_of(q32)
    notes32 = [
        f"no single-partition exchange over data: "
        f"{'SinglePartition' not in p32.replace('Exchange SinglePartition, ENSURE_REQUIREMENTS', '') or p32.count('SinglePartition') == 0}",
        f"windows partitioned by the group key: {'hashpartitioning(lang' in p32}",
        # the q-list literal is a driver-local PythonRDD CONSTANT (3 rows);
        # the check targets actual Python EVAL operators in the data path
        f"no Python eval in the data path: "
        f"{not re.search(r'(ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas)', p32)}",
        f"broadcast q-list join: {'BroadcastNestedLoopJoin' in p32 or 'BroadcastHashJoin' in p32}",
    ]
    sections.append(
        ("grouped histogram quantiles — per-group windows, no one-task stage", p32, notes32)
    )

    # 33. polygon-polygon intersects join — path A is ONE cell equi-join
    # with the bbox prefilter codegen-side before the pair-dedup shuffle;
    # the only nested loops are the two broadcast big-polygon rails.
    q33 = entry_mod.queries()["poly_overlap_rects"](spark, SF)
    p33 = plan_of(q33)
    _bnlj_ok = (
        len(re.findall(r"[(]\d+[)] BroadcastNestedLoopJoin", p33)) == 2
        and len(re.findall(r"BroadcastNestedLoopJoin Inner Build(?:Left|Right)", p33)) == 2
    )
    notes33 = [
        f"cell candidates via an equi-join node (hash family; broadcast at "
        f"this SF by AQE, shuffle equi-join at scale): "
        f"{bool(re.search(r'(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)', p33))}",
        f"pair-dedup shuffle keyed on the pair: "
        f"{'hashpartitioning(_lid' in p33}",
        f"exactly two BNLJ nodes, both broadcast big-polygon rails: {_bnlj_ok}",
        f"no cartesian: {'CartesianProduct' not in p33}",
        f"Python confined to covering + exact kernel (Arrow passes only): "
        f"{'BatchEvalPython' not in p33 and len(re.findall(_ARROW_OP_RE, p33, re.M)) >= 1}",
    ]
    sections.append(
        ("polygon-polygon intersects — cell equi-join + broadcast big rails", p33, notes33)
    )

    # 34. snap join — segments covered once (one Arrow pass), points probe
    # disk(k) in pure Catalyst, ONE cell equi-join, and the nearest pick is
    # an algebraic min(struct) with map-side partial aggregation — no
    # pair-dedup exchange anywhere.
    q34 = entry_mod.queries()["snap_points_ways"](spark, SF)
    p34 = plan_of(q34)
    _snap_join_ok = (
        len(re.findall(r"[(]\d+[)] (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p34))
        == 1
    )
    notes34 = [
        f"one cell equi-join node: {_snap_join_ok}",
        f"nearest pick partially aggregated map-side: {'partial_min' in p34}",
        f"exact distance + disk probe pure Catalyst — Python is exactly two "
        f"narrow Arrow passes (segment covering, point cell-encode): "
        f"{len(re.findall(_ARROW_OP_RE, p34, re.M)) == 2 and 'BatchEvalPython' not in p34}",
        f"no pair-dedup exchange (min absorbs duplicate candidates): "
        f"{'hashpartitioning(pid, sid' not in p34}",
        f"no cartesian/BNLJ: {'Cartesian' not in p34 and 'BroadcastNestedLoopJoin' not in p34}",
    ]
    sections.append(
        ("snap join — one cell equi-join, min(struct) nearest, no pair dedup", p34, notes34)
    )

    # 35. CDC changelog apply — union-tag fold: ONE hash exchange total,
    # zero join nodes, algebraic max(struct) with map-side partials.
    q35 = entry_mod.queries()["cdc_upsert"](spark, SF)
    p35 = plan_of(q35)
    notes35 = [
        f"exactly one wide exchange (the key fold): "
        f"{len(re.findall(r'Arguments: hashpartitioning', p35)) == 1}",
        f"zero join nodes (union-tag, not join): "
        f"{not re.search(r'(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|NestedLoop|Cartesian)', p35)}",
        f"fold partially aggregated map-side: {'partial_max' in p35}",
        f"pure Catalyst (no Python): {'Python' not in p35}",
    ]
    sections.append(
        ("CDC changelog apply — one-shuffle union-tag fold, zero joins", p35, notes35)
    )

    # 36. geohash key — pure codegen bit interleave + base-32 substring
    # chain: zero exchange, zero Python, one narrow projection.
    q36 = entry_mod.queries()["geohash_cells"](spark, SF)
    p36 = plan_of(q36)
    notes36 = [
        f"zero exchanges: {'Exchange' not in p36}",
        f"pure Catalyst (no Python): {'Python' not in p36}",
        f"whole-stage codegen: {'codegen id' in p36}",
    ]
    sections.append(("geohash key — pure codegen, zero shuffle", p36, notes36))

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

    # 39. SCD2 intervals — ONE exchange; change-mark lag and interval
    # lead are back-to-back windows over the same sort, zero joins.
    q39 = entry_mod.queries()["scd2_intervals"](spark, SF)
    p39 = plan_of(q39)
    n_win39 = len(re.findall(r"[(]\d+[)] Window", p39))
    n_sort39 = len(re.findall(r"[(]\d+[)] Sort", p39))
    notes39 = [
        f"exactly one wide exchange (the key history sort): "
        f"{len(re.findall(r'Arguments: hashpartitioning', p39)) == 1}",
        f"both windows share one sort: {n_win39 == 2 and n_sort39 == 1}",
        f"zero join nodes: "
        f"{not re.search(r'(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|NestedLoop|Cartesian)', p39)}",
        f"pure Catalyst (no Python): {'Python' not in p39}",
    ]
    sections.append(
        ("SCD2 intervals — one shuffle, two windows on one sort", p39, notes39)
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

    # 41. stay points — spatial sessionization: lag haversine break,
    # running-sum numbering and the refined-key rollup share ONE hash
    # exchange; pure Catalyst.
    q41 = entry_mod.queries()["stay_points"](spark, SF)
    p41 = plan_of(q41)
    notes41 = [
        f"exactly one wide exchange (mover key): "
        f"{len(re.findall(r'Arguments: hashpartitioning', p41)) == 1}",
        f"zero join nodes: "
        f"{not re.search(r'(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|NestedLoop|Cartesian)', p41)}",
        f"pure Catalyst (no Python): {'Python' not in p41}",
    ]
    sections.append(
        ("stay points — one-shuffle spatial sessionization", p41, notes41)
    )

    # 42. OD flows — the leg lead rides the stay partitioning (window
    # adds no exchange over the stay fold's); one more shuffle on the
    # (from, to) cell pair with map-side partial counts.
    q42 = entry_mod.queries()["od_flows"](spark, SF)
    p42 = plan_of(q42)
    notes42 = [
        f"two wide exchanges total (mover fold + cell-pair agg): "
        f"{len(re.findall(r'Arguments: hashpartitioning', p42)) == 2}",
        f"cell-pair counts partially aggregated map-side: {'partial_count' in p42 or 'partial' in p42}",
        f"zero join nodes: "
        f"{not re.search(r'(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|NestedLoop|Cartesian)', p42)}",
        f"pure Catalyst (no Python): {'Python' not in p42}",
    ]
    sections.append(("OD flows — lead rides the stay partitioning", p42, notes42))

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

    # 44. radius of gyration — unordered analytic centroid + same-key
    # rollup: ONE exchange, no sort needed for the frameless window.
    q44 = entry_mod.queries()["radius_of_gyration"](spark, SF)
    p44 = plan_of(q44)
    notes44 = [
        f"exactly one wide exchange (mover key): "
        f"{len(re.findall(r'Arguments: hashpartitioning', p44)) == 1}",
        f"zero join nodes: "
        f"{not re.search(r'(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|NestedLoop|Cartesian)', p44)}",
        f"pure Catalyst (no Python): {'Python' not in p44}",
    ]
    sections.append(
        ("radius of gyration — one-shuffle analytic centroid fold", p44, notes44)
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

    # 46. Viterbi map matching — candidate stage is ONE cell equi-join
    # (segment covering explode x fix disk probe), emission/snap math in
    # Catalyst; the decode is a single mapInPandas over mover-sorted
    # partitions (no per-group Arrow roundtrips, no join after the
    # candidates).
    q46 = entry_mod.queries()["viterbi_match"](spark, SF)
    p46 = plan_of(q46)
    n_joins46 = len(
        re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p46)
    )
    notes46 = [
        f"no cartesian/BNLJ anywhere: "
        f"{'Cartesian' not in p46 and 'BroadcastNestedLoopJoin' not in p46}",
        # joins: 2 input-derivation joins (fixture) + 1 candidate cell join
        f"equi-joins only, count {n_joins46} (<= 3)",
        f"decode is mapInPandas (one python stage, no per-group FlatMapGroups): "
        f"{'MapInPandas' in p46 and 'FlatMapGroupsInPandas' not in p46}",
        f"no row-at-a-time Python (BatchEvalPython absent): "
        f"{'BatchEvalPython' not in p46}",
    ]
    sections.append(
        ("Viterbi map matching — one candidate equi-join + mover-batched decode", p46, notes46)
    )

    # 47. DBSCAN — radius pairs via the chord-grid kNN equi-join (checkpointed
    # once for its three consumers), degree/border as same-key aggregates,
    # clusters via the log-round alternating-star CC. No cartesian, no
    # Python anywhere (pair kernel is Catalyst haversine).
    q47 = entry_mod.queries()["dbscan_clusters"](spark, SF)
    p47 = plan_of(q47)
    notes47 = [
        f"no cartesian/BNLJ: "
        f"{'Cartesian' not in p47 and 'BroadcastNestedLoopJoin' not in p47}",
        f"pair set enters as a checkpointed scan (computed once): "
        f"{'Scan ExistingRDD' in p47}",
        f"no Python operators in the label plan: {'Python' not in p47}",
    ]
    sections.append(
        ("DBSCAN — checkpointed radius pairs + star-contracted components", p47, notes47)
    )

    # 48. resample — ONE mover window exchange; the grid explode and the
    # interpolation are map-side Catalyst (no joins, no Python).
    q48 = entry_mod.queries()["resample_track"](spark, SF)
    p48 = plan_of(q48)
    notes48 = [
        f"one wide exchange (the mover window): "
        f"{len(re.findall(r'Arguments: hashpartitioning', p48)) == 1}",
        f"zero join nodes: "
        f"{not re.search(r'(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|NestedLoop|Cartesian)', p48)}",
        f"grid explode map-side (Generate after the window, before any agg): "
        f"{'Generate' in p48}",
        f"pure Catalyst (no Python): {'Python' not in p48}",
    ]
    sections.append(("trajectory resampling — one window + map-side grid explode", p48, notes48))

    # 49. spike filter — lag+lead legs share one mover sort; pure filter.
    q49 = entry_mod.queries()["spike_filter"](spark, SF)
    p49 = plan_of(q49)
    notes49 = [
        f"one wide exchange: {len(re.findall(r'Arguments: hashpartitioning', p49)) == 1}",
        f"zero joins: "
        f"{not re.search(r'(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|NestedLoop|Cartesian)', p49)}",
        f"haversine legs in codegen (no Python): {'Python' not in p49}",
    ]
    sections.append(("GPS spike filter — one window, codegen haversine legs", p49, notes49))

    # 50. geofence — broadcast PIP + set groupBy + mover window; enters and
    # exits explode map-side from the set difference.
    q50 = entry_mod.queries()["geofence_events"](spark, SF)
    p50 = plan_of(q50)
    # the broadcast PIP strategy IS a nested-loop against the tiny
    # broadcast polygon side (25 rects) — bounded by the dim, by design;
    # what must NOT appear is a second copy of the PIP+window subtree
    # (one explode serves both event kinds)
    n_bnlj50 = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p50))
    n_win50 = len(re.findall(r"\(\d+\) Window", p50))
    notes50 = [
        f"exactly one nested-loop, against the broadcast fence dim: {n_bnlj50 == 1}",
        f"no cartesian: {'Cartesian' not in p50}",
        f"single PIP+window subtree (1 Window op, not 2): {n_win50 == 1}",
        f"set-difference explode present: {'Generate' in p50}",
    ]
    sections.append(("geofence events — broadcast PIP + lagged set difference", p50, notes50))

    # 51. SSSP round plan — the operator checkpoints each round, so the
    # final frame's plan is just the checkpoint scan (lineage one round
    # deep — itself the property). Audit ONE round's shape inline: relax
    # join + min agg, both keyed on the node id.
    e51 = spark.createDataFrame(
        [(i, (i * 7 + 1) % 40, (i % 9) + 1) for i in range(40)], "src long, dst long, w long"
    )
    d51 = spark.createDataFrame([(0,), (1,)], "id long").withColumn(
        "dist", F.lit(0).cast("long")
    )
    relax51 = d51.join(e51, d51["id"] == e51["src"]).select(
        F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist")
    )
    q51 = d51.unionByName(relax51).groupBy("id").agg(F.min("dist").alias("dist"))
    p51 = plan_of(q51)
    notes51 = [
        f"no cartesian/BNLJ in the round: "
        f"{'Cartesian' not in p51 and 'BroadcastNestedLoopJoin' not in p51}",
        f"min agg partially aggregated map-side: {'partial_min' in p51}",
        # 'Python' appears in the local-data scan's RDD name
        # (applySchemaToPythonRDD) — check for Python EVAL operators only
        f"pure Catalyst (no Python eval operators): "
        f"{not re.search(r'(BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas)', p51)}",
        "final sssp() frame plans as a single checkpoint scan per round "
        "(lineage stays O(1) deep across n_rounds — verified by the "
        "operator's localCheckpoint call sites, graph.py)",
    ]
    sections.append(("SSSP round — co-partitioned relax join + map-side min", p51, notes51))

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
