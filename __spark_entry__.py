"""Driver contract for the osmgraft PySpark engine.

``entry`` runs the flagship OSM label pipeline (the reference's ``main``)
on the engine's native interleaved-span documents, synthesized
deterministically at sf0.001-ish scale (the driver's testdata has no span
table; the generator is seed-fixed, SURVEY.md §7.1).

``queries``/``oracle_sql`` cover every operator class from SURVEY.md §2:
SQL-expressible operators run over the driver's sf tables and are
value-checked against DuckDB; engine-native operators (span decode,
polygon assembly, label kernel, cell encode) are included as rows-only
checks (documented — no ANSI-SQL equivalent exists for them).

Float-producing oracled queries round to >=4 decimals on BOTH sides so
JVM-vs-DuckDB last-bit arithmetic differences cannot flip the value hash.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

SEED = 42

# level ids for the default config (pinned by tests/test_classify.py):
# MEGA_CITY=16 LARGE_CITY=15 CITY=14 SMALL_CITY=13 LARGE_TOWN=12 TOWN=11
# SMALL_TOWN=10 VILLAGE=9 SUBURB=8 HAMLET=7 SCHOOL=6 UNIVERSITY=5
# LIBRARY=4 HOSPITAL=3 CAFE=2 SMALL_VENUE=1


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _synth_docs(spark: SparkSession, n_docs: int = 1200):
    from osmgraft.sources.synth import SynthParams, synth_blobs, synth_documents

    p = SynthParams(n_docs=n_docs, seed=SEED)
    return synth_documents(spark, p, partitions=8), synth_blobs(spark, p, partitions=8)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: interleaved docs -> decode -> classify -> areas -> rank ->
    label balls -> slippy tiles. Returns the labeled, tiled frame."""
    from osmgraft.operators.tiles import assign_tiles
    from osmgraft.plans.pipeline import label_pipeline

    docs, blobs = _synth_docs(spark)
    labels = label_pipeline(spark, docs, blobs)
    return assign_tiles(labels, z=10)


# ---------------------------------------------------------------------------
# shared synthetic-point derivation (identical formula in Spark + SQL)
# ---------------------------------------------------------------------------

_PTS_SQL = (
    "select c_custkey as pid, (c_acctbal % 120.0)/2.0 as lat, "
    "(cast(c_custkey * 37 % 360 as double)) - 180.0 as lon, "
    "c_nationkey as grp from customer"
)


def _s2_compact_oracle_sql(level_from: int = 13, level_to: int = 10) -> str:
    """DuckDB replica of functions.cells.compact_cells over the 4-children
    expansion of the distinct level-12 cells (see q_s2_compact): per level
    a window count/min over the parent key keeps incomplete siblings and
    promotes one representative of each complete group."""
    base = _s2_oracle_sql(level=12)
    k = 1 << (2 * (30 - level_from))
    parts = [
        f"with c{level_from} as (select cell + d*{k} as cell from "
        f"(select distinct s2_cell as cell from ({base}) b) s "
        "cross join (select unnest([-3,-1,1,3]) as d) ks)"
    ]
    for lvl in range(level_from, level_to, -1):
        plsb = 1 << (2 * (30 - (lvl - 1)))
        parts.append(
            f"p{lvl} as (select cell, ((cell & ~({plsb}-1)) | {plsb}) as par from c{lvl})"
        )
        parts.append(
            f"w{lvl} as (select cell, par, count(*) over (partition by par) as n, "
            f"min(cell) over (partition by par) as mn from p{lvl})"
        )
        parts.append(f"k{lvl} as (select cell, {lvl} as level from w{lvl} where n < 4)")
        parts.append(
            f"c{lvl - 1} as (select par as cell from w{lvl} where n = 4 and cell = mn)"
        )
    sel = " union all ".join(
        [f"select cell, level from k{lvl}" for lvl in range(level_from, level_to, -1)]
        + [f"select cell, {level_to} as level from c{level_to}"]
    )
    return ", ".join(parts) + " " + sel


def _s2_oracle_sql(level: int = 12) -> str:
    """Bit-exact DuckDB replica of osmgraft.functions.cells.s2_cell_id over
    the shared pts derivation: face selection + quadratic (u,v)->(s,t) +
    the 4-bit Hilbert lookup walk, with the lookup table embedded as a
    4096-element literal list. IEEE float ops (cos/sin/div/sqrt) reproduce
    numpy's bit-for-bit on this platform (verified over all sf rows)."""
    from osmgraft.functions.cells import _LOOKUP_POS

    lut = "[" + ",".join(str(int(v)) for v in _LOOKUP_POS) + "]"
    fc = (
        "case face when 0 then 0 when 1 then 2305843009213693952 "
        "when 2 then 4611686018427387904 when 3 then 6917529027641081856 "
        "when 4 then -9223372036854775808 else -6917529027641081856 end"
    )
    lsb = 1 << (2 * (30 - level))
    rounds = "".join(
        f"h{8 - k} as (select pid, face, i, j, n | ((b::bigint >> 2) << {8 * k}) as n, "
        f"(b & 3)::bigint as o from (select *, {lut}"
        f"[(((i >> {4 * k}) & 15) << 6) + (((j >> {4 * k}) & 15) << 2) + o + 1] as b "
        f"from h{7 - k}) t), "
        for k in range(7, -1, -1)
    )
    return (
        f"with pts as ({_PTS_SQL}), "
        "xyz as (select pid, cos(radians(lat))*cos(radians(lon)) as x, "
        "cos(radians(lat))*sin(radians(lon)) as y, sin(radians(lat)) as z from pts), "
        "fuv as (select pid, face, "
        "case face when 0 then y/x when 1 then -x/y when 2 then -x/z when 3 then z/x "
        "when 4 then z/y else -y/z end as u, "
        "case face when 0 then z/x when 1 then z/y when 2 then -y/z when 3 then y/x "
        "when 4 then -x/y else -x/z end as v "
        "from (select pid, x, y, z, "
        "(case when abs(x) >= abs(y) and abs(x) >= abs(z) then (case when x < 0 then 3 else 0 end) "
        "when abs(x) < abs(y) and abs(y) >= abs(z) then (case when y < 0 then 4 else 1 end) "
        "else (case when z < 0 then 5 else 2 end) end) as face from xyz) t), "
        "ij as (select pid, face, "
        "least(greatest(cast(trunc((case when u >= 0 then 0.5*sqrt(1+3*u) "
        "else 1-0.5*sqrt(1-3*u) end)*1073741824.0) as bigint), 0), 1073741823) as i, "
        "least(greatest(cast(trunc((case when v >= 0 then 0.5*sqrt(1+3*v) "
        "else 1-0.5*sqrt(1-3*v) end)*1073741824.0) as bigint), 0), 1073741823) as j "
        "from fuv), "
        "h0 as (select pid, face, i, j, 0::bigint as n, (face & 1)::bigint as o from ij), "
        f"{rounds}"
        f"leaf as (select pid, ({fc}) + n*2 + 1 as id from h8) "
        f"select pid, ((id & ~({lsb} - 1)) | {lsb}) as s2_cell from leaf"
    )


def _hex_cell_sql_expr(lat: str, lon: str, res: int) -> str:
    """Bit-exact hex-cell replica — lives in osmgraft/plans/sql_oracle.py
    (shared with the staged-corpus oracles)."""
    from osmgraft.plans.sql_oracle import hex_cell_sql_expr

    return hex_cell_sql_expr(lat, lon, res)


def _adaptive_cells_sql(base_res: int, max_rows: int, max_res: int) -> str:
    """SQL replica of skew.adaptive_cell_split over the pts derivation
    (generalized generator in osmgraft/plans/sql_oracle.py)."""
    from osmgraft.plans.sql_oracle import adaptive_cells_sql

    return adaptive_cells_sql(_PTS_SQL, base_res, max_rows, max_res)


# triangle vertex offsets (degrees) for the pip_triangles oracle — literal
# constants shared by the Spark query and the SQL replica
_TRI_DY = [7.123, -3.891, -4.207, 6.551, 0.913, -7.441]
_TRI_DX = [0.317, 8.659, -9.113, -5.227, 9.884, 2.031]


def _pip_triangles_sql() -> str:
    """SQL replica of the even-odd kernel over the same triangles: for each
    of the 3 edges (v1->v2, v2->v3, v3->v1), the kernel's exact test
    ``(y1>y) != (y2>y) and x < x1 + (y-y1)/(y2-y1)*(x2-x1)``; inside =
    odd crossing count."""
    dy = "[" + ",".join(repr(v) for v in _TRI_DY) + "]"
    dx = "[" + ",".join(repr(v) for v in _TRI_DX) + "]"
    verts = ", ".join(
        f"la + {dy}[cast((poly_id + {i}) % 6 as int) + 1] as y{i + 1}, "
        f"lo + {dx}[cast((poly_id + {i}) % 6 as int) + 1] as x{i + 1}"
        for i in range(3)
    )
    def edge(a, b):
        return (
            f"(case when ((y{a} > lat) != (y{b} > lat)) "
            f"and lat is not null "
            f"and lon < x{a} + (lat - y{a})/(y{b} - y{a})*(x{b} - x{a}) then 1 else 0 end)"
        )
    crossings = " + ".join([edge(1, 2), edge(2, 3), edge(3, 1)])
    return (
        "with tri as (select cast(n_nationkey as bigint) as poly_id, "
        "(n_nationkey % 9) * 9.0 - 36.789 as la, (n_nationkey * 37 % 300) - 150.123 as lo "
        "from nation), "
        f"v as (select poly_id, {verts} from tri) "
        f"select pid, poly_id from ({_PTS_SQL}) p, v "
        f"where ({crossings}) % 2 = 1"
    )


def _label_pipeline_oracle_sql() -> str:
    """DuckDB replica of the FULL flagship pipeline over the staged synth
    corpus (see osmgraft/plans/sql_oracle.py for the derivation notes)."""
    from osmgraft.plans.sql_oracle import label_pipeline_sql, stage_pipeline_corpus
    from osmgraft.sources.config import default_config

    docs_p, _, geom_p = stage_pipeline_corpus()
    return label_pipeline_sql(docs_p, geom_p, default_config())


def _staged_oracle(kind: str) -> str:
    """Companion oracles over the staged corpus (plans/sql_oracle.py)."""
    from osmgraft.plans import sql_oracle as so
    from osmgraft.sources.config import default_config

    docs_p, _, geom_p = so.stage_pipeline_corpus()
    if kind == "pip_admin":
        return so.pip_admin_sql(docs_p, geom_p)
    if kind == "dedup_labels":
        return so.dedup_labels_sql(docs_p, geom_p, default_config(), 2000.0)
    if kind == "adaptive_cells":
        return so.adaptive_cells_sql(so.node_points_sql(docs_p, geom_p), 3, 50, 8)
    raise ValueError(kind)


def _doc_dedup_oracle_sql() -> str:
    """SQL replica of q_doc_dedup_first: groups by the RAW span-sequence
    key string (kind US text US media_ref, spans joined with RS) where the
    Spark side groups by its xxhash64 — results agree iff the fingerprint
    is injective on the corpus, so the oracle also pins collision-freeness
    at this scale."""
    from osmgraft.plans.sql_oracle import stage_pipeline_corpus

    docs_p, _, _ = stage_pipeline_corpus()
    return f"""
with base as (select doc_id, spans from read_parquet('{docs_p}')),
dups as (
  select 'dup/' || doc_id as doc_id, spans from base
  where cast(split_part(doc_id, '/', 2) as bigint) % 7 = 0
),
allr as (select * from base union all select * from dups),
keyed as (
  select doc_id,
         array_to_string(
           list_transform(spans, s ->
             struct_extract(s, 'kind') || chr(31)
             || coalesce(struct_extract(s, 'text'), '') || chr(31)
             || coalesce(struct_extract(s, 'media_ref'), '')),
           chr(30)) as k
  from allr
)
select min(doc_id) as doc_id, count(*) as n_dupes from keyed group by k
"""


def _pts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _read(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("pid"),
        ((F.col("c_acctbal") % 120.0) / 2.0).alias("lat"),
        ((F.col("c_custkey") * 37 % 360).cast("double") - 180.0).alias("lon"),
        F.col("c_nationkey").alias("grp"),
    )


_TAGS_SQL_SRC = (
    "select c_custkey, "
    "case c_custkey % 5 when 0 then 'city' when 1 then 'town' when 2 then 'village' "
    "when 3 then 'hamlet' else 'suburb' end as place, "
    "cast(floor(abs(c_acctbal) * 1000) as bigint) as pop from customer"
)


def _tags_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _read(spark, sf_dir, "customer")
    place = (
        F.when(F.col("c_custkey") % 5 == 0, "city")
        .when(F.col("c_custkey") % 5 == 1, "town")
        .when(F.col("c_custkey") % 5 == 2, "village")
        .when(F.col("c_custkey") % 5 == 3, "hamlet")
        .otherwise("suburb")
    )
    pop = F.floor(F.abs(F.col("c_acctbal")) * 1000).cast("long")
    tags = F.create_map(
        F.lit("place"), place,
        F.lit("population"), F.format_string("%d", pop),
        F.lit("name"), F.col("c_name"),
    )
    return c.select(F.col("c_custkey"), tags.alias("tags"))


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from osmgraft.sources.config import default_config

    cfg = default_config()

    # --- P1: filter + projection pushdown ------------------------------
    def q_filter_scan(spark, sf):
        li = _read(spark, sf, "lineitem")
        return li.where(
            (F.col("l_returnflag") == "R") & (F.col("l_quantity") > 30)
        ).select("l_orderkey", "l_quantity", "l_extendedprice")

    # --- C1/P6: classification compiler --------------------------------
    def q_classify(spark, sf):
        from osmgraft.functions.classify import level_expr

        t = _tags_df(spark, sf)
        return t.select("c_custkey", level_expr(cfg, F.col("tags")).alias("level_id"))

    # --- A4: level counts ------------------------------------------------
    def q_level_counts(spark, sf):
        from osmgraft.functions.classify import level_expr

        t = _tags_df(spark, sf)
        return (
            t.select(level_expr(cfg, F.col("tags")).alias("level_id"))
            .groupBy("level_id")
            .agg(F.count("*").alias("poi_count"))
        )

    # --- P6: C-atoi semantics --------------------------------------------
    def q_atoi(spark, sf):
        from osmgraft.functions.classify import atoi_expr

        p = _read(spark, sf, "part")
        s = F.concat(F.lit("  +"), F.col("p_size").cast("string"), F.lit("kg"))
        return p.select(
            "p_partkey",
            atoi_expr(s).alias("atoi_sized"),
            atoi_expr(F.col("p_brand")).alias("atoi_brand"),
        )

    # --- P3/P4: name coalesce -------------------------------------------
    def q_name_coalesce(spark, sf):
        from osmgraft.functions.names import import_name_expr

        c = _read(spark, sf, "customer")
        tags = F.map_filter(
            F.create_map(
                F.lit("name"), F.when(F.col("c_custkey") % 3 == 0, F.col("c_name")),
                F.lit("official_name"), F.when(F.col("c_custkey") % 2 == 0, F.upper(F.col("c_name"))),
                F.lit("int_name"), F.when(F.col("c_custkey") % 5 == 0, F.lower(F.col("c_name"))),
            ),
            lambda k, v: v.isNotNull(),
        )
        return c.select("c_custkey", import_name_expr(tags).alias("resolved_name"))

    # --- J1/J2: left-semi reduction ---------------------------------------
    def q_semi_join(spark, sf):
        li = _read(spark, sf, "lineitem")
        big = _read(spark, sf, "orders").where(F.col("o_totalprice") > 150000)
        return (
            li.join(big, li["l_orderkey"] == big["o_orderkey"], "leftsemi")
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 4).alias("qty"))
        )

    # --- J3/A2: hash-join + centroid avg ---------------------------------
    def q_centroid(spark, sf):
        pts = _pts(spark, sf)
        n = _read(spark, sf, "nation")
        return (
            pts.join(n, pts["grp"] == n["n_nationkey"])
            .groupBy("n_name")
            .agg(
                F.round(F.avg("lat"), 6).alias("lat_c"),
                F.round(F.avg("lon"), 6).alias("lon_c"),
                F.count("*").alias("n_pts"),
            )
        )

    # --- U1: union ---------------------------------------------------------
    def q_union(spark, sf):
        c = _read(spark, sf, "customer").select(
            F.col("c_custkey").alias("id"), F.lit("customer").alias("src")
        )
        s = _read(spark, sf, "supplier").select(
            F.col("s_suppkey").alias("id"), F.lit("supplier").alias("src")
        )
        return c.unionByName(s)

    # --- O1/O2: two-phase global rank ------------------------------------
    def q_global_rank(spark, sf):
        from osmgraft.operators.rank import global_rank

        c = _read(spark, sf, "customer").select(
            F.col("c_custkey").alias("osm_id"),
            F.col("c_nationkey").cast("long").alias("level_id"),
            F.floor(F.col("c_acctbal")).cast("long").alias("population"),
        )
        return global_rank(c).select("osm_id", "rank")

    # --- P8: size cap ------------------------------------------------------
    def q_size_cap(spark, sf):
        li = _read(spark, sf, "lineitem")
        ok = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("s")).where(F.col("s") <= 100)
        o = _read(spark, sf, "orders")
        return o.join(ok.select("l_orderkey"), o["o_orderkey"] == ok["l_orderkey"], "leftsemi").select(
            "o_orderkey", "o_totalprice"
        )

    # --- A3: bounding box ---------------------------------------------------
    def q_bbox(spark, sf):
        pts = _pts(spark, sf)
        return pts.groupBy("grp").agg(
            F.round(F.min("lat"), 6).alias("min_lat"),
            F.round(F.max("lat"), 6).alias("max_lat"),
            F.round(F.min("lon"), 6).alias("min_lon"),
            F.round(F.max("lon"), 6).alias("max_lon"),
        )

    # --- A5: histogram -------------------------------------------------------
    def q_tag_histogram(spark, sf):
        ev = _read(spark, sf, "events")
        return ev.groupBy("event_type").agg(F.count("*").alias("tag_count"))

    # --- A6: detailed histogram + suppression --------------------------------
    def q_tag_histogram_detailed(spark, sf):
        ev = _read(spark, sf, "events").select(
            F.col("event_type").alias("key"), F.col("props").alias("value")
        )
        per_value = ev.groupBy("key", "value").agg(F.count("*").alias("value_count"))
        per_key = per_value.groupBy("key").agg(
            F.count_distinct("value").alias("n_values"), F.sum("value_count").alias("key_count")
        )
        return (
            per_value.join(per_key, "key")
            .where(F.col("n_values") <= 500)
            .select("key", "value", "value_count", "n_values", "key_count")
        )

    # --- tiles ---------------------------------------------------------------
    def q_tiles(spark, sf):
        from osmgraft.operators.tiles import assign_tiles

        pts = _pts(spark, sf)
        return (
            assign_tiles(pts, z=10)
            .groupBy("tile_z", "tile_x", "tile_y")
            .agg(F.count("*").alias("n_labels"))
        )

    # --- J6: kNN radius pairs (cell-pruned == exact within radius) -----------
    def q_knn_pairs(spark, sf):
        from osmgraft.operators.knn import knn_candidates

        pts = _pts(spark, sf).select("pid", "lat", "lon")
        cand = knn_candidates(pts, pts, radius_m=200_000.0)
        return cand.where(F.col("pid") < F.col("pid_r")).select(
            F.col("pid").alias("id_a"), F.col("pid_r").alias("id_b")
        )

    # --- J5: PIP against rectangles (== SQL range join) -----------------------
    def q_pip_boxes(spark, sf):
        from osmgraft.operators.pip import pip_join

        pts = _pts(spark, sf).select("pid", "lat", "lon")
        n = _read(spark, sf, "nation")
        boxes = n.select(
            F.col("n_nationkey").cast("long").alias("poly_id"),
            F.col("n_name").alias("name"),
            ((F.col("n_nationkey") % 9).cast("double") * 9.0 - 40.5678).alias("_la"),
            ((F.col("n_nationkey") * 29 % 300).cast("double") - 150.5678).alias("_lo"),
        )
        polys = boxes.select(
            "poly_id",
            "name",
            F.array(F.col("_la"), F.col("_la"), F.col("_la") + 8.1234, F.col("_la") + 8.1234).alias("ring_lats"),
            F.array(F.col("_lo"), F.col("_lo") + 12.1234, F.col("_lo") + 12.1234, F.col("_lo")).alias("ring_lons"),
        )
        out = pip_join(pts, polys, strategy="broadcast")
        return out.select("pid", "poly_id")

    def q_pip_triangles(spark, sf):
        # Non-axis-aligned polygons: unlike the rectangle case (where
        # bbox containment == polygon containment), triangles make the
        # even-odd crossing arithmetic itself decide — the SQL oracle
        # replays the kernel's exact edge test. Vertex offsets are literal
        # constants (no trig), so both engines compute identical doubles.
        from osmgraft.operators.pip import pip_join

        pts = _pts(spark, sf).select("pid", "lat", "lon")
        n = _read(spark, sf, "nation")
        dy = F.array(*[F.lit(v) for v in _TRI_DY])
        dx = F.array(*[F.lit(v) for v in _TRI_DX])
        k = F.col("n_nationkey").cast("long")
        base = n.select(
            k.alias("poly_id"),
            F.col("n_name").alias("name"),
            ((k % 9).cast("double") * 9.0 - 36.789).alias("_la"),
            ((k * 37 % 300).cast("double") - 150.123).alias("_lo"),
        )
        def vert(i, arr, c):
            return F.col(c) + F.element_at(arr, ((F.col("poly_id") + i) % 6 + 1).cast("int"))
        polys = base.select(
            "poly_id",
            "name",
            F.array(vert(0, dy, "_la"), vert(1, dy, "_la"), vert(2, dy, "_la")).alias("ring_lats"),
            F.array(vert(0, dx, "_lo"), vert(1, dx, "_lo"), vert(2, dx, "_lo")).alias("ring_lons"),
        )
        return pip_join(pts, polys, strategy="broadcast").select("pid", "poly_id")

    # --- tiles: per-tile importance order (window partitioned by tile) ------------
    def q_tile_topk(spark, sf):
        from osmgraft.operators.tiles import tiles_with_order

        pts = _pts(spark, sf).select(
            F.col("pid").alias("osm_id"), "lat", "lon", F.col("pid").alias("rank")
        )
        out = tiles_with_order(pts, z=8)
        return out.where(F.col("tile_pos") < 5).select(
            "osm_id", "tile_x", "tile_y", "tile_pos"
        )

    # --- skew rail: salted aggregation == plain aggregation -----------------------
    def q_salted_count(spark, sf):
        from osmgraft.operators.skew import salted_count

        li = _read(spark, sf, "lineitem").select(F.col("l_returnflag").alias("k"))
        return salted_count(li, "k", n_salts=16)

    # --- raster <-> vector -------------------------------------------------------
    def q_rasterize(spark, sf):
        from osmgraft.operators.raster import rasterize

        pts = _pts(spark, sf).select("pid", "lat", "lon")
        return rasterize(pts, z=6, px=64)

    def q_idw_surface(spark, sf):
        from osmgraft.operators.raster import idw_grid

        pts = _pts(spark, sf)
        g = idw_grid(pts, z=5, px=64, radius=2, value_col="grp")
        return g.select(
            "tile_z",
            "tile_x",
            "tile_y",
            "px_x",
            "px_y",
            F.round("value", 4).alias("value"),
            "n_src",
        )

    def q_vectorize_runs(spark, sf):
        from osmgraft.operators.raster import rasterize, vectorize_runs

        pts = _pts(spark, sf).select("pid", "lat", "lon")
        runs = vectorize_runs(rasterize(pts, z=6, px=64), px=64)
        return runs.select(
            "poly_id",
            "tile_z",
            "value",
            "run_len",
            F.round("west", 4).alias("west"),
            F.round("east", 4).alias("east"),
            F.round("north", 4).alias("north"),
            F.round("south", 4).alias("south"),
        )

    def q_raster_vectorize(spark, sf):
        from osmgraft.operators.raster import rasterize, vectorize

        pts = _pts(spark, sf).select("pid", "lat", "lon")
        rect = vectorize(rasterize(pts, z=6, px=64), px=64)
        return rect.select(
            "poly_id",
            "value",
            F.round(F.element_at("ring_lats", 1), 4).alias("south"),
            F.round(F.element_at("ring_lats", 3), 4).alias("north"),
            F.round(F.element_at("ring_lons", 1), 4).alias("west"),
            F.round(F.element_at("ring_lons", 2), 4).alias("east"),
        )

    # --- events daily rollup (streaming-analog batch) ------------------------------------
    def q_events_daily(spark, sf):
        ev = _read(spark, sf, "events")
        return ev.groupBy(
            F.col("user_id"), F.date_trunc("day", F.col("ts")).alias("day")
        ).agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))

    # --- window top-k ------------------------------------------------------------------------
    def q_window_topk(spark, sf):
        from pyspark.sql import Window

        o = _read(spark, sf, "orders")
        w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        return (
            o.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select("o_custkey", "o_orderkey", "rn")
        )

    # =================== engine-native (rows-only checks) ===================

    def q_osm_labels(spark, sf):
        # The FLAGSHIP query, fully oracled: the corpus is staged once as
        # parquet (pure-Python synth mirror, identical rows to the Spark
        # generator at the same seed), the engine runs the real pipeline —
        # packed-binary decode, classification, polygon assembly, rank,
        # label kernel — and DuckDB replays every stage in SQL over the
        # same files (osmgraft/plans/sql_oracle.py). lat/lon rounded on
        # both sides: the assembly centroid sums floats in walk order,
        # the SQL in set order.
        from osmgraft.plans.pipeline import label_pipeline
        from osmgraft.plans.sql_oracle import stage_pipeline_corpus

        docs_p, blobs_p, _ = stage_pipeline_corpus()
        docs = spark.read.parquet(docs_p)
        blobs = spark.read.parquet(blobs_p)
        out = label_pipeline(spark, docs, blobs)
        return out.select(
            F.round("lat", 6).alias("lat"),
            F.round("lon", 6).alias("lon"),
            "level_id",
            "rank",
            "radius",
            "osm_id",
            "label",
            "factor",
        )

    def _staged(spark):
        from osmgraft.plans.sql_oracle import stage_pipeline_corpus

        docs_p, blobs_p, _ = stage_pipeline_corpus()
        return spark.read.parquet(docs_p), spark.read.parquet(blobs_p)

    def q_osm_pip_admin(spark, sf):
        # fully oracled: even-odd edge-test SQL replica over the staged
        # corpus's admin rings (plans/sql_oracle.pip_admin_sql)
        from osmgraft.operators.pip import pip_join
        from osmgraft.sources.decode import decode_documents

        docs, blobs = _staged(spark)
        frames = decode_documents(docs, blobs)
        pts = frames.node_pois.select("osm_id", "lat", "lon")
        return pip_join(pts, frames.polygons, strategy="partitioned", res=4).select(
            "osm_id", "poly_id"
        )

    def q_osm_dedup_labels(spark, sf):
        # fully oracled: NOT EXISTS haversine suppression over the ranked
        # labels of the pipeline SQL replica (plans/sql_oracle.dedup_labels_sql)
        from osmgraft.operators.knn import dedup_labels
        from osmgraft.plans.pipeline import label_pipeline

        docs, blobs = _staged(spark)
        out = dedup_labels(label_pipeline(spark, docs, blobs), radius_m=2000.0)
        return out.select("osm_id")

    def q_osm_adaptive_cells(spark, sf):
        # fully oracled: chained re-encode rounds over the staged node
        # points (plans/sql_oracle.adaptive_cells_sql)
        from osmgraft.operators.skew import adaptive_cell_split
        from osmgraft.sources.decode import decode_documents

        docs, blobs = _staged(spark)
        pts = decode_documents(docs, blobs).node_pois.select("osm_id", "lat", "lon")
        out = adaptive_cell_split(pts, base_res=3, max_rows=50, max_res=8)
        return out.groupBy("cell").agg(F.count("*").alias("n"))

    def q_s2_cells(spark, sf):
        from osmgraft.functions.cells import s2_cell_udf

        pts = _pts(spark, sf)
        return pts.select("pid", s2_cell_udf(12)(F.col("lat"), F.col("lon")).alias("s2_cell"))

    def q_smooth_box(spark, sf):
        from osmgraft.operators.raster import rasterize, smooth_box

        pts = _pts(spark, sf).select("pid", "lat", "lon")
        sm = smooth_box(rasterize(pts, z=6, px=64), px=64, radius=1)
        return sm.select(
            "tile_z",
            "tile_x",
            "tile_y",
            "px_x",
            "px_y",
            F.round("value", 4).alias("value"),
        )

    def q_contours(spark, sf):
        from osmgraft.operators.raster import contour_segments, rasterize

        pts = _pts(spark, sf).select("pid", "lat", "lon")
        seg = contour_segments(rasterize(pts, z=5, px=64), px=64, threshold=0.5)
        return seg.select(
            "case_id",
            F.round("x0", 4).alias("x0"),
            F.round("y0", 4).alias("y0"),
            F.round("x1", 4).alias("x1"),
            F.round("y1", 4).alias("y1"),
        )

    def q_s2_compact(spark, sf):
        # every level-12 cell's 4 children are generated, so level 13
        # fully collapses back; levels 12->10 compact only where all 4
        # siblings are present in the data (dense clusters)
        from osmgraft.functions.cells import (
            compact_cells,
            s2_cell_udf,
            s2_children_expr,
        )

        pts = _pts(spark, sf)
        c12 = pts.select(
            s2_cell_udf(12)(F.col("lat"), F.col("lon")).alias("c")
        ).distinct()
        kids = c12.select(F.explode(s2_children_expr(F.col("c"), 13)).alias("cell"))
        return compact_cells(kids, level=13, min_level=10)

    def q_hex_cells(spark, sf):
        from osmgraft.functions.cells import hex_cell_udf

        pts = _pts(spark, sf)
        return pts.select("pid", hex_cell_udf(7)(F.col("lat"), F.col("lon")).alias("cell"))

    def q_adaptive_cells_pts(spark, sf):
        from osmgraft.operators.skew import adaptive_cell_split

        pts = _pts(spark, sf).select("pid", "lat", "lon")
        out = adaptive_cell_split(pts, base_res=0, max_rows=5, max_res=3)
        return out.groupBy("cell").agg(F.count("*").alias("n"))

    def q_legacy_split(spark, sf):
        # L7 legacy char-count split (ref osmpoi.cpp:121-199, dead code in
        # the reference — implemented for completeness). Pure Catalyst:
        # the center-out delimiter scan is a filter(sequence)+struct-min
        # argmin, the radius is byte-based (octet_length) like the C++
        # std::string math.
        from osmgraft.functions.labels import legacy_ball_radius_expr, legacy_split_expr

        d = _read(spark, sf, "documents").select("doc_id", "text")
        lbl = F.substring(F.col("text"), 1, 40)
        split = legacy_split_expr(lbl, " -/")
        return d.select(
            "doc_id",
            split.alias("split_label"),
            legacy_ball_radius_expr(split).alias("radius"),
        )

    def q_dedup_labels_pts(spark, sf):
        # J6 dedup semantics against a pure-SQL brute-force suppression:
        # keep a point iff no lower-pid point lies within the radius.
        from osmgraft.operators.knn import dedup_labels

        pts = _pts(spark, sf).select("pid", F.col("pid").alias("rank"), "lat", "lon")
        return dedup_labels(pts, radius_m=200_000.0, rank_col="rank", id_col="pid").select("pid")

    def q_doc_dedup_first(spark, sf):
        # batch analog of the streaming stateful dedup
        # (streaming/ingest.stream_dedup_first_seen): first doc_id per
        # span-sequence fingerprint over the staged interleaved corpus
        # plus a deterministic duplicated slice (distinct doc_id, same
        # spans). Groups by the xxhash64 fingerprint; the DuckDB oracle
        # groups by the raw key string — equal iff the hash is injective
        # on this corpus (fixed seed, so deterministic).
        from osmgraft.streaming.ingest import document_fingerprint_expr

        docs, _ = _staged(spark)
        dup = docs.where(
            F.split_part(F.col("doc_id"), F.lit("/"), F.lit(2)).cast("long") % 7 == 0
        ).withColumn("doc_id", F.concat(F.lit("dup/"), F.col("doc_id")))
        return (
            docs.unionByName(dup)
            .withColumn("_fp", document_fingerprint_expr())
            .groupBy("_fp")
            .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_dupes"))
            .select("doc_id", "n_dupes")
        )

    # --- tiles: multi-resolution rollup pyramid -----------------------------------
    def q_tile_pyramid(spark, sf):
        from osmgraft.operators.tiles import tile_pyramid

        pts = _pts(spark, sf)
        return tile_pyramid(pts, z_max=8, z_min=5, rank_col="pid")

    # --- geospatial: zonal statistics over the PIP rectangles ----------------------
    def q_zonal_stats(spark, sf):
        from osmgraft.operators.zonal import zonal_stats

        pts = _pts(spark, sf).select(
            "pid", "lat", "lon", F.col("grp").cast("double").alias("val")
        )
        n = _read(spark, sf, "nation")
        boxes = n.select(
            F.col("n_nationkey").cast("long").alias("poly_id"),
            F.col("n_name").alias("name"),
            ((F.col("n_nationkey") % 9).cast("double") * 9.0 - 40.5678).alias("_la"),
            ((F.col("n_nationkey") * 29 % 300).cast("double") - 150.5678).alias("_lo"),
        )
        polys = boxes.select(
            "poly_id",
            "name",
            F.array(
                F.col("_la"), F.col("_la"), F.col("_la") + 8.1234, F.col("_la") + 8.1234
            ).alias("ring_lats"),
            F.array(
                F.col("_lo"), F.col("_lo") + 12.1234, F.col("_lo") + 12.1234, F.col("_lo")
            ).alias("ring_lons"),
        )
        return zonal_stats(pts, polys, "val", strategy="broadcast")

    return {
        "filter_scan": q_filter_scan,
        "classify_levels": q_classify,
        "classify_level_counts": q_level_counts,
        "atoi_semantics": q_atoi,
        "name_coalesce": q_name_coalesce,
        "semi_join_reduction": q_semi_join,
        "join_centroid": q_centroid,
        "union_pois": q_union,
        "global_rank": q_global_rank,
        "area_size_cap": q_size_cap,
        "bbox_agg": q_bbox,
        "tag_histogram": q_tag_histogram,
        "tag_histogram_detailed": q_tag_histogram_detailed,
        "tile_assignment": q_tiles,
        "knn_radius_pairs": q_knn_pairs,
        "pip_rectangles": q_pip_boxes,
        "pip_triangles": q_pip_triangles,
        "rasterize_density": q_rasterize,
        "raster_vectorize": q_raster_vectorize,
        "idw_surface": q_idw_surface,
        "vectorize_runs": q_vectorize_runs,
        "tile_topk": q_tile_topk,
        "salted_count": q_salted_count,
        "events_daily": q_events_daily,
        "window_topk": q_window_topk,
        # engine-native, rows-only:
        "osm_label_pipeline": q_osm_labels,
        "osm_pip_admin": q_osm_pip_admin,
        "osm_dedup_labels": q_osm_dedup_labels,
        "osm_adaptive_cells": q_osm_adaptive_cells,
        # oracled engine-native queries (SQL replicas on the DuckDB side):
        "doc_dedup_first": q_doc_dedup_first,
        "s2_cells": q_s2_cells,
        "s2_compact": q_s2_compact,
        "smooth_box": q_smooth_box,
        "contour_segments": q_contours,
        "dedup_labels_pts": q_dedup_labels_pts,
        "hex_cells": q_hex_cells,
        "adaptive_cells_pts": q_adaptive_cells_pts,
        "legacy_split": q_legacy_split,
        "tile_pyramid": q_tile_pyramid,
        "zonal_stats_boxes": q_zonal_stats,
    }


def oracle_sql() -> dict[str, str]:
    def _tile_level_sql(z: int) -> str:
        # identical Web-Mercator formula as tiles.tile_xy, aggregated
        # DIRECTLY from the points at zoom z — so the pyramid oracle also
        # certifies the parent-relation rollup identity per level
        n = 1 << z
        return (
            f"select {z} as tile_z, "
            f"cast(least(floor((lon+180.0)/360.0*{n}), {n - 1}) as bigint) as tile_x, "
            f"cast(least(greatest(floor((1.0 - ln(tan(radians(least(greatest(lat, -85.05112878), 85.05112878))) "
            f"+ 1.0/cos(radians(least(greatest(lat, -85.05112878), 85.05112878))))/pi())/2.0*{n}), 0), {n - 1}) as bigint) as tile_y, "
            f"count(*) as n_labels, min(pid) as best_rank "
            f"from ({_PTS_SQL}) p group by 1, 2, 3"
        )

    atoi = (
        "coalesce(try_cast(regexp_extract({v}, '^[\\t\\n\\x0b\\x0c\\r ]*([+-]?[0-9]+)', 1) "
        "as bigint), 0)"
    )
    classify_case = """
        case
          when place = 'city' and {p} >= 5000000 then 16
          when place = 'city' and {p} >= 1000000 then 15
          when place = 'city' and {p} >= 500000 then 14
          when place = 'city' then 13
          when place = 'town' and {p} >= 100000 then 12
          when place = 'town' and {p} >= 25000 then 11
          when place = 'town' then 10
          when place = 'village' then 9
          when place = 'suburb' then 8
          when place = 'hamlet' then 7
          else 0
        end
    """.format(p=atoi.format(v="printf('%d', pop)"))

    hav = (
        "2*6371008.8*asin(sqrt("
        "pow(sin(radians(b.lat-a.lat)/2),2) + "
        "cos(radians(a.lat))*cos(radians(b.lat))*pow(sin(radians(b.lon-a.lon)/2),2)))"
    )

    return {
        "filter_scan": (
            "select l_orderkey, l_quantity, l_extendedprice from lineitem "
            "where l_returnflag = 'R' and l_quantity > 30"
        ),
        "classify_levels": (
            f"select c_custkey, {classify_case} as level_id from ({_TAGS_SQL_SRC}) t"
        ),
        "classify_level_counts": (
            f"select level_id, count(*) as poi_count from "
            f"(select {classify_case} as level_id from ({_TAGS_SQL_SRC}) t) s group by level_id"
        ),
        "atoi_semantics": (
            "select p_partkey, "
            + atoi.format(v="concat('  +', cast(p_size as varchar), 'kg')")
            + " as atoi_sized, "
            + atoi.format(v="p_brand")
            + " as atoi_brand from part"
        ),
        "name_coalesce": (
            "select c_custkey, coalesce("
            "case when c_custkey % 3 = 0 then c_name end, "
            "case when c_custkey % 2 = 0 then upper(c_name) end, "
            "case when c_custkey % 5 = 0 then lower(c_name) end, "
            "'') as resolved_name from customer"
        ),
        "semi_join_reduction": (
            "select l_returnflag, count(*) as n, round(sum(l_quantity), 4) as qty "
            "from lineitem where l_orderkey in "
            "(select o_orderkey from orders where o_totalprice > 150000) "
            "group by l_returnflag"
        ),
        "join_centroid": (
            f"select n_name, round(avg(lat), 6) as lat_c, round(avg(lon), 6) as lon_c, "
            f"count(*) as n_pts from ({_PTS_SQL}) p join nation on p.grp = n_nationkey "
            "group by n_name"
        ),
        "union_pois": (
            "select c_custkey as id, 'customer' as src from customer "
            "union all select s_suppkey as id, 'supplier' as src from supplier"
        ),
        "global_rank": (
            "select c_custkey as osm_id, row_number() over "
            "(order by c_nationkey asc, cast(floor(c_acctbal) as bigint) asc, c_custkey asc) - 1 "
            "as rank from customer"
        ),
        "area_size_cap": (
            "select o_orderkey, o_totalprice from orders where o_orderkey in "
            "(select l_orderkey from lineitem group by l_orderkey having sum(l_quantity) <= 100)"
        ),
        "bbox_agg": (
            f"select grp, round(min(lat),6) as min_lat, round(max(lat),6) as max_lat, "
            f"round(min(lon),6) as min_lon, round(max(lon),6) as max_lon "
            f"from ({_PTS_SQL}) p group by grp"
        ),
        "tag_histogram": (
            "select event_type, count(*) as tag_count from events group by event_type"
        ),
        "tag_histogram_detailed": (
            "with per_value as (select event_type as key, props as value, count(*) as value_count "
            "from events group by 1, 2), "
            "per_key as (select key, count(distinct value) as n_values, cast(sum(value_count) as bigint) as key_count "
            "from per_value group by key) "
            "select v.key, v.value, v.value_count, k.n_values, k.key_count "
            "from per_value v join per_key k on v.key = k.key where k.n_values <= 500"
        ),
        "tile_assignment": (
            f"select 10 as tile_z, "
            f"cast(least(floor((lon+180.0)/360.0*1024), 1023) as bigint) as tile_x, "
            f"cast(least(greatest(floor((1.0 - ln(tan(radians(least(greatest(lat, -85.05112878), 85.05112878))) "
            f"+ 1.0/cos(radians(least(greatest(lat, -85.05112878), 85.05112878))))/pi())/2.0*1024), 0), 1023) as bigint) as tile_y, "
            f"count(*) as n_labels from ({_PTS_SQL}) p group by 1, 2, 3"
        ),
        "knn_radius_pairs": (
            f"select a.pid as id_a, b.pid as id_b from ({_PTS_SQL}) a, ({_PTS_SQL}) b "
            f"where a.pid < b.pid and {hav} <= 200000.0"
        ),
        "pip_rectangles": (
            "with boxes as (select cast(n_nationkey as bigint) as poly_id, "
            "(n_nationkey % 9) * 9.0 - 40.5678 as la, (n_nationkey * 29 % 300) - 150.5678 as lo from nation) "
            f"select pid, poly_id from ({_PTS_SQL}) p, boxes "
            "where p.lat > la and p.lat < la + 8.1234 and p.lon > lo and p.lon < lo + 12.1234"
        ),
        "pip_triangles": _pip_triangles_sql(),
        "tile_topk": (
            f"with t as (select pid as osm_id, "
            f"least(cast(floor((lon+180.0)/360.0*256) as bigint), 255) as tile_x, "
            f"cast(least(greatest(floor((1.0 - ln(tan(radians(least(greatest(lat, -85.05112878), 85.05112878))) "
            f"+ 1.0/cos(radians(least(greatest(lat, -85.05112878), 85.05112878))))/pi())/2.0*256), 0), 255) as bigint) as tile_y, "
            f"pid as rank from ({_PTS_SQL}) p) "
            "select osm_id, tile_x, tile_y, tile_pos from "
            "(select osm_id, tile_x, tile_y, row_number() over "
            "(partition by tile_x, tile_y order by rank asc) - 1 as tile_pos from t) s "
            "where tile_pos < 5"
        ),
        "salted_count": (
            "select l_returnflag as k, count(*) as count from lineitem group by 1"
        ),
        "rasterize_density": (
            f"with src as (select lat, lon, least(greatest(lat, -85.05112878), 85.05112878) as lc "
            f"from ({_PTS_SQL}) p), "
            "px as (select least(cast(floor((lon+180.0)/360.0*4096) as bigint), 4095) as gx, "
            "cast(least(greatest(floor((1.0 - ln(tan(radians(lc)) + 1.0/cos(radians(lc)))/pi())/2.0*4096), 0), 4095) as bigint) as gy "
            "from src) "
            "select 6 as tile_z, gx//64 as tile_x, gy//64 as tile_y, "
            "gx%64 as px_x, gy%64 as px_y, count(*) as value from px group by 1,2,3,4,5"
        ),
        "raster_vectorize": (
            f"with src as (select lat, lon, least(greatest(lat, -85.05112878), 85.05112878) as lc "
            f"from ({_PTS_SQL}) p), "
            "px as (select least(cast(floor((lon+180.0)/360.0*4096) as bigint), 4095) as gx, "
            "cast(least(greatest(floor((1.0 - ln(tan(radians(lc)) + 1.0/cos(radians(lc)))/pi())/2.0*4096), 0), 4095) as bigint) as gy "
            "from src), "
            "cells as (select gx, gy, count(*) as value from px group by 1,2) "
            "select gx*4294967296 + gy as poly_id, value, "
            "round(degrees(atan((exp(pi() - 2*pi()*(gy+1)/4096.0) - exp(-(pi() - 2*pi()*(gy+1)/4096.0)))/2.0)), 4) as south, "
            "round(degrees(atan((exp(pi() - 2*pi()*gy/4096.0) - exp(-(pi() - 2*pi()*gy/4096.0)))/2.0)), 4) as north, "
            "round(gx/4096.0*360.0 - 180.0, 4) as west, "
            "round((gx+1)/4096.0*360.0 - 180.0, 4) as east from cells"
        ),
        "idw_surface": (
            f"with src as (select grp, lat, lon, least(greatest(lat, -85.05112878), 85.05112878) as lc "
            f"from ({_PTS_SQL}) p), "
            "px as (select cast(grp as double) as v, "
            "least(cast(floor((lon+180.0)/360.0*2048) as bigint), 2047) as gx, "
            "cast(least(greatest(floor((1.0 - ln(tan(radians(lc)) + 1.0/cos(radians(lc)))/pi())/2.0*2048), 0), 2047) as bigint) as gy "
            "from src), "
            "fan as (select v, gx + dx.x as tx, gy + dy.y as ty, "
            "cast(dx.x*dx.x + dy.y*dy.y as double) as d2 from px "
            "cross join (select unnest(generate_series(-2, 2)) as x) dx "
            "cross join (select unnest(generate_series(-2, 2)) as y) dy "
            "where dx.x*dx.x + dy.y*dy.y <= 4), "
            "bounded as (select * from fan "
            "where tx >= 0 and tx < 2048 and ty >= 0 and ty < 2048) "
            "select 5 as tile_z, tx//64 as tile_x, ty//64 as tile_y, "
            "tx%64 as px_x, ty%64 as px_y, "
            "round(sum(v*(1.0/(d2+0.5)))/sum(1.0/(d2+0.5)), 4) as value, "
            "count(*) as n_src from bounded group by 1,2,3,4,5"
        ),
        "vectorize_runs": (
            f"with src as (select lat, lon, least(greatest(lat, -85.05112878), 85.05112878) as lc "
            f"from ({_PTS_SQL}) p), "
            "px as (select least(cast(floor((lon+180.0)/360.0*4096) as bigint), 4095) as gx, "
            "cast(least(greatest(floor((1.0 - ln(tan(radians(lc)) + 1.0/cos(radians(lc)))/pi())/2.0*4096), 0), 4095) as bigint) as gy "
            "from src), "
            "cells as (select gx, gy, count(*) as value from px group by 1,2), "
            "runs as (select gx, gy, value, "
            "gx - row_number() over (partition by gy, value order by gx) as run from cells) "
            "select min(gx)*4294967296 + gy as poly_id, 6 as tile_z, value, "
            "count(*) as run_len, "
            "round(min(gx)/4096.0*360.0 - 180.0, 4) as west, "
            "round((max(gx)+1)/4096.0*360.0 - 180.0, 4) as east, "
            "round(degrees(atan((exp(pi() - 2*pi()*gy/4096.0) - exp(-(pi() - 2*pi()*gy/4096.0)))/2.0)), 4) as north, "
            "round(degrees(atan((exp(pi() - 2*pi()*(gy+1)/4096.0) - exp(-(pi() - 2*pi()*(gy+1)/4096.0)))/2.0)), 4) as south "
            "from runs group by gy, value, run"
        ),
        "events_daily": (
            "select user_id, cast(date_trunc('day', ts) as timestamp) as day, count(*) as n_events, "
            "round(sum(value), 4) as total_value from events group by 1, 2"
        ),
        "window_topk": (
            "select o_custkey, o_orderkey, rn from (select o_custkey, o_orderkey, "
            "row_number() over (partition by o_custkey order by o_totalprice desc, o_orderkey asc) as rn "
            "from orders) t where rn <= 3"
        ),
        # ---- engine-native queries with SQL replicas ----
        "osm_label_pipeline": _label_pipeline_oracle_sql(),
        "osm_pip_admin": _staged_oracle("pip_admin"),
        "osm_dedup_labels": _staged_oracle("dedup_labels"),
        "osm_adaptive_cells": _staged_oracle("adaptive_cells"),
        "doc_dedup_first": _doc_dedup_oracle_sql(),
        "s2_cells": _s2_oracle_sql(level=12),
        "s2_compact": _s2_compact_oracle_sql(13, 10),
        "smooth_box": (
            f"with src as (select lat, lon, least(greatest(lat, -85.05112878), 85.05112878) as lc "
            f"from ({_PTS_SQL}) p), "
            "px as (select least(cast(floor((lon+180.0)/360.0*4096) as bigint), 4095) as gx, "
            "cast(least(greatest(floor((1.0 - ln(tan(radians(lc)) + 1.0/cos(radians(lc)))/pi())/2.0*4096), 0), 4095) as bigint) as gy "
            "from src), "
            "cells as (select gx, gy, cast(count(*) as double) as v from px group by 1,2), "
            "h as (select gx + d as gx, gy, sum(v) as v from cells "
            "cross join (select unnest(generate_series(-1, 1)) as d) ds "
            "where gx + d >= 0 and gx + d < 4096 group by 1, 2), "
            "v2 as (select gx, gy + d as gy, sum(v) as v from h "
            "cross join (select unnest(generate_series(-1, 1)) as d) ds "
            "where gy + d >= 0 and gy + d < 4096 group by 1, 2) "
            "select 6 as tile_z, gx//64 as tile_x, gy//64 as tile_y, "
            "gx%64 as px_x, gy%64 as px_y, round(v/9.0, 4) as value from v2"
        ),
        "contour_segments": (
            f"with src as (select lat, lon, least(greatest(lat, -85.05112878), 85.05112878) as lc "
            f"from ({_PTS_SQL}) p), "
            "px as (select least(cast(floor((lon+180.0)/360.0*2048) as bigint), 2047) as gx, "
            "cast(least(greatest(floor((1.0 - ln(tan(radians(lc)) + 1.0/cos(radians(lc)))/pi())/2.0*2048), 0), 2047) as bigint) as gy "
            "from src), "
            "cells as (select gx, gy, cast(count(*) as double) as v from px group by 1,2), "
            "fan as (select gx - dx.d as bx, gy - dy.d as by, dx.d as dx, dy.d as dy, v "
            "from cells cross join (select unnest([0,1]) as d) dx "
            "cross join (select unnest([0,1]) as d) dy), "
            "blocks as (select bx, by, "
            "coalesce(sum(case when dx=0 and dy=0 then v end), 0.0) as vtl, "
            "coalesce(sum(case when dx=1 and dy=0 then v end), 0.0) as vtr, "
            "coalesce(sum(case when dx=0 and dy=1 then v end), 0.0) as vbl, "
            "coalesce(sum(case when dx=1 and dy=1 then v end), 0.0) as vbr "
            "from fan group by 1,2), "
            "cse as (select *, (case when vtl > 0.5 then 8 else 0 end) + "
            "(case when vtr > 0.5 then 4 else 0 end) + "
            "(case when vbr > 0.5 then 2 else 0 end) + "
            "(case when vbl > 0.5 then 1 else 0 end) as c, "
            "(vtl+vtr+vbl+vbr)/4.0 > 0.5 as ctr from blocks), "
            "p2 as (select *, "
            "bx + (0.5 - vtl)/(vtr - vtl) as xt, cast(by as double) as yt, "
            "bx + 1.0 as xr, by + (0.5 - vtr)/(vbr - vtr) as yr, "
            "bx + (0.5 - vbl)/(vbr - vbl) as xb, by + 1.0 as yb, "
            "cast(bx as double) as xl, by + (0.5 - vtl)/(vbl - vtl) as yl "
            "from cse where c not in (0, 15)), "
            "seg as (select c, unnest(case "
            "when c = 1 then [{'x0': xl,'y0': yl,'x1': xb,'y1': yb}] "
            "when c = 2 then [{'x0': xb,'y0': yb,'x1': xr,'y1': yr}] "
            "when c = 3 then [{'x0': xl,'y0': yl,'x1': xr,'y1': yr}] "
            "when c = 4 then [{'x0': xt,'y0': yt,'x1': xr,'y1': yr}] "
            "when c = 5 and ctr then [{'x0': xt,'y0': yt,'x1': xl,'y1': yl}, {'x0': xb,'y0': yb,'x1': xr,'y1': yr}] "
            "when c = 5 then [{'x0': xt,'y0': yt,'x1': xr,'y1': yr}, {'x0': xl,'y0': yl,'x1': xb,'y1': yb}] "
            "when c = 6 then [{'x0': xt,'y0': yt,'x1': xb,'y1': yb}] "
            "when c = 7 then [{'x0': xl,'y0': yl,'x1': xt,'y1': yt}] "
            "when c = 8 then [{'x0': xt,'y0': yt,'x1': xl,'y1': yl}] "
            "when c = 9 then [{'x0': xt,'y0': yt,'x1': xb,'y1': yb}] "
            "when c = 10 and ctr then [{'x0': xt,'y0': yt,'x1': xr,'y1': yr}, {'x0': xl,'y0': yl,'x1': xb,'y1': yb}] "
            "when c = 10 then [{'x0': xt,'y0': yt,'x1': xl,'y1': yl}, {'x0': xb,'y0': yb,'x1': xr,'y1': yr}] "
            "when c = 11 then [{'x0': xt,'y0': yt,'x1': xr,'y1': yr}] "
            "when c = 12 then [{'x0': xl,'y0': yl,'x1': xr,'y1': yr}] "
            "when c = 13 then [{'x0': xb,'y0': yb,'x1': xr,'y1': yr}] "
            "when c = 14 then [{'x0': xl,'y0': yl,'x1': xb,'y1': yb}] "
            "end) as s from p2) "
            "select c as case_id, round(s.x0, 4) as x0, round(s.y0, 4) as y0, "
            "round(s.x1, 4) as x1, round(s.y1, 4) as y1 from seg"
        ),
        "dedup_labels_pts": (
            f"with p as ({_PTS_SQL}) "
            "select a.pid from p a where not exists (select 1 from p b "
            f"where b.pid < a.pid and {hav} <= 200000.0)"
        ),
        "hex_cells": (
            f"with p as ({_PTS_SQL}) "
            f"select pid, {_hex_cell_sql_expr('lat', 'lon', 7)} as cell from p"
        ),
        "adaptive_cells_pts": _adaptive_cells_sql(base_res=0, max_rows=5, max_res=3),
        "legacy_split": (
            # L7 legacy split replica (osmpoi.cpp:121-199). DuckDB length/
            # substr/strpos are codepoint-based like the C++ u32string
            # math; strlen is bytes like the std::string radius math. The
            # center-out scan == argmin of |d-center|*2 + (d<center),
            # encoded into one BIGINT (key*1e6 + d) for list_min.
            r"with base as (select doc_id, substr(text, 1, 40) as s from documents), "
            r"norm as (select doc_id, s, regexp_replace(s, "
            r"'\r\n|[\n\x0B\x0C\r\x{0085}\x{2028}\x{2029}]|\^M', '%', 'g') as sn from base), "
            "pick as (select doc_id, s, sn, case when sn <> s then '%' else ' -/' end as delims, "
            "length(sn) as n, (length(sn) + 1) // 2 as center from norm), "
            "cand as (select *, case when n >= 2 then "
            "[ (abs(d - center) * 2 + case when d < center then 1 else 0 end) * 1000000 + d "
            "for d in range(1, n) if strpos(delims, substr(sn, d + 1, 1)) > 0 ] "
            "else [] end as ks from pick), "
            "best as (select *, case when len(ks) = 0 then null else list_min(ks) % 1000000 end as d from cand), "
            "split as (select doc_id, case when d is null then sn "
            "else substr(replace(sn, '%', ' '), 1, d + 1) || '%' || substr(replace(sn, '%', ' '), d + 2) "
            "end as r0 from best), "
            "c1 as (select doc_id, case when strpos(r0, ' %') > 0 then "
            "substr(r0, 1, strpos(r0, ' %') - 1) || '%' || substr(r0, strpos(r0, ' %') + 2) "
            "else r0 end as r1 from split), "
            "c2 as (select doc_id, case when strpos(r1, '% ') > 0 then "
            "substr(r1, 1, strpos(r1, '% ') - 1) || '%' || substr(r1, strpos(r1, '% ') + 2) "
            "else r1 end as res from c1) "
            "select doc_id, res as split_label, "
            "cast(case when strpos(res, '%') > 0 "
            "then (case when strlen(substr(res, 1, strpos(res, '%') - 1)) > strlen(res) // 2 "
            "then strlen(substr(res, 1, strpos(res, '%') - 1)) "
            "else strlen(res) - strlen(substr(res, 1, strpos(res, '%') - 1)) end) "
            "else (case when strlen(res) > strlen(res) // 2 then strlen(res) else 0 end) end / 2.0 "
            "as double) as radius from c2"
        ),
        # per-level DIRECT aggregation (no rollup) — equality with the
        # engine's cached single-scan rollup proves the parent identity
        "tile_pyramid": " union all ".join(_tile_level_sql(z) for z in range(5, 9)),
        # the PIP rectangle join + one algebraic rollup; avg replays as
        # sum/count of exact doubles
        "zonal_stats_boxes": (
            "with boxes as (select cast(n_nationkey as bigint) as poly_id, "
            "n_name as poly_name, "
            "(n_nationkey % 9) * 9.0 - 40.5678 as la, "
            "(n_nationkey * 29 % 300) - 150.5678 as lo from nation), "
            f"pz as (select p.pid, cast(p.grp as double) as val, b.poly_id, b.poly_name "
            f"from ({_PTS_SQL}) p, boxes b "
            "where p.lat > la and p.lat < la + 8.1234 "
            "and p.lon > lo and p.lon < lo + 12.1234) "
            "select poly_id, poly_name, count(val) as count_val, "
            "sum(val) as sum_val, avg(val) as mean_val "
            "from pz group by poly_id, poly_name"
        ),
    }
