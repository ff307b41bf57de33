"""Polygon-polygon intersects join (spatial overlay candidate engine).

Engine extension (north_rule); absent from the reference (osm_input never
joins two area sets). It serves admin x landuse overlay, polygon dedup
between two extract versions and conflict detection between editor
uploads.

The naive formulation is a cross join with an O(n*m) exact test per pair
— dead at 10^8 x 10^6 polygons. The scale shape here mirrors the
partitioned PIP join (operators/pip.py) but on BOTH sides:

- every polygon is covered by hex cells at ONE shared fixed resolution
  (coverings at different resolutions cannot equi-join, so the adaptive
  per-polygon ladder of the PIP join does not apply here);
- candidates = one equi-join on covering cell (shuffle co-partitioned by
  cell), bbox-overlap prefilter, then one dedup shuffle on the pair key
  (a pair can share many cells) before the expensive exact kernel;
- polygons whose covering at that resolution would exceed
  ``max_cover_cells`` (continents, country outlines) instead take a
  **broadcast rail**: they are few by construction, so they broadcast
  with (bbox + rings) and BNL-join the other side on strict bbox overlap.
  The three paths (small x small via cells, big-left x all, big-right x
  small-left) partition the pair space exactly, so their union needs no
  dedup.

Candidate completeness: if two polygons intersect they share a point p;
every cell-covered polygon's covering contains p's cell (the covering
enumerates every cell intersecting the polygon — boundary-crossed cells
via sampled edges + disk(1), interior cells via center-inside scanline,
see pip._cover_one), so the pair meets in the cell equi-join; pairs with
a big side meet in a bbox rail (bbox overlap is implied by intersection).

Exact test (generic position, simple single-ring polygons): two polygons
intersect iff some edge pair properly crosses, or — when no edges cross,
one may contain the other — a vertex of either lies inside the other
(even-odd, same half-open crossing rule as the PIP kernel). Proper
crossing uses strict orientation signs (d1*d2 < 0 AND d3*d4 < 0);
boundary-touching contacts (collinear overlap, vertex exactly on an
edge) are convention-dependent and documented as such — inputs in
generic position (no exactly-coincident coordinates) are decided
exactly, and the SQL oracle replays the identical arithmetic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmgraft.functions.cells import hex_edge_deg
from osmgraft.operators.pip import _cover_one, closed_ring, point_in_ring


def cover_estimate(rl: np.ndarray, rg: np.ndarray, res: int) -> float:
    """Covering-size estimate of one ring at ``res`` — the same
    conservative perimeter/inradius + area/hex-area formula the PIP
    ladder uses to pick its level (pip._cover_one), exposed standalone so
    the overlay join can route oversized polygons to the broadcast rail
    BEFORE paying for a covering."""
    y2 = np.roll(rl, -1)
    x2 = np.roll(rg, -1)
    perimeter = float(np.hypot(y2 - rl, x2 - rg).sum())
    area = 0.5 * abs(float(np.dot(rg, y2) - np.dot(x2, rl)))
    size = hex_edge_deg(res)
    rin = 0.866025 * size
    return perimeter / rin + area / (2.598 * size * size) + 4.0


def _big_flag_udf(res: int, max_cover_cells: int):
    """(ring_lats, ring_lons) -> boolean: covering-size routing decision
    ONLY. Split from the rasterization on purpose: the flag filters both
    the small and the big branch of each side, so Spark evaluates it once
    per branch — a few numpy ops per polygon, cheap to recompute — while
    the expensive ring rasterization (:func:`_cover_cells_udf`) appears
    only in the small-path cell explode and therefore runs exactly once
    per polygon, with no persist/checkpoint needed to avoid recompute."""

    @F.pandas_udf("boolean")
    def _big(rlats: pd.Series, rlons: pd.Series) -> pd.Series:
        out = np.zeros(len(rlats), dtype=bool)
        for i, (rl, rg) in enumerate(zip(rlats, rlons)):
            if len(rl) >= 3:
                rl = np.asarray(rl, dtype=np.float64)
                rg = np.asarray(rg, dtype=np.float64)
                out[i] = cover_estimate(rl, rg, res) > max_cover_cells
        return pd.Series(out)

    return _big


def _cover_cells_udf(res: int):
    """(ring_lats, ring_lons) -> array<long> exact covering at ``res``
    (boundary edge-sampling + disk(1) + scanline interior, pip._cover_one).
    Callers must route oversized polygons away first (:func:`_big_flag_udf`)
    — this kernel rasterizes unconditionally."""

    @F.pandas_udf("array<long>")
    def _cover(rlats: pd.Series, rlons: pd.Series) -> pd.Series:
        cells = []
        for rl, rg in zip(rlats, rlons):
            rl = np.asarray(rl, dtype=np.float64)
            rg = np.asarray(rg, dtype=np.float64)
            if len(rl) < 3:
                cells.append(np.empty(0, dtype=np.int64))
            else:
                cells.append(_cover_one(rl, rg, [res], float("inf")))
        return pd.Series(cells)

    return _cover


def _spread(df: DataFrame) -> DataFrame:
    """Repartition up to the session's default parallelism when the input
    arrives in fewer partitions — a single small parquet file otherwise
    pins the per-polygon covering kernel onto ONE core. At deployment
    scale the input is already thousands of partitions and this is a
    no-op (no shuffle added); the check reads only plan metadata."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _orient(ax, ay, bx, by, px, py):
    """Orientation sign of P relative to directed edge A->B (x=lon, y=lat):
    (Bx-Ax)*(Py-Ay) - (By-Ay)*(Px-Ax) — the exact parenthesization the SQL
    oracle replays."""
    return (bx - ax) * (py - ay) - (by - ay) * (px - ax)


def rings_intersect(al: np.ndarray, ag: np.ndarray, bl: np.ndarray, bg: np.ndarray) -> bool:
    """Exact pairwise test for two simple rings (module-docstring
    semantics). O(n*m) vectorized edge-pair orientation products; ring
    sizes are small (OSM admin rings cap at ~10^3 vertices after
    simplification), so the outer product stays in one numpy block."""
    a1y, a1x = al, ag
    a2y, a2x = np.roll(al, -1), np.roll(ag, -1)
    b1y, b1x = bl, bg
    b2y, b2x = np.roll(bl, -1), np.roll(bg, -1)
    # edges of A vs endpoints of B: (na, nb) orientation grids
    d1 = _orient(a1x[:, None], a1y[:, None], a2x[:, None], a2y[:, None], b1x[None, :], b1y[None, :])
    d2 = _orient(a1x[:, None], a1y[:, None], a2x[:, None], a2y[:, None], b2x[None, :], b2y[None, :])
    d3 = _orient(b1x[None, :], b1y[None, :], b2x[None, :], b2y[None, :], a1x[:, None], a1y[:, None])
    d4 = _orient(b1x[None, :], b1y[None, :], b2x[None, :], b2y[None, :], a2x[:, None], a2y[:, None])
    if bool(((d1 * d2 < 0) & (d3 * d4 < 0)).any()):
        return True
    # no proper crossing: disjoint, or one contains the other — one vertex
    # probe each way decides (half-open even-odd, same rule as pip kernel).
    # point_in_ring iterates consecutive vertex pairs only, so the rings
    # must be explicitly closed here (the edge grids above wrap via roll).
    acl, acg = closed_ring(al, ag)
    bcl, bcg = closed_ring(bl, bg)
    return point_in_ring(al[0], ag[0], bcl, bcg) or point_in_ring(bl[0], bg[0], acl, acg)


def _intersects_udf():
    @F.pandas_udf("boolean")
    def _hit(alat: pd.Series, alon: pd.Series, blat: pd.Series, blon: pd.Series) -> pd.Series:
        out = np.zeros(len(alat), dtype=bool)
        for i, (al, ag, bl, bg) in enumerate(zip(alat, alon, blat, blon)):
            al = np.asarray(al, dtype=np.float64)
            ag = np.asarray(ag, dtype=np.float64)
            bl = np.asarray(bl, dtype=np.float64)
            bg = np.asarray(bg, dtype=np.float64)
            if len(al) >= 3 and len(bl) >= 3:
                out[i] = rings_intersect(al, ag, bl, bg)
        return pd.Series(out)

    return _hit


def _with_bbox(df: DataFrame, prefix: str) -> DataFrame:
    return (
        df.withColumn(f"{prefix}minlat", F.array_min(f"{prefix}ring_lats"))
        .withColumn(f"{prefix}maxlat", F.array_max(f"{prefix}ring_lats"))
        .withColumn(f"{prefix}minlon", F.array_min(f"{prefix}ring_lons"))
        .withColumn(f"{prefix}maxlon", F.array_max(f"{prefix}ring_lons"))
    )


def _bbox_overlap(lp: str, rp: str):
    """Strict bbox-overlap predicate (open intervals): polygons that
    merely touch along a bbox edge are generic-position-excluded, and
    strictness keeps the SQL oracle's arithmetic identical."""
    return (
        (F.col(f"{lp}minlat") < F.col(f"{rp}maxlat"))
        & (F.col(f"{rp}minlat") < F.col(f"{lp}maxlat"))
        & (F.col(f"{lp}minlon") < F.col(f"{rp}maxlon"))
        & (F.col(f"{rp}minlon") < F.col(f"{lp}maxlon"))
    )


def poly_intersects_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    res: int = 6,
    max_cover_cells: int = 256,
) -> DataFrame:
    """All (``left_id``, ``right_id``) pairs whose polygons intersect.

    Both inputs carry single-ring polygons as ``ring_lats``/``ring_lons``
    (array<double>, closed or unclosed) plus a unique id column. Output
    is the pair relation — two columns, one row per intersecting pair.

    ``res`` is the shared covering resolution; ``max_cover_cells`` routes
    polygons whose covering would exceed it to the broadcast rail (see
    module docstring). Physical plan: one cell equi-join + one pair-dedup
    shuffle + a BNL join bounded by the (few) oversized polygons. The
    routing flag is a cheap estimate UDF (recomputed per branch, a few
    numpy ops per polygon); the expensive ring rasterization appears only
    in the small-path explode, so it runs exactly once per polygon.
    """
    big = _big_flag_udf(res, max_cover_cells)
    cover = _cover_cells_udf(res)
    hit = _intersects_udf()

    lbase = _with_bbox(
        _spread(
            left.select(
                F.col(left_id).alias("_lid"),
                F.col("ring_lats").alias("_lring_lats"),
                F.col("ring_lons").alias("_lring_lons"),
            )
        ),
        "_l",
    )
    rbase = _with_bbox(
        _spread(
            right.select(
                F.col(right_id).alias("_rid"),
                F.col("ring_lats").alias("_rring_lats"),
                F.col("ring_lons").alias("_rring_lons"),
            )
        ),
        "_r",
    )
    lpoly = lbase.withColumn("_lbig", big("_lring_lats", "_lring_lons"))
    rpoly = rbase.withColumn("_rbig", big("_rring_lats", "_rring_lons"))

    l_small = lpoly.where(~F.col("_lbig")).drop("_lbig")
    l_big = lpoly.where(F.col("_lbig")).drop("_lbig")
    r_small = rpoly.where(~F.col("_rbig")).drop("_rbig")
    r_big = rpoly.where(F.col("_rbig")).drop("_rbig")

    exact = hit("_lring_lats", "_lring_lons", "_rring_lats", "_rring_lons")
    pair_cols = [F.col("_lid").alias(left_id), F.col("_rid").alias(right_id)]

    # path A: small x small through the shared-cell equi-join. bbox
    # prefilter runs codegen-side BEFORE the pair-dedup shuffle; the
    # exact kernel runs once per surviving distinct pair.
    lc = l_small.withColumn("_cell", F.explode(cover("_lring_lats", "_lring_lons")))
    rc = r_small.withColumn("_cell", F.explode(cover("_rring_lats", "_rring_lons")))
    cand = (
        lc.join(rc, "_cell")
        .where(_bbox_overlap("_l", "_r"))
        .dropDuplicates(["_lid", "_rid"])
    )
    pairs_a = cand.where(exact).select(*pair_cols)

    # path B: oversized left polygons broadcast against ALL right rows.
    pairs_b = (
        F.broadcast(l_big)
        .join(rbase, _bbox_overlap("_l", "_r"))
        .where(exact)
        .select(*pair_cols)
    )
    # path C: oversized right polygons broadcast against small-left only
    # (big-left x big-right pairs already live in path B).
    pairs_c = (
        l_small.join(F.broadcast(r_big), _bbox_overlap("_l", "_r"))
        .where(exact)
        .select(*pair_cols)
    )
    return pairs_a.unionByName(pairs_b).unionByName(pairs_c)
