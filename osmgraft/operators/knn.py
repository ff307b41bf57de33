"""J6: kNN joins on a 3-D chord grid, and label deduplication by an
election grid plus one exact probe for the elected leaders.

Engine extension (north_rule); absent from the reference. The geometry is
pure Catalyst: haversine distance and the cell keys are built from
built-in trig functions and ``floor`` (whole-stage codegen — no UDF).

Candidate pairs come from one equi-join on a cubic grid in 3-D. A point's
cell is ``floor((X, Y, Z) / c)``, where ``(X, Y, Z)`` is ``EARTH_RADIUS_M``
times its ECEF unit vector and ``c`` is the chord of the search radius
(:func:`chord_side_m`). A chord is never longer than its arc, so two
points within the radius lie less than ``c`` apart on every axis and
their cells are at most one apart per axis: the 3x3x3 block of cells
around a query point holds every neighbor within the radius. The sphere
in 3-D has no seams, so the grid needs no special case at the poles or at
lon +-180, and no grid resolution depends on latitude. A dense-city cell
is a skewed equi-join partition, and AQE's skew-join split spreads it
over several tasks, as for every cell-keyed join.

Label dedup (:func:`dedup_labels`: drop a label if a better-ranked label
lies within ``r``) is one linear plan, after the background-grid argument
of Bridson's Poisson-disk sampling (SIGGRAPH 2007): in a grid whose cells
have a diameter of at most ``r``, every pair in a cell lies within ``r``.
Square lat/lon cells of side ``r / (sqrt(2) * DEG_M)`` degrees qualify at
every latitude, because the great-circle distance never exceeds ``DEG_M``
times the lat/lon plane distance. So one ``min(rank)`` per cell suppresses
everyone ranked worse than the cell's best without a distance test, and
only those leaders (ties included) go through the exact kNN join above.
A label meets at most one leader per election cell within the join's
reach, so the tested pairs are linear in the label count, however dense
the labels are.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# res_for_radius is re-exported only because perfbench/workloads.py
# imports it from here
from osmgraft.functions.cells import DEG_M, EARTH_RADIUS_M, res_for_radius  # noqa: F401

_AXES = ("x", "y", "z")
# the 27 offsets of a cell's 3x3x3 block
_BLOCK = [(dx, dy, dz) for dx in (-1, 0, 1) for dy in (-1, 0, 1) for dz in (-1, 0, 1)]


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters — pure Catalyst expression.

    Periodic in longitude (sin^2(dlon/2) is symmetric about 180), so it
    needs no antimeridian special-casing."""
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dphi = F.radians(lat2 - lat1)
    dlmb = F.radians(lon2 - lon1)
    a = F.sin(dphi / 2) ** 2 + F.cos(p1) * F.cos(p2) * F.sin(dlmb / 2) ** 2
    return 2 * EARTH_RADIUS_M * F.asin(F.sqrt(a))


def chord_side_m(radius_m: float) -> float:
    """Side, in meters, of the cubic cells of the kNN probe: the chord
    ``2R sin(r / 2R)`` of ``r = min(radius_m, pi R)`` (no two points are
    farther apart than half the circumference), grown by a relative 1e-9
    so that float rounding in the cell floor cannot carry a pair within
    ``radius_m`` two cells apart. Raises ``ValueError`` unless
    ``radius_m`` is positive and finite."""
    if not (math.isfinite(radius_m) and radius_m > 0):
        raise ValueError(f"radius_m must be positive and finite, got {radius_m!r}")
    r = min(radius_m, math.pi * EARTH_RADIUS_M)
    return 2 * EARTH_RADIUS_M * math.sin(r / (2 * EARTH_RADIUS_M)) * (1.0 + 1e-9)


def _chord_cell(lat: Column, lon: Column, side_m: float) -> Column:
    """``struct<x, y, z>`` of longs: the chord-grid cell of a point."""
    phi, lmb = F.radians(lat), F.radians(lon)
    k = EARTH_RADIUS_M / side_m
    unit = (F.cos(phi) * F.cos(lmb), F.cos(phi) * F.sin(lmb), F.sin(phi))
    return F.struct(*[F.floor(u * k).alias(a) for u, a in zip(unit, _AXES)])


def _block(cell: Column) -> Column:
    """The 27 cells of the 3x3x3 block around ``cell``."""
    return F.array(
        *[F.struct(*[(cell[a] + d).alias(a) for a, d in zip(_AXES, off)]) for off in _BLOCK]
    )


def _suffix_right(right: DataFrame) -> list[Column]:
    return [F.col(c).alias(f"{c}_r") for c in right.columns]


def _candidate_pairs(
    left: DataFrame,
    right: DataFrame,
    radius_m: float,
    left_cols: tuple[str, str],
    right_cols: tuple[str, str],
) -> DataFrame:
    """Every pair the cell equi-join of :func:`knn_candidates` emits, with
    its haversine ``dist_m`` and before the radius filter: the pairs the
    exact distance test is paid for. A left row probes the 27 cells of its
    block, a right row sits in exactly one cell, so each pair meets at most
    once. The left cell is a column of its own before the block is built
    from it: inlined into all 27 block cells, its trig would run 27 times."""
    side = chord_side_m(radius_m)
    l = left.withColumn("_cell", _chord_cell(F.col(left_cols[0]), F.col(left_cols[1]), side))
    l_exp = l.withColumn("_cand", F.explode(_block(F.col("_cell")))).drop("_cell")
    r_cell = _chord_cell(F.col(right_cols[0]), F.col(right_cols[1]), side)
    r_exp = right.select(_suffix_right(right) + [r_cell.alias("_cell_r")])

    pairs = l_exp.join(r_exp, l_exp["_cand"] == r_exp["_cell_r"]).drop("_cand", "_cell_r")
    dist = haversine_m(
        F.col(left_cols[0]), F.col(left_cols[1]), F.col(f"{right_cols[0]}_r"), F.col(f"{right_cols[1]}_r")
    )
    return pairs.withColumn("dist_m", dist)


def knn_candidates(
    left: DataFrame,
    right: DataFrame,
    radius_m: float,
    left_cols: tuple[str, str] = ("lat", "lon"),
    right_cols: tuple[str, str] = ("lat", "lon"),
) -> DataFrame:
    """All (left, right) pairs within ``radius_m`` — chord-grid equi-join
    (see module docstring) + exact haversine filter, each pair once. Right
    columns arrive suffixed with ``_r``; ``radius_m`` must be positive and
    finite."""
    pairs = _candidate_pairs(left, right, radius_m, left_cols, right_cols)
    return pairs.where(F.col("dist_m") <= radius_m)


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    radius_m: float,
    left_key: str,
) -> DataFrame:
    """Top-k nearest right rows per left row within ``radius_m``.

    Bounded-radius kNN (the label-dedup use case): neighbors beyond
    ``radius_m`` are irrelevant by construction, so no iterative ring
    expansion is needed.
    """
    cand = knn_candidates(left, right, radius_m)
    w = Window.partitionBy(left_key).orderBy(F.col("dist_m").asc())
    return cand.withColumn("knn_rank", F.row_number().over(w)).where(F.col("knn_rank") <= k)


def election_side_deg(radius_m: float) -> float:
    """Side, in degrees, of the square election cells of
    :func:`dedup_labels`: ``r / (sqrt(2) * DEG_M)``, so a cell's diagonal
    spans ``r`` of plane degrees, shrunk by a relative 1e-9 so that float
    rounding in the cell floor and in the haversine cannot carry a
    same-cell pair past ``r``."""
    return radius_m / (math.sqrt(2.0) * DEG_M) * (1.0 - 1e-9)


def _dedup_frames(
    slim: DataFrame, radius_m: float, rank_col: str, id_col: str
) -> dict[str, DataFrame]:
    """The plan of :func:`dedup_labels` over its slim (id, rank, lat, lon)
    frame, its intermediate frames exposed for tests: ``leaders`` (each
    election cell's min-rank labels), ``probed`` (every pair the leaders'
    exact probe tests, with ``dist_m``) and ``suppressed`` (the ids to drop,
    possibly repeated)."""
    side = election_side_deg(radius_m)
    cell = Window.partitionBy(F.floor(F.col("lat") / side), F.floor(F.col("lon") / side))
    # null for a null rank: such a label is neither a leader nor suppressed
    elected = slim.withColumn("_lead", F.col(rank_col) == F.min(rank_col).over(cell))
    leaders = elected.where(F.col("_lead")).drop("_lead")
    probed = _candidate_pairs(leaders, slim, radius_m, ("lat", "lon"), ("lat", "lon"))
    beaten = probed.where(
        (F.col("dist_m") <= radius_m)
        & (F.col(f"{rank_col}_r") < F.col(rank_col))
        & (F.col(f"{id_col}_r") != F.col(id_col))
    ).select(id_col)
    return {
        "leaders": leaders,
        "probed": probed,
        "suppressed": elected.where(~F.col("_lead")).select(id_col).unionByName(beaten),
    }


def dedup_labels(
    labels: DataFrame,
    radius_m: float,
    rank_col: str = "rank",
    id_col: str = "osm_id",
    prepass_min_rows: int | None = None,
) -> DataFrame:
    """kNN label dedup: suppress any label that has a MORE important label
    (smaller ``rank_col``) within ``radius_m``. Deterministic because the
    global rank is a total order; ``id_col`` names one label per value and
    ``lat``/``lon`` are non-null degrees.

    One plan, no gates (see :func:`_dedup_frames`):

    - **Election.** Each label falls in a square cell
      ``(floor(lat / s), floor(lon / s))`` of side ``s`` =
      :func:`election_side_deg`. The sphere's metric is dominated by the
      lat/lon plane's (``ds^2 = dlat^2 + cos^2(lat) dlon^2 <= dlat^2 +
      dlon^2``, in ``DEG_M`` metres per degree), so the great-circle
      distance of two points is at most ``DEG_M`` times their plane
      distance, at every latitude, the poles included. A cell's diagonal
      is ``r`` in those units: every pair in one cell lies within ``r``.
    - **In-cell suppression.** Every label ranked worse than its cell's
      ``min(rank)`` has a better-ranked label within ``r`` and is
      suppressed without a distance test. Labels at the cell's minimum
      are its leaders; tied labels are all kept as leaders, since a tie
      never suppresses.
    - **Leader probe.** Only leaders can survive. Each is decided exactly by
      :func:`knn_candidates` (leaders x all labels) with the rule's
      predicate; its chord grid has no seam at the poles or at lon +-180.
      A label is met by at most the leaders of the election cells within
      the probe's reach — a bounded number of cells for a given radius,
      one leader each barring ties — so the tested pairs grow linearly in
      the label count, whatever the density.

    The slim (id, rank, lat, lon) projection is localCheckpointed once:
    both join sides read it, and a nondeterministic upstream could
    otherwise disagree with itself between them. ``prepass_min_rows`` is
    accepted for old callers and has no effect."""
    chord_side_m(radius_m)  # reject a bad radius before any job runs
    slim = labels.select(id_col, rank_col, "lat", "lon").localCheckpoint(eager=True)
    suppressed = _dedup_frames(slim, radius_m, rank_col, id_col)["suppressed"]
    return labels.join(suppressed, id_col, "left_anti")
