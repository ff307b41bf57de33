"""J6: kNN joins via cell-ring candidate pruning, and label deduplication
by an election grid plus one exact probe for the elected leaders.

Engine extension (north_rule); absent from the reference. The geometry is
pure Catalyst: haversine distance is built from built-in trig functions
(whole-stage codegen — no UDF), and the candidate space is pruned by a
hex-cell disk(``probe_k``) self-join: with k * cell inradius >= the search
radius, every true neighbor within the radius lies in the 3k(k+1)+1-cell
disk around the query point's cell, so the join is an equi-join on cell id
(shuffle co-partitioned by cell; dense-city skew handled by
operators/skew.py). probe_k=3 by default: finer cells + a wider probe
track the search circle ~2x tighter than disk(1) at coarse cells (the
power-of-two edge quantization can make the k=1 cell ~2x oversize), at the
cost of a 37-integer probe explode — measured faster on dense data and
identical in results (see res_for_radius).

Resolution is latitude-banded: the disk(1) guarantee must inflate the
radius by 1/cos(lat) in longitude-degrees, and a single global resolution
has to assume the worst latitude in the data — cells ~5x coarser than
equatorial data needs, i.e. up to ~25x extra candidate pairs through the
exact haversine filter. Each row is instead encoded ONCE at the finest
resolution its own |lat| band supports (the resolution is packed into the
cell id, so cells from different bands can never collide), and the whole
search stays a single equi-join: right-side rows within the search radius
of a band edge additionally emit the adjacent band's encoding, and rows
near the antimeridian emit a lon+-360 replica, all produced in one
vectorized kernel as an array<long> that Catalyst explodes. Polar caps
(|lat| >= 84.26, where 1/cos blows up) collapse to one sentinel cell per
hemisphere on both sides, which turns the cap search into an exact
per-hemisphere brute-force join INSIDE the same equi-join — no extra
plan branches, and the operator is correct at every latitude instead of
silently missing neighbors near the poles.

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

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from osmgraft.functions.cells import (
    _HEX_BASE_EDGE,
    hex_cell,
    hex_edge_deg,
    hex_neighbors_expr,
    pack_hex,
)

EARTH_RADIUS_M = 6_371_008.8
DEG_M = EARTH_RADIUS_M * math.pi / 180.0  # meters per degree latitude

# |lat| band upper edges; cos at the edges: 0.700, 0.500, 0.250, 0.100.
# Band b covers [_BAND_LO[b], _BAND_LO[b+1]); band 4 is the polar cap.
_BAND_LO = np.array([0.0, 45.573, 60.0, 75.522, 84.261])
POLAR_CAP_LAT = float(_BAND_LO[-1])
# Sentinel "resolution" for the cap cells: above any real res (<=15), below
# 32 so the packed id keeps the int64 sign bit clear.
_SENTINEL_RES = 31


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters — pure Catalyst expression.

    Periodic in longitude (sin^2(dlon/2) is symmetric about 180), so it
    needs no antimeridian special-casing; only the *cell grid* does.
    """
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dphi = F.radians(lat2 - lat1)
    dlmb = F.radians(lon2 - lon1)
    a = F.sin(dphi / 2) ** 2 + F.cos(p1) * F.cos(p2) * F.sin(dlmb / 2) ** 2
    return 2 * EARTH_RADIUS_M * F.asin(F.sqrt(a))


def res_for_radius(radius_m: float, min_cos_lat: float = 0.2, probe_k: int = 1) -> int:
    """Finest hex resolution satisfying the disk(``probe_k``) containment
    guarantee: any point within ``radius_m`` of a query lies in the
    3k(k+1)+1-cell disk around the query's cell. Sufficient condition:
    k * hex inradius (sqrt(3)/2 * edge, in plane degrees) >= the search
    radius in degrees, where longitude degrees are inflated by 1/cos(lat)
    up to the supported latitude (induction on k: dilating a cell union by
    one inradius stays within its one-ring expansion).

    Why probe deeper than disk(1): cell edges are powers of two, so the
    coarsest-fitting cell can be ~2x oversize and the probed area up to
    ~4x the search circle ON TOP of the 7/pi disk overhead. Finer cells +
    a wider probe track the circle better: probed-area factor is
    (3 + 3/k + 1/k^2) * (rounded-edge inflation)^2, i.e. k=3 cuts true
    candidate volume ~2-3x for radii that round badly at k=1, at the cost
    of a 37-cell probe explode (cheap codegen integers vs real pairs
    through the haversine)."""
    radius_deg = radius_m / (DEG_M * min_cos_lat)
    for res in range(15, -1, -1):
        if 0.866 * hex_edge_deg(res) * probe_k >= radius_deg:
            return res
    return 0


def _band_res(radius_m: float, probe_k: int = 1) -> tuple[np.ndarray, float]:
    """Per-band resolutions (4 hex bands; guarantee holds out to the band
    edge + the latitude margin so boundary replicas are covered too)."""
    lat_margin = radius_m / DEG_M
    res = []
    for hi in _BAND_LO[1:]:
        min_cos = math.cos(math.radians(min(hi + lat_margin, 89.9)))
        res.append(res_for_radius(radius_m, min_cos_lat=min_cos, probe_k=probe_k))
    return np.asarray(res, dtype=np.int64), lat_margin


def _sentinel(lat: np.ndarray) -> np.ndarray:
    """One constant cell per hemisphere: equi-joining on it IS the polar
    brute-force join (exact haversine filters afterwards)."""
    return pack_hex((lat > 0).astype(np.int64), np.zeros(len(lat), np.int64), _SENTINEL_RES)


def _enc_banded(lat: np.ndarray, lon: np.ndarray, res: np.ndarray) -> np.ndarray:
    """Encode at per-row res; rows with res == _SENTINEL_RES get the
    hemisphere sentinel instead of a grid cell."""
    cap = res == _SENTINEL_RES
    out = hex_cell(lat, lon, np.where(cap, 0, res))
    if cap.any():
        out = np.where(cap, _sentinel(lat), out)
    return out


def _left_cell_udf(radius_m: float, probe_k: int = 1):
    res_by_band, _ = _band_res(radius_m, probe_k)

    @F.pandas_udf("long")
    def _enc(lat: pd.Series, lon: pd.Series) -> pd.Series:
        la, lo = lat.to_numpy(), lon.to_numpy()
        band = np.digitize(np.abs(la), _BAND_LO[1:])
        res = np.where(band < 4, res_by_band[np.clip(band, 0, 3)], _SENTINEL_RES)
        return pd.Series(_enc_banded(la, lo, res))

    return _enc


def _right_cells_udf(radius_m: float, probe_k: int = 1):
    res_by_band, lat_margin = _band_res(radius_m, probe_k)

    @F.pandas_udf("array<long>")
    def _enc(lat: pd.Series, lon: pd.Series) -> pd.Series:
        la, lo = lat.to_numpy(), lon.to_numpy()
        n = len(la)
        ala = np.abs(la)
        band = np.digitize(ala, _BAND_LO[1:])
        own_res = np.where(band < 4, res_by_band[np.clip(band, 0, 3)], _SENTINEL_RES)

        # boundary replica: within lat_margin of a band edge, also encode at
        # the adjacent band's res so cross-band pairs survive the equi-join.
        # (band widths >> margin, so at most one edge can be within margin.)
        rep_res = np.full(n, -1, np.int64)
        lower = (band >= 1) & (ala < _BAND_LO[np.clip(band, 1, 4)] + lat_margin)
        rep_res[lower] = res_by_band[np.clip(band[lower] - 1, 0, 3)]
        hi_edge = np.where(band < 4, _BAND_LO[np.clip(band + 1, 1, 4)], 90.0)
        upper = (band < 4) & (ala >= hi_edge - lat_margin)
        up_band = np.clip(band + 1, 0, 4)
        rep_res[upper] = np.where(
            up_band[upper] < 4, res_by_band[np.clip(up_band[upper], 0, 3)], _SENTINEL_RES
        )
        # adjacent bands may share a resolution (the radius can demand the
        # same res on both sides of an edge) — then the "replica" would be
        # the own cell again and every sliver pair would be emitted twice.
        rep_res[rep_res == own_res] = -1

        # antimeridian replica: the grid is a lon/lat plane, so a row near
        # +-180 also emits its cell at lon -+ 360 (sentinels are lon-free
        # and skip this). The exact haversine is periodic, so distances of
        # replica matches are computed on the ORIGINAL coordinates.
        grid_res = np.where(own_res == _SENTINEL_RES, np.where(rep_res >= 0, rep_res, 0), own_res)
        edge = _HEX_BASE_EDGE / (np.int64(1) << grid_res).astype(np.float64)
        lon_margin = radius_m / (DEG_M * np.maximum(np.cos(np.radians(la)), 0.05)) + (probe_k + 1) * edge
        shift = np.where(lo > 180.0 - lon_margin, -360.0, np.where(lo < -180.0 + lon_margin, 360.0, 0.0))

        cells = np.full((n, 4), -1, np.int64)
        cells[:, 0] = _enc_banded(la, lo, own_res)
        m = rep_res >= 0
        if m.any():
            cells[m, 1] = _enc_banded(la[m], lo[m], rep_res[m])
        s = (shift != 0.0) & (own_res != _SENTINEL_RES)
        if s.any():
            cells[s, 2] = _enc_banded(la[s], lo[s] + shift[s], own_res[s])
        sr = (shift != 0.0) & m & (rep_res != _SENTINEL_RES)
        if sr.any():
            cells[sr, 3] = _enc_banded(la[sr], lo[sr] + shift[sr], rep_res[sr])
        return pd.Series(list(cells))

    return _enc


def _left_cand_expr(cell: Column, probe_k: int = 1) -> Column:
    """Candidate cells a left row probes. Grid rows probe the disk(1)
    neighborhood; polar-cap sentinel rows probe ONLY the sentinel cell —
    the disk(1) offset arithmetic on a sentinel id would land on the
    OPPOSITE hemisphere's sentinel ((q=1,r=0)+(-1,0) == (q=0,r=0)), turning
    every cap left row into a brute-force join against the other cap's
    right rows. Results were still correct (haversine filters the
    cross-hemisphere pairs) but the candidate blow-up is unnecessary."""
    is_sentinel = F.shiftrightunsigned(cell, 58) == F.lit(_SENTINEL_RES)
    return F.when(is_sentinel, F.array(cell)).otherwise(hex_neighbors_expr(cell, k=probe_k))


def _suffix_right(right: DataFrame) -> list[Column]:
    return [F.col(c).alias(f"{c}_r") for c in right.columns]


def _candidate_pairs(
    left: DataFrame,
    right: DataFrame,
    radius_m: float,
    left_cols: tuple[str, str],
    right_cols: tuple[str, str],
    probe_k: int,
    skew_max_rows: int | None | str,
) -> DataFrame:
    """Every pair the cell equi-join of :func:`knn_candidates` emits, with
    its haversine ``dist_m`` and before the radius filter: the pairs the
    exact distance test is paid for."""
    l = left.withColumn(
        "_cell", _left_cell_udf(radius_m, probe_k)(F.col(left_cols[0]), F.col(left_cols[1]))
    )
    l_exp = l.withColumn(
        "_cand", F.explode(_left_cand_expr(F.col("_cell"), probe_k))
    ).drop("_cell")

    r_cells = _right_cells_udf(radius_m, probe_k)(F.col(right_cols[0]), F.col(right_cols[1]))
    r_exp = (
        right.select(_suffix_right(right) + [F.explode(r_cells).alias("_cell_r")])
        .where(F.col("_cell_r") != -1)
    )

    if skew_max_rows == "auto":
        from osmgraft.operators.skew import auto_skew_bound

        skew_max_rows = auto_skew_bound(left.sparkSession)
    if skew_max_rows:
        from osmgraft.operators.skew import hot_cell_map, replicate_cells, salt_cells

        hot = hot_cell_map(r_exp, "_cell_r", skew_max_rows)
        r_exp = salt_cells(
            r_exp, hot, "_cell_r", [f"{right_cols[0]}_r", f"{right_cols[1]}_r"]
        )
        l_exp = replicate_cells(l_exp, hot.withColumnRenamed("_cell_r", "_cand"), "_cand")
        pairs = l_exp.join(
            r_exp,
            (l_exp["_cand"] == r_exp["_cell_r"]) & (l_exp["_cell_salt"] == r_exp["_cell_salt"]),
        ).drop("_cand", "_cell_r", "_cell_salt")
    else:
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
    probe_k: int = 3,
    skew_max_rows: int | None | str = "auto",
) -> DataFrame:
    """All (left, right) pairs within ``radius_m`` — cell-pruned equi-join +
    exact haversine filter. Right columns arrive suffixed with ``_r``.

    ``skew_max_rows``: split hot cells before the equi-join —
    right rows in cells over the bound are salted (pure hash of their
    coordinates), left probe rows replicate once per salt bucket, and the
    join runs on (cell, salt). Identical pairs out (tested), but a dense
    urban cell's reduce work spreads over ceil(n/bound) tasks instead of
    pinning one. Best-effort past ``hot_cell_map``'s 64-salt replication
    cap: a cell beyond ``64 * skew_max_rows`` rows splits 64 ways
    proportionally (see :func:`osmgraft.operators.skew.hot_cell_map`).
    The default ``"auto"`` derives the bound from AQE's advisory
    partition size (:func:`osmgraft.operators.skew.auto_skew_bound`), so
    the rail is on unless explicitly disabled with ``None``.

    The resolution is latitude-banded and the whole search — all bands,
    antimeridian replicas, and polar caps — is ONE equi-join over
    single-pass encodings of each side (see module docstring).

    No pair can be emitted twice: a right row emits at most one cell per
    (resolution, lon-replica) pair, the left disk(1) holds 7 cells of one
    resolution spanning < 1 plane-degree, and lon replicas sit ~360
    plane-degrees apart — so per left row at most one of a right row's
    emitted cells can land in the disk, and no dedup pass is needed.
    """
    pairs = _candidate_pairs(left, right, radius_m, left_cols, right_cols, probe_k, skew_max_rows)
    return pairs.where(F.col("dist_m") <= radius_m)


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    radius_m: float,
    left_key: str,
    probe_k: int = 3,
) -> DataFrame:
    """Top-k nearest right rows per left row within ``radius_m``.

    Bounded-radius kNN (the label-dedup use case): neighbors beyond
    ``radius_m`` are irrelevant by construction, so no iterative ring
    expansion is needed.
    """
    cand = knn_candidates(left, right, radius_m, probe_k=probe_k)
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
    slim: DataFrame, radius_m: float, rank_col: str, id_col: str, skew_max_rows: int | None | str
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
    probed = _candidate_pairs(
        leaders, slim, radius_m, ("lat", "lon"), ("lat", "lon"), probe_k=3, skew_max_rows=skew_max_rows
    )
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
      predicate; that join owns the band, antimeridian and polar-cap
      handling. A label is met by at most the leaders of the election
      cells within the probe's reach — a bounded number of cells for a
      given radius, one leader each barring ties — so the tested pairs
      grow linearly in the label count, whatever the density.

    The slim (id, rank, lat, lon) projection is localCheckpointed once:
    both join sides read it, and a nondeterministic upstream could
    otherwise disagree with itself between them. Its count switches the
    probe's skew rail off when no cell can exceed the rail's bound.
    ``prepass_min_rows`` is accepted for old callers and has no effect."""
    from osmgraft.operators.skew import auto_skew_bound

    slim = labels.select(id_col, rank_col, "lat", "lon").localCheckpoint(eager=True)
    skew = None if slim.count() <= auto_skew_bound(slim.sparkSession) else "auto"
    suppressed = _dedup_frames(slim, radius_m, rank_col, id_col, skew)["suppressed"]
    return labels.join(suppressed, id_col, "left_anti")
