"""Nearest-segment snap join: each point matched to the closest way
segment within ``radius_m`` (map-matching candidate stage).

Engine extension (north_rule); absent from the reference (osm_input never
relates nodes to way geometry spatially). Real pipelines need it for
snapping GPS traces / POI coordinates onto the road network — the
candidate stage of every map-matcher.

Scale shape (a cell equi-join with a line-covered build side):

- one shared hex resolution from :func:`cells.res_for_radius` (finest res
  whose disk(``probe_k``) containment guarantee covers ``radius_m`` out
  to ``|lat| <= acos(min_cos_lat)``);
- segments are covered by the cells they pass through: samples every
  <= one inradius along the segment, each sample's cell expanded by
  disk(1) — the same boundary-sampling argument as the PIP covering
  (any cell the segment crosses contains a segment point q; the nearest
  sample is within rin/2 of q, so its disk(1) contains q's cell);
- points explode their disk(``probe_k``) neighborhood (pure-Catalyst
  integer array, no Python) and equi-join segments on cell;
- the exact point-to-segment distance is a pure-Catalyst expression
  (clamped projection onto the segment in a local equirectangular frame:
  lon scaled by cos(point lat)); candidates past ``radius_m`` drop, and
  ONE aggregate — ``min(struct(dist2, seg id))`` per point — picks the
  nearest with a deterministic tie-break. Duplicate candidate rows (a
  pair can meet in several probed cells) are absorbed by the min, so no
  pair-dedup shuffle exists anywhere in the plan.

Candidate completeness: the nearest segment point q has equirectangular
distance <= radius; planar-degree distance inflates it by at most
1/min_cos_lat, which is exactly the inflation res_for_radius guarantees
against, so q's cell lies in the point's probed disk AND in the
segment's covering — the pair survives to the exact test.

Limitations (documented, not silent): latitudes beyond
acos(min_cos_lat) and segments crossing the antimeridian are outside
the guarantee. The kNN join's 3-D chord grid (operators/knn.py) has
neither seam, but no segment covering on it exists yet.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osmgraft.functions.cells import (
    DEG_M,
    hex_cell,
    hex_cell_udf,
    hex_edge_deg,
    hex_neighbors_expr,
    res_for_radius,
)
from osmgraft.operators.pip import _DISK1


def point_segment_proj(
    py: Column, px: Column, y1: Column, x1: Column, y2: Column, x2: Column
) -> tuple[Column, Column]:
    """(d2, tt): the exact squared point-segment distance AND the clamped
    projection parameter, from ONE canonical set of subterms (see
    point_segment_dist2's parenthesization note — this is the single
    source the matcher, the snap join, and their SQL oracles must all
    agree with; tt shares d2's subterms so Catalyst CSEs them)."""
    c = F.cos(F.radians(py))
    ax = (x1 - px) * c
    ay = y1 - py
    bx = (x2 - px) * c
    by = y2 - py
    dx = bx - ax
    dy = by - ay
    len2 = dx * dx + dy * dy
    u = -(ax * dx + ay * dy)
    d2 = (
        F.when(u <= 0, ax * ax + ay * ay)
        .when(u >= len2, bx * bx + by * by)
        .otherwise(F.greatest(F.lit(0.0), ax * ax + ay * ay - u * u / len2))
    )
    tt = F.when(u <= 0, F.lit(0.0)).when(u >= len2, F.lit(1.0)).otherwise(u / len2)
    return d2, tt


def point_segment_dist2(
    py: Column, px: Column, y1: Column, x1: Column, y2: Column, x2: Column
) -> Column:
    """Squared point-to-segment distance in squared degrees, pure
    Catalyst: the segment is projected into the point's local
    equirectangular frame (lon scaled by cos(lat)) and the classic
    three-case form picks endpoint A, endpoint B, or the perpendicular
    residual |a|^2 - u^2/len2. The branch form matters for the PLAN, not
    just style: the clamped-parameter form ``(a + tt*d)^2`` inlines the
    ``tt`` CASE expression eight times once Catalyst pushes the radius
    predicate into the join condition, blowing the codegen method limit
    and dropping the join to interpreted evaluation (~10x slower); the
    branch form keeps every subterm at most twice. The SQL oracle
    replays the identical parenthesization.

    ``len2 == 0`` (degenerate segment) lands in the first branch
    (``u = -0.0 <= 0``), so the division is guarded; the perpendicular
    branch clamps at 0 so roundoff on on-segment points can't produce a
    negative d2 (and NaN after sqrt)."""
    return point_segment_proj(py, px, y1, x1, y2, x2)[0]


def _seg_cells_udf(res: int):
    """(lat1, lon1, lat2, lon2) -> covering cells of the segment at
    ``res`` (array<long>): samples every <= one inradius, disk(1) slack."""
    rin = 0.866025 * hex_edge_deg(res)

    @F.pandas_udf("array<long>")
    def _cov(y1: pd.Series, x1: pd.Series, y2: pd.Series, x2: pd.Series) -> pd.Series:
        out = []
        for a, b, c, d in zip(y1, x1, y2, x2):
            n = max(int(math.ceil(math.hypot(c - a, d - b) / rin)), 1)
            t = np.arange(n + 1, dtype=np.float64) / n
            cells = np.unique(hex_cell(a + t * (c - a), b + t * (d - b), res))
            out.append(np.unique(cells[:, None] + _DISK1[None, :]))
        return pd.Series(out)

    return _cov


def snap_join(
    points: DataFrame,
    segments: DataFrame,
    radius_m: float,
    point_id: str = "pid",
    seg_id: str = "sid",
    point_cols: tuple[str, str] = ("lat", "lon"),
    seg_cols: tuple[str, str, str, str] = ("lat1", "lon1", "lat2", "lon2"),
    min_cos_lat: float = 0.2,
    probe_k: int = 2,
) -> DataFrame:
    """(``point_id``, ``seg_id``, ``dist_m``) — the nearest segment within
    ``radius_m`` of each point (points with no segment in range drop).

    Ties on distance break deterministically by ``seg_id``. See the
    module docstring for the candidate-completeness guarantee and the
    supported latitude range."""
    lat, lon = point_cols
    y1, x1, y2, x2 = seg_cols
    res = res_for_radius(radius_m, min_cos_lat=min_cos_lat, probe_k=probe_k)

    segs = segments.select(
        F.col(seg_id).alias("_sid"),
        F.col(y1).alias("_y1"),
        F.col(x1).alias("_x1"),
        F.col(y2).alias("_y2"),
        F.col(x2).alias("_x2"),
    ).withColumn("_cell", F.explode(_seg_cells_udf(res)("_y1", "_x1", "_y2", "_x2")))
    pts = points.select(
        F.col(point_id).alias("_pid"), F.col(lat).alias("_py"), F.col(lon).alias("_px")
    ).withColumn(
        "_cell",
        F.explode(hex_neighbors_expr(hex_cell_udf(res)(F.col("_py"), F.col("_px")), probe_k)),
    )

    d2 = point_segment_dist2(
        F.col("_py"), F.col("_px"), F.col("_y1"), F.col("_x1"), F.col("_y2"), F.col("_x2")
    )
    radius_deg2 = (radius_m / DEG_M) ** 2
    cand = (
        pts.join(segs, "_cell")
        .withColumn("_d2", d2)
        .where(F.col("_d2") <= F.lit(radius_deg2))
    )
    best = cand.groupBy("_pid").agg(F.min(F.struct("_d2", "_sid")).alias("_best"))
    return best.select(
        F.col("_pid").alias(point_id),
        F.col("_best._sid").alias(seg_id),
        (F.sqrt("_best._d2") * F.lit(DEG_M)).alias("dist_m"),
    )
