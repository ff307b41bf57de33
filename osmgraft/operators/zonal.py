"""Zonal statistics: aggregate a per-point value over polygon zones.

The classic geospatial OLAP query — mean population per admin area,
total label mass per landuse polygon, raster cells (as their center
points) reduced per watershed. It composes the engine's existing scale
machinery rather than inventing new shuffles: the point->zone mapping is
:func:`osmgraft.operators.pip.pip_join` (broadcast or cell-partitioned
covering equi-join, whose hot cells AQE's skew-join split spreads over
tasks — see pip.py), and the reduction is ONE algebraic groupBy over the
join output, so map-side partial aggregation applies and the only
data-sized shuffles are the PIP join's cell exchange plus the zone
rollup.

Points inside k overlapping zones contribute to all k (standard zonal
semantics over non-disjoint zones). Raster zonal stats come free:
``osmgraft.operators.raster.rasterize``'s cell centers are just points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_STATS = ("count", "sum", "mean", "min", "max")


def zonal_stats(
    points: DataFrame,
    polygons: DataFrame,
    value_col: str,
    stats: tuple[str, ...] = ("count", "sum", "mean"),
    point_cols: tuple[str, str] = ("lat", "lon"),
    include_empty_zones: bool = False,
    **pip_kwargs,
) -> DataFrame:
    """Per-zone aggregates of ``value_col``: one output row per polygon
    that contains at least one point (or per polygon, with
    ``include_empty_zones`` — empty zones carry count 0 and NULL
    sum/mean/min/max). Extra ``pip_kwargs`` pass through to
    :func:`pip_join` (strategy, res, max_cover_cells, ...).

    Output: ``(poly_id, poly_name, <stat>_<value_col>...)``.
    """
    from osmgraft.operators.pip import pip_join

    bad = [s for s in stats if s not in _STATS]
    if bad or not stats:
        raise ValueError(f"stats must be non-empty, drawn from {_STATS}; got {stats}")
    joined = pip_join(points, polygons, point_cols=point_cols, **pip_kwargs)
    v = F.col(value_col)
    aggs = []
    for s in stats:
        if s == "count":
            aggs.append(F.count(v).alias(f"count_{value_col}"))
        elif s == "sum":
            aggs.append(F.sum(v).alias(f"sum_{value_col}"))
        elif s == "mean":
            aggs.append(F.avg(v).alias(f"mean_{value_col}"))
        elif s == "min":
            aggs.append(F.min(v).alias(f"min_{value_col}"))
        else:
            aggs.append(F.max(v).alias(f"max_{value_col}"))
    out = joined.groupBy("poly_id", "poly_name").agg(*aggs)
    if include_empty_zones:
        # zones are the SMALL side by assumption (they broadcast in the
        # join); a broadcast left join reattaches the empty ones. The
        # polygon input carries "name" (pip_join renames it poly_name).
        name = (
            F.col("name") if "name" in polygons.columns else F.lit(None).cast("string")
        )
        zones = polygons.select("poly_id", name.alias("poly_name")).distinct()
        out = zones.join(F.broadcast(out.drop("poly_name")), "poly_id", "left")
        if "count" in stats:
            out = out.withColumn(
                f"count_{value_col}", F.coalesce(F.col(f"count_{value_col}"), F.lit(0))
            )
    return out
