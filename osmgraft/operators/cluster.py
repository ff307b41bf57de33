"""Distributed DBSCAN over lat/lon points — density clustering for POI
conflation (merge duplicate venue submissions), hotspot discovery, and
stay-point regionalization.

Engine extension (north_rule); absent from the reference. The classic
algorithm (Ester et al., KDD'96) is sequential and arrival-order
dependent at the border points; this operator implements the standard
deterministic distributed formulation:

- eps-neighbor pairs come from the engine's cell-pruned radius join
  (:func:`osmgraft.operators.knn.knn_candidates` — chord-grid
  equi-join, exact haversine, skew rail on by default), never an
  all-pairs product;
- a point is CORE iff its eps-neighborhood holds >= ``min_pts`` points
  (itself included — the textbook count);
- clusters are the connected components of the core-core eps-graph,
  labeled by the component's minimum point id via the alternating-star
  algorithm (:func:`osmgraft.operators.dedup.connected_components`,
  O(log n) shuffle rounds); a core with no core neighbor is its own
  singleton cluster;
- a BORDER point (non-core with a core neighbor) joins the minimum
  cluster label among its core neighbors — the one place the textbook
  algorithm is nondeterministic (first-reached wins); pinning min makes
  the result a pure function of the input, identical across retries,
  partitionings, and engines;
- everything else is NOISE (cluster null).

Shuffle accounting: one radius equi-join, one degree groupBy (rides the
pair key), the CC rounds (log-bounded, edges only among cores), and one
border min-aggregate. No step materializes more than the eps-pair set,
which density-bounded data keeps linear in the input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmgraft.operators.dedup import connected_components
from osmgraft.operators.knn import knn_candidates


def dbscan(
    points: DataFrame,
    eps_m: float,
    min_pts: int,
    id_col: str = "pid",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """``(id, cluster, role)`` for every input point: role in
    ``core | border | noise``; ``cluster`` is the component-minimum core
    id (null for noise). ``points`` must carry unique ``id_col``."""
    pts = points.select(
        F.col(id_col).alias("_id"), F.col(lat_col).alias("_la"), F.col(lon_col).alias("_lo")
    )
    pairs = (
        knn_candidates(
            pts,
            pts,
            radius_m=eps_m,
            left_cols=("_la", "_lo"),
            right_cols=("_la", "_lo"),
        )
        .where(F.col("_id") != F.col("_id_r"))
        .select(F.col("_id").alias("src"), F.col("_id_r").alias("dst"))
        # three consumers (degree, core-core edges, border assignment) plus
        # the first CC round would each re-run the radius join otherwise
        .localCheckpoint(eager=True)
    )
    # left join from the point set so zero-neighbor points carry degree 0
    # (they are cores when min_pts <= 1 — the pair set never mentions them)
    deg = (
        pts.select(F.col("_id").alias("src"))
        .join(pairs.groupBy("src").agg(F.count("*").alias("_deg")), "src", "left")
        .select("src", F.coalesce(F.col("_deg"), F.lit(0)).alias("_deg"))
    )
    core = deg.where(F.col("_deg") >= min_pts - 1).select(F.col("src").alias("_cid"))

    core_edges = (
        pairs.join(core.withColumnRenamed("_cid", "src"), "src")
        .join(core.withColumnRenamed("_cid", "dst"), "dst")
        .select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    )
    comp = connected_components(core_edges)  # (id, component = min reachable)
    core_lbl = core.join(comp, core["_cid"] == comp["id"], "left").select(
        F.col("_cid").alias("_id"),
        F.coalesce(F.col("component"), F.col("_cid")).alias("cluster"),
    )

    border = (
        pairs.join(core_lbl.withColumnRenamed("_id", "dst"), "dst")
        .join(core_lbl.select(F.col("_id").alias("src")), "src", "left_anti")
        .groupBy("src")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("src").alias("_id"), "cluster")
    )

    labeled = core_lbl.withColumn("role", F.lit("core")).unionByName(
        border.withColumn("role", F.lit("border"))
    )
    return (
        pts.select("_id")
        .join(labeled, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("cluster"),
            F.coalesce(F.col("role"), F.lit("noise")).alias("role"),
        )
    )


def convex_hulls(
    points: DataFrame,
    group_col: str = "cluster",
    id_col: str = "pid",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Convex hull per group — the footprint polygon of a point cluster
    (compose with :func:`dbscan` for "cluster outline" cartography, or
    per admin area for coverage hulls).

    Output: ``(group, seq, id, lat, lon)`` — hull CORNERS in counter-
    clockwise order starting at the lexicographically smallest (lat, lon)
    vertex; collinear boundary points are NOT corners (strict turns
    only). Groups with 1 or 2 points emit their points as degenerate
    hulls. Ties between coincident points break on ``id_col``.

    Execution: Andrew's monotone chain per group (exact: the turn test is
    one cross product — the same double expression any engine computes,
    so the corner SET is engine-reproducible; the SQL oracle replays it
    as the O(n^2 * n) hull-edge test per group, feasible at oracle scale).
    One hash shuffle on the group key; each group decodes in one task —
    the semantic minimum, and hull inputs are cluster-sized, not
    corpus-sized. The mover-batched mapInPandas rail (see
    operators/matching.py) applies verbatim if groups ever become tiny
    and numerous.
    """
    import pandas as pd

    def _hull(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf[group_col].iloc[0]
        pts = sorted(
            zip(pdf[lat_col], pdf[lon_col], pdf[id_col]),
            key=lambda t: (t[0], t[1], t[2]),
        )
        # dedupe coincident points (keep smallest id — sorted order)
        seen, uniq = set(), []
        for y, x, i in pts:
            if (y, x) not in seen:
                seen.add((y, x))
                uniq.append((y, x, i))
        if len(uniq) <= 2:
            chain = uniq
        else:
            def cross(o, a, b):
                return (a[1] - o[1]) * (b[0] - o[0]) - (a[0] - o[0]) * (b[1] - o[1])

            lower = []
            for p in uniq:
                while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
                    lower.pop()
                lower.append(p)
            upper = []
            for p in reversed(uniq):
                while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
                    upper.pop()
                upper.append(p)
            chain = lower[:-1] + upper[:-1]
        return pd.DataFrame(
            [(g, s, i, y, x) for s, (y, x, i) in enumerate(chain)],
            columns=[group_col, "seq", id_col, lat_col, lon_col],
        )

    schema = f"{group_col} long, seq int, {id_col} long, {lat_col} double, {lon_col} double"
    return points.groupBy(group_col).applyInPandas(_hull, schema)
