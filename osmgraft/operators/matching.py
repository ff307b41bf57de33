"""HMM map matching (Viterbi) — the decoder stage that turns the snap
join's per-fix candidates into a coherent per-trajectory segment path.

Engine extension (north_rule); absent from the reference (osm_input never
relates fixes to way geometry). This is the Newson-Krumm shape ("Hidden
Markov map matching through noise and sparseness", GIS 2009): per GPS fix
a small set of candidate segments within ``radius_m`` (emission cost grows
with snap distance), and between consecutive fixes a transition cost that
penalizes candidates whose snapped points move very differently from the
raw fixes (the |great-circle - route| term, with the snapped-point chord
standing in for route distance — no routing graph is assumed).

Execution shape (the one that survives 100 TB of pings):

- candidate generation is the snap join's covering/probe machinery
  verbatim (operators/snap.py): segments cover the cells they pass
  through, fixes probe one disk, ONE cell equi-join, exact
  point-to-segment distance in pure Catalyst — plus a per-fix top-k
  window (tiny groups: one fix's candidates);
- the trellis decode is groupBy(trajectory).applyInPandas — per-mover
  sequential is the semantic minimum for a DP over the fix order (same
  argument as sessionization, operators/sessions.py), and the state per
  step is at most ``cand_k`` candidates, so the kernel is O(T * k^2)
  integers per mover and movers spread across the cluster;
- all model costs are FIXED-POINT int64 (floor(x * 1e9 + 0.5) of
  IEEE-double expressions built identically in any engine — the PageRank
  trick, operators/graph.py): integer sums are exact and order-free, so
  the decoded path is bit-identical across partitionings AND replays in
  DuckDB as a recursive-CTE path enumeration (the oracle enumerates every
  trellis path and takes the global (cost, path) minimum — equal to the
  DP by exactness of integer costs and the prefix property of
  lexicographic tie-breaks on fixed-arity paths).

Determinism contract: candidate ranks tie-break on (d2, sid); the DP
tie-breaks on (cost, path) with paths compared lexicographically — both
total orders, so retries, partitionings, and engines agree exactly.

Fixes with NO candidate within ``radius_m`` are dropped before the
trellis (both engines re-index the step sequence over surviving fixes).
A production matcher would break the trajectory at large gaps instead —
that is a composition with sessionize_events upstream, not a different
operator.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osmgraft.functions.cells import DEG_M, hex_cell_udf, hex_neighbors_expr, res_for_radius
from osmgraft.operators.snap import _seg_cells_udf, point_segment_proj

_SCALE = 1_000_000_000.0  # fixed-point: 1e-9 cost units


def match_candidates(
    fixes: DataFrame,
    segments: DataFrame,
    radius_m: float,
    sigma_m: float,
    cand_k: int = 3,
    user_col: str = "user_id",
    fix_id: str = "fid",
    ts_col: str = "ts_s",
    fix_cols: tuple[str, str] = ("lat", "lon"),
    seg_id: str = "sid",
    seg_cols: tuple[str, str, str, str] = ("lat1", "lon1", "lat2", "lon2"),
    min_cos_lat: float = 0.2,
    probe_k: int = 2,
) -> DataFrame:
    """Per-fix top-``cand_k`` snap candidates with snapped point and
    fixed-point emission cost.

    Output: ``(user_id, fid, ts_s, lat, lon, _cl, rank, sid, snap_lat,
    snap_lon, dist_m, emit_i)`` — ``_cl`` is the fix's cos(lat) scale
    (computed once in Catalyst so the Python DP kernel never calls trig),
    ``emit_i = floor(d2 / sigma_deg^2 * 1e9 + 0.5)`` with ``d2`` the snap
    join's exact squared-degree point-segment distance.

    The covering/probe construction and its completeness guarantee are
    the snap join's (see operators/snap.py docstring); the only additions
    are the clamped projection parameter (snapped point) and the top-k
    window. Candidate rows duplicated by multi-cell meetings are removed
    on (fix, segment) BEFORE ranking — the duplicates are whole-row equal,
    so the drop is deterministic.
    """
    lat, lon = fix_cols
    y1, x1, y2, x2 = seg_cols
    res = res_for_radius(radius_m, min_cos_lat=min_cos_lat, probe_k=probe_k)

    segs = segments.select(
        F.col(seg_id).alias("_sid"),
        F.col(y1).alias("_y1"),
        F.col(x1).alias("_x1"),
        F.col(y2).alias("_y2"),
        F.col(x2).alias("_x2"),
    ).withColumn("_cell", F.explode(_seg_cells_udf(res)("_y1", "_x1", "_y2", "_x2")))
    pts = fixes.select(
        F.col(user_col).alias("_uid"),
        F.col(fix_id).alias("_fid"),
        F.col(ts_col).alias("_ts"),
        F.col(lat).alias("_py"),
        F.col(lon).alias("_px"),
    ).withColumn(
        "_cell",
        F.explode(hex_neighbors_expr(hex_cell_udf(res)(F.col("_py"), F.col("_px")), probe_k)),
    )

    d2, tt = point_segment_proj(
        F.col("_py"), F.col("_px"), F.col("_y1"), F.col("_x1"), F.col("_y2"), F.col("_x2")
    )
    radius_deg2 = (radius_m / DEG_M) ** 2
    sig2 = (sigma_m / DEG_M) ** 2
    cand = (
        pts.join(segs, "_cell")
        .drop("_cell")
        .withColumn("_d2", d2)
        .where(F.col("_d2") <= F.lit(radius_deg2))
        .dropDuplicates(["_fid", "_sid"])
    )
    w = Window.partitionBy("_fid").orderBy("_d2", "_sid")
    return (
        cand.withColumn("_sy", F.col("_y1") + tt * (F.col("_y2") - F.col("_y1")))
        .withColumn("_sx", F.col("_x1") + tt * (F.col("_x2") - F.col("_x1")))
        .withColumn("_cl", F.cos(F.radians("_py")))
        .withColumn(
            "_emit",
            F.floor(F.col("_d2") / F.lit(sig2) * F.lit(_SCALE) + F.lit(0.5)).cast("long"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= cand_k)
        .select(
            F.col("_uid").alias(user_col),
            F.col("_fid").alias(fix_id),
            F.col("_ts").alias(ts_col),
            F.col("_py").alias(lat),
            F.col("_px").alias(lon),
            F.col("_cl").alias("_cl"),
            F.col("rank"),
            F.col("_sid").alias(seg_id),
            F.col("_sy").alias("snap_lat"),
            F.col("_sx").alias("snap_lon"),
            (F.sqrt("_d2") * F.lit(DEG_M)).alias("dist_m"),
            F.col("_emit").alias("emit_i"),
        )
    )


def _trans_i(sy1, sx1, sy2, sx2, py1, px1, py2, px2, cl, beta_deg: float) -> int:
    """Fixed-point transition cost between consecutive candidates: the
    Newson-Krumm |snapped-chord - fix-chord| term in the FIRST fix's local
    equirectangular frame. Pure arithmetic + sqrt on IEEE doubles — the
    SQL oracle spells the identical expression, so the int is engine-free."""
    dxs = (sx2 - sx1) * cl
    dys = sy2 - sy1
    dxg = (px2 - px1) * cl
    dyg = py2 - py1
    d_snap = math.sqrt(dxs * dxs + dys * dys)
    d_gc = math.sqrt(dxg * dxg + dyg * dyg)
    return int(math.floor(abs(d_snap - d_gc) / beta_deg * _SCALE + 0.5))


def viterbi_match(
    fixes: DataFrame,
    segments: DataFrame,
    radius_m: float,
    sigma_m: float = 2000.0,
    beta_m: float = 2000.0,
    cand_k: int = 3,
    user_col: str = "user_id",
    fix_id: str = "fid",
    ts_col: str = "ts_s",
    fix_cols: tuple[str, str] = ("lat", "lon"),
    seg_id: str = "sid",
    seg_cols: tuple[str, str, str, str] = ("lat1", "lon1", "lat2", "lon2"),
    min_cos_lat: float = 0.2,
    probe_k: int = 2,
) -> DataFrame:
    """Most-likely segment per fix along each trajectory (Viterbi decode
    over the top-``cand_k`` snap candidates).

    Output: ``(user_id, ts_s, sid, snap_lat, snap_lon)`` for every fix
    that had at least one candidate, ordered-by nothing (sort at the
    query level). Cost model: emission ``(d_snap/sigma)^2``, transition
    ``|snapped chord - fix chord|/beta``, both as exact int64 fixed-point
    (see module docstring); global tie-break on the lexicographically
    smallest segment-id path.
    """
    beta_deg = beta_m / DEG_M
    cand = match_candidates(
        fixes,
        segments,
        radius_m,
        sigma_m,
        cand_k=cand_k,
        user_col=user_col,
        fix_id=fix_id,
        ts_col=ts_col,
        fix_cols=fix_cols,
        seg_id=seg_id,
        seg_cols=seg_cols,
        min_cos_lat=min_cos_lat,
        probe_k=probe_k,
    )
    lat, lon = fix_cols

    import numpy as np

    def _decode_one(uid, ts_a, fid_a, sid_a, sy_a, sx_a, em_a, la_a, lo_a, cl_a, out):
        """Viterbi over one mover's rows (pre-sorted by ts, fid, sid)."""
        brk = np.flatnonzero((ts_a[1:] != ts_a[:-1]) | (fid_a[1:] != fid_a[:-1])) + 1
        bounds = [0, *brk.tolist(), len(ts_a)]
        steps = []  # [(ts, [ (sid, sy, sx, emit), ...k ], py, px, cl)]
        for a, b in zip(bounds, bounds[1:]):
            steps.append(
                (
                    int(ts_a[a]),
                    list(zip(sid_a[a:b].tolist(), sy_a[a:b], sx_a[a:b], em_a[a:b].tolist())),
                    float(la_a[a]),
                    float(lo_a[a]),
                    float(cl_a[a]),
                )
            )
        # DP with BACKPOINTERS — O(T * k) memory, not O(T^2 * k) path
        # tuples. State per (step, candidate): (cost:int, prev_idx, sid,
        # sy, sx). The (cost, path)-lexicographic tie-break is preserved:
        # comparing p1+(s2,) vs p2+(s2,) equals comparing p1 vs p2, so
        # ties resolve by materializing the two predecessor paths via a
        # backpointer walk — paid ONLY on exact integer cost ties.
        states: list = []
        _, cands0, _, _, _ = steps[0]
        states.append([(int(e), -1, int(s), sy, sx) for s, sy, sx, e in cands0])

        def path_of(i: int, j: int) -> tuple:
            rev = []
            while i >= 0:
                c = states[i][j]
                rev.append(c[2])
                j = c[1]
                i -= 1
            return tuple(reversed(rev))

        for i in range(1, len(steps)):
            _, cands, _, _, _ = steps[i]
            py1, px1, cl1 = steps[i - 1][2], steps[i - 1][3], steps[i - 1][4]
            py2, px2 = steps[i][2], steps[i][3]
            nxt = []
            for s2, sy2, sx2, e2 in cands:
                bc, bj = None, -1
                for j, (c1, _, _, sy1, sx1) in enumerate(states[i - 1]):
                    t = _trans_i(sy1, sx1, sy2, sx2, py1, px1, py2, px2, cl1, beta_deg)
                    cost = c1 + t + int(e2)
                    if (
                        bc is None
                        or cost < bc
                        or (cost == bc and path_of(i - 1, j) < path_of(i - 1, bj))
                    ):
                        bc, bj = cost, j
                nxt.append((bc, bj, int(s2), sy2, sx2))
            states.append(nxt)
        last = len(steps) - 1
        bj = min(
            range(len(states[last])),
            key=lambda j: (states[last][j][0], path_of(last, j)),
        )
        path = path_of(last, bj)
        for i, (ts, cands, _, _, _) in enumerate(steps):
            for s, sy, sx, _ in cands:
                if int(s) == path[i]:
                    out.append((uid, ts, path[i], sy, sx))
                    break

    cols = [user_col, ts_col, fix_id, seg_id, "snap_lat", "snap_lon", "emit_i", lat, lon, "_cl"]

    def _decode_frame(pdf: pd.DataFrame) -> pd.DataFrame:
        u_a = pdf[user_col].to_numpy()
        arrs = [pdf[c].to_numpy() for c in cols[1:]]
        ts_a, fid_a, sid_a, sy_a, sx_a, em_a, la_a, lo_a, cl_a = arrs
        out: list = []
        ub = np.flatnonzero(u_a[1:] != u_a[:-1]) + 1
        for a, b in zip([0, *ub.tolist()], [*ub.tolist(), len(u_a)]):
            _decode_one(
                int(u_a[a]), ts_a[a:b], fid_a[a:b], sid_a[a:b], sy_a[a:b],
                sx_a[a:b], em_a[a:b], la_a[a:b], lo_a[a:b], cl_a[a:b], out,
            )
        return pd.DataFrame(out, columns=[user_col, ts_col, seg_id, "snap_lat", "snap_lon"])

    def _decode(batches):
        # mapInPandas over mover-sorted partitions: many movers ride one
        # Arrow batch (applyInPandas pays a ~ms python roundtrip PER
        # GROUP — untenable for millions of movers). A mover split across
        # batch boundaries is buffered until its last row arrives.
        buf: pd.DataFrame | None = None
        for pdf in batches:
            if buf is not None:
                pdf = pd.concat([buf, pdf], ignore_index=True)
                buf = None
            if not len(pdf):
                continue
            u_a = pdf[user_col].to_numpy()
            cut = int(np.searchsorted(u_a, u_a[-1], side="left"))
            if cut == 0:
                buf = pdf
                continue
            buf = pdf.iloc[cut:]
            yield _decode_frame(pdf.iloc[:cut])
        if buf is not None and len(buf):
            yield _decode_frame(buf)

    schema = (
        f"{user_col} long, {ts_col} long, {seg_id} long, snap_lat double, snap_lon double"
    )
    part = cand.select(*cols).repartition(user_col).sortWithinPartitions(
        user_col, ts_col, fix_id, seg_id
    )
    return part.mapInPandas(_decode, schema)
