"""Spatial cell encoders: S2 cell ids + an H3-like hex grid.

Absent from the reference (it never joins spatially); required by
BASELINE.json.north_rule. No h3/s2sphere libraries exist in this
environment, so both encoders are implemented from scratch:

- **S2**: the real thing — face/(u,v)/(s,t)/(i,j) + Hilbert curve cell
  ids, implemented from the published S2 geometry algorithm (quadratic
  projection, 4-bit lookup-table Hilbert traversal) as pure vectorized
  numpy. Bit-compatible with canonical S2 leaf/parent ids by
  construction (property-tested: round-trip, containment, face edges).
  Used for partitioning/bucketing demonstrations and lineage keys.

- **hex grid**: an H3-*like* axial hexagonal grid on the lon/lat plane
  (pointy-top, cube-rounded), res 0-15. NOT bit-compatible with H3
  (documented; the published H3 icosahedral projection is not
  reproducible cheaply without the library) but provides the same API
  surface the engine needs: cell assignment for the point-in-polygon
  join, adaptive res splitting.
  Distortion near poles is acknowledged: at |lat| -> 90 a fixed
  degree-sized hex shrinks in ground meters.

Everything here is either numpy inside pandas UDFs (cell encode) or
pure Catalyst integer arithmetic (S2 parents/children) — no per-row
Python anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# ===========================================================================
# S2 (vectorized numpy)
# ===========================================================================

_SWAP, _INVERT = 1, 2
_POS_TO_IJ = np.array([[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]], dtype=np.int64)
_POS_TO_ORIENT = np.array([_SWAP, 0, 0, _INVERT + _SWAP], dtype=np.int64)

_LOOKUP_POS = np.zeros(1 << 12, dtype=np.int64)
_LOOKUP_IJ = np.zeros(1 << 12, dtype=np.int64)


def _init_lookup(level: int, i: int, j: int, orig: int, pos: int, orient: int) -> None:
    if level == 4:
        ij = (i << 4) | j
        _LOOKUP_POS[(ij << 2) | orig] = (pos << 2) | orient
        _LOOKUP_IJ[(pos << 2) | orig] = (ij << 2) | orient
        return
    level += 1
    i <<= 1
    j <<= 1
    pos <<= 2
    r = _POS_TO_IJ[orient]
    for idx in range(4):
        _init_lookup(
            level,
            i + (int(r[idx]) >> 1),
            j + (int(r[idx]) & 1),
            orig,
            pos + idx,
            orient ^ int(_POS_TO_ORIENT[idx]),
        )


for _o in range(4):
    _init_lookup(0, 0, 0, _o, 0, _o)

_MAX_LEVEL = 30
_POS_BITS = 2 * _MAX_LEVEL + 1


def s2_xyz(lat_deg: np.ndarray, lon_deg: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    phi = np.radians(lat_deg)
    theta = np.radians(lon_deg)
    cosphi = np.cos(phi)
    return cosphi * np.cos(theta), cosphi * np.sin(theta), np.sin(phi)


def _face_uv(x: np.ndarray, y: np.ndarray, z: np.ndarray):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2))
    face = face + np.where(
        np.select([face == 0, face == 1], [x, y], z) < 0, 3, 0
    )
    # np.select evaluates every branch; unselected divides-by-zero are
    # discarded, so silence them (the selected axis is >= 1/sqrt(3) > 0)
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [y / x, -x / y, -x / z, z / x, z / y],
            -y / z,
        )
        v = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [z / x, z / y, -y / z, y / x, -x / y],
            -x / z,
        )
    return face.astype(np.int64), u, v


def _st_from_uv(u: np.ndarray) -> np.ndarray:
    # S2 quadratic projection (both np.where branches evaluate; the
    # out-of-domain sqrt of the unselected branch is discarded)
    with np.errstate(invalid="ignore"):
        return np.where(u >= 0, 0.5 * np.sqrt(1 + 3 * u), 1 - 0.5 * np.sqrt(1 - 3 * u))


def _ij_from_st(s: np.ndarray) -> np.ndarray:
    return np.clip((s * (1 << _MAX_LEVEL)).astype(np.int64), 0, (1 << _MAX_LEVEL) - 1)


def s2_cell_id(lat_deg, lon_deg, level: int = 30) -> np.ndarray:
    """Vectorized lat/lon -> S2 cell id at ``level`` (leaf Hilbert walk +
    parent truncation), uint64 returned as int64 bit pattern."""
    lat = np.asarray(lat_deg, dtype=np.float64)
    lon = np.asarray(lon_deg, dtype=np.float64)
    x, y, z = s2_xyz(lat, lon)
    face, u, v = _face_uv(x, y, z)
    i = _ij_from_st(_st_from_uv(u))
    j = _ij_from_st(_st_from_uv(v))

    n = face.astype(np.uint64) << np.uint64(_POS_BITS - 1)
    bits = (face & _SWAP).astype(np.int64)
    for k in range(7, -1, -1):
        mask = (1 << 4) - 1
        bits += ((i >> (k * 4)) & mask) << 6
        bits += ((j >> (k * 4)) & mask) << 2
        bits = _LOOKUP_POS[bits]
        n |= (bits >> 2).astype(np.uint64) << np.uint64(k * 8)
        bits &= _SWAP | _INVERT
    leaf = n * np.uint64(2) + np.uint64(1)
    if level >= _MAX_LEVEL:
        return leaf.view(np.int64)
    lsb = np.uint64(1) << np.uint64(2 * (_MAX_LEVEL - level))
    return ((leaf & ~(lsb - np.uint64(1)) | lsb)).view(np.int64)


def s2_parent(cell: np.ndarray, level: int) -> np.ndarray:
    c = np.asarray(cell).view(np.uint64)
    lsb = np.uint64(1) << np.uint64(2 * (_MAX_LEVEL - level))
    return ((c & ~(lsb - np.uint64(1))) | lsb).view(np.int64)


def s2_token(cell: int) -> str:
    """Canonical hex token: 16 nibbles with trailing zeros stripped."""
    h = f"{np.uint64(np.int64(cell)).item():016x}".rstrip("0")
    return h or "X"


def s2_parent_expr(cell: Column, level: int) -> Column:
    """Pure-Catalyst parent id at ``level`` (same bit math as
    :func:`s2_parent`; works on a cell of any deeper level)."""
    lsb = 1 << (2 * (_MAX_LEVEL - level))
    return cell.bitwiseAND(F.lit(~(lsb - 1))).bitwiseOR(F.lit(lsb))


def s2_children_expr(cell: Column, child_level: int) -> Column:
    """Array of the 4 child ids one level down (pure Catalyst): a cell
    with lsb ``4k`` has children ``cell + {-3,-1,1,3}*k`` where ``k`` is
    the child level's lsb."""
    k = 1 << (2 * (_MAX_LEVEL - child_level))
    return F.array(*[cell + F.lit(d * k) for d in (-3, -1, 1, 3)])


def compact_cells(
    df,
    cell_col: str = "cell",
    level: int = 12,
    min_level: int = 0,
    persist_tracker: list | None = None,
):
    """S2 cell-union normalization ("compact"): replace every COMPLETE
    group of 4 sibling cells with their parent, repeatedly, from
    ``level`` down to ``min_level`` — the coverings-at-rest operator (a
    polygon covering or presence set stored compacted is 4x smaller per
    fully-covered level).

    Contract: every input cell is at ``level`` (duplicates allowed — the
    entry ``distinct`` folds them; 4 copies of one child must not fake a
    complete group). Output: ``(cell, level)`` with mixed levels.

    Plan shape: one distinct exchange, then ONE hash exchange per
    promoted level (a window count + min over the parent key decides
    completeness and picks one representative — no join anywhere). The
    frame shrinks >= 4x per promotion, so the level loop's total shuffle
    volume is bounded by ~1.33x the input regardless of depth — the
    right shape at planet scale where a covering can hold 10^9 cells.

    Each level's marked frame is persisted (tracked in
    ``persist_tracker`` for the caller to unpersist, same contract as
    tiles.tile_pyramid): without it the final Union's branches would
    re-derive the whole upstream lineage once per level — O(levels^2)
    recompute.
    """
    from pyspark.sql.window import Window

    cur = df.select(F.col(cell_col).alias("cell")).distinct()
    levels = []
    for lvl in range(level, min_level, -1):
        par = s2_parent_expr(F.col("cell"), lvl - 1)
        w = Window.partitionBy("_par")
        marked = (
            cur.withColumn("_par", par)
            .withColumn("_n", F.count("*").over(w))
            .withColumn("_mn", F.min("cell").over(w))
        ).persist()
        if persist_tracker is not None:
            persist_tracker.append(marked)
        levels.append(
            marked.where(F.col("_n") < 4).select(
                "cell", F.lit(lvl).cast("int").alias("level")
            )
        )
        cur = marked.where((F.col("_n") == 4) & (F.col("cell") == F.col("_mn"))).select(
            F.col("_par").alias("cell")
        )
    levels.append(cur.select("cell", F.lit(min_level).cast("int").alias("level")))
    out = levels[0]
    for frame in levels[1:]:
        out = out.unionByName(frame)
    return out


def s2_cell_udf(level: int = 12):
    @F.pandas_udf("long")
    def _enc(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(s2_cell_id(lat.to_numpy(), lon.to_numpy(), level))

    return _enc


# ===========================================================================
# Hex grid (H3-like API)
# ===========================================================================

EARTH_RADIUS_M = 6_371_008.8
DEG_M = EARTH_RADIUS_M * np.pi / 180.0  # meters per degree latitude

_HEX_BASE_EDGE = 5.12  # degrees at res 0; res r edge = 5.12 / 2^r
_HEX_OFF = 1 << 28
_SQRT3 = np.sqrt(3.0)


def hex_edge_deg(res: int) -> float:
    return _HEX_BASE_EDGE / (1 << res)


def res_for_radius(radius_m: float, min_cos_lat: float = 0.2, probe_k: int = 1) -> int:
    """Finest hex resolution (15 down to 0) whose cell inradius
    (sqrt(3)/2 * edge, in plane degrees) times ``probe_k`` is at least
    ``radius_m`` in degrees, where a longitude degree counts as
    ``min_cos_lat`` of a latitude degree; 0 when even res 0 is too small."""
    radius_deg = radius_m / (DEG_M * min_cos_lat)
    for res in range(15, -1, -1):
        if 0.866 * hex_edge_deg(res) * probe_k >= radius_deg:
            return res
    return 0


def hex_cell(lat_deg, lon_deg, res: int) -> np.ndarray:
    """Vectorized lat/lon -> hex cell id (axial q,r packed with res)."""
    size = hex_edge_deg(res)
    x = np.asarray(lon_deg, dtype=np.float64)
    y = np.asarray(lat_deg, dtype=np.float64)
    qf = (_SQRT3 / 3.0 * x - y / 3.0) / size
    rf = (2.0 / 3.0 * y) / size
    # cube rounding
    xf, zf = qf, rf
    yf = -xf - zf
    rx, ry, rz = np.round(xf), np.round(yf), np.round(zf)
    dx, dy, dz = np.abs(rx - xf), np.abs(ry - yf), np.abs(rz - zf)
    rx = np.where((dx > dy) & (dx > dz), -ry - rz, rx)
    rz = np.where(~((dx > dy) & (dx > dz)) & (dz > dy), -rx - ry, rz)
    q = rx.astype(np.int64)
    r = rz.astype(np.int64)
    return pack_hex(q, r, res)


def pack_hex(q, r, res):
    res_a = np.asarray(res, dtype=np.int64)
    qa = np.asarray(q, dtype=np.int64)
    ra = np.asarray(r, dtype=np.int64)
    return (res_a << np.int64(58)) | ((qa + _HEX_OFF) << np.int64(29)) | (ra + _HEX_OFF)


def unpack_hex(cell):
    c = np.asarray(cell, dtype=np.int64)
    res = (c >> 58) & 0x3F
    q = ((c >> 29) & ((1 << 29) - 1)) - _HEX_OFF
    r = (c & ((1 << 29) - 1)) - _HEX_OFF
    return q, r, res


def hex_center(cell) -> tuple[np.ndarray, np.ndarray]:
    q, r, res = unpack_hex(cell)
    size = _HEX_BASE_EDGE / (1 << res.astype(np.int64)) if isinstance(res, np.ndarray) else hex_edge_deg(int(res))
    lat = 1.5 * r * size
    lon = _SQRT3 * (q + r / 2.0) * size
    return lat, lon


def hex_cell_udf(res: int):
    @F.pandas_udf("long")
    def _enc(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(hex_cell(lat.to_numpy(), lon.to_numpy(), res))

    return _enc

