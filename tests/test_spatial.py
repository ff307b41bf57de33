"""Spatial layer: S2 encode properties, hex grid, PIP join vs brute force,
kNN dedup vs brute force, tile assignment."""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F
import pytest

from osmgraft.functions import cells


# --- S2 -----------------------------------------------------------------


def test_s2_known_values():
    """Cross-checked fixed points (computed from the published S2 algorithm;
    leaf ids are odd, level bit structure holds)."""
    cid = cells.s2_cell_id([0.0], [0.0], 30)[0]
    assert cid % 2 == 1  # leaf lsb
    # face 0 center: (lat,lon)=(0,0) -> x axis -> face 0 => high 3 bits 000
    assert (np.uint64(cid) >> np.uint64(61)) == 0


@pytest.mark.parametrize(
    "lat,lon,face",
    [
        (0, 0, 0),
        (0, 90, 1),
        (90, 0, 2),
        (0, 180, 3),
        (0, -90, 4),
        (-90, 0, 5),
    ],
)
def test_s2_faces(lat, lon, face):
    cid = np.uint64(cells.s2_cell_id([lat], [lon], 30)[0])
    assert int(cid >> np.uint64(61)) == face


def test_s2_parent_containment():
    rng = np.random.default_rng(1)
    lats = rng.uniform(-89, 89, 500)
    lons = rng.uniform(-180, 180, 500)
    leaf = cells.s2_cell_id(lats, lons, 30)
    for lvl in (5, 10, 20):
        direct = cells.s2_cell_id(lats, lons, lvl)
        via_parent = cells.s2_parent(leaf, lvl)
        assert np.array_equal(direct, via_parent)


def test_s2_children_roundtrip():
    # the 4 children of a cell all parent back to it, at every level
    rng = np.random.default_rng(3)
    for lvl in (4, 11, 20):
        ids = cells.s2_cell_id(rng.uniform(-85, 85, 50), rng.uniform(-180, 180, 50), lvl)
        k = 1 << (2 * (30 - (lvl + 1)))
        for d in (-3, -1, 1, 3):
            child = ids + d * k
            assert np.array_equal(cells.s2_parent(child, lvl), ids)


def test_s2_compact_full_and_partial(spark):
    from pyspark.sql import functions as F

    from osmgraft.functions.cells import compact_cells, s2_children_expr

    base = cells.s2_cell_id([48.0, 48.0, -33.9], [9.0, 9.002, 151.2], 11)
    parents = spark.createDataFrame([(int(c),) for c in set(base)], "c long")
    # all 4 children of every parent -> compaction recovers the parents
    kids = parents.select(F.explode(s2_children_expr(F.col("c"), 12)).alias("cell"))
    got = compact_cells(kids, level=12, min_level=8).collect()
    assert sorted(r["cell"] for r in got) == sorted(r["c"] for r in parents.collect())
    assert all(r["level"] == 11 for r in got)  # no complete level-11 groups

    # remove ONE child -> that parent's 3 remaining stay at level 12
    one = int(parents.collect()[0]["c"])
    k12 = 1 << (2 * (30 - 12))
    kids_partial = kids.where(F.col("cell") != one - 3 * k12)
    out = compact_cells(kids_partial, level=12, min_level=8).collect()
    lv = sorted(r["level"] for r in out)
    n_par = parents.count()
    assert lv == [11] * (n_par - 1) + [12] * 3


def test_s2_compact_duplicates_dont_fake_completeness(spark):
    from pyspark.sql import functions as F

    from osmgraft.functions.cells import compact_cells

    c = int(cells.s2_cell_id([10.0], [10.0], 12)[0])
    four_copies = spark.createDataFrame([(c,)] * 4, "cell long")
    out = compact_cells(four_copies, level=12, min_level=8).collect()
    assert [(r["cell"], r["level"]) for r in out] == [(c, 12)]


def test_s2_compact_uncompact_roundtrip_random(spark):
    """Property check: expanding every output cell back to the input
    level reproduces EXACTLY the input cell set (compaction is lossless
    re-encoding), on a random mix of complete and partial families."""
    import random

    from pyspark.sql import functions as F

    from osmgraft.functions.cells import compact_cells, s2_children_expr

    rng = random.Random(31)
    base = cells.s2_cell_id(
        [rng.uniform(-80, 80) for _ in range(40)],
        [rng.uniform(-179, 179) for _ in range(40)],
        10,
    )
    lvl = 12
    cell_set = set()
    for b in base:
        # descend 10 -> 12 keeping a random subset of grandchildren
        k11 = 1 << (2 * (30 - 11))
        k12 = 1 << (2 * (30 - 12))
        for d1 in (-3, -1, 1, 3):
            c11 = int(b) + d1 * k11
            kids = [c11 + d2 * k12 for d2 in (-3, -1, 1, 3)]
            keep = rng.randrange(5)  # 0..4 of the 4 children
            cell_set.update(kids[:keep])
    df = spark.createDataFrame([(c,) for c in cell_set], "cell long")
    out = compact_cells(df, level=lvl, min_level=8).collect()
    # re-expand: a cell at level l covers 4^(12-l) level-12 descendants
    expanded = set()
    for r in out:
        frontier = [r["cell"]]
        for l in range(r["level"], lvl):
            k = 1 << (2 * (30 - (l + 1)))
            frontier = [c + d * k for c in frontier for d in (-3, -1, 1, 3)]
        expanded.update(frontier)
    assert expanded == cell_set


def test_s2_locality():
    # nearby points share coarse parents; distant points don't
    a = cells.s2_cell_id([48.7758], [9.1829], 10)[0]
    b = cells.s2_cell_id([48.7760], [9.1830], 10)[0]
    c = cells.s2_cell_id([-33.86], [151.21], 10)[0]
    assert a == b
    assert a != c


def test_s2_token():
    t = cells.s2_token(cells.s2_cell_id([48.7758], [9.1829], 12)[0])
    assert 1 <= len(t) <= 16 and not t.endswith("0")


# --- hex grid ---------------------------------------------------------------


def test_hex_roundtrip_center():
    rng = np.random.default_rng(2)
    lats = rng.uniform(-70, 70, 300)
    lons = rng.uniform(-170, 170, 300)
    for res in (5, 8, 11):
        cell = cells.hex_cell(lats, lons, res)
        clat, clon = cells.hex_center(cell)
        cell2 = cells.hex_cell(clat, clon, res)
        assert np.array_equal(cell, cell2)  # center maps back to same cell
        # center within one edge-ish of the point
        assert np.all(np.abs(clat - lats) < 2.2 * cells.hex_edge_deg(res))


def test_hex_ring_sizes():
    assert len(cells.ring_offsets(0)) == 1
    assert len(cells.ring_offsets(1)) == 6
    assert len(cells.ring_offsets(3)) == 18
    assert len(cells.disk_offsets(2)) == 19


def test_hex_neighbors_contain_nearby(spark):
    # any point within the inradius guard is inside disk(1) of the cell
    res = 8
    edge = cells.hex_edge_deg(res)
    rng = np.random.default_rng(3)
    base_lat = rng.uniform(-60, 60, 100)
    base_lon = rng.uniform(-170, 170, 100)
    d = 0.8 * 0.866 * edge
    ang = rng.uniform(0, 2 * math.pi, 100)
    p2_lat = base_lat + d * np.sin(ang)
    p2_lon = base_lon + d * np.cos(ang)
    c1 = cells.hex_cell(base_lat, base_lon, res)
    c2 = cells.hex_cell(p2_lat, p2_lon, res)
    assert np.all(cells.hex_distance(c1, c2) <= 1)


# --- PIP ---------------------------------------------------------------------


def _brute_pip(points, polys):
    from osmgraft.operators.pip import closed_ring, point_in_ring

    out = set()
    for pid, la, lo in points:
        for qid, rl, rg in polys:
            if point_in_ring(la, lo, *closed_ring(np.array(rl), np.array(rg))):
                out.add((pid, qid))
    return out


@pytest.fixture(scope="module")
def pip_data():
    rng = np.random.default_rng(4)
    polys = []
    for q in range(25):
        cx, cy = rng.uniform(-50, 50), rng.uniform(-100, 100)
        ang = np.sort(rng.uniform(0, 2 * math.pi, rng.integers(4, 10)))
        r = rng.uniform(0.5, 3.0)
        polys.append((q, (cx + r * np.sin(ang)).tolist(), (cy + r * np.cos(ang)).tolist()))
    points = [
        (i, float(rng.uniform(-55, 55)), float(rng.uniform(-105, 105))) for i in range(800)
    ]
    # plant guaranteed hits at polygon centroids
    for q, rl, rg in polys[:10]:
        points.append((10_000 + q, float(np.mean(rl)), float(np.mean(rg))))
    return points, polys


@pytest.mark.parametrize("strategy", ["broadcast", "partitioned"])
def test_pip_join_matches_bruteforce(spark, pip_data, strategy):
    from osmgraft.operators.pip import pip_join

    points, polys = pip_data
    pts_df = spark.createDataFrame(points, "pid long, lat double, lon double")
    polys_df = spark.createDataFrame(
        polys, "poly_id long, ring_lats array<double>, ring_lons array<double>"
    ).withColumn("name", F.concat(F.lit("P"), F.col("poly_id")))
    got = {
        (r["pid"], r["poly_id"])
        for r in pip_join(pts_df, polys_df, strategy=strategy, res=5).collect()
    }
    want = _brute_pip(points, polys)
    assert got == want
    assert len(want) > 10  # non-trivial


def test_pip_cover_continent_bounded():
    """A continent-sized polygon (40x40 deg) at DEFAULT res must stay under
    the covering budget instead of exploding into ~10^6 join rows (the
    round-3 fixed-res bbox covering did exactly that)."""
    from osmgraft.functions.cells import unpack_hex
    from osmgraft.operators.pip import _cover_one, cover_ladder

    rl = np.array([0.0, 40.0, 40.0, 0.0])
    rg = np.array([0.0, 0.0, 40.0, 40.0])
    cells_out = _cover_one(rl, rg, cover_ladder(7), 128)
    # adaptive ladder: perimeter 160deg + area 1600deg^2 only fits res 0
    # (edge 5.12deg) -> interior ~ area/hex_area ~ 230 + boundary halo
    assert len(cells_out) <= 1000
    _, _, res = unpack_hex(cells_out)
    assert set(res.tolist()) == {0}


def test_pip_cover_skinny_not_bbox():
    """A skinny diagonal strip must cover O(perimeter/cell), NOT the bbox
    grid: ring rasterization keeps it at a fine resolution with a small
    covering, where bbox covering at the same res would emit ~10^5 cells."""
    from osmgraft.functions.cells import unpack_hex
    from osmgraft.operators.pip import _cover_one, cover_ladder

    # 30-deg diagonal, 0.2-deg wide
    rl = np.array([0.0, 30.0, 30.0 + 0.2, 0.2])
    rg = np.array([0.0, 30.0, 30.0 - 0.2, -0.2])
    cells_out = _cover_one(rl, rg, cover_ladder(7), 128)
    _, _, res = unpack_hex(cells_out)
    r = int(res[0])
    assert len(cells_out) <= 600
    assert r >= 1  # stays FINE (selective), doesn't fall to the ladder floor
    # the round-3 fixed-res bbox covering at the default res 7 would emit
    # the full 30x30-deg grid — orders of magnitude more join rows
    size7 = cells.hex_edge_deg(7)
    bbox_cells_old = (30.0 / (1.5 * size7)) * (30.0 / (math.sqrt(3) * size7))
    assert bbox_cells_old > 1000 * len(cells_out)


def test_pip_cover_superset_of_inside_cells():
    """Covering completeness: for random polygons, every point inside the
    polygon must find the polygon through the cell it emits at the
    covering's resolution (the join-correctness invariant)."""
    from osmgraft.functions.cells import hex_cell, unpack_hex
    from osmgraft.operators.pip import _cover_one, closed_ring, cover_ladder, point_in_ring

    rng = np.random.default_rng(11)
    for trial in range(20):
        cx, cy = rng.uniform(-60, 60), rng.uniform(-120, 120)
        ang = np.sort(rng.uniform(0, 2 * math.pi, rng.integers(4, 12)))
        rad = rng.uniform(0.2, 25.0)
        rl = cx + rad * np.sin(ang)
        rg = cy + rad * np.cos(ang)
        cover = _cover_one(rl, rg, cover_ladder(7), 128)
        assert 0 < len(cover) <= 1200
        _, _, resbits = unpack_hex(cover)
        res = int(resbits[0])
        cover_set = set(cover.tolist())
        pts_la = rng.uniform(rl.min(), rl.max(), 200)
        pts_lo = rng.uniform(rg.min(), rg.max(), 200)
        crl, crg = closed_ring(rl, rg)
        inside = [
            (la, lo) for la, lo in zip(pts_la, pts_lo) if point_in_ring(la, lo, crl, crg)
        ]
        for la, lo in inside:
            c = int(hex_cell(np.array([la]), np.array([lo]), res)[0])
            assert c in cover_set, f"trial {trial}: inside point's cell missing"


def test_pip_join_continent_polygon(spark):
    """End-to-end: the partitioned join stays correct (vs brute force) when
    the polygon set mixes a continent-sized polygon with small ones."""
    from osmgraft.operators.pip import pip_join

    rng = np.random.default_rng(5)
    polys = [(0, [-20.0, 25.0, 25.0, -20.0], [-20.0, -20.0, 25.0, 25.0])]
    for q in range(1, 6):
        cx, cy = rng.uniform(-30, 30), rng.uniform(-30, 30)
        ang = np.sort(rng.uniform(0, 2 * math.pi, 6))
        r = rng.uniform(0.5, 2.0)
        polys.append((q, (cx + r * np.sin(ang)).tolist(), (cy + r * np.cos(ang)).tolist()))
    points = [(i, float(rng.uniform(-35, 35)), float(rng.uniform(-35, 35))) for i in range(400)]
    pts_df = spark.createDataFrame(points, "pid long, lat double, lon double")
    polys_df = spark.createDataFrame(
        polys, "poly_id long, ring_lats array<double>, ring_lons array<double>"
    )
    got = {
        (r["pid"], r["poly_id"])
        for r in pip_join(pts_df, polys_df, strategy="partitioned").collect()
    }
    want = _brute_pip(points, polys)
    assert got == want
    assert len(want) > 120  # the continent polygon contains ~40% of points


# --- kNN dedup ------------------------------------------------------------------


def test_pip_kernel_empty_ring_guard(spark):
    # An empty ring made ends-1 == starts-1: the wrap-edge write landed on
    # the PREVIOUS ring's last edge (or index -1), silently flipping other
    # rows' results. Empty rings must test as outside, neighbors unharmed.
    from osmgraft.operators.pip import _pip_kernel_expr

    inside = _pip_kernel_expr()
    sq_lats = [0.0, 0.0, 10.0, 10.0, 0.0]
    sq_lons = [0.0, 10.0, 10.0, 0.0, 0.0]
    rows = [
        (5.0, 5.0, [], []),
        (5.0, 5.0, sq_lats, sq_lons),
        (15.0, 5.0, sq_lats, sq_lons),
        (5.0, 5.0, [], []),
    ]
    df = spark.createDataFrame(
        rows, "lat double, lon double, ring_lats array<double>, ring_lons array<double>"
    ).coalesce(1)  # one Arrow batch so rows share the flattened edge arrays
    got = [
        r["in_"]
        for r in df.select(
            inside("lat", "lon", "ring_lats", "ring_lons").alias("in_")
        ).collect()
    ]
    assert got == [False, True, False, False]


def test_pip_join_left_with_duplicate_coordinates(spark):
    """how='left' + id_col: duplicate (lat, lon) rows with distinct ids
    must NOT fan out (the all-column re-join would pair every duplicate
    with every duplicate's hits), and misses keep NULL polygon columns."""
    from osmgraft.operators.pip import pip_join

    polys = spark.createDataFrame(
        [(1, [0.0, 10.0, 10.0, 0.0, 0.0], [0.0, 0.0, 10.0, 10.0, 0.0])],
        "poly_id long, ring_lats array<double>, ring_lons array<double>",
    )
    pts = spark.createDataFrame(
        [(1, 5.0, 5.0), (2, 5.0, 5.0), (3, 50.0, 50.0)],
        "pid long, lat double, lon double",
    )
    out = sorted(
        (r["pid"], r["poly_id"])
        for r in pip_join(pts, polys, how="left", id_col="pid").collect()
    )
    assert out == [(1, 1), (2, 1), (3, None)]


def _hav_m(a, b):
    """Haversine metres between (id, lat, lon, rank) rows, the engine's constants."""
    from osmgraft.operators.knn import EARTH_RADIUS_M

    p1, p2 = math.radians(a[1]), math.radians(b[1])
    dphi = p2 - p1
    dl = math.radians(b[2] - a[2])
    x = math.sin(dphi / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * EARTH_RADIUS_M * math.asin(math.sqrt(min(x, 1.0)))


def _brute_keep(rows, radius):
    """Ids of the (id, lat, lon, rank) rows no better-ranked row lies within ``radius`` of."""
    return sorted(
        a[0]
        for a in rows
        if not any(b[3] < a[3] and b[0] != a[0] and _hav_m(a, b) <= radius for b in rows)
    )


def test_dedup_labels_matches_bruteforce(spark):
    from osmgraft.operators.knn import dedup_labels

    rng = np.random.default_rng(5)
    # clustered points so suppression actually triggers
    n = 400
    cx = rng.choice([0.0, 0.02, 40.0], n)
    lats = cx + rng.normal(0, 0.01, n)
    lons = rng.choice([10.0, 10.02], n) + rng.normal(0, 0.01, n)
    rows = [(i, float(lats[i]), float(lons[i]), i) for i in range(n)]
    df = spark.createDataFrame(rows, "osm_id long, lat double, lon double, rank long")

    radius = 500.0  # meters
    got = sorted(r["osm_id"] for r in dedup_labels(df, radius).collect())
    assert got == _brute_keep(rows, radius)
    assert 0 < len(got) < n


def test_dedup_seam_and_caps_match_bruteforce(spark):
    """Election cells and the leader probe reproduce brute force across
    the antimeridian, in the polar caps and at exactly lat +-90 (where
    every longitude is one point)."""
    from osmgraft.operators.knn import dedup_labels

    rng = np.random.default_rng(17)
    rows = []
    clusters = [
        (0.0, 179.99, 0.02, 120), (86.0, 10.0, 0.5, 60), (-40.0, 0.0, 0.01, 120),
        (89.99, 0.0, 0.01, 40), (-89.99, 120.0, 0.01, 40),
    ]
    for cx, cy, sd, m in clusters:
        for _ in range(m):
            lo = cy + rng.normal(0, sd)
            la = float(np.clip(cx + rng.normal(0, sd), -90.0, 90.0))
            rows.append((len(rows), la, float((lo + 180) % 360 - 180), int(rng.integers(10**6))))
    for la in (90.0, -90.0):
        for lo in (-180.0, -45.0, 0.0, 90.0, 180.0):
            rows.append((len(rows), la, lo, int(rng.integers(10**6))))
    df = spark.createDataFrame(rows, "osm_id long, lat double, lon double, rank long")
    got = sorted(r["osm_id"] for r in dedup_labels(df, 2000.0).collect())
    assert got == _brute_keep(rows, 2000.0)
    assert 0 < len(got) < len(rows)
    # the five labels on a pole are one point: at most one survives
    assert sum(rows[i][1] == 90.0 for i in got) <= 1
    assert sum(rows[i][1] == -90.0 for i in got) <= 1


def test_dedup_rank_ties_match_bruteforce(spark):
    """Ranks from a small range: tied labels never suppress each other, so
    a cell can elect several leaders and they all stay unless beaten."""
    from osmgraft.operators.knn import dedup_labels

    rng = np.random.default_rng(29)
    n = 500
    rows = [
        (i, float(45.0 + rng.normal(0, 0.03)), float(7.0 + rng.normal(0, 0.03)), int(rng.integers(4)))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "osm_id long, lat double, lon double, rank long")
    got = sorted(r["osm_id"] for r in dedup_labels(df, 2000.0).collect())
    want = _brute_keep(rows, 2000.0)
    assert got == want
    # ties survive side by side within r
    kept = [rows[i] for i in want]
    assert any(a[0] < b[0] and _hav_m(a, b) <= 2000.0 for a in kept for b in kept)


def test_election_cell_pairs_within_radius():
    """Any two points in one election cell lie within r by the engine's
    haversine constants: at every latitude, at the poles and at lon +-180,
    with cells' extreme corners (the last doubles inside the floor) drawn
    half of the time."""
    from osmgraft.operators.knn import DEG_M, EARTH_RADIUS_M, election_side_deg

    rng = np.random.default_rng(41)

    def first_in(cell, s):
        x = cell * s
        while (m := np.floor(x / s) < cell).any():
            x = np.where(m, np.nextafter(x, np.inf), x)
        return x

    def last_in(cell, s):
        x = (cell + 1) * s
        while (m := np.floor(x / s) > cell).any():
            x = np.where(m, np.nextafter(x, -np.inf), x)
        return x

    for radius in (1.0, 150.0, 2000.0, 50_000.0):
        s = election_side_deg(radius)
        assert s * math.sqrt(2.0) * DEG_M <= radius
        n = 20_000
        row = np.floor(rng.uniform(-90.0, 90.0, n) / s)
        row[:4] = np.floor(np.array([90.0, -90.0, 89.999, -89.999]) / s)
        seam = np.floor(rng.choice([-180.0, 180.0], n) / s) + rng.integers(-2, 1, n)
        col = np.where(rng.random(n) < 0.5, np.floor(rng.uniform(-180.0, 180.0, n) / s), seam)

        def draw(cell, lo_bound, hi_bound):
            lo, hi = first_in(cell, s), last_in(cell, s)
            x = np.where(rng.random(n) < 0.5, lo, lo + (hi - lo) * rng.random(n))
            x = np.where(rng.random(n) < 0.5, hi, x)
            return np.clip(x, lo_bound, hi_bound)

        la1, la2 = draw(row, -90.0, 90.0), draw(row, -90.0, 90.0)
        lo1, lo2 = draw(col, -180.0, 180.0), draw(col, -180.0, 180.0)
        assert (np.floor(la1 / s) == row).all() and (np.floor(la2 / s) == row).all()
        assert (np.floor(lo1 / s) == np.floor(lo2 / s)).all()
        p1, p2 = np.radians(la1), np.radians(la2)
        a = (
            np.sin((p2 - p1) / 2) ** 2
            + np.cos(p1) * np.cos(p2) * np.sin(np.radians(lo2 - lo1) / 2) ** 2
        )
        d = 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))
        assert (d <= radius).all(), (radius, d.max())
        assert d.max() > 0.99 * radius  # the corners are reached


def test_chord_cell_pairs_within_block():
    """Any two points within r key into chord-grid cells at most one apart
    on every axis, by the engine's haversine constants: pairs at 0.9r to r,
    at random places, at the poles and at lon +-180, for radii from 1 m to
    above half the circumference. A radius that is not positive and finite
    raises."""
    from osmgraft.operators.knn import EARTH_RADIUS_M, chord_side_m

    rng = np.random.default_rng(43)
    big_r = EARTH_RADIUS_M

    def unit(lat, lon):
        phi, lmb = np.radians(lat), np.radians(lon)
        return np.stack([np.cos(phi) * np.cos(lmb), np.cos(phi) * np.sin(lmb), np.sin(phi)])

    for radius in (1.0, 2000.0, 200_000.0, 3.0e7):
        side = chord_side_m(radius)
        reach = min(radius, math.pi * big_r)
        n = 40_000
        lat1 = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
        lon1 = rng.uniform(-180.0, 180.0, n)
        k = n // 8  # poles, near-poles and the antimeridian
        lat1[:k] = rng.choice([90.0, -90.0, 89.9999, -89.9999], k)
        lon1[k : 2 * k] = rng.choice([180.0, -180.0, 179.9999, -179.9999], k)
        delta = rng.uniform(0.9, 1.0, n) * reach / big_r
        theta = rng.uniform(0.0, 2 * math.pi, n)
        p1 = np.radians(lat1)
        p2 = np.arcsin(
            np.clip(np.sin(p1) * np.cos(delta) + np.cos(p1) * np.sin(delta) * np.cos(theta), -1, 1)
        )
        dl = np.arctan2(
            np.sin(theta) * np.sin(delta) * np.cos(p1), np.cos(delta) - np.sin(p1) * np.sin(p2)
        )
        lat2 = np.degrees(p2)
        lon2 = (lon1 + np.degrees(dl) + 180.0) % 360.0 - 180.0
        a = (
            np.sin((p2 - p1) / 2) ** 2
            + np.cos(p1) * np.cos(p2) * np.sin(np.radians(lon2 - lon1) / 2) ** 2
        )
        within = 2 * big_r * np.arcsin(np.sqrt(np.minimum(a, 1.0))) <= radius
        assert within.mean() > 0.9, radius
        # the engine's key: floor(unit vector * (R / side)) per axis
        u1 = unit(lat1[within], lon1[within]) * (big_r / side)
        u2 = unit(lat2[within], lon2[within]) * (big_r / side)
        assert np.abs(np.floor(u1) - np.floor(u2)).max() <= 1, radius
        # the block is tight: some pair spans nearly a whole cell side
        assert np.abs(u1 - u2).max() > 0.9, radius

    for bad in (0.0, -5.0, float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError):
            chord_side_m(bad)


def test_knn_and_dedup_plans_hold_no_python_eval(spark):
    """The chord-grid probe is Catalyst only: neither the knn_candidates
    plan nor the dedup_labels plan holds a Python eval node."""
    from osmgraft.operators.knn import dedup_labels, knn_candidates

    df = spark.createDataFrame(
        [(i, 45.0 + i * 1e-3, 7.0, i) for i in range(20)],
        "osm_id long, lat double, lon double, rank long",
    )
    for out in (knn_candidates(df, df, 2000.0), dedup_labels(df, 2000.0)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_dedup_hot_cell_bounded(spark):
    """Hot cluster: 12k labels inside one 2 km blob over a 1k background.
    The blob collapses to one survivor, and the leader probe tests a number
    of pairs linear in n (all-pairs inside the blob would be ~1.4e8)."""
    from osmgraft.operators.knn import _dedup_frames, dedup_labels

    rng = np.random.default_rng(23)
    n_hot, n_bg = 12_000, 1_000
    n = n_hot + n_bg
    # sigma ~100 m: the whole blob is far inside the 2 km radius
    lats = np.concatenate([45.0 + rng.normal(0, 0.001, n_hot), rng.uniform(-60, 60, n_bg)])
    lons = np.concatenate([7.0 + rng.normal(0, 0.001, n_hot), rng.uniform(-170, 170, n_bg)])
    ranks = rng.permutation(n)
    rows = [(i, float(lats[i]), float(lons[i]), int(ranks[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "osm_id long, lat double, lon double, rank long")

    slim = df.select("osm_id", "rank", "lat", "lon").localCheckpoint(eager=True)
    fr = _dedup_frames(slim, 2000.0, "rank", "osm_id", None)
    n_leaders = fr["leaders"].count()
    n_probed = fr["probed"].count()
    # the blob spans a handful of election cells; the background is one
    # label per cell
    assert n_leaders <= n_bg + 50, n_leaders
    # measured 25,002 (1.92 n): the blob's two leaders each meet its 12k
    # labels, a background leader mostly itself
    assert n_probed <= 2 * n, n_probed

    out = dedup_labels(df, 2000.0).select("osm_id", "lat", "lon").collect()
    hot_survivors = [
        r for r in out if abs(r["lat"] - 45.0) < 0.01 and abs(r["lon"] - 7.0) < 0.01
    ]
    assert len(hot_survivors) == 1  # the blob collapses to its best label


def test_dedup_job_budget(spark):
    """dedup_labels plus a noop write of its output runs a fixed number of
    Spark jobs: the slim checkpoint, its count, and the stages of the one
    output query. No driver-side probe of the data is taken."""
    from osmgraft.operators.knn import dedup_labels

    rng = np.random.default_rng(7)
    n = 3_000
    rows = [
        (i, float(45.0 + rng.normal(0, 0.05)), float(7.0 + rng.normal(0, 0.05)), i)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "osm_id long, lat double, lon double, rank long")
    df = df.localCheckpoint(eager=True)
    sc = spark.sparkContext
    sc.setJobGroup("dedup_budget", "dedup_budget")
    try:
        dedup_labels(df, 2000.0).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    jobs = len(sc.statusTracker().getJobIdsForGroup("dedup_budget"))
    assert jobs == 11, jobs  # measured: 2 for the slim frame, 9 for the query


def test_skew_split_helpers_bound_hot_cells(spark):
    """hot_cell_map/salt_cells/replicate_cells: the hot cell's rows spread
    over ~ceil(n/bound) salt buckets, each bounded; cold cells untouched;
    joining on (cell, salt) reproduces the plain cell join exactly."""
    from osmgraft.operators.skew import hot_cell_map, replicate_cells, salt_cells

    big = spark.range(10_100).select(
        F.col("id"),
        F.when(F.col("id") < 10_000, F.lit(1)).otherwise(F.lit(2)).alias("cell"),
    )
    hot = hot_cell_map(big, "cell", max_rows=1000)
    assert {(r["cell"], r["_n_salts"]) for r in hot.collect()} == {(1, 10)}

    salted = salt_cells(big, hot, "cell", ["id"]).cache()
    per_bucket = salted.groupBy("cell", "_cell_salt").count().collect()
    hot_counts = [r["count"] for r in per_bucket if r["cell"] == 1]
    assert len(hot_counts) == 10  # all 10 buckets in use
    assert max(hot_counts) < 2500  # ~1000 each, hash-variance slack
    assert [r["_cell_salt"] for r in per_bucket if r["cell"] == 2] == [0]

    probe = spark.createDataFrame([(100, 1), (101, 1), (102, 2), (103, 3)], "pid long, cell int")
    repl = replicate_cells(probe, hot, "cell").cache()
    assert repl.count() == 2 * 10 + 1 + 1  # hot x n_salts, cold once
    # equivalence: (cell, salt) join == plain cell join
    plain = {(r["pid"], r["id"]) for r in probe.join(big, "cell").select("pid", "id").collect()}
    split = {
        (r["pid"], r["id"])
        for r in repl.join(salted, ["cell", "_cell_salt"]).select("pid", "id").collect()
    }
    assert split == plain


def test_skew_split_spatial_joins_identical_output(spark):
    """Zipf hot cluster through pip_join(partitioned) and knn_candidates:
    with skew_max_rows set the join outputs are IDENTICAL while the hot
    cell's join key is split over multiple salt buckets."""
    from osmgraft.operators.knn import knn_candidates
    from osmgraft.operators.pip import pip_join

    rng = np.random.default_rng(31)
    n_hot, n_bg = 1500, 300
    lats = np.concatenate([45.0 + rng.normal(0, 0.004, n_hot), rng.uniform(-60, 60, n_bg)])
    lons = np.concatenate([7.0 + rng.normal(0, 0.004, n_hot), rng.uniform(-170, 170, n_bg)])
    pts = spark.createDataFrame(
        [(i, float(lats[i]), float(lons[i])) for i in range(n_hot + n_bg)],
        "pid long, lat double, lon double",
    ).localCheckpoint(eager=True)

    polys = spark.createDataFrame(
        [
            (1, [44.8, 44.8, 45.2, 45.2], [6.8, 7.2, 7.2, 6.8]),  # covers the cluster
            (2, [-10.0, -10.0, 10.0, 10.0], [-20.0, 20.0, 20.0, -20.0]),
            (3, [30.0, 30.0, 50.0, 50.0], [-150.0, -100.0, -100.0, -150.0]),
        ],
        "poly_id long, ring_lats array<double>, ring_lons array<double>",
    ).withColumn("name", F.concat(F.lit("P"), F.col("poly_id")))

    def pip_pairs(**kw):
        out = pip_join(pts, polys, strategy="partitioned", res=6, **kw)
        return sorted((r["pid"], r["poly_id"]) for r in out.collect())

    base = pip_pairs()
    split = pip_pairs(skew_max_rows=500)
    assert split == base
    assert len({p for p, _ in base if p < n_hot}) > 0  # cluster actually joined

    # The dense cluster emits O(n_hot^2) pairs, so verify equivalence
    # Spark-side (count + order-insensitive pair-hash sum) instead of
    # collecting millions of rows to the driver.
    def knn_digest(**kw):
        out = knn_candidates(
            pts.select("pid", "lat", "lon"), pts.select("pid", "lat", "lon"), 300.0, **kw
        )
        row = out.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64(F.col("pid"), F.col("pid_r")).cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    kbase = knn_digest()
    ksplit = knn_digest(skew_max_rows=500)
    assert ksplit == kbase and kbase[0] > n_hot  # dense cluster pairs survive


def test_knn_banded_matches_bruteforce_across_bands(spark):
    # Points straddling the latitude band edges (45.573, 60, 75.522) and the
    # polar cap threshold (84.261): the banded resolution choice must not
    # lose pairs whose members fall in different bands, and the cap must be
    # handled exactly (round 1 silently missed neighbors above |lat|~78.5).
    from osmgraft.operators.knn import EARTH_RADIUS_M, knn_candidates

    rng = np.random.default_rng(11)
    centers = [(45.57, 10.0), (60.0, -20.0), (75.52, 170.0), (84.26, 0.0), (-86.0, 100.0), (88.5, -179.9)]
    rows = []
    i = 0
    for clat, clon in centers:
        for _ in range(25):
            rows.append((i, float(clat + rng.normal(0, 0.01)), float(clon + rng.normal(0, 0.02))))
            i += 1
    df = spark.createDataFrame(rows, "pid long, lat double, lon double")
    radius = 1500.0

    got = sorted(
        (r["pid"], r["pid_r"])
        for r in knn_candidates(df, df, radius).collect()
        if r["pid"] < r["pid_r"]
    )

    def hav(a, b):
        p1, p2 = math.radians(a[1]), math.radians(b[1])
        dl = math.radians(b[2] - a[2])
        x = math.sin((p2 - p1) / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
        return 2 * EARTH_RADIUS_M * math.asin(math.sqrt(x))

    want = sorted(
        (a[0], b[0]) for a in rows for b in rows if a[0] < b[0] and hav(a, b) <= radius
    )
    assert got == want
    assert len(want) > 100  # every cluster contributes pairs


def test_knn_banded_adversarial_coordinates(spark):
    # Exact band-edge latitudes (digitize boundaries), the poles, and
    # lon exactly +-180: the banded encode + sentinel caps + seam replicas
    # must still match brute force with zero duplicates.
    from osmgraft.operators.knn import EARTH_RADIUS_M, knn_candidates

    rng = np.random.default_rng(23)
    spots = [
        (45.573, 0.0), (-45.573, 10.0), (60.0, -180.0), (75.522, 180.0),
        (84.261, 0.0), (-84.261, -180.0), (90.0, 0.0), (-90.0, 0.0),
        (0.0, 180.0), (0.0, -180.0), (89.99, 179.99), (-89.99, -179.99),
    ]
    rows = []
    i = 0
    for clat, clon in spots:
        rows.append((i, float(clat), float(clon)))  # the exact coordinate itself
        i += 1
        for _ in range(8):
            la = float(np.clip(clat + rng.normal(0, 0.02), -90.0, 90.0))
            lo = float(clon + rng.normal(0, 0.05))
            if lo > 180.0:
                lo -= 360.0
            if lo < -180.0:
                lo += 360.0
            rows.append((i, la, lo))
            i += 1
    df = spark.createDataFrame(rows, "pid long, lat double, lon double")
    radius = 4000.0

    collected = [
        (r["pid"], r["pid_r"])
        for r in knn_candidates(df, df, radius).collect()
        if r["pid"] < r["pid_r"]
    ]
    assert len(collected) == len(set(collected)), "duplicate pairs emitted"

    def hav(a, b):
        p1, p2 = math.radians(a[1]), math.radians(b[1])
        dl = math.radians(b[2] - a[2])
        x = math.sin((p2 - p1) / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
        return 2 * EARTH_RADIUS_M * math.asin(math.sqrt(min(1.0, x)))

    want = sorted(
        (a[0], b[0]) for a in rows for b in rows if a[0] < b[0] and hav(a, b) <= radius
    )
    assert sorted(collected) == want
    assert len(want) > 50


def test_knn_join_topk(spark):
    from osmgraft.operators.knn import knn_join

    left = spark.createDataFrame([(1, 0.0, 0.0)], "lid long, lat double, lon double")
    right = spark.createDataFrame(
        [(i, 0.0, 0.0001 * i) for i in range(1, 8)], "rid long, lat double, lon double"
    )
    out = knn_join(left, right, k=3, radius_m=5000.0, left_key="lid").collect()
    assert [r["rid_r"] for r in sorted(out, key=lambda r: r["knn_rank"])] == [1, 2, 3]


# --- tiles ------------------------------------------------------------------------


def test_tile_assignment(spark):
    from osmgraft.operators.tiles import assign_tiles

    df = spark.createDataFrame(
        [(48.7758, 9.1829), (0.0, 0.0), (-85.0, 179.999), (85.0, -179.999)],
        "lat double, lon double",
    )
    rows = assign_tiles(df, z=10).collect()
    by_pt = {(round(r["lat"], 3), round(r["lon"], 3)): (r["tile_x"], r["tile_y"]) for r in rows}
    # Stuttgart at z=10: x=floor((9.1829+180)/360*1024)=538,
    # y=floor((1-asinh(tan 48.7758°)/pi)/2*1024)=352
    assert by_pt[(48.776, 9.183)] == (538, 352)
    assert by_pt[(0.0, 0.0)] == (512, 512)
    for x, y in by_pt.values():
        assert 0 <= x < 1024 and 0 <= y < 1024


def test_tiles_with_order(spark):
    from osmgraft.operators.tiles import tiles_with_order

    df = spark.createDataFrame(
        [(1, 48.0, 9.0, 5), (2, 48.0001, 9.0001, 2), (3, 10.0, 10.0, 1)],
        "osm_id long, lat double, lon double, rank long",
    )
    out = {r["osm_id"]: r["tile_pos"] for r in tiles_with_order(df, z=8).collect()}
    assert out[2] == 0 and out[1] == 1  # same tile, rank 2 first
    assert out[3] == 0


# --- raster <-> vector ------------------------------------------------------------


def test_rasterize_count_preserved(spark):
    """Every input point lands in exactly one pixel -> values sum to N."""
    from osmgraft.operators.raster import rasterize

    rng = np.random.default_rng(7)
    pts = spark.createDataFrame(
        [(float(la), float(lo)) for la, lo in zip(rng.uniform(-80, 80, 400), rng.uniform(-179, 179, 400))],
        "lat double, lon double",
    )
    ras = rasterize(pts, z=4, px=64)
    rows = ras.collect()
    assert sum(r["value"] for r in rows) == 400
    for r in rows:
        assert 0 <= r["tile_x"] < 16 and 0 <= r["tile_y"] < 16
        assert 0 <= r["px_x"] < 64 and 0 <= r["px_y"] < 64


def test_rasterize_agg_max(spark):
    from osmgraft.operators.raster import rasterize

    pts = spark.createDataFrame(
        [(10.0, 10.0, 3), (10.0, 10.0, 9), (50.0, 50.0, 1)],
        "lat double, lon double, imp long",
    )
    vals = sorted(
        r["value"] for r in rasterize(pts, z=3, px=32, value_col="imp", agg="max").collect()
    )
    assert vals == [1, 9]


def test_raster_vector_roundtrip(spark):
    """vectorize() pixel rectangles must contain the points that rasterized
    into them (inverse mercator inverts the forward transform)."""
    from osmgraft.operators.raster import rasterize, vectorize

    rng = np.random.default_rng(11)
    data = [
        (int(i), float(la), float(lo))
        for i, (la, lo) in enumerate(zip(rng.uniform(-80, 80, 200), rng.uniform(-179, 179, 200)))
    ]
    pts = spark.createDataFrame(data, "pid long, lat double, lon double")
    rect = vectorize(rasterize(pts, z=5, px=32), px=32)
    # brute-force: every point inside at least one rectangle whose value>0
    rects = rect.collect()
    pts_local = data
    for pid, la, lo in pts_local[:50]:
        hit = any(
            min(r["ring_lats"]) - 1e-9 <= la <= max(r["ring_lats"]) + 1e-9
            and min(r["ring_lons"]) - 1e-9 <= lo <= max(r["ring_lons"]) + 1e-9
            for r in rects
        )
        assert hit, (pid, la, lo)


def test_vectorize_feeds_pip(spark):
    """vectorize output is consumable by pip_join (schema contract)."""
    from osmgraft.operators.pip import pip_join
    from osmgraft.operators.raster import rasterize, vectorize

    pts = spark.createDataFrame(
        [(1, 20.0, 30.0), (2, -40.0, 100.0)], "pid long, lat double, lon double"
    )
    polys = vectorize(rasterize(pts, z=3, px=16), px=16).select(
        "poly_id", F.lit("px").alias("name"), "ring_lats", "ring_lons"
    )
    out = pip_join(pts, polys, strategy="broadcast")
    assert out.count() == 2  # each point falls in its own pixel rectangle


def test_idw_exact_hit_and_support(spark):
    """A single isolated point: its own pixel interpolates to exactly the
    point's value (only one weight contributes), every emitted pixel lies
    within the radius disk, and the fan-out count is the disk size."""
    from osmgraft.operators.raster import idw_grid

    pts = spark.createDataFrame([(0.0, 0.0, 7.0)], "lat double, lon double, v double")
    g = idw_grid(pts, z=4, px=64, radius=2, value_col="v").collect()
    # circular kernel at r=2: 13 offsets with dx^2+dy^2 <= 4 (1+4+4+4)
    assert len(g) == 13
    gx = {(r["tile_x"] * 64 + r["px_x"], r["tile_y"] * 64 + r["px_y"]): r for r in g}
    cx, cy = 512, 512  # forward mercator of (0, 0) at n = 16*64 = 1024
    own = gx[(cx, cy)]
    assert own["value"] == 7.0 and own["n_src"] == 1
    for (x, y), r in gx.items():
        assert (x - cx) ** 2 + (y - cy) ** 2 <= 4
        assert abs(r["value"] - 7.0) < 1e-12  # single source: v everywhere


def test_idw_constant_field_and_weighting(spark):
    """Constant-valued points interpolate to (approximately) the constant;
    a two-point gradient interpolates strictly between the two values and
    closer to the nearer point."""
    from osmgraft.operators.raster import idw_grid

    rng = np.random.default_rng(5)
    pts = spark.createDataFrame(
        [(float(la), float(lo), 3.5) for la, lo in zip(rng.uniform(-70, 70, 50), rng.uniform(-170, 170, 50))],
        "lat double, lon double, v double",
    )
    for r in idw_grid(pts, z=3, px=32, radius=1, value_col="v").collect():
        assert abs(r["value"] - 3.5) < 1e-9
    # two adjacent pixels, values 0 and 10: midpoints weight toward nearer
    two = spark.createDataFrame(
        [(0.0, 0.0, 0.0), (0.0, 0.4, 10.0)], "lat double, lon double, v double"
    )
    out = {
        (r["tile_x"] * 64 + r["px_x"], r["tile_y"] * 64 + r["px_y"]): r["value"]
        for r in idw_grid(two, z=2, px=64, radius=2, value_col="v").collect()
    }
    assert any(0.0 < v < 10.0 for v in out.values())  # blended band exists
    assert min(out.values()) >= 0.0 and max(out.values()) <= 10.0


def test_idw_values_are_convex_combinations(spark):
    """Property check: IDW output is a weighted mean, so every surface
    value lies within [min, max] of the input values."""
    from osmgraft.operators.raster import idw_grid

    rng = np.random.default_rng(13)
    vals = rng.uniform(-5.0, 25.0, 200)
    pts = spark.createDataFrame(
        [
            (float(la), float(lo), float(v))
            for la, lo, v in zip(
                rng.uniform(-70, 70, 200), rng.uniform(-170, 170, 200), vals
            )
        ],
        "lat double, lon double, v double",
    )
    out = idw_grid(pts, z=4, px=32, radius=2, value_col="v").collect()
    assert out
    lo, hi = vals.min(), vals.max()
    for r in out:
        assert lo - 1e-9 <= r["value"] <= hi + 1e-9


def test_vectorize_runs_merges_rows(spark):
    """Horizontally adjacent equal-valued pixels collapse into one
    rectangle; run_len totals the pixel count and bounds cover the run."""
    from osmgraft.operators.raster import rasterize, vectorize_runs

    # three points in consecutive pixels of one row + one isolated point
    pts = spark.createDataFrame(
        [(0.0, 0.05), (0.0, 0.40), (0.0, 0.75), (40.0, 90.0)],
        "lat double, lon double",
    )
    ras = rasterize(pts, z=2, px=256)  # n=1024 px, ~0.35 deg/px at equator
    runs = vectorize_runs(ras, px=256).collect()
    assert sum(r["run_len"] for r in runs) == ras.count()
    by_len = sorted(r["run_len"] for r in runs)
    assert by_len == [1, 3]
    merged = next(r for r in runs if r["run_len"] == 3)
    assert merged["value"] == 1
    assert merged["west"] < 0.05 and merged["east"] > 0.75
    assert merged["south"] < 0.0 <= merged["north"]  # lat 0 sits on the row edge


def test_smooth_box_single_pixel_spreads_mean(spark):
    from osmgraft.operators.raster import smooth_box

    ras = spark.createDataFrame(
        [(4, 2, 3, 10, 20, 9)],
        "tile_z long, tile_x long, tile_y long, px_x long, px_y long, value long",
    )
    out = smooth_box(ras, px=64, radius=1).collect()
    # value 9 spreads over the 3x3 neighborhood as mean 9/9 = 1.0
    assert len(out) == 9
    assert all(r["value"] == 1.0 for r in out)
    xs = sorted(r["tile_x"] * 64 + r["px_x"] for r in out)
    assert xs[0] == 2 * 64 + 9 and xs[-1] == 2 * 64 + 11


def test_smooth_box_separable_equals_direct_and_conserves(spark):
    from osmgraft.operators.raster import rasterize, smooth_box

    rng = np.random.default_rng(9)
    pts = spark.createDataFrame(
        [(float(la), float(lo)) for la, lo in zip(rng.uniform(-60, 60, 300), rng.uniform(-170, 170, 300))],
        "lat double, lon double",
    )
    ras = rasterize(pts, z=5, px=32)  # integer counts -> exact float sums
    key = lambda r: (r["tile_x"], r["tile_y"], r["px_x"], r["px_y"])  # noqa: E731
    sep = {key(r): r["value"] for r in smooth_box(ras, px=32, radius=2).collect()}
    dct = {key(r): r["value"] for r in smooth_box(ras, px=32, radius=2, passes="direct").collect()}
    assert sep == dct  # integer-valued sums: bit-identical across paths
    # mass conservation (each input v spreads v/k^2 to k^2 pixels):
    # output values sum to the input count; no pixel near the grid edge
    assert abs(sum(sep.values()) - 300) < 1e-6


def test_smooth_box_bad_mode_raises(spark):
    import pytest as _pytest

    from osmgraft.operators.raster import smooth_box

    ras = spark.createDataFrame(
        [(4, 0, 0, 0, 0, 1)],
        "tile_z long, tile_x long, tile_y long, px_x long, px_y long, value long",
    )
    with _pytest.raises(ValueError, match="unknown passes"):
        smooth_box(ras, px=64, passes="diagonal")


def test_contour_single_pixel_diamond(spark):
    from osmgraft.operators.raster import contour_segments

    ras = spark.createDataFrame(
        [(4, 0, 0, 5, 5, 1)],
        "tile_z long, tile_x long, tile_y long, px_x long, px_y long, value long",
    )
    segs = contour_segments(ras, px=64, threshold=0.5).collect()
    # 4 corner blocks, one segment each, edges crossed at f=0.5: the
    # diamond with vertices at the 4 half-pixel offsets around (5,5)
    assert len(segs) == 4
    assert sorted(r["case_id"] for r in segs) == [1, 2, 4, 8]
    endpoints = []
    for r in segs:
        endpoints += [(r["x0"], r["y0"]), (r["x1"], r["y1"])]
    # closed loop: every vertex shared by exactly 2 segments
    from collections import Counter

    assert all(v == 2 for v in Counter(endpoints).values())
    assert set(endpoints) == {(5.5, 5.0), (5.0, 5.5), (4.5, 5.0), (5.0, 4.5)}


def test_contour_saddle_resolves_on_center(spark):
    from osmgraft.operators.raster import contour_segments

    # diagonal pixels high -> block (10,10) is case 10 with center == t
    # (not >), so the low-center branch separates the two high corners
    ras = spark.createDataFrame(
        [(4, 0, 0, 10, 10, 1), (4, 0, 0, 11, 11, 1)],
        "tile_z long, tile_x long, tile_y long, px_x long, px_y long, value long",
    )
    rows = contour_segments(ras, px=64, threshold=0.5).collect()
    saddle = [r for r in rows if r["case_id"] == 10]
    assert len(saddle) == 2  # two segments in the one saddle block
    for r in rows:  # every segment has finite interpolated endpoints
        assert all(r[c] is not None for c in ("x0", "y0", "x1", "y1"))


def test_contour_loops_close_on_random_clusters(spark):
    from collections import Counter

    from osmgraft.operators.raster import contour_segments, rasterize

    rng = np.random.default_rng(21)
    base = rng.uniform(-50, 50, (20, 2))
    pts = [
        (float(la + o1), float(lo + o2))
        for la, lo in base
        for o1, o2 in rng.normal(0, 0.5, (30, 2))
    ]
    df = spark.createDataFrame(pts, "lat double, lon double")
    segs = contour_segments(rasterize(df, z=4, px=32), px=32, threshold=0.5).collect()
    assert segs  # clusters produce contours
    cnt = Counter()
    for r in segs:
        cnt[(round(r["x0"], 6), round(r["y0"], 6))] += 1
        cnt[(round(r["x1"], 6), round(r["y1"], 6))] += 1
    # iso-lines of a function are closed curves: every vertex degree 2
    assert all(v == 2 for v in cnt.values())


def test_vectorize_runs_never_merges_across_values(spark):
    from osmgraft.operators.raster import vectorize_runs

    # hand-built raster row: values 1,1,2,1 -> runs (1,len2),(2,len1),(1,len1)
    ras = spark.createDataFrame(
        [(3, 0, 0, x, 5, v) for x, v in [(0, 1), (1, 1), (2, 2), (3, 1)]],
        "tile_z long, tile_x long, tile_y long, px_x long, px_y long, value long",
    )
    runs = sorted(
        (r["value"], r["run_len"]) for r in vectorize_runs(ras, px=16).collect()
    )
    assert runs == [(1, 1), (1, 2), (2, 1)]


def test_knn_matches_bruteforce_mixed_fixture(spark):
    # random points plus a band edge, a polar cap, an equator cluster and
    # the antimeridian: every ordered pair within r, self pairs included,
    # with its distance, exactly once
    from osmgraft.operators.knn import knn_candidates

    rng = np.random.default_rng(23)
    lats = np.concatenate([
        rng.uniform(-80, 80, 120),
        rng.normal(45.573, 0.05, 30),     # band edge
        rng.normal(85.0, 0.5, 20),        # polar cap
        rng.uniform(-0.1, 0.1, 30),       # equator cluster -> dense pairs
    ])
    lons = np.concatenate([
        rng.uniform(-180, 180, 120),
        rng.uniform(-1, 1, 30),
        rng.uniform(-180, 180, 20),
        rng.normal(179.95, 0.1, 30),      # antimeridian
    ])
    lons = ((lons + 180.0) % 360.0) - 180.0
    rows = [(i, float(a), float(o)) for i, (a, o) in enumerate(zip(lats, lons))]
    df = spark.createDataFrame(rows, "pid long, lat double, lon double")
    radius = 25_000.0

    got = sorted(
        (r["pid"], r["pid_r"], r["dist_m"]) for r in knn_candidates(df, df, radius).collect()
    )
    want = sorted((a[0], b[0], d) for a in rows for b in rows if (d := _hav_m(a, b)) <= radius)
    assert [g[:2] for g in got] == [w[:2] for w in want]
    assert all(abs(g[2] - w[2]) <= 1e-6 for g, w in zip(got, want))
    assert sum(1 for g in got if g[0] < g[1]) > 50


def test_tile_pyramid_matches_direct_per_level(spark):
    """The rollup identity: deriving level z-1 from level z's tile table
    must equal aggregating the raw points directly at z-1 (exact because
    floor(floor(t*2^z)/2) == floor(t*2^(z-1)) and clamps map edge->edge)."""
    from osmgraft.operators.tiles import assign_tiles, tile_pyramid

    rows = [
        (i, ((i * 7919) % 17000) / 100.0 - 85.0, ((i * 104729) % 36000) / 100.0 - 180.0)
        for i in range(800)
    ]
    # include the clamp edges explicitly
    rows += [(9001, 90.0, 180.0), (9002, -90.0, -180.0), (9003, 85.06, 179.999)]
    df = spark.createDataFrame(rows, "pid long, lat double, lon double")
    got = {
        (r["tile_z"], r["tile_x"], r["tile_y"]): (r["n_labels"], r["best_rank"])
        for r in tile_pyramid(df, z_max=7, z_min=4, rank_col="pid").collect()
    }
    import pyspark.sql.functions as F2

    want = {}
    for z in range(4, 8):
        for r in (
            assign_tiles(df, z)
            .groupBy("tile_z", "tile_x", "tile_y")
            .agg(F2.count("*").alias("n"), F2.min("pid").alias("b"))
            .collect()
        ):
            want[(r["tile_z"], r["tile_x"], r["tile_y"])] = (r["n"], r["b"])
    assert got == want


def test_tile_pyramid_single_scan_of_source(spark):
    """The rollup's scale claim, measured: with single_scan=True every
    source row is evaluated exactly ONCE (counted by an accumulator in a
    mapInPandas wrapper around the source); without the per-level persist
    the union recomputes the base per level — levels x n evaluations.
    Catalyst does not fire ReusedExchange across these union branches, so
    the persist is what makes 'input scanned once' true, not aspiration."""
    from osmgraft.operators.tiles import tile_pyramid

    base = spark.range(500).selectExpr(
        "id as pid",
        "cast((id * 37 % 170) - 85 as double) as lat",
        "cast((id * 91 % 360) - 180 as double) as lon",
    )

    def run(single_scan):
        acc = spark.sparkContext.accumulator(0)

        def counted(it):
            for pdf in it:
                acc.add(len(pdf))
                yield pdf

        src = base.mapInPandas(counted, base.schema)
        tile_pyramid(src, z_max=6, z_min=3, single_scan=single_scan).count()
        return acc.value

    assert run(True) == 500
    assert run(False) == 4 * 500  # one rescan per level without the persist


def test_zorder_key_bit_exact_vs_duckdb(spark):
    duckdb = pytest.importorskip("duckdb")
    from osmgraft.operators.layout import zorder_key, zorder_oracle_sql

    rows = [
        (i, ((i * 7919) % 18000) / 100.0 - 90.0, ((i * 104729) % 36000) / 100.0 - 180.0)
        for i in range(500)
    ] + [(9001, 90.0, 180.0), (9002, -90.0, -180.0)]
    df = spark.createDataFrame(rows, "pid long, lat double, lon double")
    got = dict(
        (r["pid"], r["zkey"])
        for r in df.select("pid", zorder_key(F.col("lat"), F.col("lon"), 16)).collect()
    )
    con = duckdb.connect()
    con.execute("create table pts(pid bigint, lat double, lon double)")
    con.executemany("insert into pts values (?, ?, ?)", rows)
    sql = zorder_oracle_sql("select pid, lat, lon from pts", bits=16)
    assert got == dict(con.execute(sql).fetchall())


def test_zrange_quad_containment():
    """Every point inside a quadtree cell has its Morton key inside the
    cell's contiguous range, and every point outside falls outside."""
    from osmgraft.operators.layout import zrange_for_quad

    bits = 8

    def key(gx, gy):
        k = 0
        for i in range(bits):
            k |= ((gx >> i) & 1) << (2 * i) | ((gy >> i) & 1) << (2 * i + 1)
        return k

    level = 3  # 8x8 quads of a 256x256 grid; each quad spans 32x32 cells
    lo, hi = zrange_for_quad(2, 5, level, bits)
    span = 1 << (bits - level)
    inside = [(2 * span, 5 * span), (2 * span + span - 1, 5 * span + span - 1)]
    outside = [(2 * span - 1, 5 * span), (3 * span, 5 * span), (2 * span, 6 * span)]
    for gx, gy in inside:
        assert lo <= key(gx, gy) <= hi
    for gx, gy in outside:
        assert not (lo <= key(gx, gy) <= hi)
    with pytest.raises(ValueError):
        zrange_for_quad(8, 0, level, bits)
    with pytest.raises(ValueError):
        zrange_for_quad(0, 0, 9, bits)


def test_zorder_layout_prunes_files(spark, tmp_path):
    """The point of the layout: after cluster_by_zorder, a quad-aligned
    box query prunes most files by footer min/max alone; the same data in
    ingest (hash) order prunes nothing."""
    from osmgraft.operators.layout import (
        cluster_by_zorder,
        file_zkey_stats,
        pruned_fraction,
        zorder_key,
        zrange_for_quad,
    )

    df = spark.range(20000).selectExpr(
        "id as pid",
        "cast((id * 7919 % 18000) / 100.0 - 90.0 as double) as lat",
        "cast((id * 104729 % 36000) / 100.0 - 180.0 as double) as lon",
    )
    zpath = str(tmp_path / "zsorted")
    cluster_by_zorder(df, n_files=16).write.parquet(zpath)
    rpath = str(tmp_path / "rand")
    df.withColumn("zkey", zorder_key(F.col("lat"), F.col("lon"), 16)).repartition(
        16
    ).write.parquet(rpath)

    lo, hi = zrange_for_quad(1, 2, 2, 16)  # one quarter-of-a-quarter of the globe
    zstats = [tuple(r) for r in file_zkey_stats(spark, zpath).collect()]
    rstats = [tuple(r) for r in file_zkey_stats(spark, rpath).collect()]
    assert len(zstats) == 16
    z_pruned = pruned_fraction(zstats, lo, hi)
    r_pruned = pruned_fraction(rstats, lo, hi)
    assert r_pruned == 0.0  # every ingest-order file spans the whole curve
    assert z_pruned >= 0.75  # clustered layout skips >= 12/16 files


def test_zranges_cover_box_and_box_query_exact(spark):
    """The Morton cover must be a superset of the box (pruning predicate),
    and box_query must return EXACTLY the plain-filter rows — on both a
    zkey-carrying frame and a raw lat/lon frame."""
    from osmgraft.operators.layout import box_query, zorder_key, zranges_for_box

    rows = [
        (i, ((i * 7919) % 18000) / 100.0 - 90.0, ((i * 104729) % 36000) / 100.0 - 180.0)
        for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "pid long, lat double, lon double")
    box = (10.0, 35.0, -20.0, 40.0)

    want = sorted(
        r["pid"]
        for r in df.where(
            (F.col("lat") >= box[0]) & (F.col("lat") <= box[1])
            & (F.col("lon") >= box[2]) & (F.col("lon") <= box[3])
        ).collect()
    )
    assert want  # box is non-trivial
    got = sorted(r["pid"] for r in box_query(df, *box).collect())
    assert got == want

    keyed = df.withColumn("zkey", zorder_key(F.col("lat"), F.col("lon"), 16))
    got2 = sorted(r["pid"] for r in box_query(keyed, *box).collect())
    assert got2 == want

    # cover property: every in-box point's key inside some range
    ranges = zranges_for_box(*box, bits=16, max_ranges=64)
    assert 1 <= len(ranges) <= 64
    keys = {
        r["pid"]: r["zkey"]
        for r in keyed.select("pid", "zkey").collect()
    }
    for pid in want:
        assert any(lo <= keys[pid] <= hi for lo, hi in ranges)

    with pytest.raises(ValueError):
        zranges_for_box(5.0, 4.0, 0.0, 1.0)


def test_box_query_prunes_clustered_files(spark, tmp_path):
    """End-to-end pruning: over a zorder-clustered parquet layout, the
    box_query range predicate skips most FILES by footer min/max alone
    (measured the same way a reader does), while returning exact rows."""
    from osmgraft.operators.layout import (
        cluster_by_zorder,
        file_zkey_stats,
        pruned_fraction,
        zranges_for_box,
    )

    df = spark.range(20000).selectExpr(
        "id as pid",
        "cast((id * 7919 % 18000) / 100.0 - 90.0 as double) as lat",
        "cast((id * 104729 % 36000) / 100.0 - 180.0 as double) as lon",
    )
    path = str(tmp_path / "zclustered")
    cluster_by_zorder(df, n_files=16).write.parquet(path)
    box = (40.0, 55.0, 5.0, 25.0)  # ~western-Europe-sized box
    ranges = zranges_for_box(*box, bits=16, max_ranges=64)
    stats = [tuple(r) for r in file_zkey_stats(spark, path).collect()]
    # a file survives if ANY cover range intersects it
    hit = sum(
        1
        for _, mn, mx in stats
        if any(not (mx < lo or mn > hi) for lo, hi in ranges)
    )
    assert 1.0 - hit / len(stats) >= 0.5  # at least half the files skip
    # and the hit files do contain every box row (sanity via pruned_fraction
    # of the single widest range; box rows come from the exact filter anyway)
    assert pruned_fraction(stats, ranges[0][0], ranges[-1][1]) < 1.0


def test_zonal_stats_matches_bruteforce(spark, pip_data):
    from osmgraft.operators.zonal import zonal_stats

    points, polys = pip_data
    pts_df = spark.createDataFrame(points, "pid long, lat double, lon double").withColumn(
        "val", (F.col("pid") % 13).cast("double")
    )
    polys_df = spark.createDataFrame(
        polys, "poly_id long, ring_lats array<double>, ring_lons array<double>"
    ).withColumn("name", F.concat(F.lit("Z"), F.col("poly_id")))
    got = {
        r["poly_id"]: (r["count_val"], r["sum_val"], r["mean_val"])
        for r in zonal_stats(
            pts_df, polys_df, "val", strategy="broadcast"
        ).collect()
    }
    pairs = _brute_pip(points, polys)
    want = {}
    for pid, q in pairs:
        want.setdefault(q, []).append(float(pid % 13))
    for q, vals in want.items():
        c, s, m = got[q]
        assert c == len(vals)
        assert abs(s - sum(vals)) < 1e-9
        assert abs(m - sum(vals) / len(vals)) < 1e-9
    assert set(got) == set(want)  # zones with no points absent by default


def test_zonal_stats_empty_zones_and_validation(spark, pip_data):
    from osmgraft.operators.zonal import zonal_stats

    points, polys = pip_data
    pts_df = spark.createDataFrame(points, "pid long, lat double, lon double").withColumn(
        "val", F.lit(1.0)
    )
    # one guaranteed-empty zone far from every point
    polys_df = spark.createDataFrame(
        polys + [(999, [88.0, 89.0, 89.0], [170.0, 170.0, 175.0])],
        "poly_id long, ring_lats array<double>, ring_lons array<double>",
    ).withColumn("name", F.concat(F.lit("Z"), F.col("poly_id")))
    out = {
        r["poly_id"]: r["count_val"]
        for r in zonal_stats(
            pts_df, polys_df, "val", include_empty_zones=True, strategy="broadcast"
        ).collect()
    }
    assert out[999] == 0
    assert len(out) == len(polys) + 1  # every zone present
    with pytest.raises(ValueError):
        zonal_stats(pts_df, polys_df, "val", stats=("median",))
