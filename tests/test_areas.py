"""A1/A2 assembly + centroid semantics (osminputhelper.cpp:63-263),
including flipped segments, multi-segment rings, the force-close fast
path, bail on missing segments, and the documented literal-bug mode."""

from __future__ import annotations

from osmgraft.operators.areas import assemble_polygon, centroid_of_rings


def ring_ids(rings):
    return [list(r) for r in rings]


def test_single_segment_closed():
    segs = {10: [1, 2, 3, 1]}
    assert ring_ids(assemble_polygon([10], segs)) == [[1, 2, 3, 1]]


def test_single_segment_force_close():
    # unclosed single segment gets force-closed (osminputhelper.cpp:100-113)
    segs = {10: [1, 2, 3]}
    assert ring_ids(assemble_polygon([10], segs)) == [[1, 2, 3, 1]]


def test_two_segments_stitch():
    segs = {10: [1, 2, 3], 11: [3, 4, 1]}
    rings = assemble_polygon([10, 11], segs)
    assert ring_ids(rings) == [[1, 2, 3, 4, 1]]


def test_flipped_segment_stitch():
    # second segment stored reversed; stitcher must flip it
    segs = {10: [1, 2, 3], 11: [1, 4, 3]}
    rings = assemble_polygon([10, 11], segs)
    assert ring_ids(rings) == [[1, 2, 3, 4, 1]]


def test_missing_segment_bails_empty():
    # walk reaches node 3 and finds no continuation -> bail with rings so far
    segs = {10: [1, 2, 3], 11: [4, 5, 1]}
    rings = assemble_polygon([10, 11], segs)
    assert rings == []


def test_multi_ring():
    segs = {10: [1, 2, 3], 11: [3, 4, 1], 20: [7, 8, 9, 7]}
    # 20 is already closed and shares no nodes; two rings expected.
    rings = assemble_polygon([10, 11, 20], segs)
    assert sorted(len(r) for r in rings) == [4, 5]


def test_literal_bug_mode_drops_multiseg():
    """The reference's adjacent.count(startNode)==1 check is always true
    for multi-segment relations (osminputhelper.cpp:142-144) -> empty."""
    segs = {10: [1, 2, 3], 11: [3, 4, 1]}
    assert assemble_polygon([10, 11], segs, literal_bugs=True) == []
    # single-segment fast path is unaffected
    assert assemble_polygon([10], {10: [1, 2, 1]}, literal_bugs=True) == [[1, 2, 1]]


def test_centroid_counts_duplicates():
    """A2: plain average over ring occurrences — the re-appended start node
    counts twice (osminputhelper.cpp:237-263)."""
    coords = {1: (0.0, 0.0), 2: (0.0, 2.0), 3: (2.0, 2.0)}
    rings = [[1, 2, 3, 1]]
    lat, lon = centroid_of_rings(rings, coords)
    assert lat == (0 + 0 + 2 + 0) / 4
    assert lon == (0 + 2 + 2 + 0) / 4


def test_area_centroids_spark(spark):
    """End-to-end operator over a hand-built ``rel_packed`` frame (the
    decode stage's form): P8 cap and P9 completeness enforced, outer
    members assembled in ``ord`` order whatever their array order, inner
    members left out of P8 and the centroid, tags carried through."""
    from osmgraft.operators.areas import packed_area_centroids

    # a member is (ord, role, way_id, node_ids, lats, lons); role 0 = outer
    big_ids = list(range(1000, 1105))  # 105 refs > 100
    rel_packed = spark.createDataFrame(
        [
            # members listed against ord order: starting the walk at way
            # 11 would give the ring [3,4,1,2,3], centroid (1.2, 1.2)
            (1, {"name": "A"}, False, [
                (2, 1, 12, [50, 51, 52, 50], [9.0] * 4, [9.0] * 4),  # inner
                (1, 0, 11, [3, 4, 1], [2.0, 2.0, 0.0], [2.0, 0.0, 0.0]),
                (0, 0, 10, [1, 2, 3], [0.0, 0.0, 2.0], [0.0, 2.0, 2.0]),
            ]),
            (2, {"name": "B"}, False, [(0, 0, 20, [5, 6, 7], [1.0, 1.0, 3.0], [1.0, 3.0, 3.0])]),
            (3, {"name": "C"}, True, [(0, 0, 30, [8, 9], [0.0, 1.0], [0.0, 1.0])]),  # P9 drop
            (4, {"name": "D"}, False, [(0, 0, 40, big_ids, [0.0] * 105, [0.0] * 105)]),  # P8 drop
            (5, {"name": "E"}, False, [(0, 1, 60, [7, 8, 7], [0.0] * 3, [0.0] * 3)]),  # no outer
        ],
        "rel_id long, tags map<string,string>, has_missing boolean, "
        "mem array<struct<ord:int,role:int,way_id:long,node_ids:array<long>,"
        "lats:array<double>,lons:array<double>>>",
    )

    got = {
        r["rel_id"]: (r["lat"], r["lon"], r["tags"]["name"])
        for r in packed_area_centroids(rel_packed, passthrough=("tags",)).collect()
    }
    assert set(got) == {1, 2}
    # rel 1: ring [1,2,3,4,1]: lats (0+0+2+2+0)/5, lons (0+2+2+0+0)/5
    assert got[1] == (0.8, 0.8, "A")
    # rel 2: force-closed [5,6,7,5]: lats (1+1+3+1)/4, lons (1+3+3+1)/4
    assert got[2] == (1.5, 2.0, "B")
