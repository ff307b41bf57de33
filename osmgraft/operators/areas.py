"""Area-POI path: J1/J2 semi-joins, A1 polygon assembly, A2 centroid,
P8 size cap, P9 completeness filter, U1 union feed.

Reference dataflow: /root/reference/src/input/osminputhelper.cpp:586-667
(3 PBF passes + sequential finalize). Spark shape: the passes are joins;
the finalize is a grouped Arrow kernel bounded by the P8 cap (<=100 outer
node refs per relation, osminputhelper.cpp:226-235), so per-group Python
cost is O(100).

UPSTREAM BUG (documented delta): ``assemblePolygon`` checks
``adjacent.count(startNode) == 1`` (osminputhelper.cpp:142-144) — for
``std::unordered_map`` that is ALWAYS true, so the reference bails out and
silently drops EVERY multi-segment relation; only single-segment relations
survive (via the fast path at :100-113). The intended check is clearly the
dangling-endpoint test ``adjacent.at(startNode).size() == 1``. We implement
the INTENDED semantics by default and keep ``literal_bugs=True`` to
reproduce the reference binary exactly; both behaviors are pinned by tests.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

MAX_OUTER_NODE_REFS = 100  # osminputhelper.cpp:226-235


# ---------------------------------------------------------------------------
# A1: pure-Python assembly core (runs inside the grouped Arrow kernel)
# ---------------------------------------------------------------------------


def assemble_polygon(
    seg_ids: list[int],
    segments: dict[int, list[int]],
    literal_bugs: bool = False,
) -> list[list[int]]:
    """assemblePolygon (osminputhelper.cpp:91-192): stitch way segments into
    closed ring(s), flipping segment direction as needed. Returns rings as
    node-id lists whose first element equals the last (the walk re-appends
    the start node), or fewer/no rings on bail (missing segment/node)."""
    if len(seg_ids) == 1:
        ring = list(segments[seg_ids[0]])
        if ring[0] != ring[-1]:
            ring.append(ring[0])  # force-close unclosed data (:100-113)
        return [ring]

    adjacent: dict[int, list[int]] = {}
    for sid in seg_ids:
        nodes = segments[sid]
        adjacent.setdefault(nodes[0], []).append(sid)
        adjacent.setdefault(nodes[-1], []).append(sid)

    result: list[list[int]] = []
    while adjacent:
        start = next(iter(adjacent))
        if not adjacent[start]:
            del adjacent[start]
            continue
        if literal_bugs:
            # adjacent.count(startNode)==1 is always true -> immediate bail (:142-144)
            return result
        if len(adjacent[start]) == 1:
            return result  # intended: dangling endpoint, ring can't close

        cur_seg = adjacent[start].pop(0)
        seg = segments[cur_seg]
        ring = list(seg) if seg[0] == start else list(reversed(seg))
        cur = ring[-1]
        if cur in adjacent:
            # std::list::remove erases ALL equal elements (:157)
            adjacent[cur] = [s for s in adjacent[cur] if s != cur_seg]

        while cur != start:
            if cur not in adjacent or not adjacent[cur]:
                return result  # missing nodes -> bail with rings so far (:159-171)
            cur_seg = adjacent[cur].pop(0)
            if cur_seg not in segments:
                return result
            seg = segments[cur_seg]
            if seg[0] == cur:
                ring.extend(seg[1:])
            elif seg[-1] == cur:
                ring.extend(list(reversed(seg))[1:])
            else:
                return result
            cur = ring[-1]
            if cur in adjacent:
                adjacent[cur] = [s for s in adjacent[cur] if s != cur_seg]

        result.append(ring)
    return result


def centroid_of_rings(
    rings: list[list[int]], coords: dict[int, tuple[float, float]]
) -> tuple[float, float]:
    """A2 (osminputhelper.cpp:237-263): plain average over ring node
    occurrences — shared/duplicated nodes counted per occurrence, including
    the re-appended start node. Not the true polygon centroid, by design."""
    s_lat = s_lon = 0.0
    n = 0
    for ring in rings:
        for node in ring:
            la, lo = coords[node]
            s_lat += la
            s_lon += lo
            n += 1
    return s_lat / n, s_lon / n


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------

_AREA_OUT = StructType(
    [
        StructField("rel_id", LongType()),
        StructField("lat", DoubleType()),
        StructField("lon", DoubleType()),
    ]
)


def _finalize_batches(
    literal_bugs: bool,
    passthrough: tuple[str, ...] = (),
    finish: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
):
    """Batched A1+A2 kernel over packed (rel_id, mem) rows — thousands of
    relations per Arrow batch, plain-Python inner loop bounded by P8.
    (A ``groupBy().applyInPandas`` builds one pandas frame per relation,
    about 2 ms fixed cost each; the packed rows avoid that.)

    ``passthrough`` columns (e.g. the tags map) ride through the kernel for
    surviving rows, so relation metadata needs NO re-join after assembly —
    a re-join would re-execute the whole member-join subtree a second time
    (ReuseExchange does not fire across the differing projections).
    ``finish`` maps each batch's surviving rows in the same worker."""

    def finalize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rel: list[int] = []
            out_lat: list[float] = []
            out_lon: list[float] = []
            out_keep: list[int] = []
            for row_i, (rel_id, mem) in enumerate(zip(pdf["rel_id"], pdf["mem"])):
                segs: dict[int, list[int]] = {}
                coords: dict[int, tuple[float, float]] = {}
                outer_ids: list[tuple[int, int]] = []
                for m in mem:
                    wid = int(m["way_id"])
                    node_ids = [int(x) for x in m["node_ids"]]
                    segs[wid] = node_ids
                    for nid, la, lo in zip(node_ids, m["lats"], m["lons"]):
                        coords[nid] = (float(la), float(lo))
                    if m["role"] == 0:
                        outer_ids.append((int(m["ord"]), wid))
                # P8/P9 already ran as Catalyst filters (packed_area_centroids)
                outer = [w for _, w in sorted(outer_ids)]
                rings = assemble_polygon(outer, segs, literal_bugs=literal_bugs)
                if not rings:
                    continue
                lat, lon = centroid_of_rings(rings, coords)
                out_rel.append(int(rel_id))
                out_lat.append(lat)
                out_lon.append(lon)
                out_keep.append(row_i)
            out = {"rel_id": out_rel, "lat": out_lat, "lon": out_lon}
            for c in passthrough:
                out[c] = pdf[c].to_numpy()[out_keep]
            yield finish(pd.DataFrame(out)) if finish else pd.DataFrame(out)

    return finalize


def packed_area_centroids(
    rel_packed: DataFrame,
    literal_bugs: bool = False,
    passthrough: tuple[str, ...] = (),
    finish: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """(rel_id, lat, lon[, passthrough...]) straight from the decode stage's
    packed relations (rel_id, mem, has_missing, tags) — zero extra
    shuffles: P9 and P8 are Catalyst filters on the packed row, assembly is
    one narrow Arrow pass, and metadata columns ride through the kernel.
    ``finish`` (a pandas frame -> frame map, output ``schema``) turns each
    batch of those rows into its own output inside the same kernel."""
    outer_refs = F.aggregate(
        F.filter(F.col("mem"), lambda m: m["role"] == F.lit(0)),
        F.lit(0),
        lambda acc, m: acc + F.size(m["node_ids"]),
    )
    src = (
        rel_packed.where(~F.col("has_missing"))  # P9 (:637-655)
        .where(outer_refs.between(1, MAX_OUTER_NODE_REFS))  # P8 (:226-235)
        .select("rel_id", "mem", *passthrough)
    )
    if finish is None:
        schema = StructType(_AREA_OUT.fields + [rel_packed.schema[c] for c in passthrough])
    return src.mapInPandas(_finalize_batches(literal_bugs, passthrough, finish), schema=schema)


def area_pois(packed: DataFrame, literal_bugs: bool = False) -> DataFrame:
    """Finished area POIs: (osm_id, lat, lon, tags) — ready for U1 union
    with node POIs (osminputhelper.cpp:706-734). ``packed`` is the decode
    stage's single-shuffle relations frame, so the whole path is one
    shuffle + one narrow Arrow pass."""
    # tags (and the literal-name column when present) ride THROUGH the
    # assembly kernel — re-joining them afterwards would execute the
    # member-join subtree twice (projections differ, so ReuseExchange
    # cannot deduplicate it)
    extra = ["_name_lit"] if "_name_lit" in packed.columns else []
    cents = packed_area_centroids(
        packed, literal_bugs=literal_bugs, passthrough=tuple(["tags"] + extra)
    )
    return cents.select(F.col("rel_id").alias("osm_id"), "lat", "lon", "tags", *extra)
