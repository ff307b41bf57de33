"""Geometry-blob codec: the media side of the interleaved documents table.

Media spans carry ``media_ref='geom://<blob-id>'``; the blobs themselves
live in a side table ``blobs(blob_id string, payload binary)`` (an object
store in the 10^12-doc deployment). Payloads are opaque little-endian
packed structs — decoded ONLY inside Arrow-batched kernels, never with
per-row Python UDFs on the JVM hot path.

Format (byte 0 = kind):
- POINT   (kind=1): f64 lat, f64 lon                            -> 17 bytes
- SEGMENT (kind=2): u8 role (0=outer,1=inner,255=unknown),
                    i64 way_id, i32 n,
                    i64[n] node_ids, f64[n] lats, f64[n] lons

SEGMENT mirrors FIXTURES.md §1: ordered node coordinate lists with the
outer/inner role in the header (the graft analogue of PBF way members,
/root/reference/src/input/osminputhelper.cpp:277-359).
"""

from __future__ import annotations

import struct

import numpy as np

KIND_POINT = 1
KIND_SEGMENT = 2

POINT_BYTES = 17

ROLE_OUTER = 0
ROLE_INNER = 1
ROLE_UNKNOWN = 255  # exercises the unknown-role relation drop (osminputhelper.cpp:328-337)


def pack_point(lat: float, lon: float) -> bytes:
    return struct.pack("<Bdd", KIND_POINT, lat, lon)


def pack_segment(role: int, way_id: int, node_ids, lats, lons) -> bytes:
    n = len(node_ids)
    head = struct.pack("<BBqi", KIND_SEGMENT, role, way_id, n)
    body = (
        np.asarray(node_ids, dtype="<i8").tobytes()
        + np.asarray(lats, dtype="<f8").tobytes()
        + np.asarray(lons, dtype="<f8").tobytes()
    )
    return head + body


def unpack(payload: bytes) -> dict:
    """Decode one blob -> dict (used inside Arrow batch kernels and tests).

    Untrusted-bytes contract (same as ``functions.ttf.parse_ttf``): any
    malformed payload raises ``ValueError`` — never ``IndexError`` /
    ``struct.error`` — so a corrupt blob in the 10^12-doc table surfaces
    as the documented error instead of an opaque executor task death."""
    if not payload:
        raise ValueError("empty geometry blob")
    kind = payload[0]
    if kind == KIND_POINT:
        if len(payload) < POINT_BYTES:
            raise ValueError(f"point blob truncated: {len(payload)} < {POINT_BYTES} bytes")
        lat, lon = struct.unpack_from("<dd", payload, 1)
        return {"kind": kind, "lat": lat, "lon": lon}
    if kind == KIND_SEGMENT:
        if len(payload) < 14:
            raise ValueError(f"segment blob header truncated: {len(payload)} < 14 bytes")
        role, way_id, n = struct.unpack_from("<Bqi", payload, 1)
        off = 1 + 13
        if n < 0 or off + 24 * n > len(payload):
            raise ValueError(f"segment blob claims {n} nodes, payload holds {len(payload)} bytes")
        node_ids = np.frombuffer(payload, dtype="<i8", count=n, offset=off)
        lats = np.frombuffer(payload, dtype="<f8", count=n, offset=off + 8 * n)
        lons = np.frombuffer(payload, dtype="<f8", count=n, offset=off + 16 * n)
        return {
            "kind": kind,
            "role": role,
            "way_id": way_id,
            "node_ids": node_ids,
            "lats": lats,
            "lons": lons,
        }
    raise ValueError(f"unknown blob kind {kind}")


def unpack_points(blob_ids, payloads) -> np.ndarray:
    """Decode a batch of POINT blobs -> float64 ``(n, 2)`` lat/lon array,
    with one join and one ``frombuffer`` for the whole batch.

    Every payload's length and kind is checked, vectorised, before the
    reshape: a 16-byte blob next to an 18-byte one would otherwise join
    to a multiple of 17 bytes and shift every later row. A bad payload
    raises ``ValueError`` naming the first bad blob id."""
    n = len(payloads)
    sizes = np.fromiter(map(len, payloads), dtype=np.int64, count=n)
    buf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    kinds = np.zeros(n, dtype=np.uint8)  # 0: no kind byte (empty payload)
    nonempty = sizes > 0
    kinds[nonempty] = buf[(np.cumsum(sizes) - sizes)[nonempty]]
    bad = (sizes != POINT_BYTES) | (kinds != KIND_POINT)
    if bad.any():
        i = int(np.argmax(bad))
        raise ValueError(
            f"blob {list(blob_ids)[i]!r}: {sizes[i]} bytes of kind {kinds[i]}, "
            f"expected a {POINT_BYTES}-byte point (kind {KIND_POINT})"
        )
    return buf.reshape(n, POINT_BYTES)[:, 1:].copy().view("<f8")
