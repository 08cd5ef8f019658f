"""Minimal WKB (well-known binary) codec, numpy-backed.

Geometry model is GeoJSON-shaped with numpy leaf arrays:

- ``("Point", (2,) float64)``            — stored as dict {"type","coordinates"}
- ``("LineString", (N,2))``
- ``("Polygon", [ring0 (N,2), hole1 …])`` — ring0 exterior, CCW not enforced
- ``("MultiPoint", (N,2))``
- ``("MultiLineString", [(N,2), …])``
- ``("MultiPolygon", [[rings], …])``

Covers the reference's layer types (/root/reference/SpaVectors.py:9-12,
285-312) including its Polygon→MultiPolygon promotion rule, exposed here
as :func:`promote_multi` (/root/reference/SpaVectors.py:308-309,659-663).

WKB is always emitted little-endian (byte order 1); both byte orders are
accepted on read.  Coordinate payloads are decoded with
``np.frombuffer`` — one numpy call per ring, no per-coordinate Python.

The batch fast paths (overlay/relate refine, rectangle buffer, zone
coverings) share one decoder, one rectangle test and one encoder:

- :func:`decode_convex_rings` decodes a whole batch of small convex
  single-ring Polygons (tiles, boxes) at once;
- :func:`bbox_rings` is the rectangle test — a ring is a rectangle when
  it is exactly its own bbox — and :func:`rect_bounds` applies it to
  decoded rings (4 vertices) and returns their bounds;
- :func:`encode_mp_rings` encodes a batch of rings as 1-part
  MultiPolygons; rectangles go through it as their
  :func:`box_corners`.
"""

from __future__ import annotations

import struct

import numpy as np

_TYPES = {
    1: "Point",
    2: "LineString",
    3: "Polygon",
    4: "MultiPoint",
    5: "MultiLineString",
    6: "MultiPolygon",
    7: "GeometryCollection",
}
_CODES = {v: k for k, v in _TYPES.items()}


def _coords(arr) -> np.ndarray:
    a = np.asarray(arr, dtype=np.float64)
    if a.ndim == 1:
        a = a.reshape(1, 2)
    return a


# ---------------------------------------------------------------------------
# Encode
# ---------------------------------------------------------------------------


def _enc_ring(a: np.ndarray) -> bytes:
    a = _coords(a)
    return struct.pack("<I", a.shape[0]) + a.astype("<f8").tobytes()


def dumps(geom: dict) -> bytes:
    """GeoJSON-shaped dict → WKB bytes (little-endian)."""
    t = geom["type"]
    c = geom["coordinates"]
    head = struct.pack("<bI", 1, _CODES[t])
    if t == "Point":
        a = np.asarray(c, dtype=np.float64).reshape(2)
        return head + a.astype("<f8").tobytes()
    if t in ("LineString", "MultiPoint"):
        return head + _enc_ring(c)
    if t == "Polygon":
        body = struct.pack("<I", len(c)) + b"".join(_enc_ring(r) for r in c)
        return head + body
    if t == "MultiLineString":
        parts = [dumps({"type": "LineString", "coordinates": r}) for r in c]
        return head + struct.pack("<I", len(parts)) + b"".join(parts)
    if t == "MultiPolygon":
        parts = [dumps({"type": "Polygon", "coordinates": p}) for p in c]
        return head + struct.pack("<I", len(parts)) + b"".join(parts)
    if t == "GeometryCollection":
        parts = [dumps(g) for g in c]
        return head + struct.pack("<I", len(parts)) + b"".join(parts)
    raise ValueError(f"unsupported geometry type {t!r}")


# ---------------------------------------------------------------------------
# Decode
# ---------------------------------------------------------------------------


def _rd_u32(buf: bytes, off: int, bo: str) -> tuple[int, int]:
    return struct.unpack_from(bo + "I", buf, off)[0], off + 4


def _rd_ring(buf: bytes, off: int, bo: str) -> tuple[np.ndarray, int]:
    n, off = _rd_u32(buf, off, bo)
    dt = "<f8" if bo == "<" else ">f8"
    a = np.frombuffer(buf, dtype=dt, count=2 * n, offset=off).reshape(n, 2)
    return a.astype(np.float64, copy=False), off + 16 * n


def _loads_at(buf: bytes, off: int) -> tuple[dict, int]:
    byte_order = buf[off]
    bo = "<" if byte_order == 1 else ">"
    code, off = _rd_u32(buf, off + 1, bo)
    code = code & 0xFF  # strip any SRID/dimension flag bits (2D only)
    t = _TYPES[code]
    if t == "Point":
        dt = "<f8" if bo == "<" else ">f8"
        a = np.frombuffer(buf, dtype=dt, count=2, offset=off)
        return {"type": t, "coordinates": a.astype(np.float64, copy=False)}, off + 16
    if t in ("LineString", "MultiPoint"):
        a, off = _rd_ring(buf, off, bo)
        return {"type": t, "coordinates": a}, off
    if t == "Polygon":
        nr, off = _rd_u32(buf, off, bo)
        rings = []
        for _ in range(nr):
            r, off = _rd_ring(buf, off, bo)
            rings.append(r)
        return {"type": t, "coordinates": rings}, off
    if t in ("MultiLineString", "MultiPolygon", "GeometryCollection"):
        np_, off = _rd_u32(buf, off, bo)
        parts = []
        for _ in range(np_):
            g, off = _loads_at(buf, off)
            parts.append(g)
        if t == "MultiLineString":
            return {"type": t, "coordinates": [g["coordinates"] for g in parts]}, off
        if t == "MultiPolygon":
            return {"type": t, "coordinates": [g["coordinates"] for g in parts]}, off
        return {"type": t, "coordinates": parts}, off
    raise ValueError(f"unsupported WKB code {code}")


def loads(buf: bytes) -> dict:
    """WKB bytes → GeoJSON-shaped dict with numpy leaf arrays."""
    g, _ = _loads_at(bytes(buf), 0)
    return g


def decode_convex_rings(
    bufs, max_pts: int = 16
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batch-decode single-ring Polygon WKBs whose ring is convex with
    ≤ ``max_pts`` vertices.

    Returns ``(ok, pts, cnt)``: ``pts`` is (n, max_pts, 2) float64 with
    the OPEN ring (closing vertex dropped, original orientation) padded
    with zeros; ``cnt[i]`` the vertex count; a ``None`` is not ``ok``.
    One frombuffer per distinct byte length — no per-row wkb.loads."""
    n = len(bufs)
    ok = np.zeros(n, dtype=bool)
    pts = np.zeros((n, max_pts, 2), dtype=np.float64)
    cnt = np.zeros(n, dtype=np.int64)
    if n == 0:
        return ok, pts, cnt
    vals = bufs.to_numpy() if hasattr(bufs, "to_numpy") else np.asarray(
        bufs, dtype=object
    )
    # a null (None) is no Polygon: length 0 is never decodable
    lens = np.fromiter((0 if b is None else len(b) for b in vals),
                       dtype=np.int64, count=n)
    for L in np.unique(lens):
        if (L - 13) % 16 != 0:
            continue
        v = (L - 13) // 16  # closed-ring point count
        if v < 4 or v - 1 > max_pts:
            continue
        idx = np.nonzero(lens == L)[0]
        raw = np.frombuffer(b"".join(vals[idx]), dtype=np.uint8).reshape(-1, int(L))
        hdr = np.frombuffer(
            bytes([1, 3, 0, 0, 0, 1, 0, 0, 0]) + int(v).to_bytes(4, "little"),
            dtype=np.uint8,
        )
        good = (raw[:, :13] == hdr).all(axis=1)
        coords = (
            np.ascontiguousarray(raw[:, 13:]).view("<f8").reshape(-1, int(v), 2)
        )
        closed = (coords[:, 0] == coords[:, -1]).all(axis=1)
        r = coords[:, :-1]  # open
        nxt = np.roll(r, -1, axis=1)
        nx2 = np.roll(r, -2, axis=1)
        cross = (nxt[:, :, 0] - r[:, :, 0]) * (nx2[:, :, 1] - nxt[:, :, 1]) - (
            nxt[:, :, 1] - r[:, :, 1]
        ) * (nx2[:, :, 0] - nxt[:, :, 0])
        convex = (cross >= 0).all(axis=1) | (cross <= 0).all(axis=1)
        # non-degenerate: some strictly nonzero turn
        nz = (cross != 0).any(axis=1)
        good &= closed & convex & nz
        sel = idx[good]
        ok[sel] = True
        pts[sel, : int(v) - 1] = r[good]
        cnt[sel] = int(v) - 1
    return ok, pts, cnt


def bbox_rings(v) -> np.ndarray:
    """The rectangle test: True per closed 5-vertex ring ``v[i]`` ((m, 5,
    2)) that is exactly its bbox — axis-parallel edges (one coordinate
    changes per edge) and both pairs of opposite vertices differing in
    both coordinates, so a ring that doubles back on itself fails."""
    d = np.diff(v, axis=1)
    return ((v[:, 0] == v[:, 4]).all(axis=1)
            & ((d[..., 0] == 0) != (d[..., 1] == 0)).all(axis=1)
            & (v[:, 0] != v[:, 2]).all(axis=1) & (v[:, 1] != v[:, 3]).all(axis=1))


def rect_bounds(ok, pts, cnt) -> tuple[np.ndarray, np.ndarray]:
    """The rectangles among :func:`decode_convex_rings` output: returns
    ``(rect, bounds)``, ``rect[i]`` True iff ring *i* decoded to 4
    vertices that pass :func:`bbox_rings`, and ``bounds[i]`` its
    ``(minx, miny, maxx, maxy)`` there (zeros elsewhere)."""
    v = pts[:, [0, 1, 2, 3, 0]]  # every row, closed: no masked copies
    rect = ok & (cnt == 4) & bbox_rings(v)
    q = v[:, :4]
    bounds = np.concatenate([q.min(axis=1), q.max(axis=1)], axis=1)
    return rect, np.where(rect[:, None], bounds, 0.0)


def box_corners(b) -> np.ndarray:
    """(n, 4) ``[minx, miny, maxx, maxy]`` rows → (n, 4, 2) open CCW rings
    starting at (minx, miny), the vertex order of :func:`box`."""
    return np.asarray(b, dtype=np.float64)[:, [[0, 1], [2, 1], [2, 3], [0, 3]]]


def encode_mp_rings(pts: np.ndarray, cnt: np.ndarray) -> list[bytes]:
    """Batch-encode padded OPEN rings as 1-part MultiPolygon WKB
    (closing vertex appended), byte-identical to :func:`dumps` —
    grouped by vertex count, one header stamp + coord view per group."""
    n = len(cnt)
    out: list = [None] * n
    for c in np.unique(cnt):
        ci = int(c)
        idx = np.nonzero(cnt == c)[0]
        v = ci + 1  # closed
        L = 9 + 13 + 16 * v
        hdr = np.frombuffer(
            bytes([1, 6, 0, 0, 0, 1, 0, 0, 0, 1, 3, 0, 0, 0, 1, 0, 0, 0])
            + v.to_bytes(4, "little"),
            dtype=np.uint8,
        )
        buf = np.empty((len(idx), L), dtype=np.uint8)
        buf[:, : len(hdr)] = hdr
        ring = np.empty((len(idx), v, 2), dtype="<f8")
        ring[:, :ci] = pts[idx, :ci]
        ring[:, ci] = pts[idx, 0]
        buf[:, len(hdr):] = ring.reshape(len(idx), -1).view(np.uint8)
        flat = buf.tobytes()
        for i, k in zip(idx.tolist(), range(0, len(flat), L)):
            out[i] = flat[k:k + L]
    return out


# ---------------------------------------------------------------------------
# Convenience constructors / reference semantics
# ---------------------------------------------------------------------------


def point(x: float, y: float) -> dict:
    return {"type": "Point", "coordinates": np.array([x, y], dtype=np.float64)}


def polygon(exterior, holes=()) -> dict:
    rings = [_close_ring(_coords(exterior))] + [_close_ring(_coords(h)) for h in holes]
    return {"type": "Polygon", "coordinates": rings}


def box(minx: float, miny: float, maxx: float, maxy: float) -> dict:
    return polygon(
        [[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy], [minx, miny]]
    )


_BOX_WKB_HDR = np.frombuffer(
    bytes([1, 3, 0, 0, 0, 1, 0, 0, 0, 5, 0, 0, 0]), dtype=np.uint8
)


def dumps_boxes(b: np.ndarray) -> list[bytes]:
    """Batch twin of ``dumps(box(...))`` for (n, 4) [minx, miny, maxx,
    maxy] rows — byte-identical output, one header stamp + one coord
    view instead of n per-ring encodes (fixture/bbox layers are built
    by the hundred-thousand)."""
    ring = np.ascontiguousarray(box_corners(b)[:, [0, 1, 2, 3, 0]], dtype="<f8")
    m = len(ring)
    out = np.empty((m, 13 + 80), dtype=np.uint8)
    out[:, :13] = _BOX_WKB_HDR
    out[:, 13:] = ring.reshape(m, 10).view(np.uint8)
    return [r.tobytes() for r in out]


def _close_ring(a: np.ndarray) -> np.ndarray:
    if not np.array_equal(a[0], a[-1]):
        a = np.vstack([a, a[:1]])
    return a


def promote_multi(geom: dict) -> dict:
    """Reference type-promotion: Polygon→MultiPolygon, LineString→
    MultiLineString (/root/reference/SpaVectors.py:308-309,659-663)."""
    t = geom["type"]
    if t == "Polygon":
        return {"type": "MultiPolygon", "coordinates": [geom["coordinates"]]}
    if t == "LineString":
        return {"type": "MultiLineString", "coordinates": [geom["coordinates"]]}
    return geom


def polygons_of(geom: dict):
    """Iterate the polygon parts (each a list of rings) of a (Multi)Polygon."""
    if geom["type"] == "Polygon":
        yield geom["coordinates"]
    elif geom["type"] == "MultiPolygon":
        yield from geom["coordinates"]
    else:
        raise ValueError(f"not a polygonal geometry: {geom['type']}")


__all__ = [
    "dumps",
    "loads",
    "point",
    "polygon",
    "box",
    "promote_multi",
    "polygons_of",
    "decode_convex_rings",
    "bbox_rings",
    "rect_bounds",
    "box_corners",
    "encode_mp_rings",
]
