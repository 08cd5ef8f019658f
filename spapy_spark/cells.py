"""Z-order hierarchical cell index (the H3/S2 role), pure vectorized numpy.

A *cell* is an int64 encoding ``(resolution, morton(ix, iy))`` of a square
lat/lon grid tile:

- resolution ``r`` in [0, 26]: the world is split into ``2^r × 2^r`` tiles
  (lon axis -180..180, lat axis -90..90, half-open on the high edges
  but for the last column and the top row, which hold lon 180 and lat 90).
- ``ix`` indexes longitude, ``iy`` latitude; bits interleaved (Morton /
  Z-order) so that a parent cell id is a *prefix* of its children —
  the "cell-prefix hash join" key of BASELINE.json's north rule.
- layout: ``cell = (r << 56) | interleave2(ix, iy)`` — 5 res bits at the
  top (sign bit clear), ≤52 Morton bits below.  Fits Spark LongType.

Why not real H3/S2: neither library is available in this environment and
the engine must be from-scratch; a Z-order quadtree gives the same
algebra the join planner needs (point→cell, polygon→cover set,
parent/child truncation) with exact integer arithmetic — no
floating-point platform drift in the join keys (SURVEY.md §7.3).

Everything here is a pure function of numpy arrays (driver side, and
inside Arrow-batched Python stages such as the ZoneIndex probe), except
the Catalyst twins (``*_col``), so the grid keys of every operator's
DataFrames are computed in the JVM without a Python stage.

Every zone covering comes from one function, :func:`cover_zones`, which
covers a whole batch of zones in one pass: the ZoneIndex behind both
PIP plans builds from it once, and ``pip.zone_cell_covering`` (the
overlay/relate candidate join) calls it once per Arrow batch.

Reference parity note: the reference has *no* spatial index at all — it
nested-loops every feature pair (/root/reference/SpaVectors.py:964-983).
This module is the scale substitute demanded by the north rule.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 26
_RES_SHIFT = 56
_MORTON_MASK = (np.uint64(1) << np.uint64(52)) - np.uint64(1)

# ---------------------------------------------------------------------------
# Morton bit-interleave (classic magic-mask spread), vectorized uint64.
# ---------------------------------------------------------------------------

_M1 = np.uint64(0x0000FFFF0000FFFF)
_M2 = np.uint64(0x00FF00FF00FF00FF)
_M3 = np.uint64(0x0F0F0F0F0F0F0F0F)
_M4 = np.uint64(0x3333333333333333)
_M5 = np.uint64(0x5555555555555555)


def _part1by1(x: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of ``x`` into the even bit positions."""
    x = x.astype(np.uint64, copy=True)
    x &= np.uint64(0xFFFFFFFF)
    x = (x | (x << np.uint64(16))) & _M1
    x = (x | (x << np.uint64(8))) & _M2
    x = (x | (x << np.uint64(4))) & _M3
    x = (x | (x << np.uint64(2))) & _M4
    x = (x | (x << np.uint64(1))) & _M5
    return x


def _compact1by1(x: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_part1by1`: gather even bit positions."""
    x = x.astype(np.uint64, copy=True)
    x &= _M5
    x = (x | (x >> np.uint64(1))) & _M4
    x = (x | (x >> np.uint64(2))) & _M3
    x = (x | (x >> np.uint64(4))) & _M2
    x = (x | (x >> np.uint64(8))) & _M1
    x = (x | (x >> np.uint64(16))) & np.uint64(0xFFFFFFFF)
    return x


def _interleave(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    return _part1by1(ix) | (_part1by1(iy) << np.uint64(1))


# ---------------------------------------------------------------------------
# Encode / decode
# ---------------------------------------------------------------------------


def latlon_to_ij(lat, lon, res: int):
    """Quantize lat/lon arrays to integer grid coords at ``res``.

    Lon in [-180, 180] maps monotonically as ``(lon + 180) / 360`` (lon
    180 in the last column, as lat 90 in the top row); other lon wraps
    ``lon + 180`` modulo 360, but for the ulp above 180, whose sum rounds
    to 360.  Latitude clamps (+inf and huge values too — ``fy`` is clamped
    before the int cast, whose result on out-of-range doubles is
    platform-defined).  NaN lands in row/column 0.
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}], got {res}")
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    n = np.int64(1) << np.int64(res)
    m = lon + 180.0
    fx = np.where(m == 360.0, m, np.mod(m, 360.0)) / 360.0
    fy = np.clip((lat + 90.0) / 180.0, 0.0, 1.0)
    ix = np.clip(np.floor(fx * n).astype(np.int64), 0, int(n) - 1)
    iy = np.clip(np.floor(fy * n).astype(np.int64), 0, int(n) - 1)
    return ix, iy


def ij_to_cell(ix, iy, res: int) -> np.ndarray:
    ix = np.asarray(ix, dtype=np.uint64)
    iy = np.asarray(iy, dtype=np.uint64)
    head = np.uint64(res) << np.uint64(_RES_SHIFT)
    return (_interleave(ix, iy) | head).astype(np.int64)


def latlon_to_cell(lat, lon, res: int) -> np.ndarray:
    """Vectorized point→cell encode. Returns int64 array."""
    ix, iy = latlon_to_ij(lat, lon, res)
    return ij_to_cell(ix, iy, res)


def ij_col(lat, lon, res: int):
    """Catalyst twin of :func:`latlon_to_ij`: LongType ``(ix, iy)``
    Columns, equal to it for every double (NaN, ±inf, wrapped lon).
    Java's double ``%`` is C ``fmod``, and adding 360 to a negative
    remainder is ``np.mod``'s sign fix (``pmod`` maps lon one ulp below
    -180 to column 0, numpy to column n-1).  ``fx`` is never negative,
    so ``ix`` (which a cell key copies once per bit) has no lower clamp.
    """
    from pyspark.sql import functions as F

    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}], got {res}")
    n = 1 << res
    m = lon + 180.0
    r = m % 360.0
    fx = (r + F.when((r < 0.0) | (m == 360.0), 360.0).otherwise(0.0)) / 360.0
    fy = (lat + 90.0) / 180.0
    ix = F.least(F.floor(fx * float(n)), F.lit(n - 1))
    iy = F.least(F.greatest(F.floor(fy * float(n)), F.lit(0)), F.lit(n - 1))
    return ix, iy


def ij_cell_col(ix, iy, res: int):
    """Catalyst twin of :func:`ij_to_cell`.  The interleave is per bit,
    so the expression is linear in ``res``: the magic-mask spread reads
    its input twice per step, and as nested Columns that copies the
    input expression 2^5 times.  The key of (ix, iy) is the OR of the
    keys of (ix, 0) and (0, iy)."""
    from pyspark.sql import functions as F

    out = F.lit(res << _RES_SHIFT)
    for b in range(res):
        out = out.bitwiseOR(F.shiftleft(ix.bitwiseAND(1 << b), b)).bitwiseOR(
            F.shiftleft(iy.bitwiseAND(1 << b), b + 1))
    return out


def cell_col(lat, lon, res: int):
    """Catalyst twin of :func:`latlon_to_cell`."""
    return ij_cell_col(*ij_col(lat, lon, res), res)


def parent_col(cell, res: int, parent_res: int):
    """Catalyst twin of :func:`cell_to_parent` for a Column of res-``res``
    cells: one shift and one mask, so a point's cells at several coarser
    levels reuse one :func:`cell_col`."""
    from pyspark.sql import functions as F

    if not 0 <= parent_res <= res:
        raise ValueError("parent_res must be <= res")
    if parent_res == res:
        return cell
    return F.shiftright(cell.bitwiseAND(int(_MORTON_MASK)), 2 * (res - parent_res)
                        ).bitwiseOR(F.lit(parent_res << _RES_SHIFT))


def cell_res(cell) -> np.ndarray:
    cell = np.asarray(cell, dtype=np.uint64)
    return (cell >> np.uint64(_RES_SHIFT)).astype(np.int64)


def cell_to_ij(cell):
    """Decode cells to (ix, iy) int64 arrays (resolution from the id)."""
    cell = np.asarray(cell, dtype=np.uint64)
    m = cell & _MORTON_MASK
    ix = _compact1by1(m).astype(np.int64)
    iy = _compact1by1(m >> np.uint64(1)).astype(np.int64)
    return ix, iy


def ij_bounds(ix, iy, res):
    """(lon_min, lat_min, lon_max, lat_max) of grid cells (ix, iy): numpy
    arrays, or Columns for an int ``res``."""
    w, h = 360.0 / 2.0 ** res, 180.0 / 2.0 ** res
    x0, y0 = ix * w - 180.0, iy * h - 90.0
    return x0, y0, x0 + w, y0 + h


def cell_bounds(cell):
    """(lon_min, lat_min, lon_max, lat_max) float64 arrays per cell."""
    return ij_bounds(*cell_to_ij(cell), cell_res(cell))


def cell_to_parent(cell, parent_res: int) -> np.ndarray:
    """Truncate cells to a coarser resolution (prefix property)."""
    cell = np.asarray(cell, dtype=np.uint64)
    res = cell_res(cell)
    if np.any(res < parent_res):
        raise ValueError("parent_res must be <= cell resolution")
    shift = (2 * (res - parent_res)).astype(np.uint64)
    m = (cell & _MORTON_MASK) >> shift
    head = np.uint64(parent_res) << np.uint64(_RES_SHIFT)
    return (m | head).astype(np.int64)


# ---------------------------------------------------------------------------
# Coverings
# ---------------------------------------------------------------------------


def cover_bbox(lon_min, lat_min, lon_max, lat_max, res: int) -> np.ndarray:
    """All res-``res`` cells intersecting an axis-aligned bbox (no
    antimeridian wrap — callers split wrapped boxes first)."""
    ix0, iy0 = latlon_to_ij(np.float64(lat_min), np.float64(lon_min), res)
    ix1, iy1 = latlon_to_ij(np.float64(lat_max),
                            np.clip(np.float64(lon_max), -180.0, 180.0), res)
    ix0, iy0, ix1, iy1 = int(ix0), int(iy0), int(ix1), int(iy1)
    xs = np.arange(ix0, max(ix1, ix0) + 1, dtype=np.int64)
    ys = np.arange(iy0, max(iy1, iy0) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return ij_to_cell(gx.ravel(), gy.ravel(), res)


def cover_zones(xy, ring_start, ring_zone, n_zones: int, res: int,
                max_cells: int = 4096):
    """Covering cells of a batch of (Multi)Polygon zones, in one pass.

    Ring ``i`` is ``xy[ring_start[i]:ring_start[i + 1]]`` (closed
    (lon, lat) rows), the exterior of one polygon part of zone
    ``ring_zone[i]``; a zone may have several rings or none.  Holes are
    never passed, so the covering stays a superset and the candidate
    join has no false negatives (SURVEY §5.5).

    Each zone covers at ONE res — the finest ≤ ``res`` whose combined
    bbox estimate ``(w + 2)·(h + 2)`` fits ``max_cells``, else 0 — so
    a point's ancestor cell at that res is unique and each (point, zone)
    candidate pair appears at most once in a prefix join.  Each ring
    gets its bbox cells at that res; a ring with more than 4 keeps those
    whose square meets it (:func:`kernels.rects_intersect_ring`), unless
    the ring is exactly its bbox, which every bbox cell meets.

    Returns ``(cells, zone, eff)``: the distinct (cell, zone) pairs,
    grouped by zone in ascending order, and each zone's res (-1 for a
    zone with no cell).
    """
    from .geometry import kernels, wkb  # local import: avoid cycle at module load

    xy = np.asarray(xy, dtype=np.float64)
    start = np.asarray(ring_start, dtype=np.int64)
    nonempty = start[1:] > start[:-1]
    lo, hi = start[:-1][nonempty], start[1:][nonempty]
    rz = np.asarray(ring_zone, dtype=np.int64)[nonempty]
    eff = np.full(n_zones, -1, dtype=np.int64)
    if not len(lo):
        return np.empty(0, np.int64), np.empty(0, np.int64), eff
    # ring bboxes (empty rings are zero-length: the nonempty starts still
    # delimit the segments), then zone bboxes
    x, y = xy[: hi[-1], 0], xy[: hi[-1], 1]
    rx0, rx1 = np.minimum.reduceat(x, lo), np.maximum.reduceat(x, lo)
    ry0, ry1 = np.minimum.reduceat(y, lo), np.maximum.reduceat(y, lo)
    zx0, zy0 = np.full(n_zones, np.inf), np.full(n_zones, np.inf)
    zx1, zy1 = -zx0, -zy0
    for at, zb, rb in ((np.minimum.at, zx0, rx0), (np.minimum.at, zy0, ry0),
                       (np.maximum.at, zx1, rx1), (np.maximum.at, zy1, ry1)):
        at(zb, rz, rb)
    z = np.unique(rz)
    dlon, dlat = zx1[z] - zx0[z], zy1[z] - zy0[z]
    ez = np.zeros(len(z), dtype=np.int64)
    for r in range(res, 0, -1):
        n = 1 << r
        ez[(ez == 0) & ((dlon / (360.0 / n) + 2) * (dlat / (180.0 / n) + 2)
                        <= max_cells)] = r
    eff[z] = ez
    # each ring's bbox cells at its zone's res, x-major, by repeat/arange
    lev = eff[rz]
    ix0, iy0, ix1, iy1 = (np.empty_like(lo) for _ in range(4))
    for r in np.unique(lev).tolist():
        m = lev == r
        ix0[m], iy0[m] = latlon_to_ij(ry0[m], rx0[m], r)
        ix1[m], iy1[m] = latlon_to_ij(ry1[m], np.clip(rx1[m], -180.0, 180.0), r)
    h = np.maximum(iy1, iy0) - iy0 + 1
    cnt = (np.maximum(ix1, ix0) - ix0 + 1) * h
    first = np.cumsum(cnt) - cnt
    ring = np.repeat(np.arange(len(lo)), cnt)
    k = np.arange(int(cnt.sum()), dtype=np.int64) - first[ring]
    out = ij_to_cell(ix0[ring] + k // h[ring], iy0[ring] + k % h[ring], lev[ring])
    oz = rz[ring]
    big = np.nonzero(cnt > 4)[0]
    five = big[hi[big] - lo[big] == 5]
    rect = np.zeros(len(lo), dtype=bool)
    rect[five] = wkb.bbox_rings(xy[lo[five, None] + np.arange(5)])
    trim = big[~rect[big]]
    if len(trim):
        keep = np.ones(len(out), dtype=bool)
        clo, cla, chi, cha = cell_bounds(out)
        for i in trim.tolist():
            s = slice(first[i], first[i] + cnt[i])
            keep[s] = kernels.rects_intersect_ring(
                clo[s], cla[s], chi[s], cha[s], xy[lo[i]:hi[i]])
        out, oz = out[keep], oz[keep]
    if (np.bincount(rz, minlength=n_zones) > 1).any():
        # the rings of one multi-part zone can share a cell
        o = np.lexsort((out, oz))
        out, oz = out[o], oz[o]
        new = np.ones(len(out), dtype=bool)
        new[1:] = (out[1:] != out[:-1]) | (oz[1:] != oz[:-1])
        out, oz = out[new], oz[new]
    else:
        o = np.argsort(oz, kind="stable")
        out, oz = out[o], oz[o]
    covered = np.zeros(n_zones, dtype=bool)
    covered[oz] = True
    eff[~covered] = -1  # every bbox cell trimmed away
    return out, oz, eff


__all__ = [
    "MAX_RES",
    "latlon_to_cell",
    "cell_col",
    "ij_col",
    "ij_cell_col",
    "parent_col",
    "latlon_to_ij",
    "ij_to_cell",
    "cell_res",
    "cell_to_ij",
    "ij_bounds",
    "cell_bounds",
    "cell_to_parent",
    "cover_bbox",
    "cover_zones",
]
