"""Independent references the benchmark checks every output against.

They are computed untimed at set-up, on the driver, from the generator's
own ground truth (``synth.doc_coords`` of the generated ids), with plain
brute force: no cell index, no ZoneIndex, no SiteGrid, no Spark.
"""

from __future__ import annotations

import hashlib

import numpy as np

from spapy_spark.geometry import kernels, wkb

# the covers predicate's boundary tolerance (kernels.points_covered_by)
_EPS = 1e-12


def zone_counts(lat: np.ndarray, lon: np.ndarray, zones_pdf) -> dict[int, int]:
    """zone_id → number of points the zone covers (boundary inclusive).

    Brute force per zone; the bounding-box prefilter only skips points
    that cannot be covered, so every count is exact.
    """
    out: dict[int, int] = {}
    for zid, buf in zip(zones_pdf["zone_id"], zones_pdf["geometry"]):
        g = wkb.loads(bytes(buf))
        x0, y0, x1, y1 = kernels.geom_bounds(g)
        m = np.nonzero((lon >= x0 - _EPS) & (lon <= x1 + _EPS)
                       & (lat >= y0 - _EPS) & (lat <= y1 + _EPS))[0]
        hit = np.zeros(len(m), dtype=bool)
        for rings in wkb.polygons_of(g):
            hit |= kernels.points_covered_by(lon[m], lat[m], rings, _EPS)
        n = int(hit.sum())
        if n:
            out[int(zid)] = n
    return out


def knn_site_counts(lat: np.ndarray, lon: np.ndarray, sites_pdf, k: int,
                    chunk: int = 4096) -> dict[int, int]:
    """site_id → how many points have the site among their ``k`` nearest.

    Planar distance in degrees, ties broken by (distance, site_id): the
    engine's documented order.  Full distance matrix per chunk of points;
    rows with a tie at the k-th place are resolved by an exact sort.
    """
    sx = sites_pdf["x"].to_numpy(np.float64)
    sy = sites_pdf["y"].to_numpy(np.float64)
    sid = sites_pdf["site_id"].to_numpy(np.int64)
    counts = np.zeros(int(sid.max()) + 1, dtype=np.int64)
    for lo in range(0, len(lat), chunk):
        px = lon[lo:lo + chunk, None]
        py = lat[lo:lo + chunk, None]
        d2 = (px - sx[None, :]) ** 2 + (py - sy[None, :]) ** 2
        part = np.argpartition(d2, k, axis=1)[:, : k + 1]
        pd2 = np.take_along_axis(d2, part, axis=1)
        order = np.lexsort((sid[part], pd2), axis=1)
        top = np.take_along_axis(part, order, axis=1)[:, :k]
        kth = np.take_along_axis(pd2, order, axis=1)[:, k - 1]
        tied = np.nonzero((d2 <= kth[:, None]).sum(axis=1) > k)[0]
        for r in tied:
            top[r] = np.lexsort((sid, d2[r]))[:k]
        counts += np.bincount(sid[top].ravel(), minlength=len(counts))
    return {int(s): int(c) for s, c in enumerate(counts) if c}


def text_fingerprint(texts) -> str:
    """The checkpoint manifest's ``text`` fingerprint, recomputed with
    hashlib: sum of the first 15 hex digits of each row's sha256."""
    s = sum(int(hashlib.sha256(t.encode()).hexdigest()[:15], 16) for t in texts)
    return f"sum={s},n={len(texts)}"
