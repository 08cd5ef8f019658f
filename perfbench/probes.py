"""Driver-side probes of the public layer kernels (traced run only).

Each probe times one kernel on the workload's own coordinates, in this
process, with no Spark around it: the number a change to that kernel
moves first, before it shows in the end-to-end job.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from spapy_spark import cells
from spapy_spark.geometry import kernels, wkb
from spapy_spark.operators.knn import SiteGrid
from spapy_spark.operators.pip import ZoneIndex

_REPS = 3
# points per kernel call (a prefix of the workload's points); the
# ring-cast probe runs every zone over the smaller sample, the kNN probe
# expands rings per point
_SAMPLE = 50_000
_PIP_SAMPLE = 20_000
_KNN_SAMPLE = 5_000


def _median_s(fn, reps: int = _REPS) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def layer_probes(lat: np.ndarray, lon: np.ndarray, zone_rows, site_rows,
                 tracer) -> dict[str, float]:
    """``zone_rows``: (zone_id, wkb); ``site_rows``: (site_id, x, y)."""
    lat, lon = lat[:_SAMPLE], lon[:_SAMPLE]
    n = len(lat)
    out: dict[str, float] = {}
    with tracer.span("probe.cells"):
        out["cells.encode_mpts_s"] = n / _median_s(
            lambda: cells.latlon_to_cell(lat, lon, 7)) / 1e6

    rings = [r for _zid, buf in zone_rows
             for r in wkb.polygons_of(wkb.loads(bytes(buf)))]
    sx, sy = lon[:_PIP_SAMPLE], lat[:_PIP_SAMPLE]
    with tracer.span("probe.kernels"):
        t = _median_s(lambda: [kernels.points_in_rings(sx, sy, r) for r in rings])
    out["kernels.pip_mpts_s"] = len(sx) * len(rings) / t / 1e6

    with tracer.span("probe.pip"):
        out["pip.index_build_s"] = _median_s(lambda: ZoneIndex(zone_rows))
        idx = ZoneIndex(zone_rows)
        out["pip.probe_mpts_s"] = n / _median_s(
            lambda: idx.query(lon, lat, "covers")) / 1e6

    with tracer.span("probe.knn"):
        out["knn.grid_build_s"] = _median_s(lambda: SiteGrid(site_rows, res=6))
        grid = SiteGrid(site_rows, res=6)
        qx, qy = lon[:_KNN_SAMPLE], lat[:_KNN_SAMPLE]
        out["knn.query_mpts_s"] = len(qx) / _median_s(
            lambda: grid.query_batch(qx, qy, 3)) / 1e6
    return out


def cell_join_counts(lat: np.ndarray, lon: np.ndarray,
                     cover_cells: np.ndarray) -> int:
    """Candidate (point, covering row) pairs the cell join feeds its
    refine: per point, the covering rows that share its ancestor cell at
    each covering resolution.  ``cover_cells`` are the covering's cell
    ids, one per covering row."""
    cover = np.sort(cover_cells)
    total = 0
    for res in np.unique(cells.cell_res(cover)).tolist():
        pc = cells.latlon_to_cell(lat, lon, int(res))
        total += int((np.searchsorted(cover, pc, "right")
                      - np.searchsorted(cover, pc, "left")).sum())
    return total
