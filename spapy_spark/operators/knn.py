"""kNN nearest-feature lookup (north-rule operator).

The reference has no kNN at all (its only "nearest" is raster
resampling, /root/reference/SpaRasters.py:1390); this operator is new
engine surface mandated by BASELINE.json's north_star ("STRtree-per-
partition kNN").

Two physical plans, picked by the size of the feature (site) side —
broadcast when it is small, a partitioned join when it is not:

- ``knn_join_cells`` (broadcast) — the site table ships to every
  executor and is loaded there as a :class:`SiteGrid`, cached per
  worker by the content of the site rows.  Sites are bucketed by
  Z-order cell (cells.py); each point scans its own cell's span of
  sites and expands Chebyshev rings of cells until no unexplored site
  can beat its k-th best — the distance from the point to the edge of
  its explored block, less a float-quantization margin.  Each
  (point, cell) span keeps its own top-k by ``k`` rounds of
  ``np.minimum.reduceat`` (linear, no sort); only those winners are
  folded into the point's running top-k.  ``metric="haversine"`` ranks
  the same site arrays by great-circle meters through the brute-force
  ``_topk_block``, which is also the test oracle of the grid.  The
  probe runs in ``mapInArrow``, so payload columns never become Python
  objects.  No shuffle of the point side: the 10^12-doc plan when
  |sites| is O(10^4..10^5).
- ``knn_join_grid_exact`` (distributed) — pure Catalyst, no Python and
  no collect: every grid cell keeps only the sites not dominated by k
  others for every point in it, and the point stream joins its single
  cell's list after one shuffle.

``within_distance`` is the range (theta) join on the same grid: the
site side carries the buffered cell covering and each point joins on
its one cell.  All three key cells by ``cells`` (the SiteGrid by
``latlon_to_ij``, the grid joins by its Catalyst twins), as the PIP
plans do.

Tie-break is deterministic everywhere: order by (distance, site_id) —
the DuckDB oracle mirrors it with ``ORDER BY dist, site_id``.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from .. import cells
from .pip import _cached_index


def _out_schema(points: DataFrame, point_cols: list[str]) -> StructType:
    fields = [f for f in points.schema.fields if f.name in point_cols]
    return StructType(
        fields
        + [
            StructField("site_id", LongType(), False),
            StructField("rank", LongType(), False),
            StructField("dist", DoubleType(), False),
        ]
    )


# soft cap on the transient distance-matrix footprint per task (the
# r1 audit flagged the unchunked N×S matrix: 10k-row Arrow batches ×
# 10^5 sites = 8 GB; chunking the site axis bounds it at ~64 MB)
_TOPK_BLOCK_BYTES = 64 * 1024 * 1024


def _dist_block(px, py, sx, sy, metric):
    from ..geometry.kernels import haversine_m

    if metric == "haversine":
        return haversine_m(py[:, None], px[:, None], sy[None, :], sx[None, :])
    return (px[:, None] - sx[None, :]) ** 2 + (py[:, None] - sy[None, :]) ** 2


def _topk_block(
    px: np.ndarray,
    py: np.ndarray,
    sx: np.ndarray,
    sy: np.ndarray,
    sid: np.ndarray,
    k: int,
    metric: str = "planar",
):
    """Vectorized brute-force k nearest of each point among (sx, sy).

    Returns (point_row_idx, site_id, rank, dist) arrays; ties broken by
    (dist, site_id).  metric='planar' ranks by squared euclidean in
    degree space (dist output = sqrt); metric='haversine' ranks by
    great-circle meters (kernels.haversine_m) — the geodesic-correct
    variant for geographic coordinates.  As in :class:`SiteGrid`, a NaN
    distance never ranks: a point with a NaN coordinate gets no rows,
    and a NaN site is never a neighbor.

    The site axis is processed in chunks with a running per-point
    top-k fold, so memory is O(n·chunk), not O(n·S) — the 10^5-site
    broadcast plan stays within task memory.
    """
    n, s = len(px), len(sx)
    kk = min(k, s)
    if n == 0 or kk == 0:
        e = np.empty(0, np.int64)
        return e, e, e, np.empty(0, np.float64)
    chunk = max(kk, min(s, int(_TOPK_BLOCK_BYTES / (8 * max(n, 1)))))
    best_d = np.full((n, kk), np.inf)
    best_s = np.full((n, kk), np.iinfo(np.int64).max, dtype=np.int64)
    for lo in range(0, s, chunk):
        hi = min(lo + chunk, s)
        d2 = _dist_block(px, py, sx[lo:hi], sy[lo:hi], metric)
        c = hi - lo
        kc = min(kk, c)
        if kc < c:
            part = np.argpartition(d2, kc - 1, axis=1)[:, :kc]
            cd = np.take_along_axis(d2, part, axis=1)
            # argpartition splits a tie at the kc-th distance
            # arbitrarily: redo those rows in full (dist, site_id) order
            tied = np.nonzero((d2 <= cd.max(axis=1)[:, None]).sum(axis=1) > kc)[0]
            for r in tied:
                part[r] = np.lexsort((sid[lo:hi], d2[r]))[:kc]
                cd[r] = d2[r, part[r]]
            cs = sid[lo:hi][part]
        else:
            cd = d2
            cs = np.broadcast_to(sid[lo:hi], (n, c))
        alld = np.concatenate([best_d, cd], axis=1)
        alls = np.concatenate([best_s, cs], axis=1)
        order = np.lexsort((alls, alld), axis=1)[:, :kk]
        best_d = np.take_along_axis(alld, order, axis=1)
        best_s = np.take_along_axis(alls, order, axis=1)
    # a NaN distance never ranks, so a slot can keep its +inf sentinel
    keep = (best_d < np.inf).ravel()
    rows = np.repeat(np.arange(n), kk)[keep]
    ranks = np.tile(np.arange(1, kk + 1, dtype=np.int64), n)[keep]
    dist = best_d.ravel()[keep]
    if metric != "haversine":
        dist = np.sqrt(dist)
    return rows, best_s.ravel()[keep], ranks, dist


# ---------------------------------------------------------------------------
# Distributed path: pure-Catalyst cell joins
# ---------------------------------------------------------------------------


# knn_join_grid_exact's cell of every site, unpruned (no Morton id is < 0)
_ALL_SITES = -1


def within_distance(
    points: DataFrame,
    sites: DataFrame,
    d: float,
    res: int = 6,
    x: str = "lon",
    y: str = "lat",
    point_id: str = "point_id",
    site_id: str = "site_id",
    sx: str = "x",
    sy: str = "y",
) -> DataFrame:
    """Distance-within (range/theta) join — every (point, site) pair
    with planar distance ≤ ``d``, via the buffered cell covering named
    in SURVEY §2.4: ``sites``, the replicated side, explode to the
    (2·rx+1)×(2·ry+1) cell neighborhood that provably covers a
    radius-``d`` disc; each point keys its one cell (``cells.cell_col``,
    as in ``pip.pip_join_cells``); equi-join on the cell + exact
    distance filter.

    No pair is lost: around the 360° circle of wrapped lon two lons are
    never farther apart than in the plane, so a pair within ``d`` is at
    most ``rx = ceil(d / cell_w)`` columns apart on that circle and
    ``ry`` rows apart (lat clamps, which moves no two rows farther
    apart).  The relation is symmetric, so buffering the sites gives the
    candidates that buffering the points would.  No pair repeats: the
    columns wrap with ``pmod`` and, once 2·rx+1 ≥ 2^res, are each column
    once; the rows clamp to the grid.

    Pure Catalyst (no Python): the neighborhood is data, two exploded
    ``sequence``s, so the plan does not grow with ``d``.  The reference
    has no range join (nearest-neighbor gap, SURVEY §2.4); this is new
    engine surface.
    """
    import math

    if not d >= 0:
        raise ValueError(f"d must be >= 0, got {d}")
    n = 1 << res
    rx, ry = (int(math.ceil(d / (span / n))) for span in (360.0, 180.0))
    ix, iy = cells.ij_col(F.col(sy), F.col(sx), res)
    s = sites.select(F.col(site_id).alias("__sid"), F.col(sx).alias("__sx"),
                     F.col(sy).alias("__sy"), ix.alias("__ix"), iy.alias("__iy"))
    # the neighborhood as data: bound (ix, iy) → columns → rows → key
    site, ix, iy = ["__sid", "__sx", "__sy"], F.col("__ix"), F.col("__iy")
    cols = (F.sequence(F.lit(0), F.lit(n - 1)) if 2 * rx + 1 >= n
            else F.sequence(ix - rx, ix + rx))
    rows = F.sequence(F.greatest(iy - ry, F.lit(0)), F.least(iy + ry, F.lit(n - 1)))
    s = s.select(*site, rows.alias("__rows"), F.explode(cols).alias("__ix")).select(
        *site, F.pmod(ix, F.lit(n)).alias("__ix"), F.explode("__rows").alias("__iy"))
    s = s.select(*site, cells.ij_cell_col(ix, iy, res).alias("__cell"))
    p = points.select(
        F.col(point_id), F.col(x).alias("__px"), F.col(y).alias("__py"),
        cells.cell_col(F.col(y), F.col(x), res).alias("__cell"),
    )
    j = p.join(s, "__cell")
    dx = F.col("__px") - F.col("__sx")
    dy = F.col("__py") - F.col("__sy")
    d2 = dx * dx + dy * dy
    return (
        j.where(d2 <= F.lit(float(d) * float(d)))
        .select(point_id, F.col("__sid").alias("site_id"),
                F.sqrt(d2).alias("dist"))
    )


def knn_join_grid_exact(
    points: DataFrame,
    sites: DataFrame,
    k: int = 1,
    res: int = 5,
    x: str = "lon",
    y: str = "lat",
    point_id: str = "point_id",
    site_id: str = "site_id",
    sx: str = "x",
    sy: str = "y",
) -> DataFrame:
    """Distributed exact kNN — one shuffle of the point stream (in a
    shuffle join, see below), no Python, no collect.

    A fixed cell neighborhood cannot promise that a point's k-th
    neighbor lies inside it.  Per-cell domination pruning makes that
    promise wholly on the SITE side: for every grid cell, rank all
    sites by their max distance to the cell rectangle (``ud2``) and
    keep exactly the sites whose min distance (``ld2``) does not exceed
    the k-th smallest ``ud2`` — any dropped site is strictly dominated
    by k others for EVERY point in the cell, so the per-cell candidate
    list provably contains each point's true top-k.  Points then join
    their single cell's pruned list and a ``(__cell, point_id)`` window
    takes the top-k — the hash distribution from the one point shuffle
    satisfies both the join and the window, so no second Exchange.

    A point outside the rectangle of the cell it encodes to (lon
    wrapped, lat clamped) breaks that argument, so it joins the extra
    cell ``_ALL_SITES`` instead, which holds every site unpruned.
    Points with a null or NaN coordinate are dropped, as no distance
    to them ranks (``knn_join_cells``).

    This holds for a shuffle join: points above
    ``spark.sql.autoBroadcastJoinThreshold``, or the threshold at -1.
    Below it the repartitioned points are broadcast (``BuildLeft``) and
    the window adds a second Exchange on ``(__cell, point_id)`` (seen
    with 10,000 parquet points at the default 10 MB, ``local[2]``).

    Site-side cost is O(4^res · |sites|) rows through two window
    passes; the point stream can be arbitrarily large.
    """
    from pyspark.sql import Window

    n = 1 << res
    spark = points.sparkSession
    grid = spark.range(n).select(F.col("id").alias("__ix")).crossJoin(
        spark.range(n).select(F.col("id").alias("__iy")))
    x0, y0, x1, y1 = cells.ij_bounds(F.col("__ix"), F.col("__iy"), res)
    s0 = sites.select(
        F.col(site_id).alias("__sid"), F.col(sx).alias("__sx"),
        F.col(sy).alias("__sy"),
    )
    ldx = F.greatest(x0 - F.col("__sx"), F.col("__sx") - x1, F.lit(0.0))
    ldy = F.greatest(y0 - F.col("__sy"), F.col("__sy") - y1, F.lit(0.0))
    udx = F.greatest(F.col("__sx") - x0, x1 - F.col("__sx"))
    udy = F.greatest(F.col("__sy") - y0, y1 - F.col("__sy"))
    pairs = grid.crossJoin(s0).select(
        "__ix", "__iy", "__sid", "__sx", "__sy",
        (ldx * ldx + ldy * ldy).alias("__ld2"),
        (udx * udx + udy * udy).alias("__ud2"),
    )
    # windows by (ix, iy), which the range grid already clusters
    wrank = Window.partitionBy("__ix", "__iy").orderBy(
        F.col("__ud2").asc(), F.col("__sid").asc()
    )
    wcell = Window.partitionBy("__ix", "__iy")
    s = (
        pairs.withColumn("__rn", F.row_number().over(wrank))
        .withColumn(
            "__thresh",
            F.max(F.when(F.col("__rn") <= k, F.col("__ud2"))).over(wcell),
        )
        .where(F.col("__ld2") <= F.col("__thresh"))
        .select(cells.ij_cell_col(F.col("__ix"), F.col("__iy"), res).alias("__cell"),
                "__sid", "__sx", "__sy")
        .unionByName(s0.withColumn("__cell", F.lit(_ALL_SITES)))
    )

    x0, y0, x1, y1 = cells.ij_bounds(F.col("__ix"), F.col("__iy"), res)
    px, py = F.col("__px"), F.col("__py")
    inside = (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)
    ix, iy = cells.ij_col(F.col(y), F.col(x), res)
    p = points.dropna(subset=[x, y]).select(
        F.col(point_id), F.col(x).alias("__px"), F.col(y).alias("__py"),
        ix.alias("__ix"), iy.alias("__iy"),
    ).select(
        point_id, "__px", "__py",
        F.when(~inside, _ALL_SITES).otherwise(
            cells.ij_cell_col(F.col("__ix"), F.col("__iy"), res)).alias("__cell"),
    )
    p = p.repartition(F.col("__cell"))
    j = p.join(s, "__cell")
    dx = F.col("__px") - F.col("__sx")
    dy = F.col("__py") - F.col("__sy")
    d2 = dx * dx + dy * dy
    w = Window.partitionBy("__cell", point_id).orderBy(
        F.col("__d2").asc(), F.col("__sid").asc()
    )
    return (
        j.select("__cell", point_id, F.col("__sid"), d2.alias("__d2"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            F.col(point_id),
            F.col("__sid").alias("site_id"),
            F.col("rank"),
            F.sqrt(F.col("__d2")).alias("dist"),
        )
    )


# ---------------------------------------------------------------------------
# Broadcast path: SiteGrid ring expansion
# ---------------------------------------------------------------------------


# a site or point may sit this far (degrees) outside the cell it was
# quantized to and the exact ring bound still holds: ~10⁴× the float
# error of quantizing a coordinate of magnitude ≤ 360
_QUANT = 1e-9


def _span_topk(d2: np.ndarray, starts: np.ndarray, cnt: np.ndarray, kk: int,
               sid: np.ndarray | None = None):
    """Top-``kk`` positions of each contiguous, non-empty span of ``d2``.

    Spans are ``[starts[i], starts[i] + cnt[i])``.  Ties go to the lower
    ``sid`` when given, else to the lower position.  Runs ``kk`` rounds
    of a segmented min: take the span's min distance, the first
    position holding it, then mask that entry out — linear in
    ``len(d2)`` per round, with no sort.  Returns (nspan, kk) arrays of
    dist² (+inf once a span runs out) and positions.  ``d2`` is
    consumed.
    """
    big = np.iinfo(np.int64).max
    pos = np.arange(len(d2))
    win_d = np.empty((len(starts), kk))
    win_p = np.empty((len(starts), kk), dtype=np.int64)
    for j in range(kk):
        md = np.minimum.reduceat(d2, starts)
        tie = d2 == np.repeat(md, cnt)
        if sid is not None:
            ms = np.minimum.reduceat(np.where(tie, sid, big), starts)
            tie &= sid == np.repeat(ms, cnt)
        mp = np.minimum.reduceat(np.where(tie, pos, big), starts)
        win_d[:, j] = md
        win_p[:, j] = mp
        d2[mp] = np.inf
    return win_d, win_p


class SiteGrid:
    """Cell-bucketed site index for ring-expansion kNN (picklable).

    Sites are bucketed at one resolution and sorted by (cell, site_id),
    so every cell is a contiguous span of the site arrays, ordered by
    the tie-break.  A query expands Chebyshev rings of cells around
    each point until its best-k distances are provably final.

    ``query_batch`` is vectorized over the point axis.  Per ring level:

    - every (live point, ring offset) pair maps to at most one cell,
      whose site span comes from two ``searchsorted`` calls;
    - each span keeps its own top-k by ``k`` rounds of
      ``np.minimum.reduceat`` (``_span_topk``) — linear in the pairs,
      no sort over them;
    - only those ≤k winners per span and the live points' k-buffers go
      into the fold: one more ``_span_topk`` per point, ties by site_id.

    A point stops once the distance from it to the edge of its explored
    (2r+1)² cell block, less a ``_QUANT`` margin for float cell
    quantization, exceeds its k-th best distance: no unexplored site
    can be nearer.  An edge on the grid's lat border, or a lon edge
    that reaches column 0 or n-1, bounds nothing.  Lon edges are only
    trusted when the point and every site lie in the cell they were
    quantized to (lon in [-180, 180]); otherwise the x bound falls back
    to the wrap-safe ``r · cell_w``.
    """

    def __init__(self, rows, res: int = 6):
        self.res = res
        sid = np.array([r[0] for r in rows], dtype=np.int64)
        sx = np.array([r[1] for r in rows], dtype=np.float64)
        sy = np.array([r[2] for r in rows], dtype=np.float64)
        n = 1 << res
        self.n = n
        self.cell_w = 360.0 / n
        self.cell_h = 180.0 / n
        self.max_ring = n
        ix, iy = cells.latlon_to_ij(sy, sx, res)
        self.x_edges_ok = bool(self._in_column(sx, ix).all())
        cell = cells.ij_to_cell(ix, iy, res)
        order = np.lexsort((sid, cell))
        self.sid, self.sx, self.sy = sid[order], sx[order], sy[order]
        self.cell_sorted = cell[order]

    def _in_column(self, x: np.ndarray, ix: np.ndarray) -> np.ndarray:
        x0 = ix * self.cell_w - 180.0
        return (x >= x0 - _QUANT) & (x <= x0 + self.cell_w + _QUANT)

    def _ring_spans(self, ix: np.ndarray, iy: np.ndarray, r: int):
        """(row, lo, cnt) of every non-empty cell span on ring ``r``
        around the points at (ix, iy); ``row`` indexes those arrays."""
        if r == 0:
            dy = dx = np.zeros(1, dtype=np.int64)
        else:
            # each cell once: once the ring wraps the lon axis, its rows
            # list every column and its sides only the columns not yet seen
            n = self.n
            row_dx = np.arange(-r, r + 1) if 2 * r + 1 <= n else np.arange(n)
            side_dx = np.array([-r, r] if 2 * r < n else [r] if 2 * r == n else [],
                               dtype=np.int64)
            side_dy = np.arange(-r + 1, r)
            dy = np.concatenate([np.full(len(row_dx), -r), np.full(len(row_dx), r),
                                 np.repeat(side_dy, len(side_dx))])
            dx = np.concatenate([row_dx, row_dx, np.tile(side_dx, len(side_dy))])
        ny = iy[:, None] + dy[None, :]
        ok = (ny >= 0) & (ny < self.n)
        row = np.nonzero(ok)[0]
        nx = np.mod(ix[:, None] + dx[None, :], self.n)[ok]
        cc = cells.ij_to_cell(nx, ny[ok], self.res)
        lo = np.searchsorted(self.cell_sorted, cc, side="left")
        cnt = np.searchsorted(self.cell_sorted, cc, side="right") - lo
        nz = cnt > 0
        return row[nz], lo[nz], cnt[nz]

    def _bound(self, px, py, ix, iy, x_ok, r: int) -> np.ndarray:
        """Lower bound on the distance from each point to any site
        outside its explored (2r+1)² block."""
        n, w, h = self.n, self.cell_w, self.cell_h
        inf = np.inf
        by = np.minimum(
            np.where(iy - r > 0, py - ((iy - r) * h - 90.0), inf),
            np.where(iy + r < n - 1, ((iy + r + 1) * h - 90.0) - py, inf),
        )
        if 2 * r + 1 >= n:
            bx = np.full(len(px), inf)
        else:
            edge = np.minimum(
                np.where(ix - r > 0, px - ((ix - r) * w - 180.0), inf),
                np.where(ix + r < n - 1, ((ix + r + 1) * w - 180.0) - px, inf),
            )
            bx = np.where(x_ok, edge, r * w)
        return np.maximum(np.minimum(bx, by) - 2 * _QUANT, 0.0)

    def query_batch(self, px: np.ndarray, py: np.ndarray, k: int):
        """k nearest sites per point → (point_idx, site_id, rank, dist)
        arrays, rank 1-based, ties broken by (dist, site_id)."""
        npts = len(px)
        kk = min(k, len(self.sid))
        if npts == 0 or kk == 0:
            e = np.empty(0, np.int64)
            return e, e, e, np.empty(0, np.float64)
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        ix, iy = cells.latlon_to_ij(py, px, self.res)
        x_ok = self.x_edges_ok & self._in_column(px, ix)
        # running top-k per point: (dist², site_id), +inf padded
        best_d = np.full((npts, kk), np.inf)
        best_s = np.full((npts, kk), -1, dtype=np.int64)
        live = np.arange(npts)
        r = 0
        while r <= self.max_ring and len(live):
            row, lo, cnt = self._ring_spans(ix[live], iy[live], r)
            if len(row):
                # (pair → span) layout: span i owns pairs
                # [first[i], first[i] + cnt[i]) and sites lo[i] + j
                first = np.cumsum(cnt) - cnt
                si = np.arange(int(cnt.sum())) + np.repeat(lo - first, cnt)
                p = live[row]
                d2 = ((np.repeat(px[p], cnt) - self.sx[si]) ** 2
                      + (np.repeat(py[p], cnt) - self.sy[si]) ** 2)
                # a NaN distance never ranks, as if the site were absent
                d2[np.isnan(d2)] = np.inf
                wd, wp = _span_topk(d2, first, cnt, kk)
                # fold, again by span top-k: each live point's segment
                # holds its k-buffer, then its spans' winners (spans come
                # point-major from _ring_spans)
                ok = (wd < np.inf).ravel()
                wq = np.repeat(row, kk)[ok]
                nw = np.bincount(wq, minlength=len(live))
                seg = np.cumsum(nw) - nw + kk * np.arange(len(live))
                at = np.concatenate([(seg[:, None] + np.arange(kk)).ravel(),
                                     np.arange(len(wq)) + kk * (wq + 1)])
                cd = np.empty(len(at))
                cs = np.empty(len(at), dtype=np.int64)
                cd[at] = np.concatenate([best_d[live].ravel(), wd.ravel()[ok]])
                cs[at] = np.concatenate([best_s[live].ravel(),
                                         self.sid[si[wp.ravel()[ok]]]])
                fd, fp = _span_topk(cd, seg, nw + kk, kk, sid=cs)
                best_d[live] = fd
                best_s[live] = cs[fp]
            kth = best_d[live, kk - 1]
            bound = self._bound(px[live], py[live], ix[live], iy[live],
                                x_ok[live], r)
            live = live[~(bound * bound > kth)]
            r += 1
        keep = (best_d < np.inf).ravel()
        ranks = np.tile(np.arange(1, kk + 1, dtype=np.int64), npts)
        pidx = np.repeat(np.arange(npts), kk)
        return (
            pidx[keep],
            best_s.ravel()[keep],
            ranks[keep],
            np.sqrt(best_d.ravel()[keep]),
        )


def knn_join_cells(
    points: DataFrame,
    sites: DataFrame,
    k: int = 1,
    res: int = 6,
    x: str = "lon",
    y: str = "lat",
    point_cols: list[str] | None = None,
    site_id: str = "site_id",
    sx: str = "x",
    sy: str = "y",
    metric: str = "planar",
) -> DataFrame:
    """Broadcast kNN: each point gets its ``k`` nearest sites.

    Output: ``point_cols + [site_id, rank, dist]`` (rank 1 = nearest,
    ties by site_id).  ``metric="planar"`` is euclidean distance in
    degrees, matching the SQL oracle, through the ring-expansion
    :class:`SiteGrid`; ``metric="haversine"`` is great-circle meters
    (``kernels.haversine_m``) by the chunked brute force
    ``_topk_block`` over the same site arrays.  Points with a null
    coordinate are dropped.
    """
    if metric not in ("planar", "haversine"):
        raise ValueError(f"metric must be 'planar' or 'haversine', not {metric!r}")
    if point_cols is None:
        point_cols = [c for c in points.columns if c not in (x, y)]
    rows = [(r[0], r[1], r[2]) for r in sites.select(site_id, sx, sy).collect()]
    # key of the per-worker index cache (the pip._broadcast_zones
    # scheme): a sha256 over res and every (site_id, x, y).  Repeat calls
    # over the same sites reuse each worker's grid, any changed row or
    # res builds a fresh one, and a cache hit never unpickles the
    # broadcast value.
    h = hashlib.sha256(f"sitegrid;res={res!r};n={len(rows)};".encode())
    h.update(np.array([r[0] for r in rows], dtype=np.int64).tobytes())
    h.update(np.array([r[1:] for r in rows], dtype=np.float64).tobytes())
    token = h.hexdigest()
    bc = points.sparkSession.sparkContext.broadcast((rows, res))
    schema = _out_schema(points, point_cols)
    src = points.select(*point_cols, x, y).where(
        F.col(x).isNotNull() & F.col(y).isNotNull()
    )

    def probe(batches):
        # mapInArrow: payload columns (urls!) stay in Arrow buffers —
        # the neighbor gather is a C++ take(), no per-row Python objects
        import pyarrow as pa

        g = _cached_index(token, lambda: SiteGrid(*bc.value))
        for batch in batches:
            px = batch.column(x).to_numpy(zero_copy_only=False)
            py = batch.column(y).to_numpy(zero_copy_only=False)
            if metric == "planar":
                pidx, sids, ranks, dists = g.query_batch(px, py, k)
            else:
                pidx, sids, ranks, dists = _topk_block(
                    px, py, g.sx, g.sy, g.sid, k, metric)
            if len(pidx) == 0:
                continue
            at = pa.array(pidx)
            cols = [batch.column(c).take(at) for c in point_cols]
            cols += [pa.array(sids, type=pa.int64()),
                     pa.array(ranks, type=pa.int64()),
                     pa.array(dists, type=pa.float64())]
            yield pa.RecordBatch.from_arrays(
                cols, point_cols + ["site_id", "rank", "dist"])

    return src.mapInArrow(probe, schema=schema)
