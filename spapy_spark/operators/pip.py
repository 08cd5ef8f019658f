"""Point-in-polygon join — the engine's flagship operator.

Reference semantics: SpaPy answers containment via its O(N·M)
nested-loop overlay (/root/reference/SpaVectors.py:939-983, kernel
:901-937).  Output rows here match that brute force exactly (tests
compare against a reimplemented nested loop) but execute as a proper
distributed join:

- **broadcast path** (`pip_join_broadcast`): the polygon layer is small
  (zones).  It is decoded once per Python worker into a
  :class:`ZoneIndex` (cell-bucketed, the STRtree role) and probed from
  ``mapInArrow`` — no shuffle of the document side at all.  This is the
  plan the north rule wants at 10^12 docs × O(10^5) zones.
- **cell-join path** (`pip_join_cells`): the point side is large and
  shuffled.  The zones' covering cells come from the same ZoneIndex as
  a local relation of integers ``(cell, zone_pos, full, zone_id)``,
  points get their cell ids from the Catalyst encoder
  (``cells.cell_col``), Catalyst hash-joins on the integer cell id, and
  one ``mapInArrow`` pass refines the candidates by zone position
  against the worker's cached ZoneIndex.  No polygon enters the join.
  Optional salting spreads hot cells (Zipf-city skew) across ``salt``
  buckets.

Exactness: coverings are supersets (no false negatives) and a point has
exactly one cell at a given res, so cell-join candidates contain each
true pair exactly once — no dedup pass needed.  Both plans decide each
candidate with :meth:`ZoneIndex.match`: a point in a full-interior cell
passes, the rest take the exact test — ``covers`` (boundary-inclusive)
by default; ``contains`` mirrors GEOS.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .. import cells
from ..geometry import kernels, wkb

_PREDICATES = ("covers", "contains")

# A full covering cell is inside its zone even when grown by twice this
# many degrees, and a point passes as a full-cell hit only within this
# distance of its own cell: far more than the 1e-12 boundary eps and the
# ~1e-13 quantization error of the encoder.
_FULL_MARGIN = 1e-9


def _near_own_cell(px, py, res: int) -> np.ndarray:
    """True where a point lies within ``_FULL_MARGIN`` of the square of
    the res-``res`` cell it encodes to.  False for NaN and for points the
    encoder wraps or clamps into a cell (lon outside [-180, 180], |lat|
    above 90), which must take the exact refine."""
    x0, y0, x1, y1 = cells.ij_bounds(*cells.latlon_to_ij(py, px, res), res)
    m = _FULL_MARGIN
    return (px >= x0 - m) & (px <= x1 + m) & (py >= y0 - m) & (py <= y1 + m)


# Per-worker-process cache of broadcast-built indexes (ZoneIndex here,
# knn's SiteGrid), keyed by the content of the broadcast rows (see
# _broadcast_zones).  Python workers are reused across tasks
# (spark.python.worker.reuse), so the index build — the dominant
# per-task cost at high parallelism — happens once per worker per row
# set, across tasks AND operator calls (streaming micro-batches reuse
# it).  Bounded LRU.
_INDEX_CACHE: dict[str, object] = {}
_INDEX_CACHE_MAX = 4


def _cached_index(token: str, build):
    idx = _INDEX_CACHE.pop(token, None)
    if idx is None:
        idx = build()
        if len(_INDEX_CACHE) >= _INDEX_CACHE_MAX:
            _INDEX_CACHE.pop(next(iter(_INDEX_CACHE)))
    _INDEX_CACHE[token] = idx
    return idx


class ZoneIndex:
    """Cell-bucketed polygon index (the per-executor STRtree substitute).

    Buckets every zone's covering cells (one :func:`cells.cover_zones`
    call over all zones) at an auto-picked resolution; probe = encode
    points → group by cell → refine only zones bucketed in that cell.
    An empty zone gets no bucket.  Pure numpy, picklable for Spark
    broadcast.
    """

    def __init__(self, rows, res: int | None = None, max_cells_per_zone: int = 256):
        """``rows``: iterable of (zone_id, wkb_bytes)."""
        zone_ids: list[int] = []
        # zone → polygon parts → rings; parts without vertices dropped
        self.parts: list[list[list[np.ndarray]]] = []
        for zid, buf in rows:
            zone_ids.append(int(zid))
            self.parts.append([p for p in wkb.polygons_of(wkb.loads(bytes(buf)))
                               if len(p) and len(p[0])])
        self.zone_ids = np.array(zone_ids, dtype=np.int64)
        if res is None:
            res = self._auto_res()
        self.res = res
        # covering res of each zone (one per zone, see cells.cover_zones);
        # -1 for a zone with no covering cell
        zc, zz, self.zone_res = cells.cover_zones(
            *_exteriors(enumerate(self.parts)), len(self.parts), res,
            max_cells_per_zone)
        # ``full`` marks cells whose square, grown by 2·_FULL_MARGIN, is
        # entirely inside the zone (holes excluded): their candidate
        # points skip the exact refine (see ``match``).
        full = np.zeros(len(zc), dtype=bool)
        span = np.searchsorted(zz, np.arange(len(self.parts) + 1))
        for i in np.nonzero(np.diff(span))[0].tolist():
            s = slice(span[i], span[i + 1])
            full[s] = self._full_cells(zc[s], self.parts[i])
        # flat (cell, zone, full) bucket table per level, sorted by cell —
        # probe is one np.searchsorted per level, no dict lookups.
        lev = self.zone_res[zz]
        self.levels: list[tuple[int, np.ndarray, np.ndarray, np.ndarray]] = []
        for r in np.unique(lev).tolist():
            m = lev == r
            o = np.argsort(zc[m], kind="stable")
            self.levels.append((r, zc[m][o], zz[m][o], full[m][o]))
        self.res_levels = [l[0] for l in self.levels]

    def _full_cells(self, zcells: np.ndarray, parts) -> np.ndarray:
        """Per covering cell: is the cell square, grown by 2·_FULL_MARGIN
        on every side, inside the zone?

        Exact for arbitrary simple rings (corner-in + no-edge-crossing);
        holes void fullness conservatively on bbox overlap.  The margin
        keeps every point near its cell (:func:`_near_own_cell`) farther
        than the 1e-12 boundary eps from each ring, so ``covers`` and
        ``contains`` both hold for it.
        """
        lo_x, lo_y, hi_x, hi_y = cells.cell_bounds(zcells)
        g = 2 * _FULL_MARGIN
        lo_x, lo_y, hi_x, hi_y = lo_x - g, lo_y - g, hi_x + g, hi_y + g
        full = np.zeros(len(zcells), dtype=bool)
        for rings in parts:
            inside = kernels.rects_fully_inside_ring(
                lo_x, lo_y, hi_x, hi_y, rings[0]
            )
            for h in rings[1:]:
                hx0, hy0 = np.asarray(h).min(axis=0)
                hx1, hy1 = np.asarray(h).max(axis=0)
                overlap = (lo_x <= hx1) & (hi_x >= hx0) & (lo_y <= hy1) & (
                    hi_y >= hy0
                )
                inside &= ~overlap
            full |= inside
        return full

    def _auto_res(self) -> int:
        ext = [np.vstack([r for p in parts for r in p]) for parts in self.parts
               if parts]
        if not ext:
            return 8
        med = float(np.median(
            [max(*(v.max(axis=0) - v.min(axis=0)), 1e-9) for v in ext]))
        # cell size ≈ median zone extent → a zone covers O(4..9) cells
        res = int(np.clip(np.floor(np.log2(360.0 / med)), 3, 16))
        return res

    def query(self, px: np.ndarray, py: np.ndarray, predicate: str = "covers"):
        """Return (point_idx, zone_id) int64 arrays of all matches."""
        pi, zp = self.query_pos(px, py, predicate)
        return pi, self.zone_ids[zp]

    def query_pos(self, px: np.ndarray, py: np.ndarray, predicate: str = "covers"):
        """Return (point_idx, zone_pos) int64 arrays of all matches, where
        ``zone_pos`` indexes ``self.zone_ids``.

        Per level, sort points by cell once, locate each bucket entry's
        point span with two ``searchsorted`` calls, then test the
        candidates with :meth:`match`.
        """
        if predicate not in _PREDICATES:
            raise ValueError(f"predicate must be one of {_PREDICATES}")
        n = len(px)
        if n == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        out_p: list[np.ndarray] = []
        out_z: list[np.ndarray] = []
        for lvl, bcell, bzone, bfull in self.levels:
            pcell = cells.latlon_to_cell(py, px, lvl)
            order = np.argsort(pcell, kind="stable")
            sc = pcell[order]
            lo = np.searchsorted(sc, bcell, side="left")
            hi = np.searchsorted(sc, bcell, side="right")
            nz = hi > lo
            if not nz.any():
                continue
            lo, hi = lo[nz], hi[nz]
            cand = np.concatenate([order[l:h] for l, h in zip(lo, hi)])
            cz = np.repeat(bzone[nz], hi - lo)
            hit = self.match(px[cand], py[cand], cz, np.repeat(bfull[nz], hi - lo),
                             predicate)
            out_p.append(cand[hit])
            out_z.append(cz[hit])
        if not out_p:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        return np.concatenate(out_p), np.concatenate(out_z)

    def match(self, px, py, zone_pos, full, predicate: str = "covers"):
        """Exact ``predicate`` per candidate: is point ``i`` in zone
        ``zone_pos[i]``?  ``full[i]`` flags a candidate found through a
        full covering cell of that zone: it passes without a refine when
        the point lies in that cell.  The other candidates are refined
        with one kernel call per distinct zone.  Shared by the broadcast
        probe and the cell join's refine.
        """
        hit = np.zeros(len(px), dtype=bool)
        f = np.nonzero(full)[0]
        if len(f):
            lv = self.zone_res[zone_pos[f]]
            for r in np.unique(lv).tolist():
                m = f[lv == r]
                hit[m] = _near_own_cell(px[m], py[m], r)
        todo = np.nonzero(~hit)[0]
        if not len(todo):
            return hit
        zs = zone_pos[todo]
        zorder = np.argsort(zs, kind="stable")
        zuniq, zstart = np.unique(zs[zorder], return_index=True)
        zbound = np.append(zstart, len(zs))
        for k, zi in enumerate(zuniq.tolist()):
            sel = todo[zorder[zbound[k]:zbound[k + 1]]]
            cx, cy = px[sel], py[sel]
            h = np.zeros(len(sel), dtype=bool)
            for rings in self.parts[zi]:
                h |= self._refine(cx, cy, rings, predicate)
            hit[sel] = h
        return hit

    @staticmethod
    def _refine(cx, cy, rings, predicate: str) -> np.ndarray:
        """Exact PIP with the boundary-eps pass only where it can matter:
        ``covers`` adds the eps-boundary only for ray-cast misses,
        ``contains`` subtracts it only for ray-cast hits — halves the
        (N×E) distance work on the hot path."""
        inside = kernels.points_in_rings(cx, cy, rings)
        if predicate == "covers":
            miss = ~inside
            if miss.any():
                bx, by = cx[miss], cy[miss]
                onb = np.zeros(len(bx), dtype=bool)
                for r in rings:
                    onb |= kernels.points_on_ring_boundary(bx, by, r, 1e-12)
                inside[miss] = onb
            return inside
        if inside.any():
            bx, by = cx[inside], cy[inside]
            onb = np.zeros(len(bx), dtype=bool)
            for r in rings:
                onb |= kernels.points_on_ring_boundary(bx, by, r, 1e-12)
            keep = inside.copy()
            keep[inside] = ~onb
            return keep
        return inside


def _point_schema(df: DataFrame, point_cols: list[str]) -> StructType:
    fields = [f for f in df.schema.fields if f.name in point_cols]
    return StructType(fields + [StructField("zone_id", LongType(), False)])


def _broadcast_zones(
    zones: DataFrame, zone_id: str, geometry: str, res: int | None,
    max_cells: int = 256,
):
    """Driver side of the index-backed plans: collect the zone rows and
    broadcast them.  Returns ``(token, index)``: ``token`` is a sha256
    over the build parameters (``res``, ``max_cells``) and every
    ``(zone_id, wkb)`` row, and ``index()`` loads the cached
    :class:`ZoneIndex` (on a worker, or on the driver).

    Keying the cache on content, not on the call, lets repeat calls over
    the same zones reuse every worker's index; any changed vertex, id or
    build parameter yields a new token and a fresh build.  On a cache
    hit the broadcast value is never unpickled.
    """
    zrows = [(int(r[zone_id]), bytes(r[geometry])) for r in
             zones.select(zone_id, geometry).collect()]
    h = hashlib.sha256(f"res={res!r};max_cells={max_cells!r};".encode())
    for zid, buf in zrows:
        h.update(f"{zid}:{len(buf)}:".encode())
        h.update(buf)
    token = h.hexdigest()
    bc = zones.sparkSession.sparkContext.broadcast((zrows, res, max_cells))

    def index() -> ZoneIndex:
        return _cached_index(token, lambda: ZoneIndex(*bc.value))

    return token, index


def _probe_batches(batches, idx: ZoneIndex, x: str, y: str, predicate: str):
    """The broadcast probe: per Arrow batch, ``(batch, point_idx,
    zone_pos)`` of every match (``zone_pos`` indexes ``idx.zone_ids``)."""
    for batch in batches:
        px = batch.column(x).to_numpy(zero_copy_only=False)
        py = batch.column(y).to_numpy(zero_copy_only=False)
        pi, zp = idx.query_pos(
            np.ascontiguousarray(px, np.float64),
            np.ascontiguousarray(py, np.float64),
            predicate,
        )
        yield batch, pi, zp


def pip_join_broadcast(
    points: DataFrame,
    zones: DataFrame,
    x: str = "lon",
    y: str = "lat",
    point_cols: list[str] | None = None,
    zone_id: str = "zone_id",
    geometry: str = "geometry",
    predicate: str = "covers",
    res: int | None = None,
) -> DataFrame:
    """Broadcast PIP join: tiny polygon side, huge point side, no shuffle.

    Returns ``point_cols + [zone_id]``; a point inside k zones yields k
    rows (overlapping zones allowed, matching the reference's overlay
    which emits one row per matching pair).
    """
    if point_cols is None:
        point_cols = [c for c in points.columns if c not in (x, y)]
    _, index = _broadcast_zones(zones, zone_id, geometry, res)
    schema = _point_schema(points, point_cols)
    src = points.select(*point_cols, x, y).where(
        F.col(x).isNotNull() & F.col(y).isNotNull()
    )

    def probe(batches):
        # mapInArrow: payload columns (urls!) stay in Arrow buffers —
        # the hit gather is a C++ take(), no per-row Python objects.
        import pyarrow as pa

        idx = index()
        for batch, pi, zp in _probe_batches(batches, idx, x, y, predicate):
            cols = [batch.column(c).take(pa.array(pi)) for c in point_cols]
            cols.append(pa.array(idx.zone_ids[zp], type=pa.int64()))
            yield pa.RecordBatch.from_arrays(cols, point_cols + ["zone_id"])

    return src.mapInArrow(probe, schema=schema)


def pip_count_by_zone(
    points: DataFrame,
    zones: DataFrame,
    x: str = "lon",
    y: str = "lat",
    zone_id: str = "zone_id",
    geometry: str = "geometry",
    predicate: str = "covers",
    res: int | None = None,
) -> DataFrame:
    """Broadcast PIP with map-side combine: the :func:`pip_join_broadcast`
    probe plus a per-task ``np.bincount`` over zone positions, so only
    ~|zones| rows per task cross the Python→JVM boundary and the
    shuffle.  This is the tile-assignment-count plan for the north
    rule's throughput metric — identical match semantics, minus the
    materialized pair stream nobody aggregates twice.  Counting over
    positions (not id values) keeps negative and huge zone ids exact.
    """
    import pyarrow as pa

    _, index = _broadcast_zones(zones, zone_id, geometry, res)
    src = points.select(x, y).where(
        F.col(x).isNotNull() & F.col(y).isNotNull()
    )

    def probe(batches):
        idx = index()
        acc = np.zeros(len(idx.zone_ids), dtype=np.int64)
        for _, _, zp in _probe_batches(batches, idx, x, y, predicate):
            acc += np.bincount(zp, minlength=len(acc))
        nz = np.nonzero(acc)[0]
        yield pa.RecordBatch.from_arrays(
            [pa.array(idx.zone_ids[nz], type=pa.int64()),
             pa.array(acc[nz], type=pa.int64())],
            ["zone_id", "n_partial"],
        )

    partials = src.mapInArrow(probe, schema="zone_id long, n_partial long")
    return partials.groupBy("zone_id").agg(
        F.sum("n_partial").alias("n_docs")
    )


def auto_salt(
    points: DataFrame,
    res: int,
    x: str = "lon",
    y: str = "lat",
    sample_frac: float = 0.05,
    skew_threshold: float = 4.0,
    max_salt: int = 32,
) -> int:
    """Pick the salt factor from a sampled cell histogram (SURVEY §7.3:
    web-data cell histograms are Zipfian; the hot-cities cell dwarfs
    the mean).  salt = hottest-cell share / (skew_threshold × mean
    share), clamped to [1, max_salt] — 1 for uniform data, growing
    with the hot-cell ratio so no reducer sees more than ~threshold×
    the average key load."""
    sampled = points.sample(fraction=sample_frac, seed=7).where(
        F.col(x).isNotNull() & F.col(y).isNotNull()
    )
    enc = cell_encode(sampled, res, y=y, x=x)
    hist = enc.groupBy("cell").count()
    row = hist.agg(
        F.max("count").alias("mx"), F.avg("count").alias("avg")
    ).collect()[0]
    if row["mx"] is None or not row["avg"]:
        return 1
    ratio = float(row["mx"]) / float(row["avg"])
    return int(np.clip(np.ceil(ratio / skew_threshold), 1, max_salt))


# ---------------------------------------------------------------------------
# Distributed cell-join path (both sides large)
# ---------------------------------------------------------------------------

# per-zone covering cap of the cell join (and zone_cell_covering's default)
_COVER_MAX_CELLS = 4096


def zone_cell_covering(
    zones: DataFrame,
    res: int,
    zone_id: str = "zone_id",
    geometry: str = "geometry",
    max_cells: int = _COVER_MAX_CELLS,
) -> DataFrame:
    """Explode each zone to its covering cells: (cell, zone_id, geometry).

    Runs distributed (mapInPandas) — the polygon side may be huge — with
    one :func:`cells.cover_zones` call per Arrow batch: the cells of a
    :class:`ZoneIndex` at the same ``res`` and ``max_cells``.
    """
    schema = StructType(
        [StructField("cell", LongType(), False)]
        + [f for f in zones.schema.fields if f.name in (zone_id, geometry)]
    )

    def cover(batches):
        for pdf in batches:
            gvals = pdf[geometry].to_numpy()
            c, z, _ = cells.cover_zones(*_wkb_exteriors(gvals), len(gvals), res,
                                        max_cells)
            yield pd.DataFrame({"cell": c, zone_id: pdf[zone_id].to_numpy()[z],
                                geometry: gvals[z]})

    return zones.select(zone_id, geometry).mapInPandas(cover, schema=schema)


def _exteriors(zones):
    """``(xy, ring_start, ring_zone)`` of :func:`cells.cover_zones` for
    ``(zone index, polygon parts)`` pairs: each part's exterior ring."""
    ext = [(i, np.asarray(p[0], dtype=np.float64).reshape(-1, 2))
           for i, parts in zones for p in parts if len(p)]
    xy = np.concatenate([r for _, r in ext]) if ext else np.empty((0, 2))
    start = np.cumsum([0] + [len(r) for _, r in ext], dtype=np.int64)
    return xy, start, np.array([i for i, _ in ext], dtype=np.int64)


def _wkb_exteriors(bufs):
    """:func:`_exteriors` of a batch of WKB zones: small convex rings
    (boxes, tiles) decode whole-batch, only the rest by ``wkb.loads``."""
    ok, pts, cnt = wkb.decode_convex_rings(bufs)
    fast = np.nonzero(ok)[0]
    # each decoded ring is open: append its first vertex to close it
    n = cnt[fast] + 1
    row = np.repeat(np.arange(len(fast)), n)
    k = np.arange(int(n.sum()), dtype=np.int64) - np.repeat(np.cumsum(n) - n, n)
    k[k == n[row] - 1] = 0
    xy, start, zone = _exteriors(
        (i, list(wkb.polygons_of(wkb.loads(bufs[i]))))
        for i in np.nonzero(~ok)[0].tolist())
    return (np.concatenate([pts[fast[row], k], xy]),
            np.concatenate([np.cumsum(n) - n, start + int(n.sum())]),
            np.concatenate([fast, zone]))


def pip_join_cells(
    points: DataFrame,
    zones: DataFrame,
    res: int = 8,
    x: str = "lon",
    y: str = "lat",
    point_cols: list[str] | None = None,
    zone_id: str = "zone_id",
    geometry: str = "geometry",
    predicate: str = "covers",
    salt: int = 1,
) -> DataFrame:
    """Cell-prefix hash join + exact refine (both sides large).

    Only integers reach the join and the Python refine.  The driver
    builds the zones' :class:`ZoneIndex` (covering at ``res``, coarsened
    per zone to at most 4096 cells — the cells of
    :func:`zone_cell_covering`) and ships its buckets as a local relation
    ``(cell, zone_pos, full, zone_id)``.  Points get their cell at each
    covering res from the Catalyst encoder :func:`cells.cell_col` and
    join on ``cell``.  One ``mapInArrow`` pass then keeps the pairs that
    :meth:`ZoneIndex.match` accepts: full-cell pairs without a refine,
    the rest refined against ``index.parts[zone_pos]`` of the broadcast,
    content-keyed worker index.  The polygons never enter the shuffle.

    ``salt`` > 1 replicates each covering row ``salt`` ways and spreads
    points across the replicas on a deterministic hash — the hot-cell
    (Zipf city) mitigation of the north rule.  Results are invariant to
    ``salt`` (tested).
    """
    if predicate not in _PREDICATES:
        raise ValueError(f"predicate must be one of {_PREDICATES}")
    if point_cols is None:
        point_cols = [c for c in points.columns if c not in (x, y)]
    spark = points.sparkSession
    _, index = _broadcast_zones(zones, zone_id, geometry, res, _COVER_MAX_CELLS)
    idx = index()
    schema = _point_schema(points, point_cols)
    if not idx.levels:
        return spark.createDataFrame([], schema)
    zpos = np.concatenate([lv[2] for lv in idx.levels])
    zc = spark.createDataFrame(
        pd.DataFrame({
            "cell": np.concatenate([lv[1] for lv in idx.levels]),
            "zone_pos": zpos,
            "full": np.concatenate([lv[3] for lv in idx.levels]),
            "zone_id": idx.zone_ids[zpos],
        }),
        "cell long, zone_pos long, full boolean, zone_id long",
    )
    # a point has exactly one cell per covering res, and each zone covers
    # at one res, so every candidate pair is produced once.  Coarser
    # levels are prefixes of the finest cell, which is encoded once.
    top = idx.res_levels[-1]
    pc = points.where(F.col(x).isNotNull() & F.col(y).isNotNull()).select(
        *point_cols, x, y, cells.cell_col(F.col(y), F.col(x), top).alias("cell"))
    if len(idx.res_levels) > 1:
        pc = pc.withColumn("cell", F.explode(F.array(*[
            cells.parent_col(F.col("cell"), top, r) for r in idx.res_levels])))
    if salt > 1:
        zc = zc.withColumn(
            "__s", F.explode(F.array([F.lit(i) for i in range(salt)]))
        )
        pc = pc.withColumn(
            "__s", F.pmod(F.xxhash64(*[F.col(c) for c in point_cols]), F.lit(salt))
        ).withColumn("__s", F.col("__s").cast("int"))
        joined = pc.join(zc, ["cell", "__s"], "inner")
    else:
        joined = pc.join(zc, "cell", "inner")
    joined = joined.select(*point_cols, x, y, "zone_pos", "full", "zone_id")

    def exact(batches):
        import pyarrow as pa

        def col(batch, name, dtype):
            return np.ascontiguousarray(
                batch.column(name).to_numpy(zero_copy_only=False), dtype)

        widx = index()
        for batch in batches:
            if batch.num_rows == 0:
                continue
            hit = widx.match(col(batch, x, np.float64), col(batch, y, np.float64),
                             col(batch, "zone_pos", np.int64),
                             col(batch, "full", bool), predicate)
            take = pa.array(np.nonzero(hit)[0])
            cols = [batch.column(c).take(take) for c in point_cols + ["zone_id"]]
            yield pa.RecordBatch.from_arrays(cols, point_cols + ["zone_id"])

    return joined.mapInArrow(exact, schema=schema)


def cell_encode(df: DataFrame, res: int, y: str = "lat", x: str = "lon",
                out: str = "cell") -> DataFrame:
    """Attach the res-``res`` cell id column (Catalyst, :func:`cells.cell_col`)."""
    return df.withColumn(out, cells.cell_col(F.col(y), F.col(x), res))
