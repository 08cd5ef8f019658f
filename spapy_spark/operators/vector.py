"""Vector layer operators — the SpaPy per-feature surface, Spark-first.

Reference: attribute selects (/root/reference/SpaVectors.py:442-529),
subset (:531), add/delete attribute (:393,551), split features (:591),
feature info (:690-749), layer bounds (:754), buffer (:790), simplify
(:820), convex hull (:848), centroid (:871), densify
(/root/reference/SpaDensify.py:150), clip (/root/reference/
SpaVectors.py:1501).

Design: attribute ops are plain Catalyst (filter/withColumn/drop —
pushdown + pruning for free).  Geometry ops decode WKB inside Arrow-
batched ``mapInPandas``; the per-feature loop touches numpy ring
arrays only (rings are small; the feature axis is the batch).  Every
geometry op preserves all non-geometry columns, mirroring the
reference's attribute-carry.

Type promotion matches the reference: Polygon→MultiPolygon and
LineString→MultiLineString on ops that can split/merge parts
(/root/reference/SpaVectors.py:308-309,659-663) via wkb.promote_multi.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ..geometry import kernels, wkb

# ---------------------------------------------------------------------------
# Attribute ops (pure Catalyst; documented for parity)
# ---------------------------------------------------------------------------


def select_equal(df: DataFrame, name: str, value) -> DataFrame:
    """SpaPy SelectEqual+SubsetBySelection fused (lazy filter —
    /root/reference/SpaVectors.py:442,531)."""
    return df.filter(F.col(name) == F.lit(value))


def select_greater(df: DataFrame, name: str, value) -> DataFrame:
    return df.filter(F.col(name) > F.lit(value))


def select_greater_or_equal(df: DataFrame, name: str, value) -> DataFrame:
    return df.filter(F.col(name) >= F.lit(value))


def select_less(df: DataFrame, name: str, value) -> DataFrame:
    return df.filter(F.col(name) < F.lit(value))


def select_less_or_equal(df: DataFrame, name: str, value) -> DataFrame:
    return df.filter(F.col(name) <= F.lit(value))


def add_attribute(df: DataFrame, name: str, default=None) -> DataFrame:
    """AddAttribute with default backfill (/root/reference/SpaVectors.py:393)."""
    return df.withColumn(name, F.lit(default))


def delete_attribute(df: DataFrame, name: str) -> DataFrame:
    return df.drop(name)


def set_attribute_value(
    df: DataFrame, key_col: str, key, name: str, value
) -> DataFrame:
    """SetAttributeValue (/root/reference/SpaVectors.py:576) — the
    reference updates by row index; DataFrames have no row identity, so
    the update keys on a caller-chosen column (SURVEY §2.2)."""
    return df.withColumn(
        name,
        F.when(F.col(key_col) == F.lit(key), F.lit(value)).otherwise(
            F.col(name)
        ),
    )


def add_feature(df: DataFrame, row: dict, geometry: str = "geometry") -> DataFrame:
    """AddFeature (/root/reference/SpaVectors.py:643) — append one
    feature; geometry promoted per the reference's type rule
    (Polygon→MultiPolygon etc., SpaVectors.py:659-663)."""
    row = dict(row)
    if geometry in row and row[geometry] is not None:
        g = wkb.loads(bytes(row[geometry]))
        row[geometry] = wkb.dumps(wkb.promote_multi(g))
    one = df.sparkSession.createDataFrame(
        [tuple(row.get(c) for c in df.columns)], schema=df.schema
    )
    return df.unionByName(one)


def delete_feature(df: DataFrame, key_col: str, key) -> DataFrame:
    """DeleteFeature (/root/reference/SpaVectors.py:631) keyed by a
    caller-chosen id column."""
    return df.filter(F.col(key_col) != F.lit(key))


# ---------------------------------------------------------------------------
# Geometry map ops (WKB → WKB pandas-batch transforms)
# ---------------------------------------------------------------------------


def _geom_map(df: DataFrame, fn, geometry: str = "geometry") -> DataFrame:
    """Apply ``fn(geom_dict) -> geom_dict | None`` per feature; None
    results are dropped (reference drops empty/error features,
    /root/reference/SpaVectors.py:808-812,959)."""
    schema = df.schema

    def run(batches):
        for pdf in batches:
            out_geoms = []
            keep = np.ones(len(pdf), dtype=bool)
            for i, buf in enumerate(pdf[geometry]):
                try:
                    g = fn(wkb.loads(bytes(buf)))
                except Exception:
                    g = None
                if g is None:
                    keep[i] = False
                    out_geoms.append(None)
                else:
                    out_geoms.append(wkb.dumps(g))
            res = pdf.copy()
            res[geometry] = out_geoms
            yield res[keep]

    return df.mapInPandas(run, schema=schema)


def buffer_geom(g: dict, amount: float, quad_segs: int = 16) -> dict | None:
    """Positive buffer of a Point/(Multi)Polygon geometry dict.

    Polygon buffers are the exact Minkowski-sum decomposition:
    ``P ⊕ disc(r) = P ∪ (⋃ edge rectangles of width 2r) ∪ (⋃ vertex
    n-gon discs)``, folded with the general Greiner–Hormann union —
    exact for arbitrary simple (concave) exteriors up to the n-gon
    disc discretization (GEOS uses the same quad-segment fan).  Holes
    are dropped (positive buffers erode holes; not needed by reference
    workloads — documented divergence)."""
    from ..geometry import clip2

    t = g["type"]
    if t == "Point":
        ring = kernels.point_buffer_ring(
            float(g["coordinates"][0]), float(g["coordinates"][1]),
            amount, quad_segs,
        )
        return wkb.promote_multi({"type": "Polygon", "coordinates": [ring]})
    if t not in ("Polygon", "MultiPolygon"):
        return None
    # half-segment phase: disc vertices avoid the axis directions, so
    # the union fold never sees exact disc-vertex/rect-corner
    # coincidences (area identities are phase-invariant)
    phase = np.pi / max(4, 4 * quad_segs)
    acc = None
    for rings in wkb.polygons_of(g):
        ext = np.asarray(rings[0], dtype=np.float64)
        if np.array_equal(ext[0], ext[-1]):
            ext_open = ext[:-1]
        else:
            ext_open = ext
        pieces = [{"type": "Polygon", "coordinates": [ext]}]
        for i in range(len(ext_open)):
            a = ext_open[i]
            b = ext_open[(i + 1) % len(ext_open)]
            d = b - a
            ln = float(np.hypot(d[0], d[1]))
            if ln > 0:
                n = d / ln * amount
                perp = np.array([-n[1], n[0]])
                rect = np.array([a + perp, b + perp, b - perp, a - perp,
                                 a + perp])
                pieces.append({"type": "Polygon", "coordinates": [rect]})
            pieces.append({
                "type": "Polygon",
                "coordinates": [kernels.point_buffer_ring(
                    float(a[0]), float(a[1]), amount, quad_segs,
                    phase=phase)],
            })
        part = pieces[0]
        for p in pieces[1:]:
            part = clip2.boolean_op(part, p, "union")
        acc = part if acc is None else clip2.boolean_op(acc, part, "union")
    return acc


def _rect_buffer_template(amount: float, quad_segs: int):
    """(anchor_idx, offsets) for the canonical buffered-rectangle ring.

    The Minkowski buffer of an axis-aligned rectangle is a rounded
    rectangle whose boundary is CLOSED-FORM: offset sides at distance
    r plus, at each corner, the quadrant slice of the phase-rotated
    disc polygon cut along its 0°/90° chords (the chords' axis
    crossings are the side↔arc transition points).  Every ring vertex
    is (corner point) + (fixed offset depending only on r, quad_segs),
    so a whole batch of rects builds in one broadcast add.  The four
    quadrant slices sum to the full disc polygon, so the area equals
    the slow path's union exactly (same closed form the buffer_area
    oracle uses)."""
    r = float(amount)
    phase = np.pi / max(4, 4 * quad_segs)
    rel = kernels.point_buffer_ring(0.0, 0.0, r, quad_segs, phase=phase)
    rel = rel[:-1] if np.array_equal(rel[0], rel[-1]) else rel
    q = len(rel) // 4
    c, s = float(rel[0][0]), float(rel[0][1])  # r·cos(phase), r·sin(phase)
    # corner anchor order: 0=TR(x1,y1) 1=TL(x0,y1) 2=BL(x0,y0) 3=BR(x1,y0)
    anch: list[int] = []
    offs: list[tuple[float, float]] = []

    def add(a, ox, oy):
        anch.append(a)
        offs.append((float(ox), float(oy)))

    add(3, r, 0)          # (x1+r, y0) — right side bottom
    add(0, r, 0)          # (x1+r, y1)
    add(0, c, 0)          # chord crossing y=y1
    for k in range(q):    # Q1 arc
        add(0, rel[k][0], rel[k][1])
    add(0, 0, c)          # chord crossing x=x1
    add(0, 0, r)          # top side right
    add(1, 0, r)          # top side left
    add(1, 0, c)
    for k in range(q, 2 * q):  # Q2 arc
        add(1, rel[k][0], rel[k][1])
    add(1, -c, 0)
    add(1, -r, 0)         # left side top
    add(2, -r, 0)         # left side bottom
    add(2, -c, 0)
    for k in range(2 * q, 3 * q):  # Q3 arc
        add(2, rel[k][0], rel[k][1])
    add(2, 0, -c)
    add(2, 0, -r)         # bottom side left
    add(3, 0, -r)         # bottom side right
    add(3, 0, -c)
    for k in range(3 * q, 4 * q):  # Q4 arc
        add(3, rel[k][0], rel[k][1])
    add(3, c, 0)
    return np.asarray(anch, np.int64), np.asarray(offs, np.float64)


def buffer_rects_batch(
    rects: np.ndarray, amount: float, quad_segs: int = 16
) -> list[bytes]:
    """Whole-batch rectangle buffer → 1-part MultiPolygon WKB rings."""
    anch, offs = _rect_buffer_template(amount, quad_segs)
    corners = wkb.box_corners(rects)[:, [2, 3, 0, 1]]  # TR, TL, BL, BR
    rings = corners[:, anch, :] + offs[None, :, :]
    cnt = np.full(len(rects), rings.shape[1], dtype=np.int64)
    return wkb.encode_mp_rings(rings, cnt)


def buffer(df: DataFrame, amount: float, geometry: str = "geometry",
           quad_segs: int = 16) -> DataFrame:
    """Buffer points/polygons by ``amount``; output promoted to
    MultiPolygon (/root/reference/SpaVectors.py:790-818,801).
    See :func:`buffer_geom` for semantics.

    Axis-aligned rectangles take a whole-batch closed-form path (the
    rounded-rectangle boundary — no per-feature union fold); all other
    shapes run the exact per-feature Minkowski kernel."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    def op(g):
        out = buffer_geom(g, amount, quad_segs)
        return None if out is None else wkb.promote_multi(out)

    if amount <= 0:
        return _geom_map(df, op, geometry)

    @pandas_udf(BinaryType())
    def u(geom: pd.Series) -> pd.Series:
        vals = geom.to_numpy()
        out: list = [None] * len(vals)
        ok, rects = wkb.rect_bounds(*wkb.decode_convex_rings(vals))
        if ok.any():
            fast = buffer_rects_batch(rects[ok], amount, quad_segs)
            for j, i in enumerate(np.nonzero(ok)[0]):
                out[i] = fast[j]
        for i in np.nonzero(~ok)[0]:
            try:
                g = op(wkb.loads(bytes(vals[i])))
            except Exception:
                g = None  # invalid features dropped (SpaVectors.py:808)
            out[i] = wkb.dumps(g) if g is not None else None
        return pd.Series(out)

    # empty/error features drop, matching _geom_map / the reference
    return df.withColumn(geometry, u(F.col(geometry))).where(
        F.col(geometry).isNotNull()
    )


def _ring_self_crosses(r: np.ndarray) -> bool:
    """Any PROPER crossing between non-adjacent edges of a closed ring
    (post-simplify rings are short — the O(m²) scan is per-feature)."""
    m = len(r) - 1
    for i in range(m):
        a1, a2 = r[i], r[i + 1]
        da = a2 - a1
        for j in range(i + 2, m):
            if i == 0 and j == m - 1:
                continue
            b1, b2 = r[j], r[j + 1]
            db = b2 - b1
            d1 = da[0] * (b1[1] - a1[1]) - da[1] * (b1[0] - a1[0])
            d2 = da[0] * (b2[1] - a1[1]) - da[1] * (b2[0] - a1[0])
            d3 = db[0] * (a1[1] - b1[1]) - db[1] * (a1[0] - b1[0])
            d4 = db[0] * (a2[1] - b1[1]) - db[1] * (a2[0] - b1[0])
            if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)):
                return True
    return False


def _polygon_valid(rings: list) -> bool:
    ext = np.asarray(rings[0], dtype=np.float64)
    if len(ext) < 4 or abs(kernels.ring_signed_area(ext)) <= 0:
        return False
    if _ring_self_crosses(ext):
        return False
    for h in rings[1:]:
        ha = np.asarray(h, dtype=np.float64)
        if len(ha) < 4 or abs(kernels.ring_signed_area(ha)) <= 0:
            return False
        if _ring_self_crosses(ha):
            return False
        if not kernels.points_in_ring(ha[:, 0], ha[:, 1], ext).all():
            return False
        if kernels.segments_proper_cross_any(ha, ext):
            return False
    return True


def _simplify_polygon(rings: list, tolerance: float, preserve: bool) -> list:
    t = tolerance
    while True:
        out = [kernels.simplify_dp(r, t) for r in rings]
        if not preserve:
            return out
        if _polygon_valid(out):
            return out
        t /= 2.0
        if t < tolerance / 1024.0:
            return [np.asarray(r, dtype=np.float64) for r in rings]


def simplify(
    df: DataFrame,
    tolerance: float,
    geometry: str = "geometry",
    preserve_topology: bool = True,
) -> DataFrame:
    """Douglas-Peucker per ring (/root/reference/SpaVectors.py:820-846,
    GEOS ``simplify(tol, preserve_topology)``; reference default True).

    ``preserve_topology=True`` guarantees per-feature validity the way
    TopologyPreservingSimplifier does — no collapsed rings, no
    self-intersections, holes stay inside their shell — by retrying DP
    with a halved tolerance until the result is valid (falling back to
    the original ring).  Vertices may differ from GEOS's (its algorithm
    reinstates individual points instead); the validity CONTRACT is
    matched, documented divergence.  Like GEOS, per-feature only —
    shared boundaries between different features may still diverge.
    """

    def op(g):
        t = g["type"]
        if t == "LineString":
            return {"type": t, "coordinates": kernels.simplify_dp(
                g["coordinates"], tolerance)}
        if t == "MultiLineString":
            return {"type": t, "coordinates": [
                kernels.simplify_dp(c, tolerance) for c in g["coordinates"]]}
        if t == "Polygon":
            return {"type": t, "coordinates": _simplify_polygon(
                g["coordinates"], tolerance, preserve_topology)}
        if t == "MultiPolygon":
            return {"type": t, "coordinates": [
                _simplify_polygon(p, tolerance, preserve_topology)
                for p in g["coordinates"]]}
        return g

    return _geom_map(df, op, geometry)


def densify(df: DataFrame, max_distance: float, geometry: str = "geometry") -> DataFrame:
    """Equal-subdivision densify (/root/reference/SpaDensify.py:41-147)."""

    def op(g):
        t = g["type"]
        if t == "LineString":
            return {"type": t, "coordinates": kernels.segmentize(
                g["coordinates"], max_distance)}
        if t == "MultiLineString":
            return {"type": t, "coordinates": [
                kernels.segmentize(c, max_distance) for c in g["coordinates"]]}
        if t == "Polygon":
            return {"type": t, "coordinates": [
                kernels.segmentize(r, max_distance) for r in g["coordinates"]]}
        if t == "MultiPolygon":
            return {"type": t, "coordinates": [[
                kernels.segmentize(r, max_distance) for r in p]
                for p in g["coordinates"]]}
        return g

    return _geom_map(df, op, geometry)


def convex_hull(df: DataFrame, geometry: str = "geometry") -> DataFrame:
    """Per-feature hull (/root/reference/SpaVectors.py:848-869)."""

    def op(g):
        allc = np.vstack(kernels._leaf_arrays(g))
        hull = kernels.convex_hull(allc)
        if len(hull) < 4:  # degenerate (point/segment input)
            return g
        return {"type": "Polygon", "coordinates": [hull]}

    return _geom_map(df, op, geometry)


def centroid(df: DataFrame, geometry: str = "geometry") -> DataFrame:
    """Per-feature centroid → Point layer
    (/root/reference/SpaVectors.py:871-895)."""

    def op(g):
        cx, cy = kernels.geom_centroid(g)
        return wkb.point(cx, cy)

    return _geom_map(df, op, geometry)


def clip_bbox(
    df: DataFrame,
    min_x: float,
    min_y: float,
    max_x: float,
    max_y: float,
    geometry: str = "geometry",
) -> DataFrame:
    """Clip every feature to a bbox (/root/reference/SpaVectors.py:1501).

    bbox prune first (cheap numpy bounds), exact Sutherland–Hodgman
    clip per ring against the convex box; features clipped away are
    dropped (reference drops empty results, SpaVectors.py:959).
    """
    clip_ring = np.array(
        [[min_x, min_y], [max_x, min_y], [max_x, max_y], [min_x, max_y],
         [min_x, min_y]],
        dtype=np.float64,
    )

    def op(g):
        t = g["type"]
        if t == "Point":
            x, y = float(g["coordinates"][0]), float(g["coordinates"][1])
            if min_x <= x <= max_x and min_y <= y <= max_y:
                return g
            return None
        if t not in ("Polygon", "MultiPolygon"):
            return None  # line clip wired when needed
        parts_out = []
        for rings in wkb.polygons_of(g):
            ext = kernels.clip_ring_convex(rings[0], clip_ring)
            if ext is None:
                continue
            new_rings = [ext]
            for h in rings[1:]:
                hc = kernels.clip_ring_convex(h, clip_ring)
                if hc is not None:
                    new_rings.append(hc)
            parts_out.append(new_rings)
        if not parts_out:
            return None
        if len(parts_out) == 1:
            return {"type": "Polygon", "coordinates": parts_out[0]}
        return {"type": "MultiPolygon", "coordinates": parts_out}

    return _geom_map(df, op, geometry)


def split_features(df: DataFrame, geometry: str = "geometry") -> DataFrame:
    """Explode Multi* into single-part features, attributes duplicated
    (/root/reference/SpaVectors.py:591-629)."""
    schema = df.schema

    def run(batches):
        for pdf in batches:
            rows = []
            for i, buf in enumerate(pdf[geometry]):
                g = wkb.loads(bytes(buf))
                t = g["type"]
                if t == "MultiPolygon":
                    parts = [
                        {"type": "Polygon", "coordinates": p}
                        for p in g["coordinates"]
                    ]
                elif t == "MultiLineString":
                    parts = [
                        {"type": "LineString", "coordinates": c}
                        for c in g["coordinates"]
                    ]
                elif t == "MultiPoint":
                    parts = [
                        wkb.point(float(c[0]), float(c[1]))
                        for c in np.asarray(g["coordinates"])
                    ]
                else:
                    parts = [g]
                for p in parts:
                    rows.append((i, wkb.dumps(p)))
            if not rows:
                yield pdf.iloc[0:0]
                continue
            idx = [r[0] for r in rows]
            out = pdf.iloc[idx].reset_index(drop=True)
            out[geometry] = [r[1] for r in rows]
            yield out

    return df.mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# Feature info (WKB → scalar pandas UDF columns)
# ---------------------------------------------------------------------------


def _info_udf(fn, ret):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(ret)
    def u(geom: pd.Series) -> pd.Series:
        return pd.Series([fn(wkb.loads(bytes(b))) for b in geom])

    return u


# simple-ring WKB headers for the batched-area fast path
_HDR_POLY1 = np.frombuffer(
    bytes([1, 3, 0, 0, 0, 1, 0, 0, 0]), dtype=np.uint8
)
_HDR_MP11 = np.frombuffer(
    bytes([1, 6, 0, 0, 0, 1, 0, 0, 0, 1, 3, 0, 0, 0, 1, 0, 0, 0]),
    dtype=np.uint8,
)


def _areas_batch(vals: np.ndarray) -> np.ndarray:
    """Whole-batch shoelace areas; NaN where the WKB is not a simple
    single-ring Polygon / 1-part MultiPolygon (those fall back to the
    per-row kernel).  Buffers are grouped by byte length, decoded with
    one frombuffer per group, and reduced with one vectorized cross
    product — no per-row wkb.loads in the common case."""
    n = len(vals)
    out = np.full(n, np.nan)
    if n == 0:
        return out
    lens = np.fromiter((len(b) for b in vals), dtype=np.int64, count=n)
    for L in np.unique(lens):
        # Polygon(1 ring, v pts): 13+16v; MP(1 part, 1 ring): 22+16v —
        # the two families are disjoint mod 16 (13 vs 6)
        if L >= 13 + 64 and (L - 13) % 16 == 0:
            hdr, coff, v = _HDR_POLY1, 13, (L - 13) // 16
        elif L >= 22 + 64 and (L - 22) % 16 == 0:
            hdr, coff, v = _HDR_MP11, 22, (L - 22) // 16
        else:
            continue
        idx = np.nonzero(lens == L)[0]
        raw = np.frombuffer(
            b"".join(bytes(vals[i]) for i in idx), dtype=np.uint8
        ).reshape(-1, int(L))
        ok = (raw[:, : len(hdr)] == hdr).all(axis=1)
        # ring point count in the header must match the length-derived v
        npts = raw[:, coff - 4 : coff].copy().view("<u4")[:, 0]
        ok &= npts == v
        if not ok.any():
            continue
        coords = (
            np.ascontiguousarray(raw[ok, coff:]).view("<f8").reshape(-1, int(v), 2)
        )
        x, y = coords[:, :, 0], coords[:, :, 1]
        area = 0.5 * np.abs(
            np.sum(x[:, :-1] * y[:, 1:] - x[:, 1:] * y[:, :-1], axis=1)
        )
        out[idx[ok]] = area
    return out


def with_area(df: DataFrame, out: str = "area", geometry: str = "geometry") -> DataFrame:
    """Shoelace area (/root/reference/SpaVectors.py:690-700).

    Arrow-batched: simple single-ring geometries (the overwhelming
    output shape of box overlays / bbox layers) compute as one
    vectorized shoelace per batch; anything with holes or multiple
    parts goes through the exact per-geometry kernel."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(DoubleType())
    def u(geom: pd.Series) -> pd.Series:
        vals = geom.to_numpy()
        areas = _areas_batch(vals)
        miss = np.nonzero(np.isnan(areas))[0]
        for i in miss:
            areas[i] = kernels.geom_area(wkb.loads(bytes(vals[i])))
        return pd.Series(areas)

    return df.withColumn(out, u(F.col(geometry)))


def with_length(df: DataFrame, out: str = "length", geometry: str = "geometry") -> DataFrame:
    return df.withColumn(out, _info_udf(kernels.geom_length, DoubleType())(F.col(geometry)))


def with_geom_type(df: DataFrame, out: str = "geom_type", geometry: str = "geometry") -> DataFrame:
    return df.withColumn(
        out, _info_udf(lambda g: g["type"], StringType())(F.col(geometry))
    )


def with_bounds(df: DataFrame, geometry: str = "geometry") -> DataFrame:
    """Adds a bbox struct column (minx,miny,maxx,maxy) — the pruning
    column carried through joins (SURVEY.md §1.1)."""
    from pyspark.sql.functions import pandas_udf

    ret = StructType(
        [
            StructField("minx", DoubleType()),
            StructField("miny", DoubleType()),
            StructField("maxx", DoubleType()),
            StructField("maxy", DoubleType()),
        ]
    )

    @pandas_udf(ret)
    def u(geom: pd.Series) -> pd.DataFrame:
        vals = [kernels.geom_bounds(wkb.loads(bytes(b))) for b in geom]
        return pd.DataFrame(vals, columns=["minx", "miny", "maxx", "maxy"])

    return df.withColumn("bbox", u(F.col(geometry)))


def with_feature_info(df: DataFrame, geometry: str = "geometry") -> DataFrame:
    """All per-feature info in ONE decode pass: area, bounds, centroid
    (columns area, minx, miny, maxx, maxy, cx, cy appended).

    The composed with_area→with_bounds→centroid chain decodes every
    WKB three times across three Python stages; feature-info dashboards
    want all of it, so fuse (reference computes each in its own
    full-layer loop, /root/reference/SpaVectors.py:690-754,871)."""
    from pyspark.sql.types import DoubleType as _D

    schema = StructType(
        list(df.schema.fields)
        + [StructField(c, _D(), True)
           for c in ("area", "minx", "miny", "maxx", "maxy", "cx", "cy")]
    )

    def run(batches):
        for pdf in batches:
            cols = {c: [] for c in
                    ("area", "minx", "miny", "maxx", "maxy", "cx", "cy")}
            for buf in pdf[geometry]:
                g = wkb.loads(bytes(buf))
                cols["area"].append(kernels.geom_area(g))
                b = kernels.geom_bounds(g)
                cols["minx"].append(b[0])
                cols["miny"].append(b[1])
                cols["maxx"].append(b[2])
                cols["maxy"].append(b[3])
                cx, cy = kernels.geom_centroid(g)
                cols["cx"].append(cx)
                cols["cy"].append(cy)
            out = pdf.copy()
            for c, v in cols.items():
                out[c] = v
            yield out

    return df.mapInPandas(run, schema=schema)


def layer_bounds(df: DataFrame, geometry: str = "geometry") -> tuple:
    """Layer-level (minx, miny, maxx, maxy) — partial+final agg
    (/root/reference/SpaVectors.py:754-782)."""
    b = with_bounds(df, geometry)
    row = b.agg(
        F.min("bbox.minx"), F.min("bbox.miny"),
        F.max("bbox.maxx"), F.max("bbox.maxy"),
    ).collect()[0]
    return tuple(row)
