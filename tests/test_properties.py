"""Property-based tests (hypothesis) — SURVEY.md §5.2 item 5.

PIP boundary cases, covering-superset (no false negatives from cell
pruning), Morton round-trip, WKB round-trip, and the feature-edit
parity wrappers.
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from spapy_spark import cells
from spapy_spark.geometry import kernels, wkb

finite = st.floats(min_value=-179.99, max_value=179.99, allow_nan=False,
                   width=64)
lat_s = st.floats(min_value=-89.99, max_value=89.99, allow_nan=False,
                  width=64)


@settings(max_examples=200, deadline=None)
@given(lon=finite, lat=lat_s, res=st.integers(0, 20))
def test_point_cell_contains_point(lon, lat, res):
    """A point's cell bounds always cover the point (half-open top)."""
    c = cells.latlon_to_cell(np.array([lat]), np.array([lon]), res)
    lo, la, hi, ha = cells.cell_bounds(c)
    assert lo[0] - 1e-9 <= lon < hi[0] + 1e-9
    assert la[0] - 1e-9 <= lat < ha[0] + 1e-9


@settings(max_examples=200, deadline=None)
@given(lon=finite, lat=lat_s, res=st.integers(2, 20),
       parent=st.integers(0, 10))
def test_parent_prefix(lon, lat, res, parent):
    """Truncating a cell to any coarser res equals encoding directly at
    that res (the prefix property the join planner relies on)."""
    pr = min(parent, res)
    c = cells.latlon_to_cell(np.array([lat]), np.array([lon]), res)
    direct = cells.latlon_to_cell(np.array([lat]), np.array([lon]), pr)
    assert cells.cell_to_parent(c, pr)[0] == direct[0]


@settings(max_examples=100, deadline=None)
@given(cx=st.floats(-50, 50), cy=st.floats(-40, 40),
       r=st.floats(0.1, 5.0), seed=st.integers(0, 10_000))
def test_cover_superset_no_false_negatives(cx, cy, r, seed):
    """Polygon covering ⊇ polygon: every interior point's cell is in
    the covering (the exactness precondition of the cell join)."""
    rng = np.random.default_rng(seed)
    k = int(rng.integers(3, 9))
    th = np.sort(rng.uniform(0, 2 * np.pi, k))
    ring = np.column_stack([cx + r * np.cos(th), cy + r * np.sin(th)])
    hull = kernels.convex_hull(ring)
    if len(hull) < 4:
        return
    res = 8
    cover = set(cells.cover_zones(hull, [0, len(hull)], [0], 1, res)[0].tolist())
    # sample interior points via rejection
    pts = rng.uniform([hull[:, 0].min(), hull[:, 1].min()],
                      [hull[:, 0].max(), hull[:, 1].max()], (64, 2))
    inside = kernels.points_in_ring(pts[:, 0], pts[:, 1], hull)
    for p in pts[inside]:
        c = int(cells.latlon_to_cell(
            np.array([p[1]]), np.array([p[0]]), res)[0])
        assert c in cover


@settings(max_examples=100, deadline=None)
@given(seed=st.integers(0, 100_000), n=st.integers(3, 30))
def test_wkb_roundtrip_property(seed, n):
    rng = np.random.default_rng(seed)
    coords = rng.uniform(-180, 180, (n, 2))
    for g in (
        {"type": "LineString", "coordinates": coords},
        {"type": "MultiPoint", "coordinates": coords},
        wkb.polygon(coords),
    ):
        back = wkb.loads(wkb.dumps(g))
        assert back["type"] == g["type"]
        leafs_a = kernels._leaf_arrays(g)
        leafs_b = kernels._leaf_arrays(back)
        for a, b in zip(leafs_a, leafs_b):
            np.testing.assert_array_equal(a, b)


@settings(max_examples=50, deadline=None)
@given(seed=st.integers(0, 10_000))
def test_pip_vertex_edge_interior_exterior(seed):
    """The classic PIP boundary quartet: interior in, exterior out,
    vertex/edge covered-by but not contained."""
    rng = np.random.default_rng(seed)
    x0, y0 = rng.uniform(-100, 100, 2)
    w, h = rng.uniform(1, 20, 2)
    ring = np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + h],
                     [x0, y0 + h], [x0, y0]])
    cx, cy = x0 + w / 2, y0 + h / 2
    assert kernels.points_covered_by([cx], [cy], [ring])[0]
    assert kernels.points_contained([cx], [cy], [ring])[0]
    assert not kernels.points_covered_by([x0 - 1], [y0 - 1], [ring])[0]
    # vertex + edge midpoint: covered, not contained
    for px, py in ((x0, y0), (x0 + w / 2, y0)):
        assert kernels.points_covered_by([px], [py], [ring])[0]
        assert not kernels.points_contained([px], [py], [ring])[0]


def test_feature_edit_wrappers(spark):
    from spapy_spark.operators import vector

    df = spark.createDataFrame(
        [(0, "a", wkb.dumps(wkb.box(0, 0, 1, 1)))],
        "fid long, name string, geometry binary",
    )
    grown = vector.add_feature(
        df, {"fid": 1, "name": "b",
             "geometry": wkb.dumps(wkb.polygon([[5, 5], [6, 5], [6, 6]]))},
    )
    assert grown.count() == 2
    g = wkb.loads(bytes(
        grown.where("fid = 1").collect()[0]["geometry"]))
    assert g["type"] == "MultiPolygon"  # promotion rule applied
    assert vector.delete_feature(grown, "fid", 0).count() == 1
    upd = vector.set_attribute_value(grown, "fid", 1, "name", "z")
    names = {r["fid"]: r["name"] for r in upd.collect()}
    assert names == {0: "a", 1: "z"}
    # segment-length / coords utilities (SpaBase parity)
    line = np.array([[0.0, 0.0], [3.0, 4.0], [3.0, 8.0]])
    np.testing.assert_allclose(kernels.segment_lengths(line), [5.0, 4.0])
    xs, ys = kernels.xys_from_coords(line)
    assert xs.tolist() == [0, 3, 3] and ys.tolist() == [0, 4, 8]


# ---------------------------------------------------------------------------
# Codec properties (round 4): LZW / PackBits / PNG forms
# ---------------------------------------------------------------------------


@settings(max_examples=60, deadline=None)
@given(data=st.binary(max_size=4000))
def test_tiff_lzw_roundtrip_property(data):
    from spapy_spark.sources import tiff_lzw

    assert tiff_lzw.lzw_decode(tiff_lzw.lzw_encode(data)) == data


@settings(max_examples=40, deadline=None)
@given(data=st.binary(max_size=4000),
       alphabet=st.integers(min_value=1, max_value=4))
def test_tiff_lzw_low_entropy_property(data, alphabet):
    # low-entropy inputs drive the dictionary deep (width growth +
    # resets) — the regime real rasters live in
    from spapy_spark.sources import tiff_lzw

    small = bytes(b % alphabet for b in data) * 8
    assert tiff_lzw.lzw_decode(tiff_lzw.lzw_encode(small)) == small


@settings(max_examples=60, deadline=None)
@given(data=st.binary(max_size=3000),
       row=st.integers(min_value=1, max_value=257))
def test_packbits_roundtrip_property(data, row):
    from spapy_spark.sources import packbits as pb

    assert pb.packbits_decode(pb.packbits_encode(data)) == data
    assert pb.packbits_decode(pb.packbits_encode(data, row_bytes=row)) == data


@settings(max_examples=25, deadline=None)
@given(h=st.integers(1, 12), w=st.integers(1, 12),
       c=st.sampled_from([1, 3, 4]),
       ft=st.integers(0, 4),
       interlace=st.booleans(),
       bit16=st.booleans(),
       seed=st.integers(0, 2**31 - 1))
def test_png_roundtrip_property(h, w, c, ft, interlace, bit16, seed):
    from spapy_spark.sources import png

    rng = np.random.default_rng(seed)
    if bit16:
        img = rng.integers(0, 65536, (h, w, c), dtype=np.uint16)
    else:
        img = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
    out = png.decode_png(
        png.encode_png(img, filter_type=ft, interlace=interlace)
    )
    np.testing.assert_array_equal(out, img)


@settings(max_examples=25, deadline=None)
@given(h=st.integers(1, 16), w=st.integers(1, 16),
       c=st.sampled_from([3, 4]),
       lz=st.booleans(),
       cache=st.sampled_from([0, 4, 8]),
       colors=st.integers(2, 256),
       seed=st.integers(0, 2**31 - 1))
def test_webp_lossless_roundtrip_property(h, w, c, lz, cache, colors,
                                          seed):
    from spapy_spark.sources import webp

    rng = np.random.default_rng(seed)
    img = (rng.integers(0, colors, (h, w, c)) * (256 // colors)).astype(
        np.uint8
    )
    enc = webp.encode_webp_lossless(img, use_lz77=lz, cache_bits=cache)
    dec = webp.decode_webp(enc)
    # encoder drops a constant-255 alpha plane on decode; re-attach
    if c == 4 and dec.shape[2] == 3:
        assert (img[:, :, 3] == 255).all()
        dec = np.concatenate(
            [dec, np.full((h, w, 1), 255, np.uint8)], axis=-1
        )
    np.testing.assert_array_equal(dec, img)


@settings(max_examples=30, deadline=None)
@given(h=st.integers(1, 10), w=st.integers(1, 10),
       ints=st.booleans(), nodata=st.booleans(),
       seed=st.integers(0, 2**31 - 1))
def test_aaigrid_roundtrip_property(h, w, ints, nodata, seed):
    import os
    import tempfile

    from spapy_spark.sources import aaigrid

    rng = np.random.default_rng(seed)
    if ints:
        arr = rng.integers(-5000, 5000, (h, w)).astype(np.int32)
    else:
        arr = rng.normal(0, 1000, (h, w))
    p = os.path.join(tempfile.gettempdir(),
                     f"prop_{os.getpid()}_{seed}.asc")
    try:
        aaigrid.write_asc(p, arr, nodata=-9999.0 if nodata else None)
        back, gt, nd = aaigrid.read_asc(p)
        np.testing.assert_array_equal(back, arr)
        assert (nd == -9999.0) if nodata else (nd is None)
    finally:
        os.unlink(p)


@settings(max_examples=20, deadline=None)
@given(n=st.integers(1, 40), seed=st.integers(0, 2**31 - 1),
       with_null=st.booleans())
def test_gpb_wkb_roundtrip_property(n, seed, with_null):
    from spapy_spark.geometry import wkb as W
    from spapy_spark.sources import geopackage as gp

    rng = np.random.default_rng(seed)
    for _ in range(n):
        if with_null and rng.random() < 0.2:
            assert gp.gpb_to_wkb(gp.wkb_to_gpb(None)) is None
            continue
        pt = W.dumps({"type": "Point",
                      "coordinates": [float(rng.normal()),
                                      float(rng.normal())]})
        assert gp.gpb_to_wkb(gp.wkb_to_gpb(pt)) == pt
