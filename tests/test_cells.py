"""Unit tests for the Z-order cell index (spapy_spark.cells)."""

import numpy as np
import pytest

from spapy_spark import cells


def test_roundtrip_encode_decode():
    rng = np.random.default_rng(42)
    lat = rng.uniform(-89.9, 89.9, 5000)
    lon = rng.uniform(-180.0, 179.999, 5000)
    for res in (0, 1, 7, 12, 20, 26):
        c = cells.latlon_to_cell(lat, lon, res)
        assert c.dtype == np.int64
        assert (c >= 0).all()
        assert (cells.cell_res(c) == res).all()
        lo, la, hi, ha = cells.cell_bounds(c)
        assert (lon >= lo).all() and (lon < hi + 1e-9).all()
        assert (lat >= la).all() and (lat < ha + 1e-9).all()


def test_cell_contains_its_point():
    # exact quantization: recomputing the cell of a cell's center is stable
    lat = np.array([47.6097, -33.8688, 0.0001, 69.99])
    lon = np.array([-122.3331, 151.2093, 0.0001, -179.99])
    c = cells.latlon_to_cell(lat, lon, 12)
    lo, la, hi, ha = cells.cell_bounds(c)
    c2 = cells.latlon_to_cell((la + ha) / 2, (lo + hi) / 2, 12)
    assert (c == c2).all()


def test_parent_prefix_property():
    lat = np.array([10.5, -45.25, 80.0])
    lon = np.array([100.0, -60.0, 179.0])
    child = cells.latlon_to_cell(lat, lon, 14)
    parent = cells.cell_to_parent(child, 10)
    direct = cells.latlon_to_cell(lat, lon, 10)
    assert (parent == direct).all()


def test_lon_wrap():
    c1 = cells.latlon_to_cell(np.array([10.0]), np.array([190.0]), 8)
    c2 = cells.latlon_to_cell(np.array([10.0]), np.array([-170.0]), 8)
    assert c1[0] == c2[0]


def test_cover_bbox_exact_tiles():
    # a bbox spanning exactly 2×2 cells at res 3 (cell size 45°×22.5°)
    got = cells.cover_bbox(-45.0, 0.0, 44.0, 44.0, 3)
    assert len(got) == 4
    lo, la, hi, ha = cells.cell_bounds(got)
    assert lo.min() == -45.0 and ha.max() == 45.0


def _cover(zones, res, max_cells=4096):
    """cells.cover_zones over zones given as lists of polygon parts (each
    a list of rings; only the exterior is passed)."""
    rings = [np.asarray(p[0], np.float64) for z in zones for p in z]
    zone = [i for i, z in enumerate(zones) for _ in z]
    start = np.concatenate([[0], np.cumsum([len(r) for r in rings])]).astype(np.int64)
    xy = np.concatenate(rings) if rings else np.empty((0, 2))
    return cells.cover_zones(xy, start, zone, len(zones), res, max_cells)


def _box(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], np.float64)


def test_cover_bbox_adaptive_coarsens():
    c, _, eff = _cover([[[_box(-180, -90, 179.9, 89.9)]]], 20, max_cells=64)
    assert eff[0] < 20
    assert len(c) <= 64


def test_polygon_cover_triangle_superset_and_pruned():
    # triangle in the NE quadrant; covering must contain the cells of
    # interior points and prune most of the bbox corners
    tri = np.array([[10.0, 10.0], [30.0, 10.0], [10.0, 30.0], [10.0, 10.0]])
    cover, _, eff = _cover([[[tri]]], 8)
    assert eff.tolist() == [8]
    cover_set = set(cover.tolist())
    rng = np.random.default_rng(7)
    # rejection-sample interior points
    pts = rng.uniform(10, 30, size=(2000, 2))
    inside = pts[:, 0] + pts[:, 1] < 40.0 - 1e-9
    lat, lon = pts[inside, 1], pts[inside, 0]
    pc = cells.latlon_to_cell(lat, lon, 8)
    assert set(pc.tolist()) <= cover_set, "covering missed interior cells"
    # corner far outside the triangle must be pruned
    far = int(cells.latlon_to_cell(np.array([29.0]), np.array([29.0]), 8)[0])
    assert far not in cover_set


def _mixed_zones():
    th = np.linspace(0, 2 * np.pi, 13)[:-1]
    star = np.column_stack([20 + np.where(np.arange(12) % 2, 2.0, 6.0) * np.cos(th),
                            -10 + np.where(np.arange(12) % 2, 2.0, 6.0) * np.sin(th)])
    star = np.vstack([star, star[:1]])
    hole = _box(41.0, 1.0, 43.0, 3.0)[::-1]
    return [
        [[_box(0.5, 0.5, 3.7, 2.2)]],                       # rect
        [[star]],                                          # concave
        [[_box(40.0, 0.0, 44.0, 4.0), hole]],              # holed
        [[_box(-60.0, 10.0, -58.0, 12.0)],                 # multi-part
         [np.array([[-50.0, 10.0], [-45.0, 10.0], [-50.0, 16.0], [-50.0, 10.0]])]],
        [[_box(-179.0, -89.0, 179.0, 89.0)]],              # coarsened by the cap
        [[_box(100.0, 30.0, 100.0001, 30.0001)]],          # sub-cell
        [],                                                # empty
        [[_box(0.5, 0.5, 3.7, 2.2)]],                      # same rect again
    ]


@pytest.mark.parametrize("res,max_cells", [(6, 4096), (8, 256), (10, 64)])
def test_cover_zones_batch_equals_each_zone_alone(res, max_cells):
    zones = _mixed_zones()
    c, z, eff = _cover(zones, res, max_cells)
    assert (np.diff(z) >= 0).all()
    assert eff[6] == -1 and not (z == 6).any()
    assert eff[4] < res and eff[5] == res
    for i, zone in enumerate(zones):
        ci, zi, ei = _cover([zone], res, max_cells)
        assert (zi == 0).all() and ei.tolist() == [eff[i]]
        np.testing.assert_array_equal(np.sort(c[z == i]), np.sort(ci))
        assert len(np.unique(ci)) == len(ci)
        if len(ci):
            assert (cells.cell_res(ci) == ei[0]).all()


@pytest.mark.parametrize("res", [3, 7, 11])
def test_cover_zones_rect_is_all_its_bbox_cells(res):
    """An axis-aligned rectangle covers exactly its bbox cells at its
    res — also when its edges sit on cell edges — and every one of them
    meets the ring, so skipping the trim for it changes nothing."""
    from spapy_spark.geometry import kernels

    rng = np.random.default_rng(res)
    w, h = 360.0 / (1 << res), 180.0 / (1 << res)
    rects = [(-45.0, 0.0, 44.0, 44.0), (-180.0, -90.0, -180.0 + 3 * w, -90.0 + 2 * h)]
    for _ in range(30):
        x0, y0 = rng.uniform(-170, 150), rng.uniform(-80, 60)
        rects.append((x0, y0, x0 + rng.uniform(0, 20), y0 + rng.uniform(0, 20)))
        ix, iy = rng.integers(0, (1 << res) - 4, 2)
        rects.append((-180.0 + ix * w, -90.0 + iy * h,
                      -180.0 + (ix + rng.integers(1, 4)) * w,
                      -90.0 + (iy + rng.integers(1, 4)) * h))
    c, z, eff = _cover([[[_box(*r)]] for r in rects], res, 4096)
    for i, r in enumerate(rects):
        want = np.sort(cells.cover_bbox(*r, int(eff[i])))
        np.testing.assert_array_equal(np.sort(c[z == i]), want)
        lo, la, hi, ha = cells.cell_bounds(want)
        assert kernels.rects_intersect_ring(lo, la, hi, ha, _box(*r)).all()


def test_cover_zones_empty_batch():
    c, z, eff = _cover([[], []], 8)
    assert len(c) == 0 and len(z) == 0 and eff.tolist() == [-1, -1]


def test_cell_ids_are_positive_and_distinct_across_res():
    c5 = cells.latlon_to_cell(np.array([1.0]), np.array([1.0]), 5)[0]
    c6 = cells.latlon_to_cell(np.array([1.0]), np.array([1.0]), 6)[0]
    assert c5 != c6


@pytest.mark.parametrize("res", [0, 26])
def test_extreme_resolutions(res):
    c = cells.latlon_to_cell(np.array([0.0]), np.array([0.0]), res)
    assert cells.cell_res(c)[0] == res


# ---------------------------------------------------------------------------
# Catalyst twin: cells.cell_col / cells.parent_col
# ---------------------------------------------------------------------------

PARITY_RES = (0, 1, 7, 13, 26)
_ULP_BELOW = float(np.nextafter(-180.0, -np.inf))


def _edge_points():
    lons = [180.0, -180.0, 540.0, -540.0, -0.0, 0.0, _ULP_BELOW,
            float(np.nextafter(180.0, 0.0)), 179.99, np.nan, np.inf, -np.inf]
    lats = [90.0, -90.0, 91.0, -91.0, -0.0, float(np.nextafter(90.0, 0.0)),
            np.nan, np.inf, -np.inf, 1e300, -1e300]
    glon, glat = np.meshgrid(np.array(lons), np.array(lats))
    return glat.ravel(), glon.ravel()


@pytest.fixture(scope="module")
def parity_points(spark, tmp_path_factory):
    """(lat, lon) arrays and the same points as a parquet-backed
    DataFrame (a local relation would be constant-folded on the driver,
    never running the generated code)."""
    rng = np.random.default_rng(5)
    elat, elon = _edge_points()
    lat = np.concatenate([rng.uniform(-95, 95, 3000), elat])
    lon = np.concatenate([rng.uniform(-400, 400, 3000), elon])
    path = str(tmp_path_factory.mktemp("cells") / "pts")
    spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lat, lon))],
        "id long, lat double, lon double",
    ).write.parquet(path)
    return lat, lon, spark.read.parquet(path)


def test_out_of_domain_classes_are_pinned():
    # lon 180 and the ulp below it land in the last column (the closed
    # interval [-180, 180] maps monotonically); lon one ulp below -180:
    # np.mod gives 360.0, so column n-1 too (Spark's pmod would give
    # column 0); the ulp above 180 sums to 360 as 180 does, while
    # 180 + 1e-9 wraps to column 0; lat +inf and huge lat clamp to the
    # top row, -inf and NaN to row 0
    lat = np.array([0.0] * 5 + [np.inf, 1e300, -np.inf, np.nan])
    lon = np.array([_ULP_BELOW, 180.0, np.nextafter(180.0, 0.0),
                    np.nextafter(180.0, np.inf), 180.0 + 1e-9, 0.0, 0.0, 0.0, 0.0])
    for res in (1, 7, 26):
        n = 1 << res
        ix, iy = cells.latlon_to_ij(lat, lon, res)
        assert ix[:5].tolist() == [n - 1, n - 1, n - 1, n - 1, 0]
        assert iy[5:].tolist() == [n - 1, n - 1, 0, 0]


def test_ij_col_matches_numpy_quantizer_at_the_seam(spark, tmp_path):
    """The quantize half of the Catalyst encoder equals ``latlon_to_ij``
    on the longitudes around both ends of [-180, 180] and their wrapped
    images, and ``ij_cell_col`` of it equals ``ij_to_cell``."""
    from pyspark.sql import functions as F

    seam = []
    for edge in (-180.0, 180.0, 540.0, -540.0):
        v = edge
        for _ in range(3):
            v = float(np.nextafter(v, -np.inf))
        for _ in range(7):
            seam.append(v)
            v = float(np.nextafter(v, np.inf))
    lon = np.array(seam)
    lat = np.linspace(-90.0, 90.0, len(lon))
    path = str(tmp_path / "seam")
    spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lat, lon))],
        "id long, lat double, lon double").write.parquet(path)
    df = spark.read.parquet(path)
    for res in (1, 8, 26):
        ix, iy = cells.ij_col(F.col("lat"), F.col("lon"), res)
        rows = sorted(df.select("id", ix.alias("ix"), iy.alias("iy"),
                                cells.ij_cell_col(ix, iy, res).alias("c")).collect())
        wx, wy = cells.latlon_to_ij(lat, lon, res)
        assert [r["ix"] for r in rows] == wx.tolist(), res
        assert [r["iy"] for r in rows] == wy.tolist(), res
        assert [r["c"] for r in rows] == cells.ij_to_cell(wx, wy, res).tolist()


def test_duckdb_morton_oracle_matches_engine():
    """The DuckDB tile oracle's Morton CTE gives the engine's cell ids
    on [-180, 180] × [-90, 90], the grid edges included."""
    import duckdb
    import pandas as pd

    from spapy_spark.entry_queries import _morton_cte

    rng = np.random.default_rng(8)
    edge_lon = [-180.0, 180.0, float(np.nextafter(180.0, 0.0)),
                float(np.nextafter(-180.0, np.inf)), 0.0]
    edge_lat = [-90.0, 90.0, float(np.nextafter(90.0, 0.0)), 0.0]
    glon, glat = np.meshgrid(edge_lon, edge_lat)
    lon = np.concatenate([rng.uniform(-180, 180, 2000), glon.ravel()])
    lat = np.concatenate([rng.uniform(-90, 90, 2000), glat.ravel()])
    con = duckdb.connect()
    con.register("p", pd.DataFrame({"point_id": np.arange(len(lon)),
                                    "lat": lat, "lon": lon}))
    got = con.execute(_morton_cte("SELECT point_id, lat, lon FROM p")
                      + " SELECT cell FROM enc ORDER BY point_id").fetchnumpy()
    want = cells.latlon_to_cell(lat, lon, 8)
    bad = np.nonzero(got["cell"] != want)[0]
    assert not len(bad), (lon[bad[:5]], lat[bad[:5]])


def test_cell_col_matches_numpy_encoder(parity_points):
    from pyspark.sql import functions as F

    lat, lon, df = parity_points
    rows = df.select(
        "id", *[cells.cell_col(F.col("lat"), F.col("lon"), r).alias(f"c{r}")
                for r in PARITY_RES]).collect()
    ids = np.array([r["id"] for r in rows])
    for res in PARITY_RES:
        got = np.array([r[f"c{res}"] for r in rows], dtype=np.int64)
        want = cells.latlon_to_cell(lat[ids], lon[ids], res)
        bad = np.nonzero(got != want)[0]
        assert not len(bad), (res, lat[ids][bad[:5]], lon[ids][bad[:5]])


def test_parent_col_matches_cell_to_parent(parity_points):
    from pyspark.sql import functions as F

    lat, lon, df = parity_points
    top = cells.cell_col(F.col("lat"), F.col("lon"), 13)
    rows = df.select("id", *[cells.parent_col(top, 13, r).alias(f"p{r}")
                             for r in (0, 1, 7, 13)]).collect()
    ids = np.array([r["id"] for r in rows])
    child = cells.latlon_to_cell(lat[ids], lon[ids], 13)
    for r in (0, 1, 7, 13):
        got = np.array([row[f"p{r}"] for row in rows], dtype=np.int64)
        assert (got == cells.cell_to_parent(child, r)).all()


@pytest.mark.parametrize("res", [7, 13, 26])
def test_cell_col_plan_is_linear_in_res(parity_points, res):
    """The executed plan grows by a few hundred characters per res bit.
    A magic-mask spread over nested Columns copies the quantize
    expression 2^5 times per coordinate (~10 KB at any res)."""
    from pyspark.sql import functions as F

    _, _, df = parity_points

    def plan_len(col):
        q = df.select("id", col.alias("cell"))
        return len(q._jdf.queryExecution().executedPlan().toString())

    grown = plan_len(cells.cell_col(F.col("lat"), F.col("lon"), res)) - \
        plan_len(F.lit(0))
    assert grown < 320 * res + 300, grown
