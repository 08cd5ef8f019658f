"""Cell join (``pip_join_cells``): its integer covering against
``zone_cell_covering``, and its output rows against a brute-force
``kernels.points_covered_by`` / ``points_contained`` nested loop —
points on edges and vertices, both predicates, odd zone ids,
MultiPolygon and holed zones, salting, empty sides, and points the
encoder wraps or clamps into a full cell."""

import numpy as np
import pytest

from spapy_spark import cells
from spapy_spark.geometry import kernels, wkb
from spapy_spark.operators import pip
from spapy_spark.sources import synth

IDS = [-7, 0, 2**40 + 1, 5, 6]


def _geoms():
    mp = {"type": "MultiPolygon", "coordinates": [
        wkb.box(12.0, 0.0, 14.0, 2.0)["coordinates"],
        wkb.box(15.0, 0.0, 17.5, 3.0)["coordinates"],
    ]}
    holed = wkb.polygon([[0.0, 5.0], [4.0, 5.0], [4.0, 9.0], [0.0, 9.0]],
                        holes=[[[1.0, 6.0], [3.0, 6.0], [3.0, 8.0], [1.0, 8.0]]])
    return [wkb.box(0.0, 0.0, 4.0, 4.0),
            wkb.polygon([[3.0, 3.0], [10.0, 3.0], [6.0, 9.0], [3.0, 3.0]]),
            wkb.box(5.0, -1.0, 11.0, 2.0), mp, holed]


def _zone_df(spark, ids, geoms):
    return spark.createDataFrame(
        [(int(z), wkb.dumps(g)) for z, g in zip(ids, geoms)],
        "zone_id long, geometry binary")


def brute_pairs(zone_ids, geoms, px, py, predicate):
    test = (kernels.points_covered_by if predicate == "covers"
            else kernels.points_contained)
    out = set()
    for zid, g in zip(zone_ids, geoms):
        hit = np.zeros(len(px), dtype=bool)
        for rings in wkb.polygons_of(g):
            hit |= test(px, py, rings)
        out |= {(int(i), int(zid)) for i in np.nonzero(hit)[0]}
    return out


def _points_df(spark, px, py):
    return spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(zip(px, py))],
        "point_id long, lon double, lat double",
    ).repartition(4)


def pairs(df):
    return {(int(r["point_id"]), int(r["zone_id"])) for r in df.collect()}


@pytest.fixture(scope="module")
def grid(spark):
    # quarter-unit grid: many points sit exactly on edges and vertices
    gx, gy = np.meshgrid(np.arange(-1.0, 18.0, 0.25), np.arange(-2.0, 10.0, 0.25))
    px, py = gx.ravel(), gy.ravel()
    return px, py, _points_df(spark, px, py)


@pytest.mark.parametrize("predicate", ["covers", "contains"])
@pytest.mark.parametrize("salt", [1, 4])
def test_cell_join_matches_brute_force(spark, grid, predicate, salt):
    px, py, pts = grid
    geoms = _geoms()
    zdf = _zone_df(spark, IDS, geoms)
    want = brute_pairs(IDS, geoms, px, py, predicate)
    got = pairs(pip.pip_join_cells(pts, zdf, res=8, point_cols=["point_id"],
                                   predicate=predicate, salt=salt))
    assert got == want
    # the broadcast probe shares ZoneIndex.match: same rows
    assert pairs(pip.pip_join_broadcast(pts, zdf, point_cols=["point_id"],
                                        predicate=predicate)) == want
    assert {z for _, z in got} == set(IDS)


def test_cell_join_multi_level(spark, grid):
    """A giant zone coarsens below ``res``: points probe two levels."""
    px, py, pts = grid
    geoms = _geoms() + [wkb.box(-1.0, -2.0, 18.0, 10.0)]
    ids = IDS + [99]
    zdf = _zone_df(spark, ids, geoms)
    idx = pip.ZoneIndex(list(zip(ids, [wkb.dumps(g) for g in geoms])),
                        res=11, max_cells_per_zone=4096)
    assert len(idx.res_levels) == 2
    for predicate in ("covers", "contains"):
        got = pairs(pip.pip_join_cells(pts, zdf, res=11, point_cols=["point_id"],
                                       predicate=predicate, salt=2))
        assert got == brute_pairs(ids, geoms, px, py, predicate)


def test_cell_join_empty_sides(spark, grid):
    _, _, pts = grid
    zdf = _zone_df(spark, IDS, _geoms())
    empty = pts.limit(0)
    out = pip.pip_join_cells(empty, zdf, res=8, point_cols=["point_id"])
    assert out.columns == ["point_id", "zone_id"]
    assert out.count() == 0
    none = pip.pip_join_cells(pts, zdf.limit(0), res=8, point_cols=["point_id"])
    assert none.columns == ["point_id", "zone_id"]
    assert none.count() == 0


def test_full_cell_needs_the_point_in_its_cell(spark):
    """A zone reaching below -90 makes bottom-row cells full.  Points
    with a NaN or sub-pole lat, and lon past ±180, encode into such a
    cell (clamped or wrapped) but lie outside the zone: they must take
    the exact refine, in both plans."""
    geoms = [wkb.box(-170.0, -91.0, -100.0, -40.0)]
    idx = pip.ZoneIndex([(1, wkb.dumps(geoms[0]))], res=4)
    cell = cells.latlon_to_cell(np.array([-85.0]), np.array([-150.0]), 4)[0]
    _, bc, _, bf = idx.levels[0]
    assert bf[bc == cell].tolist() == [True]
    px = np.array([-150.0, 210.0, -510.0, -150.0, -150.0, np.nan, np.nan])
    py = np.array([-95.0, -85.0, -85.0, np.nan, -85.0, -85.0, np.nan])
    pts = _points_df(spark, px, py)
    zdf = _zone_df(spark, [1], geoms)
    for predicate in ("covers", "contains"):
        want = brute_pairs([1], geoms, px, py, predicate)
        assert want == {(4, 1)}
        assert pairs(pip.pip_join_cells(pts, zdf, res=4, point_cols=["point_id"],
                                        predicate=predicate)) == want
        assert pairs(pip.pip_join_broadcast(pts, zdf, point_cols=["point_id"],
                                             predicate=predicate, res=4)) == want


def test_contains_near_a_cell_edge(spark):
    """A zone edge 1e-13 outside a cell boundary: the cell must not be
    full, or ``contains`` keeps a point within the boundary eps."""
    geoms = [wkb.box(-1e-13, 0.1, 10.0, 10.0)]
    px, py = np.array([0.0, 0.5, 0.0]), np.array([5.0, 5.0, 0.1])
    pts = _points_df(spark, px, py)
    zdf = _zone_df(spark, [3], geoms)
    for predicate in ("covers", "contains"):
        want = brute_pairs([3], geoms, px, py, predicate)
        for res in (6, 8):
            assert pairs(pip.pip_join_cells(pts, zdf, res=res, point_cols=["point_id"],
                                            predicate=predicate)) == want
            assert pairs(pip.pip_join_broadcast(pts, zdf, point_cols=["point_id"],
                                                 predicate=predicate, res=res)) == want
    assert brute_pairs([3], geoms, px, py, "contains") == {(1, 3)}


def test_zone_reaching_lon_180(spark):
    """A box whose max corner is lon 180 covers its last cell column:
    the corner is clamped into the grid, not wrapped to column 0, and
    so are points at lon 180 and one ulp below it, which land in the
    last column like lon 179.9.  Every point is a candidate of both
    plans and of ``zone_cell_covering``.  The zone covers, but does not
    contain, the two points on (or an ulp from) its edge lon 180."""
    geoms = [wkb.box(170.0, 10.0, 180.0, 20.0)]
    px = np.array([171.0, 176.0, 179.9, np.nextafter(180.0, 0.0), 180.0])
    py = np.full(len(px), 15.0)
    own = set(cells.latlon_to_cell(py, px, 6).tolist())
    cover = cells.cover_bbox(170.0, 10.0, 180.0, 20.0, 6)
    assert len(cover) == 10 and own <= set(cover.tolist())
    zdf = _zone_df(spark, [9], geoms)
    rows = pip.zone_cell_covering(zdf, 6).collect()
    assert own <= {r["cell"] for r in rows}
    pts = _points_df(spark, px, py)
    for predicate in ("covers", "contains"):
        want = brute_pairs([9], geoms, px, py, predicate)
        assert want == {(i, 9) for i in range(5 if predicate == "covers" else 3)}
        assert pairs(pip.pip_join_cells(pts, zdf, res=6, point_cols=["point_id"],
                                        predicate=predicate)) == want
        assert pairs(pip.pip_join_broadcast(pts, zdf, point_cols=["point_id"],
                                             predicate=predicate, res=6)) == want
        pi, zid = pip.ZoneIndex([(9, wkb.dumps(geoms[0]))], res=6).query(
            px, py, predicate)
        assert set(zip(pi.tolist(), zid.tolist())) == want


@pytest.mark.parametrize("res", [6, 7, 8])
def test_index_covering_equals_zone_cell_covering(spark, res):
    """The cell join's covering (the ZoneIndex buckets it ships) is the
    covering ``zone_cell_covering`` builds, row for row, and every point
    of a full cell is in that cell's zone under both predicates."""
    zpdf = synth.zones_pdf()
    rows = list(zip(zpdf["zone_id"], zpdf["geometry"]))
    idx = pip.ZoneIndex(rows, res=res, max_cells_per_zone=4096)
    ours = sorted((int(c), int(idx.zone_ids[z]))
                  for _, bc, bz, _ in idx.levels for c, z in zip(bc, bz))
    theirs = sorted((int(r["cell"]), int(r["zone_id"])) for r in
                    pip.zone_cell_covering(synth.zones(spark), res).collect())
    assert ours == theirs
    rng = np.random.default_rng(res)
    n_full = 0
    for _, bc, bz, bf in idx.levels:
        for c, z in zip(bc[bf], bz[bf]):
            x0, y0, x1, y1 = (float(v[0]) for v in cells.cell_bounds(np.array([c])))
            px = np.concatenate([[x0, x1, x0, x1], rng.uniform(x0, x1, 16)])
            py = np.concatenate([[y0, y0, y1, y1], rng.uniform(y0, y1, 16)])
            for test in (kernels.points_covered_by, kernels.points_contained):
                hit = np.zeros(len(px), dtype=bool)
                for rings in idx.parts[z]:
                    hit |= test(px, py, rings)
                assert hit.all(), (c, z)
            n_full += 1
    assert n_full > 0


def test_empty_zones_match_nothing(spark, grid):
    """``POLYGON EMPTY`` and ``MULTIPOLYGON EMPTY`` zones (what
    GeoPackage's empty flag decodes to) among real ones get no covering,
    match no point and leave the auto res alone: every plan returns the
    rows it returns without them."""
    px, py, pts = grid
    geoms = _geoms()
    empty = [{"type": "Polygon", "coordinates": []},
             {"type": "MultiPolygon", "coordinates": []}]
    ids_e = IDS[:2] + [41] + IDS[2:4] + [42] + IDS[4:]
    geoms_e = geoms[:2] + empty[:1] + geoms[2:4] + empty[1:] + geoms[4:]
    zdf, zdf_e = _zone_df(spark, IDS, geoms), _zone_df(spark, ids_e, geoms_e)
    idx = pip.ZoneIndex([(z, wkb.dumps(g)) for z, g in zip(ids_e, geoms_e)])
    assert idx.zone_res[[2, 5]].tolist() == [-1, -1]
    assert idx.res == pip.ZoneIndex([(z, wkb.dumps(g)) for z, g in zip(IDS, geoms)]).res
    for predicate in ("covers", "contains"):
        want = brute_pairs(IDS, geoms, px, py, predicate)
        assert pairs(pip.pip_join_broadcast(pts, zdf_e, point_cols=["point_id"],
                                            predicate=predicate)) == want
        assert pairs(pip.pip_join_cells(pts, zdf_e, res=8, point_cols=["point_id"],
                                        predicate=predicate)) == want

    def cover(df):
        return sorted((r["cell"], r["zone_id"], bytes(r["geometry"]))
                      for r in pip.zone_cell_covering(df, 8).collect())

    assert cover(zdf_e) == cover(zdf)
