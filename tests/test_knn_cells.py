"""Both kNN plans — the broadcast SiteGrid probe (``knn_join_cells``)
and the distributed grid join (``knn_join_grid_exact``) — must agree
exactly with the numpy brute force ``_topk_block`` (same tie-break,
bit-equal dist) on clustered + uniform points."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from spapy_spark import cells
from spapy_spark.operators import knn
from spapy_spark.operators.knn import SiteGrid
from spapy_spark.sources import synth


def test_sitegrid_batch_matches_bruteforce():
    rows = [(r[0], r[2], r[3]) for r in synth._site_rows(500)]
    grid = SiteGrid(rows, res=5)
    ids = np.arange(3000)
    _, lat, lon = synth.doc_coords(ids)
    px, py = lon[:400], lat[:400]
    pi, si, rk, d = grid.query_batch(px, py, k=3)
    sid = np.array([r[0] for r in rows])
    sx = np.array([r[1] for r in rows])
    sy = np.array([r[2] for r in rows])
    for p in range(400):
        d2 = (px[p] - sx) ** 2 + (py[p] - sy) ** 2
        order = np.lexsort((sid, d2))[:3]
        mine = si[pi == p]
        assert mine.tolist() == sid[order].tolist(), f"point {p}"
        md = d[pi == p]
        np.testing.assert_allclose(md, np.sqrt(d2[order]), rtol=1e-12)


def _site_arrays(sites):
    rows = sites.select("site_id", "x", "y").collect()
    return (np.array([r[0] for r in rows], np.int64),
            np.array([r[1] for r in rows], np.float64),
            np.array([r[2] for r in rows], np.float64))


def _brute(sites, pid, px, py, k, metric="planar"):
    """{(point_id, rank): (site_id, dist)} from the numpy brute force."""
    sid, sx, sy = _site_arrays(sites)
    rows, s, rk, d = knn._topk_block(np.asarray(px, np.float64),
                                     np.asarray(py, np.float64),
                                     sx, sy, sid, k, metric)
    return {(int(pid[r]), int(q)): (int(i), float(v))
            for r, i, q, v in zip(rows, s, rk, d)}


def _got(rows):
    return {(r["point_id"], r["rank"]): (r["site_id"], r["dist"])
            for r in rows}


def test_knn_cells_matches_broadcast(spark):
    sites = synth.sites(spark, 300)
    ids = np.arange(500)
    _, lat, lon = synth.doc_coords(ids)
    pts = spark.createDataFrame(
        [(int(i), float(lat[i]), float(lon[i])) for i in ids],
        "point_id long, lat double, lon double",
    )
    for metric in ("planar", "haversine"):
        rows = knn.knn_join_cells(pts, sites, k=2, res=5,
                                  point_cols=["point_id"],
                                  metric=metric).collect()
        assert len(rows) == 1000  # 500 points × k=2
        assert _got(rows) == _brute(sites, ids, lon, lat, 2, metric), metric


def test_knn_cells_rejects_unknown_metric(spark):
    sites = synth.sites(spark, 5)
    pts = spark.createDataFrame([(1, 10.0, 20.0)],
                                "point_id long, lat double, lon double")
    with pytest.raises(ValueError, match="metric"):
        knn.knn_join_cells(pts, sites, metric="planer")


def _sitegrid_report(spark, site_ids, n_tasks=32):
    """{pid: (len(_INDEX_CACHE), cached SiteGrids over ``site_ids``)}
    from the Python workers; ``n_tasks`` cycles through the idle-worker
    pool (the probe pattern of test_pip_broadcast_index)."""
    ids = sorted(int(s) for s in site_ids)

    def report(batches):
        import os

        import pyarrow as pa

        from spapy_spark.operators import knn as worker_knn
        from spapy_spark.operators import pip as worker_pip

        for _ in batches:
            pass
        cache = worker_pip._INDEX_CACHE
        same = sum(isinstance(g, worker_knn.SiteGrid)
                   and sorted(g.sid.tolist()) == ids for g in cache.values())
        yield pa.RecordBatch.from_arrays(
            [pa.array([os.getpid()]), pa.array([len(cache)]), pa.array([same])],
            ["pid", "n", "same"])

    rows = spark.range(n_tasks, numPartitions=n_tasks).mapInArrow(
        report, "pid long, n long, same long").collect()
    return {r["pid"]: (r["n"], r["same"]) for r in rows}


def test_repeat_calls_load_one_sitegrid_per_worker(spark):
    """The broadcast SiteGrid goes through the content-keyed worker
    cache: two calls over the same sites leave one grid per worker."""
    from spapy_spark.operators import pip

    # ids no other test uses, so only this test's calls can cache them
    rng = np.random.default_rng(3)
    ids = np.arange(903_001, 903_041)
    sites = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, x, y in
         zip(ids, rng.uniform(-170, 170, 40), rng.uniform(-80, 80, 40))],
        "site_id long, x double, y double",
    )
    pid = np.arange(400)
    px, py = rng.uniform(-180, 180, 400), rng.uniform(-90, 90, 400)
    pts = spark.createDataFrame(
        [(int(i), float(y), float(x)) for i, x, y in zip(pid, px, py)],
        "point_id long, lat double, lon double",
    ).repartition(8)
    want = _brute(sites, pid, px, py, 2)
    for _ in range(2):
        rows = knn.knn_join_cells(pts, sites, k=2,
                                  point_cols=["point_id"]).collect()
        assert len(rows) == 800 and _got(rows) == want
    rep = _sitegrid_report(spark, ids)
    assert max(same for _, same in rep.values()) == 1, rep
    assert all(n <= pip._INDEX_CACHE_MAX for n, _ in rep.values()), rep


def test_knn_haversine_metric(spark):
    """Geodesic ranking differs from planar near the poles: at 80°N a
    1° lon offset is ~6x shorter on the sphere than 1° lat."""
    from spapy_spark.geometry.kernels import haversine_m

    sites = spark.createDataFrame(
        [(1, 1.0, 80.0), (2, 0.0, 79.1)],  # (id, lon, lat)
        "site_id long, x double, y double",
    )
    pts = spark.createDataFrame([(0, 80.0, 0.0)],
                                "point_id long, lat double, lon double")
    planar = knn.knn_join_cells(pts, sites, k=1,
                                point_cols=["point_id"]).collect()
    hav = knn.knn_join_cells(pts, sites, k=1, point_cols=["point_id"],
                             metric="haversine").collect()
    # planar degrees: site2 at dist 0.9 beats site1 at dist 1.0
    assert planar[0]["site_id"] == 2
    # geodesic: 1° lon at 80°N ≈ 19 km, 0.9° lat ≈ 100 km → site1 wins
    assert hav[0]["site_id"] == 1
    d = float(haversine_m(np.array([80.0]), np.array([0.0]),
                          np.array([80.0]), np.array([1.0]))[0])
    assert hav[0]["dist"] == pytest.approx(d, rel=1e-12)


def test_topk_block_chunked_matches_dense():
    """Site-axis chunking (the 10^5-site memory fix) is bit-identical
    to the one-shot dense path, both metrics."""
    rng = np.random.default_rng(11)
    n, s, k = 300, 2500, 4
    px, py = rng.uniform(-180, 180, n), rng.uniform(-80, 80, n)
    sx, sy = rng.uniform(-180, 180, s), rng.uniform(-80, 80, s)
    sid = rng.permutation(s).astype(np.int64)
    import spapy_spark.operators.knn as knn_mod
    save = knn_mod._TOPK_BLOCK_BYTES
    try:
        knn_mod._TOPK_BLOCK_BYTES = 8 * n * 97  # chunk = 97 sites
        ch = knn_mod._topk_block(px, py, sx, sy, sid, k)
        knn_mod._TOPK_BLOCK_BYTES = 8 * n * s  # single chunk
        dn = knn_mod._topk_block(px, py, sx, sy, sid, k)
    finally:
        knn_mod._TOPK_BLOCK_BYTES = save
    for a, b in zip(ch, dn):
        np.testing.assert_array_equal(a, b)


def test_within_distance_matches_bruteforce(spark):
    sites = synth.sites(spark, 200)
    ids = np.arange(800)
    _, lat, lon = synth.doc_coords(ids)
    pts = spark.createDataFrame(
        [(int(i), float(lat[i]), float(lon[i])) for i in ids],
        "point_id long, lat double, lon double",
    )
    d = 2.5
    out = knn.within_distance(pts, sites, d, res=6).collect()
    got = {(r["point_id"], r["site_id"]): r["dist"] for r in out}
    assert len(out) == len(got)  # no pair repeats
    rows = synth._site_rows(200)
    sx = np.array([r[2] for r in rows])
    sy = np.array([r[3] for r in rows])
    sid = np.array([r[0] for r in rows])
    want = {}
    for i in ids:
        d2 = (lon[i] - sx) ** 2 + (lat[i] - sy) ** 2
        for j in np.nonzero(d2 <= d * d)[0]:
            want[(int(i), int(sid[j]))] = np.sqrt(d2[j])
    assert set(got) == set(want)
    for kk, v in want.items():
        assert got[kk] == pytest.approx(v, rel=1e-12)


def test_knn_grid_exact_matches_broadcast(spark):
    """Single-pass exact grid kNN (per-cell domination pruning) is
    bit-identical to brute force for every point — including clustered
    sites, k > cell occupancy, and points in empty cells — and its
    executed plan has no Python node."""
    sites = synth.sites(spark, 64)
    ids = np.arange(800)
    _, lat, lon = synth.doc_coords(ids)
    pts = spark.createDataFrame(
        [(int(i), float(lat[i]), float(lon[i])) for i in ids],
        "point_id long, lat double, lon double",
    )
    want = _brute(sites, ids, lon, lat, 3)
    assert len(want) == 800 * 3
    for res in (2, 4, 6):
        ex = knn.knn_join_grid_exact(pts, sites, k=3, res=res)
        plan = ex._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan  # fully JVM-side
        rows = ex.collect()
        assert len(rows) == 800 * 3 and _got(rows) == want


def test_knn_grid_exact_points_outside_their_cell(spark):
    """Points the encoder wraps (lon 250) or clamps (lat 120) into a
    cell lie outside its rectangle, where the per-cell pruning proves
    nothing: they get their true nearest sites, as the brute force and
    the broadcast plan do.  Points with a null or NaN coordinate get
    no neighbors in either plan."""
    sites = spark.createDataFrame(
        [(1, 175.0, 80.0), (2, 179.9, 60.0), (3, 90.0, 10.0),
         (4, 60.0, 85.0), (5, 0.0, 50.0)],
        "site_id long, x double, y double")
    nan = float("nan")
    rows = [(0, 80.0, 250.0), (1, 120.0, 0.0), (2, 20.0, 10.0), (3, nan, 10.0),
            (4, 10.0, nan), (5, None, 3.0), (6, 4.0, None)]
    pts = spark.createDataFrame(rows, "point_id long, lat double, lon double")
    pid = np.array([r[0] for r in rows])
    py, px = (np.array([r[c] for r in rows], dtype=np.float64) for c in (1, 2))
    for k in (1, 2):
        want = _brute(sites, pid, px, py, k)
        assert want[(0, 1)][0] == 2 and want[(1, 1)][0] == 4
        assert {p for p, _ in want} == {0, 1, 2}
        assert _got(knn.knn_join_grid_exact(pts, sites, k=k, res=5).collect()) == want
        assert _got(knn.knn_join_cells(pts, sites, k=k, res=5,
                                       point_cols=["point_id"]).collect()) == want


def test_within_distance_across_the_antimeridian(spark):
    """The range join finds the pairs the brute force finds for points
    and sites at, beyond and around lon ±180, whose cells wrap."""
    edge = [180.0, float(np.nextafter(180.0, 0.0)), float(np.nextafter(180.0, np.inf)),
            180.0 + 1e-9, -180.0, 179.5, -179.5, 180.7, -180.7, 181.9, 178.2]
    rng = np.random.default_rng(4)
    sxy = [(int(i), x, float(y)) for i, (x, y) in
           enumerate(zip(edge, rng.uniform(-3, 3, len(edge))))]
    sites = spark.createDataFrame(sxy, "site_id long, x double, y double")
    px = np.concatenate([edge, rng.uniform(177, 183, 40)])
    py = rng.uniform(-3, 3, len(px))
    pts = spark.createDataFrame(
        [(i, float(b), float(a)) for i, (a, b) in enumerate(zip(px, py))],
        "point_id long, lat double, lon double")
    d = 2.0
    rows = knn.within_distance(pts, sites, d, res=6).collect()
    got = {(r["point_id"], r["site_id"]): r["dist"] for r in rows}
    assert len(rows) == len(got)  # no pair repeats
    want = {}
    for i in range(len(px)):
        for j, x, y in sxy:
            d2 = (px[i] - x) ** 2 + (py[i] - y) ** 2
            if d2 <= d * d:
                want[(i, j)] = float(np.sqrt(d2))
    assert len(want) > len(px) and got == want


def test_within_distance_one_row_per_pair(spark):
    """A radius wider than the grid (2·rx+1 > 2^res columns) still
    gives each pair one row."""
    pts = spark.createDataFrame([(1, 10.0, 10.0)],
                                "point_id long, lat double, lon double")
    sites = spark.createDataFrame([(7, 12.0, 11.0)], "site_id long, x double, y double")
    rows = knn.within_distance(pts, sites, 200.0, res=1).collect()
    assert [tuple(r) for r in rows] == [(1, 7, float(np.sqrt(5.0)))]
    with pytest.raises(ValueError):
        knn.within_distance(pts, sites, -1.0)


def _plan_tree(df):
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    return plan


def _kids(node):
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _subtree(node):
    return [node] + [m for c in _kids(node) for m in _subtree(c)]


def test_within_distance_wide_radius_plan_constant_in_d(spark, tmp_path):
    """At res 3 a radius of 500° wraps every column and clamps every
    row, and the join still equals the brute force.  The neighborhood
    is data, not plan: the executed plan is as long at d=30 as at d=3,
    and the point stream has no ``Generate``."""
    rng = np.random.default_rng(7)
    sxy = [(int(i), float(rng.uniform(-200, 200)), float(rng.uniform(-95, 95)))
           for i in range(6)]
    pxy = [(int(i), float(rng.uniform(-100, 100)), float(rng.uniform(-250, 250)))
           for i in range(30)]
    sites = spark.createDataFrame(sxy, "site_id long, x double, y double")
    pts = spark.createDataFrame(pxy, "point_id long, lat double, lon double")
    d = 500.0
    rows = knn.within_distance(pts, sites, d, res=3).collect()
    got = {(r["point_id"], r["site_id"]): r["dist"] for r in rows}
    want = {}
    for i, lat, lon in pxy:
        for j, x, y in sxy:
            d2 = (lon - x) ** 2 + (lat - y) ** 2
            if d2 <= d * d:
                want[(i, j)] = float(np.sqrt(d2))
    assert len(rows) == len(got) == len(pxy) * len(sxy) and got == want

    path = str(tmp_path / "pts")
    pts.write.parquet(path)
    lens = []
    for d in (3.0, 30.0):
        plan = _plan_tree(knn.within_distance(spark.read.parquet(path),
                                              synth.sites(spark, 64), d, res=6))
        # expression ids gain digits as the session ages: not plan size
        lens.append(len(re.sub(r"#\d+L?|plan_id=\d+", "", plan.toString())))
        node = plan
        while "Join" not in node.nodeName():
            (node,) = _kids(node)
        (points,) = [c for c in _kids(node)
                     if any("Scan parquet" in n.toString() for n in _subtree(c))]
        assert not any("Generate" in n.nodeName() for n in _subtree(points))
    assert abs(lens[1] - lens[0]) <= 0.01 * lens[0]


def test_knn_grid_exact_k_exceeds_sites(spark):
    """k larger than the site count degrades to |sites| rows/point."""
    sites = synth.sites(spark, 5)
    pts = spark.createDataFrame(
        [(1, 10.0, 20.0), (2, -45.0, 170.0)],
        "point_id long, lat double, lon double",
    )
    rows = knn.knn_join_grid_exact(pts, sites, k=9, res=3).collect()
    assert len(rows) == 2 * 5


# ---------------------------------------------------------------------------
# SiteGrid kernel (span top-k fold + exact edge bound) against brute force
# ---------------------------------------------------------------------------


def _assert_grid_matches_brute(rows, px, py, k, res):
    """SiteGrid.query_batch must return exactly what the brute-force
    _topk_block returns: same (point, site_id, rank) and bit-equal dist."""
    px, py = np.asarray(px, np.float64), np.asarray(py, np.float64)
    got = SiteGrid(rows, res=res).query_batch(px, py, k)
    sid = np.array([r[0] for r in rows], np.int64)
    sx = np.array([r[1] for r in rows], np.float64)
    sy = np.array([r[2] for r in rows], np.float64)
    want = knn._topk_block(px, py, sx, sy, sid, k)
    for name, a, b in zip(("point", "site_id", "rank", "dist"), got, want):
        np.testing.assert_array_equal(a, b, err_msg=name)
    return got


@pytest.mark.parametrize("res", [3, 6])
def test_sitegrid_exact_ties_lower_site_id_wins(res):
    """Sites at exactly equal distance (mirror images, within one cell
    and across cell borders) rank by site_id; ids are listed out of
    order and include negatives."""
    px = np.array([0.5, 10.0, -33.75, 100.0])
    py = np.array([0.5, 20.0, 11.25, -40.0])
    rows = []
    sid = 50
    for x, y in zip(px, py):
        for d in (0.25, 1.0, 4.0, 30.0):
            for ddx, ddy in ((d, 0.0), (-d, 0.0), (0.0, d), (0.0, -d)):
                rows.append((sid, x + ddx, y + ddy))
                sid -= 7
    rows = rows[::-1]
    for k in (1, 2, 3, 5, 9):
        _assert_grid_matches_brute(rows, px, py, k, res)
    pi, si, rk, _ = SiteGrid(rows, res=res).query_batch(px[:1], py[:1], 2)
    tied = sorted(s for s, x, y in rows if (x, y) in
                  ((0.75, 0.5), (0.25, 0.5), (0.5, 0.75), (0.5, 0.25)))
    assert si.tolist() == tied[:2]


@pytest.mark.parametrize("res", [3, 6])
def test_sitegrid_points_on_cell_edges(res):
    n = 1 << res
    cw, ch = 360.0 / n, 180.0 / n
    rng = np.random.default_rng(5)
    rows = [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
        zip(rng.uniform(-180, 180, 300), rng.uniform(-80, 80, 300)))]
    gx = np.arange(n) * cw - 180.0
    gy = np.arange(1, n) * ch - 90.0
    px = np.concatenate([gx, np.full(len(gy), 12.0 * cw - 180.0), gx[::3]])
    py = np.concatenate([np.full(n, gy[n // 2]), gy, gy[: len(gx[::3])]])
    _assert_grid_matches_brute(rows, px, py, 3, res)


@pytest.mark.parametrize("axis", ["x", "y"])
def test_sitegrid_block_edge_quantization_margin(axis):
    """Site B lies a few ulps inside the point's cell, but float
    quantization puts it in the next cell; site A lies inside the cell
    and is farther than B but nearer than the cell edge.  Without the
    quantization margin the point would stop after ring 0 on A."""
    res = 6
    edge = 5.625 if axis == "x" else 2.8125  # right/top edge of the cell
    b = np.nextafter(edge, -np.inf)
    p, a = edge - 1.0, np.nextafter(edge - 2.0, np.inf)
    px, py = (p, 1.40625) if axis == "x" else (2.8125, p)
    ax, ay = (a, py) if axis == "x" else (px, a)
    bx, by = (b, py) if axis == "x" else (px, b)
    # the construction's premises: B quantizes across the edge, and
    # d(B) < d(A) < distance to the edge
    pi_, pj = cells.latlon_to_ij(np.array([py]), np.array([px]), res)
    bi, bj = cells.latlon_to_ij(np.array([by]), np.array([bx]), res)
    assert (bi - pi_, bj - pj) == ((1, 0) if axis == "x" else (0, 1))
    d2a = (px - ax) ** 2 + (py - ay) ** 2
    d2b = (px - bx) ** 2 + (py - by) ** 2
    assert d2b < d2a < 1.0
    rows = [(1, ax, ay), (2, bx, by), (3, -120.0, -50.0), (4, 150.0, 60.0)]
    pi, si, rk, d = _assert_grid_matches_brute(rows, [px], [py], 1, res)
    assert si.tolist() == [2]


@pytest.mark.parametrize("res", [3, 6])
def test_sitegrid_antimeridian(res):
    """Planar distance does not wrap, but the grid's lon axis does;
    a site beyond +180 wraps into column 0."""
    near = [179.99, -179.99, 180.0 - 1e-12, -180.0, 179.0, -179.5]
    px = np.array(near + [0.0, 90.0])
    py = np.array([10.0, 10.0, -5.0, 0.0, 45.0, -45.0, 0.0, 30.0])
    base = [(10, 179.9, 10.0), (11, -179.9, 10.0), (12, 178.0, -5.0),
            (13, -178.0, 0.0), (14, 170.0, 40.0), (15, -170.0, -40.0),
            (16, 0.0, 60.0), (17, 90.0, -60.0)]
    wrapped = base + [(18, 180.0 + 1e-9, 9.0)]
    assert cells.latlon_to_ij(np.array([9.0]), np.array([wrapped[-1][1]]),
                              res)[0][0] == 0
    assert SiteGrid(base, res=res).x_edges_ok
    assert not SiteGrid(wrapped, res=res).x_edges_ok
    for rows in (base, wrapped):
        for k in (1, 3):
            _assert_grid_matches_brute(rows, px, py, k, res)
    # the wrapped site (column 0, distance 1.0) beats the one in the
    # point's own last-column cell (distance 1.2): trusting the lon
    # edges here would stop after ring 0 on the wrong site
    yc = 90.0 / (1 << res)  # center of the first row north of 0°
    rows = [(1, 177.8, yc), (2, 180.0 + 1e-9, yc),
            (3, -100.0, -70.0)]
    pi, si, rk, d = _assert_grid_matches_brute(rows, [179.0], [yc], 1, res)
    assert si.tolist() == [2]


@pytest.mark.parametrize("res", [3, 6])
def test_sitegrid_empty_cells_and_k_beyond_sites(res):
    """Five sites leave most cells empty; k above |sites| returns every
    site once per point, ranked."""
    rows = [(5, -150.0, 70.0), (3, 120.0, -60.0), (9, 0.1, 0.1),
            (1, 60.0, 30.0), (7, -60.0, -30.0)]
    rng = np.random.default_rng(9)
    px, py = rng.uniform(-180, 180, 200), rng.uniform(-90, 90, 200)
    for k in (1, 4, 5, 9):
        pi, si, rk, d = _assert_grid_matches_brute(rows, px, py, k, res)
        assert len(si) == 200 * min(k, 5)
    assert len(SiteGrid([], res=res).query_batch(px, py, 3)[0]) == 0


def test_sitegrid_nan_coordinates_never_rank():
    """A NaN point gets no neighbors and a NaN site is never one; the
    other points' answers are unchanged."""
    rows = [(1, 10.0, 10.0), (2, np.nan, 11.0), (3, 12.0, 12.0),
            (4, -50.0, -20.0)]
    px, py = np.array([10.5, np.nan, -49.0]), np.array([10.5, 5.0, -21.0])
    pi, si, rk, d = SiteGrid(rows, res=6).query_batch(px, py, 3)
    assert pi.tolist() == [0, 0, 0, 2, 2, 2]
    assert si.tolist() == [1, 3, 4, 4, 1, 3]
    finite = [r for r in rows if r[0] != 2]
    _assert_grid_matches_brute(finite, px[[0, 2]], py[[0, 2]], 3, 6)


@pytest.mark.parametrize("metric", ["planar", "haversine"])
def test_topk_block_nan_never_ranks(metric):
    """The brute force drops NaN distances as SiteGrid does: no row for
    a NaN point, no NaN site as a neighbor, no sentinel site id."""
    rows = [(1, 10.0, 10.0), (2, np.nan, 11.0), (3, 12.0, 12.0),
            (4, -50.0, -20.0)]
    sid = np.array([r[0] for r in rows], np.int64)
    sx = np.array([r[1] for r in rows])
    sy = np.array([r[2] for r in rows])
    px, py = np.array([10.5, np.nan, -49.0]), np.array([10.5, 5.0, -21.0])
    pi, si, rk, d = knn._topk_block(px, py, sx, sy, sid, 4, metric)
    assert pi.tolist() == [0, 0, 0, 2, 2, 2]
    assert si.tolist() == [1, 3, 4, 4, 1, 3]
    assert rk.tolist() == [1, 2, 3, 1, 2, 3] and np.isfinite(d).all()
    if metric == "planar":
        _assert_grid_matches_brute(rows, px, py, 4, 6)


@pytest.mark.parametrize("res", [3, 6])
def test_sitegrid_workload_points_match_bruteforce(res):
    rows = [(r[0], r[2], r[3]) for r in synth._site_rows(2000)]
    _, lat, lon = synth.doc_coords(np.arange(40_000, 43_000))
    _assert_grid_matches_brute(rows, lon, lat, 3, res)


@pytest.mark.parametrize("metric", ["planar", "haversine"])
def test_knn_cells_plan_is_arrow_native(spark, metric):
    sites = synth.sites(spark, 20)
    pts = spark.createDataFrame([("u", 1.0, 2.0)],
                                "url string, lat double, lon double")
    df = knn.knn_join_cells(pts, sites, k=2, point_cols=["url"], metric=metric)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "MapInPandas" not in plan
    assert [r["url"] for r in df.collect()] == ["u", "u"]


def test_knn_grid_exact_one_point_shuffle(spark, tmp_path):
    """With broadcast joins off (a point stream too large to broadcast)
    the point stream is shuffled exactly once, on its cell: the
    ``(__cell, point_id)`` top-k window reuses that distribution."""
    path = str(tmp_path / "pts")
    _, lat, lon = synth.doc_coords(np.arange(2000))
    spark.createDataFrame(
        [(int(i), float(lat[i]), float(lon[i])) for i in range(2000)],
        "point_id long, lat double, lon double",
    ).write.parquet(path)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan_tree(knn.knn_join_grid_exact(spark.read.parquet(path),
                                                  synth.sites(spark, 64), k=3, res=5))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # root → the point/site join is a chain of one-child nodes; the
    # join's left child is the point stream
    above, node = [], plan
    while "Join" not in node.nodeName():
        above.append(node)
        (node,) = _kids(node)
    points = _subtree(_kids(node)[0])
    assert any("Scan parquet" in n.toString() for n in points)
    ex_nodes = [n for n in above + points if "Exchange" in n.nodeName()]
    assert len(ex_nodes) == 1
    assert ex_nodes[0].toString().startswith("Exchange hashpartitioning(__cell")
