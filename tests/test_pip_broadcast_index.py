"""Broadcast PIP: the content-keyed per-worker ZoneIndex cache and
``pip_count_by_zone`` over arbitrary zone ids, against the brute-force
``kernels.points_covered_by`` oracle."""

import numpy as np
import pytest

from spapy_spark.geometry import kernels, wkb
from spapy_spark.operators import pip

TRIANGLE = [[3.0, 3.0], [10.0, 3.0], [6.0, 9.0], [3.0, 3.0]]


def _zones(spark, ids, triangle=TRIANGLE):
    geoms = [wkb.box(0.0, 0.0, 4.0, 4.0), wkb.polygon(triangle),
             wkb.box(5.0, -1.0, 11.0, 2.0)]
    return spark.createDataFrame(
        [(int(z), wkb.dumps(g)) for z, g in zip(ids, geoms)],
        "zone_id long, geometry binary",
    )


@pytest.fixture(scope="module")
def grid():
    # quarter-unit grid: many points sit exactly on zone edges
    gx, gy = np.meshgrid(np.arange(-1.0, 12.0, 0.25), np.arange(-2.0, 10.0, 0.25))
    return gx.ravel(), gy.ravel()


@pytest.fixture(scope="module")
def points(spark, grid):
    px, py = grid
    return spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(zip(px, py))],
        "point_id long, lon double, lat double",
    ).repartition(16)


def brute_counts(zdf, grid):
    px, py = grid
    out = {}
    for r in zdf.collect():
        hit = np.zeros(len(px), dtype=bool)
        for rings in wkb.polygons_of(wkb.loads(bytes(r["geometry"]))):
            hit |= kernels.points_covered_by(px, py, rings)
        if hit.any():
            out[int(r["zone_id"])] = int(hit.sum())
    return out


def counts(df):
    return {int(r["zone_id"]): int(r["n_docs"]) for r in df.collect()}


def test_count_by_zone_negative_and_huge_ids(spark, points, grid):
    zdf = _zones(spark, [-7, 0, 2**40 + 1])
    got = counts(pip.pip_count_by_zone(points, zdf))
    pairs = pip.pip_join_broadcast(points, zdf, point_cols=["point_id"])
    want = {int(r["zone_id"]): int(r["count"])
            for r in pairs.groupBy("zone_id").count().collect()}
    assert got == want == brute_counts(zdf, grid)
    assert set(got) == {-7, 0, 2**40 + 1}


def _cache_report(spark, zone_ids, n_tasks=32):
    """(pid, len(_INDEX_CACHE), cached indexes over ``zone_ids``) from
    the Python workers; ``n_tasks`` cycles through the idle-worker pool."""
    ids = [int(z) for z in zone_ids]

    def report(batches):
        import os

        import pyarrow as pa

        from spapy_spark.operators import pip as worker_pip

        for _ in batches:
            pass
        cache = worker_pip._INDEX_CACHE
        # the cache also holds knn's SiteGrids
        same = sum(isinstance(idx, worker_pip.ZoneIndex)
                   and list(idx.zone_ids) == ids for idx in cache.values())
        yield pa.RecordBatch.from_arrays(
            [pa.array([os.getpid()]), pa.array([len(cache)]), pa.array([same])],
            ["pid", "n", "same"])

    rows = spark.range(n_tasks, numPartitions=n_tasks).mapInArrow(
        report, "pid long, n long, same long").collect()
    return {r["pid"]: (r["n"], r["same"]) for r in rows}


def test_repeat_calls_build_one_index_per_worker(spark, points, grid):
    # ids no other test uses, so only this test's calls can cache them
    ids = [901_001, 901_002, 901_003]
    zdf = _zones(spark, ids)
    want = brute_counts(zdf, grid)
    for _ in range(2):
        assert counts(pip.pip_count_by_zone(points, zdf)) == want
    assert set(pip.pip_join_broadcast(
        points, zdf, point_cols=["point_id"]).toPandas()["zone_id"]) == set(ids)
    rep = _cache_report(spark, ids)
    assert max(same for _, same in rep.values()) == 1, rep
    assert all(n <= pip._INDEX_CACHE_MAX for n, _ in rep.values()), rep


def test_token_follows_zone_content_and_res(spark, points, grid):
    ids = [902_001, 902_002, 902_003]
    zdf = _zones(spark, ids)
    # one vertex of one zone moved
    moved = _zones(spark, ids, [[3.0, 3.0], [10.0, 3.0], [8.0, 6.0], [3.0, 3.0]])
    tok = pip._broadcast_zones(zdf, "zone_id", "geometry", None)[0]
    assert pip._broadcast_zones(zdf, "zone_id", "geometry", None)[0] == tok
    assert pip._broadcast_zones(moved, "zone_id", "geometry", None)[0] != tok
    assert pip._broadcast_zones(zdf, "zone_id", "geometry", 7)[0] != tok
    # every build parameter is in the token (the cell join's 4096 cap)
    assert pip._broadcast_zones(zdf, "zone_id", "geometry", None, 4096)[0] != tok
    assert brute_counts(moved, grid) != brute_counts(zdf, grid)
    # each call after a warm cache must see its own zones
    for z, res in ((zdf, None), (moved, None), (zdf, None), (zdf, 7), (moved, 7)):
        assert counts(pip.pip_count_by_zone(points, z, res=res)) == \
            brute_counts(z, grid)
