"""Vector operator tests — oracle is direct numpy computation of the
same semantics (the reference's kernels are shapely/numpy calls, so
oracle equality ⇒ reference parity; SURVEY.md §5.2)."""

import numpy as np
import pytest

from spapy_spark.geometry import kernels, wkb
from spapy_spark.operators import vector


@pytest.fixture(scope="module")
def layer(spark):
    rows = [
        (0, "sq", wkb.dumps(wkb.box(0, 0, 10, 10))),
        (1, "tri", wkb.dumps(wkb.polygon([[0, 0], [4, 0], [2, 3]]))),
        (2, "mp", wkb.dumps({
            "type": "MultiPolygon",
            "coordinates": [
                wkb.box(20, 20, 22, 22)["coordinates"],
                wkb.box(30, 30, 33, 33)["coordinates"],
            ],
        })),
        (3, "line", wkb.dumps({
            "type": "LineString",
            "coordinates": np.array([[0.0, 0.0], [3.0, 4.0], [6.0, 0.0]]),
        })),
    ]
    return spark.createDataFrame(rows, "fid long, name string, geometry binary")


def test_attribute_ops(spark, layer):
    assert vector.select_equal(layer, "name", "sq").count() == 1
    assert vector.select_greater(layer, "fid", 1).count() == 2
    df = vector.add_attribute(layer, "z", 7)
    assert df.select("z").first()[0] == 7
    assert "z" not in vector.delete_attribute(df, "z").columns


def test_area_length_bounds(spark, layer):
    rows = {r["fid"]: r for r in vector.with_area(layer).collect()}
    assert rows[0]["area"] == pytest.approx(100.0)
    assert rows[1]["area"] == pytest.approx(6.0)
    assert rows[2]["area"] == pytest.approx(4.0 + 9.0)
    assert rows[3]["area"] == 0.0
    lr = {r["fid"]: r for r in vector.with_length(layer).collect()}
    assert lr[3]["length"] == pytest.approx(10.0)  # two 3-4-5 legs
    assert vector.layer_bounds(layer) == (0.0, 0.0, 33.0, 33.0)


def test_centroid(spark, layer):
    out = {r["fid"]: wkb.loads(bytes(r["geometry"]))
           for r in vector.centroid(layer).collect()}
    assert out[0]["type"] == "Point"
    np.testing.assert_allclose(out[0]["coordinates"], [5.0, 5.0])
    np.testing.assert_allclose(out[1]["coordinates"], [2.0, 1.0])


def test_split_features(spark, layer):
    out = vector.split_features(layer).collect()
    # multipolygon row 2 splits into two Polygons; others unchanged
    assert len(out) == 5
    fids = sorted(r["fid"] for r in out)
    assert fids == [0, 1, 2, 2, 3]
    for r in out:
        g = wkb.loads(bytes(r["geometry"]))
        assert not g["type"].startswith("Multi")


def test_clip_bbox(spark, layer):
    out = {r["fid"]: wkb.loads(bytes(r["geometry"]))
           for r in vector.clip_bbox(layer, 5, 5, 40, 40).collect()}
    # square clipped to quarter
    assert kernels.geom_area(out[0]) == pytest.approx(25.0)
    # triangle entirely below y=5 except tip — clipped away (area 0 → kept
    # only if ring survives); tri max y = 3 < 5 → dropped
    assert 1 not in out
    # both multipolygon parts inside → unchanged area
    assert kernels.geom_area(out[2]) == pytest.approx(13.0)


def test_simplify_densify_roundtrip(spark, layer):
    dense = vector.densify(layer, 0.5)
    for r in dense.collect():
        g = wkb.loads(bytes(r["geometry"]))
        for arr in kernels._leaf_arrays(g):
            if len(arr) > 1:
                seg = np.sqrt(((arr[1:] - arr[:-1]) ** 2).sum(axis=1))
                assert (seg <= 0.5 + 1e-9).all()
    simp = vector.simplify(dense, 0.01)
    areas = {r["fid"]: r["area"] for r in vector.with_area(simp).collect()}
    assert areas[0] == pytest.approx(100.0, rel=1e-6)


def test_simplify_preserve_topology(spark):
    # huge tolerance: naive DP collapses the square's ring to a
    # degenerate 3-point line; preserve_topology must keep a valid
    # polygon (the original), matching the GEOS TPS validity contract
    sq = wkb.box(0.0, 0.0, 1.0, 1.0)
    layer = spark.createDataFrame(
        [(0, wkb.dumps(sq))], "fid long, geometry binary"
    )
    keep = vector.simplify(layer, 100.0, preserve_topology=True).collect()
    g = wkb.loads(bytes(keep[0]["geometry"]))
    assert kernels.geom_area(g) == pytest.approx(1.0)
    raw = vector.simplify(layer, 100.0, preserve_topology=False).collect()
    g2 = wkb.loads(bytes(raw[0]["geometry"]))
    assert kernels.geom_area(g2) < 1.0  # collapsed, as plain DP does


def test_buffer_point(spark):
    pts = spark.createDataFrame(
        [(0, wkb.dumps(wkb.point(5.0, 5.0)))], "fid long, geometry binary"
    )
    out = vector.buffer(pts, 2.0).collect()
    g = wkb.loads(bytes(out[0]["geometry"]))
    assert g["type"] == "MultiPolygon"
    # 64-gon area ≈ πr²
    assert kernels.geom_area(g) == pytest.approx(np.pi * 4, rel=0.01)


def test_buffer_drops_null_geometry(spark):
    """A null geometry is dropped like any feature without a buffer; the
    batch decoder marks it undecodable instead of failing the task."""
    df = spark.createDataFrame(
        [(0, wkb.dumps(wkb.box(0, 0, 1, 1))), (1, None)],
        "fid long, geometry binary")
    assert vector.buffer(df, 0.5).count() == 1
    ok, _, _ = wkb.decode_convex_rings([wkb.dumps(wkb.box(0, 0, 1, 1)), None])
    assert ok.tolist() == [True, False]


def test_convex_hull(spark, layer):
    out = {r["fid"]: wkb.loads(bytes(r["geometry"]))
           for r in vector.convex_hull(layer).collect()}
    assert kernels.geom_area(out[0]) == pytest.approx(100.0)
    # hull of the two-box multipolygon spans both boxes
    assert kernels.geom_area(out[2]) > 13.0
