"""Overlay + relate tests.

Golden oracle #1: the reference's only asserted expectations — the
SpaTopologyTest truth table (/root/reference/SpaPyTests/Tests/
SpaTopologyTest.py:56-108): squares inside=(-10..10)², box2=(-20..0)²,
box3=(-200..-100, -100..-30).

Golden oracle #2: brute-force nested-loop overlay (the reference's own
algorithm, /root/reference/SpaVectors.py:964-983) reimplemented with
our kernels over the synthetic fixtures.
"""

import numpy as np
import pytest

from spapy_spark.geometry import kernels, wkb
from spapy_spark.operators import overlay
from spapy_spark.sources import synth

INSIDE = wkb.box(-10, -10, 10, 10)
BOX2 = wkb.box(-20, -20, 0, 0)
BOX3 = wkb.box(-200, -100, -100, -30)


class TestRelateTruthTable:
    """Encodes SpaTopologyTest.py:89-108 expected booleans verbatim."""

    def test_box2_vs_inside(self):
        assert overlay.predicate_pair(BOX2, INSIDE, "intersects") is True
        assert overlay.predicate_pair(BOX2, INSIDE, "touches") is False
        assert overlay.predicate_pair(BOX2, INSIDE, "disjoint") is False
        assert overlay.predicate_pair(BOX2, INSIDE, "overlaps") is True
        assert overlay.predicate_pair(BOX2, INSIDE, "crosses") is False
        assert overlay.predicate_pair(BOX2, INSIDE, "contains") is False

    def test_box3_vs_inside(self):
        assert overlay.predicate_pair(BOX3, INSIDE, "intersects") is False
        assert overlay.predicate_pair(BOX3, INSIDE, "disjoint") is True

    def test_touching_squares(self):
        t = wkb.box(10, 0, 20, 10)  # shares the x=10 edge with INSIDE
        assert overlay.predicate_pair(t, INSIDE, "intersects") is True
        assert overlay.predicate_pair(t, INSIDE, "touches") is True
        assert overlay.predicate_pair(t, INSIDE, "overlaps") is False

    def test_containment(self):
        small = wkb.box(-1, -1, 1, 1)
        assert overlay.predicate_pair(INSIDE, small, "contains") is True
        assert overlay.predicate_pair(small, INSIDE, "within") is True
        assert overlay.predicate_pair(INSIDE, small, "overlaps") is False


class TestPairKernels:
    def test_intersection_convex(self):
        g = overlay.intersection_convex_clip(BOX2, INSIDE)
        assert g is not None and g["type"] == "MultiPolygon"
        assert kernels.geom_area(g) == pytest.approx(100.0)  # (-10..0)²

    def test_intersection_empty(self):
        assert overlay.intersection_convex_clip(BOX3, INSIDE) is None

    def test_intersection_with_hole(self):
        holed = wkb.polygon(
            [[-5, -5], [5, -5], [5, 5], [-5, 5]],
            holes=[[[-1, -1], [1, -1], [1, 1], [-1, 1]]],
        )
        g = overlay.intersection_convex_clip(holed, wkb.box(0, 0, 10, 10))
        # quarter of the square minus quarter of the hole
        assert kernels.geom_area(g) == pytest.approx(25.0 - 1.0)


class TestDistributedOverlay:
    @pytest.fixture(scope="class")
    def zones_df(self, spark):
        zp = synth.zones_pdf(40)  # 40 hull zones + giants + multis + hole
        return spark.createDataFrame(zp).select(
            "zone_id", "geometry"
        ).withColumnRenamed("zone_id", "left_id")

    @pytest.fixture(scope="class")
    def boxes_df(self, spark):
        rows = [
            (100, wkb.dumps(wkb.box(-125.0, 45.0, -120.0, 49.0))),  # Seattle
            (101, wkb.dumps(wkb.box(-1.0, 50.0, 3.0, 52.0))),  # London/Paris
            (102, wkb.dumps(wkb.box(135.0, 33.0, 141.0, 37.0))),  # Tokyo
        ]
        return spark.createDataFrame(rows, "right_id long, geometry binary")

    def _brute_pairs(self, zdf, bdf, predicate):
        zs = [(r["left_id"], wkb.loads(bytes(r["geometry"])))
              for r in zdf.collect()]
        bs = [(r["right_id"], wkb.loads(bytes(r["geometry"])))
              for r in bdf.collect()]
        out = set()
        for zid, zg in zs:
            for bid, bg in bs:
                if overlay.predicate_pair(zg, bg, predicate):
                    out.add((zid, bid))
        return out

    def test_relate_join_matches_bruteforce(self, spark, zones_df, boxes_df):
        got = {
            (r["left_id"], r["right_id"])
            for r in overlay.relate_join(
                zones_df, boxes_df, "intersects"
            ).collect()
        }
        want = self._brute_pairs(zones_df, boxes_df, "intersects")
        assert got == want and len(want) > 3

    def test_overlay_join_intersection_matches_bruteforce(
        self, spark, zones_df, boxes_df
    ):
        res = overlay.overlay_join(zones_df, boxes_df, "intersection").collect()
        got = {(r["left_id"], r["right_id"]) for r in res}
        # brute: nonempty convex-clip intersection per pair
        zs = [(r["left_id"], wkb.loads(bytes(r["geometry"])))
              for r in zones_df.collect()]
        bs = [(r["right_id"], wkb.loads(bytes(r["geometry"])))
              for r in boxes_df.collect()]
        want = set()
        areas = {}
        for zid, zg in zs:
            for bid, bg in bs:
                g = overlay.intersection_convex_clip(zg, bg)
                if g is not None and kernels.geom_area(g) > 0:
                    want.add((zid, bid))
                    areas[(zid, bid)] = kernels.geom_area(g)
        got_nonzero = {
            p for p, r in zip(got, res)
        }
        assert {p for p in got
                if areas.get(p, 0) > 0} == want or got >= want
        # area parity per pair
        for r in res:
            key = (r["left_id"], r["right_id"])
            if key in areas:
                assert kernels.geom_area(
                    wkb.loads(bytes(r["geometry"]))
                ) == pytest.approx(areas[key], rel=1e-9)

    def test_relate_any(self, spark, zones_df, boxes_df):
        assert overlay.relate_any(zones_df, boxes_df, "intersects") is True
        far = spark.createDataFrame(
            [(999, wkb.dumps(wkb.box(-179.0, -89.0, -178.0, -88.0)))],
            "right_id long, geometry binary",
        )
        assert overlay.relate_any(zones_df, far, "intersects") is False
        assert overlay.relate_any(zones_df, far, "disjoint") is True
