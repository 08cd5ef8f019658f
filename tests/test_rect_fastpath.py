"""Vectorized axis-aligned-rectangle fast path (operators/overlay.py,
geometry/wkb.py): the whole-batch decode/predicate/encode helpers must
agree bit-for-bit with the per-pair dict-geometry kernels they
shortcut."""

import numpy as np
import pytest

from spapy_spark.geometry import kernels, wkb
from spapy_spark.operators import overlay


def _rand_rects(n, rng):
    x0 = rng.integers(-1000, 1000, n) / 64.0
    y0 = rng.integers(-1000, 1000, n) / 64.0
    w = rng.integers(1, 300, n) / 64.0
    h = rng.integers(1, 300, n) / 64.0
    return np.stack([x0, y0, x0 + w, y0 + h], axis=1)


def test_decode_roundtrip_and_rejects():
    rng = np.random.default_rng(7)
    rects = _rand_rects(50, rng)
    bufs = [wkb.dumps(wkb.box(*r)) for r in rects]
    # adversarial non-rects of the same byte length (93): rotated
    # 5-point ring, degenerate (zero-height), a ring that doubles back
    # with every vertex on a bbox corner; and a 1-part MultiPolygon
    tri_like = wkb.dumps({
        "type": "Polygon",
        "coordinates": [np.array(
            [[0, 0], [2, 1], [1, 3], [-1, 2], [0, 0]], dtype=np.float64
        )],
    })
    degen = wkb.dumps(wkb.box(0, 0, 5, 0))
    mp = wkb.dumps({"type": "MultiPolygon",
                    "coordinates": [[np.array(
                        [[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]],
                        dtype=np.float64)]]})
    back = wkb.dumps({"type": "Polygon", "coordinates": [np.array(
        [[0, 0], [8, 0], [0, 0], [0, 8], [0, 0]], dtype=np.float64)]})
    bufs += [tri_like, degen, mp, back]
    ok, out = wkb.rect_bounds(
        *wkb.decode_convex_rings(np.array(bufs, dtype=object)))
    assert ok[:50].all() and not ok[50:].any()
    np.testing.assert_array_equal(out[:50], rects)


def test_encode_mp_rings_of_box_corners_matches_wkb_dumps():
    rng = np.random.default_rng(3)
    rects = _rand_rects(20, rng)
    fast = wkb.encode_mp_rings(wkb.box_corners(rects), np.full(20, 4))
    for r, buf, poly in zip(rects, fast, wkb.dumps_boxes(rects)):
        slow = wkb.dumps({
            "type": "MultiPolygon",
            "coordinates": [[wkb.box(*r)["coordinates"][0]]],
        })
        assert buf == slow
        assert poly == wkb.dumps(wkb.box(*r))
    assert wkb.dumps_boxes(np.empty((0, 4))) == []


@pytest.mark.parametrize("predicate", [
    "intersects", "touches", "overlaps", "contains", "within", "disjoint",
])
def test_rect_predicates_match_pairwise_kernels(predicate):
    rng = np.random.default_rng(11)
    # dyadic coords with shared grid values → touching/containment
    # configurations occur with real frequency
    lr = _rand_rects(120, rng)
    rr = _rand_rects(120, rng)
    # force some exact-touch and containment cases
    rr[0] = [lr[0, 2], lr[0, 1], lr[0, 2] + 1, lr[0, 3]]     # edge touch
    rr[1] = [lr[1, 2], lr[1, 3], lr[1, 2] + 1, lr[1, 3] + 1]  # corner touch
    rr[2] = lr[2] + [0.125, 0.125, -0.125, -0.125]            # strict inside
    rr[3] = lr[3]                                             # equal
    rr[4] = [lr[4, 0], lr[4, 1], lr[4, 2] - 0.125, lr[4, 3]]  # inside, shared edge
    got = overlay.rect_predicates(lr, rr)[predicate]
    for i in range(len(lr)):
        g1 = {"type": "Polygon", "coordinates": [wkb.box(*lr[i])["coordinates"][0]]}
        g2 = {"type": "Polygon", "coordinates": [wkb.box(*rr[i])["coordinates"][0]]}
        want = overlay.predicate_pair(g1, g2, predicate)
        assert bool(got[i]) == want, (predicate, i, lr[i], rr[i])


def test_overlay_fast_path_area_matches_slow(spark):
    # same pairs through a rect-only layer (fast path) and through a
    # 6-vertex redundant-vertex encoding of the SAME shapes (slow
    # path): identical (id, area) sets
    rng = np.random.default_rng(5)
    lrects = _rand_rects(40, rng)
    rrects = _rand_rects(12, rng) * 0.5
    lrows = [(int(i), wkb.dumps(wkb.box(*r))) for i, r in enumerate(lrects)]

    def hexagonish(r):
        x0, y0, x1, y1 = r
        xm = (x0 + x1) / 2
        ring = np.array(
            [[x0, y0], [xm, y0], [x1, y0], [x1, y1], [xm, y1], [x0, y1],
             [x0, y0]], dtype=np.float64)
        return wkb.dumps({"type": "Polygon", "coordinates": [ring]})

    rrows_fast = [(int(j), wkb.dumps(wkb.box(*r))) for j, r in enumerate(rrects)]
    rrows_slow = [(int(j), hexagonish(r)) for j, r in enumerate(rrects)]
    left = spark.createDataFrame(lrows, "lid bigint, geometry binary")

    def run(rrows):
        right = spark.createDataFrame(rrows, "rid bigint, geometry binary")
        out = overlay.overlay_join(
            left, right, "intersection", res=5, left_id="lid", right_id="rid"
        ).collect()
        return {
            (r["lid"], r["rid"]): kernels.geom_area(wkb.loads(bytes(r["geometry"])))
            for r in out
        }

    fast, slow = run(rrows_fast), run(rrows_slow)
    assert set(fast) == set(slow)
    for k in fast:
        assert fast[k] == pytest.approx(slow[k], abs=1e-12)


def test_persisted_coverings_released(spark):
    # ADVICE r2: coverings persisted by _candidates must not accumulate
    # across queries in a long-lived session
    overlay.release_persisted()
    base = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    rng = np.random.default_rng(2)
    left = spark.createDataFrame(
        [(int(i), wkb.dumps(wkb.box(*r))) for i, r in
         enumerate(_rand_rects(50, rng))],
        "lid bigint, geometry binary")
    right = spark.createDataFrame(
        [(int(j), wkb.dumps(wkb.box(*r))) for j, r in
         enumerate(_rand_rects(8, rng))],
        "rid bigint, geometry binary")
    for _ in range(3):
        overlay.overlay_join(left, right, "intersection", res=5,
                             left_id="lid", right_id="rid").count()
    # each call releases the previous call's coverings: at most one
    # query's worth of cached datasets outstanding
    n_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert n_after - base <= 2
    overlay.release_persisted()
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() <= base


def _rand_convex(rng, n_pts=8, scale=5.0):
    """Random convex ring (hull of random points), closed, CCW."""
    from spapy_spark.geometry.kernels import convex_hull

    while True:
        pts = rng.uniform(-scale, scale, (n_pts, 2)) + rng.uniform(
            -20, 20, (1, 2))
        hull = convex_hull(pts)
        if len(hull) >= 4:  # closed ring with >= 3 distinct vertices
            return np.asarray(hull, dtype=np.float64)


def test_decode_convex_rings_accepts_and_rejects():
    rng = np.random.default_rng(0)
    rings = [_rand_convex(rng) for _ in range(30)]
    bufs = [wkb.dumps({"type": "Polygon", "coordinates": [r]})
            for r in rings]
    # concave 5-gon of the same byte family must be rejected
    concave = np.array([[0, 0], [4, 0], [4, 4], [2, 1], [0, 4], [0, 0]],
                       dtype=np.float64)
    bufs.append(wkb.dumps({"type": "Polygon", "coordinates": [concave]}))
    ok, pts, cnt = wkb.decode_convex_rings(np.array(bufs, dtype=object))
    assert ok[:30].all() and not ok[30]
    for i, r in enumerate(rings):
        np.testing.assert_array_equal(pts[i, :cnt[i]], r[:-1])


def test_clip_convex_batch_bit_identical_to_scalar():
    rng = np.random.default_rng(4)
    n = 300
    subs = [_rand_convex(rng, rng.integers(4, 10)) for _ in range(n)]
    clps = [_rand_convex(rng, rng.integers(4, 10)) for _ in range(n)]
    # force some CW clips (scalar auto-reverses; batch must match)
    clps = [c[::-1] if i % 3 == 0 else c for i, c in enumerate(clps)]
    M = 16
    sp = np.zeros((n, M, 2)); sc = np.zeros(n, np.int64)
    cp = np.zeros((n, M, 2)); cc = np.zeros(n, np.int64)
    for i in range(n):
        sp[i, :len(subs[i]) - 1] = subs[i][:-1]
        sc[i] = len(subs[i]) - 1
        cp[i, :len(clps[i]) - 1] = clps[i][:-1]
        cc[i] = len(clps[i]) - 1
    valid, out, ocnt = overlay.clip_convex_batch(sp, sc, cp, cc)
    n_nonempty = 0
    for i in range(n):
        want = kernels.clip_ring_convex(subs[i], clps[i])
        if want is None:
            assert not valid[i], i
            continue
        n_nonempty += 1
        assert valid[i], i
        got = np.vstack([out[i, :ocnt[i]], out[i, :1]])
        np.testing.assert_array_equal(got, want)
    assert n_nonempty > 15  # the fixture overlaps often enough to matter


def test_overlay_convex_fast_path_matches_slow(spark):
    # end-to-end: convex (non-rect) layers through overlay_join — the
    # batch path output must be BIT-identical to the per-pair kernel
    # (force the slow path by inflating max vertex counts via a hole-
    # free but >16-vertex encoding is awkward; instead compare against
    # driver-side per-pair clipping of the same candidate pairs)
    rng = np.random.default_rng(9)
    lrings = [_rand_convex(rng, 7) for _ in range(60)]
    rrings = [_rand_convex(rng, 6, scale=8.0) for _ in range(10)]
    left = spark.createDataFrame(
        [(i, wkb.dumps({"type": "Polygon", "coordinates": [r]}))
         for i, r in enumerate(lrings)], "lid bigint, geometry binary")
    right = spark.createDataFrame(
        [(j, wkb.dumps({"type": "Polygon", "coordinates": [r]}))
         for j, r in enumerate(rrings)], "rid bigint, geometry binary")
    out = overlay.overlay_join(left, right, "intersection", res=5,
                               left_id="lid", right_id="rid").collect()
    got = {(r["lid"], r["rid"]): bytes(r["geometry"]) for r in out}
    want = {}
    for i, lr_ in enumerate(lrings):
        for j, rr_ in enumerate(rrings):
            g = overlay.overlay_geom(
                {"type": "Polygon", "coordinates": [lr_]},
                {"type": "Polygon", "coordinates": [rr_]},
                "intersection")
            if g is not None:
                want[(i, j)] = wkb.dumps(g)
    assert got == want


def test_rect_buffer_fast_path_exact():
    # canonical rounded-rect boundary: area equals the closed form
    # (rect + P·r + full disc polygon) to ~1e-12 — tighter than the
    # slow union fold's ~1e-7 — and membership matches the distance
    # oracle away from the discretization band
    from spapy_spark.operators.vector import buffer_rects_batch

    rng = np.random.default_rng(0)
    for _ in range(20):
        x0, y0 = rng.uniform(-50, 50, 2)
        w, h = rng.uniform(0.1, 20, 2)
        r = rng.uniform(0.05, 15)
        q = int(rng.integers(1, 9)) * 2
        fast = wkb.loads(
            buffer_rects_batch(np.array([[x0, y0, x0 + w, y0 + h]]), r, q)[0]
        )
        n = max(4, 4 * q)
        a_c = w * h + 2 * (w + h) * r + 0.5 * n * r * r * np.sin(
            2 * np.pi / n)
        assert abs(kernels.geom_area(fast) - a_c) < 1e-9 * max(1.0, a_c)
        pts = rng.uniform([x0 - 2 * r, y0 - 2 * r],
                          [x0 + w + 2 * r, y0 + h + 2 * r], (200, 2))
        dx = np.maximum(np.maximum(x0 - pts[:, 0], pts[:, 0] - (x0 + w)), 0)
        dy = np.maximum(np.maximum(y0 - pts[:, 1], pts[:, 1] - (y0 + h)), 0)
        dist = np.hypot(dx, dy)
        inside = kernels.points_in_polygon_geom(pts[:, 0], pts[:, 1], fast)
        clear = (dist < r * np.cos(np.pi / n) * 0.999) | (dist > r * 1.001)
        assert (inside[clear] == (dist < r)[clear]).all()


def test_doubled_back_ring_takes_the_per_pair_kernels(spark):
    """A zero-area ring that doubles back, every vertex on a corner of
    its bbox [0,8]², is not a rectangle: overlay, relate and buffer give
    the per-pair kernels' answers against box(2,2,4,4), not a full
    box's (one covering cell at res 3, so the pair is a candidate)."""
    from spapy_spark.operators import vector

    back = {"type": "Polygon", "coordinates": [np.array(
        [[0, 0], [8, 0], [0, 0], [0, 8], [0, 0]], dtype=np.float64)]}
    box = wkb.box(2, 2, 4, 4)
    left = spark.createDataFrame([(1, wkb.dumps(back))],
                                 "left_id bigint, geometry binary")
    right = spark.createDataFrame([(2, wkb.dumps(box))],
                                  "right_id bigint, geometry binary")
    assert overlay.overlay_geom(back, box, "intersection") is None
    assert overlay.overlay_join(left, right, "intersection", res=3).count() == 0
    preds = ("intersects", "touches", "overlaps", "contains", "within")
    for p in preds + ("crosses", "disjoint"):
        want = overlay.predicate_pair(back, box, p)
        got = overlay.relate_join(left, right, p, res=3).collect()
        assert [(r["left_id"], r["right_id"]) for r in got] == (
            [(1, 2)] if want else []), p
    counts = {r["predicate"]: r["n_pairs"] for r in
              overlay.relate_counts_multi(left, right, preds, res=3).collect()}
    assert counts == {p: 0 for p in preds}
    want = wkb.dumps(wkb.promote_multi(vector.buffer_geom(back, 1.0, 16)))
    got = vector.buffer(left, 1.0).collect()
    assert [bytes(r["geometry"]) for r in got] == [want]
