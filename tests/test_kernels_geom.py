"""Unit + property tests for the pure-numpy geometry kernels (no Spark)."""

from __future__ import annotations

import functools

import numpy as np
import pytest
from hypothesis import assume, given, settings
from hypothesis import strategies as st

from lagespark.kernels import geom

SQ = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
TRI = np.array([[0.0, 0.0], [4.0, 0.0], [0.0, 3.0]])
LSHAPE = np.array(
    [[0.0, 0.0], [6.0, 0.0], [6.0, 2.0], [2.0, 2.0], [2.0, 6.0], [0.0, 6.0]]
)


def test_signed_area():
    assert geom.signed_area(SQ) == pytest.approx(100.0)
    assert geom.signed_area(SQ[::-1]) == pytest.approx(-100.0)
    assert geom.ring_area(TRI) == pytest.approx(6.0)
    assert geom.ring_area(LSHAPE) == pytest.approx(20.0)


def test_point_in_ring():
    xs = np.array([5.0, -1.0, 10.5, 1.0, 5.0])
    ys = np.array([5.0, 5.0, 5.0, 1.0, 11.0])
    got = geom.point_in_ring(xs, ys, SQ)
    assert got.tolist() == [True, False, False, True, False]
    # L-shape: notch point outside
    got = geom.point_in_ring(np.array([4.0, 1.0]), np.array([4.0, 1.0]), LSHAPE)
    assert got.tolist() == [False, True]


def test_polygon_with_hole():
    hole = np.array([[4.0, 4.0], [6.0, 4.0], [6.0, 6.0], [4.0, 6.0]])
    rings = [SQ, hole]
    assert geom.polygon_area(rings) == pytest.approx(96.0)
    inside = geom.point_in_polygon(np.array([5.0, 1.0]), np.array([5.0, 1.0]), rings)
    assert inside.tolist() == [False, True]


def test_clip_convex_basic():
    # unit overlap of two squares
    clip = SQ + 5.0
    out = geom.clip_convex(SQ, clip)
    assert geom.ring_area(out) == pytest.approx(25.0)
    # disjoint
    out = geom.clip_convex(SQ, SQ + 100.0)
    assert len(out) == 0
    # fully inside
    out = geom.clip_convex(TRI, SQ)
    assert geom.ring_area(out) == pytest.approx(6.0)


def test_clip_rect_matches_closed_form():
    rng = np.random.default_rng(42)
    for _ in range(200):
        x0, y0 = rng.uniform(-5, 15, 2)
        w, h = rng.uniform(0.5, 8, 2)
        rect_ring = np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h]])
        got = geom.clip_area(rect_ring, SQ)
        ox = max(0.0, min(x0 + w, 10.0) - max(x0, 0.0))
        oy = max(0.0, min(y0 + h, 10.0) - max(y0, 0.0))
        assert got == pytest.approx(ox * oy, abs=1e-9)


def test_triangulate_partitions_area():
    for ring in (SQ, TRI, LSHAPE):
        tris = geom.triangulate(ring)
        assert sum(geom.ring_area(t) for t in tris) == pytest.approx(
            geom.ring_area(ring)
        )
    assert len(geom.triangulate(LSHAPE)) == 4


def test_intersection_area_nonconvex():
    # L-shape ∩ square covering its lower arm
    win = np.array([[0.0, 0.0], [6.0, 0.0], [6.0, 2.0], [0.0, 2.0]])
    assert geom.intersection_area([LSHAPE], [win]) == pytest.approx(12.0)
    # with a hole in the subject
    hole = np.array([[0.5, 0.5], [1.5, 0.5], [1.5, 1.5], [0.5, 1.5]])
    assert geom.intersection_area([LSHAPE, hole], [win]) == pytest.approx(11.0)
    # symmetric: A∩B == B∩A
    a = geom.intersection_area([LSHAPE], [SQ])
    b = geom.intersection_area([SQ], [LSHAPE])
    assert a == pytest.approx(b) == pytest.approx(20.0)


def test_point_to_polygon_dist():
    xs = np.array([5.0, 12.0, 5.0, -3.0])
    ys = np.array([5.0, 5.0, 13.0, -4.0])
    d = geom.point_to_polygon_dist(xs, ys, [SQ])
    assert d[0] == 0.0
    assert d[1] == pytest.approx(2.0)
    assert d[2] == pytest.approx(3.0)
    assert d[3] == pytest.approx(5.0)


def test_zone_of_points():
    polys = [[SQ]]
    xs = np.array([5.0, 105.0, 500.0, 5000.0])
    ys = np.array([5.0, 5.0, 5.0, 5.0])
    z = geom.zone_of_points(xs, ys, polys)
    assert z.tolist() == [0, 0, 1, 2]


def test_zone_band_strips_area_converges():
    polys = [[SQ * 10.0]]  # 100x100 square at origin
    strips = geom.zone_band_strips(polys, thresholds=(100.0,), resolution=2.0)
    area = float(((strips[:, 2] - strips[:, 0]) * (strips[:, 3] - strips[:, 1])).sum())
    # exact area of {d < 100} around a 100x100 square:
    # square + 4 side bands + 4 quarter circles
    exact = 100.0 * 100.0 + 4 * 100.0 * 100.0 + np.pi * 100.0**2
    assert area == pytest.approx(exact, rel=0.02)
    # strips carry zone 0 only
    assert set(strips[:, 4].tolist()) == {0.0}


def _cut_to(strips, w):
    """Strips cut to window w (degenerate pieces dropped), sorted."""
    lo = np.maximum(strips[:, :2], w[:2])
    hi = np.minimum(strips[:, 2:4], w[2:])
    keep = (lo < hi).all(axis=1)
    return sorted(map(tuple, np.column_stack([lo, hi, strips[:, 4]])[keep]))


def _check_window(polys, thresholds, resolution, full, w):
    got = geom.zone_band_strips(polys, thresholds, resolution, window=w)
    assert _cut_to(got, w) == _cut_to(full, w)
    # each windowed strip is ONE full strip, cut only a cell beyond w — so a
    # cut end never falls inside the feature whose bbox is the window
    for x0, y0, x1, _, z in got:
        (src,) = full[(full[:, 1] == y0) & (full[:, 4] == z) & (full[:, 0] <= x0) & (full[:, 2] >= x1)]
        assert src[0] == x0 or x0 < w[0] - 0.5 * resolution
        assert src[2] == x1 or x1 > w[2] + 0.5 * resolution


def _windows(strips):
    """Windows in per-mille steps of the strips' extent: inside, clamped at
    the raster edge, wholly outside, and zero-area."""
    x0, y0 = strips[:, :2].min(axis=0)
    x1, y1 = strips[:, 2:4].max(axis=0)
    dx, dy = (x1 - x0) / 1000.0, (y1 - y0) / 1000.0
    pos, size = st.integers(-300, 1100), st.one_of(st.just(0), st.integers(0, 400))
    return st.tuples(pos, pos, size, size).map(
        lambda t: (x0 + t[0] * dx, y0 + t[1] * dy, x0 + (t[0] + t[2]) * dx, y0 + (t[1] + t[3]) * dy)
    )


@functools.cache
def _fixture_baufeld():
    from lagespark import fixtures
    from lagespark.operators.spatial import FeatureSet

    polys = FeatureSet(fixtures.baufeld_pdf()).polys()
    return polys, geom.zone_band_strips(polys, (100.0, 625.0), 4.0)


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_prop_windowed_strips_equal_full_raster_fixture(data):
    polys, full = _fixture_baufeld()
    _check_window(polys, (100.0, 625.0), 4.0, full, data.draw(_windows(full)))


def test_windowed_strips_equal_full_raster_on_feature_bboxes():
    """The production windows: zone_area_pieces passes each feature's bbox."""
    from lagespark import fixtures

    polys, full = _fixture_baufeld()
    for w in fixtures.gruenflaeche_pdf()[["xmin", "ymin", "xmax", "ymax"]].itertuples(index=False):
        _check_window(polys, (100.0, 625.0), 4.0, full, tuple(w))


@st.composite
def rect_hex_sets(draw):
    polys = []
    for _ in range(draw(st.integers(1, 3))):
        cx, cy, r = draw(st.floats(0.0, 200.0)), draw(st.floats(0.0, 200.0)), draw(st.floats(2.0, 40.0))
        if draw(st.booleans()):
            ring = [[cx, cy], [cx + r, cy], [cx + r, cy + 0.7 * r], [cx, cy + 0.7 * r]]
        else:
            ring = [[cx + r * np.cos(a), cy + r * np.sin(a)] for a in np.arange(6) * np.pi / 3]
        polys.append([np.array(ring)])
    return polys


@settings(max_examples=40, deadline=None)
@given(rect_hex_sets(), st.sampled_from([1.5, 2.0, 3.7]), st.data())
def test_prop_windowed_strips_equal_full_raster_random(polys, resolution, data):
    full = geom.zone_band_strips(polys, (10.0, 35.0), resolution)
    windows = [geom.ring_bbox(rings[0]) for rings in polys]
    windows += [data.draw(_windows(full)) for _ in range(3)]
    for w in windows:
        _check_window(polys, (10.0, 35.0), resolution, full, w)


@st.composite
def convex_polys(draw):
    n = draw(st.integers(min_value=3, max_value=9))
    # build well-separated angles from positive gaps (no sliver polygons)
    gaps = np.array(
        draw(
            st.lists(
                st.floats(min_value=0.2, max_value=1.0, allow_nan=False),
                min_size=n,
                max_size=n,
            )
        )
    )
    start = draw(st.floats(min_value=0.0, max_value=2 * np.pi))
    angles = start + 2 * np.pi * np.cumsum(gaps) / (gaps.sum() * (1 + 0.2 / n))
    r = draw(st.floats(min_value=1.0, max_value=50.0))
    cx = draw(st.floats(min_value=-100, max_value=100))
    cy = draw(st.floats(min_value=-100, max_value=100))
    ring = np.array([[cx + r * np.cos(a), cy + r * np.sin(a)] for a in angles])
    return ring


@settings(max_examples=60, deadline=None)
@given(convex_polys(), convex_polys())
def test_prop_clip_area_bounded(a, b):
    ia = geom.clip_area(a, b)
    assert ia <= geom.ring_area(a) + 1e-6
    assert ia <= geom.ring_area(b) + 1e-6
    assert ia >= -1e-9


@settings(max_examples=60, deadline=None)
@given(convex_polys())
def test_prop_centroid_inside_convex(ring):
    cx = np.array([ring[:, 0].mean()])
    cy = np.array([ring[:, 1].mean()])
    assert geom.point_in_ring(cx, cy, ring).all()


@settings(max_examples=40, deadline=None)
@given(convex_polys())
def test_prop_self_intersection_is_identity(ring):
    assert geom.clip_area(ring, ring) == pytest.approx(geom.ring_area(ring), rel=1e-6)
    assert geom.intersection_area([ring], [ring]) == pytest.approx(
        geom.ring_area(ring), rel=1e-6
    )


def test_rect_fastpath_equals_generic_clip():
    """The axis-aligned rect∩rect short-circuit must equal the generic
    Sutherland–Hodgman result for random rect pairs (and the closed-form
    overlap product)."""
    rng = np.random.default_rng(11)
    for _ in range(300):
        x0, y0, x1, y1 = rng.uniform(0, 1000, 4)
        a = np.array(
            [[min(x0, x1), min(y0, y1)], [max(x0, x1) + 1, min(y0, y1)],
             [max(x0, x1) + 1, max(y0, y1) + 1], [min(x0, x1), max(y0, y1) + 1]]
        )
        u0, v0, u1, v1 = rng.uniform(0, 1000, 4)
        b = np.array(
            [[min(u0, u1), min(v0, v1)], [max(u0, u1) + 1, min(v0, v1)],
             [max(u0, u1) + 1, max(v0, v1) + 1], [min(u0, u1), max(v0, v1) + 1]]
        )
        fast = geom.intersection_area([a], [b])
        generic = geom.clip_area(a, b)  # generic SH path directly
        w = min(a[:, 0].max(), b[:, 0].max()) - max(a[:, 0].min(), b[:, 0].min())
        h = min(a[:, 1].max(), b[:, 1].max()) - max(a[:, 1].min(), b[:, 1].min())
        closed = w * h if (w > 0 and h > 0) else 0.0
        assert abs(fast - closed) < 1e-9
        assert abs(fast - generic) < 1e-6 * max(fast, 1.0)


def test_axis_rect_bounds_rejects_non_rects():
    tri = np.array([[0.0, 0.0], [4.0, 0.0], [2.0, 3.0]])
    rot = np.array([[0.0, 1.0], [1.0, 0.0], [2.0, 1.0], [1.0, 2.0]])  # diamond
    degen = np.array([[0.0, 0.0], [0.0, 0.0], [0.0, 1.0], [0.0, 1.0]])
    assert geom.axis_rect_bounds(tri) is None
    assert geom.axis_rect_bounds(rot) is None
    assert geom.axis_rect_bounds(degen) is None
    rect = np.array([[1.0, 2.0], [5.0, 2.0], [5.0, 7.0], [1.0, 7.0]])
    assert geom.axis_rect_bounds(rect) == (1.0, 2.0, 5.0, 7.0)


def test_rect_clip_area_batch_matches_clip_area():
    """rect_clip_area_batch (the round-8 vectorized q04 kernel) must equal
    the per-row Sutherland–Hodgman clip_area on random rects vs a fixed
    window, including touch/degenerate cases."""
    rng = np.random.default_rng(7)
    n = 500
    x0 = rng.uniform(3000, 7000, n)
    y0 = rng.uniform(4000, 8000, n)
    w = rng.uniform(0, 1500, n)
    h = rng.uniform(0, 1500, n)
    # exact-touch cases: right edge on the window's left edge
    x0[:10] = 4000.0 - w[:10]
    y0[10:20] = 5000.0 - h[10:20]
    wx0, wy0, wx1, wy1 = 4000.0, 5000.0, 6000.0, 7000.0
    win = np.array([[wx0, wy0], [wx1, wy0], [wx1, wy1], [wx0, wy1]])
    batch = geom.rect_clip_area_batch(x0, y0, w, h, wx0, wy0, wx1, wy1)
    for i in range(n):
        ring = np.array(
            [
                [x0[i], y0[i]],
                [x0[i] + w[i], y0[i]],
                [x0[i] + w[i], y0[i] + h[i]],
                [x0[i], y0[i] + h[i]],
            ]
        )
        ref = geom.clip_area(ring, win)
        assert abs(batch[i] - ref) < 1e-9 * max(1.0, ref), (
            f"row {i}: batch {batch[i]} vs clip_area {ref}"
        )
