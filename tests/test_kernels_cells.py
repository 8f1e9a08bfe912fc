"""Unit + property tests for the cell-index kernels (no Spark)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lagespark.kernels import cells


def test_grid_encode_decode_roundtrip():
    rng = np.random.default_rng(42)
    x = rng.uniform(-5000, 15000, 1000)
    y = rng.uniform(-5000, 15000, 1000)
    c = cells.grid_encode(x, y, 250.0)
    i, j = cells.grid_decode(c)
    assert (i == np.floor(x / 250.0)).all()
    assert (j == np.floor(y / 250.0)).all()


def test_grid_sql_matches_numpy():
    import duckdb

    rng = np.random.default_rng(7)
    x = rng.uniform(-2000, 12000, 500)
    y = rng.uniform(-2000, 12000, 500)
    want = cells.grid_encode(x, y, 250.0)
    con = duckdb.connect()
    con.execute("CREATE TABLE pts AS SELECT * FROM (VALUES " +
                ",".join(f"({a!r},{b!r})" for a, b in zip(x, y)) +
                ") t(x, y)")
    expr = cells.grid_cell_sql("x", "y", 250.0)
    got = con.execute(f"SELECT {expr} FROM pts").fetchnumpy()
    got = list(got.values())[0].astype(np.int64)
    assert (got == want).all()


def test_grid_cover_bbox_conservative():
    cover = set(cells.grid_cover_bbox(100.0, 100.0, 900.0, 450.0, 250.0).tolist())
    rng = np.random.default_rng(3)
    x = rng.uniform(100.0, 900.0, 2000)
    y = rng.uniform(100.0, 450.0, 2000)
    pts = set(cells.grid_encode(x, y, 250.0).tolist())
    assert pts <= cover


LATS = st.floats(min_value=-85, max_value=85, allow_nan=False)
LONS = st.floats(min_value=-179.9, max_value=179.9, allow_nan=False)


@settings(max_examples=200, deadline=None)
@given(LATS, LONS, st.integers(min_value=5, max_value=20))
def test_prop_s2_roundtrip_center_same_cell(lat, lon, level):
    """decode(encode(p)) center must re-encode to the same cell."""
    c = cells.s2_encode(np.array([lat]), np.array([lon]), level)
    clat, clon = cells.s2_cell_center(c)
    c2 = cells.s2_encode(clat, clon, level)
    assert c.tolist() == c2.tolist()


@settings(max_examples=100, deadline=None)
@given(LATS, LONS)
def test_prop_s2_center_near_point(lat, lon):
    """Cell center at level 15 is within ~one cell diagonal of the input."""
    c = cells.s2_encode(np.array([lat]), np.array([lon]), 15)
    clat, clon = cells.s2_cell_center(c)
    # level-15 cell edge ≈ 300 m ≈ 0.003 deg at the equator; be generous
    dist_deg = np.hypot(
        clat[0] - lat, (clon[0] - lon) * np.cos(np.radians(lat))
    )
    assert dist_deg < 0.02


def test_s2_level15_cell_area_matches_h3_res9():
    """Level-15 cells ≈ 0.08 km² (H3 res 9 is ~0.105 km²) near Brandenburg."""
    # measure one cell by decoding neighbors' centers
    lat, lon = 52.5, 13.4
    c = cells.s2_encode(np.array([lat]), np.array([lon]), 15)
    face, i, j, level = cells.s2_decode_ij(c)
    east = cells.s2_from_ij(face, i + 1, j, level)
    north = cells.s2_from_ij(face, i, j + 1, level)
    clat, clon = cells.s2_cell_center(c)
    elat, elon = cells.s2_cell_center(east)
    nlat, nlon = cells.s2_cell_center(north)
    m_per_deg = 111_320.0
    dx = np.hypot(
        (elon - clon) * m_per_deg * np.cos(np.radians(clat)), (elat - clat) * m_per_deg
    )[0]
    dy = np.hypot(
        (nlon - clon) * m_per_deg * np.cos(np.radians(clat)), (nlat - clat) * m_per_deg
    )[0]
    area_km2 = dx * dy / 1e6
    assert 0.03 < area_km2 < 0.25


def test_s2_disk_contains_nearby_points():
    """Points within one cell width land inside the k=1 ij-disk."""
    lat0, lon0 = 52.5, 13.4
    c0 = cells.s2_encode(np.array([lat0]), np.array([lon0]), 15)
    disk = set(cells.s2_disk_cells(c0, 1)[0].tolist())
    # points 100m away in each direction
    for dlat, dlon in [(0.0009, 0), (-0.0009, 0), (0, 0.0015), (0, -0.0015)]:
        c = cells.s2_encode(np.array([lat0 + dlat]), np.array([lon0 + dlon]), 15)
        assert int(c[0]) in disk


def test_s2_faces_distinct():
    """Six cardinal directions hit six distinct faces."""
    pts = [(0, 0), (0, 90), (90, 0), (0, 180), (0, -90), (-90, 0)]
    ids = [
        int(cells.s2_encode(np.array([la], float), np.array([lo], float), 10)[0]) >> 60
        for la, lo in pts
    ]
    assert sorted(ids) == [0, 1, 2, 3, 4, 5]


def test_grid_vs_pip_join_consistency():
    """A point's grid cell is always inside the grid cover of any polygon
    bbox containing the point — the conservative-prefilter invariant that
    spatial join correctness rests on."""
    rng = np.random.default_rng(11)
    for _ in range(50):
        x0, y0 = rng.uniform(0, 9000, 2)
        w, h = rng.uniform(10, 900, 2)
        px = rng.uniform(x0, x0 + w, 20)
        py = rng.uniform(y0, y0 + h, 20)
        cover = set(cells.grid_cover_bbox(x0, y0, x0 + w, y0 + h, 250.0).tolist())
        pc = cells.grid_encode(px, py, 250.0)
        assert set(pc.tolist()) <= cover


def test_s2_cell_corners_bracket_center():
    """Corners must bracket the cell center and every encoded point in the
    cell (corner bbox contains them)."""
    rng = np.random.default_rng(7)
    lat = rng.uniform(-60, 60, 50)
    lon = rng.uniform(-170, 170, 50)
    c = cells.s2_encode(lat, lon, 15)
    clat, clon = cells.s2_cell_corners(c)
    mlat, mlon = cells.s2_cell_center(c)
    assert (clat.min(axis=1) <= mlat).all() and (mlat <= clat.max(axis=1)).all()
    assert (clon.min(axis=1) <= mlon).all() and (mlon <= clon.max(axis=1)).all()
    assert (clat.min(axis=1) - 1e-9 <= lat).all() and (lat <= clat.max(axis=1) + 1e-9).all()
    assert (clon.min(axis=1) - 1e-9 <= lon).all() and (lon <= clon.max(axis=1) + 1e-9).all()


def test_s2_exact_cover_contains_interior_cells_across_levels(spark):
    """Property (ADVICE round 2): the EXACT polyfill must contain every cell
    hit by encoded interior points — at multiple levels, not just the
    deployed one — so the boundary-sample bbox + pad provably absorbs edge
    curvature under the CRS affine as the cell extent changes."""
    from lagespark import fixtures
    from lagespark.kernels import geom
    from lagespark.operators import spatial

    feats = spatial.FeatureSet(fixtures.gruenflaeche_pdf())
    for level in (13, 14, 15, 16):
        cover = spatial.s2_feature_cover_df(spark, feats, level=level).toPandas()
        by_fid = {
            fid: set(g["cell_s2"].tolist())
            for fid, g in cover.groupby("feature_id")
        }
        for fid in feats.ids:
            xmin, ymin, xmax, ymax = feats.bbox[fid]
            gx = np.linspace(xmin, xmax, 40)
            gy = np.linspace(ymin, ymax, 40)
            xx, yy = np.meshgrid(gx, gy)
            xs, ys = xx.ravel(), yy.ravel()
            inside = geom.point_in_polygon(xs, ys, feats.rings[fid])
            if not inside.any():
                continue
            lon, lat = fixtures.xy_to_lonlat(xs[inside], ys[inside])
            hit = set(cells.s2_encode(lat, lon, level).tolist())
            missing = hit - by_fid.get(fid, set())
            assert not missing, (
                f"level {level} feature {fid}: exact cover drops {len(missing)} "
                "cell(s) containing interior points"
            )


def test_s2_exact_cover_shrinks_but_stays_correct(spark):
    """The exact S2 polyfill must be a SUBSET of the bbox cover, strictly
    smaller for non-rectangular features, and q83 (S2-keyed PIP) must return
    the identical result either way."""
    from lagespark import fixtures, harness
    from lagespark.operators import spatial

    feats = spatial.FeatureSet(fixtures.gruenflaeche_pdf())
    bbox = spatial.s2_feature_cover_df(spark, feats, exact=False).toPandas()
    exact = spatial.s2_feature_cover_df(spark, feats, exact=True).toPandas()
    nb, ne = len(bbox), len(exact)
    assert ne < nb, f"exact cover must shrink: {ne} !< {nb}"
    b = set(map(tuple, bbox.itertuples(index=False)))
    e = set(map(tuple, exact.itertuples(index=False)))
    assert e <= b

    res = (
        harness.QUERIES["q83-geo-pip-s2"](spark, "/root/testdata/sf0.001")
        .toPandas()
        .sort_values(["pid", "feature_id"])
        .reset_index(drop=True)
    )
    assert len(res) > 0
