"""Skew + physical-layout tests: the explicit-salting correctness contract
on genuinely skewed data (BASELINE.json:14) and bucketed co-located joins
(SURVEY.md §4 'bucketing for co-located joins')."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import numpy as np
import pytest
from pyspark.sql import functions as F

from lagespark import fixtures
from lagespark.kernels import cells
from lagespark.operators import spatial


def test_fixture_points_are_skewed():
    """The urban clusters must actually produce hot cells (the salting
    test bed, FIXTURES.md §1)."""
    x, y = fixtures.image_points(20_000)
    c = cells.grid_encode(x, y, 250.0)
    _, counts = np.unique(c, return_counts=True)
    top = counts.max()
    median = np.median(counts)
    assert top > 20 * median, f"expected hot cells: top={top}, median={median}"


def test_salted_join_equals_plain_join_on_skewed_data(spark):
    """Salting must be a pure physical rewrite: identical rows out."""
    import pandas as pd

    x, y = fixtures.image_points(30_000)
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(30_000), "x": x, "y": y})
    )
    pts = spatial.with_grid_cell(pts)
    gf = spatial.FeatureSet(fixtures.gruenflaeche_pdf())
    cover = spark.createDataFrame(spatial.feature_cover_pdf(gf, 250.0))

    plain = pts.join(cover, "cell").groupBy("feature_id").count().toPandas()
    salted = (
        spatial.salted_cell_join(pts, cover, salt=8, fact_key="pid")
        .groupBy("feature_id")
        .count()
        .toPandas()
    )
    a = plain.sort_values("feature_id").reset_index(drop=True)
    b = salted.sort_values("feature_id").reset_index(drop=True)
    assert (a["feature_id"] == b["feature_id"]).all()
    assert (a["count"] == b["count"]).all()


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Pre-bucketing both sides on the join key removes the shuffle — the
    co-located join layout for repeated cell-keyed joins at scale."""
    # (warehouse.dir is a static conf — tables land in ./spark-warehouse,
    # which is gitignored and dropped in the finally block)
    import pandas as pd

    x, y = fixtures.image_points(5_000)
    pts = spatial.with_grid_cell(
        spark.createDataFrame(pd.DataFrame({"pid": np.arange(5_000), "x": x, "y": y}))
    )
    gf = spatial.FeatureSet(fixtures.gruenflaeche_pdf())
    cover = spark.createDataFrame(spatial.feature_cover_pdf(gf, 250.0))

    spark.sql("DROP TABLE IF EXISTS pts_b")
    spark.sql("DROP TABLE IF EXISTS cover_b")
    pts.write.bucketBy(8, "cell").sortBy("cell").saveAsTable("pts_b")
    cover.write.bucketBy(8, "cell").sortBy("cell").saveAsTable("cover_b")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("pts_b").join(spark.table("cover_b"), "cell")
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan
        # and the join still returns the right rows
        n = joined.count()
        plain = pts.join(cover, "cell").count()
        assert n == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS pts_b")
        spark.sql("DROP TABLE IF EXISTS cover_b")


def test_ri_intersects_join_general_polygons(spark):
    """RI join on the REAL fixture polygons (hexagon, L-shape, hole): result
    must equal the exact kernel's pairwise intersects verdicts, and most
    positive decisions should come from the native bitmask path."""
    from lagespark import fixtures
    from lagespark.kernels import geom

    gf = spark.createDataFrame(fixtures.gruenflaeche_pdf())
    all_polys = spark.createDataFrame(
        fixtures.baufeld_pdf().assign(construction_value=None)[
            ["feature_id", "rings", "xmin", "ymin", "xmax", "ymax", "wkt"]
        ]._append(
            fixtures.biotope_pdf()[
                ["feature_id", "rings", "xmin", "ymin", "xmax", "ymax", "wkt"]
            ]
        )
    )
    got = spatial.intersects_join_ri(gf, all_polys, cell_size=250.0).toPandas()
    pairs = {(r.id_l, r.id_r) for r in got.itertuples()}

    def np_rings(row):
        return [
            np.array([[p["x"], p["y"]] for p in ring]) for ring in row["rings"]
        ]

    want = set()
    import pandas as pd

    others = pd.concat([fixtures.baufeld_pdf(), fixtures.biotope_pdf()])
    for _, g in fixtures.gruenflaeche_pdf().iterrows():
        for _, o in others.iterrows():
            if geom.intersection_area(np_rings(g), np_rings(o)) > 1e-9:
                want.add((g["feature_id"], o["feature_id"]))
    assert pairs == want, (pairs - want, want - pairs)
    # the bitmask path must actually decide pairs (pruning effectiveness)
    assert (got.method == "ri").any()


def test_ri_intersects_rect_fast_path(spark):
    """Axis-rect × axis-rect pairs take the native cover path: on a
    rect-only corpus every pair is decided with method == 'rect' (no mask
    or kernel involvement in the verdict) and the pair set equals the
    brute-force bbox-overlap set (area > 1e-9, the kernel's own rect∩rect
    arithmetic). On the mixed fixture corpus, method == 'rect' exactly
    when BOTH sides are axis rects — the mask families never emit a pair
    the rect path owns (disjoint pair spaces, so the final union needs no
    cross-family dedup)."""
    import pandas as pd

    from lagespark import fixtures

    rng = np.random.RandomState(7)

    def rect_pdf(prefix, n):
        x0 = rng.uniform(0, 4500, n)
        y0 = rng.uniform(0, 4500, n)
        w = rng.uniform(80, 600, n)
        h = rng.uniform(80, 600, n)
        return pd.DataFrame(
            [
                fixtures._poly_row(
                    f"{prefix}{i:03d}",
                    [fixtures._rect(x0[i], y0[i], x0[i] + w[i], y0[i] + h[i])],
                )
                for i in range(n)
            ]
        )

    lp, rp = rect_pdf("L", 60), rect_pdf("R", 80)
    got = spatial.intersects_join_ri(
        spark.createDataFrame(lp), spark.createDataFrame(rp), cell_size=250.0
    ).toPandas()
    assert (got.method == "rect").all(), got.method.value_counts().to_dict()

    want = set()
    for _, a in lp.iterrows():
        for _, b in rp.iterrows():
            px = min(a.xmax, b.xmax) - max(a.xmin, b.xmin)
            py = min(a.ymax, b.ymax) - max(a.ymin, b.ymin)
            if px > 0 and py > 0 and px * py > 1e-9:
                want.add((a.feature_id, b.feature_id))
    pairs = {(r.id_l, r.id_r) for r in got.itertuples()}
    assert pairs == want, (pairs - want, want - pairs)
    assert not got.duplicated(["id_l", "id_r"]).any()

    # mixed corpus: 'rect' iff both sides are axis rects
    gf_pdf = fixtures.gruenflaeche_pdf()
    others = pd.concat(
        [
            fixtures.baufeld_pdf().assign(construction_value=None),
            fixtures.biotope_pdf(),
        ]
    )
    cols = ["feature_id", "rings", "xmin", "ymin", "xmax", "ymax", "wkt"]

    def is_rect(row):
        rings = [
            np.array([[p["x"], p["y"]] for p in ring]) for ring in row["rings"]
        ]
        return spatial._np_axis_rect(
            rings, row["xmin"], row["ymin"], row["xmax"], row["ymax"]
        )

    rect_ids = {
        r["feature_id"]
        for _, r in pd.concat([gf_pdf, others]).iterrows()
        if is_rect(r)
    }
    mixed = spatial.intersects_join_ri(
        spark.createDataFrame(gf_pdf[cols]),
        spark.createDataFrame(others[cols]),
        cell_size=250.0,
    ).toPandas()
    for r in mixed.itertuples():
        both = r.id_l in rect_ids and r.id_r in rect_ids
        assert (r.method == "rect") == both, (r.id_l, r.id_r, r.method)

    # single-side-rect probe branches: an ALL-RECT side prunes the OTHER
    # side's rect rows from the mask family (rect×all-rect pairs are owned
    # by the native path), but keeps the all-rect side's masks — (gen, rect)
    # pairs are still mask/kernel-decided. Verdicts vs brute-force kernel.
    from lagespark.kernels import geom

    def np_rings(row):
        return [
            np.array([[p["x"], p["y"]] for p in ring]) for ring in row["rings"]
        ]

    allrect = rect_pdf("A", 40)
    allrect["xmin"] += 2000  # overlap the fixture window [2000, 3200]
    allrect["xmax"] += 2000
    allrect["ymin"] += 2000
    allrect["ymax"] += 2000
    allrect["rings"] = [
        [fixtures._rect(r.xmin, r.ymin, r.xmax, r.ymax)] for r in allrect.itertuples()
    ]
    allrect = pd.DataFrame(
        [
            fixtures._poly_row(r.feature_id, r.rings)
            for r in allrect.itertuples()
        ]
    )
    for a_pdf, b_pdf in ((allrect, others), (others, allrect)):
        got2 = spatial.intersects_join_ri(
            spark.createDataFrame(a_pdf[cols]),
            spark.createDataFrame(b_pdf[cols]),
            cell_size=250.0,
        ).toPandas()
        want2 = {
            (a["feature_id"], b["feature_id"])
            for _, a in a_pdf.iterrows()
            for _, b in b_pdf.iterrows()
            if geom.intersection_area(np_rings(a), np_rings(b)) > 1e-9
        }
        pairs2 = {(r.id_l, r.id_r) for r in got2.itertuples()}
        assert pairs2 == want2, (pairs2 - want2, want2 - pairs2)


def test_overlay_join_general_polygons_and_rect_detection(spark):
    """overlay_join after the flat-marshalling + native-rect rewrite:

    * general (non-rect) fixture polygons must still match the brute-force
      kernel areas (the generic flat-column path);
    * a DEGENERATE 4-vertex quad whose vertices sit on its bbox corners but
      do not trace the bbox must NOT take the native rect path — its output
      must equal the exact kernel's verdict, not the bbox-overlap area."""
    import pandas as pd

    from lagespark import fixtures
    from lagespark.kernels import geom

    gf_pdf = fixtures.gruenflaeche_pdf()
    bf_pdf = fixtures.baufeld_pdf()
    cols = ["feature_id", "rings", "xmin", "ymin", "xmax", "ymax"]
    a = spark.createDataFrame(gf_pdf[cols])
    b = spark.createDataFrame(bf_pdf[cols])
    got = spatial.overlay_join(a, b, cell_size=250.0, round_to=4).toPandas()
    got_map = {(r.id_l, r.id_r): r.area for r in got.itertuples()}

    def np_rings(row):
        return [np.array([[p["x"], p["y"]] for p in ring]) for ring in row["rings"]]

    want = {}
    for _, g in gf_pdf.iterrows():
        for _, o in bf_pdf.iterrows():
            ar = round(geom.intersection_area(np_rings(g), np_rings(o)), 4)
            if ar > 0:
                want[(g["feature_id"], o["feature_id"])] = ar
    assert got_map == want, (got_map, want)

    # degenerate spike quad (0,0)→(10,0)→(10,10)→(10,0): bbox corners, axis
    # edges... but x-distribution 1/3 — rect detection must reject it
    spike = pd.DataFrame(
        {
            "feature_id": ["spike"],
            "rings": [
                [[{"x": 0.0, "y": 0.0}, {"x": 10.0, "y": 0.0},
                  {"x": 10.0, "y": 10.0}, {"x": 10.0, "y": 0.0}]]
            ],
            "xmin": [0.0], "ymin": [0.0], "xmax": [10.0], "ymax": [10.0],
        }
    )
    rect = pd.DataFrame(
        {
            "feature_id": ["r1"],
            "rings": [
                [[{"x": 2.0, "y": 2.0}, {"x": 8.0, "y": 2.0},
                  {"x": 8.0, "y": 8.0}, {"x": 2.0, "y": 8.0}]]
            ],
            "xmin": [2.0], "ymin": [2.0], "xmax": [8.0], "ymax": [8.0],
        }
    )
    res = spatial.overlay_join(
        spark.createDataFrame(spike), spark.createDataFrame(rect), cell_size=250.0
    ).toPandas()
    spike_rings = [np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [10.0, 0.0]])]
    rect_rings = [np.array([[2.0, 2.0], [8.0, 2.0], [8.0, 8.0], [2.0, 8.0]])]
    kernel_area = round(geom.intersection_area(spike_rings, rect_rings), 4)
    got_area = res["area"].iloc[0] if len(res) else 0.0
    assert got_area == (kernel_area if kernel_area > 0 else 0.0), (
        f"rect-path/kernel divergence: got {got_area}, kernel says {kernel_area}"
    )


def test_is_axis_rect_detection(spark):
    """_is_axis_rect (the native gate for the rect×rect overlay fast path)
    must accept proper axis-aligned rectangles in any traversal and reject
    everything else — degenerate spikes, bowties, diamonds, holes, and rings
    that don't match the declared bbox."""
    import pandas as pd

    from pyspark.sql import functions as F

    def ring(*pts):
        return [[{"x": float(x), "y": float(y)} for x, y in pts]]

    cases = [
        (ring((0, 0), (10, 0), (10, 10), (0, 10)), (0, 0, 10, 10), True),   # CCW
        (ring((0, 0), (0, 10), (10, 10), (10, 0)), (0, 0, 10, 10), True),   # CW
        (ring((10, 10), (0, 10), (0, 0), (10, 0)), (0, 0, 10, 10), True),   # rotated
        (ring((0, 0), (10, 0), (10, 10), (10, 0)), (0, 0, 10, 10), False),  # spike
        (ring((0, 0), (10, 0), (0, 10), (10, 10)), (0, 0, 10, 10), False),  # bowtie
        (ring((5, 0), (10, 5), (5, 10), (0, 5)), (0, 0, 10, 10), False),    # diamond
        (ring((0, 0), (10, 0), (10, 10), (0, 10)), (0, 0, 20, 10), False),  # bbox lies
        (  # rect with a hole is not its bbox
            ring((0, 0), (10, 0), (10, 10), (0, 10))
            + ring((4, 4), (6, 4), (6, 6), (4, 6)),
            (0, 0, 10, 10),
            False,
        ),
    ]
    pdf = pd.DataFrame(
        {
            "rings": [c[0] for c in cases],
            "xmin": [c[1][0] for c in cases],
            "ymin": [c[1][1] for c in cases],
            "xmax": [c[1][2] for c in cases],
            "ymax": [c[1][3] for c in cases],
            "want": [c[2] for c in cases],
        }
    )
    df = spark.createDataFrame(pdf).withColumn(
        "got",
        spatial._is_axis_rect("rings", "xmin", "ymin", "xmax", "ymax"),
    )
    rows = df.select("want", "got").collect()
    for i, r in enumerate(rows):
        assert bool(r.got) == r.want, f"case {i}: want {r.want}, got {r.got}"


def test_is_axis_rect_catalyst_numpy_parity_randomized(spark):
    """The Catalyst rect gate (_is_axis_rect) and its numpy mirror
    (_np_axis_rect) must agree on 400 seeded random quads: proper rects in
    random traversals, plus mutations (perturbed vertex, swapped order,
    duplicated corner, lying bbox) — one Spark job for all cases."""
    import pandas as pd

    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    cases = []
    for _ in range(400):
        x0, y0 = rng.uniform(0, 1000, 2)
        w, h = rng.uniform(0.5, 400, 2)
        x1, y1 = x0 + w, y0 + h
        corners = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
        start = int(rng.integers(0, 4))
        ring = corners[start:] + corners[:start]
        if rng.random() < 0.5:
            ring = ring[::-1]
        kind = rng.integers(0, 5)
        bbox = (x0, y0, x1, y1)
        if kind == 1:  # perturb one vertex off the lattice of corners
            i = int(rng.integers(0, 4))
            ring[i] = (ring[i][0] + rng.uniform(0.01, 5), ring[i][1])
        elif kind == 2:  # duplicate a corner (degenerate spike)
            i = int(rng.integers(0, 4))
            ring[i] = ring[(i + 2) % 4]
        elif kind == 3:  # bowtie: swap two adjacent vertices
            ring[1], ring[2] = ring[2], ring[1]
        elif kind == 4:  # bbox lies about the extent
            bbox = (x0, y0, x1 + 1.0, y1)
        rr = [np.array(ring, dtype=np.float64)]
        cases.append(
            {
                "rings": [[{"x": float(px), "y": float(py)} for px, py in ring]],
                "xmin": bbox[0], "ymin": bbox[1],
                "xmax": bbox[2], "ymax": bbox[3],
                "want": spatial._np_axis_rect(rr, *bbox),
            }
        )
    pdf = pd.DataFrame(cases)
    got = (
        spark.createDataFrame(pdf)
        .withColumn(
            "got",
            spatial._is_axis_rect("rings", "xmin", "ymin", "xmax", "ymax"),
        )
        .select("want", "got")
        .toPandas()
    )
    mism = got[got["want"] != got["got"]]
    assert mism.empty, f"{len(mism)} Catalyst/numpy rect-gate disagreements"
    assert got["want"].any() and not got["want"].all()  # both classes present


def test_flat_ring_roundtrip_randomized(spark):
    """_flat_ring_cols ∘ rings_from_flat must reproduce the input rings
    exactly — random polygons with holes, one Spark job."""
    import pandas as pd

    from pyspark.sql import functions as F

    from lagespark.kernels import geom

    rng = np.random.default_rng(13)
    rows = []
    want = []
    for i in range(100):
        n_rings = int(rng.integers(1, 4))
        rings = []
        for _ in range(n_rings):
            nv = int(rng.integers(3, 12))
            rings.append(rng.uniform(0, 1000, (nv, 2)).round(6))
        rows.append(
            {
                "id": i,
                "rings": [
                    [{"x": float(x), "y": float(y)} for x, y in ring]
                    for ring in rings
                ],
            }
        )
        want.append(rings)
    df = spark.createDataFrame(pd.DataFrame(rows)).select(
        "id", *spatial._flat_ring_cols(F.col("rings"), "")
    )
    out = df.toPandas().sort_values("id").reset_index(drop=True)
    for i in range(len(out)):
        back = geom.rings_from_flat(out["xs"][i], out["ys"][i], out["nv"][i])
        assert len(back) == len(want[i])
        for a, b in zip(back, want[i]):
            assert np.array_equal(a, b), f"ring mismatch for id {i}"


def test_s2_pip_join_equals_grid_pip_join(spark):
    """The S2-indexed PIP join (sphere cells as the join key) must return
    exactly the rows the grid-indexed join returns — side-consistent
    conservative covers are the correctness contract for any index."""
    import pandas as pd

    from lagespark import fixtures

    x, y = fixtures.image_points(20_000)
    lon, lat = fixtures.xy_to_lonlat(x, y)
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(20_000), "x": x, "y": y, "lon": lon, "lat": lat})
    )
    gf = spatial.FeatureSet(fixtures.gruenflaeche_pdf())
    a = spatial.pip_join(pts, gf).select("pid", "feature_id").toPandas()
    b = spatial.pip_join_s2(pts, gf).select("pid", "feature_id").toPandas()
    sa = {(r.pid, r.feature_id) for r in a.itertuples()}
    sb = {(r.pid, r.feature_id) for r in b.itertuples()}
    assert sa == sb and len(sa) > 0


@pytest.fixture(scope="module")
def knn_case(spark):
    """A mix of dense clusters and far-flung outliers (outliers force several
    radius-doubling rounds) plus an exact-tie triple (equidistant neighbors,
    id decides), with its quadratic brute-force top-3 (ties break on
    (dist, id), as in knn_join_points) and each query's rank-3 distance."""
    from pyspark.sql import Window

    rng = np.random.default_rng(3)
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(
        np.column_stack([rng.uniform(0, 2000, 150), rng.uniform(0, 2000, 150)])
    )]
    pts += [(1000, 9000.0, 9000.0), (1001, 9400.0, 9400.0), (1002, 12000.0, 500.0)]
    pts += [(2000, 5000.0, 5000.0), (2001, 5100.0, 5000.0), (2002, 4900.0, 5000.0)]
    df = spark.createDataFrame(pts, "pid long, x double, y double")

    a = df.selectExpr("pid AS qid", "x AS qx", "y AS qy")
    b = df.selectExpr("pid AS nn_id", "x AS tx", "y AS ty")
    d = F.round(F.sqrt((F.col("qx") - F.col("tx")) ** 2 + (F.col("qy") - F.col("ty")) ** 2), 6)
    w = Window.partitionBy("qid").orderBy(F.asc("dist"), F.asc("nn_id"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("qid") != F.col("nn_id"))
        .withColumn("dist", d)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .toPandas()
    )
    brute_set = {(r.qid, r.nn_id, r.rank) for r in brute.itertuples()}
    kth = brute.loc[brute["rank"] == 3, "dist"].to_numpy()
    return df, len(pts), brute_set, kth


def _knn_set(df, **kw):
    got = spatial.knn_join_points(df, df, k=3, **kw).toPandas()
    return {(r.qid, r.nn_id, r.rank) for r in got.itertuples()}, len(got)


def test_knn_join_points_exact_vs_bruteforce(spark, knn_case):
    """Ring-expansion kNN with the density-adaptive cell (the default) ==
    quadratic brute force."""
    df, n, brute_set, _ = knn_case
    got_set, n_rows = _knn_set(df)
    assert got_set == brute_set
    assert n_rows == n * 3


@pytest.mark.parametrize(
    "cell_size, rounds", [(20000.0, 1), (1000.0, 5), (250.0, 7), (100.0, 8)]
)
def test_knn_join_points_exact_at_every_cell_size(spark, knn_case, cell_size, rounds):
    """The answer cannot depend on the cell size or the round count: from
    one-round closure (every query's disk holds its 3 neighbors) to eight
    rounds, each explicit cell returns the brute-force set. `rounds` is
    exactly the rounds the slowest query needs to close (its rank-3
    distance under 2^(rounds-1) cells), so no case leans on the best-effort
    output after max_rounds."""
    df, n, brute_set, kth = knn_case
    need = 1 + int(np.max(np.ceil(np.log2(np.floor(kth / cell_size) + 1))))
    assert need == rounds
    got_set, n_rows = _knn_set(df, cell_size=cell_size, max_rounds=rounds)
    assert got_set == brute_set
    assert n_rows == n * 3


def test_knn_join_points_plan_no_cartesian(spark):
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from lagespark import harness, oracles
    from lagespark.operators import spatial

    pts = harness.points_df(spark, "/root/testdata/sf0.001")
    qs = pts.filter(F.col("pid") % 101 == 0)
    df = spatial.knn_join_points(qs, pts, k=3)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("simple")
    p = buf.getvalue()
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_knn_join_points_fewer_targets_than_k(spark):
    """Targets with < k points can never satisfy the closure bound — after
    max_rounds the join must still emit the best-effort neighbors it found
    rather than loop or drop the queries."""
    from lagespark.operators import spatial

    qs = spark.createDataFrame(
        [(1, 100.0, 100.0), (2, 5000.0, 5000.0)], "pid long, x double, y double"
    )
    ts = spark.createDataFrame(
        [(10, 120.0, 100.0), (11, 5100.0, 5000.0)], "pid long, x double, y double"
    )
    # enough rounds for the final ring (2^5 cells = 8 km) to span both
    # clusters: every query ranks BOTH targets despite nc < k forever
    out = spatial.knn_join_points(qs, ts, k=3, cell_size=250.0, max_rounds=6).toPandas()
    got = {(r.qid, r.nn_id, r.rank) for r in out.itertuples()}
    assert (1, 10, 1) in got and (1, 11, 2) in got
    assert (2, 11, 1) in got and (2, 10, 2) in got
    assert len(out) == 4
    # radius-limited best effort: with max_rounds=4 (2 km reach) each query
    # only sees its local target — documented exhaustion semantics
    near = spatial.knn_join_points(qs, ts, k=3, cell_size=250.0, max_rounds=4).toPandas()
    near_set = {(r.qid, r.nn_id, r.rank) for r in near.itertuples()}
    assert near_set == {(1, 10, 1), (2, 11, 1)}


def test_knn_join_points_duplicate_qids(spark):
    """ADVICE r3 #5: duplicated query ids must terminate AND stay exact
    (one top-k per distinct qid; the window merges duplicate rows)."""
    rng = np.random.default_rng(11)
    tgt = [(int(i), float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(0, 1000, (300, 2)))]
    targets = spark.createDataFrame(tgt, "pid long, x double, y double")
    # 40 query rows over only 20 distinct ids (each id appears twice with
    # IDENTICAL coordinates — the realistic synthesized-key duplication)
    qrows = []
    for i, (x, y) in enumerate(rng.uniform(0, 1000, (20, 2))):
        # qids disjoint from target ids (the join excludes nn_id == qid)
        qrows.append((1000 + int(i), float(x), float(y)))
        qrows.append((1000 + int(i), float(x), float(y)))
    queries = spark.createDataFrame(qrows, "pid long, x double, y double")
    out = spatial.knn_join_points(queries, targets, k=3).collect()
    got = {(r.qid, r.rank): r.nn_id for r in out}
    assert len(got) == 60  # 20 distinct qids × k
    # brute-force oracle
    tm = np.array([[t[1], t[2]] for t in tgt])
    tid = np.array([t[0] for t in tgt])
    assert len({(q[1], q[2]) for q in qrows}) == 20  # one coord pair per qid
    qm = {q[0]: (q[1], q[2]) for q in qrows}
    for qid in list(qm)[:5]:
        x, y = qm[qid]
        d = np.round(np.hypot(tm[:, 0] - x, tm[:, 1] - y), 6)
        order = np.lexsort((tid, d))[:3]
        for r, j in enumerate(order):
            assert got[(qid, r + 1)] == int(tid[j])


def test_knn_auto_cell_size_empty_targets(spark):
    """ADVICE r3 #1: empty targets → default 250.0, not TypeError (an empty
    checkpoint reports n=0 and None bounds), and the join returns no rows."""
    none = {"n": 0, "x0": None, "x1": None, "y0": None, "y1": None}
    assert spatial.knn_auto_cell_size(none, k=3) == 250.0
    pts = spark.createDataFrame([(1, 0.0, 0.0)], "pid long, x double, y double")
    empty = spark.createDataFrame([], "pid long, x double, y double")
    assert spatial.knn_join_points(pts, empty, k=3).count() == 0
