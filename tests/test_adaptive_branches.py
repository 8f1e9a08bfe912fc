"""Differential tests for the data-adaptive branches that read checkpoint
statistics: forcing a branch through the checkpoint helper's seam must not
change any output row.

  * overlay_join elides its exact-kernel branch when the pair checkpoint
    counts no non-rect pair;
  * intersects_join_ri prunes a side's rect rows from the mask join when
    the OTHER side's cover checkpoint counts no general polygon.

A forced side reports at least one general row, which turns the elision or
the pruning off; the decision is forced, not the count's job."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from lagespark import fixtures
from lagespark.kernels import geom
from lagespark.operators import spatial

COLS = ["feature_id", "rings", "xmin", "ymin", "xmax", "ymax"]
SCHEMA = (
    "feature_id string, rings array<array<struct<x:double,y:double>>>, "
    "xmin double, ymin double, xmax double, ymax double"
)
OCT = np.arange(8) * np.pi / 4


def _forcing(sides):
    """A checkpoint that reports >= 1 general row for the frames at the given
    argument positions of every stats-carrying call."""
    real = spatial.checkpoint

    def forced(*frames, **stats):
        out = real(*frames, **stats)
        return [
            (f, {**s, "n_gen": max(s["n_gen"], 1)} if i in sides and "n_gen" in s else s)
            for i, (f, s) in enumerate(out)
        ]

    return forced


def _side(spark, shapes, prefix):
    """shapes: (kind, cx, cy, w, h) with kind 'rect' or 'oct'."""
    rows = []
    for k, (kind, cx, cy, w, h) in enumerate(shapes):
        if kind == "rect":
            ring = fixtures._rect(cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2)
        else:
            ring = [[cx + w / 2 * np.cos(a), cy + w / 2 * np.sin(a)] for a in OCT]
        rows.append(fixtures._poly_row(f"{prefix}{k}", [ring]))
    pdf = pd.DataFrame(rows, columns=COLS + ["wkt"])[COLS]
    return pdf, spark.createDataFrame(pdf, SCHEMA)


def _rings(row):
    return [np.array([[p["x"], p["y"]] for p in ring]) for ring in row["rings"]]


def _has_kernel(df) -> bool:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return "ArrowEvalPython" in buf.getvalue()


def _ri_variants(a, b, variants=((), (0,), (1,), (0, 1))):
    """(id_l, id_r) sets of intersects_join_ri left alone, and with pruning
    forced off on the left side, on the right side, and on both; and
    whether each plan holds a Python kernel."""
    out, kernel = {}, {}
    for sides in variants:
        with pytest.MonkeyPatch.context() as mp:
            if sides:
                mp.setattr(spatial, "checkpoint", _forcing(sides))
            df = spatial.intersects_join_ri(a, b, cell_size=250.0)
        got = df.toPandas()
        assert not got.duplicated(["id_l", "id_r"]).any(), sides
        out[sides] = {(r.id_l, r.id_r) for r in got.itertuples()}
        kernel[sides] = _has_kernel(df)
    return out, kernel


def _overlay_variants(a, b):
    """{(id_l, id_r): area} of overlay_join left alone and with the kernel
    branch forced on; and whether each plan holds a Python kernel."""
    out, kernel = {}, {}
    for forced in (False, True):
        with pytest.MonkeyPatch.context() as mp:
            if forced:
                mp.setattr(spatial, "checkpoint", _forcing((0,)))
            df = spatial.overlay_join(a, b, cell_size=250.0)
        out[forced] = {(r.id_l, r.id_r): r.area for r in df.toPandas().itertuples()}
        kernel[forced] = _has_kernel(df)
    return out, kernel


def _all_rect_sides(spark):
    rng = np.random.default_rng(3)
    shapes = [
        ("rect", *rng.uniform(100, 1400, 2), *rng.uniform(60, 500, 2)) for _ in range(24)
    ]
    return _side(spark, shapes[:12], "L"), _side(spark, shapes[12:], "R")


def test_overlay_kernel_elision_forced_equals_elided(spark):
    (lp, a), (rp, b) = _all_rect_sides(spark)
    got, kernel = _overlay_variants(a, b)
    assert kernel == {False: False, True: True}  # the branch really differs
    assert got[True] == got[False]
    assert got[False]  # the rect sides do overlap
    want = {}
    for _, x in lp.iterrows():
        for _, y in rp.iterrows():
            ar = round(geom.intersection_area(_rings(x), _rings(y)), 4)
            if ar > 0:
                want[(x.feature_id, y.feature_id)] = ar
    assert got[False] == want


def test_ri_rect_pruning_forced_equals_pruned(spark):
    (_, a), (_, b) = _all_rect_sides(spark)
    got, kernel = _ri_variants(a, b)
    # all-rect sides fold the mask pipeline away unless it is forced back
    assert kernel == {(): False, (0,): True, (1,): True, (0, 1): True}
    assert got[()]
    for sides, pairs in got.items():
        assert pairs == got[()], sides


def test_builds_fire_jobs_only_inside_checkpoint(spark, monkeypatch):
    """overlay_join and intersects_join_ri on general-polygon sides (their
    kernel branches stay in the plan): every job the build fires runs
    inside the checkpoint helper, none outside it."""
    rng = np.random.default_rng(5)
    shapes = [
        (kind, *rng.uniform(100, 1400, 2), *rng.uniform(60, 500, 2))
        for kind in ["oct", "rect"] * 8
    ]
    (_, a), (_, b) = _side(spark, shapes[:8], "L"), _side(spark, shapes[8:], "R")
    sc = spark.sparkContext
    real = spatial.checkpoint
    group = {}

    def tagged(*frames, **stats):
        sc.setJobGroup(group["checkpoint"], group["checkpoint"])
        try:
            return real(*frames, **stats)
        finally:
            sc.setJobGroup(group["build"], group["build"])

    monkeypatch.setattr(spatial, "checkpoint", tagged)
    try:
        for op in (spatial.overlay_join, spatial.intersects_join_ri):
            group.update(build=f"{op.__name__}.build", checkpoint=f"{op.__name__}.checkpoint")
            sc.setJobGroup(group["build"], group["build"])
            df = op(a, b, cell_size=250.0)
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = {k: sc.statusTracker().getJobIdsForGroup(g) for k, g in group.items()}
            assert jobs["build"] == [] and jobs["checkpoint"], (op.__name__, jobs)
            assert _has_kernel(df) and df.count() > 0, op.__name__
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


SHAPE = st.tuples(
    st.sampled_from(["rect", "oct"]),
    st.floats(0, 900, allow_nan=False),
    st.floats(0, 900, allow_nan=False),
    st.floats(40, 420, allow_nan=False),
    st.floats(40, 420, allow_nan=False),
)


EMPTY_VS_MIXED = dict(
    left=[], right=[("oct", 300.0, 300.0, 200.0, 0.0), ("rect", 380.0, 320.0, 150.0, 90.0)]
)


@settings(max_examples=2, deadline=None)
@example(**EMPTY_VS_MIXED, swap=True)
@given(
    st.lists(SHAPE, min_size=0, max_size=5),
    st.lists(SHAPE, min_size=1, max_size=5),
    st.booleans(),
)
def test_branches_agree_on_mixed_sets(spark, left, right, swap):
    """Mixed rect/octagon sides, either of which may be empty (the left one
    may be drawn empty and swap moves it right; an empty right side is
    pinned as an explicit example): pruning forced off on both sides and
    the forced kernel branch equal the defaults, and the defaults equal
    brute force over the exact kernel. Per-side forcing is covered on
    all-rect input above; both-sided forcing subsumes it here."""
    if swap:
        left, right = right, left
    lp, a = _side(spark, left, "L")
    rp, b = _side(spark, right, "R")
    ri, _ = _ri_variants(a, b, variants=((), (0, 1)))
    ov, _ = _overlay_variants(a, b)
    areas = {
        (x.feature_id, y.feature_id): geom.intersection_area(_rings(x), _rings(y))
        for _, x in lp.iterrows()
        for _, y in rp.iterrows()
    }
    for sides, pairs in ri.items():
        assert pairs == {k for k, v in areas.items() if v > 1e-9}, sides
    assert ov[True] == ov[False]
    assert ov[False] == {k: round(v, 4) for k, v in areas.items() if round(v, 4) > 0}
