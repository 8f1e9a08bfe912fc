"""Round-4 regression pins (VERDICT r3 items 2/6/7 + ADVICE r3 items 1-5):

- pq_topk guards the query-set size BEFORE the driver-side collect and
  derives its mapInPandas schema from the actual id dtypes
- pq_topk / ivf_topk codebook training draws a seeded sample through a
  deterministic pmod(xxhash64) filter predicate (scan pruning at scale,
  independent of partition layout — deliberately NOT a Catalyst Sample
  node, whose per-partition seeding would tie the draw to layout)
- empty-input guards: pq_topk dim probe, _train_sample_pdf
- feature_cover_pdf covers are CONTAINMENT-conservative: boundary-aligned
  zero-width cells stay in the cover on both the rect fast path and the
  eps-expanded clip path (an inclusive-boundary point floors into them)

The decontamination and sequence-packing pins live in test_decontaminate.py
and test_doc_pack.py; the kNN ones (duplicate query ids, empty targets) in
test_skew_and_bucketing.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lagespark.operators import similarity, spatial


def _vec_df(spark, n, dim, id_type="long", seed=0, prefix="v"):
    rng = np.random.default_rng(seed)
    mat = rng.normal(size=(n, dim))
    rows = []
    for i in range(n):
        vid = i if id_type == "long" else f"{prefix}{i:04d}"
        rows.append((vid, [float(x) for x in mat[i]]))
    return spark.createDataFrame(
        rows, f"vec_id {id_type}, embedding array<double>"
    )


def test_pq_topk_query_bound_checked_before_collect(spark, monkeypatch):
    """Oversized query set must raise from a count(), not after a driver
    collect (VERDICT r3 what's-wrong #1)."""
    targets = _vec_df(spark, 64, 8, seed=1)
    queries = _vec_df(spark, 50, 8, seed=2)
    monkeypatch.setattr(similarity, "MAX_EXACT_TARGET_ROWS", 10)

    collected = []
    orig = type(queries).toPandas

    def spy(self, *a, **kw):
        collected.append(self.columns)
        return orig(self, *a, **kw)

    monkeypatch.setattr(type(queries), "toPandas", spy)
    with pytest.raises(ValueError, match="broadcast bound"):
        similarity.pq_topk(queries, targets, k=2, m_sub=4, ks=8)
    # the only collects allowed before the raise are codebook TRAINING
    # draws (vector column only) — never the query id+vector frame
    assert ["vec_id", "embedding"] not in collected


def test_pq_topk_string_ids(spark):
    """Schema follows the id dtype (ADVICE r3 #4): string image_ids work."""
    targets = _vec_df(spark, 64, 8, id_type="string", seed=3)
    queries = _vec_df(spark, 5, 8, id_type="string", seed=3)  # same ids v0000..
    out = similarity.pq_topk(
        queries, targets, k=2, m_sub=4, ks=8, rerank=16
    )
    assert dict(out.dtypes)["qid"] == "string"
    assert dict(out.dtypes)["nn_id"] == "string"
    rows = out.collect()
    assert len(rows) == 10  # 5 queries × k=2
    assert all(r.qid != r.nn_id for r in rows)


def test_pq_topk_empty_targets_raises(spark):
    empty = _vec_df(spark, 64, 8).filter(F.col("vec_id") < 0)
    queries = _vec_df(spark, 3, 8)
    with pytest.raises(ValueError, match="empty"):
        similarity.pq_topk(queries, empty, k=2, m_sub=4, ks=8)


def test_train_sample_prunes_scan_and_is_layout_independent(spark):
    """n >> train_rows → the training draw prunes via a deterministic hash
    filter BEFORE the rank (VERDICT r3 next #6) and returns the SAME rows
    regardless of partition layout (df.sample seeds per partition and was
    rejected for exactly that reason)."""
    df = _vec_df(spark, 1200, 8, seed=7)
    a = similarity._train_sample_pdf(df, "vec_id", "embedding", 50, seed=42)
    b = similarity._train_sample_pdf(
        df.repartition(17), "vec_id", "embedding", 50, seed=42
    )
    assert len(a) == 50
    assert [list(v) for v in a["embedding"]] == [list(v) for v in b["embedding"]]
    # the pruning predicate reaches the plan for oversized tables
    base = df.select("vec_id", "embedding")
    h = F.xxhash64(F.col("vec_id").cast("string"), F.lit(42))
    k = int(1200 // (4.0 * 50))
    plan = base.filter(F.pmod(h, F.lit(k)) == 0)._jdf.queryExecution().executedPlan().toString()
    assert "pmod" in plan and "xxhash64" in plan


def test_train_sample_empty_raises(spark):
    empty = _vec_df(spark, 8, 8).filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty"):
        similarity._train_sample_pdf(empty, "vec_id", "embedding", 50, seed=1)


def _rect_featureset(xmin, ymin, xmax, ymax):
    ring = [
        {"x": xmin, "y": ymin},
        {"x": xmax, "y": ymin},
        {"x": xmax, "y": ymax},
        {"x": xmin, "y": ymax},
    ]
    pdf = pd.DataFrame(
        {
            "feature_id": ["r1"],
            "rings": [[ring]],
            "xmin": [xmin],
            "ymin": [ymin],
            "xmax": [xmax],
            "ymax": [ymax],
        }
    )
    return spatial.FeatureSet(pdf)


def test_cover_keeps_boundary_cells_for_inclusive_pip():
    """Covers are CONTAINMENT-conservative, not area-minimal: a point lying
    exactly on a grid-aligned high edge (x == xmax == i*cs) floors into the
    NEXT cell over, so that zero-area-overlap cell must stay in the cover —
    for the rect fast path AND the general clip path (ADVICE r3 #3 proposed
    trimming them; the trim was reverted after review because it silently
    drops boundary points from pip joins)."""
    from lagespark.kernels import cells

    # rect path: grid-aligned rect
    feats = _rect_featureset(0.0, 0.0, 20.0, 10.0)
    cov = spatial.feature_cover_pdf(feats, cell_size=10.0, exact=True)
    ci, cj = cells.grid_decode(cov["cell"].to_numpy())
    got = set(zip(ci.tolist(), cj.tolist()))
    # the boundary point (20.0, 10.0) is INSIDE the closed rect and floors
    # into cell (2, 1) — every cell a contained point can floor into is kept
    bx, by = np.float64(20.0), np.float64(10.0)
    assert (int(bx // 10), int(by // 10)) in got
    assert {(0, 0), (1, 0)} <= got

    # general clip path: a grid-aligned TRIANGLE with its vertical edge on
    # x == 20 (not an axis rect → exercises the eps-expanded clip test)
    ring = [{"x": 0.0, "y": 0.0}, {"x": 20.0, "y": 0.0}, {"x": 20.0, "y": 10.0}]
    pdf = pd.DataFrame(
        {"feature_id": ["t1"], "rings": [[ring]], "xmin": [0.0], "ymin": [0.0],
         "xmax": [20.0], "ymax": [10.0]}
    )
    cov2 = spatial.feature_cover_pdf(spatial.FeatureSet(pdf), cell_size=10.0, exact=True)
    ci2, cj2 = cells.grid_decode(cov2["cell"].to_numpy())
    got2 = set(zip(ci2.tolist(), cj2.tolist()))
    # (20.0, 5.0) is ON the triangle's edge (inclusive containment) and
    # floors into cell (2, 0) — the zero-width-touch cell must be kept
    assert (2, 0) in got2


def test_rect_cover_unaligned_keeps_full_bbox():
    """A rect strictly inside its boundary cells keeps the whole bbox cover."""
    feats = _rect_featureset(1.0, 1.0, 19.0, 9.0)
    cov = spatial.feature_cover_pdf(feats, cell_size=10.0, exact=True)
    assert len(cov) == 2  # i in {0,1}, j = 0


# ---------------------------------------------------------------------------
# native (pure-Catalyst) S2 encode — round-4 q57 oracle path
# ---------------------------------------------------------------------------


def test_s2_native_matches_numpy_kernel(spark):
    """with_s2_cell_native must reproduce cells.s2_encode bit-for-bit on
    the harness domain AND a global fuzz across all 6 cube faces (the SQL
    step chain replays the numpy kernel's exact double-op order)."""
    import numpy as np
    import pandas as pd

    from lagespark.kernels import cells

    rng = np.random.default_rng(3)
    lat = np.concatenate(
        [52.0 + rng.uniform(0, 0.09, 4000), rng.uniform(-89.9, 89.9, 4000)]
    )
    lon = np.concatenate(
        [13.0 + rng.uniform(0, 0.09, 4000), rng.uniform(-179.9, 179.9, 4000)]
    )
    want = cells.s2_encode(lat, lon, 15)
    pdf = pd.DataFrame({"k": np.arange(len(lat)), "lat": lat, "lon": lon})
    df = spark.createDataFrame(pdf)
    got = (
        spatial.with_s2_cell_native(df, "lat", "lon", 15)
        .orderBy("k")
        .select("cell_s2")
        .toPandas()["cell_s2"]
        .to_numpy()
    )
    assert (got == want).all()


def test_s2_native_plan_has_no_python_udf(spark):
    """The native encode stays inside whole-stage codegen: no
    ArrowEvalPython / BatchEvalPython node may appear in the plan."""
    import io
    from contextlib import redirect_stdout

    df = spark.range(0, 100).selectExpr(
        "cast(id as double) / 100 + 52.0 as lat",
        "cast(id as double) / 100 + 13.0 as lon",
    )
    out = spatial.with_s2_cell_native(df, "lat", "lon", 15)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "EvalPython" not in plan  # no ArrowEvalPython/BatchEvalPython
    assert "codegen id" in plan  # formatted mode marks codegen stages this way
