"""Plan-shape tests (SURVEY.md §5 item 7): the optimizations the engine
relies on at 100 TB must be VISIBLE in the physical plan — predicate pushdown
to parquet, column pruning, broadcast joins on the spatial dims, partition
pruning on checkpointed stages."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

SF = "/root/testdata/sf0.001"


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet(spark):
    from lagespark import harness

    p = plan_of(harness.QUERIES["q02-filter"](spark, SF))
    assert "PushedFilters" in p
    assert "l_quantity" in p.split("PushedFilters")[1].splitlines()[0]


def test_column_pruning_on_flagship(spark):
    from lagespark import harness

    p = plan_of(harness.QUERIES["q55-geo-score"](spark, SF))
    # the scan must read ONLY the 4 key columns the point synthesis needs
    read = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read and "l_partkey" in read
    assert "l_extendedprice" not in read and "l_shipdate" not in read


def test_spatial_join_is_broadcast(spark):
    from lagespark import harness

    p = plan_of(harness.QUERIES["q51-geo-pip"](spark, SF))
    assert "BroadcastHashJoin" in p, "cover join must broadcast, not shuffle"
    assert "ArrowEvalPython" in p, "exact PIP must run as Arrow-batched UDF"
    assert "SortMergeJoin" not in p


def test_relational_broadcast_hint(spark):
    from lagespark import harness

    p = plan_of(harness.QUERIES["q14-join-bcast"](spark, SF))
    assert "BroadcastHashJoin" in p


def test_partition_pruning_on_checkpoint(spark, tmp_path):
    """Checkpointed stage layout must prune partitions on read — the
    mechanism both resume and spatial range queries rely on."""
    from pyspark.sql import functions as F

    from lagespark.operators import image_ops, spatial

    out = str(tmp_path / "imgs")
    imgs = image_ops.generate_images(spark, 200, 4)
    imgs = spatial.with_grid_cell(imgs)
    imgs = imgs.withColumn(
        "cell_prefix", F.pmod(F.floor(F.col("x") / 1000.0), 16).cast("int")
    )
    imgs.write.partitionBy("cell_prefix").parquet(out)
    pruned = spark.read.parquet(out).filter(F.col("cell_prefix") == 3)
    p = plan_of(pruned)
    assert "PartitionFilters" in p
    seg = p.split("PartitionFilters")[1].splitlines()[0]
    assert "cell_prefix" in seg


def test_whole_stage_codegen_on_native_path(spark):
    """The native cell-id path (q50) must stay inside whole-stage codegen —
    no Python in the hot loop."""
    from lagespark import harness

    df = harness.QUERIES["q50-geo-cell"](spark, SF)
    p = plan_of(df, "simple")
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    c = plan_of(df, "codegen")
    assert "WholeStageCodegen" in c


def test_asof_join_is_native_window(spark):
    """q17's as-of join must be one native window pass — no Python workers
    anywhere in the plan (the grouped-map variant it replaced would show
    FlatMapGroupsInPandas)."""
    from lagespark import harness

    p = plan_of(harness.QUERIES["q17-join-asof"](spark, SF), "simple")
    assert "FlatMapGroupsInPandas" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "Window" in p


def test_ri_rect_masks_native_equals_kernel(spark):
    """The native (Catalyst) rect mask arithmetic must produce EXACTLY the
    masks the clip kernel produces: encode the same rectangles once as
    4-vertex rings (native path) and once as 5-vertex rings with a split
    edge (geometrically identical, fails the rect gate → kernel path) and
    compare per-(feature, cell) masks."""
    import pandas as pd

    from lagespark.operators import spatial

    rects = [(0.0, 0.0, 310.0, 260.0), (100.0, 120.0, 480.0, 130.0),
             (250.0, 250.0, 500.0, 500.0), (10.0, 10.0, 20.0, 490.0)]

    def pt(x, y):
        return {"x": x, "y": y}

    rows4, rows5 = [], []
    for i, (x0, y0, x1, y1) in enumerate(rects):
        mx = (x0 + x1) / 2
        rows4.append((str(i), [[pt(x0, y0), pt(x1, y0), pt(x1, y1), pt(x0, y1)]],
                      x0, y0, x1, y1))
        rows5.append((str(i), [[pt(x0, y0), pt(mx, y0), pt(x1, y0), pt(x1, y1), pt(x0, y1)]],
                      x0, y0, x1, y1))
    cols = ["feature_id", "rings", "xmin", "ymin", "xmax", "ymax"]
    f4 = spark.createDataFrame(pd.DataFrame(rows4, columns=cols))
    f5 = spark.createDataFrame(pd.DataFrame(rows5, columns=cols))
    m4 = spatial.ri_masks(f4, cell_size=250.0, sub=4).toPandas()
    m5 = spatial.ri_masks(f5, cell_size=250.0, sub=4).toPandas()
    assert m4["rect"].all() and not m5["rect"].any()  # paths actually differ
    k4 = {(r.id, r.cell): (r.a_mask, r.f_mask) for r in m4.itertuples()}
    k5 = {(r.id, r.cell): (r.a_mask, r.f_mask) for r in m5.itertuples()}
    assert k4 == k5, "native rect masks diverge from the clip kernel"


def test_overlay_join_cover_explosion_is_native(spark, monkeypatch):
    """The distributed overlay join's cover explosion must be native
    (sequence/explode in codegen) — Python appears only at the final exact
    kernel, after the cell join + prefilters + rect fast path. Inspected
    through the checkpoint helper's seam (the production checkpoint
    replaces the upstream plan with an RDD scan in explain output): the
    pair frame comes back unmaterialized and reports one general pair, so
    the kernel branch is planned over the full pair plan."""
    from lagespark import harness
    from lagespark.operators import spatial

    def seam(*frames, **stats):
        return [(f, {"n_gen": 1}) for f in frames]

    a = harness._rect_features(spark, SF, 17)
    b = harness._rect_features(spark, SF, 19)
    with monkeypatch.context() as mp:
        mp.setattr(spatial, "checkpoint", seam)
        df = spatial.overlay_join(a, b, cell_size=250.0, round_to=2)
    p = plan_of(df, "simple")
    # exactly one Arrow UDF node (the exact-area kernel, general-pair branch)
    assert p.count("ArrowEvalPython") == 1
    # fed by a round-robin exchange to ONE task per core: every Python-worker
    # task costs a fixed start-up, so the kernel is not oversubscribed
    m = re.search(r"Exchange (\w+)\((\d+)\)", p.split("ArrowEvalPython", 1)[1])
    assert m.groups() == ("RoundRobinPartitioning", str(spark.sparkContext.defaultParallelism))
    assert "Generate explode" in p  # native cover explosion
    # the registered q68 is ALL-RECT input: with the round-8 data-adaptive
    # elision the kernel branch is dropped entirely — zero Python nodes,
    # pure codegen end-to-end (the general-pair count rides the pair
    # checkpoint's own job)
    p2 = plan_of(harness.QUERIES["q68-geo-overlay-join"](spark, SF), "simple")
    assert p2.count("ArrowEvalPython") == 0
    assert "Union" not in p2  # single native rect branch
