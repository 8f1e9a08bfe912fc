"""Cell-indexed spatial operators (SURVEY.md §2.3).

Design (scale-first):
  * The fact side (points / image records) is indexed with a cell id computed
    by NATIVE Catalyst arithmetic (grid or S2 index) — the cell id is the
    shuffle/broadcast join key.
  * Feature sets (construction / compensatory / protected polygons) are
    config-scale (thousands, not billions): their covers are built driver-side
    and BROADCAST; the polygon coordinate arrays ride to executors inside the
    UDF closure (serialized once per task, not per row).
  * Exact geometry runs as vectorized numpy kernels over Arrow batches —
    never per-row Python (BASELINE.json:15).

At 100 TB the points table dominates; every operator here touches it with
(a) a pushable native filter or (b) one cell equi-join against a broadcast
dim, so there is no fact-side shuffle at all in the PIP/zone/score path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, IntegerType

from lagespark.kernels import cells, geom
from lagespark.operators.checkpoint import checkpoint

# ---------------------------------------------------------------------------
# feature representation (driver-side, broadcastable)
# ---------------------------------------------------------------------------


class FeatureSet:
    """Small polygon collection: feature_id → rings (numpy) + attributes.

    Built from a pandas DataFrame in the fixture encoding (rings = list of
    list of {x,y}). Deliberately a plain picklable object so pandas-UDF
    closures capture it and Spark ships it once per task.
    """

    def __init__(self, pdf: pd.DataFrame):
        self.ids: list[str] = list(pdf["feature_id"])
        self.rings: dict[str, list[np.ndarray]] = {}
        self.bbox: dict[str, tuple[float, float, float, float]] = {}
        self.attrs = pdf.drop(columns=["rings"]).set_index("feature_id")
        for row in pdf.itertuples(index=False):
            rr = [
                np.array([[p["x"], p["y"]] for p in ring], dtype=np.float64)
                for ring in row.rings
            ]
            self.rings[row.feature_id] = rr
            self.bbox[row.feature_id] = (row.xmin, row.ymin, row.xmax, row.ymax)

    def polys(self) -> list[list[np.ndarray]]:
        return [self.rings[i] for i in self.ids]


# ---------------------------------------------------------------------------
# cell indexing (geo-cell)
# ---------------------------------------------------------------------------


def with_grid_cell(
    df: DataFrame, x: str = "x", y: str = "y", cell_size: float = 250.0, out: str = "cell"
) -> DataFrame:
    """Planar grid cell id as a NATIVE Catalyst expression — stays inside
    whole-stage codegen, no Python worker, and is pushdown/prune friendly."""
    return df.withColumn(
        out,
        (F.floor(F.col(x) / F.lit(cell_size)).cast("long") + cells.GRID_OFF)
        * F.lit(1 << cells.GRID_SHIFT)
        + (F.floor(F.col(y) / F.lit(cell_size)).cast("long") + cells.GRID_OFF),
    )


def with_s2_cell_native(
    df: DataFrame, lat: str = "lat", lon: str = "lon", level: int = 15, out: str = "cell_s2"
) -> DataFrame:
    """PURE-CATALYST S2 encode — no Python worker on the hot path: the
    whole face-projection + quadratic-st + bit-interleave chain runs inside
    whole-stage codegen (cells.s2_cell_sql_steps replays the numpy kernel's
    exact double-op order; parity vs s2_encode is test-pinned, and the same
    step chain is the DuckDB oracle)."""
    steps = cells.s2_cell_sql_steps(lat, lon, level, "spark")
    tmp = [name for name, _ in steps if name != "cell_s2"]
    # the fixed _s2* step names are written-then-dropped: an input column
    # with one of those names would be silently clobbered and removed
    clash = set(tmp) & set(df.columns)
    if clash:
        raise ValueError(
            f"with_s2_cell_native: input columns collide with its internal "
            f"step names {sorted(clash)}; rename them first"
        )
    for name, expr in steps:
        df = df.withColumn(name if name != "cell_s2" else out, F.expr(expr))
    return df.drop(*tmp)


# ---------------------------------------------------------------------------
# polygon cell cover (geo-cover)
# ---------------------------------------------------------------------------


def _np_axis_rect(rings, xmin, ymin, xmax, ymax) -> bool:
    """numpy mirror of _is_axis_rect (the Catalyst gate): one 4-vertex ring
    with axis-aligned edges hitting each bbox corner exactly once."""
    if len(rings) != 1 or len(rings[0]) != 4 or xmax <= xmin or ymax <= ymin:
        return False
    xs, ys = rings[0][:, 0], rings[0][:, 1]
    for i in range(4):
        j = (i + 1) % 4
        if (xs[i] == xs[j]) == (ys[i] == ys[j]):
            return False
    return bool(
        (xs == xmin).sum() == 2 and (xs == xmax).sum() == 2
        and (ys == ymin).sum() == 2 and (ys == ymax).sum() == 2
    )


def feature_cover_pdf(
    feats: FeatureSet, cell_size: float = 250.0, pad: float = 0.0, exact: bool = True
) -> pd.DataFrame:
    """(feature_id, cell) cover rows, driver-side (features are config-scale).
    Conservative: every cell whose rectangle intersects the (padded) polygon.
    With exact=True, bbox-cover cells that provably miss the polygon are
    dropped (clip test) — smaller broadcast, same correctness."""
    out_f: list[str] = []
    out_c: list[int] = []
    # CONTAINMENT-CONSERVATIVE contract: for every point p with an inclusive
    # containment test (point_in_ring uses >=), cell(p) = floor(p/cs) must
    # be in the cover. A point exactly ON a grid-aligned high edge
    # (x == xmax == i*cs) floors into the NEXT cell over, whose overlap
    # with the polygon has zero area — so zero-width boundary cells must be
    # KEPT, not trimmed (a round-4 "minimal cover" trim dropped them and
    # was reverted; the clip test below expands the cell by eps for the
    # same reason).
    clip_eps = 1e-9 * cell_size
    for fid in feats.ids:
        xmin, ymin, xmax, ymax = feats.bbox[fid]
        cand = cells.grid_cover_bbox(xmin, ymin, xmax, ymax, cell_size, pad=pad)
        if exact and pad == 0.0:
            outer = feats.rings[fid][0]
            if _np_axis_rect(feats.rings[fid], xmin, ymin, xmax, ymax):
                # an axis rect IS its bbox: the bbox cover is already exact
                # AND boundary-inclusive (grid_cover_bbox floors xmax, which
                # is precisely the cell a high-edge point floors into) —
                # skips len(cand) Sutherland–Hodgman clips per feature, the
                # dominant driver-side cost for large rect sets
                pass
            else:
                keep = []
                for c in cand:
                    i, j = cells.grid_decode(np.array([c]))
                    x0, y0 = float(i[0]) * cell_size, float(j[0]) * cell_size
                    # eps-expanded cell: keeps cells the polygon only
                    # TOUCHES (zero-area overlap along a shared grid line),
                    # where an inclusive-boundary point can still land
                    rect = np.array(
                        [
                            [x0 - clip_eps, y0 - clip_eps],
                            [x0 + cell_size + clip_eps, y0 - clip_eps],
                            [x0 + cell_size + clip_eps, y0 + cell_size + clip_eps],
                            [x0 - clip_eps, y0 + cell_size + clip_eps],
                        ]
                    )
                    if geom.clip_area(outer, rect) > 0.0:
                        keep.append(int(c))
                cand = np.array(keep, dtype=np.int64)
        out_f.extend([fid] * len(cand))
        out_c.extend(int(c) for c in cand)
    return pd.DataFrame({"feature_id": out_f, "cell": pd.array(out_c, dtype="int64")})


def feature_cover_df(
    spark: SparkSession, feats: FeatureSet, cell_size: float = 250.0, pad: float = 0.0
) -> DataFrame:
    return spark.createDataFrame(feature_cover_pdf(feats, cell_size, pad))


# ---------------------------------------------------------------------------
# point-in-polygon join (geo-pip)
# ---------------------------------------------------------------------------


def pip_join(
    points: DataFrame,
    feats: FeatureSet,
    x: str = "x",
    y: str = "y",
    cell_size: float = 250.0,
) -> DataFrame:
    """points ⋈ features on containment. Plan: native cell id → broadcast
    equi-join with the feature cover (prefilter) → exact ray-cast kernel in a
    vectorized pandas UDF. Fact side is never shuffled."""
    spark = points.sparkSession
    pts = with_grid_cell(points, x, y, cell_size)
    cover = F.broadcast(feature_cover_df(spark, feats, cell_size))
    cand = pts.join(cover, "cell")

    rings = feats.rings  # closure-captured, shipped once per task

    @F.pandas_udf(BooleanType())
    def inside(xs: pd.Series, ys: pd.Series, fid: pd.Series) -> pd.Series:
        xv = xs.to_numpy(dtype=np.float64)
        yv = ys.to_numpy(dtype=np.float64)
        res = np.zeros(len(xv), dtype=bool)
        for f, idx in pd.Series(range(len(fid))).groupby(fid.to_numpy()):
            ii = idx.to_numpy()
            res[ii] = geom.point_in_polygon(xv[ii], yv[ii], rings[f])
        return pd.Series(res)

    return cand.filter(inside(F.col(x), F.col(y), F.col("feature_id"))).drop("cell")


def s2_feature_cover_df(
    spark: SparkSession, feats: FeatureSet, level: int = 15, exact: bool = True
) -> DataFrame:
    """(feature_id, cell_s2) cover via the S2 index: planar bboxes go through
    the engine CRS affine to lat/lon, then to a conservative ij-range cover
    (kernels.cells.s2_cover_bbox). With exact=True, the EXACT polyfill: each
    candidate cell's spherical footprint is mapped back to planar meters and
    clip-tested against the polygon outer ring — cells that provably miss the
    feature are dropped (same test as the grid path's exact cover). The
    footprint bbox comes from BOUNDARY SAMPLES (corners + edge midpoints,
    s2_cell_boundary) so edge curvature under the CRS affine is bounded by
    the inter-sample residual, and a conservative 1% per-side pad absorbs
    that residual with orders of magnitude to spare (property-tested across
    levels in tests/test_kernels_cells.py: the exact cover contains every
    cell hit by encoded interior points)."""
    from lagespark import fixtures

    out_f: list[str] = []
    out_c: list[int] = []
    for fid in feats.ids:
        xmin, ymin, xmax, ymax = feats.bbox[fid]
        lon0, lat0 = fixtures.xy_to_lonlat(np.array([xmin]), np.array([ymin]))
        lon1, lat1 = fixtures.xy_to_lonlat(np.array([xmax]), np.array([ymax]))
        cc = cells.s2_cover_bbox(
            float(lat0[0]), float(lon0[0]), float(lat1[0]), float(lon1[0]), level
        )
        if exact and len(cc):
            clat, clon = cells.s2_cell_boundary(cc, samples_per_edge=2)  # (N, 8)
            cx, cy = fixtures.lonlat_to_xy(clon, clat)
            outer = feats.rings[fid][0]
            keep = []
            for k in range(len(cc)):
                x0, x1 = float(cx[k].min()), float(cx[k].max())
                y0, y1 = float(cy[k].min()), float(cy[k].max())
                px, py = (x1 - x0) * 0.01, (y1 - y0) * 0.01
                rect = np.array(
                    [
                        [x0 - px, y0 - py],
                        [x1 + px, y0 - py],
                        [x1 + px, y1 + py],
                        [x0 - px, y1 + py],
                    ]
                )
                if geom.clip_area(outer, rect) > 0.0:
                    keep.append(int(cc[k]))
            cc = np.array(keep, dtype=np.int64)
        out_f.extend([fid] * len(cc))
        out_c.extend(int(c) for c in cc)
    return spark.createDataFrame(
        pd.DataFrame({"feature_id": out_f, "cell_s2": pd.array(out_c, dtype="int64")})
    )


def pip_join_s2(
    points: DataFrame,
    feats: FeatureSet,
    x: str = "x",
    y: str = "y",
    lat: str = "lat",
    lon: str = "lon",
    level: int = 15,
) -> DataFrame:
    """pip_join with the S2-family sphere index as THE join key
    (BASELINE.json:6: records keyed by H3-res-9/S2 cells): points get their
    level-15 cell from (lat, lon) via the vectorized encoder; polygon covers
    come from the same index; exact ray-cast filter in planar meters."""
    spark = points.sparkSession
    # native encode (round 4): the point-side cell id stays inside
    # whole-stage codegen — no Python crossing before the exact filter
    pts = with_s2_cell_native(points, lat, lon, level)
    cover = F.broadcast(s2_feature_cover_df(spark, feats, level))
    cand = pts.join(cover, "cell_s2")

    rings = feats.rings

    @F.pandas_udf(BooleanType())
    def inside(xs: pd.Series, ys: pd.Series, fid: pd.Series) -> pd.Series:
        xv = xs.to_numpy(dtype=np.float64)
        yv = ys.to_numpy(dtype=np.float64)
        res = np.zeros(len(xv), dtype=bool)
        for f, idx in pd.Series(range(len(fid))).groupby(fid.to_numpy()):
            ii = idx.to_numpy()
            res[ii] = geom.point_in_polygon(xv[ii], yv[ii], rings[f])
        return pd.Series(res)

    return cand.filter(inside(F.col(x), F.col(y), F.col("feature_id"))).drop("cell_s2")


# ---------------------------------------------------------------------------
# distance / Lagefaktor zone (geo-buffer applied to points)
# ---------------------------------------------------------------------------


def with_min_dist(
    df: DataFrame,
    feats: FeatureSet,
    x: str = "x",
    y: str = "y",
    out: str = "dist",
) -> DataFrame:
    polys = feats.polys()

    @F.pandas_udf(DoubleType())
    def dist(xs: pd.Series, ys: pd.Series) -> pd.Series:
        return pd.Series(
            geom.min_dist_to_polygons(
                xs.to_numpy(dtype=np.float64), ys.to_numpy(dtype=np.float64), polys
            )
        )

    # asNondeterministic: stops Catalyst pushing derived predicates (e.g. a
    # downstream join's isnotnull) below joins, which would re-run the kernel
    # over the full fact table instead of the join survivors
    dist = dist.asNondeterministic()
    return df.withColumn(out, dist(F.col(x), F.col(y)))


def with_zone(
    df: DataFrame,
    feats: FeatureSet,
    thresholds: tuple[float, ...] = (100.0, 625.0),
    x: str = "x",
    y: str = "y",
    out: str = "zone",
) -> DataFrame:
    """Lagefaktor distance band per point (BASELINE.json:6: <100 m, <625 m,
    >625 m) — exact distances, vectorized."""
    polys = feats.polys()

    @F.pandas_udf(IntegerType())
    def zone(xs: pd.Series, ys: pd.Series) -> pd.Series:
        return pd.Series(
            geom.zone_of_points(
                xs.to_numpy(dtype=np.float64),
                ys.to_numpy(dtype=np.float64),
                polys,
                thresholds,
            )
        )

    # see with_min_dist: prevents kernel duplication via predicate pushdown
    zone = zone.asNondeterministic()
    return df.withColumn(out, zone(F.col(x), F.col(y)))


# ---------------------------------------------------------------------------
# scoring aggregation (geo-score) — pure Catalyst
# ---------------------------------------------------------------------------


def score_points(
    assigned: DataFrame,
    factors: DataFrame,
    value_col: str = "compensatory_value",
    weight_col: str | None = None,
) -> DataFrame:
    """Per-feature, per-zone Lagefaktor score over assigned points:
    score = Σ value × lagefaktor (× weight). Pure groupBy/agg — map-side
    partial aggregation + broadcast of the 3-row factors table."""
    w = F.col(value_col) * F.col("lagefaktor")
    if weight_col:
        w = w * F.col(weight_col)
    return (
        assigned.join(F.broadcast(factors), "zone")
        .groupBy("feature_id", "zone")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.sum(w), 6).alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# within-distance join (geo-range-join) and kNN (geo-knn)
# ---------------------------------------------------------------------------


def range_join(
    left: DataFrame,
    right: DataFrame,
    d: float,
    cell_size: float = 250.0,
    lsuffix: str = "_l",
    rsuffix: str = "_r",
    left_id: str = "id",
    right_id: str = "id",
) -> DataFrame:
    """Pairs (l, r) with euclidean distance < d. Left side gets its cell
    EXPLODED to the Chebyshev-k neighbor disk (k = ceil(d / cell_size)),
    right side keeps one cell → equi-join on cell → exact distance filter.
    Exploding the smaller/left side keeps the big side shuffle-minimal."""
    k = int(np.ceil(d / cell_size))
    offs = [(i, j) for i in range(-k, k + 1) for j in range(-k, k + 1)]
    li = F.floor(F.col("x") / F.lit(cell_size)).cast("long")
    lj = F.floor(F.col("y") / F.lit(cell_size)).cast("long")
    neigh = F.array(
        *[
            ((li + di + cells.GRID_OFF) * (1 << cells.GRID_SHIFT) + (lj + dj + cells.GRID_OFF))
            for di, dj in offs
        ]
    )
    l = (
        left.select(
            F.col(left_id).alias(f"{left_id}{lsuffix}"),
            F.col("x").alias(f"x{lsuffix}"),
            F.col("y").alias(f"y{lsuffix}"),
            F.explode(neigh).alias("cell"),
        )
    )
    r = with_grid_cell(right, "x", "y", cell_size).select(
        F.col(right_id).alias(f"{right_id}{rsuffix}"),
        F.col("x").alias(f"x{rsuffix}"),
        F.col("y").alias(f"y{rsuffix}"),
        "cell",
    )
    dist = F.sqrt(
        (F.col(f"x{lsuffix}") - F.col(f"x{rsuffix}")) ** 2
        + (F.col(f"y{lsuffix}") - F.col(f"y{rsuffix}")) ** 2
    )
    return l.join(r, "cell").where(dist < d).drop("cell").withColumn("dist", F.round(dist, 6))


def knn_auto_cell_size(stats: dict, k: int, per_disk: float = 16.0) -> float:
    """Density-adaptive grid size for knn_join_points, from the target
    base's checkpoint stats (n, x0, x1, y0, y1): pick the cell so the
    radius-1 disk (9 cells) holds ≈ per_disk·k targets. per_disk trades
    candidate volume against round count: the round-1 closure test needs
    the k-th distance under one cell size, and the k-th neighbor sits at
    ~sqrt(k/(π·density)), so per_disk·k ≳ 40 closes almost every query in
    round 1 while still generating orders of magnitude fewer candidates than
    a fixed cell on dense data (a fixed 250 m cell at 100× density would
    put tens of thousands of candidates in every disk). Empty or degenerate
    (zero-area) targets get the default 250.0."""
    if not stats["n"]:
        # empty targets: min/max are None — bail before the arithmetic
        return 250.0
    area = (stats["x1"] - stats["x0"]) * (stats["y1"] - stats["y0"])
    if area <= 0:
        return 250.0
    density = stats["n"] / area
    return float(np.clip(np.sqrt(per_disk * k / (9.0 * density)), 1e-6, 1e7))


def knn_join_points(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 3,
    cell_size: float | None = None,
    id_col: str = "pid",
    x: str = "x",
    y: str = "y",
    round_to: int = 6,
    max_rounds: int = 6,
) -> DataFrame:
    """EXACT k-nearest-neighbor join between two DATA-SCALE point sets
    (neither side broadcastable) — the missing sibling of knn_join (which
    assumes a config-scale feature list). Ring-expansion strategy:

      round i: each still-unfinished query explodes ONLY to the grid cells
      in the NEW annulus — Chebyshev distance in (r_prev, r] of its own
      cell (NATIVE sequence/explode arithmetic; round 0 explodes the full
      radius-1 disk) — equi-joins targets on the cell, unions the
      candidates CARRIED from earlier rounds (a query's previous top-k
      dominates every other previously-seen candidate, so carrying top-k is
      lossless), and ranks by (rounded distance, id). A query is DONE when
      its rank-k distance < r·cell_size — no point in an unexplored cell
      can beat that (cells at Chebyshev distance > r are ≥ r·cell_size
      away). Unfinished queries continue with r doubled.

    Every Spark job the build fires is an eager checkpoint whose stats feed
    a decision (operators.checkpoint): the target base (its count and bbox
    pick the automatic cell), the deduplicated query set (its count), and
    ONE per round — the round's top-k, whose own job counts the queries it
    closed. The loop stops when those counts reach the query count.

    Scale shape: each round is one shuffle keyed on uniform cell ids; the
    target side is never replicated (queries explode, targets don't); only
    unfinished queries pay for wider rings, and each cell is explored
    exactly ONCE per query (the annulus never re-explodes the inner disk —
    with radius doubling, full-disk re-explosion would make the last round
    redo ~4× the total useful work). Returns (qid, nn_id, dist, rank).
    Ties break deterministically on (dist, id). Queries with fewer than k
    reachable targets after max_rounds return what exists. cell_size=None
    (default) derives the grid from target density (knn_auto_cell_size) —
    the result is cell-size-independent, only round counts change."""
    from pyspark.sql import Window

    # ONE query row per id: duplicate qids (synthesized keys are not unique
    # — CLAUDE.md) would duplicate every candidate inside the per-qid window
    # and corrupt ranks (rank 2 becomes a repeat of rank 1, pushing the true
    # k-th neighbor out). Deterministic pick: INDEPENDENT per-column MINs —
    # the repo-wide dedup convention (oracles.POINTS_SELECT, points_df), so
    # an oracle deduping the same way sees the same coordinates. The unique
    # qids also make the closed-query counts below exact.
    q0 = (
        queries.select(F.col(id_col).alias("id"), F.col(x).alias("x"), F.col(y).alias("y"))
        .groupBy("id")
        .agg(F.min("x").alias("x"), F.min("y").alias("y"))
    )
    # the skinny target base is re-joined in EVERY expansion round and the
    # query set feeds every round's pending set, so both are materialized
    # once, in ONE call (their scans overlap); the target count and bbox
    # pick the automatic cell, the query count is the loop's stop target
    (tbase, tstats), (qbase, qstats) = checkpoint(
        targets.select(F.col(id_col).alias("id"), F.col(x).alias("x"), F.col(y).alias("y")),
        q0,
        n=F.count(F.lit(1)),
        x0=F.min("x"),
        x1=F.max("x"),
        y0=F.min("y"),
        y1=F.max("y"),
    )
    if cell_size is None:
        cell_size = knn_auto_cell_size(tstats, k)

    t = with_grid_cell(tbase, "x", "y", cell_size).select(
        F.col("id").alias("nn_id"), F.col("x").alias("tx"), F.col("y").alias("ty"), "cell"
    )
    pending = with_grid_cell(qbase, "x", "y", cell_size).select(
        F.col("id").alias("qid"), F.col("x").alias("qx"), F.col("y").alias("qy"),
        F.col("cell").alias("qcell"),
    )
    n_open = qstats["n"]
    shift = F.lit(1 << cells.GRID_SHIFT)

    def explode_ij(df: DataFrame, iseq, jseq) -> DataFrame:
        return (
            df.select("qid", "qx", "qy", F.explode(iseq).alias("ci"), "qcell")
            .select("qid", "qx", "qy", "ci", F.explode(jseq).alias("cj"))
            .select("qid", "qx", "qy", (F.col("ci") * shift + F.col("cj")).alias("cell"))
        )

    results = None
    carried = None  # (qid, nn_id, dist) top-k so far for still-pending queries
    w = Window.partitionBy("qid").orderBy(F.asc("dist"), F.asc("nn_id"))
    done = F.col("done")
    r, rp = 1, 0
    for _ in range(max_rounds):
        qi = (F.col("qcell") / shift).cast("long")
        qj = F.col("qcell") % shift
        if rp == 0:
            # first round: full (2r+1)² disk
            cand_cells = explode_ij(
                pending, F.sequence(qi - r, qi + r), F.sequence(qj - r, qj + r)
            )
        else:
            # annulus only — cells with Chebyshev distance in (rp, r]:
            # horizontal strips (full i range × new j rows) + vertical
            # strips (new i columns × old j range). concat(sequence,
            # sequence) keeps each strip pair one native explode.
            jnew = F.concat(
                F.sequence(qj - r, qj - rp - 1), F.sequence(qj + rp + 1, qj + r)
            )
            inew = F.concat(
                F.sequence(qi - r, qi - rp - 1), F.sequence(qi + rp + 1, qi + r)
            )
            cand_cells = explode_ij(pending, F.sequence(qi - r, qi + r), jnew).unionByName(
                explode_ij(pending, inew, F.sequence(qj - rp, qj + rp))
            )
        dist = F.round(
            F.sqrt((F.col("qx") - F.col("tx")) ** 2 + (F.col("qy") - F.col("ty")) ** 2),
            round_to,
        )
        new_cand = (
            cand_cells.join(t, "cell")
            .filter(F.col("qid") != F.col("nn_id"))
            .withColumn("dist", dist)
            .select("qid", "nn_id", "dist")
        )
        all_cand = new_cand if carried is None else new_cand.unionByName(carried)
        # STRICT <: a point in an unexplored cell can sit at exactly
        # r·cell_size (lattice coordinates) and tie-break ahead on id. The
        # rank-k distance comes from a second window over the same qid
        # partition (no extra shuffle); a query with < k candidates has no
        # rank-k row and stays open.
        kd = F.max(F.when(F.col("rank") == k, F.col("dist"))).over(Window.partitionBy("qid"))
        # topk is THE round's checkpoint: finished, carried and the next
        # pending set all derive from it, and its own job counts the
        # queries this round closed (one rank-1 row per qid)
        ((topk, st),) = checkpoint(
            all_cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("done", F.coalesce(kd < F.lit(float(r) * cell_size), F.lit(False)))
            .select("qid", "nn_id", "dist", "rank", "done"),
            n_done=F.count_if(done & (F.col("rank") == 1)),
        )
        finished = topk.filter(done).drop("done")
        results = finished if results is None else results.unionByName(finished)
        n_open -= st["n_done"]
        if n_open == 0:
            return results
        pending = pending.join(topk.filter(done).select("qid"), "qid", "left_anti")
        # carry the pending queries' current top-k into the next round
        carried = topk.filter(~done).select("qid", "nn_id", "dist")
        rp, r = r, r * 2
    # max_rounds exhausted: emit best-effort for the stragglers (sparse data)
    return results.unionByName(topk.filter(~done).drop("done"))


def knn_join(
    queries: DataFrame,
    targets: FeatureSet,
    k: int = 1,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """k nearest features (e.g. compensation sites, BASELINE.json:6 'kNN
    nearest-compensation-site lookup') per query point, by exact
    point-to-polygon distance. Feature set is config-scale → distances to ALL
    features are computed in one vectorized kernel (a (batch × features)
    numpy pass) and the top-k selected in-batch: no shuffle, no iteration,
    ring-closure trivially satisfied. For feature sets too large to
    broadcast, fall back to range_join + window rank."""
    # distance to the feature FOOTPRINT (outer ring): a point inside a hole
    # of a site is still distance 0 to that site
    polys = [[rr[0]] for rr in targets.polys()]
    ids = targets.ids
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    out_t = ArrayType(
        StructType(
            [
                StructField("feature_id", StringType()),
                StructField("dist", DoubleType()),
                StructField("rank", IntegerType()),
            ]
        )
    )

    @F.pandas_udf(out_t)
    def nearest(xs: pd.Series, ys: pd.Series) -> pd.Series:
        xv = xs.to_numpy(dtype=np.float64)
        yv = ys.to_numpy(dtype=np.float64)
        dmat = np.stack(
            [geom.point_to_polygon_dist(xv, yv, rr) for rr in polys], axis=1
        )  # (P, F)
        order = np.argsort(dmat, axis=1, kind="stable")[:, :k]
        rows = []
        for p in range(len(xv)):
            rows.append(
                [
                    {
                        "feature_id": ids[int(order[p, j])],
                        "dist": round(float(dmat[p, order[p, j]]), 6),
                        "rank": j + 1,
                    }
                    for j in range(min(k, dmat.shape[1]))
                ]
            )
        return pd.Series(rows)

    res = queries.withColumn("nn", nearest(F.col(x), F.col(y)))
    return res.select(
        *[c for c in queries.columns], F.explode("nn").alias("nn1")
    ).select(
        *[c for c in queries.columns],
        F.col("nn1.feature_id").alias("nn_feature_id"),
        F.col("nn1.dist").alias("nn_dist"),
        F.col("nn1.rank").alias("nn_rank"),
    )


# ---------------------------------------------------------------------------
# distributed polygon×polygon overlay join (geo-overlay at data scale)
# ---------------------------------------------------------------------------


def _repartition_for_kernel(df: DataFrame) -> DataFrame:
    """Spread rows to one partition per core before a CPU-bound pandas-UDF
    stage. AQE sizes shuffle partitions by BYTES — after a join or groupBy
    of small rows it coalesces to one or two partitions, which would
    serialize the kernel. One extra cheap round-robin shuffle buys full
    parallelism, and already balances rows by count.

    No oversubscription, not even for variable-cost polygon clips: in a
    same-time join-tiles A/B, 2 × defaultParallelism beat one task per core
    in no pair by more than the spread between runs (DESIGN_DECISIONS.md
    #30). A Python task now costs ~0.07 s per core slot on a 4-vCPU box
    (tools/python_task_cost.py re-measures it); the ~0.2 s it cost before
    was zipimport re-reading pyspark.zip and the Spark jar on every task,
    which lagespark._zipcache removes."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _bbox_cover_cells(df: DataFrame, cell_size: float, prefix: str) -> DataFrame:
    """Explode each feature to its bbox's covering grid cells with NATIVE
    sequence/explode arithmetic (no Python) — the PBSM partitioning step."""
    cs = F.lit(cell_size)
    i = F.explode(
        F.sequence(
            F.floor(F.col(f"{prefix}xmin") / cs).cast("long"),
            F.floor(F.col(f"{prefix}xmax") / cs).cast("long"),
        )
    ).alias("ci")
    out = df.select("*", i)
    j = F.explode(
        F.sequence(
            F.floor(F.col(f"{prefix}ymin") / cs).cast("long"),
            F.floor(F.col(f"{prefix}ymax") / cs).cast("long"),
        )
    ).alias("cj")
    out = out.select("*", j)
    return out.withColumn(
        "cell",
        (F.col("ci") + cells.GRID_OFF) * F.lit(1 << cells.GRID_SHIFT)
        + (F.col("cj") + cells.GRID_OFF),
    ).drop("ci", "cj")


def _ref_cell(cell_size: float):
    """PBSM reference cell of an (l, r) bbox pair: the grid cell holding the
    (max xmin, max ymin) corner of the bbox intersection. That cell is in
    both bbox covers by construction, so keeping a cell-join row only where
    `cell` equals it emits each pair exactly once, map-side."""
    cs = F.lit(cell_size)
    return (
        F.floor(F.greatest("lxmin", "rxmin") / cs).cast("long") + cells.GRID_OFF
    ) * F.lit(1 << cells.GRID_SHIFT) + (
        F.floor(F.greatest("lymin", "rymin") / cs).cast("long") + cells.GRID_OFF
    )


def _flat_ring_cols(rings_col, suffix: str) -> list:
    """Flatten `rings` (array<array<struct<x,y>>>) into Arrow-friendly
    primitive columns xs/ys (array<double>) + nv (per-ring vertex counts) —
    all native higher-order functions. A list<double> Arrow column converts
    to numpy in one C pass per row; the nested struct encoding would unpack
    per-POINT through Python dicts inside the kernel (the dominant cost of
    the overlay join before this rewrite). Lambdas take exactly one
    parameter (see CLAUDE.md: a second parameter binds the array index)."""
    return [
        F.flatten(
            F.transform(rings_col, lambda ring: F.transform(ring, lambda p: p["x"]))
        ).alias(f"xs{suffix}"),
        F.flatten(
            F.transform(rings_col, lambda ring: F.transform(ring, lambda p: p["y"]))
        ).alias(f"ys{suffix}"),
        F.transform(rings_col, lambda ring: F.size(ring)).alias(f"nv{suffix}"),
    ]


def _is_axis_rect(rings: str, xmin: str, ymin: str, xmax: str, ymax: str):
    """TRUE iff the polygon is exactly its axis-aligned bounding box: one
    ring, four vertices, every edge axis-aligned, each bbox corner hit by
    exactly one vertex (the 2/2 x and y distribution excludes degenerate
    spikes like (0,0)→(1,0)→(1,1)→(1,0)), and positive extent. Pure
    Catalyst — rect×rect overlay pairs then take a fully native area path
    and never reach the Python kernel.

    Takes COLUMN NAMES and emits one F.expr SQL string (round 8): the
    Column-operator form issued ~80 py4j round trips per call (~0.4 s of
    driver latency each; overlay_join builds it twice per invocation) —
    the single parsed expression is semantically identical (numpy parity
    fuzz test unchanged)."""
    ring = f"element_at({rings}, 1)"

    def X(i: int) -> str:
        return f"element_at({ring}, {i}).x"

    def Y(i: int) -> str:
        return f"element_at({ring}, {i}).y"

    def nxt(i: int) -> int:
        return i % 4 + 1

    edges_axis = " AND ".join(
        f"(({X(i)} = {X(nxt(i))}) != ({Y(i)} = {Y(nxt(i))}))" for i in range(1, 5)
    )

    def corners(get, bound: str) -> str:
        s = " + ".join(f"CAST(({get(i)} = {bound}) AS INT)" for i in range(1, 5))
        return f"(({s}) = 2)"

    return F.expr(
        f"(size({rings}) = 1) AND (size({ring}) = 4) AND ({edges_axis}) AND "
        f"{corners(X, xmin)} AND {corners(X, xmax)} AND "
        f"{corners(Y, ymin)} AND {corners(Y, ymax)} AND "
        f"({xmax} > {xmin}) AND ({ymax} > {ymin})"
    )


_BBOX = ("xmin", "ymin", "xmax", "ymax")


def overlay_join(
    left: DataFrame,
    right: DataFrame,
    cell_size: float = 250.0,
    left_id: str = "feature_id",
    right_id: str = "feature_id",
    round_to: int = 4,
) -> DataFrame:
    """Distributed polygon ∩ polygon join for DATA-SCALE feature sets on
    BOTH sides (unlike the broadcast paths, which assume config-scale dims):

      1. each side explodes to its bbox cover cells (native arithmetic)
      2. cell equi-join (hash-partitioned shuffle — Catalyst/AQE handle
         sizing; salt with salted_cell_join for pathological hot cells)
      3. bbox-overlap prefilter (native)
      4. PBSM reference-cell dedup: a pair sharing k cells is processed
         exactly ONCE — in the cell containing the top-left corner of the
         bbox intersection (that cell is inside both covers by construction)
      5. exact triangulated Sutherland–Hodgman intersection area in a
         vectorized-batch pandas UDF

    Shuffle hygiene: the cover explosion and cell join run SKINNY — ids and
    bbox doubles only. Ring payloads never multiply through the per-cell
    explosion or the join; they are re-joined by id onto the surviving
    deduped pairs just before the exact kernel. At scale this cuts the
    dominant shuffle's payload by the mean cover multiplicity × ring size.

    Two exact-area paths after the dedup:
      * rect × rect (both polygons ARE their bbox, detected natively with
        _is_axis_rect): area = bbox-overlap arithmetic, pure Catalyst —
        zero Python for rectangular data.
      * general: vectorized clip kernel over FLAT coordinate columns
        (xs/ys/nv via _flat_ring_cols) — the Arrow batch converts to numpy
        per-row in one C pass instead of per-point dict unpacking.

    Inputs need columns: id, rings (array<array<struct<x,y>>>),
    xmin/ymin/xmax/ymax. Output: (left_id_l, right_id_r, area) for pairs
    with positive intersection area."""
    def side(df: DataFrame, id_col: str, s: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"id_{s}"),
            F.col("rings").alias(f"rings_{s}"),
            *[F.col(c).alias(s + c) for c in _BBOX],
            _is_axis_rect("rings", *_BBOX).alias(f"rect_{s}"),
        )

    l, r = side(left, left_id, "l"), side(right, right_id, "r")
    # the rect flag (1 bool, computed once per feature) rides the SKINNY
    # cover join, so rect×rect pairs — decided entirely by bbox arithmetic —
    # never pay the ring-payload joins at all. The sides are not
    # checkpointed: the cover join runs inside the eager pair checkpoint
    # below, and the kernel branch's payload joins read the upstream
    # directly. The skinny cover input is spread to one partition per core
    # first — without it the cover explosion and cell join run in the
    # scan's few partitions (q68 at sf0.1, 4 vCPUs, local[3]: collect
    # median 1.0 s → 2.0 s without it).
    par = l.sparkSession.sparkContext.defaultParallelism
    lc = _bbox_cover_cells(l.drop("rings_l").repartition(par), cell_size, "l")
    rc = _bbox_cover_cells(r.drop("rings_r").repartition(par), cell_size, "r")
    cand = lc.join(rc, "cell")
    # bbox overlap prefilter
    cand = cand.filter(
        (F.col("lxmin") < F.col("rxmax"))
        & (F.col("lxmax") > F.col("rxmin"))
        & (F.col("lymin") < F.col("rymax"))
        & (F.col("lymax") > F.col("rymin"))
    )
    # reference-cell dedup (report-once)
    cand = cand.filter(F.col("cell") == _ref_cell(cell_size)).select(
        "id_l", "id_r", "rect_l", "rect_r",
        "lxmin", "lymin", "lxmax", "lymax",
        "rxmin", "rymin", "rxmax", "rymax",
    )
    # the deduped pair list feeds BOTH area paths (native rect and exact
    # kernel); without persistence each union branch would re-run the
    # whole cover join + dedup (no exchange reuse — the branches prune
    # different columns). EAGER, so the checkpoint's own job also counts
    # the non-rect pairs that decide the kernel branch below.
    # NO repartition before the checkpoint (round 8): AQE's
    # parallelismFirst coalescing (default on in Spark 4) already keeps
    # the post-join layout at ~defaultParallelism partitions, so the
    # extra round-robin exchange re-shuffled the full pair list
    # (~200 MB at sf0.1) for nothing — measured 2.8 s → 1.9 s. The
    # CPU-bound kernel branch re-spreads itself via
    # _repartition_for_kernel, so a small coalesced checkpoint can't
    # serialize it.
    both_rect = F.col("rect_l") & F.col("rect_r")
    ((cand, st),) = checkpoint(cand, n_gen=F.count_if(~both_rect))

    # rect×rect: fully native bbox-overlap area (a rect IS its bbox; overlap
    # extents are strictly positive here thanks to the bbox prefilter) — no
    # payload join, no Python
    ox = F.least("lxmax", "rxmax") - F.greatest("lxmin", "rxmin")
    oy = F.least("lymax", "rymax") - F.greatest("lymin", "rymin")
    rect_res = (
        cand.filter(both_rect)
        .withColumn("area", F.round(ox * oy, round_to))
        .filter(F.col("area") > 0)
        .select("id_l", "id_r", "area")
    )

    # data-adaptive branch elision (round 8, same discipline as
    # intersects_join_ri's per-side rect pruning): when every deduped pair
    # is rect×rect — the common all-rect cadastre case — the kernel
    # branch contributes NOTHING but still costs two broadcast builds
    # (flat ring payloads), a round-robin exchange and an ArrowEvalPython
    # stage full of empty tasks. The count rode the checkpoint's job.
    if not st["n_gen"]:
        return rect_res

    # non-rect pairs: enrich with FLAT ring payloads (one shuffle per side,
    # keyed on the id — no per-cell multiplication of the wide column; the
    # flat encoding is computed once per feature) and run the exact kernel
    lpay = l.select("id_l", *_flat_ring_cols(F.col("rings_l"), "_l"))
    rpay = r.select("id_r", *_flat_ring_cols(F.col("rings_r"), "_r"))
    gen = (
        cand.filter(~both_rect)
        .select("id_l", "id_r")
        .join(lpay, "id_l")
        .join(rpay, "id_r")
    )
    gen = _repartition_for_kernel(gen)

    @F.pandas_udf(DoubleType())
    def inter_area(
        xa: pd.Series, ya: pd.Series, na: pd.Series,
        xb: pd.Series, yb: pd.Series, nb: pd.Series,
    ) -> pd.Series:
        out = np.empty(len(xa))
        for k in range(len(xa)):
            out[k] = geom.intersection_area(
                geom.rings_from_flat(xa.iloc[k], ya.iloc[k], na.iloc[k]),
                geom.rings_from_flat(xb.iloc[k], yb.iloc[k], nb.iloc[k]),
            )
        return pd.Series(np.round(out, round_to))

    # nondeterministic marker: stops Catalyst evaluating the kernel twice
    # (once for the filter, once for the projection)
    inter_area = inter_area.asNondeterministic()
    gen_res = (
        gen.withColumn("area", inter_area("xs_l", "ys_l", "nv_l", "xs_r", "ys_r", "nv_r"))
        .filter(F.col("area") > 0)
        .select("id_l", "id_r", "area")
    )
    return rect_res.unionByName(gen_res)


# ---------------------------------------------------------------------------
# cell rollup + pruned range aggregation (hypertable-style spatial rollup)
# ---------------------------------------------------------------------------


def cell_rollup(
    points: DataFrame,
    x: str = "x",
    y: str = "y",
    cell_size: float = 250.0,
    aggs: dict | None = None,
) -> DataFrame:
    """Materialized per-cell aggregate of a point table (the spatial analog
    of a time-bucket rollup): one groupBy pass, reusable by every subsequent
    range query. Default aggregate: count."""
    pts = with_grid_cell(points, x, y, cell_size)
    agg_exprs = aggs or {"n": F.count(F.lit(1))}
    return pts.groupBy("cell").agg(*[v.alias(k) for k, v in agg_exprs.items()])


def range_count_pruned(
    points: DataFrame,
    rollup: DataFrame,
    xmin: float,
    ymin: float,
    xmax: float,
    ymax: float,
    x: str = "x",
    y: str = "y",
    cell_size: float = 250.0,
) -> DataFrame:
    """EXACT count of points in [xmin,xmax]×[ymin,ymax] answered mostly from
    the rollup: interior cells (fully inside the rect) contribute their
    pre-aggregated counts; only BOUNDARY cells re-scan base points (with the
    cell-id predicate pushed into the scan → partition/row-group pruning).
    Returns a 1-row DataFrame (n_interior, n_boundary, n_total)."""
    i0 = int(np.floor(xmin / cell_size))
    i1 = int(np.floor(xmax / cell_size))
    j0 = int(np.floor(ymin / cell_size))
    j1 = int(np.floor(ymax / cell_size))

    def cell_of(i: int, j: int) -> int:
        return (i + cells.GRID_OFF) * (1 << cells.GRID_SHIFT) + (j + cells.GRID_OFF)

    interior = [
        cell_of(i, j)
        for i in range(i0 + 1, i1)
        for j in range(j0 + 1, j1)
    ]
    boundary = [
        cell_of(i, j)
        for i in range(i0, i1 + 1)
        for j in range(j0, j1 + 1)
        if not (i0 < i < i1 and j0 < j < j1)
    ]
    spark = points.sparkSession
    n_int = (
        rollup.filter(F.col("cell").isin(interior)).agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("v")
        )
        if interior
        else spark.range(1).agg(F.lit(0).cast("long").alias("v"))
    )
    pts = with_grid_cell(points, x, y, cell_size)
    n_bnd = (
        pts.filter(F.col("cell").isin(boundary))
        .filter(
            (F.col(x) >= xmin) & (F.col(x) <= xmax)
            & (F.col(y) >= ymin) & (F.col(y) <= ymax)
        )
        .agg(F.count(F.lit(1)).alias("v"))
    )
    a = n_int.select(F.col("v").alias("n_interior"))
    b = n_bnd.select(F.col("v").alias("n_boundary"))
    return a.crossJoin(b).select(
        "n_interior",
        "n_boundary",
        (F.col("n_interior") + F.col("n_boundary")).alias("n_total"),
    )


# ---------------------------------------------------------------------------
# Raster-Intervals-style intersects join (geo-overlay boolean predicate)
# ---------------------------------------------------------------------------


def ri_masks(
    feats: DataFrame,
    cell_size: float = 250.0,
    sub: int = 4,
    id_col: str = "feature_id",
) -> DataFrame:
    """Per-(feature, cover cell) raster approximation in the spirit of
    Raster Intervals (Georgiadis et al., SIGMOD 2023, PAPERS.md): two
    sub-grid bitmasks over the cell's sub×sub raster —

      a_mask bit = the polygon intersects the sub-cell with positive area
      f_mask bit = the polygon FULLY covers the sub-cell (holes included)

    Masks are computed once per feature-cell and make most join-pair
    decisions pure bitwise arithmetic downstream. Two mask paths after the
    (eagerly checkpointed) cover explosion:

      * axis-rect features (_is_axis_rect, native): both masks are pure
        Catalyst min/max arithmetic over the sub-grid — zero Python.
      * general polygons: vectorized clip kernel over the FLAT xs/ys/nv
        encoding (one C pass per row, not per-point dict unpacking).

    Output is SKINNY — (id, cell, rect, bbox, a_mask, f_mask), no ring
    payload: the downstream cell join multiplies every column by the pair
    count, so the exact kernel re-joins flat coordinates by id only for the
    ambiguous non-rect pairs (same shuffle hygiene as overlay_join). The
    rect flag + bbox let the join decide rect×rect pairs natively."""
    ((cov, _),) = checkpoint(_mask_cover(feats, cell_size, id_col))
    return _masks_over_cover(cov, cell_size, sub)


def _mask_cover(
    feats: DataFrame, cell_size: float, id_col: str = "feature_id"
) -> DataFrame:
    """Per-(feature, cover cell) frame feeding the mask paths: (id, xs, ys,
    nv, rect, lxmin..lymax, cell). Callers checkpoint it EAGERLY: it feeds
    multiple consumers (native-rect / kernel mask branches, and in
    intersects_join_ri also the mask-free rect×rect pair path and the
    ambiguous payload agg) — no exchange reuse across branches with
    different pruning (see overlay_join) — and the payload sides are
    BROADCAST exchanges that materialize on concurrent threads at action
    start, where a lazy checkpoint races and recomputes the cover once per
    thread (measured: q82 warm 12 → 18-27 s with run-to-run swing; same
    race class as dedup.banded_pairs / components). No repartition (round
    8): it re-shuffled the payload-carrying exploded cover for nothing —
    AQE's parallelismFirst layout stands, downstream joins re-shuffle
    anyway, and the kernel mask branch re-spreads via
    _repartition_for_kernel."""
    return _bbox_cover_cells(
        feats.select(
            F.col(id_col).alias("id"),
            *_flat_ring_cols(F.col("rings"), ""),
            _is_axis_rect("rings", *_BBOX).alias("rect"),
            *[F.col(c).alias("l" + c) for c in _BBOX],
        ),
        cell_size,
        "l",
    )


def _masks_over_cover(cov: DataFrame, cell_size: float, sub: int) -> DataFrame:
    """The two mask branches of ri_masks over a (checkpointed) cover frame.
    Split out so intersects_join_ri can build its masks over the SAME
    checkpointed cover that feeds its rect pair path and ambiguous payload
    re-join (one cover build per side, however many consumers)."""
    sub_area = (cell_size / sub) ** 2

    @F.pandas_udf("a_mask int, f_mask int")
    def masks(
        xs_s: pd.Series, ys_s: pd.Series, nv_s: pd.Series, cell_s: pd.Series
    ) -> pd.DataFrame:
        a_out = np.zeros(len(xs_s), dtype=np.int32)
        f_out = np.zeros(len(xs_s), dtype=np.int32)
        step = cell_size / sub
        ii, jj = cells.grid_decode(cell_s.to_numpy().astype(np.int64))
        sx = np.arange(sub) * step
        sy = np.repeat(np.arange(sub) * step, sub)  # row-major bit order
        sxg = np.tile(sx, sub)
        bits = 1 << np.arange(sub * sub, dtype=np.int32)
        for k in range(len(xs_s)):
            rings = geom.rings_from_flat(xs_s.iloc[k], ys_s.iloc[k], nv_s.iloc[k])
            x0 = float(ii[k]) * cell_size
            y0 = float(jj[k]) * cell_size
            outer = rings[0]
            # axis-aligned rectangle fast path: masks by pure arithmetic
            if (
                len(rings) == 1
                and len(outer) == 4
                and len(set(np.round(outer[:, 0], 9))) == 2
                and len(set(np.round(outer[:, 1], 9))) == 2
            ):
                pxmin, pymin = outer[:, 0].min(), outer[:, 1].min()
                pxmax, pymax = outer[:, 0].max(), outer[:, 1].max()
                rx0 = x0 + sxg
                ry0 = y0 + sy
                ox = np.minimum(rx0 + step, pxmax) - np.maximum(rx0, pxmin)
                oy = np.minimum(ry0 + step, pymax) - np.maximum(ry0, pymin)
                amask = (ox > 1e-9) & (oy > 1e-9)
                fmask = (ox >= step - 1e-9) & (oy >= step - 1e-9)
                a_out[k] = int(bits[amask].sum())
                f_out[k] = int(bits[amask & fmask].sum())
                continue
            a = 0
            f = 0
            bit = 0
            for sj in range(sub):
                for si in range(sub):
                    rx, ry = x0 + si * step, y0 + sj * step
                    rect = np.array(
                        [
                            [rx, ry],
                            [rx + step, ry],
                            [rx + step, ry + step],
                            [rx, ry + step],
                        ]
                    )
                    area = geom.clip_area(outer, rect)
                    hole_a = sum(geom.clip_area(h, rect) for h in rings[1:])
                    if area - hole_a > 1e-9:
                        a |= 1 << bit
                        if area >= sub_area - 1e-9 and hole_a < 1e-12:
                            f |= 1 << bit
                    bit += 1
            a_out[k] = a
            f_out[k] = f
        return pd.DataFrame({"a_mask": a_out, "f_mask": f_out})

    out_cols = [
        "id", "cell", "rect",
        "lxmin", "lymin", "lxmax", "lymax",
        "a_mask", "f_mask",
    ]

    # native rect masks: same min/max arithmetic as the kernel's rect fast
    # path, identical operation order and epsilons, but pure Catalyst
    step = cell_size / sub
    shift = F.lit(1 << cells.GRID_SHIFT)
    ci = (F.col("cell") / shift).cast("long") - cells.GRID_OFF
    cj = F.col("cell") % shift - cells.GRID_OFF
    x0 = ci.cast("double") * F.lit(cell_size)
    y0 = cj.cast("double") * F.lit(cell_size)
    a_terms = []
    f_terms = []
    for b in range(sub * sub):
        sj, si = divmod(b, sub)  # row-major bit order (matches the kernel)
        rx0 = x0 + F.lit(si * step)
        ry0 = y0 + F.lit(sj * step)
        ox = F.least(rx0 + F.lit(step), F.col("lxmax")) - F.greatest(rx0, F.col("lxmin"))
        oy = F.least(ry0 + F.lit(step), F.col("lymax")) - F.greatest(ry0, F.col("lymin"))
        a_b = (ox > 1e-9) & (oy > 1e-9)
        f_b = a_b & (ox >= step - 1e-9) & (oy >= step - 1e-9)
        a_terms.append(F.when(a_b, F.lit(1 << b)).otherwise(F.lit(0)))
        f_terms.append(F.when(f_b, F.lit(1 << b)).otherwise(F.lit(0)))
    rect_masks = (
        cov.filter(F.col("rect"))
        .withColumn("a_mask", sum(a_terms).cast("int"))
        .withColumn("f_mask", sum(f_terms).cast("int"))
        .select(*out_cols)
    )

    # general polygons: the clip kernel, spread first (the cover explosion
    # often sits on top of a small AQE-coalesced shuffle)
    gen = _repartition_for_kernel(cov.filter(~F.col("rect")))
    gen_masks = gen.withColumn("m", masks("xs", "ys", "nv", "cell")).select(
        *[c for c in out_cols if c not in ("a_mask", "f_mask")],
        F.col("m.a_mask").alias("a_mask"),
        F.col("m.f_mask").alias("f_mask"),
    ).select(*out_cols)
    return rect_masks.unionByName(gen_masks)


def intersects_join_ri(
    left: DataFrame,
    right: DataFrame,
    cell_size: float = 250.0,
    sub: int = 4,
    left_id: str = "feature_id",
    right_id: str = "feature_id",
) -> DataFrame:
    """Boolean polygon-intersects join with Raster-Intervals-style pruning:

      rect × rect  : GLOBAL bbox-overlap verdict at pair level  (native)
      definite NO  : a_l & a_r == 0 in the shared cell          (native)
      definite YES : (f_l & a_r) | (a_l & f_r) != 0             (native)
      ambiguous    : exact clip kernel restricted to the cell  (pandas UDF)

    Axis-rect pairs never enter the mask machinery: a rect IS its bbox, so
    the pair verdict (overlap area > 1e-9, the exact kernel's own rect∩rect
    result) needs only a skinny (id, cell, bbox) cell join + one dedup.
    Mask decisions are per shared cell; a pair intersects if ANY cell says
    yes → distinct at the end. Returns (id_l, id_r, method) where method
    records how the pair was decided ('rect', 'ri' or 'exact') — the
    pruning-rate diagnostic."""
    # the COVERS are the shared substrate (they feed the rect pair path and
    # up to two mask families per side), built CONCURRENTLY (round 8): each
    # is an eager checkpoint, i.e. a full synchronous job (scan + dedup agg
    # + cover explosion). The same jobs count each side's non-rect cover
    # rows, which decide the per-side rect pruning below.
    (lcov, lst), (rcov, rst) = checkpoint(
        _mask_cover(left, cell_size, left_id),
        _mask_cover(right, cell_size, right_id),
        n_gen=F.count_if(~F.col("rect")),
    )

    # rect × rect pairs: an axis-rect IS its bbox, so the pair verdict is
    # GLOBAL bbox arithmetic — overlap area > 1e-9 (the exact kernel's own
    # rect∩rect result). These pairs come STRAIGHT OFF THE COVERS: no mask
    # computation, no wide mask join — only a skinny (id, cell, bbox)
    # explosion reaches the cell-join shuffle, and the per-cell rows
    # collapse at the reference cell. Same discipline as
    # overlay_join's native rect path — at scale the common cadastre case
    # (axis-aligned parcels/buildings) pays bitmask cost only when a general
    # polygon is actually on one side of the pair.
    lrect = lcov.filter(F.col("rect")).select(
        F.col("id").alias("id_l"), "cell", "lxmin", "lymin", "lxmax", "lymax"
    )
    rrect = rcov.filter(F.col("rect")).select(
        F.col("id").alias("id_r"), "cell", *[F.col("l" + c).alias("r" + c) for c in _BBOX]
    )
    gpx = F.least(F.col("lxmax"), F.col("rxmax")) - F.greatest(
        F.col("lxmin"), F.col("rxmin")
    )
    gpy = F.least(F.col("lymax"), F.col("rymax")) - F.greatest(
        F.col("lymin"), F.col("rymin")
    )
    # PBSM reference-cell dedup (_ref_cell, same construction as
    # overlay_join): the per-cell duplicates are eliminated map-side and the
    # pair stream never shuffles again
    rect_pairs = (
        lrect.join(rrect, "cell")
        .filter((gpx > 0) & (gpy > 0) & (gpx * gpy > 1e-9))
        .filter(F.col("cell") == _ref_cell(cell_size))
        .select("id_l", "id_r")
        .withColumn("method", F.lit("rect"))
    )

    # The mask families only ever DECIDE pairs with >= 1 non-rect side
    # (rect×rect is filtered out of the candidate set below), so a side's
    # masks/payloads are needed for its rect rows ONLY when the OTHER side
    # has non-rect rows (driver-side adaptive choice, same spirit as the
    # count-guarded broadcasts): on an all-rect × all-rect input the whole
    # mask/kernel pipeline folds away and the join is pure codegen bbox
    # arithmetic (measured: 65k×65k rect-only warm 12.6 → ~6 s).
    l_has_gen, r_has_gen = bool(lst["n_gen"]), bool(rst["n_gen"])
    if not (l_has_gen or r_has_gen):
        return rect_pairs
    lsrc = lcov if r_has_gen else lcov.filter(~F.col("rect"))
    rsrc = rcov if l_has_gen else rcov.filter(~F.col("rect"))

    # ONE mask frame per side over the (possibly rect-pruned) cover — the
    # masks stream into a single cell join; no mask checkpoints, no
    # per-family frames: a 4-frame family split was measured ~4 s SLOWER at
    # sf0.1 from driver planning + empty-partition checkpoint jobs alone.
    lm = _masks_over_cover(lsrc, cell_size, sub).select(
        F.col("id").alias("id_l"),
        F.col("rect").alias("rect_l"),
        "lxmin", "lymin", "lxmax", "lymax",
        "cell",
        F.col("a_mask").alias("a_l"),
        F.col("f_mask").alias("f_l"),
    )
    rm = _masks_over_cover(rsrc, cell_size, sub).select(
        F.col("id").alias("id_r"),
        F.col("rect").alias("rect_r"),
        *[F.col("l" + c).alias("r" + c) for c in _BBOX],
        "cell",
        F.col("a_mask").alias("a_r"),
        F.col("f_mask").alias("f_r"),
    )
    # ONE pass over the mask join, no candidate checkpoint: rect×rect rows
    # and definite NO are dropped natively, and each surviving cell row
    # carries its definite-YES flag `ri`
    definite = (F.col("f_l").bitwiseAND(F.col("a_r")) != 0) | (
        F.col("a_l").bitwiseAND(F.col("f_r")) != 0
    )
    cand = (
        lm.join(rm, "cell")
        .filter(~(F.col("rect_l") & F.col("rect_r")))
        .filter(F.col("a_l").bitwiseAND(F.col("a_r")) != 0)
        .select("id_l", "id_r", "cell", definite.alias("ri"))
    )

    # flat ring payloads re-join by id (the skinny mask join never
    # multiplied them through the per-cell pair explosion), LEFT-joined on
    # keys that are null for definite rows, so only ambiguous rows carry a
    # payload. The payloads come from the CHECKPOINTED covers (one first()
    # per id), not from a re-scan of the upstream feature pipeline — the
    # broadcast sides of these joins materialize eagerly, so a
    # `left`/`right` subtree here would re-run the whole feature build
    def payload(src: DataFrame, s: str) -> DataFrame:
        return src.groupBy(F.col("id").alias(f"_k{s}")).agg(
            *[F.first(c).alias(f"{c}_{s}") for c in ("xs", "ys", "nv")]
        )

    cand = (
        cand.withColumn("_kl", F.when(~F.col("ri"), F.col("id_l")))
        .withColumn("_kr", F.when(~F.col("ri"), F.col("id_r")))
        .join(payload(lsrc, "l"), "_kl", "left")
        .join(payload(rsrc, "r"), "_kr", "left")
    )

    # Spark evaluates a pandas UDF on EVERY row, even under `when`, so the
    # kernel answers False for the definite rows' null payloads
    @F.pandas_udf(BooleanType())
    def exact(
        xl: pd.Series, yl: pd.Series, nl: pd.Series,
        xr: pd.Series, yr: pd.Series, nr: pd.Series,
        cell_s: pd.Series,
    ) -> pd.Series:
        out = np.zeros(len(xl), dtype=bool)
        for k in range(len(xl)):
            if xl.iloc[k] is None or xr.iloc[k] is None:
                continue
            rl = geom.rings_from_flat(xl.iloc[k], yl.iloc[k], nl.iloc[k])
            rr = geom.rings_from_flat(xr.iloc[k], yr.iloc[k], nr.iloc[k])
            i, j = cells.grid_decode(np.array([int(cell_s.iloc[k])]))
            x0 = float(i[0]) * cell_size
            y0 = float(j[0]) * cell_size
            rect = np.array(
                [
                    [x0, y0],
                    [x0 + cell_size, y0],
                    [x0 + cell_size, y0 + cell_size],
                    [x0, y0 + cell_size],
                ]
            )
            piece = geom.clip_convex(rl[0], rect)
            if len(piece) < 3:
                continue
            val = geom.intersection_area([piece], rr)
            for hole in rl[1:]:
                hp = geom.clip_convex(hole, rect)
                if len(hp) >= 3:
                    val -= geom.intersection_area([hp], rr)
            out[k] = val > 1e-9
        return pd.Series(out)

    exact = exact.asNondeterministic()
    method = F.when(F.col("ri"), F.lit("ri")).when(
        exact("xs_l", "ys_l", "nv_l", "xs_r", "ys_r", "nv_r", "cell"), F.lit("exact")
    )
    # a pair intersects if ANY shared cell says yes: the per-cell methods
    # collapse in one any-cell dedup. rect_pairs is disjoint from the
    # mask-join pair space AND already distinct, so it unions in WITHOUT
    # re-shuffling through the agg; method is 'rect' | 'ri' | 'exact'
    mask_pairs = (
        _repartition_for_kernel(cand)
        .select("id_l", "id_r", method.alias("method"))
        .filter(F.col("method").isNotNull())
        .groupBy("id_l", "id_r")
        .agg(F.min("method").alias("method"))
    )
    return mask_pairs.unionByName(rect_pairs)


# ---------------------------------------------------------------------------
# explicit skew salting (geo-salt)
# ---------------------------------------------------------------------------


def salted_cell_join(
    fact: DataFrame,
    dim: DataFrame,
    salt: int = 8,
    cell_col: str = "cell",
    fact_key: str = "image_id",
) -> DataFrame:
    """Explicit salting for skewed (urban) cells (BASELINE.json:14): fact
    rows get salt = pmod(hash(key), S); the dim side is replicated ×S so the
    equi-join key becomes (cell, salt). Used when the dim is too big to
    broadcast and hot cells would overflow a shuffle partition; AQE skew-join
    remains on as a backstop (only helps sort-merge joins)."""
    f = fact.withColumn("salt", F.pmod(F.hash(F.col(fact_key)), F.lit(salt)))
    d = dim.join(
        F.broadcast(
            fact.sparkSession.range(salt).select(F.col("id").cast("int").alias("salt"))
        )
    )
    return f.join(d, [cell_col, "salt"]).drop("salt")
