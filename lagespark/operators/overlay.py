"""Area-based Lagefaktor overlay pipeline (the reference's core computation).

Reproduces, Spark-first, the reference GeoPandas pipeline's semantics
(BASELINE.json:6): distance-band buffers around construction (Baufeld)
polygons, construction-vs-compensatory overlay, protected-area (Biotope)
intersection scoring, and per-feature area×factor aggregation.

Engine-defined (golden-pinned) semantics — see SURVEY.md §7 hard-part 1:
zone bands are materialized as CONVEX raster strips at `resolution` meters
(cell center within thresholds[z] of the nearest Baufeld polygon), replacing
self-intersecting offset-polygon buffers. All piece areas are then EXACT
Sutherland–Hodgman clip areas against those convex strips / triangulated
protected areas. The outermost zone is computed as the exact remainder
(total − inner bands), so total area is conserved exactly.

Distribution: compensatory features are processed as applyInPandas groups
(one group per feature); Baufeld + protected polygons ride in the closure.
Each group rasterizes the band strips only in a window around its own
feature's bbox (geom.zone_band_strips(window=...)), on the one global grid
derived from the Baufeld bboxes — the strips a feature clips against are
those of the full raster, so no driver pass over the whole extent is
needed. This is the config-side of the join — the 10^12-row image/point
side never touches this path (it uses with_zone/pip_join).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lagespark.kernels import geom
from lagespark.operators.spatial import FeatureSet

DEFAULT_THRESHOLDS = (100.0, 625.0)


def zone_area_pieces(
    gruen: DataFrame,
    baufeld: FeatureSet,
    biotope: FeatureSet,
    thresholds: tuple[float, ...] = DEFAULT_THRESHOLDS,
    resolution: float = 4.0,
) -> DataFrame:
    """gruenflaeche → (feature_id, zone, bonus, area) pieces.

    Per feature (one applyInPandas group): exact clip areas vs each zone
    strip under the feature's bbox window, split protected/unprotected
    against each biotope polygon; zone of the outermost band is the exact
    remainder. Output areas are snapped to 1e-6 m² for cross-platform
    stability (SURVEY.md §7 hard-part 2).
    """
    bf_polys = baufeld.polys()
    bt_polys = [(fid, biotope.rings[fid], float(biotope.attrs.loc[fid, "bonus"])) for fid in biotope.ids]
    outer_zone = len(thresholds)

    def per_feature(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for r in pdf.itertuples(index=False):
            rings = [
                np.array([[p["x"], p["y"]] for p in ring], dtype=np.float64)
                for ring in r.rings
            ]
            fid = r.feature_id
            total = geom.polygon_area(rings)
            # biotope overlap of the whole feature (for outer-zone remainder)
            bt_total = {
                bt_id: geom.intersection_area(rings, bt_rings)
                for bt_id, bt_rings, _ in bt_polys
            }
            # accumulate per (zone, bonus) areas over strips
            acc: dict[tuple[int, float], float] = {}
            bt_inner = {bt_id: 0.0 for bt_id, _, _ in bt_polys}
            zone_inner = 0.0
            bbox = (r.xmin, r.ymin, r.xmax, r.ymax)
            strips = geom.zone_band_strips(bf_polys, thresholds, resolution, window=bbox)
            sel = strips[
                (strips[:, 0] < bbox[2])
                & (strips[:, 2] > bbox[0])
                & (strips[:, 1] < bbox[3])
                & (strips[:, 3] > bbox[1])
            ]
            for x0, y0, x1, y1, z in sel:
                rect = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])
                piece = geom.clip_convex(rings[0], rect)
                if len(piece) < 3:
                    continue
                a = geom.ring_area(piece)
                for hole in rings[1:]:
                    a -= geom.clip_area(hole, rect)
                if a <= 1e-12:
                    continue
                z = int(z)
                prot = 0.0
                for bt_id, bt_rings, bonus in bt_polys:
                    ap = geom.intersection_area([piece], bt_rings)
                    # holes: subtract hole∩strip∩bt (holes are rare + small;
                    # exact via triangulated clip of the hole fragment)
                    for hole in rings[1:]:
                        hpiece = geom.clip_convex(hole, rect)
                        if len(hpiece) >= 3:
                            ap -= geom.intersection_area([hpiece], bt_rings)
                    if ap > 1e-12:
                        acc[(z, bonus)] = acc.get((z, bonus), 0.0) + ap
                        bt_inner[bt_id] += ap
                        prot += ap
                un = a - prot
                if un > 1e-12:
                    acc[(z, 1.0)] = acc.get((z, 1.0), 0.0) + un
                zone_inner += a
            # outermost zone = exact remainder
            for bt_id, bt_rings, bonus in bt_polys:
                rem = bt_total[bt_id] - bt_inner[bt_id]
                if rem > 1e-9:
                    acc[(outer_zone, bonus)] = acc.get((outer_zone, bonus), 0.0) + rem
            outer_un = (total - zone_inner) - sum(
                v for (z, b), v in acc.items() if z == outer_zone
            )
            if outer_un > 1e-9:
                acc[(outer_zone, 1.0)] = acc.get((outer_zone, 1.0), 0.0) + outer_un
            for (z, bonus), area in acc.items():
                rows.append((fid, z, bonus, round(area, 6)))
        return pd.DataFrame(rows, columns=["feature_id", "zone", "bonus", "area"])

    return gruen.groupBy("feature_id").applyInPandas(
        per_feature, "feature_id string, zone int, bonus double, area double"
    )


def score_areas(
    pieces: DataFrame,
    gruen_values: DataFrame,
    factors: DataFrame,
) -> DataFrame:
    """pieces × value × lagefaktor × bonus → per-feature/zone scores.
    Pure Catalyst: broadcast factor/value dims, partial+final agg."""
    df = pieces.join(F.broadcast(factors.select("zone", "lagefaktor")), "zone").join(
        F.broadcast(gruen_values), "feature_id"
    )
    return df.groupBy("feature_id", "zone").agg(
        F.round(F.sum("area"), 4).alias("area"),
        F.round(
            F.sum(
                F.col("area")
                * F.col("compensatory_value")
                * F.col("lagefaktor")
                * F.col("bonus")
            ),
            4,
        ).alias("score"),
    )


def score_totals(scored: DataFrame) -> DataFrame:
    return scored.agg(
        F.lit("TOTAL").alias("feature_id"),
        F.round(F.sum("area"), 4).alias("area"),
        F.round(F.sum("score"), 4).alias("score"),
    )
