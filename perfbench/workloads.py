"""The three closed-loop workloads. Each calls lagespark's public functions
on seeded inputs and checks every op's output against a reference built in
set-up; a mismatch raises ``CheckFailed``.

A workload provides:
  generate(dir)   write its seeded inputs under ``dir`` (repeated in set-up)
  prepare()       numpy references, after generate
  op(tracer)      one op; returns the input rows it completed
  probe()         traced runs only, after the window: numbers that need
                  extra Spark jobs outside the ops
  layers(spans, by_span, stages)   workload-specific per-op layer numbers
  kernel_batch()  numpy points for the single-threaded kernel rates
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
import measure
from lagespark import fixtures
from lagespark.kernels import geom
from lagespark.operators import overlay, spatial, tile
from lagespark.pipeline import cli, corpus

GOLDEN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "golden")

SIZES = {
    "full": {"points": 400_000, "features": 1_000, "images": 2_000, "docs": 2_000},
    "smoke": {"points": 20_000, "features": 100, "images": 200, "docs": 300},
}


class CheckFailed(AssertionError):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _fixture_sets():
    return (spatial.FeatureSet(fixtures.gruenflaeche_pdf()),
            spatial.FeatureSet(fixtures.baufeld_pdf()),
            spatial.FeatureSet(fixtures.biotope_pdf()))


def _clip_pairs(seed: int, n: int = 300) -> list[tuple]:
    """Seeded overlapping polygon pairs: each feature against a copy of
    itself shifted by a quarter of its extent."""
    side = inputs.polygon_side(n, seed, salt=3)
    pairs = []
    for rings, x0, y0, x1, y1 in zip(side["rings"], side["xmin"], side["ymin"],
                                     side["xmax"], side["ymax"]):
        a = [np.array([[p["x"], p["y"]] for p in r]) for r in rings]
        b = [r + np.array([(x1 - x0) / 4, (y1 - y0) / 4]) for r in a]
        pairs.append((a, b))
    return pairs


def kernel_inputs(seed: int) -> tuple:
    """The polygons and images the kernel rates run against: the fixture
    feature with a hole for PIP, the construction polygons for zones,
    seeded clip pairs, and 64 seeded procedural images in all four formats."""
    from lagespark.image import codecs

    gf, bf, _ = _fixture_sets()
    images = [(codecs.procedural_image(seed * 1000 + i, 32, 32), fixtures.FMTS[i % 4])
              for i in range(64)]
    return gf.rings["gf005"], bf.polys(), _clip_pairs(seed), images


def _span_seconds(spans, name):
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def _call_layers(names, spans, by_span, stages) -> dict:
    """Per op: <call>.build_s (wall time inside the call: plan build + eager
    jobs) and <call>.exec_s (stage time of the jobs fired inside it)."""
    ops = max(len({s["op"] for s in spans}), 1)
    out = {}
    for name in names:
        mine = [s for s in spans if s["name"] == name]
        out[f"{name}.build_s"] = _span_seconds(spans, name) / ops
        out[f"{name}.exec_s"] = measure.span_exec_seconds(
            [j for s in mine for j in by_span.get(s["id"], [])], stages) / ops
    return out


class ScorePoints:
    """pip_join → with_zone → broadcast value join → score_points → collect
    of the (feature, zone) scores, over a seeded skewed point field."""

    name = "score-points"
    warmup_ops = 4
    calls = ("spatial.pip_join", "spatial.with_zone", "spatial.score_points")

    def __init__(self, spark, seed: int, size: dict):
        self.spark, self.seed, self.n = spark, seed, size["points"]
        self.gf, self.bf, _ = _fixture_sets()
        self.factors = spark.createDataFrame(fixtures.factors_pdf())
        self.values = spark.createDataFrame(
            self.gf.attrs.reset_index()[["feature_id", "compensatory_value"]])

    def generate(self, d: str) -> None:
        self.pts = inputs.points(self.n, self.seed)
        self.path = inputs.write_parquet(self.pts, os.path.join(d, "points"))

    def prepare(self) -> None:
        """numpy-only reference: exact PIP per feature, zone per point,
        Σ value × lagefaktor per (feature, zone)."""
        x, y = self.pts["x"].to_numpy(), self.pts["y"].to_numpy()
        lf = fixtures.factors_pdf().set_index("zone")["lagefaktor"]
        want = {}
        for fid in self.gf.ids:
            x0, y0, x1, y1 = self.gf.bbox[fid]
            cand = np.flatnonzero((x >= x0) & (x <= x1) & (y >= y0) & (y <= y1))
            inside = cand[geom.point_in_polygon(x[cand], y[cand], self.gf.rings[fid])]
            zones = geom.zone_of_points(x[inside], y[inside], self.bf.polys())
            value = float(self.gf.attrs.loc[fid, "compensatory_value"])
            for z in np.unique(zones):
                n = int((zones == z).sum())
                want[(fid, int(z))] = (n, n * value * float(lf[int(z)]))
        self.want = want
        self.matches = sum(n for n, _ in want.values())

    def op(self, tr) -> int:
        with tr.span("io.read_points"):
            pts = self.spark.read.parquet(self.path)
        with tr.span("spatial.pip_join"):
            hits = spatial.pip_join(pts, self.gf)
        with tr.span("spatial.with_zone"):
            zoned = spatial.with_zone(hits, self.bf)
        with tr.span("join.values"):
            valued = zoned.join(F.broadcast(self.values), "feature_id")
        with tr.span("spatial.score_points"):
            scores = spatial.score_points(valued, self.factors)
        with tr.span("sink.scores"):
            rows = scores.collect()
        got = {(r.feature_id, int(r.zone)): (int(r.n_points), float(r.score)) for r in rows}
        check(got.keys() == self.want.keys(), "score-points: (feature, zone) keys differ")
        for key, (n, score) in self.want.items():
            check(got[key][0] == n, f"score-points: n_points {key} {got[key][0]} != {n}")
            check(abs(got[key][1] - score) <= 1e-6 * max(1.0, abs(score)),
                  f"score-points: score {key} {got[key][1]} != {score}")
        return self.n

    def probe(self) -> dict:
        """Kernel-confirmed matches ÷ cover-join candidates, the candidates
        counted outside the operator."""
        cells = spatial.with_grid_cell(self.spark.read.parquet(self.path))
        cand = cells.join(spatial.feature_cover_df(self.spark, self.gf), "cell").count()
        return {"spatial.pip_join.hit_ratio": self.matches / cand}

    def layers(self, spans, by_span, stages) -> dict:
        return _call_layers(self.calls, spans, by_span, stages)

    def kernel_batch(self):
        b = self.pts.iloc[:50_000]
        return b["x"].to_numpy(), b["y"].to_numpy()


class JoinTiles:
    """overlay_join on two seeded polygon sides, then on the fixtures
    zone_area_pieces → score_areas and rasterize_features → vectorize_tiles."""

    name = "join-tiles"
    warmup_ops = 1
    calls = ("spatial.overlay_join",)

    def __init__(self, spark, seed: int, size: dict):
        self.spark, self.seed, self.nf = spark, seed, size["features"]
        self.gf, self.bf, self.bt = _fixture_sets()
        self.gruen = spark.createDataFrame(fixtures.gruenflaeche_pdf())
        self.factors = spark.createDataFrame(fixtures.factors_pdf())
        self.values = spark.createDataFrame(
            self.gf.attrs.reset_index()[["feature_id", "compensatory_value"]])
        with open(os.path.join(GOLDEN, "scores.json")) as f:
            self.golden_scores = {k: v for k, v in json.load(f).items() if k != "TOTAL"}
        with open(os.path.join(GOLDEN, "tile_assignments.json")) as f:
            self.golden_tiles = json.load(f)
        self.fingerprint = None

    def generate(self, d: str) -> None:
        self.a = inputs.polygon_side(self.nf, self.seed, salt=1)
        self.b = inputs.polygon_side(self.nf, self.seed, salt=2)
        self.pa = inputs.write_parquet(self.a, os.path.join(d, "side_a"))
        self.pb = inputs.write_parquet(self.b, os.path.join(d, "side_b"))

    def prepare(self) -> None:
        """Brute force on a seeded sample: exact areas of 40 left features
        against every right feature whose bbox overlaps."""
        rng = np.random.default_rng(self.seed)
        ra, rb = inputs.side_rings(self.a), inputs.side_rings(self.b)
        self.sample_l = set(rng.choice(self.a["feature_id"], 40, replace=False))
        bb = self.b.set_index("feature_id")[["xmin", "ymin", "xmax", "ymax"]]
        self.want_area = {}
        for row in self.a[self.a["feature_id"].isin(self.sample_l)].itertuples():
            near = bb[(bb.xmin < row.xmax) & (bb.xmax > row.xmin)
                      & (bb.ymin < row.ymax) & (bb.ymax > row.ymin)]
            for fid in near.index:
                area = round(geom.intersection_area(ra[row.feature_id], rb[fid]), 4)
                if area > 0:
                    self.want_area[(row.feature_id, fid)] = area

    def op(self, tr) -> int:
        with tr.span("io.read_sides"):
            a, b = self.spark.read.parquet(self.pa), self.spark.read.parquet(self.pb)
        with tr.span("spatial.overlay_join"):
            ov = spatial.overlay_join(a, b)
        with tr.span("sink.overlay"):
            pairs = ov.toPandas()
        with tr.span("overlay.zone_area_pieces"):
            pieces = overlay.zone_area_pieces(self.gruen, self.bf, self.bt)
        with tr.span("overlay.score_areas"):
            scored = overlay.score_areas(pieces, self.values, self.factors)
        with tr.span("sink.zone_scores"):
            scores = scored.collect()
        with tr.span("tile.rasterize_features"):
            tiles = tile.rasterize_features(self.spark, self.gf)
        with tr.span("tile.vectorize_tiles"):
            boxes = tile.vectorize_tiles(tiles)
        with tr.span("sink.tiles"):
            boxes = boxes.toPandas()
        self._check(pairs, scores, boxes)
        return 2 * self.nf

    def _check(self, pairs, scores, boxes) -> None:
        """Overlay pairs: a fingerprint taken on the first (set-up) op, plus
        brute force on the sampled left features. Fixture chains: the goldens
        the test suite pins — zone scores exactly, and per (tile, feature)
        the vectorized box area in sub-cells equals the pinned covered_cells."""
        fp = (len(pairs), round(float(pairs["area"].sum()), 2))
        if self.fingerprint is None:
            self.fingerprint = fp
        check(fp == self.fingerprint, f"join-tiles: fingerprint {fp} != {self.fingerprint}")
        got = {(r.id_l, r.id_r): r.area
               for r in pairs[pairs["id_l"].isin(self.sample_l)].itertuples()}
        sure = lambda d: {k for k, v in d.items() if v > 1e-3}  # noqa: E731
        check(sure(got) == sure(self.want_area), "join-tiles: sampled overlay pairs differ")
        for k in sure(got):
            check(abs(got[k] - self.want_area[k]) <= 2e-4, f"join-tiles: area {k}")
        got_scores = {f"{r.feature_id}/{r.zone}": [round(float(r.area), 4), round(float(r.score), 4)]
                      for r in scores}
        check(got_scores == self.golden_scores, "join-tiles: zone scores differ from golden/scores.json")
        sub2 = (256.0 / 16) ** 2
        area = (boxes["xmax"] - boxes["xmin"]) * (boxes["ymax"] - boxes["ymin"]) / sub2
        cov = area.groupby([boxes["tile_id"], boxes["feature_id"]]).sum()
        got_tiles = {f"{t}/{f}": int(round(v)) for (t, f), v in cov.items()}
        check(got_tiles == self.golden_tiles, "join-tiles: tiles differ from golden/tile_assignments.json")

    def layers(self, spans, by_span, stages) -> dict:
        out = _call_layers(self.calls, spans, by_span, stages)
        ops = max(len({s["op"] for s in spans}), 1)
        for name in ("overlay.zone_area_pieces", "tile.rasterize_features", "tile.vectorize_tiles"):
            out[f"{name}.s"] = _span_seconds(spans, name) / ops
        # the fixture chains are lazy: their execution lands in the sinks
        out["overlay.sink_s"] = _span_seconds(spans, "sink.zone_scores") / ops
        out["tile.sink_s"] = _span_seconds(spans, "sink.tiles") / ops
        return out

    def probe(self) -> dict:
        return {}

    def kernel_batch(self):
        """The bbox centres of both polygon sides."""
        sides = pd.concat([self.a, self.b])
        return ((sides["xmin"] + sides["xmax"]).to_numpy() / 2,
                (sides["ymin"] + sides["ymax"]).to_numpy() / 2)


class PipelinesResume:
    """The image pipeline CLI fresh into a new directory, then resumed after
    deleting the tiles manifest, a seeded subset of tile_bucket partitions
    and the scores stage; the corpus pipeline fresh over seeded documents,
    then resumed after deleting mix and packs. Fresh and resume are one op."""

    name = "pipelines-resume"
    # no warm-up: each CLI invocation is a fresh process with a cold JVM, so
    # the first op in a fresh session is the one a user of the CLIs waits for
    warmup_ops = 0

    def __init__(self, spark, seed: int, size: dict):
        self.spark, self.seed = spark, seed
        # the CLI calls get_spark again, which re-applies the session's SQL
        # settings: it must get the same master or shuffle partitions change
        self.master = spark.sparkContext.master
        self.n_images, self.n_docs = size["images"], size["docs"]
        self.stats: list[dict] = []

    def generate(self, d: str) -> None:
        self.docs = inputs.documents(self.n_docs, self.seed)
        self.sf_dir = os.path.join(d, "sf")
        inputs.write_parquet(self.docs, os.path.join(self.sf_dir, "documents.parquet"))
        self.work = os.path.join(d, "pipeline_out")

    def prepare(self) -> None:
        pass

    def probe(self) -> dict:
        return {}

    @staticmethod
    def _read(path: str, keys: list[str]) -> pd.DataFrame:
        """A stage's rows in key order, read on the driver with pyarrow (the
        check stays out of Spark, so it adds no jobs to the op)."""
        pdf = pq.read_table(path).to_pandas()
        for c in pdf.columns:
            if isinstance(pdf[c].dtype, pd.CategoricalDtype):
                pdf[c] = pdf[c].astype(str)
        return pdf.sort_values(keys).reset_index(drop=True)[sorted(pdf.columns)]

    def op(self, tr) -> int:
        shutil.rmtree(self.work, ignore_errors=True)
        img_out, c_out = os.path.join(self.work, "img"), os.path.join(self.work, "corpus")
        a = cli.build_parser().parse_args(
            ["--out", img_out, "--n-images", str(self.n_images), "--master", self.master])
        with tr.span("pipeline.cli.fresh"):
            fresh = cli.run(a)
        for stage in ("images", "zones"):
            rows = sum(p["rows"] for p in fresh[stage]["partitions"].values())
            check(rows == self.n_images, f"pipelines: {stage} manifest rows {rows}")
        with tr.span("check.read_fresh"):
            tiles0 = self._read(os.path.join(img_out, "tiles"), ["tile_id", "zone"])
            scores0 = self._read(os.path.join(img_out, "scores"), ["zone"])
        check(tiles0["n_images"].sum() == scores0["n"].sum() == self.n_images,
              "pipelines: tiles/scores do not account for every image")
        # the seed picks the resume cut: a third of the tile_bucket partitions
        buckets = sorted(fresh["tiles"]["partitions"])
        cut = sorted(np.random.default_rng(self.seed).choice(
            buckets, max(1, len(buckets) // 3), replace=False))
        os.remove(os.path.join(img_out, "tiles", "_lagespark_manifest.json"))
        for bkt in cut:
            shutil.rmtree(os.path.join(img_out, "tiles", f"tile_bucket={bkt}"))
        shutil.rmtree(os.path.join(img_out, "scores"))
        a.resume = True
        with tr.span("pipeline.cli.resume"):
            resumed = cli.run(a)
        with tr.span("check.read_resumed"):
            tiles1 = self._read(os.path.join(img_out, "tiles"), ["tile_id", "zone"])
            scores1 = self._read(os.path.join(img_out, "scores"), ["zone"])
        check(tiles1.equals(tiles0) and scores1.equals(scores0), "pipelines: resumed image outputs differ")
        kept = resumed["tiles"]["resumed_partitions_kept"]
        check(sorted(kept) == sorted(set(buckets) - set(cut)), "pipelines: kept partitions")

        c = corpus.build_parser().parse_args(["--out", c_out, "--sf-dir", self.sf_dir])
        with tr.span("pipeline.corpus.fresh"):
            st0 = corpus.run(c)
        with tr.span("check.read_packs"):
            packs0 = self._read(os.path.join(c_out, "packs"), ["doc_id"])
        check(st0["input_docs"] == self.n_docs and st0["packed_docs"] == len(packs0) > 0,
              "pipelines: corpus row counts")
        for stage in ("mix", "packs"):
            shutil.rmtree(os.path.join(c_out, stage))
        c.resume = True
        with tr.span("pipeline.corpus.resume"):
            st1 = corpus.run(c)
        with tr.span("check.read_packs"):
            packs1 = self._read(os.path.join(c_out, "packs"), ["doc_id"])
        strip = lambda s: {k: v for k, v in s.items() if k != "stage_sec"}  # noqa: E731
        check(strip(st1) == strip(st0) and packs1.equals(packs0), "pipelines: resumed corpus differs")
        self.stats.append({
            "stage_sec": st0["stage_sec"],
            "bytes": sum(p["bytes"] for m in fresh.values() for p in m["partitions"].values()),
            "recomputed": len(resumed["tiles"]["partitions"]) - len(kept),
            "kept": len(kept),
        })
        shutil.rmtree(self.work, ignore_errors=True)
        return self.n_images + self.n_docs

    def layers(self, spans, by_span, stages) -> dict:
        ops = max(len({s["op"] for s in spans}), 1)
        out = {f"pipeline.{k}_s": _span_seconds(spans, f"pipeline.{k}") / ops
               for k in ("cli.fresh", "cli.resume", "corpus.fresh", "corpus.resume")}
        last = self.stats[-ops:]
        for stage in ("clean", "dedup", "decon", "mix", "packs"):
            out[f"pipeline.corpus.{stage}_s"] = float(np.median([s["stage_sec"][stage] for s in last]))
        out["pipeline.manifest.bytes_written"] = last[-1]["bytes"]
        out["pipeline.resume.partitions_recomputed"] = last[-1]["recomputed"]
        out["pipeline.resume.partitions_kept"] = last[-1]["kept"]
        return out

    def kernel_batch(self):
        return fixtures.image_points(self.n_images)


WORKLOADS = {w.name: w for w in (ScorePoints, JoinTiles, PipelinesResume)}
