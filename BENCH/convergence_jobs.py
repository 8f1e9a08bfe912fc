"""Spark jobs and seconds of operator builds, A/B across checkouts.

knn_join_points (q69) and duplicate_components each decide when to stop
from a statistic of their rounds; intersects_join_ri and overlay_join
decide their branches from statistics of their eager checkpoints. This
script counts the Spark jobs those decisions cost and times them, on nine
cases:

  q69.sf0.1     q69 (knn_join_points, automatic cell) at sf0.1
  q69.sf0.01    the same at sf0.01
  knn250.sf0.1  q69's join with a fixed 250 m cell at sf0.1
  comp.corpus   duplicate_components over the MinHash pairs of perfbench's
                2,000-doc corpus (the corpus CLI's dedup defaults; the pairs
                are written to parquet before anything is timed)
  comp.path     duplicate_components over a seeded 262-node graph: a
                200-node path, a 60-node star and an isolated pair
  comp.empty    duplicate_components over no pairs
  ri.200        intersects_join_ri over two 200-feature perfbench polygon
                sides (seed 7; ~85% axis rects, the rest octagons)
  overlay.1000  overlay_join over two 1,000-feature perfbench sides (seed 7)
  q68.sf0.1     q68 (overlay_join over all-rect sides) at sf0.1

Each case runs once untimed (warm-up), then --reps times timed in two
phases, each under its own Spark job group: `build` is the operator call
(every job it fires is a driver-side decision) and `collect` is the
toPandas that follows.
Per phase the job count is what statusTracker reports for the group. A
sha256 of the sorted result rows shows whether two checkouts agree.

Each run of a checkout is its own Python process and Spark session; with
two --repo arguments the runs alternate A/B, B/A, … for --pairs pairs, and
bench's numpy calibration (hw_rows_per_core_sec, BENCH/scaling.calibrate at
4-way occupancy) is taken before every run, so a loaded box shows in the
record.

  python BENCH/convergence_jobs.py --repo parent=/path/to/parent \\
      --repo change=. --sf-root /path/to/testdata --pairs 4 \\
      --out BENCH/convergence_ab.json

A --repo is LABEL=PATH or a bare PATH (labelled by its directory name).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

CASES = (
    "q69.sf0.1", "q69.sf0.01", "knn250.sf0.1", "comp.corpus", "comp.path", "comp.empty",
    "ri.200", "overlay.1000", "q68.sf0.1",
)


def _path_pairs() -> list[tuple[int, int]]:
    import numpy as np

    rng = np.random.default_rng(7)
    ids = [int(i) for i in rng.permutation(10_000)[:262]]
    path, star, pair = ids[:200], ids[200:260], ids[260:]
    pairs = [(path[i], path[i + 1]) for i in range(199)]
    pairs += [(star[0], leaf) for leaf in star[1:]]
    pairs += [tuple(pair)]
    return [(a, b) if rng.random() < 0.5 else (b, a) for a, b in pairs]


def _total_s(case: dict) -> float:
    """Median over a run's timed reps of build + collect seconds."""
    return round(statistics.median(b + e for b, e in zip(case["build_s"], case["exec_s"])), 3)


def worker(args) -> None:
    """One checkout, one session: every case, a warm-up then --reps timed
    runs."""
    repo = os.path.abspath(args.repo[0])
    sys.path[:0] = [repo, os.path.join(repo, "perfbench")]
    from pyspark.sql import functions as F

    import __spark_entry__ as contract
    import inputs
    from lagespark import harness
    from lagespark.operators import dedup, spatial
    from lagespark.session import get_spark

    work = tempfile.mkdtemp(prefix="convergence_jobs_")
    spark = get_spark(args.master, app_name="convergence-jobs", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    q69 = contract.queries()["q69-geo-knn-points"]
    q68 = contract.queries()["q68-geo-overlay-join"]

    docs = spark.createDataFrame(inputs.documents(2000, 1))
    corpus_pairs = os.path.join(work, "pairs.parquet")
    dedup.minhash_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", perms=8, band_rows=4, threshold=0.9
    ).select("a", "b").write.parquet(corpus_pairs)
    path_df = spark.createDataFrame(_path_pairs(), "a long, b long")
    # perfbench's polygon sides, read before anything is timed (so a
    # parquet schema job never lands in a build count)
    sides = {
        n: [spark.read.parquet(inputs.write_parquet(
            inputs.polygon_side(n, 7, salt=k), os.path.join(work, f"side{n}_{k}")))
            for k in (1, 2)]
        for n in (200, 1000)
    }

    def knn250(sf):
        pts = harness.points_df(spark, sf)
        qs = pts.filter(F.col("pid") % 101 == 0)
        return spatial.knn_join_points(qs, pts, k=3, cell_size=250.0)

    build = {
        "q69.sf0.1": lambda: q69(spark, os.path.join(args.sf_root, "sf0.1")),
        "q69.sf0.01": lambda: q69(spark, os.path.join(args.sf_root, "sf0.01")),
        "knn250.sf0.1": lambda: knn250(os.path.join(args.sf_root, "sf0.1")),
        "comp.corpus": lambda: dedup.duplicate_components(spark.read.parquet(corpus_pairs)),
        "comp.path": lambda: dedup.duplicate_components(path_df),
        "comp.empty": lambda: dedup.duplicate_components(path_df.limit(0)),
        "ri.200": lambda: spatial.intersects_join_ri(*sides[200]),
        "overlay.1000": lambda: spatial.overlay_join(*sides[1000]),
        "q68.sf0.1": lambda: q68(spark, os.path.join(args.sf_root, "sf0.1")),
    }

    def phase(group, fn):
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        res = fn()
        sec = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        return res, len(sc.statusTracker().getJobIdsForGroup(group)), round(sec, 3)

    out = {}
    try:
        for case in args.cases:
            build[case]().toPandas()  # warm-up
            rec = out[case] = {k: [] for k in ("jobs_build", "jobs_collect", "build_s", "exec_s")}
            for i in range(args.reps):
                df, jb, tb = phase(f"{case}.{i}.build", build[case])
                pdf, jc, tc = phase(f"{case}.{i}.collect", df.toPandas)
                for k, v in zip(rec, (jb, jc, tb, tc)):
                    rec[k].append(v)
            pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
            rec["rows"] = len(pdf)
            rec["sha256"] = hashlib.sha256(pdf.to_csv(index=False).encode()).hexdigest()
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    with open(args.out, "w") as f:
        json.dump(out, f)


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--repo", action="append", required=True,
                   help="checkout whose lagespark is imported (twice for an A/B)")
    p.add_argument("--out", required=True)
    p.add_argument("--pairs", type=int, default=4)
    p.add_argument("--reps", type=int, default=3)
    p.add_argument("--master", default="local[3]")
    p.add_argument("--sf-root", required=True, help="directory holding sf0.01/ and sf0.1/")
    p.add_argument("--cases", nargs="+", default=list(CASES), choices=CASES)
    p.add_argument("--worker", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.worker:
        return worker(args)

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from BENCH.scaling import calibrate

    repos = dict(r.split("=", 1) if "=" in r else (os.path.basename(os.path.abspath(r)), r)
                 for r in args.repo)
    runs = []
    for i in range(args.pairs):
        for label in list(repos) if i % 2 == 0 else list(repos)[::-1]:
            repo = os.path.abspath(repos[label])
            hw = round(calibrate(cores=4, seconds=1.5))
            with tempfile.NamedTemporaryFile(suffix=".json") as tmp:
                env = dict(os.environ, PYTHONPATH=os.pathsep.join(
                    x for x in (repo, os.environ.get("PYTHONPATH")) if x))
                subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--worker", "--repo", repo,
                     "--out", tmp.name, "--master", args.master, "--sf-root", args.sf_root,
                     "--reps", str(args.reps), "--cases", *args.cases],
                    check=True, env=env, cwd=repo)
                with open(tmp.name) as f:
                    cases = json.load(f)
            runs.append({"pair": i, "repo": label, "hw_rows_per_core_sec": hw, "cases": cases})
            print(json.dumps({"pair": i, "repo": label, "hw": hw, **{
                c: (v["jobs_build"][0] + v["jobs_collect"][0], _total_s(v))
                for c, v in cases.items()}}), flush=True)

    summary = {}
    for case in args.cases:
        per = {}
        for label in repos:
            rs = [r["cases"][case] for r in runs if r["repo"] == label]
            per[label] = {
                "jobs_build": sorted({j for r in rs for j in r["jobs_build"]}),
                "jobs_collect": sorted({j for r in rs for j in r["jobs_collect"]}),
                "build_s_median": round(statistics.median(s for r in rs for s in r["build_s"]), 3),
                "exec_s_median": round(statistics.median(s for r in rs for s in r["exec_s"]), 3),
                "run_total_s": [_total_s(r) for r in rs],
                "sha256": sorted({r["sha256"] for r in rs}),
            }
        summary[case] = {
            "outputs_equal": len({r["cases"][case]["sha256"] for r in runs}) == 1,
            "per_repo": per,
        }
    record = {"repos": list(repos), "master": args.master, "pairs": args.pairs,
              "reps": args.reps, "summary": summary, "runs": runs}
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)


if __name__ == "__main__":
    main()
