"""Spark jobs and wall time per pipeline-CLI phase, on perfbench's inputs.

Runs the image CLI and then the corpus CLI, each three times into one
output directory, in one session:

  fresh    into an empty directory
  resume   --resume, after deleting what perfbench's pipelines-resume op
           deletes (image: the tiles manifest, a seeded third of the
           tile_bucket partitions and the scores stage; corpus: mix, packs)
  rerun    no --resume, into the now complete directory

Each phase runs under its own Spark job group; its job count is what
statusTracker reports for that group. The rows and partitions of every
committed manifest and the corpus stats are recorded so two checkouts can
be compared for equal outputs.

  python BENCH/pipeline_jobs.py --repo . --out /tmp/jobs.json
  python BENCH/pipeline_jobs.py --repo /path/to/other/checkout --out ...

--repo is the checkout whose lagespark is imported; perfbench/inputs.py is
read from the same checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--repo", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--images", type=int, default=2000)
    p.add_argument("--docs", type=int, default=2000)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--master", default="local[3]")
    args = p.parse_args(argv)

    repo = os.path.abspath(args.repo)
    sys.path[:0] = [repo, os.path.join(repo, "perfbench")]
    work = tempfile.mkdtemp(prefix="pipeline_jobs_")
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(work, "local"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (repo, os.environ.get("PYTHONPATH")) if x)

    import numpy as np

    import inputs
    from lagespark.pipeline import cli, corpus, manifest
    from lagespark.session import get_spark

    spark = get_spark(args.master, app_name="pipeline-jobs", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    def phase(name, fn):
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        res = fn()
        wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        return res, {"jobs": len(sc.statusTracker().getJobIdsForGroup(name)),
                     "wall_s": round(wall, 3)}

    def outputs(root, stages):
        out = {}
        for s in stages:
            m = manifest.read_manifest(os.path.join(root, s))
            out[s] = {"rows": sum(v["rows"] for v in m["partitions"].values()),
                      "partitions": sorted(m["partitions"])}
        return out

    record = {"repo": repo, "master": args.master, "images": args.images,
              "docs": args.docs, "seed": args.seed, "phases": {}}
    try:
        sf = os.path.join(work, "sf")
        inputs.write_parquet(inputs.documents(args.docs, args.seed),
                             os.path.join(sf, "documents.parquet"))
        img, cor = os.path.join(work, "img"), os.path.join(work, "corpus")
        img_stages = ("images", "zones", "tiles", "scores")
        cor_stages = ("clean", "dedup", "decon", "mix", "packs")

        a = cli.build_parser().parse_args(
            ["--out", img, "--n-images", str(args.images), "--master", args.master])
        for name in ("fresh", "resume", "rerun"):
            if name == "resume":
                buckets = sorted(manifest.read_manifest(
                    os.path.join(img, "tiles"))["partitions"])
                cut = np.random.default_rng(args.seed).choice(
                    buckets, max(1, len(buckets) // 3), replace=False)
                os.remove(os.path.join(img, "tiles", "_lagespark_manifest.json"))
                for b in cut:
                    shutil.rmtree(os.path.join(img, "tiles", f"tile_bucket={b}"))
                shutil.rmtree(os.path.join(img, "scores"))
            a.resume = name == "resume"
            _, rec = phase(f"image.{name}", lambda: cli.run(a))
            rec["outputs"] = outputs(img, img_stages)
            record["phases"][f"image.{name}"] = rec

        c = corpus.build_parser().parse_args(["--out", cor, "--sf-dir", sf])
        for name in ("fresh", "resume", "rerun"):
            if name == "resume":
                for s in ("mix", "packs"):
                    shutil.rmtree(os.path.join(cor, s))
            c.resume = name == "resume"
            stats, rec = phase(f"corpus.{name}", lambda: corpus.run(c))
            rec["stage_sec"] = stats.pop("stage_sec")
            rec["stats"] = stats
            rec["outputs"] = outputs(cor, cor_stages)
            record["phases"][f"corpus.{name}"] = rec
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: {"jobs": v["jobs"], "wall_s": v["wall_s"]}
                      for k, v in record["phases"].items()}))


if __name__ == "__main__":
    main()
