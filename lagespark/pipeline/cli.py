"""spark-submit pipeline CLI (BASELINE.json:6,14: 'launches via spark-submit
--py-files on multi-executor clusters', 'resumable from checkpoint').

Stages (each checkpointed with manifest + per-partition lineage/metrics):

  images  — generate/load the geotagged image+caption table, cell-indexed,
            partitioned by cell_prefix (spatially coherent → partition
            pruning serves both spatial range queries and resume)
  zones   — Lagefaktor zone assignment per image (exact distance kernel),
            partitioned by zone
  tiles   — per-(tile, zone) image counts and payload bytes, partitioned
            by tile bucket
  scores  — per-zone/fmt aggregation (tiny output)

Usage (local example; on a cluster swap --master and add --py-files zip):

  python tools/make_pyfiles_zip.py /tmp/lagespark.zip
  spark-submit --master local[8] --py-files /tmp/lagespark.zip \
      -m lagespark.pipeline.cli --out /tmp/pipe --n-images 2000
  # kill it mid-run, then keep the partitions it finished:
  spark-submit ... -m lagespark.pipeline.cli --out /tmp/pipe --resume
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import functions as F


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="lagespark-pipeline", description=__doc__)
    p.add_argument("--out", required=True, help="output root directory")
    p.add_argument("--n-images", type=int, default=2000)
    p.add_argument("--partitions", type=int, default=16)
    p.add_argument(
        "--resume", action="store_true",
        help="keep the partitions an interrupted run left in an incomplete "
        "stage and compute only the missing ones (a complete stage with the "
        "same inputs is never rebuilt, with or without this flag)",
    )
    p.add_argument("--master", default=None)
    p.add_argument("--cell-size", type=float, default=250.0)
    return p


def run(args) -> dict:
    from lagespark import fixtures
    from lagespark.operators import image_ops, spatial
    from lagespark.pipeline import manifest

    spark = manifest.session(args.master, "lagespark-pipeline")

    def stage(name, build, partition_col, inputs):
        return manifest.run_stage(
            build, os.path.join(args.out, name), name, partition_col, inputs,
            resume=args.resume,
        )[0]

    # builders read their upstream stage back (verified, partition-prunable)
    # only when they run, so a skipped stage costs no read
    def read(name):
        return manifest.read_stage(spark, os.path.join(args.out, name))[0]

    # stage 1: images (cell-indexed, partitioned by spatially-coherent prefix).
    # Its inputs are every flag that changes its rows (--partitions does not:
    # generation is per-index); downstream stages chain on manifest ids
    def _build_images():
        imgs = image_ops.generate_images(spark, args.n_images, args.partitions)
        imgs = spatial.with_grid_cell(imgs, cell_size=args.cell_size)
        return imgs.withColumn(
            "cell_prefix",
            F.pmod(F.floor(F.col("x") / F.lit(args.cell_size * 4)), 16).cast("int"),
        )

    m1 = stage("images", _build_images, "cell_prefix",
               [f"n_images={args.n_images}", f"cell_size={args.cell_size}"])

    # stage 2: zone assignment
    m2 = stage(
        "zones",
        lambda: spatial.with_zone(
            read("images"), spatial.FeatureSet(fixtures.baufeld_pdf())),
        "zone", [m1["manifest_id"]],
    )

    # stage 3: tile materialization ("a killed job resumes MID-TILING",
    # BASELINE.json:6 — tiles are partitioned by a tile bucket so resume
    # recomputes only missing buckets)
    tile_size = args.cell_size * 4
    m3 = stage(
        "tiles",
        lambda: read("zones").withColumn(
            "tile_id",
            (F.floor(F.col("x") / tile_size).cast("long") + 1048576) * 2097152
            + (F.floor(F.col("y") / tile_size).cast("long") + 1048576),
        )
        .groupBy("tile_id", "zone")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum(F.length("bytes")).alias("payload_bytes"),
        )
        .withColumn("tile_bucket", F.pmod(F.col("tile_id"), 16).cast("int")),
        "tile_bucket", [m2["manifest_id"]],
    )

    # stage 4: aggregation (single small output + manifest)
    m4 = stage(
        "scores",
        lambda: read("tiles").groupBy("zone").agg(
            F.sum("n_images").alias("n"),
            F.sum("payload_bytes").alias("payload_bytes"),
            F.count(F.lit(1)).alias("n_tiles"),
        ).withColumn("bucket", F.lit(0)),
        "bucket", [m3["manifest_id"]],
    )
    out = {"images": m1, "zones": m2, "tiles": m3, "scores": m4}
    print(json.dumps({s: {"rows": sum(p["rows"] for p in m["partitions"].values()),
                          "partitions": len(m["partitions"])}
                      for s, m in out.items()}))
    return out


def main() -> None:
    run(build_parser().parse_args())


if __name__ == "__main__":
    main()
