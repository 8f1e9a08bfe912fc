"""Stage checkpoint manifests with per-partition lineage + row/byte metrics
(BASELINE.json:6,14: "Every stage checkpoints … with per-partition lineage
and row/byte metrics so a killed job resumes mid-tiling").

Sandbox degradation (SURVEY.md §0): no Iceberg runtime jar is available, so
"Iceberg table" degrades to Hive-partitioned parquet + a JSON manifest we
write ourselves. Writer and reader both assume that layout; a real cluster
would replace this module, not pass a format name to it.

Manifest layout (one JSON per stage, committed atomically via temp+rename):
  {
    "stage": str, "manifest_id": str, "inputs": [manifest_id, ...],
    "partition_col": str,
    "partitions": {value: {"rows": int, "bytes": int}},
    "observed_rows": int,        # from df.observe() during the write
    "complete": true
  }

Stage contract (`run_stage`, the one skip-or-build decision both pipeline
CLIs use): a stage whose complete manifest has the same inputs is never
rebuilt — its builder is not even called. Inputs are the upstream stage's
manifest id plus the stage's own parameters, so a rebuilt upstream or a
changed flag rebuilds the stage. `resume` governs only an incomplete stage:
the input is filtered to the partition values missing on disk (→ Catalyst
partition pruning does the skipping) and written with dynamic
partitionOverwriteMode so present partitions are left untouched.
"""

from __future__ import annotations

import json
import os
import uuid
import warnings

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def session(master: str | None, app_name: str) -> SparkSession:
    """The session a pipeline CLI runs in. An ACTIVE session is reused
    untouched: embedded callers (perfbench, BENCH/scaling.py, the tests)
    drive the CLIs from an already-configured session, and get_spark's
    getOrCreate would apply its options TO that session — resetting
    spark.sql.shuffle.partitions and the log level mid-run. Only a
    standalone invocation builds its own session, logging at WARN."""
    active = SparkSession.getActiveSession()
    if active is None:
        from lagespark.session import get_spark

        spark = get_spark(master, app_name=app_name)
        spark.sparkContext.setLogLevel("WARN")
        return spark
    if master is not None and master != active.sparkContext.master:
        warnings.warn(
            f"{app_name}: reusing the ACTIVE SparkSession (master="
            f"{active.sparkContext.master!r}); --master {master!r} is ignored",
            stacklevel=2,
        )
    return active


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_lagespark_manifest.json")


def _partition_values(out_dir: str, partition_col: str) -> set[str]:
    """Partition values on disk, from the directory names alone."""
    if not os.path.isdir(out_dir):
        return set()
    prefix = f"{partition_col}="
    return {n[len(prefix):] for n in os.listdir(out_dir) if n.startswith(prefix)}


def read_stage(spark, out_dir: str):
    """Read a committed stage back (the src-iceberg degradation's read
    side): returns (DataFrame, manifest). The on-disk partition directories
    are checked against the manifest — a torn write (partition present on
    disk but absent from the committed manifest, or vice versa) fails fast
    instead of silently serving partial data."""
    man = read_manifest(out_dir)
    if man is None:
        raise FileNotFoundError(f"no manifest in {out_dir} — stage incomplete")
    if not man.get("complete"):
        raise RuntimeError(f"stage {man.get('stage')} manifest is incomplete")
    on_disk = _partition_values(out_dir, man["partition_col"])
    if on_disk != set(man["partitions"]):
        raise RuntimeError(
            f"stage {man['stage']}: partitions on disk {sorted(on_disk)} "
            f"!= manifest {sorted(man['partitions'])}"
        )
    return spark.read.parquet(out_dir), man


def read_manifest(out_dir: str) -> dict | None:
    p = _manifest_path(out_dir)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _partition_metrics(out_dir: str, partition_col: str) -> dict:
    """Per-partition rows/bytes from the written parquet files (rows via
    parquet footers — no data scan)."""
    import pyarrow.parquet as pq

    parts: dict[str, dict] = {}
    for val in sorted(_partition_values(out_dir, partition_col)):
        pdir = os.path.join(out_dir, f"{partition_col}={val}")
        files = [os.path.join(pdir, f) for f in os.listdir(pdir) if f.endswith(".parquet")]
        parts[val] = {"rows": sum(pq.read_metadata(f).num_rows for f in files),
                      "bytes": sum(os.path.getsize(f) for f in files)}
    return parts


def run_stage(
    build,
    out_dir: str,
    stage: str,
    partition_col: str,
    inputs: list[str],
    resume: bool = False,
) -> tuple[dict, bool]:
    """The ONE skip-or-build decision for a pipeline stage; returns
    (manifest, built). `build` — zero arguments, returns the stage's
    DataFrame — is called only when out_dir holds no complete manifest with
    the same `inputs`: constructing a frame can itself run jobs (the
    iterative dedup components fire per-round actions), so a done stage
    must not build one. resume=True keeps an incomplete stage's partitions
    already on disk (see write_stage)."""
    man = read_manifest(out_dir)
    if man and man.get("complete") and man["inputs"] == inputs:
        return man, False
    return write_stage(build(), out_dir, stage, partition_col, inputs, resume), True


def write_stage(
    df: DataFrame,
    out_dir: str,
    stage: str,
    partition_col: str,
    inputs: list[str] | None = None,
    resume: bool = False,
) -> dict:
    """Write and commit a stage; returns its manifest. With resume=True and
    an incomplete output, only missing partitions are recomputed; over a
    complete one (lineage invalidation: run_stage found different inputs)
    the stage always rebuilds fully."""
    man = read_manifest(out_dir)
    done_vals: set[str] = set()
    if resume and not (man and man.get("complete")):
        # partitions already on disk (from the killed run) are kept as-is
        done_vals = _partition_values(out_dir, partition_col)
        if done_vals:
            df = df.filter(
                ~F.col(partition_col).cast("string").isin(sorted(done_vals))
            )

    obs = Observation(f"{stage}_metrics")
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    # dynamic overwrite ONLY on the resume path (keeps the partitions the
    # killed run completed); a fresh or lineage-invalidated rebuild must use
    # static overwrite so partitions absent from the new DataFrame are
    # DELETED — otherwise stale leftovers would be re-recorded into the new
    # manifest and served as verified data
    (
        df.write.format("parquet")
        .option("partitionOverwriteMode", "dynamic" if done_vals else "static")
        .mode("overwrite")
        .partitionBy(partition_col)
        .save(out_dir)
    )
    observed = int(obs.get["rows"]) if obs.get else 0

    manifest = {
        "stage": stage,
        "manifest_id": uuid.uuid4().hex,
        "inputs": inputs or [],
        "partition_col": partition_col,
        "partitions": _partition_metrics(out_dir, partition_col),
        "observed_rows": observed,
        "resumed_partitions_kept": sorted(done_vals),
        # snapshot lineage: prior manifest ids of this stage directory
        # (Iceberg-snapshot-style history, newest last)
        "snapshots": (man.get("snapshots", []) + [man["manifest_id"]]) if man else [],
        "complete": True,
    }
    tmp = _manifest_path(out_dir) + f".tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, _manifest_path(out_dir))  # atomic commit
    return manifest

