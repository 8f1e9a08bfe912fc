"""Checkpoint/resume tests (SURVEY.md §5 item 5): run the pipeline, simulate
a mid-run kill (drop stage-2 partitions + manifest), resume, and assert the
final output is identical with untouched partitions not rewritten."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from lagespark.pipeline import cli, manifest

N = 400


def _args(out, resume=False):
    return cli.build_parser().parse_args(
        ["--out", out, "--n-images", str(N), "--partitions", "4", "--master", "local[4]"]
        + (["--resume"] if resume else [])
    )


@pytest.fixture(scope="module")
def fresh_run(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe_fresh"))
    mans = cli.run(_args(out))
    return out, mans


def test_manifests_complete_with_metrics(fresh_run):
    out, mans = fresh_run
    for stage, m in mans.items():
        assert m["complete"], stage
        assert m["partitions"], stage
        total_rows = sum(p["rows"] for p in m["partitions"].values())
        assert total_rows > 0
        assert all(p["bytes"] > 0 for p in m["partitions"].values())
    assert mans["images"]["observed_rows"] == N
    # lineage chain
    assert mans["zones"]["inputs"] == [mans["images"]["manifest_id"]]
    assert mans["tiles"]["inputs"] == [mans["zones"]["manifest_id"]]
    assert mans["scores"]["inputs"] == [mans["tiles"]["manifest_id"]]


def test_rerun_skips_completed_stages(spark, fresh_run):
    out, mans = fresh_run
    mans2 = cli.run(_args(out, resume=True))
    # manifests unchanged → stages skipped, ids stable
    for s in mans:
        assert mans2[s]["manifest_id"] == mans[s]["manifest_id"], s


def test_kill_and_resume_recomputes_only_missing(spark, fresh_run, tmp_path):
    out, _ = fresh_run
    victim = str(tmp_path / "pipe_victim")
    shutil.copytree(out, victim)
    zdir = os.path.join(victim, "zones")
    # simulate a kill mid-stage-2: one partition missing, manifest not committed
    parts = sorted(p for p in os.listdir(zdir) if p.startswith("zone="))
    assert len(parts) >= 2
    shutil.rmtree(os.path.join(zdir, parts[0]))
    os.remove(os.path.join(zdir, "_lagespark_manifest.json"))
    # downstream stages (tiles, scores) are NOT touched: lineage-based
    # invalidation must rebuild them because zones gets a new manifest id

    kept = os.path.join(zdir, parts[1])
    kept_mtimes = {
        f: os.path.getmtime(os.path.join(kept, f)) for f in os.listdir(kept)
    }

    mans = cli.run(_args(victim, resume=True))
    m2 = mans["zones"]
    assert m2["complete"]
    assert sorted(m2["resumed_partitions_kept"]) == sorted(
        p.split("=", 1)[1] for p in parts[1:]
    )
    # untouched partition files were NOT rewritten
    for f, t in kept_mtimes.items():
        assert os.path.getmtime(os.path.join(kept, f)) == t, f

    # final outputs identical to the fresh run
    a = spark.read.parquet(os.path.join(out, "zones")).toPandas()
    b = spark.read.parquet(os.path.join(victim, "zones")).toPandas()
    a = a.sort_values("image_id").reset_index(drop=True)
    b = b.sort_values("image_id").reset_index(drop=True)
    assert (a["image_id"] == b["image_id"]).all()
    assert (a["zone"] == b["zone"]).all()
    assert (a["bytes"] == b["bytes"]).all()


def test_full_rebuild_deletes_stale_partitions(spark, tmp_path):
    """A fresh (non-resume) write over an existing stage directory must
    DELETE partitions absent from the new DataFrame — dynamic overwrite would
    leave them on disk and the manifest would record stale data as verified."""
    out = str(tmp_path / "stale")
    df1 = spark.range(0, 30).selectExpr("id", "CAST(id % 3 AS INT) AS p")
    man1 = manifest.write_stage(df1, out, "s", "p", inputs=["m1"])
    assert sorted(manifest.read_manifest(out)["partitions"]) == ["0", "1", "2"]

    # rebuild with DIFFERENT inputs (lineage invalidation) and fewer partitions
    df2 = spark.range(0, 20).selectExpr("id", "CAST(id % 2 AS INT) AS p")
    man2 = manifest.write_stage(df2, out, "s", "p", inputs=["m2"])
    assert sorted(man2["partitions"]) == ["0", "1"]
    # the replaced manifest's id is kept as the stage's snapshot history
    assert man2["snapshots"] == [man1["manifest_id"]]
    on_disk = sorted(
        d.split("=", 1)[1] for d in os.listdir(out) if d.startswith("p=")
    )
    assert on_disk == ["0", "1"], f"stale partition left on disk: {on_disk}"
    df, _ = manifest.read_stage(spark, out)
    assert df.count() == 20


def test_spark_submit_pyfiles(tmp_path):
    """The BASELINE.json:14 launch mode: spark-submit --py-files zip runs the
    CLI end-to-end from OUTSIDE the repo directory."""
    from tools.make_pyfiles_zip import build

    zip_path = str(tmp_path / "lagespark.zip")
    build(zip_path)
    out = str(tmp_path / "pipe_submit")
    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(os.path.dirname(sys.executable)), "bin", "spark-submit"
    )
    import pyspark

    spark_submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    cmd = [
        spark_submit,
        "--master",
        "local[2]",
        "--py-files",
        zip_path,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "lagespark", "pipeline", "cli.py"),
        "--out",
        out,
        "--n-images",
        "120",
        "--partitions",
        "2",
        "--master",
        "local[2]",
    ]
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    res = subprocess.run(
        cmd, capture_output=True, text=True, timeout=420, cwd=str(tmp_path), env=env
    )
    assert res.returncode == 0, res.stderr[-3000:]
    man = manifest.read_manifest(os.path.join(out, "scores"))
    assert man and man["complete"]


def test_read_stage_verifies_manifest(spark, fresh_run, tmp_path):
    from lagespark.pipeline.manifest import read_stage

    out, mans = fresh_run
    df, man = read_stage(spark, os.path.join(out, "zones"))
    assert man["stage"] == "zones"
    assert df.count() == sum(p["rows"] for p in man["partitions"].values())

    # torn write: partition on disk missing → read_stage must fail fast
    victim = str(tmp_path / "torn")
    shutil.copytree(os.path.join(out, "zones"), victim)
    parts = [p for p in os.listdir(victim) if p.startswith("zone=")]
    shutil.rmtree(os.path.join(victim, parts[0]))
    with pytest.raises(RuntimeError, match="partitions on disk"):
        read_stage(spark, victim)


class _Built(Exception):
    pass


def _builds(out_dir, inputs) -> bool:
    """True iff run_stage would (re)build the stage for these inputs: the
    builder raises before anything is written."""

    def build():
        raise _Built

    try:
        manifest.run_stage(build, out_dir, "probe", "lang", inputs)
    except _Built:
        return True
    return False


def test_corpus_pipeline_end_to_end_and_resume(spark, tmp_path):
    """The text-corpus pipeline (clean → dedup → decon → mix → pack) runs
    end-to-end with committed manifests, and a re-run — with or without
    --resume — skips every stage (run_stage never calls the builder, so the
    iterative dedup builder fires none of its per-round jobs) while
    reproducing identical stats."""
    from lagespark.pipeline import corpus

    out = str(tmp_path / "corpus")
    args = corpus.build_parser().parse_args(
        ["--out", out, "--sf-dir", "/root/testdata/sf0.001"]
    )
    stats = corpus.run(args)
    assert stats["input_docs"] == 500
    # the funnel only narrows, and every stage keeps something
    order = ["clean", "dedup", "decon", "mix", "packed_docs"]
    vals = [stats[k] for k in order]
    assert vals == sorted(vals, reverse=True) and vals[-1] > 0
    assert stats["n_packs"] > 0
    # the EXACT skip decision run() uses: run_stage with the upstream
    # manifest id as inputs does not build any stage in the chain.
    # Stage 1's input is the SOURCE fingerprint (path + file sizes/mtimes),
    # so pointing the same --out at a different/regenerated --sf-dir
    # invalidates the whole chain instead of serving the stale clean stage.
    src_fp = corpus._fingerprint("/root/testdata/sf0.001/documents.parquet")
    # stage inputs = upstream identity + the stage's OWN parameters (late
    # round 6): a changed flag invalidates the checkpoint like changed
    # data does
    params = {
        "clean": ["min_tokens=5", "max_punct_ratio=0.3"],
        "dedup": ["perms=8", "band_rows=4", "jaccard=0.9"],
        "decon": ["ngram=20", "keys=xxhash64"],
        "mix": ["rates=en:4000,de:8000"],
        "packs": ["budget=512"],
    }
    chain = [("clean", []), ("dedup", ["clean"]), ("decon", ["dedup"]),
             ("mix", ["decon"]), ("packs", ["mix"])]
    for st, ups in chain:
        inputs = [manifest.read_manifest(f"{out}/{u}")["manifest_id"] for u in ups]
        if st == "clean":
            inputs = [src_fp]
        assert not _builds(f"{out}/{st}", inputs + params[st]), st
    # lineage invalidation: a REBUILT upstream (different manifest_id) must
    # rebuild the downstream stage — stale data is never served
    dedup_id = manifest.read_manifest(f"{out}/clean")["manifest_id"]
    assert _builds(f"{out}/dedup", ["not-the-real-id"] + params["dedup"])
    # ...a CHANGED source must rebuild stage 1 itself (ADVICE round-4 fix)
    assert _builds(f"{out}/clean", ["src:/other:deadbeef"] + params["clean"])
    # ...and a CHANGED stage parameter must rebuild the stage on its own
    assert _builds(
        f"{out}/dedup", [dedup_id, "perms=8", "band_rows=2", "jaccard=0.9"]
    )

    # stage_sec is wall-time (round-6 instrumentation): a re-run that builds
    # nothing records 0.0 per stage; every data stat must be identical.
    # Without --resume too: --resume only governs an incomplete stage's
    # leftover partitions, never whether a complete stage is rebuilt
    for flags in (["--resume"], []):
        args2 = corpus.build_parser().parse_args(
            ["--out", out, "--sf-dir", args.sf_dir] + flags
        )
        stats2 = corpus.run(args2)
        assert stats2.pop("stage_sec") == {k: 0.0 for k in stats["stage_sec"]}
        assert {k: v for k, v in stats.items() if k != "stage_sec"} == stats2


def test_image_flag_change_rebuilds_stale_stages(spark, tmp_path):
    """Every flag that changes stage 1's rows is in its inputs: re-running
    into the same --out with more images or another cell size rebuilds
    images and, through the manifest-id chain, everything downstream — with
    or without --resume — while an unchanged re-run rebuilds nothing."""
    out = str(tmp_path / "flags")

    def run(n, *flags):
        return cli.run(cli.build_parser().parse_args(
            ["--out", out, "--n-images", str(n), "--partitions", "2",
             "--master", "local[4]", *flags]))

    def rows(m):
        return sum(p["rows"] for p in m["partitions"].values())

    first = run(60)
    assert rows(first["images"]) == 60
    for flags in ([], ["--resume"]):
        again = run(60, *flags)
        assert {s: m["manifest_id"] for s, m in again.items()} == {
            s: m["manifest_id"] for s, m in first.items()}
    more = run(90, "--resume")
    assert rows(more["images"]) == rows(more["zones"]) == 90
    assert rows(more["scores"]) > 0
    assert more["scores"]["manifest_id"] != first["scores"]["manifest_id"]
    coarse = run(90, "--cell-size", "500")
    assert coarse["images"]["inputs"] != more["images"]["inputs"]
    assert rows(coarse["images"]) == 90
    # fewer tiles at 4x the tile area
    assert rows(coarse["tiles"]) < rows(more["tiles"])


def test_cli_reuses_active_session_untouched(spark, tmp_path):
    """An embedding caller's session keeps its SQL conf through a CLI run,
    and only a --master that differs from the active one warns."""
    import warnings

    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        base = ["--out", str(tmp_path / "sess"), "--n-images", "40",
                "--partitions", "2"]
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            cli.run(cli.build_parser().parse_args(base))
            cli.run(cli.build_parser().parse_args(
                base + ["--master", spark.sparkContext.master]))
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert not [w for w in caught if "ACTIVE SparkSession" in str(w.message)]
        with pytest.warns(UserWarning, match="ACTIVE SparkSession"):
            manifest.session("local[1]", "lagespark-test")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
