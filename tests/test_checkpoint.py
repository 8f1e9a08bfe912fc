"""operators.checkpoint: the one checkpoint helper. Its statistics must come
from the checkpoint's own job and equal a separate aggregate, empty frames
must report count 0 and None without hanging, and concurrent frames must
come back in argument order."""

from __future__ import annotations

from pyspark.sql import functions as F

from lagespark.operators.checkpoint import checkpoint


def _stats():
    return dict(
        n=F.count(F.lit(1)),
        s=F.sum("v"),
        hi=F.max("v"),
        odd=F.count_if(F.col("v") % 2 == 1),
    )


def test_stats_equal_separate_agg(spark):
    # a frame with an exchange below it (the operators checkpoint joins and
    # aggregates, not plain scans)
    df = (
        spark.range(0, 5000, numPartitions=4)
        .groupBy((F.col("id") % 97).alias("k"))
        .agg(F.sum("id").alias("v"))
    )
    ((cp, got),) = checkpoint(df, **_stats())
    want = df.agg(*[c.alias(k) for k, c in _stats().items()]).first().asDict()
    assert got == want
    assert got["n"] == 97
    # the checkpointed frame holds the same rows
    assert sorted(cp.collect()) == sorted(df.collect())


def test_no_stats_returns_empty_dict_lazy_and_eager(spark):
    df = spark.range(10).withColumnRenamed("id", "v")
    ((cp, st),) = checkpoint(df)
    assert st == {}
    assert cp.count() == 10


def test_one_job_per_frame_by_job_group(spark):
    sc = spark.sparkContext
    frames = [
        spark.range(0, 1000 * (i + 1), numPartitions=3).select(
            (F.col("id") * (i + 2)).alias("v")
        )
        for i in range(3)
    ]
    try:
        for n in (1, 3):
            group = f"checkpoint-jobs-{n}"
            sc.setJobGroup(group, group)
            checkpoint(*frames[:n], **_stats())
            # pool threads inherit the caller's group, so every job counts
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == n
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_empty_and_zero_partition_frames(spark):
    sc = spark.sparkContext
    base = spark.range(100).withColumnRenamed("id", "v")
    empties = {
        "range0": spark.range(0).withColumnRenamed("id", "v"),
        "filtered": base.filter(F.col("v") < 0),
        "limit0": base.limit(0),
        "emptyRDD": spark.createDataFrame(sc.emptyRDD(), "v long"),
        "empty join": base.join(spark.range(0).withColumnRenamed("id", "v"), "v"),
    }
    assert empties["emptyRDD"].rdd.getNumPartitions() == 0
    out = checkpoint(*empties.values(), **_stats())
    for name, (cp, st) in zip(empties, out):
        assert st == {"n": 0, "s": None, "hi": None, "odd": 0}, name
        assert cp.count() == 0, name


def test_concurrent_frames_in_argument_order(spark):
    sizes = [5000, 7, 300, 0, 41]
    frames = [
        spark.range(0, n, numPartitions=2)
        .repartition(3)
        .withColumnRenamed("id", "v")
        for n in sizes
    ]
    out = checkpoint(*frames, n=F.count(F.lit(1)), hi=F.max("v"))
    assert [st["n"] for _, st in out] == sizes
    assert [st["hi"] for _, st in out] == [n - 1 if n else None for n in sizes]
    assert [cp.count() for cp, _ in out] == sizes
