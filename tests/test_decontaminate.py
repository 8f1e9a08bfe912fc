"""decontaminate (q100 / the corpus pipeline's decon stage): the benchmark
shingle set is broadcast, the hashed production key format returns exactly
the string path's result, and the benchmark side is spread over the cores."""

from __future__ import annotations

import pandas as pd


def test_decontaminate_plan_broadcasts_benchmark(spark):
    """q100 shape: the benchmark shingle set rides a BroadcastHashJoin (the
    corpus side must not shuffle for the semi-join) and the query registers
    with a matching oracle."""
    import io
    from contextlib import redirect_stdout

    from lagespark import harness
    from lagespark import harness4  # noqa: F401

    assert "q100-decontaminate" in harness.ORACLES
    df = harness.QUERIES["q100-decontaminate"](spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_hashed_keys_match_string_path(spark):
    """hash_keys=True (production 8-byte xxhash64 wire format, used by the
    corpus pipeline) returns exactly the string path's result on the
    harness corpus — same contaminated ids, same per-doc hit counts."""
    from pyspark.sql import functions as F

    from lagespark.operators import dedup

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    bench = d.filter(F.col("doc_id") % 97 == 0)
    s = dedup.decontaminate(corpus, bench, n=20).toPandas()
    h = dedup.decontaminate(corpus, bench, n=20, hash_keys=True).toPandas()
    key = lambda pdf: pdf.sort_values("doc_id").reset_index(drop=True)
    assert key(s).equals(key(h))
    assert len(s) > 0  # the harness corpus really has contaminated docs


def test_decontaminate_benchmark_side_parallel(spark):
    """The benchmark shingle projection must not run on a single partition
    when the benchmark arrives as one small file/partition."""
    from lagespark.operators import dedup

    corpus = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2], "text": ["the quick brown fox " * 20, "zz" * 50]}
        )
    )
    bench = spark.createDataFrame(
        pd.DataFrame({"doc_id": [9], "text": ["the quick brown fox " * 20]})
    ).coalesce(1)
    out = dedup.decontaminate(corpus, bench, n=40)
    rows = {r["doc_id"]: r["n_hits"] for r in out.collect()}
    assert 1 in rows and 2 not in rows
    spread = dedup._spread(bench.select("text"))
    par = spark.sparkContext.defaultParallelism
    assert spread.rdd.getNumPartitions() >= par
