"""Round-8 optimization instrumentation (bench.py is FROZEN — extras live
here, guide §1.4/§1.5).

Modes:
    python bench_extra.py plans [out_dir] [name ...]
        .explain("formatted") of each (default: headline) query → out_dir/<q>.txt
    python bench_extra.py time [runs] [name ...]
        noop-sink timings, same methodology as bench.py (cold JVM per
        invocation is NOT replicated — use for relative A/B within a run).

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE  # noqa: E402  (main() is behind __main__)


def _setup():
    import __spark_entry__ as contract
    from lagespark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    queries = contract.queries()
    spark = get_spark(f"local[{cpus}]", app_name="lagespark-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, queries, sf_dir


def plans(out_dir: str, names: list[str]) -> None:
    spark, queries, sf_dir = _setup()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = queries[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(txt)
        print(f"{name}: {txt.count('Exchange')} Exchange refs -> {out_dir}/{name}.txt")


def timeit(runs: int, names: list[str]) -> None:
    spark, queries, sf_dir = _setup()
    # same warmup as bench.py
    queries["q50-geo-cell"](spark, sf_dir).count()
    queries["q52-geo-zone"](spark, sf_dir).count()
    out: dict[str, list[float]] = {}
    for name in names:
        fn = queries[name]
        samples = []
        for _ in range(runs):
            spark.sparkContext._jvm.System.gc()
            time.sleep(0.3)
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
        out[name] = samples
        print(json.dumps({name: samples}))
    print(json.dumps(out))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "plans"
    if mode == "plans":
        out_dir = sys.argv[2] if len(sys.argv) > 2 else "plans/r08"
        names = sys.argv[3:] or HEADLINE
        plans(out_dir, names)
    elif mode == "time":
        runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
        names = sys.argv[3:] or HEADLINE
        timeit(runs, names)
    else:
        raise SystemExit(f"unknown mode {mode}")
