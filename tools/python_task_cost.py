"""Per-Python-task wall cost on the current machine — the measurement behind
running kernel stages at one task per core (spatial._repartition_for_kernel).

Times a do-nothing RDD map and a do-nothing pandas_udf over k and 8k
partitions on local[k] (one untimed run, then the median of --reps). Both
import lagespark in the worker, as unpickling any engine UDF does, so the
numbers include what the package installs there (lagespark._zipcache). The
8k-partition stage runs eight waves of tasks where the k-partition one runs
one, so per_task_per_slot_s = (wall(8k) - wall(k)) / 7 is the wall time one
extra Python task adds to each core slot. Prints one JSON line per stage.

    python tools/python_task_cost.py [--cores K] [--reps N]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _median_wall(run, reps: int) -> float:
    run()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        run()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--cores", type=int, default=max(1, (os.cpu_count() or 2) - 1))
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    k = args.cores

    from pyspark.sql import functions as F

    from lagespark.session import get_spark

    spark = get_spark(f"local[{k}]", app_name="python-task-cost", extra_conf={
        "spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    def ident_row(v):
        import lagespark  # noqa: F401

        return v

    @F.pandas_udf("long")
    def ident(s):
        import lagespark  # noqa: F401

        return s

    stages = {
        "rdd_map": lambda n: sc.parallelize(range(n), n).map(ident_row).count(),
        "pandas_udf": lambda n: spark.range(0, n, 1, n).select(ident("id"))
        .write.format("noop").mode("overwrite").save(),
    }
    for kind, stage in stages.items():
        one, eight = (_median_wall(lambda: stage(n), args.reps) for n in (k, 8 * k))
        print(json.dumps({
            "stage": kind, "master": f"local[{k}]", "reps": args.reps,
            f"wall_s_{k}_tasks": round(one, 3), f"wall_s_{8 * k}_tasks": round(eight, 3),
            "per_task_per_slot_s": round((eight - one) / 7, 3),
        }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
