"""SparkSession factory with the engine's required configuration.

Arrow execution must be enabled explicitly (default false in this build —
SURVEY.md §0); batch size is bounded so image-payload pandas UDFs don't blow
executor memory (UDF memory is not spill-managed, SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Local-mode heap default sized to the machine: local[N] runs every
    executor thread inside the driver JVM, and an 8 GB heap under 32
    concurrent tasks GC-thrashes (round-8 measurement: the bench's warm
    q68/q82 re-runs degraded 2-3x late in session — 20-23 s vs 9 s at a
    right-sized heap; BENCH/BASELINE.md's round-7 multimodal sweep hit the
    same wall). Default: a quarter of physical memory, clamped to [8, 24] GB
    so small boxes are not over-committed. LAGESPARK_DRIVER_MEM still
    overrides, and cluster deployments set driver/executor memory via
    submit conf as usual — this default only governs bare local sessions."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        gb = max(8, min(24, total // (4 * (1 << 30))))
    except (ValueError, OSError, AttributeError):
        gb = 8
    return f"{int(gb)}g"


def get_spark(
    master: str | None = None,
    app_name: str = "lagespark",
    shuffle_partitions: int | None = None,
    arrow_batch: int = 10_000,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        # 2x cores, AQE coalesces down at runtime (SURVEY.md §4)
        cores = master[master.find("[") + 1 : master.find("]")] if "[" in master else "8"
        shuffle_partitions = 64 if cores == "*" else max(int(cores) * 2, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("LAGESPARK_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
