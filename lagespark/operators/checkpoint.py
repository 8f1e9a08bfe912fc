"""The checkpoint discipline: ONE helper for operator-level localCheckpoints
— the ones that carry statistics or overlap with another. Every checkpoint
it takes is EAGER.

Statistics ride the checkpoint's own job: each frame is `observe`d before
its eager `localCheckpoint`, so a driver-side decision (is any pair
general? how many hashes?) costs no probe job over the just-materialized
frame. The frames checkpoint concurrently, each on its own pool thread: an
eager checkpoint is a synchronous job, so independent frames would
otherwise serialize driver-side. Pool threads inherit the caller's job
group and description.

Empty frames (0-row and 0-partition alike) report count 0 and None for
sum/max/min — callers read None as "none"."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, Observation


def checkpoint(*frames: DataFrame, **stats: Column) -> list[tuple[DataFrame, dict]]:
    """[(checkpointed frame, {stat name: value}), …] in argument order; the
    dict is empty when no stats are asked for."""

    @inheritable_thread_target(frames[0].sparkSession)
    def one(df: DataFrame) -> tuple[DataFrame, dict]:
        obs = Observation()
        if stats:
            df = df.observe(obs, *[c.alias(k) for k, c in stats.items()])
        return df.localCheckpoint(eager=True), obs.get if stats else {}

    with ThreadPoolExecutor(len(frames)) as ex:
        return list(ex.map(one, frames))
