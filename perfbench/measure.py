"""Measurement from outside the program: process-tree RSS from /proc, spans
around lagespark calls joined to Spark jobs through job groups, per-stage
metrics from Spark's uncompressed event log, and single-threaded kernel
rates."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

import numpy as np

PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (children, their children, …)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces/parens: ppid is the 2nd field after the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident memory of the process tree with shared pages counted once.
    Python processes count their PSS: summed RSS would count the pages that
    forked Python workers share with their daemon once per worker, and so
    swing with how many idle workers happen to be alive. The JVM, which
    shares nothing with the tree, counts its RSS, because walking its
    pre-touched heap for PSS four times a second slows the run measurably."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                java = f.read().strip() == "java"
            if java:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * PAGE
                continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Peak resident memory of the whole process tree (Python driver, JVM,
    Python workers), sampled from /proc on a background thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def wait_tree_gone(root: int, timeout: float = 30.0) -> None:
    """Wait until no descendant of ``root`` is alive; SIGKILL stragglers."""
    import signal

    deadline = time.monotonic() + timeout
    while descendants(root) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(root):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while descendants(root):
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory. Each span sets
    its own Spark job group, restored to the parent's on exit, so jobs fired
    inside a call join to it. A disabled tracer records nothing and sets no
    job group."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "op": self.op, "parent": parent["id"] if parent else None,
               "id": len(self.spans), "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"{self.op}|{rec['id']}|{name}", name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(f"{self.op}|{parent['id']}|{parent['name']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → its duration minus the time its child spans cover."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in spans}


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """Jobs (id, group, submit/end ms, stage ids) and stages (id, submit/end
    ms, summed task metrics) from the uncompressed event logs in ``log_dir``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "id": ev["Job ID"],
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"],
                        "end": None,
                        "stages": ev["Stage IDs"],
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], _empty_stage(ev["Stage ID"]))
                    st["tasks"] += 1
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _empty_stage(info["Stage ID"]))
                    st["submit"] = info.get("Submission Time")
                    st["end"] = info.get("Completion Time")
    return list(jobs.values()), stages


def _empty_stage(sid: int) -> dict:
    return {"id": sid, "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "shuffle_write_b": 0, "submit": None, "end": None}


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute_jobs(jobs: list[dict], spans: list[dict]) -> dict[int, list[dict]]:
    """span id → jobs it caused: by job group when one is set, otherwise by
    the innermost span whose interval holds the job's submission (operators
    that fire jobs from their own worker threads do not inherit the group)."""
    by_span: dict[int, list[dict]] = {}
    for j in jobs:
        sid = None
        if j["group"] and j["group"].count("|") >= 2:
            sid = int(j["group"].split("|")[1])
        else:
            t = j["submit"] / 1000.0
            inside = [s for s in spans if s["start"] <= t <= s["end"]]
            if inside:
                sid = max(inside, key=lambda s: s["start"])["id"]
        if sid is not None:
            by_span.setdefault(sid, []).append(j)
    return by_span


def op_spark_metrics(op_spans: list[dict], op_wall: tuple[float, float],
                     by_span: dict[int, list[dict]], stages: dict[int, dict]) -> dict:
    """Spark metrics of one op: jobs, stages, tasks, executor run/CPU time,
    task GC, shuffle bytes written, and the driver gap — op wall time minus
    the union of intervals during which one of its stages was running."""
    jobs = [j for s in op_spans for j in by_span.get(s["id"], [])]
    sids = sorted({sid for j in jobs for sid in j["stages"] if sid in stages})
    st = [stages[s] for s in sids]
    active = [(s["submit"] / 1000.0, s["end"] / 1000.0) for s in st
              if s["submit"] is not None and s["end"] is not None]
    busy = _union_seconds(active)
    wall = op_wall[1] - op_wall[0]
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(st),
        "spark.tasks": sum(s["tasks"] for s in st),
        "spark.executor_run_s": sum(s["run_ms"] for s in st) / 1000.0,
        "spark.executor_cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
        "spark.task_gc_s": sum(s["gc_ms"] for s in st) / 1000.0,
        "spark.shuffle_write_mb": sum(s["shuffle_write_b"] for s in st) / 1e6,
        "spark.driver_gap_s": max(wall - busy, 0.0),
        "exec_s": busy,
    }


def span_exec_seconds(span_jobs: list[dict], stages: dict[int, dict]) -> float:
    """Seconds during which a stage of these jobs was running."""
    return _union_seconds([
        (stages[sid]["submit"] / 1000.0, stages[sid]["end"] / 1000.0)
        for j in span_jobs for sid in j["stages"]
        if sid in stages and stages[sid]["submit"] is not None and stages[sid]["end"] is not None
    ])


# ---------------------------------------------------------------------------
# JVM garbage collection (the local-mode driver JVM is the executor)
# ---------------------------------------------------------------------------


def jvm_gc_seconds(sc) -> float:
    mf = sc._jvm.java.lang.management.ManagementFactory
    return sum(max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans()) / 1000.0


# ---------------------------------------------------------------------------
# single-threaded kernel rates on the workload's own batch
# ---------------------------------------------------------------------------


def rate(fn, units: int, min_s: float = 0.3) -> float:
    """units/s of ``fn()``: median of five timed repeats of at least min_s."""
    fn()
    samples = []
    for _ in range(5):
        n, t0 = 0, time.perf_counter()
        while (el := time.perf_counter() - t0) < min_s / 5 or n == 0:
            fn()
            n += 1
        samples.append(n * units / el)
    return statistics.median(samples)


def kernel_rates(xs: np.ndarray, ys: np.ndarray, pip_rings: list[np.ndarray],
                 zone_polys: list, clip_pairs: list[tuple], images: list) -> dict:
    from lagespark.image import codecs
    from lagespark.kernels import geom

    return {
        "kernels.pip.rows_per_s": rate(lambda: geom.point_in_polygon(xs, ys, pip_rings), len(xs)),
        "kernels.zone.rows_per_s": rate(lambda: geom.zone_of_points(xs, ys, zone_polys), len(xs)),
        "kernels.clip.pairs_per_s": rate(
            lambda: [geom.intersection_area(a, b) for a, b in clip_pairs], len(clip_pairs)
        ),
        "image.codecs.encode_per_s": rate(
            lambda: [codecs.encode_image(px, fmt) for px, fmt in images], len(images)
        ),
    }
