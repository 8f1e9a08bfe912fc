"""lagespark benchmark: three closed-loop workloads on local[k].

  python3 perfbench/run.py --workload score-points --seed 1 --seconds 7 --trace 0
  python3 perfbench/run.py --smoke

One driver thread submits one op at a time (closed loop, one client) on
master local[k], k = min(4, usable CPUs - 1). A run sets up (session start,
seeded input generation repeated three times, numpy references, warm-up
ops), then runs ops until ``--seconds`` have passed and checks every op's
output. The last line of stdout is one JSON object:

  --trace 0  end-to-end metrics: setup_s, rows_per_s, op_p50_s, peak_rss_mb
  --trace 1  per-layer metrics from a traced window (spans around every
             lagespark call, one Spark job group per span, stage metrics
             from an uncompressed event log) preceded by an untraced window
             of the same length, which gives the tracing overhead

The line before it is a record with context that is not gated: op_tail_s
and its percentile where at least 11 ops ran, the per-call layer numbers of
the workload, the machine's single-core rate from BENCH/scaling.calibrate,
and the configuration. Scratch files go under .perfbench/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import measure

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "2g"
GEN_REPEATS = 3

E2E = {"setup_s": "s", "rows_per_s": "rows/s", "op_p50_s": "s", "peak_rss_mb": "MB"}
LAYERS = {
    "session.start_s": "s",
    "kernels.pip.rows_per_s": "rows/s",
    "kernels.zone.rows_per_s": "rows/s",
    "kernels.clip.pairs_per_s": "pairs/s",
    "image.codecs.encode_per_s": "images/s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.driver_gap_s": "s",
    "trace.call_s": "s",
    "trace.exec_s": "s",
    "trace.coverage": "share",
    "trace.overhead": "share",
}


def cores() -> int:
    """k for local[k]: at most 4, leaving one CPU to the driver JVM's
    compiler and GC threads and the Python driver (local[4] on 4 CPUs ran
    slower and spread wider than local[3])."""
    return max(1, min(4, len(os.sched_getaffinity(0)) - 1))


def configure_env(proc_dir: str, k: int) -> None:
    """Everything the session reads at launch, set before lagespark and the
    JVM start: CPU count, pinned heap, and every temp/local dir in scratch."""
    tmp = os.path.join(proc_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(k),
        "LAGESPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(proc_dir, "local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path.insert(0, ROOT)


def start_session(master: str, scratch: str, event_dir: str | None):
    """get_spark with the console progress bar and UI off, and the heap
    pinned: -Xms = -Xmx, pre-touched, so peak RSS does not swing with when
    the JVM happens to grow its heap."""
    from lagespark.session import get_spark

    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(master, app_name="lagespark-perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def calibrate() -> float:
    """Single-core numpy rows/s of BENCH/scaling.calibrate's kernel slice —
    machine context for the record, not a gated metric."""
    from BENCH import scaling

    return scaling.calibrate(1, n=50_000, seconds=0.5)


def tail(times: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten ops beyond it, and its value."""
    n = len(times)
    if n < 11:
        return None
    return sorted(times)[n - 11], 100.0 * (n - 10) / n


def run_ops(wl, tracer, seconds: float, first: int) -> tuple[list[dict], float]:
    """Closed loop: one op at a time until ``seconds`` have passed (at least
    one op). Returns per-op records and the window's length in seconds."""
    ops: list[dict] = []
    t0 = time.perf_counter()
    while not ops or time.perf_counter() - t0 < seconds:
        tracer.op = first + len(ops)
        start, p0 = time.time(), time.perf_counter()
        try:
            rows, ok = wl.op(tracer), True
        except Exception:  # a failed op is counted, and the loop goes on
            traceback.print_exc(file=sys.stderr)
            rows, ok = 0, False
        dur = time.perf_counter() - p0
        ops.append({"id": tracer.op, "start": start, "end": start + dur, "s": dur,
                    "rows": rows, "ok": ok})
    return ops, time.perf_counter() - t0


def traced_layers(wl, ops, tracer, event_dir, untraced_rate, traced_rate) -> tuple[dict, dict]:
    """Per-op medians of the universal per-layer metrics, plus the
    workload's own per-call numbers."""
    jobs, stages = measure.read_event_log(event_dir)
    spans = tracer.spans
    by_span = measure.attribute_jobs(jobs, spans)
    per_op = []
    for op in ops:
        mine = [s for s in spans if s["op"] == op["id"]]
        m = measure.op_spark_metrics(mine, (op["start"], op["end"]), by_span, stages)
        top = [s for s in mine if s["parent"] is None]
        calls = [s for s in top if not s["name"].startswith(("sink.", "check.", "io."))]
        per_op.append({
            **{k: v for k, v in m.items() if k.startswith("spark.")},
            "trace.call_s": sum(s["end"] - s["start"] for s in calls),
            "trace.exec_s": m["exec_s"],
            "trace.coverage": sum(s["end"] - s["start"] for s in top) / op["s"],
        })
    layers = {k: statistics.median(o[k] for o in per_op) for k in per_op[0]}
    layers["trace.overhead"] = 1.0 - traced_rate / untraced_rate
    self_t = measure.self_times(spans)
    names = sorted({s["name"] for s in spans})
    detail = wl.layers(spans, by_span, stages)
    detail["self_s"] = {n: sum(self_t[s["id"]] for s in spans if s["name"] == n) / len(ops)
                        for n in names}
    return layers, detail


def run(name: str, seed: int, seconds: float, trace: bool, size: str = "full",
        warmups: int | None = None, gen_repeats: int = GEN_REPEATS,
        calibrated: float | None = None) -> tuple[dict, dict]:
    """One benchmark run; returns (result line, record)."""
    import workloads

    k = cores()
    master = f"local[{k}]"
    scratch = os.path.join(SCRATCH, f"{name}-{seed}-{int(trace)}-{os.getpid()}")
    event_dir = os.path.join(scratch, "events") if trace else None
    record: dict = {"workload": name, "seed": seed, "trace": trace, "master": master,
                    "driver_mem": DRIVER_MEM, "size": workloads.SIZES[size],
                    "calibrate_rows_per_core_s": calibrated}
    try:
        with measure.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_session(master, scratch, event_dir)
            session_s = time.perf_counter() - t0
            sc = spark.sparkContext
            wl = workloads.WORKLOADS[name](spark, seed, workloads.SIZES[size])
            gens = []
            for r in range(gen_repeats):
                t = time.perf_counter()
                wl.generate(os.path.join(scratch, f"inputs{r}"))
                gens.append(time.perf_counter() - t)
            tracer = measure.Tracer(sc, enabled=False)
            t = time.perf_counter()
            wl.prepare()
            warm: list[dict] = []
            if warmups is None:
                # a traced run compares an untraced and a traced window, so
                # both must follow at least one warm-up op
                warmups = max(wl.warmup_ops, 1) if trace else wl.warmup_ops
            for _ in range(warmups):
                warm += run_ops(wl, tracer, 0.0, len(warm))[0]
            setup_s = session_s + statistics.median(gens) + time.perf_counter() - t

            ops, window = run_ops(wl, tracer, seconds, len(warm))
            rate = sum(o["rows"] for o in ops) / window
            untraced: list[dict] = []
            if trace:
                untraced, untraced_rate = ops, rate
                tracer.enabled = True
                ops, window = run_ops(wl, tracer, seconds, len(warm) + len(ops))
                rate = sum(o["rows"] for o in ops) / window
                tracer.enabled = False
                # GC time of the local-mode JVM over the whole run, set-up
                # included, per op: a warm window alone often has no GC
                jvm_gc = measure.jvm_gc_seconds(sc) / (len(warm) + len(untraced) + len(ops))
                probe = wl.probe()
                kernels = measure.kernel_rates(
                    *wl.kernel_batch(), *workloads.kernel_inputs(seed))
            spark.stop()
        times = [o["s"] for o in ops]
        every = warm + untraced + ops
        failed = sum(not o["ok"] for o in every)
        record.update({"ops": len(ops), "warmup_ops": len(warm), "window_s": window,
                       "op_s": times, "gen_s": gens, "session_start_s": session_s})
        t = tail(times)
        if t:
            record["op_tail_s"], record["op_tail_pct"] = t
        if trace:
            layers, detail = traced_layers(wl, ops, tracer, event_dir, untraced_rate, rate)
            layers.update(kernels)
            layers["session.start_s"] = session_s
            layers["spark.jvm_gc_s"] = jvm_gc
            record["layers"] = {**detail, **probe}
            record["spark.task_gc_s"] = layers.pop("spark.task_gc_s")
            record["rows_per_s"] = {"untraced": untraced_rate, "traced": rate}
            metrics = {n: {"value": layers[n], "unit": u} for n, u in LAYERS.items()}
        else:
            values = {"setup_s": setup_s, "rows_per_s": rate,
                      "op_p50_s": statistics.median(times),
                      "peak_rss_mb": rss.peak / 2**20}
            metrics = {n: {"value": values[n], "unit": u} for n, u in E2E.items()}
        result = {"correct": failed == 0, "attempted": len(every), "failed": failed,
                  "metrics": metrics}
        stem = os.path.join(SCRATCH, "records", f"{name}-{seed}-{int(trace)}-{os.getpid()}")
        os.makedirs(os.path.dirname(stem), exist_ok=True)
        with open(stem + ".json", "w") as f:
            json.dump({"result": result, "record": record}, f, indent=1)
        if trace:
            tracer.dump(stem + ".spans.json")
        return result, record
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def smoke() -> int:
    """Every workload once at tiny size, untraced and traced: every metric
    name and unit must print and every output check must pass."""
    failures = []
    for name in ("score-points", "join-tiles", "pipelines-resume"):
        for trace in (False, True):
            result, _ = run(name, 1, 0.0, trace, size="smoke", warmups=0, gen_repeats=1)
            print(json.dumps({"workload": name, "trace": trace, **result}), flush=True)
            want = LAYERS if trace else E2E
            got = {n: m["unit"] for n, m in result["metrics"].items()}
            if got != want or not result["correct"] or result["attempted"] < 1:
                failures.append(f"{name} trace={trace}")
    print("smoke: " + ("FAILED " + ", ".join(failures) if failures else "ok"), flush=True)
    return 1 if failures else 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=("score-points", "join-tiles", "pipelines-resume"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=7.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny sizes, one op per workload")
    args = p.parse_args(argv)
    if not args.smoke and not args.workload:
        p.error("--workload is required unless --smoke")

    proc_dir = os.path.join(SCRATCH, f"proc-{os.getpid()}")
    configure_env(proc_dir, cores())
    try:
        cal = None if args.smoke else calibrate()
        if args.smoke:
            return smoke()
        result, record = run(args.workload, args.seed, args.seconds, bool(args.trace),
                             calibrated=cal)
        print(json.dumps({"record": record}), flush=True)
        print(json.dumps(result), flush=True)
        return 0
    finally:
        shutdown_jvm()
        measure.wait_tree_gone(os.getpid())
        shutil.rmtree(proc_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
