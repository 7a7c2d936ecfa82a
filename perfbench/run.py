"""Crawl-engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload crawl_loop --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --smoke --seed 3    # every workload, two seeds

Run from the repository root. A run starts the engine's session on
``local[nproc]`` (cold JVM) and builds the workload's input; that cold
set-up is timed on its own (``session.cold_start_s``). It then restarts
the session ``WARM_SETUPS`` times inside the same JVM and builds the input
again; ``setup_s`` is the median of those warm set-ups. It runs the
workload's ``warm_up_ops`` untimed warm-up operations (the first one's
wall is ``op.cold_wall_s``), then timed operations closed-loop, one at a
time, until ``--seconds`` have passed (at least one). Outputs are checked
after the timed window; a mismatch makes ``correct`` false, counts the
operation in ``failed`` and exits 1.

``--trace 1`` then restarts the session with Spark's event log on, warms
up again and repeats the timed window with spans recorded around every
call into the engine. The per-layer metrics come from that traced
window; ``trace.overhead_frac`` compares its median operation with the
untraced one.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The lines before it are a plain
summary under the metric names of the workload's README entry and one
JSON report per run. Scratch files live under ``perfbench/.work`` and are
removed at exit; a traced run keeps its spans and per-operation event
digest in ``perfbench/.work/traces``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(BENCH_DIR, ".work")
WORKLOADS = ("crawl_loop", "curation")
WARM_SETUPS = 4


def _workload(name: str):
    from perfbench.crawl import CrawlLoop
    from perfbench.curation import Curation

    return {"crawl_loop": CrawlLoop, "curation": Curation}[name]


def measure(wl, spark, state, seconds: float, spans) -> tuple[list, list, int, list]:
    """Closed loop: next operation only after the previous one returns;
    at least one operation. Returns walls, CPU seconds (``total`` and
    ``jvm`` share), items and (start, end, GC seconds) windows."""
    from perfbench.harness import gc_seconds, tree_cpu

    walls, cpus, items, windows = [], [], 0, []
    t_end = time.perf_counter() + seconds
    while not walls or time.perf_counter() < t_end:
        gc0, w0, c0, t0 = gc_seconds(spark), time.time(), tree_cpu(), time.perf_counter()
        with spans.span("op", workload=wl.name):
            items += wl.op(spark, state)
        walls.append(time.perf_counter() - t0)
        c1 = tree_cpu()
        cpus.append({k: c1[k] - c0[k] for k in c0})
        windows.append((w0, time.time(), gc_seconds(spark) - gc0))
        wl.after_op(spark)
    return walls, cpus, items, windows


def run_one(name: str, seed: int, seconds: float, trace: bool, run_dir: str,
            smoke: bool = False) -> dict:
    """One workload run: the result object plus a ``report`` for humans."""
    from perfbench import harness

    spans = harness.Spans(False, run_id=f"{name}-{seed}-{os.getpid()}")
    run_dir = os.path.join(run_dir, f"{name}-{seed}")
    wl = _workload(name)(seed, spans, smoke)
    report: dict = {"workload": name, "seed": seed}
    problems: list[str] = []
    attempted = failed = 0
    setups: list[tuple[float, float]] = []
    spark = None

    def setup(event_log_dir: str | None = None):
        nonlocal spark
        t0 = time.perf_counter()
        with spans.span("session.start"):
            if spark is not None:
                spark.stop()
            spark = harness.start_session(event_log_dir)
        t1 = time.perf_counter()
        with spans.span("state.build"):
            state = wl.build_state(spark)
        return state, (t1 - t0, time.perf_counter() - t1)

    with harness.RssSampler() as rss:
        state, cold = setup()
        for _ in range(1 if smoke else WARM_SETUPS):
            state, took = setup()
            setups.append(took)
        report["env"] = harness.environment(spark, seed)
        try:
            report["warm_up_s"] = []
            for _ in range(1 if smoke else wl.warm_up_ops):
                t0 = time.perf_counter()
                wl.warm_up(spark, state)
                report["warm_up_s"].append(time.perf_counter() - t0)
            walls, cpus, items, _ = measure(wl, spark, state, seconds, spans)
            attempted += len(walls)
            if trace:
                log_dir = os.path.join(run_dir, "eventlog")
                spans.enabled = True
                state, _ = setup(log_dir)
                wl.warm_up(spark, state)
                t_walls, _, _, windows = measure(wl, spark, state, seconds, spans)
                attempted += len(t_walls)
                spark.stop()  # flushes the event log
                events = harness.EventLog(log_dir)
                digests = [events.window(a, b, harness.nproc()) for a, b, _ in windows]
        except Exception as exc:  # noqa: BLE001 — a failed operation is a result
            attempted += 1
            failed += 1
            problems.append(f"{type(exc).__name__}: {exc}")
        else:
            p, f = wl.check()
            problems += p
            failed += f
        peak_rss_mb = rss.peak_mb()

    result = {"correct": not problems, "attempted": attempted, "failed": failed}
    report.update(problems=problems, cold_setup_s=cold, setups_s=setups,
                  peak_rss_mb=peak_rss_mb)
    metrics = {"setup_s": (statistics.median(a + b for a, b in setups), "s")}
    if not problems:
        report.update(walls_s=walls, cpu_s=cpus, items=f"{items} {wl.items}")
        metrics["op_cpu_s"] = (statistics.median(c["total"] for c in cpus), "s")
        wall = {"op_p50_s": (statistics.median(walls), "s"),
                "items_per_s": (items / sum(walls), "1/s"),
                "peak_rss_mb": (peak_rss_mb, "MB"),
                "cold_setup_s": (sum(cold), "s"),
                "cold_op_s": (report["warm_up_s"][0], "s")}
        report["summary"] = (
            f"{name} seed={seed}: "
            + " ".join(f"{wl.summary_names.get(k, k)}={v:.4g} {u}"
                       for k, (v, u) in (metrics | wall).items())
            + f" failed_frac={failed}/{attempted}"
            + f" ({len(walls)} timed op{'s' * (len(walls) > 1)})"
        )
    if trace and not problems:
        per_op = lambda k: statistics.fmean(d[k] for d in digests)  # noqa: E731
        metrics = {
            "op.wall_s": wall["op_p50_s"],
            "op.items_per_s": wall["items_per_s"],
            "session.start_s": (statistics.median(a for a, _ in setups), "s"),
            "state.build_s": (statistics.median(b for _, b in setups), "s"),
            "session.cold_start_s": (sum(cold), "s"),
            "op.cold_wall_s": (report["warm_up_s"][0], "s"),
            "mem.peak_rss_mb": (peak_rss_mb, "MB"),
            "trace.overhead_frac": (
                statistics.median(t_walls) / statistics.median(walls) - 1, "ratio"),
            "op.first_job_s": (per_op("first_job_s"), "s"),
            "op.jobs": (per_op("jobs"), "count"),
            "op.stages": (per_op("stages"), "count"),
            "op.tasks": (per_op("tasks"), "count"),
            "op.busy_frac": (per_op("busy_frac"), "ratio"),
            "op.driver_gap_s": (per_op("driver_gap_s"), "s"),
            "op.python_task_s": (per_op("python_task_s"), "s"),
            "op.jvm_task_s": (per_op("jvm_task_s"), "s"),
            "op.task_skew": (per_op("task_skew"), "ratio"),
            "op.shuffle_write_mb": (per_op("shuffle_write_mb"), "MB"),
            "op.shuffle_read_mb": (per_op("shuffle_read_mb"), "MB"),
            "op.spill_mb": (per_op("spill_mb"), "MB"),
            "op.gc_s": (statistics.fmean(g for _, _, g in windows), "s"),
        }
        report["traced_walls_s"] = t_walls
        report["layers"] = {k: v for k, (v, _u) in metrics.items()} | wl.layer_report(digests)
        os.makedirs(os.path.join(WORK_DIR, "traces"), exist_ok=True)
        path = os.path.join(WORK_DIR, "traces", f"{spans.run_id}.json")
        with open(path, "w") as f:
            json.dump({"report": report, "spans": spans.export(), "ops": digests}, f, indent=1)
        report["trace_file"] = os.path.relpath(path, ROOT)
    result["metrics"] = {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}
    report["metrics"] = result["metrics"]
    return result | {"report": report}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="every workload at smoke size on --seed and --seed+1 "
                         "(the second traced), one set-up and one timed operation each")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke")

    run_dir = os.path.join(WORK_DIR, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # scratch files of the session, the JVM and the Python workers all
    # stay inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    sys.path.insert(0, ROOT)
    from perfbench import harness

    try:
        if args.smoke:
            runs = [run_one(name, seed, 0, seed != args.seed, run_dir, smoke=True)
                    for name in WORKLOADS for seed in (args.seed, args.seed + 1)]
        else:
            runs = [run_one(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)]
    finally:
        harness.stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    for r in runs:
        report = r.pop("report")
        if "summary" in report:
            print(report["summary"])
        print(json.dumps(report, default=str), flush=True)
    result = runs[0] if not args.smoke else {
        "correct": all(r["correct"] for r in runs),
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "metrics": {},
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
