"""Measurement machinery shared by the benchmark workloads.

* session lifecycle: the engine's own ``get_spark`` on ``local[nproc]``,
  restartable inside one JVM so set-up can be timed several times;
* ``Spans``: an in-memory span recorder for the calls the benchmark makes
  into the engine (traced runs only);
* ``RssSampler``: peak resident memory of this process tree (driver
  Python, driver JVM, Python workers) read from ``/proc``;
* ``EventLog``: a digest of Spark's JSON event log, from which the traced
  run derives per-operation job/stage/task and shuffle counts.

Nothing here reaches inside ``crawlers_spark``: every number is taken at
the boundary of a public call or from Spark's own event log.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import threading
import time

MB = 1 << 20
# Spark operator scopes that run a Python worker (Arrow/pandas UDF
# boundary); stage scopes are matched, never RDD names, because a cached
# RDD's name is the plan string of whatever produced it
PYTHON_SCOPE = re.compile(r"Python|Pandas|InArrow|ArrowEval")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(event_log_dir: str | None = None):
    """The engine's session factory with its defaults on ``local[nproc]``.

    The only confs added are for tracing (the event log, traced runs only)
    and for keeping the JVM's scratch files inside the checkout.
    """
    from crawlers_spark.session import get_spark

    extra = {
        # explicit both ways: the session builder keeps options from one
        # restart to the next inside a process
        "spark.eventLog.enabled": "true" if event_log_dir else "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        extra["spark.eventLog.dir"] = "file://" + os.path.abspath(event_log_dir)
        extra["spark.eventLog.compress"] = "false"
        extra["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark("perfbench", master=f"local[{nproc()}]", extra_conf=extra)
    spark.range(1).count()  # the session is ready once it has run a job
    return spark


def stop_jvm() -> None:
    """Stop any active session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its launcher's stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def gc_seconds(spark) -> float:
    """Cumulative JVM garbage-collection time of the driver JVM."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans()) / 1000


def environment(spark, seed: int) -> dict:
    import pyarrow
    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "spark.local.dir": conf.get("spark.local.dir", "/tmp"),
        "spark.driver.memory": conf.get("spark.driver.memory", "1g"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "seed": seed,
    }


class Spans:
    """Spans around the benchmark's calls into each layer, kept in memory.

    A span is (name, start, end, parent, run id); ``export`` adds each
    span's self time (its duration minus the time its children cover).
    A disabled recorder costs one branch per call.
    """

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def export(self) -> list[dict]:
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [dict(s, self_s=s["end"] - s["start"] - child_s.get(s["id"], 0.0))
                for s in self.spans]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


def _stat(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path) as f:
            head, tail = f.read().rsplit(")", 1)
    except OSError:  # exited between listing and reading
        return None
    return head.split("(", 1)[1], tail.split()


def _tree() -> dict[int, list[int]]:
    """Child pids of every process, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        st = _stat(stat)
        if st is not None:
            children.setdefault(int(st[1][1]), []).append(int(stat.split("/")[2]))
    return children


def _descendants() -> list[int]:
    children, pids, todo = _tree(), [], [os.getpid()]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


def tree_cpu() -> dict[str, float]:
    """User + system CPU seconds of this process tree, reaped children
    included (a Python worker that exits is charged to the daemon that
    reaps it): the ``total`` and the driver JVM's share of it (``jvm``)."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {"total": 0.0, "jvm": 0.0}
    for pid in _descendants():
        st = _stat(f"/proc/{pid}/stat")
        if st is None:
            continue
        comm, fields = st
        cpu = sum(int(x) for x in fields[11:15]) / tick  # utime stime cutime cstime
        out["total"] += cpu
        if comm == "java":
            out["jvm"] += cpu
    return out


class RssSampler:
    """Peak summed RSS of this process and all its descendants."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _tree_rss(self) -> int:
        total = 0
        for pid in _descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval_s)

    def peak_mb(self) -> float:
        return max(self.peak_bytes, self._tree_rss()) / MB


class EventLog:
    """Jobs, stages and tasks parsed from an uncompressed Spark event log."""

    def __init__(self, log_dir: str):
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            if os.path.basename(path).startswith((".", "appstatus")):
                continue
            with open(path) as f:
                for line in f:
                    self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs.append({"start": e["Submission Time"], "stages": e["Stage IDs"]})
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            scopes = {json.loads(r["Scope"])["name"] for r in info["RDD Info"] if r.get("Scope")}
            self.stages[info["Stage ID"]] = {"scopes": scopes}
        elif kind == "SparkListenerTaskEnd":
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics", {})
            self.tasks.setdefault(e["Stage ID"], []).append({
                "launch": ti["Launch Time"], "finish": ti["Finish Time"],
                "shuffle_write": tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
            })

    def window(self, t0: float, t1: float, slots: int) -> dict:
        """Digest of every job submitted in [t0, t1] (epoch seconds)."""
        jobs = [j for j in self.jobs if t0 * 1000 <= j["start"] <= t1 * 1000]
        stage_ids = [s for j in jobs for s in j["stages"] if self.tasks.get(s)]
        wall = t1 - t0
        out = {"jobs": len(jobs), "stages": len(stage_ids), "tasks": 0,
               "first_job_s": (min(j["start"] for j in jobs) / 1000 - t0) if jobs else wall,
               "python_task_s": 0.0, "jvm_task_s": 0.0,
               "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
               "by_scope_s": {}, "task_skew": 1.0}
        intervals, heaviest = [], (0.0, [])
        for sid in stage_ids:
            tasks = self.tasks[sid]
            durs = [(t["finish"] - t["launch"]) / 1000 for t in tasks]
            busy = sum(durs)
            python = any(PYTHON_SCOPE.search(s) for s in self.stages.get(sid, {}).get("scopes", ()))
            out["tasks"] += len(tasks)
            out["python_task_s" if python else "jvm_task_s"] += busy
            out["shuffle_write_mb"] += sum(t["shuffle_write"] for t in tasks) / MB
            out["shuffle_read_mb"] += sum(t["shuffle_read"] for t in tasks) / MB
            out["spill_mb"] += sum(t["spill"] for t in tasks) / MB
            for scope in self.stages.get(sid, {}).get("scopes", ()):
                if PYTHON_SCOPE.search(scope):
                    out["by_scope_s"][scope] = out["by_scope_s"].get(scope, 0.0) + busy
            intervals += [(t["launch"] / 1000, t["finish"] / 1000) for t in tasks]
            if busy > heaviest[0]:
                heaviest = (busy, durs)
        if heaviest[1]:
            med = statistics.median(heaviest[1])
            out["task_skew"] = max(heaviest[1]) / med if med > 0 else 1.0
        covered, end = 0.0, t0
        for a, b in sorted(intervals):
            a, b = max(a, end), min(b, t1)
            if b > a:
                covered += b - a
                end = b
        out["driver_gap_s"] = wall - covered
        out["busy_frac"] = (out["python_task_s"] + out["jvm_task_s"]) / (wall * slots)
        return out
