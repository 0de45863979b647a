"""Shared pieces of the benchmark: the Spark session it drives, percentiles,
peak-RSS sampling, in-memory spans and the Spark event-log parser.

Nothing here starts a thread, a process or a session at import time; the
workload modules create what they need and release it in ``finally``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import platform
import statistics
import subprocess
import threading
import time

#: Cores given to Spark: two of the machine's four stay free for the
#: driver's Python, the JVM's GC/JIT threads and the load generator.
LOCAL_CORES = 2


# ---- percentiles ------------------------------------------------------------


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank ``q`` quantile of ``values``.

    The median is always reported.  A tail quantile (``q`` > 0.5) is
    reported only when at least ten samples lie beyond it, so that the
    number rests on more than one or two stragglers; otherwise None.
    """
    if not values:
        return None
    if q == 0.5:
        return statistics.median(values)
    n = len(values)
    rank = math.ceil(q * n)
    if q > 0.5 and n - rank < 10:
        return None
    return sorted(values)[max(rank, 1) - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ---- process-tree memory ----------------------------------------------------


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as fh:
                kids.extend(int(x) for x in fh.read().split())
        except OSError:
            continue
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (JVM, Python
    workers), read from /proc."""
    total, stack, seen = 0, [root], set()
    page = os.sysconf("SC_PAGE_SIZE")
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        stack.extend(_children(pid))
    return total


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds and keeps
    the peak.  Use as a context manager."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        """End sampling, e.g. before the benchmark's own correctness checks."""
        self._stop.set()
        self._thread.join(timeout=5)

    def __exit__(self, *exc) -> None:
        self.stop()


# ---- spans ------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, layer, start, end, parent and the operation
    they belong to.  Disabled tracers record nothing and wrap nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"name": name, "layer": layer, "op": op, "parent": parent, "start": time.time()}
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.time()

    def wrap(self, fn, name: str, layer: str):
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def self_ms_by_layer(self, keep) -> dict[str, list[float]]:
        """Per operation ``op`` with ``keep(op)`` true: each layer's self time
        (span duration minus the part its children cover), in ms.  Returns
        layer -> one value per operation."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        per_op: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if s["op"] is None or not keep(s["op"]) or "end" not in s:
                continue
            covered = union_ms([(c["start"], c["end"]) for c in children.get(i, []) if "end" in c],
                               s["start"], s["end"])
            own = (s["end"] - s["start"]) * 1000.0 - covered
            layers = per_op.setdefault(s["op"], {})
            layers[s["layer"]] = layers.get(s["layer"], 0.0) + own
        out: dict[str, list[float]] = {}
        for layers in per_op.values():
            for layer, ms in layers.items():
                out.setdefault(layer, []).append(ms)
        return out


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length in ms of the union of ``intervals`` (seconds) clipped to
    [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total * 1000.0


# ---- Spark event log ---------------------------------------------------------


def parse_event_log(log_dir: str) -> list[dict]:
    """Jobs from an uncompressed Spark event log directory, each with its
    description, submit/complete times (epoch seconds) and task-metric
    totals over its stages: tasks, stages, input rows, shuffle write
    bytes, spill bytes, executor run time and JVM GC time."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = {
                    "id": ev["Job ID"],
                    "description": props.get("spark.job.description") or "",
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": len(ev.get("Stage IDs", [])),
                    "tasks": 0, "input_rows": 0, "shuffle_write_bytes": 0,
                    "spill_bytes": 0, "executor_run_ms": 0, "jvm_gc_ms": 0,
                }
                jobs[job["id"]] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = job["id"]
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job["tasks"] += 1
                job["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                job["executor_run_ms"] += m.get("Executor Run Time", 0)
                job["jvm_gc_ms"] += m.get("JVM GC Time", 0)
    return sorted(jobs.values(), key=lambda j: j["id"])


ENGINE_FIELDS = ("stages", "tasks", "input_rows", "shuffle_write_bytes", "spill_bytes",
                 "executor_run_ms", "jvm_gc_ms")


def engine_totals(jobs: list[dict]) -> dict[str, float]:
    out = {"jobs": float(len(jobs))}
    for f in ENGINE_FIELDS:
        out[f] = float(sum(j[f] for j in jobs))
    return out


# ---- session and run metadata -----------------------------------------------


def start_session(work: str, trace: bool):
    """A fresh ``local[2]`` session with 2 shuffle partitions, UI and
    console progress off, every temporary path inside ``work``."""
    from real_time_big_data_iot_monitoring_pipeline_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_session(
        app_name="perfbench",
        master=f"local[{LOCAL_CORES}]",
        shuffle_partitions=LOCAL_CORES,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_metadata(spark, seed: int, workload: str, root: str) -> dict:
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    jvm = spark.sparkContext._jvm.java.lang.System
    return {
        "workload": workload,
        "seed": seed,
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "git_commit": commit,
        "loadavg": os.getloadavg(),
        "spark_version": spark.version,
        "java_version": jvm.getProperty("java.version"),
        "python_version": platform.python_version(),
    }


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_until_level(step, min_passes: int, max_passes: int,
                     tolerance: float = 0.05) -> list[float]:
    """Run ``step()`` (returns its seconds) until a pass is no faster than
    the best earlier pass by more than ``tolerance``, at least
    ``min_passes`` and at most ``max_passes`` times.  Returns the pass
    times."""
    times: list[float] = []
    while len(times) < max_passes:
        t = step()
        level = (bool(times) and len(times) >= min_passes - 1 and math.isfinite(t)
                 and t >= min(times) * (1 - tolerance))
        times.append(t)
        if level:
            break
    return times
