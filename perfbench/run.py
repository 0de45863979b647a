#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload dashboard_refresh --seed 1 --seconds 20 --trace 0

Run from the repository root.  The workload runs in a child process of its
own (one fresh Spark driver per run) inside a fresh work directory under
``.perfbench_work/``; when it ends, every process it started is stopped and
waited for, and the work directory is deleted.  The last line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the ``end_to_end`` metrics of BENCHMARK.json for ``--trace 0`` and its
``per_layer`` metrics for ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "real_time_big_data_iot_monitoring_pipeline_spark"
WORKLOADS = ("dashboard_refresh", "stream_ingest")
CHILD_TIMEOUT_S = 150


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--child-work", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def group_members(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[2] the process group
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, every process left in ``pgid``; return once
    none is left."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if not group_members(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + grace
        while group_members(pgid) and time.time() < deadline:
            time.sleep(0.1)
    if group_members(pgid):
        raise RuntimeError(f"processes of group {pgid} survived SIGKILL")


def become_subreaper() -> None:
    """Have the workload's orphaned descendants (the JVM, Python workers)
    re-parented to this process, so that ``reap`` can wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # not Linux: orphans go to init, which reaps them


def reap() -> None:
    """Wait for every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def supervise(args: argparse.Namespace) -> int:
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        print("perfbench: BENCHMARK.json not found", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, PYTHONPATH=ROOT, TMPDIR=os.path.join(work, "tmp"),
               PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable)
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--child-work", work]
    become_subreaper()
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        code = None
    finally:
        stop_group(child.pid)
        child.wait()
        reap()
    try:
        result_path = os.path.join(work, "result.json")
        if code != 0 or not os.path.isfile(result_path):
            print(f"perfbench: workload failed (exit {code})", file=sys.stderr)
            return 1
        with open(result_path) as fh:
            line = fh.read().strip()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(line, flush=True)
    return 0


def child_main(args: argparse.Namespace) -> int:
    sys.path.insert(0, ROOT)
    from perfbench import harness
    from perfbench import dashboard_refresh, stream_ingest

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    module = {"dashboard_refresh": dashboard_refresh, "stream_ingest": stream_ingest}[args.workload]

    t0 = time.perf_counter()

    def log(record: dict) -> None:
        record = dict(record, t=round(time.perf_counter() - t0, 1))
        print("perfbench " + json.dumps(record, default=str), flush=True)

    with harness.RssSampler() as rss:
        result = module.run(args.seed, args.seconds, bool(args.trace), args.child_work, log, rss)
    if args.trace:
        wanted, measured = spec["per_layer"], result["per_layer"]
        measured["mem.peak_rss_mb"] = (rss.peak / 2**20, "MB")
    else:
        wanted, measured = spec["end_to_end"], result["end_to_end"]
    metrics = {}
    for m in wanted:
        value, unit = measured.get(m["name"], (0.0 if args.trace else None, m["unit"]))
        if value is None or unit != m["unit"]:
            raise RuntimeError(f"metric {m['name']}: value {value!r} unit {unit!r}")
        metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}
    unknown = sorted(set(measured) - {m["name"] for m in wanted})
    if unknown:
        log({"unreported_metrics": unknown})
    out = {"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
           "failed": int(result["failed"]), "metrics": metrics}
    log({"done": True})
    with open(os.path.join(args.child_work, "result.json"), "w") as fh:
        json.dump(out, fh)
    return 0


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    return child_main(args) if args.child_work else supervise(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
