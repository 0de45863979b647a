"""Workload ``stream_ingest``: an open loop that feeds the reference's
streaming path at a fixed rate.

A generator thread moves seeded, event-time-ordered parquet files into the
input directory on a fixed schedule: each file is written in full during
set-up and becomes visible with one atomic rename, stamped with its wall
time.  The program reads the directory with ``streaming.pipeline.
file_source`` into ``start_dual_sink``, with ``parquet_append_writer`` as
the raw sink and ``parquet_upsert_writer`` as the aggregate sink.

Event time runs 100x faster than wall time, so 5-minute windows seal every
few seconds of the run.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import harness

N_SENSORS = 400
CADENCE_S = 5  # event-time seconds between two readings of one sensor
FILE_SPAN_S = 200  # event-time seconds per input file: 16,000 rows
FILE_INTERVAL_S = 2.0  # wall seconds between two files: 8,000 rows/s
EPOCH_START = 1_704_067_200
COLD_START_S = 20.0  # at most this long until both queries commit a first batch
WARM_WINDOW_S = 2.0
WARM_MIN_WINDOWS, WARM_MAX_WINDOWS = 3, 6
DRAIN_TIMEOUT_S = 60.0
SETUP_REPS = 5
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets", "triggerExecution")


def generate(seed: int, stage: str, n_files: int) -> list[str]:
    """Write ``n_files`` seeded parquet files to ``stage``; file ``k`` holds
    event time [k * FILE_SPAN_S, (k + 1) * FILE_SPAN_S) for every sensor.
    Same seed, same bytes."""
    from real_time_big_data_iot_monitoring_pipeline_spark.sources.sensors import LOCATIONS

    rng = np.random.default_rng(seed)
    ticks = FILE_SPAN_S // CADENCE_S
    names = np.array([f"SENSOR_{i + 1:03d}" for i in range(N_SENSORS)], dtype=object)
    locs = np.array([loc[0] for loc in LOCATIONS], dtype=object)
    base = np.array([loc[1] for loc in LOCATIONS])
    sensor = np.tile(np.arange(N_SENSORS), ticks)
    tick = np.repeat(np.arange(ticks), N_SENSORS)
    jitter = rng.integers(0, CADENCE_S, N_SENSORS)[sensor]
    paths = []
    for k in range(n_files):
        n = sensor.size
        ts_s = EPOCH_START + k * FILE_SPAN_S + tick * CADENCE_S + jitter
        temperature = base[sensor % len(LOCATIONS)] + rng.normal(0.0, 1.5, n)
        table = pa.table({
            "sensor_id": pa.array(names[sensor], pa.string()),
            "location": pa.array(locs[sensor % len(LOCATIONS)], pa.string()),
            "timestamp": pa.array(ts_s * 1_000_000, pa.timestamp("us", tz="UTC")),
            "temperature": np.round(temperature, 2),
            "humidity": np.round(rng.uniform(30.0, 80.0, n), 2),
            "pressure": np.round(rng.uniform(980.0, 1020.0, n), 2),
        })
        path = os.path.join(stage, f"part-{k:05d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths


class Generator:
    """Moves staged files into ``target`` every FILE_INTERVAL_S seconds
    until file ``stop_after`` (set while running) has been published."""

    def __init__(self, staged: list[str], target: str):
        self.staged = staged
        self.target = target
        self.visible: list[tuple[str, float, float]] = []  # name, due, visible
        self.stop_after = len(staged) - 1
        self._thread = threading.Thread(target=self._run, name="perfbench-generator", daemon=True)
        self.t0 = 0.0

    def _run(self) -> None:
        for k, src in enumerate(self.staged):
            if k > self.stop_after:
                return
            due = self.t0 + k * FILE_INTERVAL_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            name = os.path.basename(src)
            now = time.time()
            os.utime(src, (now, now))  # the file source orders by modification time
            os.rename(src, os.path.join(self.target, name))
            self.visible.append((name, due, time.time()))

    def start(self) -> None:
        self.t0 = time.time() + 0.5
        self._thread.start()

    def next_index(self, at: float) -> int:
        """Index of the first file due after wall time ``at``."""
        return max(0, int((at - self.t0) / FILE_INTERVAL_S) + 1)

    def join(self, timeout: float) -> None:
        self._thread.join(timeout)
        if self._thread.is_alive():
            raise RuntimeError("generator did not finish")


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def source_log(ckpt: str) -> dict[str, int]:
    """File name -> id of the micro-batch that read it, from the file
    source's metadata log in the query's checkpoint."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    name = os.path.basename(e["path"])
                    out[name] = min(out.get(name, e["batchId"]), e["batchId"])
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    """Micro-batch id -> wall time its commit record was written."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "commits", "*")):
        base = os.path.basename(path)
        if base.isdigit():
            out[int(base)] = os.stat(path).st_mtime_ns / 1e9
    return out


def dir_bytes(path: str, pattern: str = "**/*.parquet") -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, pattern), recursive=True))


def check_raw(input_dir: str, raw_dir: str) -> dict:
    """Raw sink holds exactly the published rows: count and an
    order-independent hash, both computed by DuckDB."""
    import duckdb

    q = ("SELECT count(*), sum(hash(sensor_id, location, epoch_us(timestamp), temperature, "
         "humidity, pressure)::HUGEINT) FROM read_parquet('{}/*.parquet')")
    con = duckdb.connect()
    try:
        want = con.sql(q.format(input_dir)).fetchone()
        got = con.sql(q.format(raw_dir)).fetchone()
    finally:
        con.close()
    return {"rows": int(want[0]), "raw_rows": int(got[0]), "match": tuple(want) == tuple(got)}


def check_agg(spark, input_dir: str, agg_dir: str, watermark: float) -> dict:
    """Aggregate sink equals the batch ``windowed_aggregate_stream`` over
    the same rows, for every window sealed by the final watermark."""
    from pyspark.sql import functions as F

    from real_time_big_data_iot_monitoring_pipeline_spark.schemas import (
        SENSOR_AGGREGATE_SCHEMA,
        SENSOR_READING_SCHEMA,
    )
    from real_time_big_data_iot_monitoring_pipeline_spark.streaming.pipeline import (
        windowed_aggregate_stream,
    )

    rows = spark.read.schema(SENSOR_READING_SCHEMA).parquet(input_dir)
    cols = [f.name for f in SENSOR_AGGREGATE_SCHEMA.fields]
    want = sorted(tuple(r) for r in windowed_aggregate_stream(rows).filter(
        F.unix_micros("window_end") <= int(watermark * 1_000_000)).select(*cols).collect())
    got = sorted(tuple(r) for r in
                 spark.read.schema(SENSOR_AGGREGATE_SCHEMA).parquet(agg_dir).select(*cols).collect())
    return {"sealed_window_rows": len(want), "sink_rows": len(got),
            "match": bool(want) and want == got}


def run(seed: int, seconds: int, trace: bool, work: str, log, rss) -> dict:
    from real_time_big_data_iot_monitoring_pipeline_spark.schemas import SENSOR_READING_SCHEMA
    from real_time_big_data_iot_monitoring_pipeline_spark.streaming import pipeline

    tracer = harness.Tracer(trace)
    n_timed = int(round(seconds / FILE_INTERVAL_S))
    n_files = int((COLD_START_S + WARM_MAX_WINDOWS * WARM_WINDOW_S + 2) / FILE_INTERVAL_S) + n_timed
    spark = None
    queries = []
    gen = None
    try:
        setup_times = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = harness.start_session(work, trace and rep == SETUP_REPS - 1)
            run_dir = os.path.join(work, f"run{rep}")
            stage, input_dir = os.path.join(run_dir, "stage"), os.path.join(run_dir, "in")
            os.makedirs(stage)
            os.makedirs(input_dir)
            staged = generate(seed, stage, n_files)
            setup_times.append(time.perf_counter() - t0)
        log({"meta": harness.run_metadata(spark, seed, "stream_ingest", os.getcwd()),
             "files_staged": n_files, "rows_per_file": N_SENSORS * FILE_SPAN_S // CADENCE_S,
             "setup_reps_s": setup_times})

        raw_dir, agg_dir = os.path.join(run_dir, "raw"), os.path.join(run_dir, "agg")
        ckpt = os.path.join(run_dir, "ckpt")

        def sink(name: str, writer):
            if not trace:
                return writer

            def write(df, batch_id):
                with tracer.span(f"sink.{name}.write", "sink", op=f"{name}-{batch_id}"):
                    writer(df, batch_id)

            return write

        parsed = pipeline.file_source(spark, input_dir, schema=SENSOR_READING_SCHEMA)
        raw_q, agg_q = pipeline.start_dual_sink(
            parsed,
            sink("raw", pipeline.parquet_append_writer(raw_dir)),
            sink("agg", pipeline.parquet_upsert_writer(agg_dir)),
            ckpt,
        )
        queries = [raw_q, agg_q]
        gen = Generator(staged, input_dir)
        gen.start()

        def warm_window() -> float:
            lo = time.time()
            time.sleep(WARM_WINDOW_S)
            for q in queries:
                if q.exception() is not None:
                    raise RuntimeError(f"stream failed during warm-up: {q.exception()}")
            durs = [p["durationMs"]["triggerExecution"] for q in queries for p in q.recentProgress
                    if p["numInputRows"] > 0 and _ts(p["timestamp"]) >= lo]
            return harness.median(durs) / 1000.0 if durs else float("inf")

        cold_deadline = time.time() + COLD_START_S
        while not all(q.lastProgress and q.lastProgress["numInputRows"] > 0 for q in queries):
            if time.time() > cold_deadline:
                raise RuntimeError(f"no micro-batch committed within {COLD_START_S} s")
            time.sleep(0.2)
        warm = harness.warm_until_level(warm_window, WARM_MIN_WINDOWS, WARM_MAX_WINDOWS)
        first_timed = gen.next_index(time.time())
        gen.stop_after = first_timed + n_timed - 1
        log({"warmup_batch_median_s": warm, "first_timed_file": first_timed})
        gen.join(timeout=seconds + 30)

        if len(gen.visible) != first_timed + n_timed:
            raise RuntimeError(f"generator published {len(gen.visible)} of {first_timed + n_timed} files")
        log({"generator_done": True})
        names = {name for name, _, _ in gen.visible}
        deadline = time.time() + DRAIN_TIMEOUT_S
        settled = None
        while time.time() < deadline:
            for q in queries:
                if q.exception() is not None:
                    raise RuntimeError(f"stream failed: {q.exception()}")
            pending = {}
            for q in ("raw", "agg"):
                read_by, done_ids = source_log(os.path.join(ckpt, q)), commit_times(os.path.join(ckpt, q))
                pending[q] = sum(1 for n in names if read_by.get(n) not in done_ids)
            last = agg_q.lastProgress
            state = last and last["batchId"]
            if not any(pending.values()) and not agg_q.status["isTriggerActive"]:
                if settled == state:  # no further batch: the final watermark has sealed
                    break
                settled = state
            time.sleep(0.5)
        else:
            log({"drain_timeout": {"pending_files": pending, "agg_status": agg_q.status}})
        for q in queries:
            q.stop()
        progress = {"raw": raw_q.recentProgress, "agg": agg_q.recentProgress}
        rss.stop()
        log({"drained": True})

        # per-file latency: visible -> commit of the last batch (of both
        # queries) that read it
        batch_of = {q: source_log(os.path.join(ckpt, q)) for q in ("raw", "agg")}
        committed = {q: commit_times(os.path.join(ckpt, q)) for q in ("raw", "agg")}
        timed_files = gen.visible[first_timed:first_timed + n_timed]
        latencies, late, done = [], [], []
        timed_batches: dict[str, set[int]] = {"raw": set(), "agg": set()}
        for name, due, visible in timed_files:
            late.append((visible - due) * 1000.0)
            ends = []
            for q in ("raw", "agg"):
                b = batch_of[q].get(name)
                if b is not None and b in committed[q]:
                    ends.append(committed[q][b])
                    timed_batches[q].add(b)
            if len(ends) == 2:
                latencies.append((max(ends) - visible) * 1000.0)
                done.append(max(ends))
        failed = len(timed_files) - len(latencies)

        timed_progress = {q: [p for p in progress[q] if p["batchId"] in timed_batches[q]]
                          for q in progress}
        # the stateful aggregate query commits last for nearly every file, so
        # its micro-batches are the operations; the raw query's batches are
        # reported per layer
        batch_ms = [p["durationMs"]["triggerExecution"] for p in timed_progress["agg"]]
        busy_s = sum(p["durationMs"]["triggerExecution"]
                     for ps in timed_progress.values() for p in ps) / 1000.0
        dropped = sum(int(o.get("numRowsDroppedByWatermark", 0))
                      for p in progress["agg"] for o in (p.get("stateOperators") or []))
        watermark = max((_ts(p["eventTime"]["watermark"]) for p in progress["agg"]
                         if (p.get("eventTime") or {}).get("watermark")), default=0.0)

        checks = {"raw": check_raw(input_dir, raw_dir),
                  "agg": check_agg(spark, input_dir, agg_dir, watermark),
                  "rows_dropped_by_watermark": dropped,
                  "timed_files": len(timed_files), "timed_files_failed": failed}
        correct = (failed == 0 and len(timed_files) == n_timed and checks["raw"]["match"]
                   and checks["agg"]["match"] and dropped == 0)
        log({"checks": checks, "batch_ms": {q: sorted(p["durationMs"]["triggerExecution"]
                                                        for p in ps)
                                            for q, ps in timed_progress.items()},
             "latency_ms": sorted(latencies)})

        t_first = timed_files[0][2] if timed_files else 0.0
        result = {
            "correct": correct,
            "attempted": max(len(timed_files), 1),
            "failed": failed if timed_files else 1,
            "end_to_end": {
                "setup_s": (harness.median(setup_times), "s"),
                "result_s": (busy_s, "s"),
                "op_p50_ms": (harness.percentile(batch_ms, 0.5), "ms"),
                "latency_p50_ms": (harness.percentile(latencies, 0.5), "ms"),
            },
        }
        if trace:
            spark.stop()
            spark = None
            window = (t_first, max(done) if done else t_first)
            result["per_layer"] = layer_metrics(
                tracer, timed_progress, timed_batches,
                busy_s, late, window,
                input_dir, raw_dir, agg_dir, batch_of["raw"], gen.visible, progress["raw"], work)
            log({"spans": tracer.spans})
        return result
    finally:
        for q in queries:
            if q.isActive:
                q.stop()
        if gen is not None:
            gen.stop_after = -1
        if spark is not None:
            spark.stop()


def layer_metrics(tracer, timed_progress, timed_batches, busy_s, late, window,
                  input_dir, raw_dir, agg_dir, raw_batch_of, visible, raw_progress, work):
    out: dict[str, tuple] = {}
    wall = max(window[1] - window[0], 1e-9)
    for q, ps in timed_progress.items():
        for phase in PHASES:
            out[f"stream.{q}.{phase}_ms"] = (
                harness.median([p["durationMs"].get(phase, 0) for p in ps]), "ms")
        out[f"stream.{q}.batches"] = (float(len(ps)), "count")
        out[f"stream.{q}.busy_frac"] = (
            sum(p["durationMs"].get("triggerExecution", 0) for p in ps) / 1000.0 / wall, "ratio")
    state = [p["stateOperators"][0] for p in timed_progress["agg"] if p.get("stateOperators")]
    out["stream.agg.state_rows"] = (harness.median([s["numRowsTotal"] for s in state]), "count")
    out["stream.agg.state_memory_bytes"] = (
        harness.median([s["memoryUsedBytes"] for s in state]), "bytes")
    out["stream.agg.state_commit_ms"] = (harness.median([s["commitTimeMs"] for s in state]), "ms")

    for q in ("raw", "agg"):
        spans = [s for s in tracer.spans if s["name"] == f"sink.{q}.write" and "end" in s
                 and int(s["op"].rsplit("-", 1)[1]) in timed_batches[q]]
        out[f"sink.{q}.write_ms"] = (
            harness.median([(s["end"] - s["start"]) * 1000.0 for s in spans]), "ms")
    out["sink.agg.partitions"] = (float(len(glob.glob(os.path.join(agg_dir, "window_start=*")))),
                                  "count")
    out["sink.bytes_per_input_byte"] = (
        (dir_bytes(raw_dir) + dir_bytes(agg_dir)) / max(dir_bytes(input_dir, "*.parquet"), 1),
        "ratio")
    out["gen.late_max_ms"] = (max(late, default=0.0), "ms")

    # backlog at each raw trigger: files visible before it started and not
    # read by an earlier batch
    backlog = []
    for p in raw_progress:
        if p["batchId"] not in timed_batches["raw"]:
            continue
        start = _ts(p["timestamp"])
        backlog.append(sum(1 for name, _, vis in visible
                           if vis <= start and raw_batch_of.get(name, 1 << 60) >= p["batchId"]))
    out["source.backlog_files_max"] = (float(max(backlog, default=0)), "count")

    jobs = [j for j in harness.parse_event_log(os.path.join(work, "eventlog"))
            if window[0] <= j["start"] <= window[1]]
    n_batches = max(sum(len(b) for b in timed_batches.values()), 1)
    tot = harness.engine_totals(jobs)
    for key, name, unit in (("jobs", "jobs", "count"), ("stages", "stages", "count"),
                            ("tasks", "tasks", "count"), ("input_rows", "scan_rows", "count"),
                            ("shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
                            ("spill_bytes", "spill_bytes", "bytes"),
                            ("executor_run_ms", "executor_run_ms", "ms"),
                            ("jvm_gc_ms", "jvm_gc_ms", "ms")):
        out[f"spark.{name}"] = (tot[key] / n_batches, unit)
    out["trace.result_s"] = (busy_s, "s")
    timed_ops = {f"{q}-{b}" for q, ids in timed_batches.items() for b in ids}
    for layer, values in tracer.self_ms_by_layer(timed_ops.__contains__).items():
        out[f"self.{layer}_ms"] = (harness.median(values), "ms")
    return out
