"""Tests of the benchmark's own pieces.

    python3 -m pytest perfbench -q -p no:cacheprovider

The event-log test starts a small local Spark session (about 15 s).
"""

from __future__ import annotations

import os

import pytest

from perfbench import dashboard_refresh, harness, stream_ingest


def _read(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def test_dashboard_input_same_seed_same_bytes(tmp_path):
    a, b, c = (str(tmp_path / n) for n in ("a.parquet", "b.parquet", "c.parquet"))
    assert dashboard_refresh.generate(7, a) == dashboard_refresh.generate(7, b)
    dashboard_refresh.generate(8, c)
    assert _read(a) == _read(b)
    assert _read(a) != _read(c)


def test_stream_input_same_seed_same_bytes(tmp_path):
    dirs = [tmp_path / n for n in ("a", "b", "c")]
    for d in dirs:
        d.mkdir()
    a = stream_ingest.generate(7, str(dirs[0]), 3)
    b = stream_ingest.generate(7, str(dirs[1]), 3)
    c = stream_ingest.generate(8, str(dirs[2]), 3)
    assert [_read(p) for p in a] == [_read(p) for p in b]
    assert [_read(p) for p in a] != [_read(p) for p in c]


def test_percentile_reports_tail_only_with_ten_samples_beyond():
    assert harness.percentile([], 0.5) is None
    assert harness.percentile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert harness.percentile([float(i) for i in range(99)], 0.9) is None
    hundred = [float(i) for i in range(1, 101)]
    assert harness.percentile(hundred, 0.9) == 90.0  # ten samples (91..100) beyond it
    assert harness.percentile(list(reversed(hundred)), 0.9) == 90.0


def test_union_and_self_time():
    assert harness.union_ms([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)], 0.0, 10.0) == pytest.approx(3000.0)
    assert harness.union_ms([(0.0, 5.0)], 1.0, 2.0) == pytest.approx(1000.0)
    tracer = harness.Tracer(True)
    tracer.spans = [
        {"name": "op", "layer": "bench", "op": "timed-0", "parent": None, "start": 0.0, "end": 1.0},
        {"name": "a", "layer": "engine", "op": "timed-0", "parent": 0, "start": 0.1, "end": 0.4},
        {"name": "b", "layer": "engine", "op": "timed-0", "parent": 0, "start": 0.3, "end": 0.6},
    ]
    self_ms = tracer.self_ms_by_layer(lambda op: op.startswith("timed-"))
    assert self_ms["bench"] == [pytest.approx(500.0)]
    assert self_ms["engine"] == [pytest.approx(600.0)]


def test_warm_until_level_stops_once_a_pass_is_no_faster():
    times = iter([9.0, float("inf"), 5.0, 4.0, 3.9, 1.0])
    assert harness.warm_until_level(lambda: next(times), 3, 8) == [9.0, float("inf"), 5.0, 4.0, 3.9]
    assert harness.warm_until_level(lambda: 2.0, 1, 4) == [2.0, 2.0]
    falling = iter([8.0, 4.0, 2.0, 1.0])
    assert harness.warm_until_level(lambda: next(falling), 2, 3) == [8.0, 4.0, 2.0]


def test_disabled_tracer_records_and_wraps_nothing():
    tracer = harness.Tracer(False)

    def f(x):
        return x + 1

    assert tracer.wrap(f, "f", "layer") is f
    with tracer.span("s", "layer"):
        pass
    assert tracer.spans == []


def test_event_log_parser_on_a_tiny_run(tmp_path):
    work = str(tmp_path)
    spark = harness.start_session(work, trace=True)
    try:
        path = os.path.join(work, "t.parquet")
        spark.range(1000).selectExpr("id % 7 AS k", "id AS v").write.parquet(path)
        spark.sparkContext.setJobDescription("probe:agg")
        harness.noop(spark.read.parquet(path).groupBy("k").count())
        spark.sparkContext.setJobDescription(None)
    finally:
        spark.stop()
    jobs = harness.parse_event_log(os.path.join(work, "eventlog"))
    probe = [j for j in jobs if j["description"] == "probe:agg"]
    assert probe, [j["description"] for j in jobs]
    tot = harness.engine_totals(probe)
    assert tot["input_rows"] == 1000
    assert tot["tasks"] >= 2 and tot["stages"] >= 1
    assert tot["shuffle_write_bytes"] > 0
    assert all(j["end"] >= j["start"] for j in probe)
