"""End-to-end test of the dashboard facade: every panel of the reference
dashboard computes over the canonical sensor schema, produces sane
values, and the whole surface reads one materialization of its input
per call."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_big_data_iot_monitoring_pipeline_spark import dashboard
from real_time_big_data_iot_monitoring_pipeline_spark.sources import sensors


@pytest.fixture(scope="module")
def readings(spark):
    return sensors.readings(spark, hours=12).cache()


@pytest.fixture(scope="module")
def panels(spark, readings):
    return dashboard.full_dashboard(readings, sensors.location_dim(spark))


def test_every_panel_materializes(panels):
    for name, df in panels.items():
        assert df.count() > 0, name


def test_kpis(readings, panels):
    row = panels["kpis"].collect()[0]
    assert row.n_sensors == sensors.N_SENSORS
    assert row.n_locations == sensors.N_SENSORS
    assert row.n_readings == readings.count()
    assert 10 < row.avg_temperature < 35


def test_alert_feed_fires_all_categories(panels):
    types = {r.alert_type for r in panels["alerts"].select("alert_type").distinct().collect()}
    # the generator injects +-15C anomalies and humidity bumps, so every
    # category must fire (the reference's seeded demo makes the same claim)
    assert types == {"high_temperature", "low_temperature", "high_humidity", "statistical_anomaly"}


def test_geo_map_has_no_default_coords(panels):
    geo = panels["geo"].collect()
    assert len(geo) == sensors.N_SENSORS
    assert all(r.lat != 0.0 for r in geo)
    assert {r.status for r in geo} <= {"red", "green", "blue"}


def test_forecasts_cover_all_locations(panels):
    fc = panels["forecasts"].collect()
    assert len(fc) == sensors.N_SENSORS
    assert all(f.r2 is not None for f in fc)


def test_time_window_filter(spark, readings):
    recent = dashboard.filter_window(readings, hours=2)
    n = recent.count()
    # 2h of 12h at 2-min cadence: 10 sensors * 61 ticks (inclusive anchor)
    assert 0 < n < readings.count()
    span_us = recent.agg(
        (F.unix_micros(F.max("timestamp")) - F.unix_micros(F.min("timestamp"))).alias("s")
    ).collect()[0].s
    assert span_us <= 2 * 3600 * 1000000


def _checkpoint_rdd_ids(df) -> set[int]:
    """Ids of the RDDs behind the checkpointed (LogicalRDD) leaves of a
    panel's plan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).nodeName() == "LogicalRDD"
    }


def test_whole_surface_is_single_scan(spark, readings):
    """Building the dashboard submits the jobs of one local checkpoint of
    its input plus each panel's own materialization, all under the
    caller's job group (the panel threads inherit it); every returned
    panel is a checkpoint, and executing it afterwards submits exactly one
    job that reads only that checkpoint, never the input relation.  Each
    panel's materialization jobs are described "<caller description>:<panel>"."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    readings.count()  # fill the fixture's cache outside the counted jobs
    try:
        sc.setJobGroup("dashboard-test-checkpoint", "reference checkpoint")
        readings.localCheckpoint(eager=True)
        ungrouped = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup("dashboard-test-build", "full_dashboard build")
        panels = dashboard.full_dashboard(readings, sensors.location_dim(spark))
        assert set(tracker.getJobIdsForGroup(None)) == ungrouped, "a panel job lost the job group"
        reference = tracker.getJobIdsForGroup("dashboard-test-checkpoint")
        built = tracker.getJobIdsForGroup("dashboard-test-build")
        assert len(panels) == 12
        assert len(reference) >= 1
        assert len(built) >= len(reference) + 12
        descriptions = {store.job(j).description().getOrElse(None) for j in built}
        assert descriptions == {"full_dashboard build"} | {
            f"full_dashboard build:{name}" for name in panels
        }
        for name, df in panels.items():
            assert df._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD", name
            sc.setJobGroup(f"dashboard-test-run-{name}", f"execute {name}")
            df.collect()
            assert len(tracker.getJobIdsForGroup(f"dashboard-test-run-{name}")) == 1, name
            leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
            assert {leaves.apply(i).nodeName() for i in range(leaves.size())} == {
                "Scan ExistingRDD"
            }, f"panel {name} reads more than its checkpoint"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)


def test_failing_panel_fails_alone(spark, readings, monkeypatch):
    """A panel whose plan raises at run time is returned as that lazy
    plan and raises when executed; the dashboard still returns all 12
    panels and the other 11 are exactly what they are without the
    fault."""
    from perfbench.dashboard_refresh import digest

    dim = sensors.location_dim(spark)
    healthy = {name: digest(df) for name, df in dashboard.full_dashboard(readings, dim).items()}
    monkeypatch.setattr(
        dashboard,
        "temperature_histogram",
        lambda df, nbins=30: df.select(
            F.raise_error(F.concat(F.lit("bad panel at "), F.col("sensor_id"))).alias("bin")
        ),
    )
    panels = dashboard.full_dashboard(readings, dim)
    assert list(panels) == list(healthy)
    for name, df in panels.items():
        if name != "histogram":
            assert digest(df) == healthy[name], name
    with pytest.raises(Exception, match="bad panel at"):
        panels["histogram"].collect()


def test_location_dim_is_jvm_local(spark, readings):
    """The location dimension is a local relation in the JVM with the
    rows, names and types of the coordinate list, so the geo panel's join
    plans no Python RDD and starts no Python worker."""
    dim = sensors.location_dim(spark)
    leaves = dim._jdf.queryExecution().analyzed().collectLeaves()
    assert [leaves.apply(i).nodeName() for i in range(leaves.size())] == ["LocalRelation"]
    assert dim.dtypes == [("location", "string"), ("lat", "double"), ("lon", "double")]
    assert [tuple(r) for r in dim.collect()] == [
        (name, lat, lon) for name, _, lat, lon in sensors.LOCATIONS
    ]
    geo = dashboard.geo_map(readings, dim)
    geo.collect()
    plan = geo._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan and "Python" not in plan, plan


def test_each_call_takes_a_fresh_checkpoint(spark, readings):
    """Two full_dashboard calls never share a materialization: a second
    call sees a changed input, and two calls on the same input checkpoint
    it into different RDDs (a cross-call cache would break both)."""
    dim = sensors.location_dim(spark)
    dropped = sensors.LOCATIONS[0][0]
    first = dashboard.full_dashboard(readings, dim)["kpis"]
    fewer = dashboard.full_dashboard(readings.filter(F.col("location") != dropped), dim)["kpis"]
    assert fewer.collect()[0].n_locations == first.collect()[0].n_locations - 1

    again = dashboard.full_dashboard(readings, dim)["kpis"]
    ids_first, ids_again = _checkpoint_rdd_ids(first), _checkpoint_rdd_ids(again)
    assert len(ids_first) == len(ids_again) == 1
    assert ids_first != ids_again


def test_panels_match_direct_functions_and_duckdb(spark, tmp_path):
    """Oracle for the shared materialization: over a seeded history staged
    as parquet and windowed to 24 h, each panel of full_dashboard has the
    same digest (row count + sum of row xxhash64) as its public panel
    function applied directly to the window, and kpis / location_stats
    equal DuckDB over the same parquet."""
    from perfbench.dashboard_refresh import WINDOW_HOURS, digest, duckdb_oracle, generate

    from real_time_big_data_iot_monitoring_pipeline_spark.sources import tables

    path = tmp_path / "readings.parquet"
    generate(7, str(path))
    w = dashboard.filter_window(
        tables.load_table(spark, str(tmp_path), "readings"), hours=WINDOW_HOURS
    )
    dim = sensors.location_dim(spark)
    direct = {
        "kpis": dashboard.kpis(w),
        "alerts": dashboard.alert_feed(w),
        "severity": dashboard.severity_summary(w),
        "location_stats": dashboard.location_stats(w),
        "describe": dashboard.temperature_describe(w),
        "histogram": dashboard.temperature_histogram(w),
        "correlations": dashboard.metric_correlations(w),
        "trend": dashboard.trend_series(w),
        "trend_dense": dashboard.trend_series_dense(w),
        "forecasts": dashboard.forecasts(w),
        "model_quality": dashboard.model_quality(w),
        "geo": dashboard.geo_map(w, dim),
    }
    panels = dashboard.full_dashboard(w, dim)
    assert panels.keys() == direct.keys()
    for name, df in panels.items():
        assert digest(df) == digest(direct[name]), name

    duck_kpis, duck_locs = duckdb_oracle(str(path))
    assert tuple(panels["kpis"].collect()[0]) == duck_kpis
    assert {r[0]: tuple(r[1:]) for r in panels["location_stats"].collect()} == duck_locs


def test_trend_dense_fills_dropped_samples(spark):
    """The dense trend panel must emit a row for every 5-min bucket even
    when a sensor drops samples, forward-filling the last average."""
    base = sensors.readings(spark, hours=2)
    # drop 30 minutes in the middle for one sensor
    holey = base.filter(
        ~(
            (F.col("sensor_id") == "SENSOR_001")
            & (F.minute("timestamp") >= 20)
            & (F.minute("timestamp") < 50)
            & (F.hour("timestamp") == 0)
        )
    )
    dense = dashboard.trend_series_dense(holey).filter(F.col("sensor_id") == "SENSOR_001")
    rows = {r.bucket: r for r in dense.collect()}
    buckets = sorted(rows)
    # contiguous bucket grid despite the hole
    assert buckets == list(range(buckets[0], buckets[-1] + 1))
    gaps = [r for r in rows.values() if r.is_gap == 1]
    assert gaps and all(r.avg_value_ff is not None for r in gaps)


def test_cli_demo_end_to_end(spark, tmp_path, monkeypatch, capsys):
    """`python -m real_time_big_data_iot_monitoring_pipeline_spark` lifecycle: generate -> replay stream
    -> dual sink -> dashboard panels, in-process with a small feed."""
    import sys

    from real_time_big_data_iot_monitoring_pipeline_spark.__main__ import main

    monkeypatch.setattr(
        sys, "argv",
        ["real_time_big_data_iot_monitoring_pipeline_spark", "--hours", "1", "--rows", "3", "--out", str(tmp_path / "demo")],
    )
    # main() calls spark.stop() on the shared fixture session; neuter it
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    main()
    out = capsys.readouterr().out
    assert "sink row counts" in out
    for panel in ("kpis", "alerts", "severity", "location_stats", "trend", "geo"):
        assert f"=== {panel}" in out, f"panel {panel} missing from CLI output"
    # the raw sink must hold the COMPLETE feed (an overwrite-style raw
    # writer silently keeps only the last micro-batch — regression guard)
    from real_time_big_data_iot_monitoring_pipeline_spark.sources import sensors

    expected = sensors.readings(spark, hours=1).count()
    import re as _re

    raw_n = int(_re.search(r"raw=(\d+)", out).group(1))
    assert raw_n == expected, f"raw sink {raw_n} != generated feed {expected}"

    # the AGG sink must equal the batch twin of the windowed aggregation
    # over the complete feed — the round-3 advice pathology was an
    # out-of-event-time-order replay whose watermark silently dropped most
    # rows, leaving an agg sink computed from a fraction of the data while
    # this test only checked the raw count.  (Append mode still holds back
    # windows the final watermark never seals, so compare on the sealed
    # prefix: every sunk window must match its batch value, and the sunk
    # set must cover all but the trailing watermark horizon.)
    from real_time_big_data_iot_monitoring_pipeline_spark.streaming import pipeline as _pipeline

    feed = sensors.readings(spark, hours=1)
    batch = {
        (r["sensor_id"], r["window_start"]): r
        for r in _pipeline.windowed_aggregate_stream(feed).collect()
    }
    sunk = spark.read.parquet(str(tmp_path / "demo" / "agg")).collect()
    assert sunk, "agg sink is empty"
    for r in sunk:
        b = batch[(r["sensor_id"], r["window_start"])]
        assert (
            r["avg_temperature"] == b["avg_temperature"]
            and r["reading_count"] == b["reading_count"]
        ), f"agg sink row diverges from batch twin: {r} vs {b}"
    # coverage: only windows inside the trailing 10-min watermark horizon
    # (plus the one window the final file may leave unsealed) may be absent
    horizon = max(b["window_end"] for b in batch.values())
    missing = {k for k in batch if k not in {(r["sensor_id"], r["window_start"]) for r in sunk}}
    import datetime as _dt

    for _sid, wstart in missing:
        assert wstart >= horizon - _dt.timedelta(minutes=15), (
            f"window {wstart} missing from agg sink but outside the "
            f"trailing watermark horizon (max batch window end {horizon})"
        )
