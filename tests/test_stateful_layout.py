"""Tests for the custom stateful streaming operators
(applyInPandasWithState) and the upsert sink's partition overwrite."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from real_time_big_data_iot_monitoring_pipeline_spark.sources import sensors
from real_time_big_data_iot_monitoring_pipeline_spark.streaming import pipeline, stateful


def _python_ewma(values, alpha=0.2, threshold=30.0):
    ewma, crossings = None, 0
    for v in values:
        prev = ewma
        ewma = v if ewma is None else alpha * v + (1 - alpha) * ewma
        if prev is not None and (prev <= threshold) != (ewma <= threshold):
            crossings += 1
    return ewma, crossings


def test_stateful_ewma_matches_python(spark, tmp_path):
    """Run the stateful operator over a multi-micro-batch stream; final
    per-sensor state must equal a sequential Python fold over the same
    ordered readings — proving state carries correctly across batches."""
    df = sensors.readings(spark, hours=4)
    path = str(tmp_path / "readings")
    # Stage in timestamp order so file-order == event order per sensor:
    # maxFilesPerTrigger then replays deterministically ordered batches.
    df.orderBy("timestamp").coalesce(1).write.mode("overwrite").parquet(path)

    stream = pipeline.file_source(spark, path, schema=df.schema, max_files_per_trigger=1)
    out = stateful.ewma_stream(stream)
    name = f"ewma_{uuid.uuid4().hex[:8]}"
    q = out.writeStream.outputMode("update").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()

    # last emitted row per sensor = final state
    final = (
        spark.table(name)
        .groupBy("sensor_id")
        .agg(F.max("n_seen").alias("n_seen"), F.expr("max_by(ewma, n_seen)").alias("ewma"),
             F.expr("max_by(n_crossings, n_seen)").alias("n_crossings"))
        .collect()
    )
    rows = df.orderBy("timestamp", "temperature").collect()
    by_sensor: dict[str, list[float]] = {}
    for r in rows:
        by_sensor.setdefault(r.sensor_id, []).append(r.temperature)
    assert len(final) == len(by_sensor)
    for row in final:
        want_ewma, want_cross = _python_ewma(by_sensor[row.sensor_id])
        assert row.n_seen == len(by_sensor[row.sensor_id])
        assert row.ewma == pytest.approx(want_ewma, abs=1e-5)
        assert row.n_crossings == want_cross


def test_state_is_bounded_per_key(spark, tmp_path):
    """Emitted rows: one per (sensor, micro-batch) — the state footprint
    is per-key, not per-event."""
    df = sensors.readings(spark, hours=2)
    path = str(tmp_path / "r2")
    df.repartition(4).write.mode("overwrite").parquet(path)
    stream = pipeline.file_source(spark, path, schema=df.schema, max_files_per_trigger=1)
    name = f"ewma_{uuid.uuid4().hex[:8]}"
    q = stateful.ewma_stream(stream).writeStream.outputMode("update").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    emitted = spark.table(name).count()
    # <= sensors * batches (4 files -> 4 batches), >= sensors
    assert sensors.N_SENSORS <= emitted <= sensors.N_SENSORS * 4


def test_partition_overwrite_is_idempotent(spark, tmp_path):
    """Dynamic partition overwrite in the upsert sink: replaying a
    micro-batch replaces the partitions it touches instead of appending
    duplicates, and a batch touching one partition leaves the others."""
    df = sensors.readings(spark, hours=24)
    path = str(tmp_path / "idem")
    write = pipeline.parquet_upsert_writer(path, partition_col="sensor_id")
    write(df, 0)
    n1 = spark.read.parquet(path).count()
    write(df, 0)  # the same batch, replayed
    n2 = spark.read.parquet(path).count()
    one = df.select(F.min("sensor_id")).first()[0]
    write(df.filter(F.col("sensor_id") == one), 1)
    n3 = spark.read.parquet(path).count()
    assert n1 == n2 == n3 == df.count()


def test_stateful_extremes_matches_batch(spark, tmp_path):
    """applyInPandasWithState extremes fold: final per-sensor extremes
    and cents-exact average over a multi-micro-batch replay must equal
    the batch aggregates."""
    df = sensors.readings(spark, hours=3)
    path = str(tmp_path / "extc")
    df.repartition(3).write.mode("overwrite").parquet(path)
    stream = pipeline.file_source(spark, path, schema=df.schema, max_files_per_trigger=1)
    name = f"extc_{uuid.uuid4().hex[:8]}"
    q = (
        stateful.extremes_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    final = {
        r.sensor_id: r
        for r in spark.table(name)
        .groupBy("sensor_id")
        .agg(
            F.max("n_seen").alias("n_seen"),
            F.expr("max_by(min_temp, n_seen)").alias("min_temp"),
            F.expr("max_by(max_temp, n_seen)").alias("max_temp"),
            F.expr("max_by(avg_temp, n_seen)").alias("avg_temp"),
        )
        .collect()
    }
    from real_time_big_data_iot_monitoring_pipeline_spark.functions.scalars import avg_fixed

    want = {
        r.sensor_id: r
        for r in df.groupBy("sensor_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("temperature").alias("mn"),
            F.max("temperature").alias("mx"),
            avg_fixed(F.col("temperature")).alias("avg"),
        )
        .collect()
    }
    assert set(final) == set(want)
    for sid, w in want.items():
        g = final[sid]
        assert (g.n_seen, g.min_temp, g.max_temp) == (w.n, w.mn, w.mx)
        assert g.avg_temp == pytest.approx(w.avg, abs=1e-4)


def _python_cusum(values, target=22.0, slack=0.5, h=5.0):
    s_pos = s_neg = 0.0
    alarms = 0
    for v in values:
        p_prev, n_prev = s_pos, s_neg
        s_pos = max(0.0, s_pos + (v - target - slack))
        s_neg = max(0.0, s_neg + (target - v - slack))
        if s_pos > h and p_prev <= h:
            alarms += 1
        if s_neg > h and n_prev <= h:
            alarms += 1
    return s_pos, s_neg, alarms


def test_stateful_cusum_matches_python(spark, tmp_path):
    """Multi-micro-batch CUSUM replay equals the sequential Python fold
    — proving both the cross-batch state carry AND the vectorized
    Lindley-scan kernel (cumsum + running-min) against the one-row-at-a-
    time reference recurrence."""
    df = sensors.readings(spark, hours=4)
    path = str(tmp_path / "readings")
    df.orderBy("timestamp").coalesce(1).write.mode("overwrite").parquet(path)

    stream = pipeline.file_source(spark, path, schema=df.schema, max_files_per_trigger=1)
    out = stateful.cusum_stream(stream)
    name = f"cusum_{uuid.uuid4().hex[:8]}"
    q = out.writeStream.outputMode("update").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()

    final = (
        spark.table(name)
        .groupBy("sensor_id")
        .agg(
            F.max("n_seen").alias("n_seen"),
            F.expr("max_by(s_pos, n_seen)").alias("s_pos"),
            F.expr("max_by(s_neg, n_seen)").alias("s_neg"),
            F.expr("max_by(n_alarms, n_seen)").alias("n_alarms"),
        )
        .collect()
    )
    rows = df.orderBy("timestamp", "temperature").collect()
    by_sensor: dict[str, list[float]] = {}
    for r in rows:
        by_sensor.setdefault(r.sensor_id, []).append(r.temperature)
    assert len(final) == len(by_sensor)
    total_alarms = 0
    for row in final:
        want_pos, want_neg, want_alarms = _python_cusum(by_sensor[row.sensor_id])
        assert row.n_seen == len(by_sensor[row.sensor_id])
        assert row.s_pos == pytest.approx(want_pos, abs=1e-5)
        assert row.s_neg == pytest.approx(want_neg, abs=1e-5)
        assert row.n_alarms == want_alarms
        total_alarms += row.n_alarms
    # the synthetic diurnal feed must actually exercise the detector
    assert total_alarms > 0


def _python_hysteresis(values, hi=100.0, lo=25.0):
    carried, fired, cleared = 0, 0, 0
    for v in values:
        if v > hi:
            if carried != 1:
                fired += 1
            carried = 1
        elif v < lo:
            if carried == 1:
                cleared += 1
            carried = -1
    return fired, cleared, carried == 1


def test_stateful_hysteresis_matches_python(spark, tmp_path):
    """The hysteresis alert machine is order-DEPENDENT: run it over a
    multi-batch replay in event order and compare each user's
    (n_fired, n_cleared, in_alert) against a sequential Python fold —
    proving cross-batch state carry for an operator where batch
    boundaries could corrupt the walk (not just the totals)."""
    import uuid as _uuid

    from real_time_big_data_iot_monitoring_pipeline_spark.sources.tables import load_table

    df = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "ts", "event_id", "value"
    )
    path = str(tmp_path / "hyst")
    # one totally-ordered file: any maxFilesPerTrigger replays in event order
    df.orderBy("ts", "event_id").coalesce(1).write.mode("overwrite").parquet(path)
    stream = pipeline.file_source(spark, path, schema=df.schema, max_files_per_trigger=1)
    out = stateful.hysteresis_stream(stream)
    name = f"hyst_{_uuid.uuid4().hex[:8]}"
    q = out.writeStream.outputMode("update").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    final = (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.expr("max_by(n_fired, n_seen)").alias("n_fired"),
            F.expr("max_by(n_cleared, n_seen)").alias("n_cleared"),
            F.expr("max_by(in_alert, n_seen)").alias("in_alert"),
        )
        .collect()
    )
    rows = df.orderBy("ts", "event_id").collect()
    by_user: dict[int, list[float]] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r.value)
    assert len(final) == len(by_user)
    for row in final:
        fired, cleared, in_alert = _python_hysteresis(by_user[row.user_id])
        assert (row.n_fired, row.n_cleared, row.in_alert) == (fired, cleared, in_alert), row
