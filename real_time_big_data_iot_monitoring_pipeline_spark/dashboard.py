"""The reference dashboard's complete analytics surface
(``streamlit_dashboard.py`` / ``app.py``) as ONE engine API over the
canonical sensor-reading schema — the migration target for a reference
user: every widget's numbers come from these functions instead of pandas.

Each panel function returns a DataFrame (lazy plan); a serving layer
renders them.  Everything composes from the operator library.
``full_dashboard`` is the one eager step: once per call it materializes
its input as a local checkpoint, and all 12 panels read that instead of
re-scanning the input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_big_data_iot_monitoring_pipeline_spark.functions import scalars
from real_time_big_data_iot_monitoring_pipeline_spark.operators import (
    aggregates,
    alerts,
    anomaly,
    regression,
    windows,
)


def filter_window(readings: DataFrame, hours: int | None = None) -> DataFrame:
    """Sidebar time-window filter (reference streamlit_dashboard.py:106-113),
    anchored to max event time for determinism."""
    if hours is None:
        return readings
    mx = readings.agg(F.max("timestamp").alias("mx"))
    return readings.join(F.broadcast(mx)).filter(
        F.unix_micros("timestamp") >= F.unix_micros("mx") - hours * 3600 * 1000000
    ).drop("mx")


def kpis(readings: DataFrame) -> DataFrame:
    """KPI tiles (reference :444-456): avg temp/humidity, sensor count,
    location count, reading count, freshness."""
    return readings.agg(
        scalars.avg_fixed(F.col("temperature")).alias("avg_temperature"),
        scalars.avg_fixed(F.col("humidity")).alias("avg_humidity"),
        F.countDistinct("sensor_id").alias("n_sensors"),
        F.countDistinct("location").alias("n_locations"),
        F.count(F.lit(1)).alias("n_readings"),
        F.unix_micros(F.max("timestamp")).alias("latest_ts_us"),
    )


def alert_feed(readings: DataFrame) -> DataFrame:
    """The four alert categories with severity (reference :209-297):
    threshold rules + IQR anomalies, one unioned feed."""
    rules = [
        alerts.AlertRule(
            "high_temperature",
            F.col("temperature") > scalars.TEMP_HIGH,
            F.col("temperature") > scalars.TEMP_CRITICAL_HIGH,
        ),
        alerts.AlertRule(
            "low_temperature",
            F.col("temperature") < scalars.TEMP_LOW,
            F.col("temperature") < scalars.TEMP_CRITICAL_LOW,
        ),
        alerts.AlertRule(
            "high_humidity",
            F.col("humidity") > scalars.HUMIDITY_HIGH,
            F.col("humidity") > scalars.HUMIDITY_CRITICAL,
        ),
    ]
    threshold_alerts = alerts.apply_rules(readings, rules)
    iqr = anomaly.anomalies(readings, ["temperature", "humidity"]).select(
        *readings.columns,
        F.lit("statistical_anomaly").alias("alert_type"),
        F.lit("warning").alias("severity"),
    )
    return threshold_alerts.unionByName(iqr)


def severity_summary(readings: DataFrame) -> DataFrame:
    return alerts.severity_rollup(alert_feed(readings))


def location_stats(readings: DataFrame) -> DataFrame:
    """Per-location bar-chart aggregates (reference :555-558)."""
    return readings.groupBy("location").agg(
        scalars.avg_fixed(F.col("temperature")).alias("avg_temperature"),
        scalars.avg_fixed(F.col("humidity")).alias("avg_humidity"),
        F.count(F.lit(1)).alias("n_readings"),
    )


def temperature_describe(readings: DataFrame) -> DataFrame:
    """Statistics panel (reference :632-637)."""
    return aggregates.describe_stats(readings, "temperature")


def temperature_histogram(readings: DataFrame, nbins: int = 30) -> DataFrame:
    return aggregates.histogram(readings, "temperature", nbins)


def metric_correlations(readings: DataFrame) -> DataFrame:
    """3x3 correlation matrix (reference :657)."""
    return aggregates.corr_pairs(
        readings,
        [
            ("temperature", F.col("temperature")),
            ("humidity", F.col("humidity")),
            ("pressure", F.col("pressure")),
        ],
    )


def trend_series(readings: DataFrame) -> DataFrame:
    """Rolling-mean trend line per sensor (reference :676-689)."""
    # one row per (sensor_id, timestamp) by construction (sensors.readings),
    # so timestamp alone is a unique, deterministic order key
    return windows.rolling_avg(readings, "sensor_id", ["timestamp"], "temperature")


def trend_series_dense(readings: DataFrame, bucket_seconds: int = 300) -> DataFrame:
    """Gap-tolerant trend line: 5-minute resample per sensor with forward
    fill, so the chart the reference draws from its (assumed dense) pandas
    frame stays correct when sensors drop samples.  Engine extension —
    the reference has no gap repair (its charts silently connect across
    holes, :676-696)."""
    from real_time_big_data_iot_monitoring_pipeline_spark.operators import timeseries

    return timeseries.resample_gap_fill(
        readings, "sensor_id", "timestamp", "temperature", bucket_seconds=bucket_seconds
    )


def forecasts(readings: DataFrame) -> DataFrame:
    """Per-location 1-hour temperature forecast + fit quality
    (reference :699-739)."""
    feat = windows.elapsed_seconds(readings, "location", "timestamp", out="x")
    return regression.fit_per_group(
        feat, "location", "x", "temperature", min_rows=10, forecast_dx=3600.0
    )


def model_quality(readings: DataFrame) -> DataFrame:
    return regression.quality_gate(forecasts(readings))


def geo_map(readings: DataFrame, location_dim: DataFrame) -> DataFrame:
    """Map layer: per-location status bubbles (reference :746-787)."""
    agg = readings.groupBy("location").agg(
        scalars.avg_fixed(F.col("temperature")).alias("avg_temperature"),
        F.count(F.lit(1)).alias("n_readings"),
    )
    return agg.join(F.broadcast(location_dim), "location", "left").select(
        "location",
        F.coalesce("lat", F.lit(0.0)).alias("lat"),
        F.coalesce("lon", F.lit(0.0)).alias("lon"),
        "avg_temperature",
        "n_readings",
        scalars.status_color(F.col("avg_temperature")).alias("status"),
    )


def full_dashboard(readings: DataFrame, location_dim: DataFrame) -> dict[str, DataFrame]:
    """Every dashboard panel as a named plan — the complete reference
    surface in one call.

    The one eager step: ``readings`` is materialized as a local
    checkpoint (its Spark jobs run in this call), and every panel is a
    lazy plan over that checkpoint, so executing the 12 panels never
    scans ``readings`` again.  The alert feed and the forecasts are built
    once and also feed ``severity`` and ``model_quality``.  Each call takes a fresh checkpoint, so a refresh
    always sees the current ``readings``.  Spark's ContextCleaner frees
    the checkpoint's blocks once the returned panels are unreachable and
    garbage-collected.  (A ``cache()`` here would be matched by plan on
    the next call over the same ``readings`` and never be unpersisted.)
    """
    readings = readings.localCheckpoint(eager=True)
    feed = alert_feed(readings)
    fits = forecasts(readings)
    return {
        "kpis": kpis(readings),
        "alerts": feed,
        "severity": alerts.severity_rollup(feed),
        "location_stats": location_stats(readings),
        "describe": temperature_describe(readings),
        "histogram": temperature_histogram(readings),
        "correlations": metric_correlations(readings),
        "trend": trend_series(readings),
        "trend_dense": trend_series_dense(readings),
        "forecasts": fits,
        "model_quality": regression.quality_gate(fits),
        "geo": geo_map(readings, location_dim),
    }
