"""Cross-environment robustness: the driver runs the catalog in ITS OWN
SparkSession, whose timezone we don't control — so every oracle-checked
query must produce identical results under a non-UTC session timezone.
Also covers the dead-letter parse split and streaming session windows."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from real_time_big_data_iot_monitoring_pipeline_spark.plans import REGISTRY
from real_time_big_data_iot_monitoring_pipeline_spark.sources import sensors
from real_time_big_data_iot_monitoring_pipeline_spark.streaming import pipeline
from tests.compare import assert_frames_match

# Queries touching event-time in their outputs or grouping — the ones a
# session-timezone change could plausibly corrupt.
TZ_SENSITIVE = [
    "flagship_window_agg",
    "scan_recent_topn",
    "filter_time_range",
    "events_per_day",
    "session_window_agg",
    "sliding_window_agg",
    "date_format_display",
    "ingestion_rate_window",
    "elapsed_seconds_feature",
    "asof_join_events",
    # date-literal-filtered / date-rendering TPC-H shapes: their bounds
    # are `utc_ts` instants and their renderings go through `utc_naive`,
    # both of which this test proves session-tz-independent
    "join_star_revenue",
    "pricing_summary",
    "revenue_filter_agg",
    "unshipped_orders_topk",
    "big_orders_customers",
    "volume_shipping",
    "stream_interval_join",
    # round-4 additions with date extraction / date-literal bounds /
    # epoch-day arithmetic
    "market_share_by_year",
    "running_revenue_share",
    "order_month_streaks",
    "customer_order_gap_stats",
    "trailing_week_revenue",
    "order_priority_exists",
    "promo_revenue_share",
    "top_supplier_revenue",
    "idle_rich_customers",
    "incremental_agg_merge",
    "asof_join_forward_tolerance",
    "ewma_batch_per_user",
    # round-5 additions with month extraction / hour-of-day / epoch-day
    # arithmetic over event-time columns
    "cohort_retention",
    "open_orders_backlog",
    "seasonal_anomaly_census",
    "funnel_conversion",
    "ship_delay_profile",
    "snapshot_cdc_diff",
    # round-5 late additions: epoch-window / session-window / DATE
    # arithmetic shapes
    "asof_join_nearest",
    "interval_overlap_join",
    "customer_rfm_segments",
    # this round: year extraction (Q9), epoch-hour bars, micros
    # midpoint versioning, duration weighting
    "nation_product_profit",
    "ohlc_hourly_bars",
    "scd2_asof_lookup",
    "twap_per_user",
    "kaplan_meier_repurchase",
    "yoy_revenue_growth",
    "bitemporal_asof_belief",
]


@pytest.mark.parametrize("name", TZ_SENSITIVE)
def test_results_are_timezone_proof(name, spark, sf_dir, oracle):
    """Run under America/New_York (DST-shifting, negative offset): the
    oracle comparison must still match cell-for-cell."""
    original = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        got = REGISTRY[name].build(spark, sf_dir).toPandas()
    finally:
        spark.conf.set("spark.sql.session.timeZone", original)
    want = oracle.sql(REGISTRY[name].oracle).df()
    assert_frames_match(got, want, f"{name}@America/New_York")


def test_dead_letter_split(spark):
    """Malformed payloads route to the dead-letter side with the original
    payload preserved; good rows parse completely."""
    readings = sensors.readings(spark, hours=1).limit(5)
    wire = readings.select(
        F.to_json(
            F.struct("sensor_id", "location", "timestamp", "temperature", "humidity", "pressure")
        ).cast("binary").alias("value")
    )
    bad = spark.createDataFrame([("{oops",), ('{"sensor_id": "X"}',)], ["s"]).select(
        F.col("s").cast("binary").alias("value")
    )
    good, dead = pipeline.parse_kafka_json_with_dead_letter(wire.union(bad))
    assert good.count() == 5
    assert good.filter(F.col("timestamp").isNull()).count() == 0
    dead_rows = dead.collect()
    # '{oops' fails to parse; the valid-JSON-wrong-shape row has no timestamp
    assert len(dead_rows) == 2
    assert {r.payload for r in dead_rows} == {"{oops", '{"sensor_id": "X"}'}


def test_streaming_session_windows(spark, tmp_path):
    """session_window works under Structured Streaming and (complete
    mode) equals its batch twin."""
    df = sensors.readings(spark, hours=4)
    path = str(tmp_path / "sess")
    df.repartition(6).write.mode("overwrite").parquet(path)

    def sessionize(frame):
        return (
            frame.groupBy("sensor_id", F.session_window("timestamp", "10 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select("sensor_id", F.unix_micros(F.col("w.start")).alias("s"), "cnt")
        )

    batch = sorted(tuple(r) for r in sessionize(spark.read.schema(df.schema).parquet(path)).collect())
    stream = pipeline.file_source(spark, path, schema=df.schema, max_files_per_trigger=2)
    name = f"sess_{uuid.uuid4().hex[:8]}"
    # Files replay in arbitrary (non-chronological) order, so the
    # watermark must exceed the data span or late batches are (correctly)
    # dropped — observed with a 1h watermark over a 4h shuffled replay.
    q = (
        sessionize(stream.withWatermark("timestamp", "6 hours"))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(tuple(r) for r in spark.table(name).collect())
    assert got == batch and len(got) > 0


def test_salted_join_equals_direct_join(spark):
    """The salted join must produce exactly the direct join's rows, with
    a 90%-hot-key fact distribution (the case it exists for)."""
    from pyspark.sql import functions as F

    from real_time_big_data_iot_monitoring_pipeline_spark.operators.skew import salted_join

    fact = spark.range(5000).select(
        F.col("id").alias("row_id"),
        # 90% of rows share key 0 — the straggler shape
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id") % 7).alias("k"),
        (F.col("id") * 3 % 100).alias("payload"),
    )
    dim = spark.createDataFrame([(i, f"name_{i}") for i in range(7)], ["k", "k_name"])
    direct = {tuple(r) for r in fact.join(dim, "k").collect()}
    salted = {tuple(r) for r in salted_join(fact, dim, "k").collect()}
    assert salted == direct
    # left-outer keeps unmatched fact rows exactly once
    fact2 = fact.withColumn("k", F.col("k") + 100)  # no matches at all
    lo = salted_join(fact2, dim, "k", how="left")
    assert lo.count() == fact2.count()
    assert lo.filter(F.col("k_name").isNotNull()).count() == 0


def test_legacy_nanos_fixture_roundtrip(spark, tmp_path):
    """Older fixture generations stored `events.ts` as parquet
    TIMESTAMP(NANOS), which Spark's vectorized reader rejects outright;
    `load_table` reads it as a raw long (nanosAsLong) and truncates to
    micros exactly like DuckDB narrows TIMESTAMP_NS.  The current
    fixtures are TIMESTAMP(MICROS), so this synthesizes a nanos file to
    keep the fallback path covered."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from real_time_big_data_iot_monitoring_pipeline_spark.sources.tables import load_table

    d = tmp_path / "nanos_sf"
    d.mkdir()
    ns = np.array(
        [1704067200_123456789, 1704067201_987654321, 1704067202_000000999],
        dtype="int64",
    )
    t = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([10, 20, 30], pa.int64()),
            "event_type": pa.array(["a", "b", "c"]),
            "value": pa.array([1.0, 2.0, 3.0]),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    pq.write_table(t, str(d / "events.parquet"), use_deprecated_int96_timestamps=False)

    df = load_table(spark, str(d), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = {r.event_id: r.us for r in df.select("event_id", F.unix_micros("ts").alias("us")).collect()}
    want = {i + 1: int(v) // 1000 for i, v in enumerate(ns)}  # truncation, not rounding
    assert got == want

    import duckdb

    con = duckdb.connect()
    oracle = {
        r[0]: r[1]
        for r in con.execute(
            f"SELECT event_id, epoch_us(ts) FROM '{d}/events.parquet'"
        ).fetchall()
    }
    assert got == oracle  # bit-identical epochs on both engines


def test_get_session_extra_conf_wins_on_a_running_session(spark):
    """`get_session` on a session that already runs (the driver builds its
    own first): the caller's `extra_conf` wins over ENGINE_CONF, and a
    session that carries the opposite values gets ENGINE_CONF's runtime
    confs back."""
    from real_time_big_data_iot_monitoring_pipeline_spark.session import ENGINE_CONF, get_session

    keys = (
        "spark.sql.adaptive.enabled",
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
    )
    flipped = {k: "false" if ENGINE_CONF[k] == "true" else "true" for k in keys}
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        s = get_session(extra_conf=flipped)
        assert s is spark
        assert {k: s.conf.get(k) for k in keys} == flipped
        s = get_session()
        assert {k: s.conf.get(k) for k in keys} == {k: ENGINE_CONF[k] for k in keys}
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
