"""Structured Streaming pipeline — the reference's own core
(``spark_streaming.py``), kept verbatim-idiomatic and improved where the
reference is weakest (sink idempotence).

Reference lifecycle (SURVEY §3 entry point 1): Kafka scan → CAST/from_json
→ (a) raw sink, (b) watermark → 5-min tumbling windowed agg → sink; both
via foreachBatch, append mode, shared checkpoint discipline.

Improvements over the reference:
  * exactly-once-effective sinks: `foreachBatch` writers here key on
    (sensor_id, window_start) and overwrite-by-partition, instead of the
    reference's blind JDBC append (``spark_streaming.py:55-59``) which
    duplicates rows on retry;
  * file-source replay for tests (no Kafka in the container) — the same
    DataFrame DAG runs over a directory of JSON/parquet, proving
    batch/stream equivalence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from real_time_big_data_iot_monitoring_pipeline_spark.functions.scalars import avg_fixed
from real_time_big_data_iot_monitoring_pipeline_spark.schemas import SENSOR_READING_SCHEMA


def kafka_source(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka streaming scan (reference ``spark_streaming.py:125-130``).
    Requires the spark-sql-kafka package on the cluster; not testable in
    this container (no broker) but the DAG below it is source-agnostic."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def file_source(spark: SparkSession, path: str, schema: T.StructType | None = None,
                fmt: str = "parquet", max_files_per_trigger: int = 4) -> DataFrame:
    """File-based streaming source for tests/replay: identical downstream
    DAG to the Kafka path. `maxFilesPerTrigger` forces multiple
    micro-batches so stateful operators actually exercise state."""
    reader = spark.readStream.format(fmt).option("maxFilesPerTrigger", max_files_per_trigger)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def stage_event_time_slices(
    df: DataFrame,
    path: str,
    ts_col: str = "timestamp",
    n_slices: int = 8,
) -> None:
    """Stage a FINITE frame as `n_slices` sequentially-written files whose
    event-time ranges are disjoint and ascending — so a file-source replay
    (oldest file first) arrives in event-time order like a real feed, and
    a watermarked append-mode aggregate downstream emits every sealed
    window instead of dropping most rows as late.

    A round-robin `repartition(n)` staging dir replays out of event-time
    order: the first micro-batch spans the full time range, the watermark
    jumps to ~max-10min, and nearly everything after it is dropped as
    "late" — correct streaming semantics, pathological replay
    (PERF.md, "Scale probe — streaming pipeline throughput", documents the
    measurement; round-3 advice flagged the demo for exactly this).

    One bounded driver collect (the 2-value min/max bounds row); each
    slice is one filtered pass over the cached input."""
    df = df.cache()
    lo, hi = df.agg(F.min(ts_col), F.max(ts_col)).collect()[0]
    span_s = (hi - lo).total_seconds() + 1
    slice_s = span_s / n_slices
    for i in range(n_slices):
        s_lo = int(i * slice_s)
        s_hi = int((i + 1) * slice_s) + (1 if i == n_slices - 1 else 0)
        (
            df.filter(
                (F.col(ts_col) >= F.lit(lo) + F.expr(f"interval {s_lo} seconds"))
                & (F.col(ts_col) < F.lit(lo) + F.expr(f"interval {s_hi} seconds"))
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(path)
        )
    df.unpersist()


def parse_kafka_json(raw: DataFrame, schema: T.StructType = SENSOR_READING_SCHEMA) -> DataFrame:
    """S4: CAST(value AS STRING) → from_json(strict schema) → flatten
    (reference ``spark_streaming.py:136-139``).  Malformed JSON becomes
    all-NULL rows (from_json semantics), exactly like the reference; use
    `parse_kafka_json_with_dead_letter` to split those out instead of
    carrying them downstream."""
    return (
        raw.selectExpr("CAST(value AS STRING) AS json_str")
        .select(F.from_json("json_str", schema).alias("data"))
        .select("data.*")
    )


def parse_kafka_json_with_dead_letter(
    raw: DataFrame, schema: T.StructType = SENSOR_READING_SCHEMA, ts_col: str = "timestamp"
) -> tuple[DataFrame, DataFrame]:
    """Parse with an explicit dead-letter side (an improvement over the
    reference, which lets NULL rows flow into the sink): returns
    (good, dead) where `dead` keeps the original payload string for
    replay/debugging.  Both sides derive from one parse — Catalyst
    collapses the shared subtree, so the split costs no second scan."""
    parsed = (
        raw.selectExpr("CAST(value AS STRING) AS json_str")
        .select("json_str", F.from_json("json_str", schema).alias("data"))
    )
    good = parsed.filter(F.col(f"data.{ts_col}").isNotNull()).select("data.*")
    dead = parsed.filter(F.col(f"data.{ts_col}").isNull()).select(
        F.col("json_str").alias("payload"), F.current_timestamp().alias("rejected_at")
    )
    return good, dead


def kafka_sink(df: DataFrame, brokers: str, topic: str, checkpoint_dir: str):
    """Kafka streaming sink: serialize all columns to a JSON value (the
    reference's wire format, ``mqtt_to_kafka.py:58-61``) and write
    streaming rows to a topic.  Gated on the spark-sql-kafka package like
    `kafka_source`."""
    wire = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
    return (
        wire.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def windowed_aggregate_stream(
    readings: DataFrame,
    ts_col: str = "timestamp",
    key_col: str = "sensor_id",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    metrics: tuple[str, ...] = ("temperature", "humidity", "pressure"),
) -> DataFrame:
    """A1+T1+T2: watermarked tumbling-window aggregation (reference
    ``spark_streaming.py:152-176``): avg per metric, min/max of the first
    metric, count; window struct flattened.  Works unchanged on a batch
    DataFrame if no watermark is applied upstream — the batch/stream
    equivalence tests rely on that."""
    df = readings
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    primary = metrics[0]
    # avg via the cents-exact path: incremental streaming state merges sum
    # in a different order than a batch scan, so a plain float avg differs
    # in the last ulp between the two — exact integer sums make the batch
    # and stream results literally identical (the equivalence tests assert
    # exact equality).
    aggs = [avg_fixed(F.col(m)).alias(f"avg_{m}") for m in metrics]
    aggs += [
        F.min(primary).alias(f"min_{primary}"),
        F.max(primary).alias(f"max_{primary}"),
        F.count(F.lit(1)).alias("reading_count"),
    ]
    return (
        df.groupBy(F.col(key_col), F.window(F.col(ts_col), window).alias("w"))
        .agg(*aggs)
        .select(
            key_col,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *[f"avg_{m}" for m in metrics],
            f"min_{primary}",
            f"max_{primary}",
            "reading_count",
        )
    )


def dedup_stream(readings: DataFrame, keys: list[str], ts_col: str = "timestamp",
                 watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup within the watermark horizon
    (`dropDuplicatesWithinWatermark`) — bounded state, the streaming twin
    of operators/dedup.exact."""
    return readings.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    upper: str = "30 minutes",
    watermark: str | None = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time interval condition:
    left rows match right rows of the same key with
    ``right_ts <= left_ts < right_ts + upper`` — the enrichment join
    (reading x latest calibration/config window) the reference performs
    dashboard-side on collected pandas frames.

    Both inputs are watermarked, and the join carries BOTH an equality
    key (state is hash-partitioned on it — the shuffle key at scale) and
    the time-range bound, which lets the state store evict rows once the
    watermark passes ``right_ts + upper``: bounded state, no unbounded
    buffering of either stream.  ``how='leftOuter'`` additionally emits
    null-padded left rows — but only once the watermark proves no match
    can still arrive, so unmatched rows in the final watermark window
    stay in state until later input advances it (the streaming-outer
    caveat the test pins down).  Works identically on batch frames (no
    watermark applied), which the equivalence tests exploit.

    ``watermark=None`` skips watermarking entirely — for INNER joins
    Spark then buffers both sides indefinitely, which trades bounded
    state for exact batch equivalence on replays whose file order is NOT
    event-time order (a time-ordered stream would drop nothing either
    way; an arbitrarily-ordered replay with a watermark can drop
    late-arriving matches).  Use it for finite replays / equivalence
    checks; production unbounded streams should keep a watermark.

    `left_ts` / `right_ts` must be distinct column names (the condition
    references both sides unambiguously)."""
    assert left_ts != right_ts, "use distinct timestamp column names for the two sides"
    assert watermark is not None or how == "inner", "outer modes require a watermark to flush"
    l, r = left.alias("l"), right.alias("r")
    if left.isStreaming and watermark is not None:
        l = left.withWatermark(left_ts, watermark).alias("l")
    if right.isStreaming and watermark is not None:
        r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"l.{left_ts}") >= F.col(f"r.{right_ts}"))
        & (F.col(f"l.{left_ts}") < F.col(f"r.{right_ts}") + F.expr(f"interval {upper}"))
    )
    out = l.join(r, cond, how)
    if how in ("fullOuter", "full_outer", "full"):
        # right-only rows have a null left key: surface ONE key column
        # coalesced from both sides instead of dropping the right one
        return (
            out.withColumn("__ij_key", F.coalesce(F.col(f"l.{key}"), F.col(f"r.{key}")))
            .drop(F.col(f"l.{key}"))
            .drop(F.col(f"r.{key}"))
            .withColumnRenamed("__ij_key", key)
        )
    if how in ("leftSemi", "left_semi", "semi", "leftAnti", "left_anti", "anti"):
        return out  # right columns do not survive semi/anti joins
    return out.drop(F.col(f"r.{key}"))


def parquet_upsert_writer(path: str, partition_col: str | list[str] = "window_start"):
    """foreachBatch writer with overwrite-by-partition semantics: replays
    of a micro-batch rewrite the same partitions instead of appending
    duplicates — exactly-once-effective where the reference is
    at-least-once (``spark_streaming.py:52-75``).  `partition_col` may be
    a list for a composite partition key (e.g. the update-mode upsert
    sink partitions by the full aggregate key so every upsert targets
    exactly one row's directory)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():  # T9 empty-batch skip (reference :67)
            return
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )

    return write


def parquet_append_writer(path: str):
    """foreachBatch writer for the RAW sink: plain per-batch append (the
    reference's raw-table semantics, ``spark_streaming.py:52-62``).  Use
    `parquet_upsert_writer` ONLY for sinks whose batches carry the
    COMPLETE updated state of the partitions they touch (windowed
    aggregates): pointing the upsert writer at raw event batches makes
    every batch overwrite the partitions the previous batches wrote.
    Append is at-least-once on micro-batch RETRY (checkpoint replay);
    downstream exact consumers should dedup on a row key — or use the
    date-partitioned upsert layout where batches align to partitions."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df.write.mode("append").parquet(path)

    return write


def jdbc_append_writer(url: str, table: str, properties: dict[str, str], batchsize: int = 10000):
    """JDBC sink writer mirroring the reference (``spark_streaming.py:52-62``)
    with explicit batch sizing; gated behind runtime availability of a
    JDBC driver (none ships in this container)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            batch_df.write.mode("append")
            .option("batchsize", str(batchsize))
            .jdbc(url, table, properties=properties)
        )

    return write


def start_dual_sink(
    parsed: DataFrame,
    raw_writer,
    agg_writer,
    checkpoint_dir: str,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
):
    """T5 dual-sink fan-out (reference ``spark_streaming.py:145-181``):
    one parsed stream feeds (a) the raw sink and (b) the windowed
    aggregate sink as two independently-checkpointed queries.  Returns
    both StreamingQuery handles; caller awaits termination."""
    raw_q = (
        parsed.writeStream.outputMode("append")
        .foreachBatch(raw_writer)
        .option("checkpointLocation", f"{checkpoint_dir}/raw")
        .start()
    )
    agg = windowed_aggregate_stream(parsed, window=window, watermark=watermark)
    agg_q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(agg_writer)
        .option("checkpointLocation", f"{checkpoint_dir}/agg")
        .start()
    )
    return raw_q, agg_q


def run_stream_to_memory(df: DataFrame, name: str, output_mode: str = "complete") -> None:
    """Run a streaming aggregation to a memory sink until all available
    input is consumed (test/driver harness path).  Complete mode emits
    every window regardless of watermark, so the result equals the batch
    twin — the basis of the batch/stream equivalence checks.  The memory
    sink collects all rows to the driver: test-harness only — production
    paths use `run_stream_to_parquet` / the foreachBatch writers."""
    q = df.writeStream.outputMode(output_mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()


def run_stream_to_parquet(
    df: DataFrame,
    path: str,
    output_mode: str = "complete",
    with_batch_id: bool = False,
    available_now: bool = False,
) -> list[tuple[int, int, int]]:
    """Run a streaming query to a PARQUET result dir until all available
    input is consumed.  In complete mode every micro-batch carries the
    full aggregate state, so overwriting per batch leaves the final state
    on disk; in append mode each micro-batch carries only newly-final
    rows, so batches accumulate.  Either way executors write the rows —
    nothing is collected to the driver (the scale-safe twin of
    `run_stream_to_memory`).  `with_batch_id` stamps each row with the
    micro-batch id that emitted it — the provenance column the late-data
    audit needs to tell a window's first (sealed) emission from re-opened
    late emissions.

    Returns the engine's own per-batch event-time telemetry: one
    `(batch_id, watermark_ms, rows_dropped)` tuple per micro-batch,
    where `watermark_ms` is the watermark IN EFFECT during that batch
    (epoch ms) and `rows_dropped` is the state operator's
    `numRowsDroppedByWatermark`, both as reported by
    `StreamingQueryProgress` — bounded driver data (one tuple per
    batch), used by the late-data audit to cross-check its analytic
    drop accounting against what the engine says it did."""
    from datetime import datetime

    # complete mode re-emits full state per batch -> overwrite leaves the
    # final state; append AND update emit incremental rows -> accumulate
    # (update-mode output is a changelog: latest row per key wins, see
    # stream_update_upsert's compaction read).
    batch_mode = "overwrite" if output_mode == "complete" else "append"

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if with_batch_id:
            batch_df = batch_df.withColumn("_batch_id", F.lit(batch_id).cast("long"))
        batch_df.write.mode(batch_mode).parquet(path)

    writer = df.writeStream.outputMode(output_mode).foreachBatch(write)
    if available_now:
        # AvailableNow: process everything currently available in
        # rate-limited batches, then terminate on its own — the
        # "run the stream as a scheduled job" trigger.
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.start()
        q.processAllAvailable()
        q.stop()
    telemetry: list[tuple[int, int, int]] = []
    for p in q.recentProgress:
        wm = (p.get("eventTime") or {}).get("watermark")
        if wm is None:
            continue
        ms = int(datetime.fromisoformat(wm.replace("Z", "+00:00")).timestamp() * 1000)
        ops = p.get("stateOperators") or []
        dropped = sum(int(o.get("numRowsDroppedByWatermark", 0)) for o in ops)
        telemetry.append((int(p["batchId"]), ms, dropped))
    return telemetry


def stage_late_slices(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    id_col: str = "event_id",
    n_slices: int = 8,
    delay_mod: int = 17,
    delay_slices: int = 2,
) -> None:
    """Stage a FINITE frame as `n_slices` event-time-ordered files in
    which a deterministic subset of rows (id % `delay_mod` == 0) is
    shifted `delay_slices` files later than its event time — a replay
    feed with KNOWN stragglers, for exercising watermark semantics
    end-to-end (the late-data audit).

    Every arithmetic step is exact int64 (`unix_micros`, `div`) so a SQL
    oracle can reproduce the slice assignment bit-for-bit:
    ``s0 = least((us - lo) * n div span, n-1)``,
    ``s_eff = least(s0 + (id % mod == 0 ? d : 0), n-1)``.
    One bounded driver collect (the min/max bounds row); files are
    written sequentially so the file source replays them in order."""
    df = df.cache()
    lo, hi = df.agg(F.min(F.unix_micros(ts_col)), F.max(F.unix_micros(ts_col))).collect()[0]
    span = hi - lo + 1
    staged = (
        df.withColumn("_us", F.unix_micros(ts_col))
        .withColumn(
            "_s0",
            F.least(F.expr(f"((_us - {lo}) * {n_slices}) div {span}"), F.lit(n_slices - 1)),
        )
        .withColumn(
            "_s_eff",
            F.least(
                F.col("_s0")
                + F.when(F.col(id_col) % delay_mod == 0, delay_slices).otherwise(0),
                F.lit(n_slices - 1),
            ),
        )
    )
    for i in range(n_slices):
        (
            staged.filter(F.col("_s_eff") == i)
            .drop("_us", "_s0", "_s_eff")
            .coalesce(1)
            .write.mode("append")
            .parquet(path)
        )
    df.unpersist()
