"""Catalog queries for the `rtbd_sensors` Python DataSource connector
(`sources/pydatasource.py`) — the S-family (SURVEY §2.1) upgraded from
"gated external infrastructure" to an executable, value-hash-checked
custom source: batch scan with range partitions, source-side filter
pushdown, and a streaming read with real offset management.

The feed is a deterministic integer formula, so every query's DuckDB
oracle regenerates the identical rows with generate_series — the
connector (partition planning, pushdown bookkeeping, offset stepping)
is under the same correctness gate as every operator.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_big_data_iot_monitoring_pipeline_spark.functions.scalars import round_det
from real_time_big_data_iot_monitoring_pipeline_spark.plans.registry import register
from real_time_big_data_iot_monitoring_pipeline_spark.sources import pydatasource

_N_ROWS, _N_SENSORS = 20_000, 50

# the feed formula, verbatim in SQL (constants from sources/pydatasource.py)
_FEED_SQL = f"""
        SELECT i AS reading_id,
               CAST(i % {_N_SENSORS} AS INT) AS sensor_id,
               {pydatasource.BASE_US} + i * {pydatasource.INTERVAL_US} AS ts_us,
               CAST((i * {pydatasource.KNUTH}) % 4294967296 % {pydatasource.TEMP_MOD}
                    + {pydatasource.TEMP_OFF} AS INT) AS temp_centi
        FROM (SELECT unnest(generate_series(0, {_N_ROWS - 1})) AS i)
"""


def _read(spark: SparkSession) -> DataFrame:
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    pydatasource.register(spark)
    return (
        spark.read.format("rtbd_sensors")
        .option("n_rows", _N_ROWS)
        .option("n_sensors", _N_SENSORS)
        .option("n_partitions", 8)
        .load()
    )


_SUMMARY_SQL = f"""
    WITH feed AS ({_FEED_SQL})
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           ROUND(sum(temp_centi) / (100.0 * count(*)) + 1e-8, 4) AS avg_temp,
           CAST(min(ts_us) AS BIGINT) AS first_us,
           CAST(max(ts_us) AS BIGINT) AS last_us
    FROM feed GROUP BY sensor_id
"""


@register(
    "pyds_sensor_fleet_summary",
    oracle=_SUMMARY_SQL,
    tags=("connector", "python-datasource", "batch-scan"),
)
def pyds_sensor_fleet_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full fleet scan THROUGH the custom connector: 8 range
    `InputPartition`s generate the feed in parallel, and the per-sensor
    rollup must match the oracle's regeneration of the same formula —
    a wrong partition boundary (gap or overlap) or a dropped row breaks
    counts and extrema.  This is the reference's `SELECT ... GROUP BY
    sensor` dashboard scan served by an in-engine source instead of a
    broker."""
    return _read(spark).groupBy("sensor_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_readings"),
        round_det(F.sum("temp_centi") / (100.0 * F.count(F.lit(1))), 4).alias("avg_temp"),
        F.min("ts_us").alias("first_us"),
        F.max("ts_us").alias("last_us"),
    )


@register(
    "pyds_pushdown_single_sensor",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           ROUND(sum(temp_centi) / (100.0 * count(*)) + 1e-8, 4) AS avg_temp
    FROM feed WHERE sensor_id = 7 GROUP BY sensor_id
    """,
    tags=("connector", "python-datasource", "filter-pushdown"),
)
def pyds_pushdown_single_sensor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-side FILTER PUSHDOWN through the Python DataSource API:
    the `sensor_id = 7` predicate is consumed by
    `SensorBatchReader.pushFilters` and applied DURING generation (the
    generator strides directly over that sensor's indices), so the scan
    materializes 1/50th of the feed — the Python-source analogue of
    parquet PushedFilters.  The unit suite pins the reader-level
    behavior (filter consumed, stride generation); this query pins the
    end-to-end values."""
    return (
        _read(spark)
        .filter(F.col("sensor_id") == 7)
        .groupBy("sensor_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_readings"),
            round_det(F.sum("temp_centi") / (100.0 * F.count(F.lit(1))), 4).alias("avg_temp"),
        )
    )


@register(
    "pyds_stream_counts",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           CAST(sum(temp_centi) AS BIGINT) AS temp_centi_total
    FROM feed GROUP BY sensor_id
    """,
    tags=("connector", "python-datasource", "streaming", "offsets", "equivalence"),
)
def pyds_stream_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom source's STREAMING reader under the oracle: offsets
    advance the row cursor in 4k steps and cap at the feed size, each
    micro-batch splits into two partitions, and the complete-mode
    aggregate after `processAllAvailable` must equal the batch formula —
    exactly-once across the connector's own offset bookkeeping (a
    skipped or replayed offset range breaks the integer totals).  The
    result is cached per (session, sf-independent feed) like the other
    streaming replays."""
    import tempfile

    from real_time_big_data_iot_monitoring_pipeline_spark.streaming import pipeline

    key = "_pyds_stream_result"
    cache = getattr(pyds_stream_counts, key, None)
    if cache is None or not os.path.exists(cache):
        cache = os.path.join(tempfile.mkdtemp(prefix="rtbd_pyds_"), "result")
        pydatasource.register(spark)
        stream = (
            spark.readStream.format("rtbd_sensors")
            .option("n_rows", _N_ROWS)
            .option("n_sensors", _N_SENSORS)
            .option("rows_per_batch", 4_000)
            .load()
        )
        agg = stream.groupBy("sensor_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_readings"),
            F.sum("temp_centi").cast("long").alias("temp_centi_total"),
        )
        pipeline.run_stream_to_parquet(agg, cache, output_mode="complete")
        setattr(pyds_stream_counts, key, cache)
    return spark.read.parquet(cache)


@register(
    "pyds_sink_roundtrip",
    oracle=_SUMMARY_SQL,
    tags=("connector", "python-datasource", "sink", "two-phase-commit"),
)
def pyds_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE half of the connector under the oracle: the feed goes
    out through `rtbd_manifest_sink` — a two-phase-commit custom sink
    (executors write underscore-hidden part files + per-task
    `WriterCommitMessage`s; the driver's commit renames them visible
    and atomically publishes a manifest; abort deletes orphans) — and
    comes back via the manifest reader.  The per-sensor rollup over the
    ROUNDTRIPPED rows must equal the feed formula: a lost task, double
    commit, or manifest/rename slip changes counts or totals.  This is
    the transactional-sink contract (S5/S6) the gated JDBC writer
    needs, executed end-to-end in-engine."""
    import tempfile

    key = "_pyds_sink_dir"
    path = getattr(pyds_sink_roundtrip, key, None)
    if path is None or not os.path.exists(os.path.join(path, "manifest.json")):
        path = os.path.join(tempfile.mkdtemp(prefix="rtbd_pyds_sink_"), "out")
        pydatasource.register_sink(spark)
        _read(spark).write.format("rtbd_manifest_sink").option("path", path).mode(
            "append"
        ).save()
        setattr(pyds_sink_roundtrip, key, path)
    back, _manifest = pydatasource.read_manifest(spark, path)
    return back.groupBy("sensor_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_readings"),
        round_det(F.sum("temp_centi") / (100.0 * F.count(F.lit(1))), 4).alias("avg_temp"),
        F.min("ts_us").alias("first_us"),
        F.max("ts_us").alias("last_us"),
    )


@register(
    "pyds_sink_time_travel",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(temp_centi) AS BIGINT) AS temp_centi_total
    FROM feed WHERE reading_id < {_N_ROWS // 2}
    UNION ALL
    SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(temp_centi) AS BIGINT) FROM feed
    """,
    tags=("connector", "python-datasource", "sink", "time-travel", "snapshot-isolation"),
)
def pyds_sink_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT TIME TRAVEL on the manifest sink: two append commits
    (first half of the feed, then the rest) produce immutable
    `_manifest-v1/-v2` snapshots, and reading `version=1` AFTER the
    second commit must return exactly the first commit's table — the
    Iceberg/Delta `VERSION AS OF` contract from nothing but cumulative
    manifests and atomic renames.  A reader pinned to v1 is isolated
    from v2's files entirely (snapshot isolation), and the HEAD
    manifest equals the latest version.  The oracle computes both
    snapshots analytically from the feed formula; a file leaking
    across versions breaks the totals."""
    import tempfile

    key = "_pyds_tt_dir"
    path = getattr(pyds_sink_time_travel, key, None)
    if path is None or not os.path.exists(os.path.join(path, "_manifest-v2.json")):
        path = os.path.join(tempfile.mkdtemp(prefix="rtbd_pyds_tt_"), "out")
        pydatasource.register_sink(spark)
        feed = _read(spark)
        half = _N_ROWS // 2
        feed.filter(F.col("reading_id") < half).write.format("rtbd_manifest_sink").option(
            "path", path
        ).mode("append").save()
        feed.filter(F.col("reading_id") >= half).write.format("rtbd_manifest_sink").option(
            "path", path
        ).mode("append").save()
        setattr(pyds_sink_time_travel, key, path)

    def snap(version: int) -> DataFrame:
        df, _m = pydatasource.read_manifest(spark, path, version=version)
        return df.agg(
            F.lit(version).cast("int").alias("version"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("temp_centi").cast("long").alias("temp_centi_total"),
        )

    return snap(1).unionByName(snap(2))


@register(
    "pyds_stream_sink_roundtrip",
    oracle=_SUMMARY_SQL,
    tags=("connector", "python-datasource", "streaming-sink", "exactly-once", "epoch-commit"),
)
def pyds_stream_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM SOURCE -> CUSTOM SINK, fully streaming: the `rtbd_sensors`
    streaming reader feeds the `rtbd_manifest_sink` STREAMING writer
    (`DataSourceStreamWriter`, new round 6 — completing the connector
    matrix: batch read + pushdown, stream read + offsets, batch write +
    2PC, now stream write + per-epoch commit).  Each 4k-row micro-batch
    commits one manifest version recording its batch id — the
    exactly-once epoch discipline (idempotent on batchId: a replayed
    epoch is detected in the manifest and dropped; unit-pinned in
    tests/test_round6.py) — and the per-sensor rollup over the
    roundtripped table must equal the feed formula: a lost epoch,
    doubled epoch, or rename slip breaks counts and totals.  This is
    the streaming-sink contract (S5/T6/T7) the gated JDBC writer needs,
    executed end-to-end in-engine."""
    import tempfile

    key = "_pyds_stream_sink_dir"
    path = getattr(pyds_stream_sink_roundtrip, key, None)
    if path is None or not os.path.exists(os.path.join(path, "manifest.json")):
        base = tempfile.mkdtemp(prefix="rtbd_pyds_ssink_")
        path = os.path.join(base, "out")
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        pydatasource.register(spark)
        pydatasource.register_sink(spark)
        stream = (
            spark.readStream.format("rtbd_sensors")
            .option("n_rows", _N_ROWS)
            .option("n_sensors", _N_SENSORS)
            .option("rows_per_batch", 4_000)
            .load()
        )
        q = (
            stream.writeStream.format("rtbd_manifest_sink")
            .option("path", path)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
        setattr(pyds_stream_sink_roundtrip, key, path)
    back, _manifest = pydatasource.read_manifest(spark, path)
    return back.groupBy("sensor_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_readings"),
        round_det(F.sum("temp_centi") / (100.0 * F.count(F.lit(1))), 4).alias("avg_temp"),
        F.min("ts_us").alias("first_us"),
        F.max("ts_us").alias("last_us"),
    )


@register(
    "pyds_sink_compaction",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           CAST(sum(temp_centi) AS BIGINT) AS temp_centi_total,
           12 AS n_files_before, 2 AS n_files_after,
           4 AS head_version, 20000 AS precompact_rows,
           CAST((SELECT sum(temp_centi) FROM feed) AS BIGINT) AS precompact_temp_total
    FROM feed GROUP BY sensor_id
    """,
    tags=("connector", "python-datasource", "sink", "compaction", "optimize"),
)
def pyds_sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACTION (the lakehouse `OPTIMIZE` verb) on the manifest sink:
    three small appends (each 4 tasks) leave the table as 12 small part
    files — the small-file problem every streaming ingest accumulates —
    and the compaction pass rewrites the CURRENT snapshot into 2 files
    as one overwrite commit.  The contract under test: (a) the
    compacted table is byte-identical in content (per-sensor rollup
    equals the feed formula), (b) the head manifest's file list really
    shrank 12 -> 2 while version numbering CONTINUED (v4 — overwrite
    never clobbers history), and (c) the PRE-compaction snapshot v3 is
    still readable with identical totals (time travel across a
    compaction, the property that makes compaction safe to run
    concurrently with readers: no reader of v3 ever observes the
    rewrite).  File counts and snapshot rows come from the manifests
    (driver-side metadata, no data collect); v3's temperature total is
    re-aggregated from its files and broadcast onto the result.  Scale:
    compaction is one repartition of the live snapshot — on a real
    table, per-partition and incremental (pick small files, leave big
    ones), with exactly this manifest-swap commit."""
    import tempfile

    key = "_pyds_compact_dir"
    path = getattr(pyds_sink_compaction, key, None)
    if path is None or not os.path.exists(os.path.join(path, "_manifest-v4.json")):
        path = os.path.join(tempfile.mkdtemp(prefix="rtbd_pyds_opt_"), "out")
        pydatasource.register_sink(spark)
        feed = _read(spark)
        for third in range(3):
            feed.filter(F.col("reading_id") % 3 == third).repartition(4).write.format(
                "rtbd_manifest_sink"
            ).option("path", path).mode("append").save()
        live, _m = pydatasource.read_manifest(spark, path)
        live.repartition(2).write.format("rtbd_manifest_sink").option("path", path).mode(
            "overwrite"
        ).save()
        setattr(pyds_sink_compaction, key, path)

    _pre_df, pre_m = pydatasource.read_manifest(spark, path, version=3)
    back, head_m = pydatasource.read_manifest(spark, path)
    v3_df, _ = pydatasource.read_manifest(spark, path, version=3)
    v3_total = v3_df.agg(F.sum("temp_centi").cast("long").alias("precompact_temp_total"))
    return (
        back.groupBy("sensor_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_readings"),
            F.sum("temp_centi").cast("long").alias("temp_centi_total"),
        )
        .withColumn("n_files_before", F.lit(len(pre_m["files"])).cast("int"))
        .withColumn("n_files_after", F.lit(len(head_m["files"])).cast("int"))
        .withColumn("head_version", F.lit(head_m["version"]).cast("int"))
        .withColumn("precompact_rows", F.lit(pre_m["n_rows"]).cast("int"))
        .crossJoin(F.broadcast(v3_total))
    )


@register(
    "pyds_sink_stats_pruning",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           CAST(sum(temp_centi) AS BIGINT) AS temp_centi_total,
           1 AS n_files_scanned, 8 AS n_files_total
    FROM feed WHERE reading_id BETWEEN 5000 AND 7499
    GROUP BY sensor_id
    """,
    tags=("connector", "python-datasource", "sink", "file-skipping", "zone-map"),
)
def pyds_sink_stats_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE SKIPPING from manifest-recorded footer stats — the zone-map
    layer that makes the manifest sink a real table format: each commit
    now records every part file's per-column [min, max] (read from the
    parquet FOOTERS at commit time, metadata-only), and
    `read_manifest_pruned` hands the scan ONLY the files whose range
    can overlap the predicate.  The feed lands as 8 explicit
    reading_id-range files; the query wants readings [5000, 7499] —
    exactly one file — and the result must (a) equal the formula over
    that slice and (b) report 1-of-8 files scanned.  Pruning is a
    superset guarantee (files without stats stay scanned; the predicate
    still runs in the plan), so a stats bug can only show up as a
    WRONG file count or wrong totals — both hashed here.  At 100 TB
    this is the difference between a narrow time-range query touching
    ~range/table_span of the files and touching all of them; it
    composes with snapshot versions (stats travel with each manifest).
    Reference anchor: the reference's range-scan dashboard queries
    (ref:app.py SQL WHERE ts >= ...) are exactly the shape this
    prunes for."""
    import tempfile

    key = "_pyds_prune_dir"
    path = getattr(pyds_sink_stats_pruning, key, None)
    if path is None or not os.path.exists(os.path.join(path, "manifest.json")):
        path = os.path.join(tempfile.mkdtemp(prefix="rtbd_pyds_prune_"), "out")
        pydatasource.register_sink(spark)
        feed = _read(spark)
        for chunk in range(8):
            lo, hi = chunk * 2500, (chunk + 1) * 2500
            feed.filter(
                (F.col("reading_id") >= lo) & (F.col("reading_id") < hi)
            ).repartition(1).write.format("rtbd_manifest_sink").option("path", path).mode(
                "append"
            ).save()
        setattr(pyds_sink_stats_pruning, key, path)

    pruned, n_scanned, n_total = pydatasource.read_manifest_pruned(
        spark, path, "reading_id", 5000, 7499
    )
    return (
        pruned.filter(F.col("reading_id").between(5000, 7499))
        .groupBy("sensor_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_readings"),
            F.sum("temp_centi").cast("long").alias("temp_centi_total"),
        )
        .withColumn("n_files_scanned", F.lit(n_scanned).cast("int"))
        .withColumn("n_files_total", F.lit(n_total).cast("int"))
    )


@register(
    "pyds_sink_write_audit_publish",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           CAST(sum(temp_centi) AS BIGINT) AS temp_centi_total,
           2 AS head_version, 6 AS n_files,
           2 AS n_discarded_files
    FROM feed GROUP BY sensor_id
    """,
    tags=("connector", "python-datasource", "sink", "write-audit-publish", "staging"),
)
def pyds_sink_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH on the manifest sink — the Iceberg-style
    gated-ingest workflow: a candidate commit lands as a STAGED snapshot
    (`staged=true` writes `_staged-manifest.json`, never the head
    pointer), an audit query runs against the staged table, and only a
    passing audit atomically promotes it; a failing audit discards the
    stage and exactly its own part files.  The replayed scenario: (1)
    first half of the feed commits normally (v1); (2) a CORRUPTED
    second half (temps shifted out of the sensor's [1000, 5000) domain)
    is staged — the domain audit reads the staged snapshot, fails, and
    `discard_staged` removes the 2 staged part files while v1 stays
    untouched; (3) the clean second half stages, audits green, and
    `publish_staged` promotes it to v2.  The hashed result is the
    per-sensor rollup over the HEAD after all three steps plus the
    version/file accounting — if one corrupted row ever reached a
    published manifest, the totals break; if the discard missed or
    over-deleted, the file count breaks.  This is the missing
    quality-gate verb between the sink's 2PC (atomic single commit) and
    time travel (immutable history): at 100 TB every backfill runs
    exactly this stage -> audit -> swap, with validation reading real
    table bytes, not a side copy.  Version-conflict refusal on publish
    is unit-pinned in tests/test_round6.py."""
    import tempfile

    key = "_pyds_wap_dir"
    path = getattr(pyds_sink_write_audit_publish, key, None)
    if path is None or not os.path.exists(os.path.join(path, "_manifest-v2.json")):
        path = os.path.join(tempfile.mkdtemp(prefix="rtbd_pyds_wap_"), "out")
        pydatasource.register_sink(spark)
        feed = _read(spark)
        half = _N_ROWS // 2
        feed.filter(F.col("reading_id") < half).repartition(4).write.format(
            "rtbd_manifest_sink"
        ).option("path", path).mode("append").save()

        def stage(df):
            df.repartition(2).write.format("rtbd_manifest_sink").option("path", path).option(
                "staged", "true"
            ).mode("append").save()

        def domain_audit() -> bool:
            staged_df, _m = pydatasource.read_staged(spark, path)
            bad = staged_df.filter(
                (F.col("temp_centi") < 1000) | (F.col("temp_centi") >= 5000)
            ).count()  # bounded: 1 scalar
            return bad == 0

        second = feed.filter(F.col("reading_id") >= half)
        corrupted = second.withColumn(
            "temp_centi",
            F.when(F.col("reading_id") % 97 == 0, F.col("temp_centi") + 100_000).otherwise(
                F.col("temp_centi")
            ),
        )
        stage(corrupted)
        assert not domain_audit(), "corrupted stage must fail the audit"
        n_discarded = pydatasource.discard_staged(path)
        stage(second)
        assert domain_audit(), "clean stage must pass the audit"
        pydatasource.publish_staged(path)
        setattr(pyds_sink_write_audit_publish, key, path)
        setattr(pyds_sink_write_audit_publish, key + "_discarded", n_discarded)

    n_discarded = getattr(pyds_sink_write_audit_publish, key + "_discarded", 2)
    back, head_m = pydatasource.read_manifest(spark, path)
    return (
        back.groupBy("sensor_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_readings"),
            F.sum("temp_centi").cast("long").alias("temp_centi_total"),
        )
        .withColumn("head_version", F.lit(head_m["version"]).cast("int"))
        .withColumn("n_files", F.lit(len(head_m["files"])).cast("int"))
        .withColumn("n_discarded_files", F.lit(n_discarded).cast("int"))
    )


@register(
    "pyds_sink_change_feed",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT 2 AS commit_version, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(temp_centi) AS BIGINT) AS temp_centi_total,
           3 AS n_commits, 1 AS n_rewrites_skipped
    FROM feed WHERE reading_id % 4 = 1
    UNION ALL
    SELECT 4, CAST(count(*) AS BIGINT), CAST(sum(temp_centi) AS BIGINT), 3, 1
    FROM feed WHERE reading_id % 4 = 2
    """,
    tags=("connector", "python-datasource", "sink", "change-feed", "incremental"),
)
def pyds_sink_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE FEED over the manifest sink — the incremental-consumer
    verb (Delta CDF / `readChangeFeed`) that turns the table format
    into a tail-able source: a consumer checkpointed at version 1 asks
    for "everything since", and must receive exactly the rows LATER
    append commits introduced, tagged by commit, while a compaction in
    between contributes NOTHING.  The scenario: v1 appends the
    reading_id%4==0 quarter of the feed (the consumer's checkpoint),
    v2 appends the %4==1 quarter, v3 REWRITES the live snapshot into 2
    files (overwrite compaction — same logical rows, all-new file
    names), v4 appends the %4==2 quarter.  `read_change_feed(since=1)`
    walks the versioned manifests, takes each append's file-list delta
    against its parent, and skips the overwrite via the manifest-level
    `op` (dataChange=false): the hashed result is the per-commit rollup
    {{v2: %4==1 totals, v4: %4==2 totals}} plus the audit counts (3
    commits scanned, 1 rewrite skipped).  A feed that read the
    compaction's files would double-count v1+v2's rows into a phantom
    v3 group; one that diffed against the wrong parent would leak v1
    rows — both break the hash.  At 100 TB this is how downstream
    materializations stay incremental: per-commit file deltas are
    manifest metadata (driver JSON), and only delta files are ever
    scanned.  Composes with `incremental_join_delta` (the consumer
    side) and `pyds_sink_compaction` (the rewrite this must ignore).
    Reference anchor: the reference's dashboard re-polls the whole
    table every 5 s (ref:streamlit_dashboard.py:402-405); a change
    feed is the scale-correct replacement."""
    import tempfile

    key = "_pyds_cdf_dir"
    path = getattr(pyds_sink_change_feed, key, None)
    if path is None or not os.path.exists(os.path.join(path, "_manifest-v4.json")):
        path = os.path.join(tempfile.mkdtemp(prefix="rtbd_pyds_cdf_"), "out")
        pydatasource.register_sink(spark)
        feed = _read(spark)
        for quarter in (0, 1):  # v1, v2: plain appends
            feed.filter(F.col("reading_id") % 4 == quarter).repartition(2).write.format(
                "rtbd_manifest_sink"
            ).option("path", path).mode("append").save()
        live, _m = pydatasource.read_manifest(spark, path)
        live.repartition(2).write.format("rtbd_manifest_sink").option("path", path).mode(
            "overwrite"
        ).save()  # v3: compaction — all-new files, zero new rows
        feed.filter(F.col("reading_id") % 4 == 2).repartition(2).write.format(
            "rtbd_manifest_sink"
        ).option("path", path).mode("append").save()  # v4
        setattr(pyds_sink_change_feed, key, path)

    cdf, commits = pydatasource.read_change_feed(spark, path, since_version=1)
    n_rewrites = sum(1 for c in commits if c["op"] == "overwrite")
    return (
        cdf.groupBy(F.col("_commit_version").alias("commit_version"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("temp_centi").cast("long").alias("temp_centi_total"),
        )
        .withColumn("n_commits", F.lit(len(commits)).cast("int"))
        .withColumn("n_rewrites_skipped", F.lit(n_rewrites).cast("int"))
    )


@register(
    "pyds_sink_delete_where",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           CAST(sum(temp_centi) AS BIGINT) AS temp_centi_total,
           6000 AS n_deleted, 3 AS n_files_rewritten, 5 AS n_files_untouched,
           9 AS head_version, 20000 AS predelete_rows
    FROM feed WHERE reading_id NOT BETWEEN 6000 AND 11999
    GROUP BY sensor_id
    """,
    tags=("connector", "python-datasource", "sink", "delete", "copy-on-write"),
)
def pyds_sink_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-LEVEL DELETE (copy-on-write) on the manifest table — the
    lakehouse `DELETE WHERE` verb that completes the sink's DML story
    (append -> 2PC, overwrite -> compaction, upsert -> MERGE twin,
    now targeted deletion): the feed lands as 8 reading_id-range files,
    and `delete_where(reading_id BETWEEN 6000 AND 11999)` must (a)
    prune via manifest footer stats so only the 3 overlapping files are
    read and rewritten (5 files untouched — at 100 TB a narrow delete
    costs bytes proportional to the range, the GDPR-erasure /
    retention-expiry workload), (b) publish survivors + untouched as
    the next version (v9 after 8 appends — numbering continues), and
    (c) leave the pre-delete snapshot readable (time travel across a
    delete; row count pinned via the v8 manifest).  A file fully inside
    the range contributes zero survivor files (empty rewrites are never
    listed).  The hashed result is the per-sensor rollup over the
    post-delete head — a row deleted too many/few breaks counts and
    totals — plus the audit counts.  The delete commit's op is
    `delete`, not `append`, so the change feed never re-emits survivor
    rewrites (unit-pinned with the CDF inference tests).  Reference
    anchor: the reference's retention story is dropping whole Postgres
    tables (ref:init.sql); this is the file-skipping equivalent a
    100 TB table needs."""
    import tempfile

    key = "_pyds_del_dir"
    path = getattr(pyds_sink_delete_where, key, None)
    if path is None or not os.path.exists(os.path.join(path, "_manifest-v9.json")):
        path = os.path.join(tempfile.mkdtemp(prefix="rtbd_pyds_del_"), "out")
        pydatasource.register_sink(spark)
        feed = _read(spark)
        for chunk in range(8):
            lo, hi = chunk * 2500, (chunk + 1) * 2500
            feed.filter(
                (F.col("reading_id") >= lo) & (F.col("reading_id") < hi)
            ).repartition(1).write.format("rtbd_manifest_sink").option("path", path).mode(
                "append"
            ).save()
        audit = pydatasource.delete_where(spark, path, "reading_id", 6000, 11999)
        setattr(pyds_sink_delete_where, key, path)
        setattr(pyds_sink_delete_where, key + "_audit", audit)
    audit = getattr(pyds_sink_delete_where, key + "_audit")
    _pre_df, pre_m = pydatasource.read_manifest(spark, path, version=8)
    back, _head = pydatasource.read_manifest(spark, path)
    return (
        back.groupBy("sensor_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_readings"),
            F.sum("temp_centi").cast("long").alias("temp_centi_total"),
        )
        .withColumn("n_deleted", F.lit(audit["n_deleted"]).cast("int"))
        .withColumn("n_files_rewritten", F.lit(audit["n_files_rewritten"]).cast("int"))
        .withColumn("n_files_untouched", F.lit(audit["n_files_untouched"]).cast("int"))
        .withColumn("head_version", F.lit(audit["version"]).cast("int"))
        .withColumn("predelete_rows", F.lit(pre_m["n_rows"]).cast("int"))
    )


@register(
    "pyds_sink_vacuum",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           CAST(sum(temp_centi) AS BIGINT) AS temp_centi_total,
           6 AS n_files_removed, 3 AS n_manifests_removed,
           5 AS head_version, 4 AS horizon_version,
           15000 AS v4_rows, FALSE AS v3_readable
    FROM feed GROUP BY sensor_id
    """,
    tags=("connector", "python-datasource", "sink", "vacuum", "retention"),
)
def pyds_sink_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM (snapshot expiry) on the manifest table — the retention
    verb that closes the table-format lifecycle (2PC append -> compaction
    -> DELETE -> time travel -> now physical cleanup): copy-on-write
    keeps every rewrite's predecessors alive for old readers, so a
    churning table's storage grows with write volume until vacuum
    removes files unreachable from the newest K snapshots and expires
    their manifests (Iceberg `expire_snapshots` / Delta VACUUM).  The
    scenario: three appends land the first 15k readings as 6 part files
    (v1-v3), compaction rewrites them into 2 (v4), a final append adds
    the rest (v5); `vacuum(keep_versions=2)` must remove EXACTLY the 6
    pre-compaction files and the v1-v3 manifests — the live set is the
    UNION of v4+v5's lists, so a v4 file still listed by the head is
    untouched — while (a) the head rollup still equals the full feed
    formula, (b) v4 stays byte-identical readable (15k rows), and (c) a
    read pinned to the expired v3 now fails loudly (asserted, surfaced
    as the hashed v3_readable=false).  An over-eager vacuum breaks (a)
    or (b); an under-eager one breaks the removal counts.  Driver work
    is a metadata walk (listing + set difference) — no data read, the
    cost profile a 100 TB maintenance job needs.  Composes with
    `pyds_sink_compaction` (what creates the garbage) and
    `pyds_sink_delete_where` (CoW deletes feed it too)."""
    import tempfile

    key = "_pyds_vac_dir"
    path = getattr(pyds_sink_vacuum, key, None)
    if path is None or not os.path.exists(os.path.join(path, "_manifest-v5.json")):
        path = os.path.join(tempfile.mkdtemp(prefix="rtbd_pyds_vac_"), "out")
        pydatasource.register_sink(spark)
        feed = _read(spark)
        for third in range(3):  # v1-v3: first 15k readings, 2 files each
            feed.filter(
                (F.col("reading_id") < 15_000) & (F.col("reading_id") % 3 == third)
            ).repartition(2).write.format("rtbd_manifest_sink").option("path", path).mode(
                "append"
            ).save()
        live, _m = pydatasource.read_manifest(spark, path)
        live.repartition(2).write.format("rtbd_manifest_sink").option("path", path).mode(
            "overwrite"
        ).save()  # v4: compaction
        feed.filter(F.col("reading_id") >= 15_000).repartition(2).write.format(
            "rtbd_manifest_sink"
        ).option("path", path).mode("append").save()  # v5
        audit = pydatasource.vacuum(path, keep_versions=2, retention_seconds=0.0)
        setattr(pyds_sink_vacuum, key, path)
        setattr(pyds_sink_vacuum, key + "_audit", audit)
    audit = getattr(pyds_sink_vacuum, key + "_audit")
    v4_df, v4_m = pydatasource.read_manifest(spark, path, version=4)
    try:
        pydatasource.read_manifest(spark, path, version=3)
        v3_readable = True
    except FileNotFoundError:
        v3_readable = False
    back, _head = pydatasource.read_manifest(spark, path)
    return (
        back.groupBy("sensor_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_readings"),
            F.sum("temp_centi").cast("long").alias("temp_centi_total"),
        )
        .withColumn("n_files_removed", F.lit(audit["n_files_removed"]).cast("int"))
        .withColumn("n_manifests_removed", F.lit(audit["n_manifests_removed"]).cast("int"))
        .withColumn("head_version", F.lit(audit["head_version"]).cast("int"))
        .withColumn("horizon_version", F.lit(audit["horizon_version"]).cast("int"))
        .withColumn("v4_rows", F.lit(v4_m["n_rows"]).cast("int"))
        .withColumn("v3_readable", F.lit(v3_readable))
    )


@register(
    "pyds_manifest_stream_tail",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           CAST(sum(temp_centi) AS BIGINT) AS temp_centi_total
    FROM feed GROUP BY sensor_id
    """,
    tags=("connector", "python-datasource", "streaming-source", "change-feed", "table-as-stream"),
)
def pyds_manifest_stream_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE TABLE AS A STREAM: `rtbd_manifest_table` makes the manifest
    sink dual-natured the way Delta/Iceberg tables are — a batch
    snapshot AND a streaming source of its own appends, with THE
    MANIFEST VERSION AS THE STREAM OFFSET.  Exactly-once tailing falls
    out of the table format itself: offsets are durable (immutable
    versioned manifests), replay is deterministic
    (`readBetweenOffsets` re-walks the same manifests), and rewrite
    commits are dataChange=false.  The scenario: the feed lands as two
    append commits THEN a compaction (v3) before the stream starts; the
    streaming query tails the table from version 0, and its
    complete-mode per-sensor rollup must equal the feed formula — a
    tail that read the compaction's files would double every count; one
    that diffed deltas against the wrong parent would drop or repeat a
    commit.  Incremental tailing (commits arriving BETWEEN micro-
    batches, each emitted exactly once) is unit-pinned in
    tests/test_connector_wiring.py.  This closes the connector matrix
    begun in round 5: batch read + pushdown, stream read + offsets,
    batch write + 2PC, stream write + epoch commits, and now the
    sink's own output re-entering the engine as a stream — the
    reference's Kafka->process->Postgres pipeline expressed as
    table-to-table dataflow (ref:spark_streaming.py:125-130 /
    ref:Project Depth.md:69-74)."""
    import tempfile

    from real_time_big_data_iot_monitoring_pipeline_spark.streaming import pipeline

    key = "_pyds_tail_result"
    cache = getattr(pyds_manifest_stream_tail, key, None)
    if cache is None or not os.path.exists(cache):
        base = tempfile.mkdtemp(prefix="rtbd_pyds_tail_")
        path = os.path.join(base, "table")
        cache = os.path.join(base, "result")
        pydatasource.register_sink(spark)
        feed = _read(spark)
        half = _N_ROWS // 2
        for cond in (F.col("reading_id") < half, F.col("reading_id") >= half):
            feed.filter(cond).repartition(2).write.format("rtbd_manifest_sink").option(
                "path", path
            ).mode("append").save()
        live, _m = pydatasource.read_manifest(spark, path)
        live.repartition(2).write.format("rtbd_manifest_sink").option("path", path).mode(
            "overwrite"
        ).save()  # v3 compaction: the tail must NOT re-emit these rows
        stream = spark.readStream.format("rtbd_manifest_table").option("path", path).load()
        agg = stream.groupBy("sensor_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_readings"),
            F.sum("temp_centi").cast("long").alias("temp_centi_total"),
        )
        pipeline.run_stream_to_parquet(agg, cache, output_mode="complete")
        setattr(pyds_manifest_stream_tail, key, cache)
    return spark.read.parquet(cache)


@register(
    "pyds_medallion_bronze_silver",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_hot,
           CAST(sum(temp_centi) AS BIGINT) AS temp_centi_total
    FROM feed WHERE temp_centi >= 4000
    GROUP BY sensor_id
    """,
    tags=("connector", "python-datasource", "medallion", "table-to-table", "streaming"),
)
def pyds_medallion_bronze_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDALLION (bronze -> silver) TABLE-TO-TABLE STREAMING: the full
    dataflow a lakehouse pipeline runs, composed entirely from this
    engine's own connector parts — raw feed lands in a BRONZE manifest
    table (two batch 2PC appends), a streaming query TAILS bronze
    through `rtbd_manifest_table` (manifest-version offsets), applies
    the curation predicate (hot readings, temp >= 40C), and writes
    SILVER through the manifest sink's STREAMING writer (idempotent
    per-epoch commits).  The hashed result reads silver's committed
    head and must equal the feed formula under the predicate: a
    version-cursor slip re-emits or drops a bronze commit, a
    non-idempotent epoch doubles silver, and either breaks the
    per-sensor totals.  Source offsets ride Spark's WAL; sink commits
    record batch ids — BOTH ends of the exactly-once contract are this
    repo's code, end to end.  At 100 TB each hop is the same plan with
    executor-side scans (`read_change_feed` handing file deltas to the
    JVM reader); the per-row path here is the Simple-reader demo rate.
    Reference parity: ref:spark_streaming.py's Kafka->transform->
    Postgres chain, re-expressed as governed table-to-table flow with
    snapshot isolation on both ends."""
    import tempfile

    key = "_pyds_medallion_dir"
    silver = getattr(pyds_medallion_bronze_silver, key, None)
    if silver is None or not os.path.exists(os.path.join(silver, "manifest.json")):
        base = tempfile.mkdtemp(prefix="rtbd_pyds_med_")
        bronze, silver = os.path.join(base, "bronze"), os.path.join(base, "silver")
        pydatasource.register_sink(spark)
        feed = _read(spark)
        half = _N_ROWS // 2
        for cond in (F.col("reading_id") < half, F.col("reading_id") >= half):
            feed.filter(cond).repartition(2).write.format("rtbd_manifest_sink").option(
                "path", bronze
            ).mode("append").save()
        stream = (
            spark.readStream.format("rtbd_manifest_table").option("path", bronze).load()
        )
        q = (
            stream.filter(F.col("temp_centi") >= 4000)
            .writeStream.format("rtbd_manifest_sink")
            .option("path", silver)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
        setattr(pyds_medallion_bronze_silver, key, silver)
    back, _m = pydatasource.read_manifest(spark, silver)
    return back.groupBy("sensor_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hot"),
        F.sum("temp_centi").cast("long").alias("temp_centi_total"),
    )


@register(
    "pyds_sink_schema_evolution",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           CAST(sum(CASE WHEN reading_id >= {_N_ROWS // 2} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_battery,
           CAST(sum(CASE WHEN reading_id >= {_N_ROWS // 2}
                         THEN reading_id % 101 ELSE 0 END) AS BIGINT) AS battery_total
    FROM feed GROUP BY sensor_id
    """,
    tags=("connector", "python-datasource", "sink", "schema-evolution"),
)
def pyds_sink_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION on the manifest table: commit v1 writes the
    4-column feed, commit v2 appends rows carrying a NEW `battery_pct`
    column, and a `merge_schema=True` head read must surface the
    unified schema with nulls for pre-evolution rows — the
    add-a-column contract every long-lived table eventually needs
    (Delta mergeSchema / Iceberg union-by-name).  The hashed result
    counts and sums the new column per sensor: a reader that trusted
    one file's footer would either drop the column (old-file footer)
    or fail (new-file footer vs old data); null-padding that leaked
    zeros into pre-evolution rows would inflate n_with_battery.  The
    plain-parquet twin is `parquet_schema_evolution`; this pins the
    TABLE-FORMAT path where the snapshot, not a directory listing,
    decides which files' schemas participate.  Scale: mergeSchema
    costs one footer read per file at planning — manifest-bounded, no
    data scan."""
    import tempfile

    key = "_pyds_evo_dir"
    path = getattr(pyds_sink_schema_evolution, key, None)
    if path is None or not os.path.exists(os.path.join(path, "_manifest-v2.json")):
        path = os.path.join(tempfile.mkdtemp(prefix="rtbd_pyds_evo_"), "out")
        pydatasource.register_sink(spark)
        feed = _read(spark)
        half = _N_ROWS // 2
        feed.filter(F.col("reading_id") < half).repartition(2).write.format(
            "rtbd_manifest_sink"
        ).option("path", path).mode("append").save()
        feed.filter(F.col("reading_id") >= half).withColumn(
            "battery_pct", (F.col("reading_id") % 101).cast("int")
        ).repartition(2).write.format("rtbd_manifest_sink").option("path", path).mode(
            "append"
        ).save()
        setattr(pyds_sink_schema_evolution, key, path)
    back, _m = pydatasource.read_manifest(spark, path, merge_schema=True)
    return back.groupBy("sensor_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_readings"),
        F.count("battery_pct").cast("long").alias("n_with_battery"),
        F.coalesce(F.sum("battery_pct"), F.lit(0)).cast("long").alias("battery_total"),
    )


_BLOOM_PROBES = (3, 777, 12345, 19999, 123456789)  # last one absent from the feed


@register(
    "pyds_bloom_point_lookup",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT reading_id, sensor_id, temp_centi
    FROM feed WHERE reading_id IN {_BLOOM_PROBES}
    """,
    tags=("connector", "python-datasource", "bloom-index", "file-skipping"),
)
def pyds_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-INDEXED point lookups on the manifest table: the feed is
    committed HASH-SCATTERED (repartition by reading_id — every part
    file spans nearly the full id range, so the min/max zone maps of
    `pyds_sink_stats_pruning` prune NOTHING), then a per-file Bloom
    sidecar over reading_id is built distributed
    (`pydatasource.build_bloom_index`) and each probe id scans only the
    files whose filter can contain it — ~1 of 4 files per present
    probe, 0 for the absent one, false positives only ever scan extra.
    The hashed result is the looked-up rows themselves (the absent
    probe must contribute nothing: a filter that false-NEGATIVED would
    drop a present row and break the hash; one that skipped the
    caller-side predicate would leak false-positive rows).  This is the
    Iceberg-puffin / Delta-bloom point-lookup contract on this repo's
    own table format.  Scale: build is one scan + one bounded
    (file x bit-position) shuffle; probe planning reads one sidecar and
    one 1-row job, never data pages."""
    import tempfile

    key = "_pyds_bloom_dir"
    path = getattr(pyds_bloom_point_lookup, key, None)
    if path is None or not os.path.exists(
        os.path.join(path, "_bloom-reading_id-v1.json")
    ):
        path = os.path.join(tempfile.mkdtemp(prefix="rtbd_pyds_bloom_"), "out")
        pydatasource.register_sink(spark)
        _read(spark).repartition(4, "reading_id").write.format(
            "rtbd_manifest_sink"
        ).option("path", path).mode("append").save()
        pydatasource.build_bloom_index(
            spark, path, "reading_id", n_bits=65536, n_hashes=5
        )
        setattr(pyds_bloom_point_lookup, key, path)
    out = None
    for p in _BLOOM_PROBES:
        df, _scanned, _total = pydatasource.read_manifest_bloom_pruned(
            spark, path, "reading_id", p
        )
        hit = df.filter(F.col("reading_id") == p).select(
            "reading_id", "sensor_id", "temp_centi"
        )
        out = hit if out is None else out.unionByName(hit)
    return out


@register(
    "pyds_incremental_agg_from_cdf",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           CAST(sum(temp_centi) AS BIGINT) AS temp_centi_total
    FROM feed GROUP BY sensor_id
    """,
    tags=("connector", "python-datasource", "change-feed", "incremental-view"),
)
def pyds_incremental_agg_from_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL AGGREGATE MAINTENANCE driven by the manifest table's
    CHANGE FEED — the composition that makes a table format more than
    storage: commit v1 seeds a per-sensor (count, sum) aggregate from a
    full scan; commit v2 appends the feed's second half, and the
    maintainer reads ONLY the change feed since v1
    (`pydatasource.read_change_feed` — the new files' rows, never a
    rescan) and folds the delta into the aggregate.  The hashed result
    must equal the full-feed aggregate: a change feed that missed a
    file, replayed an old one, or mislabeled a rewrite as fresh data
    (the dataChange=false trap `pyds_sink_change_feed` pins) breaks
    counts or sums.  This is Delta CDF -> streaming-agg / materialized
    -view maintenance, end-to-end on this repo's own connector; cost is
    proportional to the DELTA, the whole point of incremental view
    maintenance (`incremental_agg_merge` is the generic twin)."""
    import tempfile

    key = "_pyds_cdf_agg_dir"
    path = getattr(pyds_incremental_agg_from_cdf, key, None)
    if path is None or not os.path.exists(os.path.join(path, "_manifest-v2.json")):
        path = os.path.join(tempfile.mkdtemp(prefix="rtbd_pyds_cdfagg_"), "out")
        pydatasource.register_sink(spark)
        feed = _read(spark)
        half = _N_ROWS // 2
        feed.filter(F.col("reading_id") < half).repartition(2).write.format(
            "rtbd_manifest_sink"
        ).option("path", path).mode("append").save()
        feed.filter(F.col("reading_id") >= half).repartition(2).write.format(
            "rtbd_manifest_sink"
        ).option("path", path).mode("append").save()
        setattr(pyds_incremental_agg_from_cdf, key, path)

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("sensor_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_readings"),
            F.sum("temp_centi").cast("long").alias("temp_centi_total"),
        )

    base, _m = pydatasource.read_manifest(spark, path, version=1)
    seeded = agg(base)
    delta_rows, commits = pydatasource.read_change_feed(spark, path, since_version=1)
    assert all(c["op"] == "append" for c in commits), commits
    delta = agg(delta_rows.drop("_commit_version"))
    return (
        seeded.unionByName(delta)
        .groupBy("sensor_id")
        .agg(
            F.sum("n_readings").cast("long").alias("n_readings"),
            F.sum("temp_centi_total").cast("long").alias("temp_centi_total"),
        )
    )


@register(
    "pyds_optimize_zorder_pruning",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           CAST(sum(temp_centi) AS BIGINT) AS temp_centi_total
    FROM feed
    WHERE sensor_id BETWEEN 8 AND 11 GROUP BY sensor_id
    """,
    tags=("connector", "python-datasource", "zorder", "file-skipping"),
)
def pyds_optimize_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER applied to the table format's own write path: the
    feed lands HASH-SCATTERED (8 files, every file spans all sensors and
    all reading ids — min/max stats prune nothing on either column),
    then `pydatasource.optimize_zorder` rewrites it clustered on the
    interleaved (sensor_id, reading_id mod 256) key, and the hashed
    query answers a sensor-range question THROUGH the stats-pruned read
    path (`read_manifest_pruned` — the predicate is re-applied plan-side
    per the superset contract).  The rewrite is an OCC overwrite commit:
    time travel to the pre-optimize snapshot still works, the change
    feed emits no rows for it, and the unit test pins the actual file
    counts (scatter scans all, post-zorder scans ~the sensor band).
    This closes the loop from `layout_zorder_stats`' measured argument
    to an executable OPTIMIZE verb on this repo's own table."""
    import tempfile

    key = "_pyds_zorder_dir"
    path = getattr(pyds_optimize_zorder_pruning, key, None)
    if path is None or not os.path.exists(os.path.join(path, "_manifest-v2.json")):
        path = os.path.join(tempfile.mkdtemp(prefix="rtbd_pyds_zorder_"), "out")
        pydatasource.register_sink(spark)
        _read(spark).repartition(8, "reading_id").write.format(
            "rtbd_manifest_sink"
        ).option("path", path).mode("append").save()
        pydatasource.optimize_zorder(
            spark, path, ("sensor_id", "reading_id"), bits=8, n_files=16
        )
        setattr(pyds_optimize_zorder_pruning, key, path)
    pruned, _scanned, _total = pydatasource.read_manifest_pruned(
        spark, path, "sensor_id", 8, 11
    )
    return (
        pruned.filter(F.col("sensor_id").between(8, 11))
        .groupBy("sensor_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_readings"),
            F.sum("temp_centi").cast("long").alias("temp_centi_total"),
        )
    )


_MERGE_N_NEW = 1000


@register(
    "pyds_sink_merge_upsert",
    oracle=f"""
    WITH feed AS (
        SELECT i AS reading_id,
               CAST(i % {_N_SENSORS} AS INT) AS sensor_id,
               {pydatasource.BASE_US} + i * {pydatasource.INTERVAL_US} AS ts_us,
               CAST((i * {pydatasource.KNUTH}) % 4294967296 % {pydatasource.TEMP_MOD}
                    + {pydatasource.TEMP_OFF}
                    + CASE WHEN i % 10 = 0 AND i < {_N_ROWS} THEN 10000 ELSE 0 END
                    AS INT) AS temp_centi
        FROM (SELECT unnest(generate_series(0, {_N_ROWS + _MERGE_N_NEW - 1})) AS i)
    )
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           CAST(sum(temp_centi) AS BIGINT) AS temp_centi_total
    FROM feed GROUP BY sensor_id
    """,
    tags=("connector", "python-datasource", "merge", "upsert"),
)
def pyds_sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO the manifest table (copy-on-write upsert) — the verb
    that finishes the table format's DML triangle (append /
    delete_where / merge): the update set carries BOTH matched rows
    (every 10th reading, temperature shifted +100 degrees) and brand-new
    readings beyond the feed's end; `pydatasource.merge_upsert` rewrites
    ONLY the files whose key-range stats overlap the updates (anti-join
    on broadcast keys + union), commits once through the OCC claim, and
    the head read must equal the oracle's re-derivation of the merged
    feed — a dropped update, a duplicated matched row (the classic
    MERGE double-emit), or an insert lost to file pruning all break the
    per-sensor sums.  Pre-merge snapshots stay time-travel readable;
    the commit op is `merge` (change-feed documented limitation of CoW
    MERGE without deletion vectors)."""
    import tempfile

    key = "_pyds_merge_dir"
    path = getattr(pyds_sink_merge_upsert, key, None)
    if path is None or not os.path.exists(os.path.join(path, "_manifest-v2.json")):
        path = os.path.join(tempfile.mkdtemp(prefix="rtbd_pyds_merge_"), "out")
        pydatasource.register_sink(spark)
        _read(spark).repartition(4, "reading_id").write.format(
            "rtbd_manifest_sink"
        ).option("path", path).mode("append").save()
        updated = (
            _read(spark)
            .filter(F.col("reading_id") % 10 == 0)
            .withColumn("temp_centi", (F.col("temp_centi") + 10000).cast("int"))
        )
        i = F.col("id")
        inserted = spark.range(_N_ROWS, _N_ROWS + _MERGE_N_NEW).select(
            i.alias("reading_id"),
            (i % _N_SENSORS).cast("int").alias("sensor_id"),
            (F.lit(pydatasource.BASE_US) + i * pydatasource.INTERVAL_US).alias("ts_us"),
            (
                (i * pydatasource.KNUTH) % 4294967296 % pydatasource.TEMP_MOD
                + pydatasource.TEMP_OFF
            )
            .cast("int")
            .alias("temp_centi"),
        )
        pydatasource.merge_upsert(
            spark, path, updated.unionByName(inserted), "reading_id"
        )
        setattr(pyds_sink_merge_upsert, key, path)
    back, _m = pydatasource.read_manifest(spark, path)
    return back.groupBy("sensor_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_readings"),
        F.sum("temp_centi").cast("long").alias("temp_centi_total"),
    )


@register(
    "pyds_rename_evolution",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           CAST(sum(temp_centi) AS BIGINT) AS temperature_centi_total
    FROM feed GROUP BY sensor_id
    """,
    tags=("connector", "python-datasource", "schema-evolution", "rename"),
)
def pyds_rename_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN RENAME as schema evolution on the manifest table: half the
    feed commits under `temp_centi`, a METADATA-ONLY
    `pydatasource.rename_column` commit renames it to
    `temperature_centi` (no part file rewritten — the rename log in the
    manifest is the field-id indirection by-name evolution lacks), and
    the second half commits WRITTEN UNDER THE NEW NAME.  The head read
    must unify both generations under `temperature_centi` — per-sensor
    counts and sums over the WHOLE feed break if old-name files drop
    out, map to a null column, or double-apply the mapping; the oracle
    knows nothing of the rename and just aggregates the feed.  Chained
    renames, metadata-only-ness, and pre-rename time travel are
    unit-pinned (`test_pyds_rename_column_metadata_only`); every other
    commit verb carries the rename log forward.  Scale: rename is O(1);
    the read adds one footer check per file at planning."""
    import tempfile

    key = "_pyds_rename_dir"
    path = getattr(pyds_rename_evolution, key, None)
    if path is None or not os.path.exists(os.path.join(path, "_manifest-v3.json")):
        path = os.path.join(tempfile.mkdtemp(prefix="rtbd_pyds_rename_"), "out")
        pydatasource.register_sink(spark)
        feed = _read(spark)
        half = _N_ROWS // 2
        feed.filter(F.col("reading_id") < half).repartition(2).write.format(
            "rtbd_manifest_sink"
        ).option("path", path).mode("append").save()
        pydatasource.rename_column(path, "temp_centi", "temperature_centi")
        feed.filter(F.col("reading_id") >= half).withColumnRenamed(
            "temp_centi", "temperature_centi"
        ).repartition(2).write.format("rtbd_manifest_sink").option("path", path).mode(
            "append"
        ).save()
        setattr(pyds_rename_evolution, key, path)
    back, _m = pydatasource.read_manifest(spark, path)
    return back.groupBy("sensor_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_readings"),
        F.sum("temperature_centi").cast("long").alias("temperature_centi_total"),
    )


@register(
    "pyds_sink_mor_delete",
    oracle=f"""
    WITH base AS (
        SELECT i AS reading_id,
               CAST(i % {_N_SENSORS} AS INT) AS sensor_id,
               CAST((i * {pydatasource.KNUTH}) % 4294967296 % {pydatasource.TEMP_MOD}
                    + {pydatasource.TEMP_OFF} AS INT) AS temp_centi
        FROM (SELECT unnest(generate_series(0, {_N_ROWS - 1})) AS i)
        WHERE i NOT BETWEEN 100 AND 199
    ),
    reinserted AS (
        SELECT i AS reading_id,
               CAST(i % {_N_SENSORS} AS INT) AS sensor_id,
               CAST((i * {pydatasource.KNUTH}) % 4294967296 % {pydatasource.TEMP_MOD}
                    + {pydatasource.TEMP_OFF} + 50000 AS INT) AS temp_centi
        FROM (SELECT unnest(generate_series(150, 159)) AS i)
    ),
    unioned AS (SELECT * FROM base UNION ALL SELECT * FROM reinserted)
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           CAST(sum(temp_centi) AS BIGINT) AS temp_centi_total
    FROM unioned GROUP BY sensor_id
    """,
    tags=("connector", "python-datasource", "merge-on-read", "delete"),
)
def pyds_sink_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ DELETE on the manifest table, end-to-end through
    the read path: an O(1) metadata commit deletes readings 100-199 (no
    file rewritten — `delete_where` is the copy-on-write sibling that
    pays the write instead), then readings 150-159 are RE-INSERTED with
    shifted temperatures — they match the delete predicate but commit
    AFTER it, and the snapshot-scoped delete (applies only to the files
    recorded at delete time) must let them through: the classic MoR
    correctness trap where a naive global filter silently eats
    post-delete inserts.  The hashed per-sensor census equals the
    oracle's re-derivation of (feed minus the range, plus shifted
    re-inserts).  Materialization + the rename interaction guard are
    unit-pinned (`test_pyds_mor_delete_scopes_to_snapshot_files`)."""
    import tempfile

    key = "_pyds_mor_dir"
    path = getattr(pyds_sink_mor_delete, key, None)
    if path is None or not os.path.exists(os.path.join(path, "_manifest-v3.json")):
        path = os.path.join(tempfile.mkdtemp(prefix="rtbd_pyds_mor_"), "out")
        pydatasource.register_sink(spark)
        feed = _read(spark).select("reading_id", "sensor_id", "temp_centi")
        feed.repartitionByRange(4, "reading_id").write.format(
            "rtbd_manifest_sink"
        ).option("path", path).mode("append").save()
        pydatasource.delete_where_mor(path, "reading_id", 100, 199)
        (
            _read(spark)
            .filter(F.col("reading_id").between(150, 159))
            .select(
                "reading_id",
                "sensor_id",
                (F.col("temp_centi") + 50000).cast("int").alias("temp_centi"),
            )
            .repartition(1)
            .write.format("rtbd_manifest_sink")
            .option("path", path)
            .mode("append")
            .save()
        )
        setattr(pyds_sink_mor_delete, key, path)
    back, _m = pydatasource.read_manifest(spark, path)
    return back.groupBy("sensor_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_readings"),
        F.sum("temp_centi").cast("long").alias("temp_centi_total"),
    )


@register(
    "pyds_sink_restore",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT 1 AS version, 'append' AS op,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(temp_centi) AS BIGINT) AS temp_centi_total
    FROM feed WHERE reading_id < {_N_ROWS // 2}
    UNION ALL
    SELECT 2, 'append', CAST(count(*) AS BIGINT), CAST(sum(temp_centi) AS BIGINT) FROM feed
    UNION ALL
    SELECT 3, 'delete', CAST(count(*) AS BIGINT), CAST(sum(temp_centi) AS BIGINT)
    FROM feed WHERE temp_centi NOT BETWEEN 1000 AND 1499
    UNION ALL
    SELECT 4, 'restore', CAST(count(*) AS BIGINT), CAST(sum(temp_centi) AS BIGINT) FROM feed
    ORDER BY version
    """,
    tags=("connector", "python-datasource", "sink", "restore", "rollback"),
)
def pyds_sink_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE (rollback-as-a-commit) on the manifest table — Delta's
    `RESTORE TABLE ... TO VERSION AS OF k`: after two appends (v1, v2)
    and a copy-on-write DELETE (v3), `restore_table(path, 2)` publishes
    v4 whose DATA STATE is byte-identical to v2 — history is never
    rewritten (v3 still time-travels, the oracle pins all four
    snapshots), the restore is an O(1) metadata commit (no part file
    copied), and its op=restore is dataChange=false to the change feed
    (restored rows were already emitted by their original appends).
    The deleted-then-restored rows coming back with the exact original
    totals is the proof the restore points at files, not at a re-write
    of them."""
    import tempfile

    key = "_pyds_restore_dir"
    path = getattr(pyds_sink_restore, key, None)
    if path is None or not os.path.exists(os.path.join(path, "_manifest-v4.json")):
        path = os.path.join(tempfile.mkdtemp(prefix="rtbd_pyds_restore_"), "out")
        pydatasource.register_sink(spark)
        feed = _read(spark)
        half = _N_ROWS // 2
        feed.filter(F.col("reading_id") < half).write.format("rtbd_manifest_sink").option(
            "path", path
        ).mode("append").save()
        feed.filter(F.col("reading_id") >= half).write.format("rtbd_manifest_sink").option(
            "path", path
        ).mode("append").save()
        pydatasource.delete_where(spark, path, "temp_centi", 1000, 1499)
        restored = pydatasource.restore_table(path, 2)
        assert restored["version"] == 4 and restored["restored_from"] == 2
        setattr(pyds_sink_restore, key, path)

    ops = {1: "append", 2: "append", 3: "delete", 4: "restore"}

    def snap(version: int) -> DataFrame:
        df, _m = pydatasource.read_manifest(spark, path, version=version)
        return df.agg(
            F.lit(version).cast("int").alias("version"),
            F.lit(ops[version]).alias("op"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("temp_centi").cast("long").alias("temp_centi_total"),
        )

    out = snap(1)
    for v in (2, 3, 4):
        out = out.unionByName(snap(v))
    return out.orderBy("version")


@register(
    "pyds_branch_tag_travel",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT 'q3-audit' AS ref, 'tag' AS kind, 1 AS version,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(temp_centi) AS BIGINT) AS temp_centi_total,
           4 AS n_files_removed, 1 AS n_manifests_removed, TRUE AS v2_expired
    FROM feed WHERE reading_id < {_N_ROWS // 2}
    UNION ALL
    SELECT 'dev', 'branch', 3, CAST(count(*) AS BIGINT), CAST(sum(temp_centi) AS BIGINT),
           4, 1, TRUE
    FROM feed
    UNION ALL
    SELECT '_head', 'head', 3, CAST(count(*) AS BIGINT), CAST(sum(temp_centi) AS BIGINT),
           4, 1, TRUE
    FROM feed
    ORDER BY ref
    """,
    tags=("connector", "python-datasource", "refs", "branch-tag", "vacuum-pinning"),
)
def pyds_branch_tag_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NAMED REFS on the manifest table — immutable TAGS and movable
    BRANCH pointers (Iceberg tags/branches), plus the retention rule
    that makes them useful: VACUUM never expires a ref-pinned snapshot.
    Build: v1 append (4 files), v2 append (4 more), tag `q3-audit` at
    v1, branch `dev` at v2; v3 compacts the table (overwrite, 2 files)
    and `dev` advances to it; then `vacuum(keep_versions=1)` with the
    horizon at v3 removes EXACTLY v2's manifest and v2's 4 un-pinned
    files — v1's files survive on the tag pin alone, so the tag still
    reads the original half-feed byte-for-byte while v2 fails loudly
    (expired).  The hash pins the reads through both refs and the head
    AND the vacuum's removal counts; a vacuum that ignored refs would
    destroy the tag's files and break the totals."""
    import tempfile

    key = "_pyds_refs_dir"
    state = getattr(pyds_branch_tag_travel, key, None)
    if state is None or not os.path.exists(os.path.join(state[0], "_ref-dev.json")):
        path = os.path.join(tempfile.mkdtemp(prefix="rtbd_pyds_refs_"), "out")
        pydatasource.register_sink(spark)
        feed = _read(spark)
        half = _N_ROWS // 2
        feed.filter(F.col("reading_id") < half).repartition(4).write.format(
            "rtbd_manifest_sink"
        ).option("path", path).mode("append").save()
        feed.filter(F.col("reading_id") >= half).repartition(4).write.format(
            "rtbd_manifest_sink"
        ).option("path", path).mode("append").save()
        pydatasource.create_tag(path, "q3-audit", 1)
        pydatasource.create_branch(path, "dev", 2)
        full, _m = pydatasource.read_manifest(spark, path)
        full.repartition(2).write.format("rtbd_manifest_sink").option("path", path).mode(
            "overwrite"
        ).save()
        pydatasource.advance_branch(path, "dev", 3)
        out = pydatasource.vacuum(path, keep_versions=1, retention_seconds=0.0)
        assert out["head_version"] == 3, out
        setattr(pyds_branch_tag_travel, key, (path, out["n_files_removed"], out["n_manifests_removed"]))
    path, n_files_removed, n_manifests_removed = getattr(pyds_branch_tag_travel, key)

    try:
        pydatasource.read_manifest(spark, path, version=2)
        v2_expired = False
    except FileNotFoundError:
        v2_expired = True

    def through(ref: str, kind: str, df: DataFrame, version: int) -> DataFrame:
        return df.agg(
            F.lit(ref).alias("ref"),
            F.lit(kind).alias("kind"),
            F.lit(version).cast("int").alias("version"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("temp_centi").cast("long").alias("temp_centi_total"),
            F.lit(n_files_removed).cast("int").alias("n_files_removed"),
            F.lit(n_manifests_removed).cast("int").alias("n_manifests_removed"),
            F.lit(v2_expired).alias("v2_expired"),
        )

    tag_df, _ = pydatasource.read_manifest_ref(spark, path, "q3-audit")
    dev_v = pydatasource.resolve_ref(path, "dev")
    dev_df, _ = pydatasource.read_manifest_ref(spark, path, "dev")
    head_df, head_m = pydatasource.read_manifest(spark, path)
    return (
        through("q3-audit", "tag", tag_df, pydatasource.resolve_ref(path, "q3-audit"))
        .unionByName(through("dev", "branch", dev_df, dev_v))
        .unionByName(through("_head", "head", head_df, head_m["version"]))
        .orderBy("ref")
    )


@register(
    "pyds_sink_check_constraint",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT 4 AS head_version,
           CAST(count(*) + 100 AS BIGINT) AS n_rows,
           2 AS n_constraints,
           TRUE AS violation_rejected,
           TRUE AS existing_check_rejected,
           0 AS orphan_parts,
           CAST(sum(temp_centi) + 100 * 3000 AS BIGINT) AS temp_centi_total
    FROM feed
    """,
    tags=("connector", "python-datasource", "check-constraint", "write-validation"),
)
def pyds_sink_check_constraint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-TIME CHECK CONSTRAINTS on the manifest table (Delta
    `ALTER TABLE ADD CONSTRAINT`): after v1 appends the feed, two
    metadata commits add `temp_centi BETWEEN 1000 AND 4999` and
    `reading_id NOT NULL` (v2, v3 — each first PROVEN against the
    existing data from footer stats, never a scan); a conforming
    100-row append lands as v4; an append with temp_centi = 999 is
    REJECTED at commit (its parts are deleted — the orphan count pins
    the cleanup), and a constraint the existing table violates
    (temp <= 10) is refused at ADD time.  Enforcement is O(footers):
    min/max and null_count prove or refute every constraint without
    reading a data page — the only scale-safe place to put row-level
    validation on a 100 TB table."""
    import glob
    import tempfile

    key = "_pyds_check_dir"
    state = getattr(pyds_sink_check_constraint, key, None)
    if state is None or not os.path.exists(os.path.join(state[0], "_manifest-v4.json")):
        path = os.path.join(tempfile.mkdtemp(prefix="rtbd_pyds_check_"), "out")
        pydatasource.register_sink(spark)
        feed = _read(spark)
        feed.write.format("rtbd_manifest_sink").option("path", path).mode("append").save()
        pydatasource.add_check_constraint(
            path, "temp_range", "temp_centi", lo=pydatasource.TEMP_OFF,
            hi=pydatasource.TEMP_OFF + pydatasource.TEMP_MOD - 1,
        )
        pydatasource.add_check_constraint(path, "rid_nn", "reading_id", not_null=True)
        extra = spark.range(_N_ROWS, _N_ROWS + 100).selectExpr(
            "id AS reading_id",
            f"CAST(id % {_N_SENSORS} AS INT) AS sensor_id",
            f"CAST({pydatasource.BASE_US} + id * {pydatasource.INTERVAL_US} AS BIGINT) AS ts_us",
            "CAST(3000 AS INT) AS temp_centi",
        )
        extra.coalesce(1).write.format("rtbd_manifest_sink").option("path", path).mode(
            "append"
        ).save()
        bad = extra.withColumn("temp_centi", F.lit(999).cast("int"))
        try:
            bad.coalesce(1).write.format("rtbd_manifest_sink").option("path", path).mode(
                "append"
            ).save()
            violation_rejected = False
        except Exception:
            violation_rejected = True
        try:
            pydatasource.add_check_constraint(path, "too_tight", "temp_centi", lo=0, hi=10)
            existing_check_rejected = False
        except RuntimeError:
            existing_check_rejected = True
        setattr(
            pyds_sink_check_constraint, key, (path, violation_rejected, existing_check_rejected)
        )
    path, violation_rejected, existing_check_rejected = getattr(pyds_sink_check_constraint, key)

    df, m = pydatasource.read_manifest(spark, path)
    listed = set(m["files"])
    orphans = [
        f for f in glob.glob(os.path.join(path, "part-*")) if os.path.basename(f) not in listed
    ]
    return df.agg(
        F.lit(m["version"]).cast("int").alias("head_version"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.lit(len(m.get("constraints", []))).cast("int").alias("n_constraints"),
        F.lit(violation_rejected).alias("violation_rejected"),
        F.lit(existing_check_rejected).alias("existing_check_rejected"),
        F.lit(len(orphans)).cast("int").alias("orphan_parts"),
        F.sum("temp_centi").cast("long").alias("temp_centi_total"),
    )


@register(
    "pyds_shallow_clone_diverge",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT 'src_head' AS side, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(temp_centi) AS BIGINT) AS temp_centi_total,
           0 AS n_files_copied
    FROM feed
    UNION ALL
    SELECT 'clone_v1', CAST(count(*) AS BIGINT), CAST(sum(temp_centi) AS BIGINT), 0 FROM feed
    UNION ALL
    SELECT 'clone_head', CAST(count(*) AS BIGINT) + 100, CAST(sum(temp_centi) AS BIGINT) + 100 * 3000, 0
    FROM feed WHERE temp_centi NOT BETWEEN 1000 AND 1499
    ORDER BY side
    """,
    tags=("connector", "python-datasource", "shallow-clone", "zero-copy"),
)
def pyds_shallow_clone_diverge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE + divergence on the manifest table (Delta
    `SHALLOW CLONE`): the clone's v1 references the source's part files
    by relative path — the n_files_copied column pins ZERO bytes copied
    — then the clone diverges: a 100-row append lands in the clone's
    own directory and a copy-on-write DELETE rewrites ONLY the
    referenced files it touches, into the clone.  The source head's
    totals prove the source is never mutated by any clone operation;
    the clone-head totals prove the delete applied to the REFERENCED
    data (original feed rows in the deleted temp band vanish) while the
    clone's own append survives in full.  Stats-pruning, constraints
    and the rename log all travel with the clone (unit-pinned); the
    documented hazard — vacuuming the SOURCE strands the clone, never
    the reverse — is pinned in tests/test_lakehouse_verbs.py."""
    import glob
    import tempfile

    key = "_pyds_clone_dirs"
    state = getattr(pyds_shallow_clone_diverge, key, None)
    if state is None or not os.path.exists(os.path.join(state[1], "_manifest-v3.json")):
        base = tempfile.mkdtemp(prefix="rtbd_pyds_clone_")
        src, dst = os.path.join(base, "src"), os.path.join(base, "dst")
        pydatasource.register_sink(spark)
        feed = _read(spark)
        feed.write.format("rtbd_manifest_sink").option("path", src).mode("append").save()
        pydatasource.shallow_clone(src, dst)
        n_copied = len(glob.glob(os.path.join(dst, "part-*")))
        extra = spark.range(_N_ROWS, _N_ROWS + 100).selectExpr(
            "id AS reading_id",
            f"CAST(id % {_N_SENSORS} AS INT) AS sensor_id",
            f"CAST({pydatasource.BASE_US} + id * {pydatasource.INTERVAL_US} AS BIGINT) AS ts_us",
            "CAST(3000 AS INT) AS temp_centi",
        )
        extra.coalesce(1).write.format("rtbd_manifest_sink").option("path", dst).mode(
            "append"
        ).save()
        pydatasource.delete_where(spark, dst, "temp_centi", 1000, 1499)
        setattr(pyds_shallow_clone_diverge, key, (src, dst, n_copied))
    src, dst, n_copied = getattr(pyds_shallow_clone_diverge, key)

    def side(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("side"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("temp_centi").cast("long").alias("temp_centi_total"),
            F.lit(n_copied).cast("int").alias("n_files_copied"),
        )

    src_df, _ = pydatasource.read_manifest(spark, src)
    clone_v1, _ = pydatasource.read_manifest(spark, dst, version=1)
    clone_head, _ = pydatasource.read_manifest(spark, dst)
    return (
        side("src_head", src_df)
        .unionByName(side("clone_v1", clone_v1))
        .unionByName(side("clone_head", clone_head))
        .orderBy("side")
    )


@register(
    "pyds_mor_then_cow_delete",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           CAST(sum(temp_centi) AS BIGINT) AS temp_centi_total
    FROM feed
    WHERE reading_id NOT BETWEEN 2000 AND 4999
    GROUP BY sensor_id
    """,
    tags=("connector", "python-datasource", "merge-on-read", "copy-on-write", "delete"),
)
def pyds_mor_then_cow_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MoR delete FOLLOWED BY an overlapping copy-on-write delete — the
    round-7 ADVICE resurrection hazard, under the driver's value hash:
    an O(1) merge-on-read delete removes readings 2000-3999 (predicate +
    snapshot file list, no rewrite), then `delete_where(3000..4999)`
    REWRITES the file that still physically holds 2000-3999.  The
    rewrite must apply the pending eq-delete to its victims (the
    rewritten file's new name falls outside the carried entry's scope,
    so a raw rewrite would resurrect 2000-2999 — 18 000 rows instead of
    17 000, a guaranteed hash break).  Census = feed minus 2000-4999.
    Unit pins: tests/test_round7.py::test_delete_where_does_not_
    resurrect_mor_deleted_rows."""
    import tempfile

    key = "_pyds_morcow_dir"
    path = getattr(pyds_mor_then_cow_delete, key, None)
    if path is None or not os.path.exists(os.path.join(path, "_manifest-v3.json")):
        path = os.path.join(tempfile.mkdtemp(prefix="rtbd_pyds_morcow_"), "out")
        pydatasource.register_sink(spark)
        feed = _read(spark).select("reading_id", "sensor_id", "temp_centi")
        feed.repartitionByRange(4, "reading_id").write.format(
            "rtbd_manifest_sink"
        ).option("path", path).mode("append").save()
        pydatasource.delete_where_mor(path, "reading_id", 2000, 3999)  # v2
        out = pydatasource.delete_where(spark, path, "reading_id", 3000, 4999)  # v3
        assert out["n_files_rewritten"] >= 1
        setattr(pyds_mor_then_cow_delete, key, path)
    back, _m = pydatasource.read_manifest(spark, path)
    return back.groupBy("sensor_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_readings"),
        F.sum("temp_centi").cast("long").alias("temp_centi_total"),
    )


@register(
    "pyds_pruned_read_logical",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           CAST(sum(temp_centi) AS BIGINT) AS temp_c_total
    FROM feed
    WHERE reading_id < 5000 AND reading_id NOT BETWEEN 100 AND 199
    GROUP BY sensor_id
    """,
    tags=("connector", "python-datasource", "zone-map", "merge-on-read", "rename"),
)
def pyds_pruned_read_logical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map-PRUNED read of a table carrying BOTH a pending MoR
    delete AND a rename — the round-7 ADVICE reader gap, driver-hashed:
    after `delete_where_mor(reading_id 100..199)` and
    `rename_column(temp_centi -> temp_c)`, `read_manifest_pruned`
    restricted to reading_id [0, 4999] must still scan only the
    overlapping file (pruning works) while applying the rename log and
    the eq-delete to what it scans (logical read) — the old raw-file
    path returned deleted rows under the pre-rename column name.
    Unit pins: tests/test_round7.py::test_pruned_reads_apply_renames_
    and_mor_deletes."""
    import tempfile

    key = "_pyds_prunedlog_dir"
    path = getattr(pyds_pruned_read_logical, key, None)
    if path is None or not os.path.exists(os.path.join(path, "_manifest-v3.json")):
        path = os.path.join(tempfile.mkdtemp(prefix="rtbd_pyds_prunedlog_"), "out")
        pydatasource.register_sink(spark)
        feed = _read(spark).select("reading_id", "sensor_id", "temp_centi")
        feed.repartitionByRange(4, "reading_id").write.format(
            "rtbd_manifest_sink"
        ).option("path", path).mode("append").save()
        pydatasource.delete_where_mor(path, "reading_id", 100, 199)  # v2
        pydatasource.rename_column(path, "temp_centi", "temp_c")  # v3
        setattr(pyds_pruned_read_logical, key, path)
    pruned, n_scanned, n_total = pydatasource.read_manifest_pruned(
        spark, path, "reading_id", 0, 4999
    )
    assert n_scanned < n_total, f"zone-map pruning broke: {n_scanned}/{n_total}"
    return (
        pruned.filter(F.col("reading_id") < 5000)  # predicate re-applied plan-side
        .groupBy("sensor_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_readings"),
            F.sum("temp_c").cast("long").alias("temp_c_total"),
        )
    )


@register(
    "pyds_null_range_delete",
    oracle=f"""
    WITH feed AS ({_FEED_SQL}),
    feedn AS (
        SELECT reading_id, sensor_id, ts_us,
               CASE WHEN reading_id % 10 = 0 THEN NULL ELSE temp_centi END AS temp_centi
        FROM feed
    ),
    surv AS (
        SELECT * FROM feedn
        WHERE temp_centi IS NULL OR temp_centi NOT BETWEEN 2000 AND 3499
    )
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(CASE WHEN temp_centi IS NULL THEN 1 END) AS BIGINT) AS n_null_rows,
           CAST(COALESCE(sum(temp_centi), 0) AS BIGINT) AS temp_total,
           6753 AS n_deleted,
           13247 AS mor_logical_rows,
           TRUE AS paths_agree
    FROM surv GROUP BY sensor_id
    """,
    tags=("connector", "python-datasource", "delete", "null-semantics"),
)
def pyds_null_range_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE range deletes — catalog pin of the round-8 ADVICE fix:
    a row whose delete-column is NULL does not match `col BETWEEN lo
    AND hi` and must SURVIVE the delete in EVERY path (standard SQL
    three-valued logic; the pre-fix bare `~between()` evaluated to NULL
    and silently dropped such rows).  The feed lands with temp_centi
    NULLed on every 10th reading (2,000 NULL rows), then the same range
    delete (`temp_centi BETWEEN 2000 AND 3499`, 6,753 non-null matches)
    runs through THREE independent paths on two table copies:
      (a) merge-on-read + logical read (read-side predicate),
      (b) MoR + `materialize_deletes` (physical rewrite),
      (c) copy-on-write `delete_where` (CoW rewrite).
    The hashed result is the per-sensor survivor rollup over path (b)
    — NULL counts intact (sensors 0/10/20/30/40 carry 400 NULLs each)
    — plus `paths_agree`, a driver-verified flag that all three paths
    produced row-identical tables, and the CoW audit's n_deleted.  A
    single NULL row dropped anywhere breaks n_null_rows, n_rows,
    mor_logical_rows, and paths_agree at once.  At 100 TB this is the
    GDPR-erasure workload over nullable telemetry: the delete predicate
    must never silently widen to `IS NULL`."""
    import tempfile

    key = "_pyds_nulldel"
    state = getattr(pyds_null_range_delete, key, None)
    if state is None or not os.path.exists(
        os.path.join(state["mor"], "_manifest-v3.json")
    ):
        base = tempfile.mkdtemp(prefix="rtbd_pyds_nulldel_")
        mor, cow = os.path.join(base, "mor"), os.path.join(base, "cow")
        pydatasource.register_sink(spark)
        feed = _read(spark).withColumn(
            "temp_centi",
            F.when(F.col("reading_id") % 10 == 0, F.lit(None).cast("int")).otherwise(
                F.col("temp_centi")
            ),
        )
        for p in (mor, cow):
            feed.repartition(4).write.format("rtbd_manifest_sink").option(
                "path", p
            ).mode("append").save()  # v1
        pydatasource.delete_where_mor(mor, "temp_centi", 2000, 3499)  # v2 (MoR)
        cow_audit = pydatasource.delete_where(spark, cow, "temp_centi", 2000, 3499)
        logical, _m = pydatasource.read_manifest(spark, mor)  # path (a)
        n_mor_logical = logical.count()
        pydatasource.materialize_deletes(spark, mor)  # v3 (physical)
        mat, _m = pydatasource.read_manifest(spark, mor)  # path (b)
        cowdf, _m = pydatasource.read_manifest(spark, cow)  # path (c)
        cols = sorted(cowdf.columns)

        def _symdiff(a: DataFrame, b: DataFrame) -> int:
            return (
                a.select(*cols).exceptAll(b.select(*cols)).count()
                + b.select(*cols).exceptAll(a.select(*cols)).count()
            )

        state = {
            "mor": mor,
            "n_mor_logical": n_mor_logical,
            "n_deleted_cow": cow_audit["n_deleted"],
            # bounded driver scalars: three 20k-row table comparisons,
            # computed once at build time and cached on the function
            "paths_agree": _symdiff(logical, mat) == 0 and _symdiff(mat, cowdf) == 0,
        }
        setattr(pyds_null_range_delete, key, state)
    back, _head = pydatasource.read_manifest(spark, state["mor"])
    return (
        back.groupBy("sensor_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("temp_centi").isNull().cast("int")).cast("long").alias("n_null_rows"),
            F.coalesce(F.sum("temp_centi"), F.lit(0)).cast("long").alias("temp_total"),
        )
        .withColumn("n_deleted", F.lit(state["n_deleted_cow"]).cast("int"))
        .withColumn("mor_logical_rows", F.lit(state["n_mor_logical"]).cast("int"))
        .withColumn("paths_agree", F.lit(state["paths_agree"]))
    )


_EVOLVE_SPLIT = _N_ROWS // 2


@register(
    "stream_schema_evolution_feed",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           CAST(sum(temp_centi) AS BIGINT) AS temperature_centi_total,
           CAST(sum(CASE WHEN reading_id < {_EVOLVE_SPLIT} THEN 1 ELSE 0 END) AS BIGINT) AS n_phase1,
           CAST(sum(CASE WHEN reading_id >= {_EVOLVE_SPLIT} THEN 1 ELSE 0 END) AS BIGINT) AS n_phase2,
           CAST(sum(CASE WHEN reading_id >= {_EVOLVE_SPLIT} THEN 1 ELSE 0 END) AS BIGINT) AS n_tail
    FROM feed GROUP BY sensor_id
    """,
    tags=(
        "connector",
        "python-datasource",
        "streaming-sink",
        "schema-evolution",
        "rename",
        "change-feed",
        "restart",
    ),
)
def stream_schema_evolution_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION UNDER A LIVE STREAM: `rename_column` lands
    MID-STREAM between two runs of the `rtbd_sensors` -> manifest-sink
    pipeline, and the CHANGE FEED must stay correct across the naming
    epoch — the contract a downstream incremental consumer needs when
    the table it tails evolves while it runs (reference
    spark_streaming.py:152-181's sink, which being a raw JDBC append
    cannot evolve at all).

    Shape: run 1 streams the feed's first half (epoch commits under
    `temp_centi`), stops mid-feed; a metadata-only
    `pydatasource.rename_column` evolves the column to
    `temperature_centi`; run 2 RESUMES FROM THE CHECKPOINT (the offset
    cursor continues at the split row — restart exactly-once) and
    streams the second half, writing under the NEW name.  The hashed
    result is built ENTIRELY from `read_change_feed`: the full feed
    (since 0) must surface BOTH epochs' rows under the current logical
    name — pre-rename files resolve through the rename chain, a naive
    union of physical names would fork the column — with
    `_commit_version` splitting phases exactly at the rename commit;
    and the TAIL (since the rename version) must carry exactly the
    post-rename rows, none of the earlier epochs'.  A dropped epoch, a
    replayed epoch, a mis-renamed frame, or a tail that leaks
    pre-rename rows all break the per-sensor counts/sums against the
    oracle's regeneration of the plain feed formula (which knows
    nothing of the rename).  Scale: the rename is O(1) metadata; the
    feed reads only delta files of the requested range."""
    import tempfile

    key = "_stream_evolve_state"
    state = getattr(stream_schema_evolution_feed, key, None)
    if state is None or not os.path.exists(os.path.join(state[0], "manifest.json")):
        base = tempfile.mkdtemp(prefix="rtbd_stream_evolve_")
        path, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        pydatasource.register(spark)
        pydatasource.register_sink(spark)

        def run(n_rows: int, rename: bool) -> None:
            stream = (
                spark.readStream.format("rtbd_sensors")
                .option("n_rows", n_rows)
                .option("n_sensors", _N_SENSORS)
                .option("rows_per_batch", 2_500)
                .load()
            )
            if rename:
                stream = stream.withColumnRenamed("temp_centi", "temperature_centi")
            q = (
                stream.writeStream.format("rtbd_manifest_sink")
                .option("path", path)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )
            q.processAllAvailable()
            q.stop()
            q.awaitTermination(30)

        # run 1: first half of the feed, physical column `temp_centi`
        run(_EVOLVE_SPLIT, rename=False)
        # MID-STREAM metadata-only evolution
        rename_v = pydatasource.rename_column(path, "temp_centi", "temperature_centi")[
            "version"
        ]
        # run 2: checkpoint resume at the split row, NEW physical name
        run(_N_ROWS, rename=True)
        state = (path, rename_v)
        setattr(stream_schema_evolution_feed, key, state)
    path, rename_v = state
    feed, _commits = pydatasource.read_change_feed(spark, path, since_version=0)
    tail, _ = pydatasource.read_change_feed(spark, path, since_version=rename_v)
    full = feed.groupBy("sensor_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_readings"),
        F.sum("temperature_centi").cast("long").alias("temperature_centi_total"),
        F.sum((F.col("_commit_version") < rename_v).cast("long")).alias("n_phase1"),
        F.sum((F.col("_commit_version") > rename_v).cast("long")).alias("n_phase2"),
    )
    tails = tail.groupBy("sensor_id").agg(F.count(F.lit(1)).cast("long").alias("n_tail"))
    return full.join(tails, "sensor_id")


@register(
    "pyds_clone_vacuum_isolation",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT 'clone_head' AS side,
           CAST(count(*) + 100 AS BIGINT) AS n_rows,
           CAST(sum(temp_centi) + 100 * 3000 AS BIGINT) AS temp_centi_total,
           4 AS src_files_reclaimed,
           TRUE AS cross_table_intact
    FROM feed
    UNION ALL
    SELECT 'src_head' AS side,
           CAST(count(*) AS BIGINT),
           CAST(sum(temp_centi) AS BIGINT),
           4, TRUE
    FROM feed
    ORDER BY side
    """,
    tags=(
        "connector",
        "python-datasource",
        "shallow-clone",
        "vacuum",
        "cross-table",
        "isolation",
    ),
)
def pyds_clone_vacuum_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-TABLE REACHABILITY UNDER VACUUM (round-12 registration —
    the oracle-checked twin of the round-11 multi-table crash sweeps,
    tests/test_lakehouse_crash_machine.py, multi-table section): vacuum on a shallow
    clone's SOURCE must never reclaim data files the clone still
    references, and vacuum on the CLONE must never touch the source's
    directory at all — the invariant Delta/Iceberg shallow clones need
    before either table's retention job is safe to run unattended
    (the reference persists to a single Postgres table,
    ref:spark_streaming.py:52-75, where the hazard cannot even be
    expressed).

    Shape: the feed lands in the source as two appends (4 part files),
    then a compaction overwrite (v3) makes those four files
    reclaimable; `shallow_clone` references v3's files zero-copy; the
    clone diverges with a 100-row append into its OWN directory.  Then
    both retention jobs run with the tightest legal policy
    (keep_versions=1, retention 0): the source's vacuum may reclaim
    EXACTLY the 4 pre-compaction files (`src_files_reclaimed` pins the
    count — one more would strand the clone, one fewer would leak);
    the clone's vacuum must leave the source's directory listing
    byte-identical and the clone readable (`cross_table_intact`).  The
    hashed totals then prove both tables still read EXACTLY: source
    head = the untouched feed, clone head = feed + its own append —
    a reclaimed live file breaks the clone's count, a vacuum that
    leaked into the source breaks the source's.  Scale: vacuum is
    O(files below the horizon) metadata work; reachability is decided
    per-manifest, never by scanning data."""
    import glob
    import tempfile

    key = "_pyds_clone_vac_state"
    state = getattr(pyds_clone_vacuum_isolation, key, None)
    if state is None or not os.path.exists(state[0]):
        base = tempfile.mkdtemp(prefix="rtbd_pyds_clonevac_")
        src, dst = os.path.join(base, "src"), os.path.join(base, "dst")
        pydatasource.register_sink(spark)
        feed = _read(spark)
        half = _N_ROWS // 2
        for cond in (F.col("reading_id") < half, F.col("reading_id") >= half):
            feed.filter(cond).repartition(2).write.format("rtbd_manifest_sink").option(
                "path", src
            ).mode("append").save()  # v1 + v2: four part files
        live, _m = pydatasource.read_manifest(spark, src)
        live.repartition(2).write.format("rtbd_manifest_sink").option("path", src).mode(
            "overwrite"
        ).save()  # v3 compaction: v1/v2's files become reclaimable
        pydatasource.shallow_clone(src, dst)  # references v3 == src head
        extra = spark.range(_N_ROWS, _N_ROWS + 100).selectExpr(
            "id AS reading_id",
            f"CAST(id % {_N_SENSORS} AS INT) AS sensor_id",
            f"CAST({pydatasource.BASE_US} + id * {pydatasource.INTERVAL_US} AS BIGINT) AS ts_us",
            "CAST(3000 AS INT) AS temp_centi",
        )
        extra.coalesce(1).write.format("rtbd_manifest_sink").option("path", dst).mode(
            "append"
        ).save()  # divergence: a dst-owned file
        clone_pre = pydatasource.read_manifest(spark, dst)[0].count()
        # retention on the SOURCE: reclaims exactly the 4 pre-compaction
        # files; the head files the clone references must survive
        audit = pydatasource.vacuum(src, keep_versions=1, retention_seconds=0)
        src_listing = sorted(os.listdir(src))
        # retention on the CLONE: may only touch dst-owned artifacts
        pydatasource.vacuum(dst, keep_versions=1, retention_seconds=0)
        intact = (
            sorted(os.listdir(src)) == src_listing
            and pydatasource.read_manifest(spark, dst)[0].count() == clone_pre
        )
        state = (src, dst, int(audit["n_files_removed"]), bool(intact))
        setattr(pyds_clone_vacuum_isolation, key, state)
    src, dst, n_reclaimed, intact = state

    def side(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("side"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("temp_centi").cast("long").alias("temp_centi_total"),
            F.lit(n_reclaimed).cast("int").alias("src_files_reclaimed"),
            F.lit(intact).alias("cross_table_intact"),
        )

    src_df, _ = pydatasource.read_manifest(spark, src)
    clone_df, _ = pydatasource.read_manifest(spark, dst)
    return side("src_head", src_df).unionByName(side("clone_head", clone_df)).orderBy("side")


@register(
    "stream_offset_cursor_audit",
    oracle=f"""
    WITH feed AS ({_FEED_SQL})
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           CAST(sum(temp_centi) AS BIGINT) AS temp_centi_total,
           TRUE AS ledger_unique,
           TRUE AS replay_was_noop
    FROM feed GROUP BY sensor_id
    """,
    tags=(
        "connector",
        "python-datasource",
        "streaming-source",
        "offset-cursor",
        "checkpoint",
        "replay",
        "exactly-once",
    ),
)
def stream_offset_cursor_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE MANIFEST STREAM TAIL UNDER AN INDUCED CURSOR REPLAY
    (round-12 registration — the oracle-checked twin of the round-11
    cursor-fault machine, tests/test_lakehouse_crash_machine.py):
    output must stay EXACTLY-ONCE when the engine's offset cursor is
    forced to replay — the contract the reference's Kafka consumer
    leans on its broker for (ref:spark_streaming.py:125-130) expressed
    against this engine's own table-as-stream offsets (the manifest
    version IS the cursor).

    Shape, three runs of the same table-to-table stream
    (`rtbd_manifest_table` -> `rtbd_manifest_sink`, one checkpoint):
    run 1 tails the feed's first two appends; then the checkpoint's
    newest offsets+commits PAIR is erased — the on-disk image of an
    engine that died after the sink committed the epoch but before the
    checkpoint recorded it (the at-least-once window every streaming
    engine has).  Run 2 re-plans that batch from the prior cursor and
    re-commits it under the SAME batchId: the sink's epoch ledger must
    drop the replay bit-exactly (`replay_was_noop` pins that the sink's
    row count did not move).  Only after the replay drains does the
    third append land — run 3's recovered cursor must emit it exactly
    once.  The hashed result reads the SINK back: per-sensor counts
    equal the plain feed formula (a doubled replay, a dropped epoch,
    or a cursor that rewound past the replayed range all break it),
    and `ledger_unique` pins that no batchId committed twice.  The
    new-data append is sequenced strictly AFTER the replay drains
    because a re-planned batch that also swallowed new offsets would
    be deduped away with them — the documented batchId-idempotence
    hazard this query is shaped to avoid and the docs pin.  Scale:
    recovery reads one checkpoint + one ledger head, independent of
    history length; each epoch commits O(new files) metadata."""
    import tempfile

    key = "_stream_cursor_state"
    state = getattr(stream_offset_cursor_audit, key, None)
    if state is None or not os.path.exists(state[0]):
        base = tempfile.mkdtemp(prefix="rtbd_stream_cursor_")
        src = os.path.join(base, "table")
        out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
        pydatasource.register_sink(spark)
        feed = _read(spark)
        two_thirds = 2 * (_N_ROWS // 3)
        half = two_thirds // 2
        for cond in (
            F.col("reading_id") < half,
            (F.col("reading_id") >= half) & (F.col("reading_id") < two_thirds),
        ):
            feed.filter(cond).repartition(2).write.format("rtbd_manifest_sink").option(
                "path", src
            ).mode("append").save()

        def run() -> None:
            q = (
                spark.readStream.format("rtbd_manifest_table")
                .option("path", src)
                .load()
                .writeStream.format("rtbd_manifest_sink")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )
            q.processAllAvailable()
            q.stop()
            q.awaitTermination(30)

        run()  # run 1: drains the first two appends
        n_before = pydatasource.read_manifest(spark, out)[0].count()
        # forge the crash window: erase the newest offsets+commits pair
        # (incl. Hadoop checksum sidecars — a stale .crc makes the
        # replayed batch's log rename fail as phantom concurrent use)
        newest = max(
            int(f) for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit()
        )
        for d in ("commits", "offsets"):
            for f in (str(newest), f".{newest}.crc"):
                p = os.path.join(ckpt, d, f)
                if os.path.exists(p):
                    os.remove(p)
        run()  # run 2: induced replay of the final epoch -> ledger dedups
        replay_noop = pydatasource.read_manifest(spark, out)[0].count() == n_before
        feed.filter(F.col("reading_id") >= two_thirds).repartition(2).write.format(
            "rtbd_manifest_sink"
        ).option("path", src).mode("append").save()  # new data AFTER the replay drains
        run()  # run 3: the recovered cursor emits the new commit exactly once
        head = pydatasource.read_manifest(spark, out)[1]
        ledger_unique = sorted(head["batches"]) == sorted(set(head["batches"]))
        state = (out, bool(replay_noop), bool(ledger_unique))
        setattr(stream_offset_cursor_audit, key, state)
    out, replay_noop, ledger_unique = state
    back, _ = pydatasource.read_manifest(spark, out)
    return back.groupBy("sensor_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_readings"),
        F.sum("temp_centi").cast("long").alias("temp_centi_total"),
        F.lit(ledger_unique).alias("ledger_unique"),
        F.lit(replay_noop).alias("replay_was_noop"),
    )
