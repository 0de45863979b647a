"""SparkSession factory with defaults tuned for both local testing and
large-cluster execution.

The reference builds its session at ``spark_streaming.py:93-111`` (local[*],
a checkpoint dir, Kafka package). We add the scale-oriented knobs the
reference never needed: AQE (runtime re-planning, skew-join splitting,
partition coalescing), Arrow for any Python<->JVM data exchange, an
explicit UTC session timezone so event-time semantics are host-independent,
and a generated-class cache that holds the engine's working set, so a
repeated plan is not recompiled.  That cache size is a static conf: it
applies only when ``get_session`` starts the JVM's first session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Conf applied to every session we build.  All of these are safe on a
#: 1000-executor cluster; none are local-mode hacks.
ENGINE_CONF: dict[str, str] = {
    # Runtime adaptivity: coalesce small shuffle partitions, split skewed
    # ones, convert sort-merge joins to broadcast when the built side turns
    # out small.  Essential at 100 TB where static planning guesses wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow-accelerated transfers for toPandas / pandas UDFs (the decode /
    # feature-extract operators in operators/multimodal.py live on this).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Event-time determinism: the engine's outputs must not depend on the
    # host timezone.  All catalog queries additionally emit epoch integers
    # rather than rendered timestamps (see plans/catalog.py).
    "spark.sql.session.timeZone": "UTC",
    # The driver fixtures store timestamps as parquet TIMESTAMP(MICROS)
    # with isAdjustedToUTC=false; Spark 4 would infer TIMESTAMP_NTZ for
    # those, which breaks epoch arithmetic (`unix_micros`) and diverges
    # from DuckDB's naive-as-UTC reading.  Disabling inference reads them
    # as plain TIMESTAMP (instants, UTC session) — bit-identical epochs
    # on both engines.  Runtime-settable.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Older fixture generations stored TIMESTAMP(NANOS,false), which the
    # vectorized reader rejects outright; keep the raw-nanos escape hatch
    # so those files stay readable (sources/tables.py converts).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Exchange reuse + pushdown are on by default; stated for visibility.
    "spark.sql.parquet.filterPushdown": "true",
    # The generated-class cache is an LRU.  Spark's default of 100 entries
    # is smaller than one dashboard refresh, which walks its classes in the
    # same order every time, so a warm refresh recompiled nearly all of
    # them with Janino.  Measured working sets (distinct classes, nothing
    # evicted): one perfbench dashboard refresh ~148, a whole perfbench
    # stream_ingest run 60, one bench.py run on local[2] 893 at sf0.01 and
    # 956 at sf0.1.  Static: it takes effect only when get_session starts
    # the JVM's first session, so it is not re-asserted below.
    "spark.sql.codegen.cache.maxEntries": "2048",
}


def get_session(
    app_name: str = "real-time-big-data-iot-monitoring-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract)
    so tests and bench share one code path; on a real cluster the caller
    passes nothing and spark-submit supplies the master.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    conf = dict(ENGINE_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate may have returned a pre-existing session (the driver's):
    # re-assert the runtime-settable confs the engine relies on.
    for k in (
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
        "spark.sql.adaptive.enabled",
    ):
        spark.conf.set(k, ENGINE_CONF[k])
    return spark
