"""Batch table loaders over the driver's parquet fixtures.

Columnar parquet replaces the reference's row-oriented PostgreSQL storage
(``init.sql:2-26``): filters and column projections push into the scan
(Catalyst `PushedFilters` / `ReadSchema`), which at 100 TB is the moral
equivalent of the reference's B-tree range scans (``init.sql:29-31``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing timestamp types.

    The fixtures store timestamps as parquet TIMESTAMP(MICROS,
    isAdjustedToUTC=false).  Spark 4's default NTZ inference would read
    those as TIMESTAMP_NTZ — breaking epoch arithmetic (`unix_micros`
    rejects NTZ) and diverging from DuckDB, which treats naive micros as
    plain TIMESTAMP.  We disable inference so the stored micros are read
    as instants (session tz is pinned to UTC), giving both engines
    bit-identical epoch values.  Two fallbacks keep older fixture
    generations working: a TIMESTAMP(NANOS) file arrives as a raw long
    (``nanosAsLong``) and is truncated to micros exactly like DuckDB
    narrows TIMESTAMP_NS; an NTZ column that slips through (conf set
    after a cached scan) is cast to TIMESTAMP under the UTC session —
    value-preserving.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df
