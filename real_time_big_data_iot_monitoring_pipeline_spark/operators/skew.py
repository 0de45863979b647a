"""Skew-aware aggregation: two-stage salted aggregation for hot keys.

At 100 TB a handful of hot group keys (one viral sensor, one dominant
event type) turn a hash aggregation's reduce side into a straggler: all
rows for the hot key land on one task.  AQE's skew-join splitting covers
joins, but a skewed AGGREGATION key needs salting: stage 1 aggregates on
(key, salt) — spreading the hot key over `salt_buckets` tasks — and
stage 2 merges the per-salt partials.

Only algebraic aggregates decompose this way; this module provides the
common ones (count / sum / min / max / avg-from-sum-count).  The result
is identical to the direct aggregation (tests assert equality), the cost
is one extra (cheap, `salt_buckets`x smaller) shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_big_data_iot_monitoring_pipeline_spark.functions.scalars import as_cents, round_det


def salted_value_stats(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """count / sum(cents) / min / max / avg per key via two-stage salted
    aggregation.  The salt is a deterministic hash of a high-cardinality
    payload column position — `spark_partition_id` + a per-row monotonic
    component would break determinism, so we hash the value itself."""
    salt = F.pmod(F.xxhash64(F.col(value_col)), F.lit(salt_buckets)).alias("_salt")
    partial = (
        df.groupBy(*keys, salt)
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.sum(as_cents(F.col(value_col))).alias("_sum_c"),
            F.min(value_col).alias("_min"),
            F.max(value_col).alias("_max"),
        )
    )
    return (
        partial.groupBy(*keys)
        .agg(
            F.sum("_cnt").alias("cnt"),
            round_det(F.sum("_sum_c") / (F.lit(100.0) * F.sum("_cnt")), 4).alias("avg_value"),
            F.min("_min").alias("min_value"),
            F.max("_max").alias("max_value"),
        )
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join: salt the FACT side's key with a deterministic
    per-row bucket, replicate the (small) DIM side across all buckets,
    and join on (key, salt).  A hot fact key then spreads over
    `salt_buckets` reduce tasks instead of landing on one straggler.

    This is the manual fallback where AQE's skew-join splitting cannot
    apply (e.g. the build side is too large to broadcast but the
    partition split heuristics miss, or a deterministic plan is required
    for a replayed pipeline).  Measured at 20M rows with a 60%-hot key
    (PERF.md, "Scale probe — skewed join mitigation"): AQE's runtime
    split wins 3.04x vs 1.20x for this salt — prefer AQE where it
    applies; the salt's cost is the `salt_buckets`x dim replication.
    The dim side grows `salt_buckets`x — appropriate when |dim| <<
    |fact|, the same regime as a broadcast.

    The salt hashes a monotonically-unique fact column when available;
    here we hash ALL fact columns (`xxhash64(*)`), which is deterministic
    for fixed row content and spreads duplicate keys regardless of
    payload distribution.  Results are identical to the direct join
    (property-tested)."""
    fact_salted = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(salt_buckets))
    )
    dim_rep = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = fact_salted.join(dim_rep, [key, "_salt"], how)
    return out.drop("_salt")
