"""Property-based tests (hypothesis) for the cross-engine determinism
layer: the cents-exact aggregation helpers must be invariant to
partitioning/summation order for arbitrary fixed-decimal inputs, and the
salted skew aggregation must equal the direct aggregation."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from real_time_big_data_iot_monitoring_pipeline_spark.functions.scalars import avg_fixed, sum_fixed
from real_time_big_data_iot_monitoring_pipeline_spark.operators.skew import salted_value_stats

# 2dp decimals in the fixture's magnitude range
two_dp = st.integers(min_value=-50000, max_value=50000).map(lambda c: c / 100.0)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(two_dp, min_size=2, max_size=60), st.integers(min_value=1, max_value=7))
def test_fixed_aggregates_partition_invariant(spark, values, nparts):
    """avg/sum over the cents path give bit-identical results no
    matter how rows are partitioned (the property plain float sums lack),
    and agree with exact Fraction arithmetic to within the epsilon round."""
    from fractions import Fraction

    df = spark.createDataFrame([(v,) for v in values], ["x"]).repartition(nparts)
    row = df.agg(
        avg_fixed(F.col("x")).alias("a"),
        sum_fixed(F.col("x")).alias("s"),
    ).collect()[0]

    df1 = spark.createDataFrame([(v,) for v in values], ["x"]).coalesce(1)
    row1 = df1.agg(
        avg_fixed(F.col("x")).alias("a"),
        sum_fixed(F.col("x")).alias("s"),
    ).collect()[0]
    assert (row.a, row.s) == (row1.a, row1.s)

    cents = [Fraction(round(v * 100)) for v in values]
    exact_avg = float(sum(cents) / (100 * len(cents)))
    assert row.a == pytest.approx(exact_avg, abs=5.1e-5 + 1e-8)
    exact_sum = float(sum(cents) / 100)
    assert row.s == pytest.approx(exact_sum, abs=5.1e-3 + 1e-8)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.sampled_from(["hot", "a", "b"]), two_dp), min_size=3, max_size=80
    )
)
def test_salted_agg_equals_direct(spark, rows):
    """Two-stage salted aggregation == direct aggregation, always."""
    df = spark.createDataFrame(rows, ["k", "x"]).repartition(4)
    salted = {
        r.k: (r.cnt, r.avg_value, r.min_value, r.max_value)
        for r in salted_value_stats(df, ["k"], "x", salt_buckets=8).collect()
    }
    direct = {
        r.k: (r.cnt, r.avg_value, r.min_value, r.max_value)
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            avg_fixed(F.col("x")).alias("avg_value"),
            F.min("x").alias("min_value"),
            F.max("x").alias("max_value"),
        )
        .collect()
    }
    assert salted == direct
