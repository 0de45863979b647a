"""Bucketed-table co-located joins: pre-shuffling both sides of a
recurring join key into the same bucket layout removes the exchange from
every subsequent join — at 100 TB this is the difference between
re-shuffling the fact table per query and never shuffling it again."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_big_data_iot_monitoring_pipeline_spark.sources.tables import load_table
from tests.test_plans import plan_of


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    for name in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("b_orders")
    )
    (
        l.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("b_lineitem")
    )
    return spark.table("b_orders"), spark.table("b_lineitem")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    """Equi-join on the bucketing key: both sides are already co-located,
    so the physical plan must contain NO shuffle exchange."""
    bo, bl = bucketed_tables
    # force a sort-merge join (at this tiny SF Spark would broadcast,
    # which contains no exchange trivially — the claim under test is that
    # an SMJ on the bucket key needs no shuffle)
    joined = bl.hint("merge").join(bo, bl.l_orderkey == bo.o_orderkey).select(
        "l_orderkey", "l_quantity", "o_totalprice"
    )
    plan = plan_of(joined, "simple")
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_bucketed_join_matches_unbucketed(spark, sf_dir, bucketed_tables):
    """Co-location is a physical property only — results are identical."""
    bo, bl = bucketed_tables
    bucketed = (
        bl.join(bo, bl.l_orderkey == bo.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    plain = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    assert sorted(map(tuple, bucketed.collect())) == sorted(map(tuple, plain.collect()))
