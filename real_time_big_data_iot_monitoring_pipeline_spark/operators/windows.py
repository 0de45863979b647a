"""Analytic window-function operators (SURVEY §2.5-2.6).

Every window here partitions by a group key before ordering — a global
`Window.orderBy` with no partition collapses to a single task and is a
100 TB anti-pattern, so the engine never emits one.  Ties are always
broken by a unique id so results are deterministic across engines
(SURVEY §7 risk 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from real_time_big_data_iot_monitoring_pipeline_spark.functions.scalars import as_cents, round_det


def _win(partition: str, order: list[str]):
    return Window.partitionBy(partition).orderBy(*[F.col(c) for c in order])


def rolling_avg(
    df: DataFrame,
    partition: str,
    order: list[str],
    col: str,
    frame: int = 20,
    out: str = "rolling_avg",
) -> DataFrame:
    """20-row trailing moving average (reference
    ``streamlit_dashboard.py:676-677`` `rolling(20, min_periods=1)`): the
    leading shrinking frame of ROWS BETWEEN N-1 PRECEDING AND CURRENT ROW
    reproduces pandas `min_periods=1` exactly.  The mean is computed over
    the exact integer (cents) representation so the result is independent
    of the engine's frame-summation strategy."""
    w = _win(partition, order).rowsBetween(-(frame - 1), 0)
    mean = F.sum(as_cents(F.col(col))).over(w) / (F.lit(100.0) * F.count(col).over(w))
    return df.withColumn(out, round_det(mean, 4))


def topn_per_group(df: DataFrame, partition: str, order_desc: list[str], n: int) -> DataFrame:
    """Latest-N rows per group (reference tail-N `.iloc[-20:]`,
    ``streamlit_dashboard.py:689``). row_number + filter: Spark pushes the
    rank limit into the sort within each partition."""
    w = Window.partitionBy(partition).orderBy(*[F.col(c).desc() for c in order_desc])
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= n)


def elapsed_seconds(df: DataFrame, partition: str, ts_col: str, out: str = "elapsed_s") -> DataFrame:
    """Seconds since the group's first observation (regression feature,
    reference ``streamlit_dashboard.py:708``)."""
    w = Window.partitionBy(partition)
    e = F.unix_micros(F.col(ts_col))
    return df.withColumn(out, ((e - F.min(e).over(w)) / F.lit(1000000.0)))


def elapsed_micros(df: DataFrame, partition: str, ts_col: str, out: str = "x_us") -> DataFrame:
    """Exact-integer twin of `elapsed_seconds`: microseconds since the
    group's first observation, kept as a long so downstream moment sums
    (`regression.fit_per_group_exact`) stay exact."""
    w = Window.partitionBy(partition)
    e = F.unix_micros(F.col(ts_col))
    return df.withColumn(out, e - F.min(e).over(w))


def rolling_median(
    df: DataFrame,
    partition: str,
    order: list[str],
    col: str,
    frame: int = 5,
    out: str = "rolling_median",
) -> DataFrame:
    """Trailing rolling MEDIAN — the outlier-robust smoother a noisy
    sensor feed needs where the rolling mean chases spikes.  Exact
    interpolated percentile over the trailing frame (both engines use
    linear interpolation, and `grouped_percentiles` already proves the
    formulas agree); partitioned by series, ties broken on the unique
    order key."""
    w = _win(partition, order).rowsBetween(-(frame - 1), 0)
    return df.withColumn(out, round_det(F.expr(f"percentile({col}, 0.5)").over(w), 4))


def _ranged_pinned(df: DataFrame, cols) -> DataFrame:
    """Range-repartition on the ordering, stamp ``spark_partition_id``,
    and PIN the result with a lazy ``localCheckpoint`` before it is
    consumed twice (the rank/prefix pass and the per-partition-count
    pass that feeds the broadcast offset map).

    The pin is load-bearing for CORRECTNESS, not a cache.  Without it
    the two consumers compile to two INDEPENDENT range exchanges
    (column pruning narrows the count branch's projection, so
    ReuseExchange cannot dedup them), and nothing makes two executions
    of a range exchange agree on partition identity: AQE coalesces each
    exchange by ITS OWN runtime byte sizes (the narrow count branch
    coalesces harder than the wide rank branch), and boundary sampling
    is seeded per execution.  Divergent pid spaces feed an offset map
    built for one partitioning into ranks computed under another —
    observed as `layout_zorder_stats` at sf0.1 collapsing its 64 NTILE
    buckets to 29 while every smaller scale stayed green (round-12
    full-catalog sf0.1 sweep; the custkey layout in the same plan was
    unaffected only because its two exchanges happened to coalesce
    alike).  Materializing the ranged pass once makes every consumer
    read the SAME physical partitions, and also REMOVES a full
    key-column range shuffle (the count branch re-shuffled before).
    The pin is executor-local MEMORY_AND_DISK with lineage truncation —
    the same tradeoff `kcore_decomposition` already prices for its
    iterative peeling."""
    ranged = df.repartitionByRange(*cols).withColumn("_gnt_pid", F.spark_partition_id())
    return ranged.localCheckpoint(eager=False)


def global_ntile(df: DataFrame, order_cols, n: int, out: str = "band") -> DataFrame:
    """Exact NTILE(n) over a TOTAL order WITHOUT a data-sized global
    window — the scale-safe replacement for ``Window.orderBy`` banding
    (reference dashboard quantile-band segmentation; the round-4 verdict
    asked for this swap to be code, not prose).

    Plan shape (every stage bounded or data-parallel):

    1. ``repartitionByRange`` on the ordering: rows land in P
       range-ordered partitions (sampled bounds; correctness does not
       depend on where the cuts fall, only that partitions are ordered).
    2. ``row_number`` partitioned by ``spark_partition_id()`` — a
       per-partition local rank, never a single-task sort.
    3. Per-partition counts fold into ONE broadcast row holding a
       pid -> preceding-row-count map plus the total N, built with
       ``collect_list``/``aggregate`` JVM expressions (same 1-row
       broadcast pattern as the Bloom bitset in
       ``plans/matching_queries.py``) — P entries, never data-sized,
       no driver collect.
    4. global_rank = offset[pid] + local_rank, and the band replays
       NTILE's uneven-bucket rule exactly:  with q = N div n,
       r = N mod n, the first r buckets carry q+1 rows.

    Requires a unique ordering (pass a tie-break column) — with ties
    straddling a range boundary the global rank, like NTILE's, would be
    ambiguous.  Helper columns are dropped; the input column set plus
    ``out`` comes back."""
    joined = _global_rank(df, order_cols).withColumn("_gnt_q", F.expr(f"_gnt_off.total div {n}")).withColumn(
        "_gnt_r", F.expr(f"_gnt_off.total % {n}")
    )
    # NTILE's uneven-bucket rule via exact integral `div` (never double):
    # the first r buckets hold q+1 rows each, the rest q rows.
    band = F.expr(
        "CAST(CASE WHEN _gnt_i < _gnt_r * (_gnt_q + 1)"
        "          THEN _gnt_i div (_gnt_q + 1)"
        "          ELSE _gnt_r + (_gnt_i - _gnt_r * (_gnt_q + 1)) div _gnt_q"
        "     END + 1 AS INT)"
    )
    return joined.withColumn(out, band).drop(
        "_gnt_pid", "_gnt_rn", "_gnt_off", "_gnt_i", "_gnt_q", "_gnt_r"
    )


def global_row_number(df: DataFrame, order_cols, out: str = "rank") -> DataFrame:
    """Exact 1-based global row_number over a TOTAL order with the same
    no-single-task plan as `global_ntile` (range repartition →
    per-partition rank → 1-row broadcast offset map).  Requires a
    unique ordering; returns the input columns plus ``out`` (long)."""
    return (
        _global_rank(df, order_cols)
        .withColumn(out, (F.col("_gnt_i") + 1).cast("long"))
        .drop("_gnt_pid", "_gnt_rn", "_gnt_off", "_gnt_i")
    )


def global_running_sum(df: DataFrame, order_cols, weight_col: str, out: str = "running") -> DataFrame:
    """Exact global prefix sum of `weight_col` (long) over a TOTAL
    order, same no-single-task plan as `global_ntile`: range repartition
    → per-partition cumulative sum → P-entry broadcast map of preceding
    partitions' weight totals.  `out` includes the current row's weight
    (inclusive prefix sum); a `_grs_total` long column carries the grand
    total on every row (it is a broadcast scalar, not a window).
    Requires a unique ordering — this is the scale-safe kernel for
    weighted medians / quantile fences / running shares."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ranged = _ranged_pinned(df, cols)
    local = ranged.withColumn(
        "_gnt_ws",
        F.sum(weight_col).over(
            Window.partitionBy("_gnt_pid")
            .orderBy(*cols)
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    counts = ranged.groupBy("_gnt_pid").agg(F.sum(weight_col).alias("_gnt_cnt"))
    offsets = _pid_offsets(counts)
    return (
        local.crossJoin(F.broadcast(offsets))
        .withColumn(
            out,
            F.coalesce(F.element_at(F.col("_gnt_off.m"), F.col("_gnt_pid")), F.lit(0))
            + F.col("_gnt_ws"),
        )
        .withColumn("_grs_total", F.col("_gnt_off.total"))
        .drop("_gnt_pid", "_gnt_ws", "_gnt_off")
    )


def global_running_max(
    df: DataFrame, order_cols, value_col: str, out: str = "run_max", inclusive: bool = True
) -> DataFrame:
    """Exact global running MAX of `value_col` (long) over a TOTAL
    order, same no-single-task plan as the other global kernels.  With
    ``inclusive=False`` the prefix EXCLUDES the current row (the shape a
    skyline/frontier scan needs: "best value among all strictly-earlier
    rows"), and the first row's prefix is NULL.  Requires a unique
    ordering."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ranged = _ranged_pinned(df, cols)
    frame_end = 0 if inclusive else -1
    local = ranged.withColumn(
        "_gnt_lm",
        F.max(value_col).over(
            Window.partitionBy("_gnt_pid")
            .orderBy(*cols)
            .rowsBetween(Window.unboundedPreceding, frame_end)
        ),
    )
    counts = ranged.groupBy("_gnt_pid").agg(F.max(value_col).alias("_gnt_cnt"))
    # prefix-max fold over the P-entry per-partition maxima: map each pid
    # to the max over all PRECEDING partitions (null for the first).
    offsets = counts.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("_gnt_pid", "_gnt_cnt"))),
            F.struct(
                F.lit(None).cast("long").alias("run"),
                F.map_from_arrays(
                    F.array().cast("array<int>"), F.array().cast("array<long>")
                ).alias("m"),
            ),
            lambda acc, x: F.struct(
                F.greatest(acc["run"], x["_gnt_cnt"]).alias("run"),
                F.map_concat(
                    acc["m"],
                    F.create_map(
                        x["_gnt_pid"],
                        F.coalesce(acc["run"], F.lit(None).cast("long")),
                    ),
                ).alias("m"),
            ),
        ).alias("_gnt_off")
    )
    return (
        local.crossJoin(F.broadcast(offsets))
        .withColumn(
            out,
            F.greatest(
                F.element_at(F.col("_gnt_off.m"), F.col("_gnt_pid")), F.col("_gnt_lm")
            ),
        )
        .drop("_gnt_pid", "_gnt_lm", "_gnt_off")
    )


def _global_rank(df: DataFrame, order_cols) -> DataFrame:
    """Shared kernel: adds `_gnt_i` (0-based exact global rank under
    `order_cols`) and `_gnt_off` (struct holding total row count) via
    range repartition + per-partition row_number + a P-entry broadcast
    offset map — no data-sized single-partition exchange anywhere."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ranged = _ranged_pinned(df, cols)
    local = ranged.withColumn(
        "_gnt_rn", F.row_number().over(Window.partitionBy("_gnt_pid").orderBy(*cols))
    )
    counts = ranged.groupBy("_gnt_pid").agg(F.count(F.lit(1)).alias("_gnt_cnt"))
    offsets = _pid_offsets(counts)
    return local.crossJoin(F.broadcast(offsets)).withColumn(
        "_gnt_i",
        F.element_at(F.col("_gnt_off.m"), F.col("_gnt_pid")) + F.col("_gnt_rn") - F.lit(1),
    )


def _pid_offsets(counts: DataFrame) -> DataFrame:
    """Fold per-partition totals (_gnt_pid, _gnt_cnt) into ONE row:
    `_gnt_off.m` maps pid -> sum of all PRECEDING partitions' totals,
    `_gnt_off.total` is the grand total.  P entries, never data-sized,
    no driver collect (same 1-row broadcast pattern as the Bloom
    bitset)."""
    return counts.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("_gnt_pid", "_gnt_cnt"))),
            F.struct(
                F.lit(0).cast("long").alias("total"),
                F.map_from_arrays(
                    F.array().cast("array<int>"), F.array().cast("array<long>")
                ).alias("m"),
            ),
            lambda acc, x: F.struct(
                (acc["total"] + x["_gnt_cnt"]).alias("total"),
                F.map_concat(
                    acc["m"], F.create_map(x["_gnt_pid"], acc["total"])
                ).alias("m"),
            ),
        ).alias("_gnt_off")
    )
