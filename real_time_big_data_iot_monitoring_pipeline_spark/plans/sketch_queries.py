"""Deterministic sketch queries (round-4 widening).

`approx_distinct_users` already covers Spark's built-in HLL (rows-only —
engine-specific registers).  This module adds a COUNT-MIN SKETCH whose
every ingredient is engine-portable — the same per-char fold hash the
portable MinHash family uses (`operators/dedup.PORTABLE_P`), Knuth-style
row seeds, fixed width — so the full sketch pipeline (hash -> bucket ->
counters -> min-estimate) is value-hash-checked against DuckDB, unusual
for a probabilistic structure.  The point the query demonstrates: sketch
ERROR IS OBSERVABLE — the output carries exact count, estimate, and the
(provably non-negative) overestimate side by side.

Scale design: term frequencies aggregate FIRST (one shuffle, vocab-sized
output); the per-token hash runs once per DISTINCT token, not per
occurrence; the counter table is d x w = 1024 rows — broadcastable
forever; estimates join probe tokens against it map-side.  At 100 TB the
only cost that grows is the initial word count, which is the canonical
scan-speed aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_big_data_iot_monitoring_pipeline_spark.operators.dedup import (
    PORTABLE_P,
    _portable_hash,
)
from real_time_big_data_iot_monitoring_pipeline_spark.plans.registry import register
from real_time_big_data_iot_monitoring_pipeline_spark.sources.tables import load_table

_D, _W = 4, 256  # sketch depth (hash rows) and width (buckets per row)

_HASH_SQL = (
    "list_reduce(list_prepend(CAST(7 AS BIGINT), "
    "list_transform(string_split(token, ''), c -> CAST(ascii(c) AS BIGINT))), "
    f"(a, b) -> (a * 131 + b) % {PORTABLE_P})"
)


@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH freq AS (
        SELECT token, CAST(count(*) AS BIGINT) AS exact_freq
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        WHERE length(token) > 0
        GROUP BY token
    ), hashed AS (
        SELECT token, exact_freq, {_HASH_SQL} AS h FROM freq
    ), buckets AS (
        SELECT token, exact_freq, i,
               ((2 * i + 1) * h + 1000003 * i) % {PORTABLE_P} % {_W} AS bucket
        FROM hashed, (SELECT unnest(generate_series(0, {_D - 1})) AS i)
    ), counters AS (
        SELECT i, bucket, sum(exact_freq) AS cnt FROM buckets GROUP BY i, bucket
    ), probes AS (
        SELECT token, exact_freq FROM freq
        ORDER BY exact_freq DESC, token LIMIT 20
    ), est AS (
        SELECT p.token, p.exact_freq, min(c.cnt) AS cms_estimate
        FROM probes p
        JOIN buckets b ON b.token = p.token
        JOIN counters c ON c.i = b.i AND c.bucket = b.bucket
        GROUP BY p.token, p.exact_freq
    )
    SELECT token, exact_freq, CAST(cms_estimate AS BIGINT) AS cms_estimate,
           CAST(cms_estimate - exact_freq AS BIGINT) AS overestimate
    FROM est
    """,
    tags=("sketch", "count-min", "approximate"),
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (d=4, w=256) over corpus tokens, evaluated on
    the 20 most frequent terms with exact count, sketch estimate, and
    the overestimate (always >= 0 — CMS never undercounts) side by side.
    Every stage is deterministic: the portable per-char fold hash runs
    once per DISTINCT token over the pre-aggregated frequency table, the
    d x w = 1024-row counter table broadcasts into the probe join, and
    the min-over-rows estimate is exact integer arithmetic — so the
    whole probabilistic structure value-hashes against the DuckDB
    replay."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_freq"))
        # the frequency table feeds THREE consumers (probes, bucket
        # fan-out, counters); without materialization Spark re-derives
        # it from the corpus each time — three corpus scans where one
        # suffices.  A lazy localCheckpoint pins the vocab-sized frame
        # on first use (same pattern as the components closure).
        .localCheckpoint(eager=False)
    )
    hashed = freq.withColumn("h", _portable_hash(F.col("token")))
    buckets = hashed.select(
        "token",
        "exact_freq",
        F.explode(F.array(*[F.lit(i) for i in range(_D)])).alias("i"),
        "h",
    ).withColumn(
        "bucket", ((2 * F.col("i") + 1) * F.col("h") + 1000003 * F.col("i")) % PORTABLE_P % _W
    )
    counters = F.broadcast(
        buckets.groupBy("i", "bucket").agg(F.sum("exact_freq").alias("cnt"))
    )
    probes = freq.orderBy(F.col("exact_freq").desc(), "token").limit(20)
    est = (
        probes.join(buckets.select("token", "i", "bucket"), "token")
        .join(counters, ["i", "bucket"])
        .groupBy("token", "exact_freq")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return est.select(
        "token",
        "exact_freq",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_freq")).alias("overestimate"),
    )


# Per-session persisted daily sketch tables, keyed by sf_dir — written
# once, then every query merges the stored sketches without rescanning
# the events table (same persist-once pattern as the IVF index).
_HLL_SKETCH_DIRS: dict[str, str] = {}


def hll_daily_sketch_dir(spark: SparkSession, sf_dir: str) -> str:
    if sf_dir not in _HLL_SKETCH_DIRS:
        import tempfile

        path = tempfile.mkdtemp(prefix="rtbd_hll_") + "/daily"
        e = load_table(spark, sf_dir, "events")
        from real_time_big_data_iot_monitoring_pipeline_spark.functions.scalars import utc_naive

        (
            e.groupBy(F.date_format(utc_naive(F.col("ts")), "yyyy-MM-dd").alias("day"))
            .agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sketch"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(path)
        )
        _HLL_SKETCH_DIRS[sf_dir] = path
    return _HLL_SKETCH_DIRS[sf_dir]


@register(
    "distinct_users_hll_daily",
    oracle=None,  # Datasketches HLL registers are engine-specific; the
    # merge-consistency and error-bound contracts are pinned by
    # tests/test_operators.py::test_hll_daily_union_consistency
    tags=("sketch", "hll", "mergeable", "persisted", "rows-only-by-design"),
)
def distinct_users_hll_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting: per-day HLL sketches (lgK=14
    Datasketches, `hll_sketch_agg`) are MATERIALIZED once as a sketch
    table, and the query computes each day's distinct users plus the
    cumulative distinct-users-to-date by UNIONING stored sketches —
    no rescan of the events table, ever.  This is the pattern that makes
    COUNT(DISTINCT) tractable on a 100 TB feed: distinct is not
    additive, but sketches are mergeable, so a day's ingest appends one
    sketch row and any date-range distinct count is a union over
    (bounded, kilobyte-sized) sketch rows instead of a full-history
    shuffle.  The cumulative union is a triangular self-join over the
    (tiny) sketch table — day count squared rows, never corpus rows.

    Rows-only by design: HLL registers are engine-specific (DuckDB has
    no Datasketches HLL), so no SQL oracle exists; the binding contracts
    — union-of-shards == sketch-of-union, relative error vs exact — are
    asserted by unit test instead."""
    path = hll_daily_sketch_dir(spark, sf_dir)
    daily = spark.read.parquet(path)
    per_day = daily.select(
        "day", F.hll_sketch_estimate("sketch").cast("long").alias("day_users_est")
    )
    cum = (
        daily.alias("d")
        .join(daily.alias("p"), F.col("p.day") <= F.col("d.day"))
        .groupBy(F.col("d.day").alias("day"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg(F.col("p.sketch"), F.lit(False)))
            .cast("long")
            .alias("cum_users_est")
        )
    )
    return per_day.join(cum, "day").orderBy("day")


@register(
    "quantile_approx_error_audit",
    oracle=None,  # percentile_approx's merge result depends on partition
    # layout (Greenwald-Khanna summaries), so no cross-engine hash
    # exists; the error-bound contract is pinned by
    # tests/test_operators.py::test_quantile_approx_error_bounded
    tags=("sketch", "quantile", "approximation", "rows-only-by-design"),
)
def quantile_approx_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-observable approximate quantiles: per event type, the exact
    p50/p95/p99 of `value` next to `percentile_approx` (accuracy 1000)
    and the absolute error — the third member of the
    approximation-with-visible-error family (count-min overestimates,
    HLL relative error, quantile rank error).  At 100 TB the exact
    percentile's full sort per group is the cost ceiling and the GK
    summary is the practical path; this query is the calibration that
    justifies the swap, run on a sample or a canary slice."""
    e = load_table(spark, sf_dir, "events")
    qs = [0.5, 0.95, 0.99]
    # one exact-percentile buffer and ONE approx sketch for all three
    # fractions (separate calls built three full-column buffers and
    # three independent GK sketches; round-12: see aggregates.describe)
    q_arr = ", ".join(str(q) for q in qs)
    exact = [
        F.element_at(F.expr(f"percentile(value, array({q_arr}))"), i + 1).alias(
            f"exact_p{int(q * 100)}"
        )
        for i, q in enumerate(qs)
    ]
    approx = [
        F.element_at(F.expr(f"percentile_approx(value, array({q_arr}), 1000)"), i + 1).alias(
            f"approx_p{int(q * 100)}"
        )
        for i, q in enumerate(qs)
    ]
    out = e.groupBy("event_type").agg(*exact, *approx)
    errs = [
        F.abs(F.col(f"approx_p{int(q * 100)}") - F.col(f"exact_p{int(q * 100)}")).alias(
            f"abs_err_p{int(q * 100)}"
        )
        for q in qs
    ]
    return out.select("event_type", *[c for q in qs for c in
                                      (F.col(f"exact_p{int(q*100)}"), F.col(f"approx_p{int(q*100)}"))],
                      *errs)


def _spacesaving_candidates(toks: DataFrame, m: int) -> DataFrame:
    """Per-partition MISRA-GRIES frequent-items sketch (the batch
    variant of Space-Saving; Misra & Gries 1982 / Metwally et al. 2005,
    public) over a `term` column, Arrow-batched: each task folds its
    partition into <= m counters by merging per-batch value_counts and,
    when the table exceeds m keys, subtracting the (m+1)-th largest
    count from ALL keys and dropping the non-positive — each decrement
    round removes >= cut*(m+1) mass, so any key's total decrement is
    <= n_p/(m+1) and every term with partition frequency > n_p/m
    SURVIVES.  By pigeonhole, any term with GLOBAL frequency > N/m is
    then in some partition's sketch under ANY partitioning — which is
    exactly what makes the 2-pass exact plan below
    partition-invariant.  Two measured kernel choices: sketch over a
    JVM-side `xxhash64` of the term (int64 Arrow transfer; a collision
    can only ADD a false candidate, never drop a true one) and the
    fully VECTORIZED decrement prune — the per-item Space-Saving
    eviction loop was measured 6x slower END-TO-END on a long-tail
    stream (22.7 s vs 3.6 s at 5M tokens; an O(m) min-scan fires per
    unique tail term), and the vectorized plan crosses over the naive
    full-vocabulary GROUP BY at ~20M tokens / 4.5M vocab on local[8]
    (7.3 s vs 9.7 s) while emitting ~90 candidates instead of
    shuffling millions of keys (PERF.md, "Round-6 continuation
    probes")."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F811

    hashed = toks.select(F.xxhash64("term").alias("th"))

    def run(batches):
        counts = pd.Series(dtype="int64")
        for pdf in batches:
            counts = counts.add(pdf["th"].value_counts(), fill_value=0)
            if len(counts) > m:
                # batch Misra-Gries decrement: subtract the smallest cut
                # that leaves <= m keys positive, drop the rest.  Every
                # decrement round removes >= cut*m mass, and total mass
                # is n_p, so any key's total decrement <= n_p/m — the
                # same survival bound as per-item Space-Saving, fully
                # vectorized (per-item eviction was the measured
                # bottleneck: an O(m) min-scan per long-tail term).
                cut = counts.nlargest(m + 1).iloc[-1]
                counts = counts - cut
                counts = counts[counts > 0]
        yield pd.DataFrame({"th": counts.index.to_numpy(dtype="int64")})

    return hashed.mapInPandas(run, schema="th long").distinct()


@register(
    "heavy_hitters_exact_2pass",
    oracle="""
    WITH toks AS (
        SELECT unnest(list_filter(string_split(lower(text), ' '), x -> length(x) > 0)) AS term
        FROM documents
    ),
    counts AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM counts)
    SELECT term, n, (n * 1000000) // tot.nt AS share_micro
    FROM counts CROSS JOIN tot
    WHERE 200 * n > tot.nt
    ORDER BY n DESC, term
    """,
    tags=("sketch", "heavy-hitters", "space-saving", "two-pass-exact"),
)
def heavy_hitters_exact_2pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters (terms above 1/200 of corpus tokens) via the
    2-pass sketch-then-verify plan — the pattern that finds frequent
    items WITHOUT a full-vocabulary shuffle: pass 1 folds each
    partition into a 400-counter Space-Saving sketch (map-side only, no
    shuffle; candidate set is a guaranteed SUPERSET of every term above
    N/400 — see `_spacesaving_candidates`), pass 2 re-counts ONLY the
    candidates exactly (broadcast semi-join filter pushes into the
    scan) and keeps those above the threshold as an exact integer
    comparison 200*n > N.  The final answer is EXACT and
    partition-invariant even though the intermediate candidate set is
    not — which is precisely what the oracle (plain GROUP BY + HAVING)
    and the partition-invariance suite verify.  At 100 TB: pass 1
    shuffles nothing and the verify pass aggregates a few hundred keys;
    the CMS/KLL family sketches answer point/quantile queries, this
    answers the top-of-distribution census exactly."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), " "), lambda x: F.length(x) > 0)
        ).alias("term")
    )
    cands = F.broadcast(_spacesaving_candidates(toks, m=400))
    tot = F.broadcast(toks.agg(F.count(F.lit(1)).alias("nt")))
    exact = (
        toks.withColumn("th", F.xxhash64("term"))
        .join(cands, "th", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        exact.crossJoin(tot)
        .where(200 * F.col("n") > F.col("nt"))
        .select("term", F.col("n").cast("long").alias("n"), F.expr("(n * 1000000L) div nt").alias("share_micro"))
        .orderBy(F.col("n").desc(), "term")
    )
