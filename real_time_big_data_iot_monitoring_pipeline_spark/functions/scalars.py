"""Scalar expression library — the reference's §2.8 surface as Spark
column expressions (zero Python UDFs; everything stays inside whole-stage
codegen).

Reference citations per function are in the docstrings; thresholds mirror
``streamlit_dashboard.py:49-51`` and the severity/status CASE chains at
``streamlit_dashboard.py:273-289,769-777``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Alert thresholds (reference ``streamlit_dashboard.py:49-51``).
TEMP_HIGH = 30.0
TEMP_LOW = 15.0
HUMIDITY_HIGH = 80.0

# Critical bands for severity classification
# (reference ``streamlit_dashboard.py:273-289``, ``app.py:206-211``).
TEMP_CRITICAL_HIGH = 35.0
TEMP_CRITICAL_LOW = 10.0
HUMIDITY_CRITICAL = 90.0


def clean_label(col: Column | str) -> Column:
    """``location.replace('_',' ').title()`` — reference
    ``streamlit_dashboard.py:62-64`` — as a codegen'd expression."""
    return F.initcap(F.regexp_replace(F.col(col) if isinstance(col, str) else col, "_", " "))


def clip(col: Column, lo: float, hi: float) -> Column:
    """``np.clip`` equivalent (reference ``app.py:94,100``)."""
    return F.least(F.greatest(col, F.lit(lo)), F.lit(hi))


def severity(metric: Column, critical_above: float | None = None, critical_below: float | None = None) -> Column:
    """Threshold-band severity CASE (reference ``streamlit_dashboard.py:273-289``)."""
    cond = F.lit(False)
    if critical_above is not None:
        cond = cond | (metric > F.lit(critical_above))
    if critical_below is not None:
        cond = cond | (metric < F.lit(critical_below))
    return F.when(cond, F.lit("critical")).otherwise(F.lit("warning"))


def status_color(temp: Column) -> Column:
    """Temperature -> status color CASE (reference
    ``streamlit_dashboard.py:769-777``, ``app.py:551-553``)."""
    return (
        F.when(temp > F.lit(TEMP_HIGH), F.lit("red"))
        .when(temp < F.lit(TEMP_LOW), F.lit("blue"))
        .otherwise(F.lit("green"))
    )


# --- session-timezone-proof timestamp helpers -------------------------------
# The fixtures store naive micros that both engines read as UTC instants
# (sources/tables.py).  The driver runs the catalog in ITS OWN session,
# whose timezone we don't control, so every timestamp literal and every
# rendered date must be written in session-tz-independent form: a
# `TIMESTAMP '...'` literal or `date_format(ltz_col, ...)` silently
# re-interprets under the session zone and shifts the result.


def utc_ts(naive: str) -> Column:
    """Foldable instant literal for a naive-UTC datetime string
    ('YYYY-MM-DD HH:MM:SS').  `timestamp_seconds(epoch)` constructs the
    instant from epoch arithmetic, so the bound is identical under any
    session timezone AND remains a plain column-vs-literal comparison
    that pushes into the parquet scan."""
    from datetime import datetime, timezone

    dt = datetime.strptime(naive, "%Y-%m-%d %H:%M:%S").replace(tzinfo=timezone.utc)
    return F.timestamp_seconds(F.lit(int(dt.timestamp())))


def utc_naive(col: Column | str) -> Column:
    """Session-tz-proof rendering: convert an instant column to the
    TIMESTAMP_NTZ of its UTC reading, so `date_format` / `year` / `to_date`
    on the result extract the same fields under any session timezone."""
    c = F.col(col) if isinstance(col, str) else col
    return F.convert_timezone(None, F.lit("UTC"), c)


# --- decimal-exact aggregation helpers --------------------------------------
# The fixture metrics are fixed-decimal (2dp) doubles.  Two cross-engine
# hazards make naive ROUND(avg(x), p) non-portable:
#   1. float sums are summation-order-dependent -> last-ulp differences;
#   2. fixed-decimal data lands EXACTLY on .5 rounding boundaries, where
#      Java (shortest-decimal-string HALF_UP) and C/DuckDB (binary *10^p
#      + .5) legitimately disagree (observed: 66.55375 -> .5538 vs .5537).
# Fix for (1): aggregate the exact integer representation (cents) so every
# sum is exact and downstream IEEE ops are bit-identical regardless of
# partitioning.  Fix for (2): break rounding ties consistently upward by
# adding ROUND_EPS before rounding — applied identically in the oracle SQL,
# it moves results off the .5 grid without disturbing non-boundary values
# (decimal-grid spacing >> ROUND_EPS).

ROUND_EPS = 1e-8


def round_det(col: Column, out: int) -> Column:
    """Cross-engine-deterministic ROUND for float expressions."""
    return F.round(col + F.lit(ROUND_EPS), out)


def round_det_sql(expr: str, out: int) -> str:
    return f"ROUND(({expr}) + 1e-8, {out})"


def as_cents(col: Column, decimals: int = 2) -> Column:
    """Exact integer representation of a fixed-decimal double."""
    return F.round(col * (10 ** decimals), 0).cast("long")


def avg_fixed(col: Column, decimals: int = 2, out: int = 4) -> Column:
    """Order-independent average of a fixed-decimal column (aggregate)."""
    scale = float(10 ** decimals)
    return round_det(F.sum(as_cents(col, decimals)) / (F.lit(scale) * F.count(col)), out)


def sum_fixed(col: Column, decimals: int = 2, out: int = 2) -> Column:
    """Order-independent sum of a fixed-decimal column (aggregate)."""
    scale = float(10 ** decimals)
    return round_det(F.sum(as_cents(col, decimals)) / F.lit(scale), out)


def corr_int(x: Column, y: Column, out: int = 4) -> Column:
    """Order-independent Pearson correlation of two INTEGER-valued columns
    via exact moments (corr is scale/shift-invariant, so fixed-decimal
    inputs are passed as their integer representations)."""
    xd = x.cast("decimal(38,0)")  # decimal(38,0): exact past the int64 cliff (round-11 scale audit)
    yd = y.cast("decimal(38,0)")
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum(x).cast("double")
    sy = F.sum(y).cast("double")
    sxx = F.sum(xd * xd).cast("double")
    syy = F.sum(yd * yd).cast("double")
    sxy = F.sum(xd * yd).cast("double")
    num = n * sxy - sx * sy
    den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    # try_divide: ANSI mode errors on x/0; DuckDB yields NULL — match it.
    return round_det(F.try_divide(num, den), out)


def avg_fixed_sql(col: str, decimals: int = 2, out: int = 4) -> str:
    """DuckDB twin of avg_fixed (identical IEEE op sequence)."""
    scale = 10 ** decimals
    return round_det_sql(
        f"sum(CAST(round({col} * {scale}, 0) AS BIGINT)) / ({scale}.0 * count({col}))", out
    )


def corr_int_sql(x: str, y: str, out: int = 4) -> str:
    n = "CAST(count(*) AS DOUBLE)"
    return round_det_sql(
        f"({n} * CAST(sum(({x}) * ({y})) AS DOUBLE)"
        f" - CAST(sum({x}) AS DOUBLE) * CAST(sum({y}) AS DOUBLE))"
        f" / (sqrt({n} * CAST(sum(({x}) * ({x})) AS DOUBLE) - CAST(sum({x}) AS DOUBLE) * CAST(sum({x}) AS DOUBLE))"
        f" * sqrt({n} * CAST(sum(({y}) * ({y})) AS DOUBLE) - CAST(sum({y}) AS DOUBLE) * CAST(sum({y}) AS DOUBLE)))",
        out,
    )


# --- timezone-proof time helpers -------------------------------------------
# Catalog outputs avoid rendered timestamps entirely: epoch integers hash
# identically no matter the session timezone (SURVEY §7 risk list).

def epoch_seconds(col: Column | str) -> Column:
    return F.unix_seconds(F.col(col) if isinstance(col, str) else col)


def epoch_micros(col: Column | str) -> Column:
    return F.unix_micros(F.col(col) if isinstance(col, str) else col)


def epoch_day(col: Column | str) -> Column:
    """Day index since epoch — a timezone-free `date_trunc('day')`."""
    return F.floor(epoch_seconds(col) / F.lit(86400)).cast("long")


_SPLIT_HI = 10_000_000


def sum_product_exact(product: Column) -> Column:
    """EXACT sum of a NON-NEGATIVE int64 row product at int64 speed —
    the split-accumulator answer to the round-11 scale audit's finding
    that these sums cross 2^63 at scale, without the decimal
    aggregation tax the first fix paid (measured 1.6-1.9x on the
    TPC-H-style headline revenue sums; the split benches AT int64
    speed and value-identical to both formulations).

    sum(p) == 1e7 * sum(p div 1e7) + sum(p mod 1e7), term-exactly:
    both partial sums stay in JVM longs (hash-agg fast path) and only
    the per-GROUP recombine runs in decimal(38,0).  Headroom: with row
    products <= ~2e13 (the revenue family's quanta bound), sum(lo)
    needs < 9.2e11 rows per group and sum(hi) < 4.6e12 — beyond any
    per-group cardinality at 100 TB.  Preconditions, both asserted by
    construction at the call sites: product >= 0 (floor/mod disagree on
    negatives) and product < 2^53 per row (hi derives through an exact
    double division).  Returns decimal(38,0); dividing by a float at
    the use site coerces to double exactly like the bigint sum did,
    so pre-cliff values are bit-identical."""
    hi = F.floor(product / F.lit(_SPLIT_HI)).cast("long")
    lo = product % F.lit(_SPLIT_HI)
    return (
        F.sum(hi).cast("decimal(38,0)") * F.lit(_SPLIT_HI)
        + F.sum(lo).cast("decimal(38,0)")
    )
