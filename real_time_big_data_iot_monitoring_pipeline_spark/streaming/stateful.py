"""Custom stateful streaming operator via `applyInPandasWithState` —
the Spark primitive for operators the built-in windowed aggregations
can't express (SURVEY §2.9 notes the reference has none; this is the
engine's extension point for them).

Implemented operators, all on `applyInPandasWithState`:
- per-sensor exponentially-weighted moving average (EWMA) with
  threshold-crossing detection (`ewma_stream`);
- per-sensor running extremes with an exact cents sum (`extremes_stream`);
- CUSUM drift detection (`cusum_stream`);
- hysteresis alerting (`hysteresis_stream`);
- a timeout-evicting sessionizer (`session_close_stream`).

State per key is O(1), so state-store size scales with sensor count,
not event count: the property that keeps an unbounded stream's state
bounded on a 1000-executor cluster.

The kernels are Arrow-batched pandas (not row-at-a-time), and they are
pure per (key, state, batch), so micro-batch replays after failure
recompute identical state.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("sensor_id", T.StringType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
        T.StructField("n_crossings", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_seen", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
        T.StructField("n_crossings", T.LongType()),
    ]
)


def ewma_update(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
    alpha: float = 0.2,
    threshold: float = 30.0,
) -> Iterator[pd.DataFrame]:
    """Fold a micro-batch of readings into the per-sensor EWMA state.

    Deterministic contract: rows are processed in (timestamp, value)
    order within the batch, so the resulting state is independent of
    upstream partition file ordering.
    """
    if state.exists:
        n_seen, ewma, n_crossings = state.get
    else:
        n_seen, ewma, n_crossings = 0, None, 0

    for pdf in batches:
        pdf = pdf.sort_values(["timestamp", "temperature"])
        for v in pdf["temperature"]:
            prev = ewma
            ewma = v if ewma is None else alpha * v + (1 - alpha) * ewma
            if prev is not None and (prev <= threshold) != (ewma <= threshold):
                n_crossings += 1
            n_seen += 1

    state.update((n_seen, float(ewma) if ewma is not None else None, n_crossings))
    yield pd.DataFrame(
        {
            "sensor_id": [key[0]],
            "n_seen": [n_seen],
            "ewma": [round(ewma + 1e-8, 6) if ewma is not None else None],
            "n_crossings": [n_crossings],
        }
    )


def ewma_stream(readings: DataFrame, alpha: float = 0.2, threshold: float = 30.0) -> DataFrame:
    """Attach the stateful EWMA operator to a (streaming) readings frame.
    Emits one updated row per sensor per micro-batch (update mode)."""

    def fn(key, batches, state):
        return ewma_update(key, batches, state, alpha=alpha, threshold=threshold)

    return readings.groupBy("sensor_id").applyInPandasWithState(
        fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EXTREMES_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("sensor_id", T.StringType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("min_temp", T.DoubleType()),
        T.StructField("max_temp", T.DoubleType()),
        T.StructField("avg_temp", T.DoubleType()),
    ]
)

EXTREMES_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_seen", T.LongType()),
        T.StructField("min_temp", T.DoubleType()),
        T.StructField("max_temp", T.DoubleType()),
        T.StructField("sum_cents", T.LongType()),
    ]
)


def extremes_update(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-sensor running extremes + exact cents-sum: state = (n, min,
    max, sum_cents); per-element cents rounding keeps the running sum
    exact and independent of where micro-batch boundaries fall."""
    if state.exists:
        n, mn, mx, sc = state.get
    else:
        n, mn, mx, sc = 0, None, None, 0
    for pdf in batches:
        vals = pdf["temperature"]
        if len(vals) == 0:
            continue
        n += len(vals)
        bmn, bmx = float(vals.min()), float(vals.max())
        mn = bmn if mn is None else min(mn, bmn)
        mx = bmx if mx is None else max(mx, bmx)
        sc += int((vals * 100).round().astype("int64").sum())
    state.update((n, mn, mx, sc))
    yield pd.DataFrame(
        {
            "sensor_id": [key[0]],
            "n_seen": [n],
            "min_temp": [mn],
            "max_temp": [mx],
            "avg_temp": [round(sc / (100.0 * n) + 1e-8, 4) if n else None],
        }
    )


def extremes_stream(readings: DataFrame) -> DataFrame:
    """Attach the extremes fold via `applyInPandasWithState` (update
    mode, one row per sensor per micro-batch)."""
    return readings.groupBy("sensor_id").applyInPandasWithState(
        extremes_update,
        outputStructType=EXTREMES_OUTPUT_SCHEMA,
        stateStructType=EXTREMES_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- CUSUM drift detection ---------------------------------------------------

CUSUM_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("sensor_id", T.StringType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("s_pos", T.DoubleType()),
        T.StructField("s_neg", T.DoubleType()),
        T.StructField("n_alarms", T.LongType()),
    ]
)

CUSUM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_seen", T.LongType()),
        T.StructField("s_pos", T.DoubleType()),
        T.StructField("s_neg", T.DoubleType()),
        T.StructField("n_alarms", T.LongType()),
    ]
)


def _lindley_scan(s0: float, d):
    """Vectorized Lindley recursion s_i = max(0, s_{i-1} + d_i): with
    prefix sums C_i = s0 + cumsum(d), the reflected walk is
    s_i = C_i - min(0, min_{j<=i} C_j) — one cumsum + one cummin instead
    of a Python loop per row."""
    import numpy as np

    C = s0 + np.cumsum(d)
    floor = np.minimum(np.minimum.accumulate(C), 0.0)
    return C - floor


def cusum_update(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
    target: float = 22.0,
    slack: float = 0.5,
    h: float = 5.0,
) -> Iterator[pd.DataFrame]:
    """Two-sided CUSUM drift detector (Page 1954): accumulate deviations
    beyond `slack` from the `target` mean; an upward (downward) drift
    alarm fires each time the positive (negative) accumulator crosses
    the decision threshold `h` from below.  State per key is O(1) —
    (count, the two accumulators, alarm count) — so, like the EWMA,
    state-store size scales with key count, not stream length.

    The per-batch fold is VECTORIZED: the max(0, .) recurrence is a
    reflected random walk, computed with a cumsum + running-min (Lindley
    scan) instead of a per-row Python loop; alarm crossings count the
    below->above transitions of the scanned series.  Rows are processed
    in (timestamp, value) order so replayed micro-batches rebuild
    identical state."""
    import numpy as np

    if state.exists:
        n_seen, s_pos, s_neg, n_alarms = state.get
    else:
        n_seen, s_pos, s_neg, n_alarms = 0, 0.0, 0.0, 0

    for pdf in batches:
        pdf = pdf.sort_values(["timestamp", "temperature"])
        x = pdf["temperature"].to_numpy(dtype=float)
        if len(x) == 0:
            continue
        pos_series = _lindley_scan(s_pos, x - target - slack)
        neg_series = _lindley_scan(s_neg, target - x - slack)
        for series, prev in ((pos_series, s_pos), (neg_series, s_neg)):
            above = series > h
            prev_above = np.concatenate(([prev > h], above[:-1]))
            n_alarms += int(np.sum(above & ~prev_above))
        s_pos = float(pos_series[-1])
        s_neg = float(neg_series[-1])
        n_seen += len(x)

    state.update((n_seen, s_pos, s_neg, n_alarms))
    yield pd.DataFrame(
        {
            "sensor_id": [key[0]],
            "n_seen": [n_seen],
            "s_pos": [round(s_pos + 1e-8, 6)],
            "s_neg": [round(s_neg + 1e-8, 6)],
            "n_alarms": [n_alarms],
        }
    )


def cusum_stream(
    readings: DataFrame, target: float = 22.0, slack: float = 0.5, h: float = 5.0
) -> DataFrame:
    """Attach the stateful CUSUM operator to a (streaming) readings
    frame.  Emits one updated row per sensor per micro-batch."""

    def fn(key, batches, state):
        return cusum_update(key, batches, state, target=target, slack=slack, h=h)

    return readings.groupBy("sensor_id").applyInPandasWithState(
        fn,
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HYSTERESIS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("n_fired", T.LongType()),
        T.StructField("n_cleared", T.LongType()),
        T.StructField("in_alert", T.BooleanType()),
    ]
)

HYSTERESIS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("carried", T.LongType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("n_fired", T.LongType()),
        T.StructField("n_cleared", T.LongType()),
    ]
)


def hysteresis_update(
    key: tuple,
    batches,
    state: GroupState,
    hi: float = 100.0,
    lo: float = 25.0,
):
    """Per-key threshold alert state machine WITH HYSTERESIS — the alert
    engine the reference's M4 threshold scan cannot express, because
    firing depends on history: an alert FIRES when the value crosses
    above `hi` while not already in alert, and CLEARS when it drops
    below `lo` while in alert; values in the dead band (lo..hi) change
    nothing, so a reading oscillating around one threshold cannot spam
    alerts (the reason real monitoring uses two thresholds).  State per
    key is O(1): (carried regime, n_seen, n_fired, n_cleared).  The
    key's rows arrive as an ITERATOR of Arrow chunks with no ordering
    guarantee ACROSS chunks, and this machine is order-dependent — so
    all chunks are concatenated and sorted ONCE on (ts, event_id)
    before the fold (sorting each chunk independently would corrupt
    n_fired/n_cleared whenever one key's micro-batch rows span multiple
    Arrow record batches, e.g. groups larger than
    spark.sql.execution.arrow.maxRecordsPerBatch).  The transient
    buffer is one key's share of ONE micro-batch — bounded by trigger
    sizing, not by stream lifetime; persisted state stays O(1)."""
    if state.exists:
        carried, n_seen, n_fired, n_cleared = state.get
    else:
        carried, n_seen, n_fired, n_cleared = 0, 0, 0, 0
    chunks = [pdf for pdf in batches if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        for v in pdf["value"]:
            if v > hi:
                if carried != 1:
                    n_fired += 1
                carried = 1
            elif v < lo:
                if carried == 1:
                    n_cleared += 1
                carried = -1
            n_seen += 1
    state.update((carried, n_seen, n_fired, n_cleared))
    yield pd.DataFrame(
        {
            "user_id": [int(key[0])],
            "n_seen": [n_seen],
            "n_fired": [n_fired],
            "n_cleared": [n_cleared],
            "in_alert": [carried == 1],
        }
    )


def hysteresis_stream(events: DataFrame, hi: float = 100.0, lo: float = 25.0) -> DataFrame:
    """Attach the hysteresis alert machine to a (streaming) events frame
    keyed by user_id (update mode, one state row per key per batch)."""

    def fn(key, batches, state):
        return hysteresis_update(key, batches, state, hi=hi, lo=lo)

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=HYSTERESIS_OUTPUT_SCHEMA,
        stateStructType=HYSTERESIS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- timeout-evicting sessionizer -------------------------------------------

SESSION_CLOSE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("session_end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_cents", T.LongType()),
    ]
)

SESSION_CLOSE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("sum_cents", T.LongType()),
    ]
)


def session_close_update(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
    gap_us: int = 1_800_000_000,
) -> Iterator[pd.DataFrame]:
    """Sessionizer that EMITS ONLY CLOSED SESSIONS and EVICTS their
    state — the production discipline for unbounded key spaces (the
    built-in `session_window` agg holds sessions until its own watermark
    close; this is the custom-operator twin with explicit state
    lifecycle).  Sessions that end inside a batch (the next event is
    more than `gap_us` later) close immediately; the trailing open
    session is parked in state with an EVENT-TIME TIMEOUT at
    last_event + gap, so the engine's watermark — not any per-key data —
    closes idle sessions and `state.remove()` frees their state row.
    Input rows must carry precomputed `us` (unix micros, so the Arrow
    transfer is tz-proof) and `event_id` for a stable in-batch sort.
    """
    closed: list[tuple[int, int, int, int]] = []
    if state.hasTimedOut:
        start, last, n, sc = state.get
        state.remove()
        closed.append((start, last, n, sc))
    else:
        if state.exists:
            start, last, n, sc = state.get
        else:
            start = None
            last = n = sc = 0
        chunks = [p for p in batches if len(p)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(["us", "event_id"])
            for us, vc in zip(pdf["us"].astype("int64"), pdf["vc"].astype("int64")):
                us, vc = int(us), int(vc)
                if start is not None and us - last > gap_us:
                    closed.append((start, last, n, sc))
                    start = None
                if start is None:
                    start, last, n, sc = us, us, 1, vc
                else:
                    last, n, sc = us, n + 1, sc + vc
        if start is not None:
            state.update((start, last, n, sc))
            # event-time timeout: the watermark closes this session
            state.setTimeoutTimestamp((last + gap_us) // 1000)
        else:  # pragma: no cover - data batch for a key always has rows
            state.remove()
    yield pd.DataFrame(
        {
            "user_id": [int(key[0])] * len(closed),
            "session_start_us": [c[0] for c in closed],
            "session_end_us": [c[1] for c in closed],
            "n_events": [c[2] for c in closed],
            "sum_cents": [c[3] for c in closed],
        }
    )


def session_close_stream(
    events: DataFrame, gap_us: int = 1_800_000_000, delay: str = "1 hour"
) -> DataFrame:
    """Attach the timeout-evicting sessionizer: `events` must carry
    (ts timestamp, user_id, us long, vc long, event_id).  The watermark
    on `ts` is what drives EventTimeTimeout; `us` carries the same
    instant as integer micros for the tz-proof fold."""

    def fn(key, batches, state):
        return session_close_update(key, batches, state, gap_us=gap_us)

    return events.withWatermark("ts", delay).groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_CLOSE_OUTPUT_SCHEMA,
        stateStructType=SESSION_CLOSE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
