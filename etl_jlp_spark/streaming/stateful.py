"""Custom stateful streaming operator: per-user sessionization with
``applyInPandasWithState``.

Where ``streaming/pipeline.py`` uses built-in session windows (which
emit per-session aggregates), this operator assigns a session id to
EVERY event — the exact semantics of the batch ``with_session_id``
(operators/sessionize.py) — while maintaining per-user state across
micro-batches: (last event ts, current session ordinal). This is the
pattern for operators Spark's built-ins can't express (SURVEY.md §2
custom-operator rule (b)).

Scale properties: state is two longs per user key; keys are hash-
partitioned across executors; the watermark-driven timeout evicts idle
users. The per-group pandas function sees one user's batch slice at a
time (Arrow-transferred), so Python-side cost is O(rows), vectorized.

Every operator here times out in EVENT time over a ``ts`` watermark.
Spark runs another (no-data) micro-batch under a processing-time
timeout on every trigger, so an ``availableNow`` run of such a stream
never ends; under an event-time timeout it runs one only when the
watermark moved, and the catch-up run stops once the backlog and the
timeouts it makes due are processed. Rows older than the watermark
(``DEFAULT_WATERMARK_DELAY`` behind the newest event) are dropped as late.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from etl_jlp_spark.operators.sessionize import SESSION_GAP_S
from etl_jlp_spark.streaming.pipeline import DEFAULT_WATERMARK_DELAY

OUTPUT_SCHEMA = "user_id long, event_id long, ts timestamp, session_id long"
STATE_SCHEMA = "last_ts_us long, session_ord long"


def _assign_sessions(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        # idle-user eviction: drop state, do NOT re-arm the timer
        state.remove()
        return

    chunks = list(batches)
    if not chunks:
        return
    # One user's micro-batch may span several Arrow chunks with no
    # cross-chunk ordering guarantee — concatenate and sort ONCE so
    # session ordinals match the batch with_session_id semantics.
    pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])

    last_ts_us, session_ord = state.get if state.exists else (None, 0)
    gap_us = SESSION_GAP_S * 1_000_000

    ts_us = pdf["ts"].astype("int64")  # pandas datetime64[us/ns] → int
    # pandas stores ns; normalize to µs to match unix_micros
    if str(pdf["ts"].dtype).endswith("[ns]"):
        ts_us = ts_us // 1_000
    # vectorized session assignment (§4: no per-row python loop): a new
    # session starts where the gap from the previous event exceeds the
    # threshold; ordinals are the running count of such starts. The
    # first row compares against the carried state (None → new session).
    t_arr = ts_us.to_numpy()
    if len(t_arr) == 0:  # defensive: an empty slice must not index t_arr[-1]
        return
    prev = np.concatenate(
        ([last_ts_us if last_ts_us is not None else t_arr[0]], t_arr[:-1])
    )
    starts = (t_arr - prev) > gap_us
    if last_ts_us is None:
        starts[0] = True  # no carried state → the first event opens a session
    sids = session_ord + np.cumsum(starts)
    session_ord = int(sids[-1])
    last_ts_us = int(t_arr[-1])
    yield pd.DataFrame(
        {
            "user_id": key[0],
            "event_id": pdf["event_id"].values,
            "ts": pdf["ts"].values,
            "session_id": sids,
        }
    )

    state.update((last_ts_us, session_ord))
    # evict idle users once the watermark says no new event can extend
    # their session
    state.setTimeoutTimestamp(last_ts_us // 1000 + SESSION_GAP_S * 1000)


def sessionize_stateful(events: DataFrame) -> DataFrame:
    """events (streaming or batch-in-stream) → per-event session ids
    with cross-micro-batch continuity."""
    return (
        events.select("user_id", "event_id", "ts")
        .withWatermark("ts", DEFAULT_WATERMARK_DELAY)
        .groupBy("user_id")
        .applyInPandasWithState(
            _assign_sessions,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming time-on-page: the streaming twin of the batch
# time_on_page_incremental boundary patch (operators/sessionize.py,
# reference update_last_record_time). Each event's time-on-page is
# emitted exactly once — when its successor arrives (real gap), or with
# the reference's default once the watermark is that default past it.
# State per user is two longs: the one event still awaiting a successor.
# ---------------------------------------------------------------------------

from etl_jlp_spark.operators.sessionize import (  # noqa: E402
    DEFAULT_LAST_PAGE_S,
    MAX_TIME_PER_PAGE_S,
)

TOP_OUTPUT_SCHEMA = (
    "user_id long, event_id long, ts timestamp, "
    "raw_time_on_page double, capped_time_on_page double"
)
TOP_STATE_SCHEMA = "last_event_id long, last_ts_us long"


def _emit_time_on_page(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    def out(eids, ts_us, raws):
        capped = np.minimum(np.asarray(raws, dtype=np.float64), MAX_TIME_PER_PAGE_S)
        return pd.DataFrame(
            {
                "user_id": key[0],
                "event_id": eids,
                "ts": pd.to_datetime(ts_us, unit="us"),
                "raw_time_on_page": raws,
                "capped_time_on_page": capped,
            }
        )

    if state.hasTimedOut:
        # no successor before the watermark passed the held event by the
        # default: finalize it with the reference's default, then evict
        if state.exists:
            eid, ts_us = state.get
            yield out([eid], [ts_us], [DEFAULT_LAST_PAGE_S])
        state.remove()
        return

    chunks = list(batches)
    if not chunks:
        return
    pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
    ts_us = pdf["ts"].astype("int64")
    if str(pdf["ts"].dtype).endswith("[ns]"):
        ts_us = ts_us // 1_000
    eids = pdf["event_id"].tolist()
    ts_list = [int(t) for t in ts_us]
    if state.exists:
        held_eid, held_ts = state.get
        eids = [held_eid] + eids
        ts_list = [held_ts] + ts_list
    if len(eids) > 1:
        # Assumes per-user event-time order ACROSS micro-batches (the
        # file-source replay and the reference's polled loads deliver
        # in order). A straggler older than the held event would yield
        # a negative gap — clamp at 0 so a violation degrades to "no
        # time on page" instead of corrupting downstream sums.
        # (vectorized — §4: no per-row python loop in the hot path)
        raws = np.maximum(
            0.0, np.diff(np.asarray(ts_list, dtype=np.int64)) / 1_000_000.0
        )
        yield out(eids[:-1], ts_list[:-1], raws)
    state.update((int(eids[-1]), int(ts_list[-1])))
    state.setTimeoutTimestamp(int(ts_list[-1]) // 1000 + int(DEFAULT_LAST_PAGE_S) * 1000)


def time_on_page_stateful(events: DataFrame) -> DataFrame:
    """events stream → (event, raw/capped time-on-page), each event
    finalized exactly once across micro-batches. The batch path patches
    yesterday's output when today's data lands
    (time_on_page_incremental); this operator never needs the patch —
    the held event IS the boundary state.

    Ordering contract: events must arrive in per-user event-time order
    ACROSS micro-batches (true for the file-source replay of polled
    incremental loads). Out-of-order stragglers are not re-paired; their
    gap is clamped at 0 (see _emit_time_on_page)."""
    return (
        events.select("user_id", "event_id", "ts")
        .withWatermark("ts", DEFAULT_WATERMARK_DELAY)
        .groupBy("user_id")
        .applyInPandasWithState(
            _emit_time_on_page,
            outputStructType=TOP_OUTPUT_SCHEMA,
            stateStructType=TOP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming exact rolling distinct: incremental delta-segment
# maintenance (the stateful twin of rolling_distinct_users_exact).
# ---------------------------------------------------------------------------

ROLLDIST_W = 7  # trailing window in days — must match the batch twin
RD_OUTPUT_SCHEMA = "day date, delta integer"
RD_STATE_SCHEMA = "last_day long"  # days since epoch

_EPOCH_NS_PER_DAY = 86_400 * 1_000_000_000


def _emit_rolling_deltas(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    import datetime as _dt

    if state.hasTimedOut:
        # watermark passed last_day + W: every future arrival takes the
        # disjoint branch anyway, so the one-long state can go
        state.remove()
        return
    chunks = list(batches)
    if not chunks:
        return
    pdf = pd.concat(chunks, ignore_index=True)
    days = sorted(
        {int(v.value // _EPOCH_NS_PER_DAY) for v in pd.to_datetime(pdf["ts"])}
    )
    p = state.get[0] if state.exists else None
    out_days: list[int] = []
    out_deltas: list[int] = []
    for d in days:
        if p is not None and d <= p:
            continue  # same-day repeat / out-of-order straggler
        if p is None or d > p + ROLLDIST_W - 1:
            # disjoint segment: open at d, close after d+W-1
            out_days += [d, d + ROLLDIST_W]
            out_deltas += [1, -1]
        else:
            # overlap: RETRACT the previous close (+1 cancels the old
            # -1 at p+W) and extend coverage to d+W-1
            out_days += [p + ROLLDIST_W, d + ROLLDIST_W]
            out_deltas += [1, -1]
        p = d
    state.update((int(p),))
    # evictable once the watermark passes the segment end
    state.setTimeoutTimestamp((p + ROLLDIST_W + 1) * 86_400 * 1000)
    if out_days:
        yield pd.DataFrame(
            {
                "day": [_dt.date(1970, 1, 1) + _dt.timedelta(days=x) for x in out_days],
                "delta": pd.array(out_deltas, dtype="int32"),
            }
        )


def rolling_distinct_deltas_stateful(events: DataFrame) -> DataFrame:
    """events stream → (day, ±1) delta rows maintaining the EXACT
    trailing-ROLLDIST_W-day distinct-user timeline incrementally: per
    user ONE long of state (last active day); a new active day emits
    two deltas — the disjoint case opens a segment, the overlap case
    retracts the previous close and extends it (the retraction-based
    incremental-view pattern of mv_retraction_refresh, here over the
    batch twin's delta-segment algebra, operators/timewindow.py).

    Downstream, ``rolling_view`` prefix-sums the delta relation (∝
    user-day transitions, aggregated per day it is calendar-bounded)
    into the same timeline the batch operator computes — no raw-key
    re-count ever happens on the serving path.

    Ordering contract: per-user event-time order across micro-batches
    (file-source replay of polled loads); within a batch any order.
    State evicts via event-time timeout once the watermark passes the
    segment end — a revived user then takes the disjoint branch, which
    is exactly what eviction made true."""
    return (
        events.select("user_id", "ts")
        .withWatermark("ts", DEFAULT_WATERMARK_DELAY)
        .groupBy("user_id")
        .applyInPandasWithState(
            _emit_rolling_deltas,
            outputStructType=RD_OUTPUT_SCHEMA,
            stateStructType=RD_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def rolling_view(deltas: DataFrame, at_days: DataFrame) -> DataFrame:
    """Evaluate the delta step function at ``at_days`` (one `day`
    column): per-day net deltas → running sum → value at each asked
    day. The union trick keeps it one window over a calendar-bounded
    relation (same shape as the batch operator's tail)."""
    from pyspark.sql import Window

    net = deltas.groupBy("day").agg(F.sum("delta").alias("d"))
    probe = at_days.select("day").distinct().withColumn("d", F.lit(0))
    cum = (
        net.unionByName(probe)
        .groupBy("day")
        .agg(F.sum("d").alias("d"))
        .select(
            "day",
            F.sum("d")
            .over(Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0))
            .cast("long")
            .alias("rolling_users"),
        )
    )
    return cum.join(at_days.select("day").distinct(), "day")
