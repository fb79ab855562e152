"""Sessionization family: session ids, per-session stats, time-on-page.

Reference: assign_session_ids / merge_sessions /
calculate_raw_time_on_page / calculate_capped_time_on_page
(dwh_lab/dwh/preprocessing_streaming_incremental_load.py:317-392) —
single-threaded loops over a globally time-sorted list. The reference's
global ordering is a single-node artifact (and conflates users); the
scalable, semantically-correct form partitions by ``user_id``:

- state per window partition is bounded by one user's history,
- the only shuffle is the hash partition on user_id, which AQE can
  coalesce, and which is reused by all three window computations
  (Catalyst collapses same-partitioning windows into one sort).

All gap math is integer microseconds (unix_micros ⟷ epoch_us), so the
DuckDB oracle is bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_jlp_spark.catalog import load_table
from etl_jlp_spark.functions.timeutil import epoch_us
from etl_jlp_spark.registry import query

SESSION_GAP_S = 1800  # 30 min inactivity → new session (reference line 317)
DEFAULT_LAST_PAGE_S = 1800.0  # reference line 377
MAX_TIME_PER_PAGE_S = 3600.0  # reference line 380

_USER_ORDER = ["ts", "event_id"]  # deterministic within-user ordering


def with_session_id(
    events: DataFrame, user_col: str = "user_id", ts_col: str = "ts", gap_s: int = SESSION_GAP_S
) -> DataFrame:
    """session_id = 1 + count of >gap inactivity gaps before this event."""
    w = Window.partitionBy(user_col).orderBy(*_USER_ORDER)
    us = epoch_us(F.col(ts_col))
    prev_us = F.lag(us).over(w)
    new_session = F.when(
        prev_us.isNull() | ((us - prev_us) > gap_s * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    return events.withColumn(
        "session_id",
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )


def with_time_on_page(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    default_last_s: float = DEFAULT_LAST_PAGE_S,
    cap_s: float = MAX_TIME_PER_PAGE_S,
) -> DataFrame:
    """raw = next_event.ts − ts (seconds, µs-exact); last event gets the
    default; capped = min(raw, cap)."""
    w = Window.partitionBy(user_col).orderBy(*_USER_ORDER)
    us = epoch_us(F.col(ts_col))
    next_us = F.lead(us).over(w)
    raw = F.when(next_us.isNull(), F.lit(default_last_s)).otherwise(
        (next_us - us) / F.lit(1_000_000.0)
    )
    return events.withColumn("raw_time_on_page", raw).withColumn(
        "capped_time_on_page", F.least(F.col("raw_time_on_page"), F.lit(cap_s))
    )


_SESSIONIZED_CTE = f"""
WITH ordered AS (
  SELECT event_id, user_id, ts,
         epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), flagged AS (
  SELECT *, CASE WHEN gap_us IS NULL OR gap_us > {SESSION_GAP_S} * 1000000 THEN 1 ELSE 0 END AS new_s
  FROM ordered
)
SELECT event_id, user_id, ts,
       CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
FROM flagged
"""


@query("sessionize", oracle=_SESSIONIZED_CTE)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return with_session_id(events)


@query(
    "session_stats",
    oracle=f"""
WITH sess AS ({_SESSIONIZED_CTE}), joined AS (
  SELECT s.user_id, s.session_id, s.ts, e.value
  FROM sess s JOIN events e ON s.event_id = e.event_id
)
SELECT user_id, session_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value,
       min(ts) AS session_start,
       max(ts) AS session_end,
       (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0 AS duration_s
FROM joined
GROUP BY user_id, session_id
""",
)
def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge_sessions re-expressed: one groupBy over the sessionized
    stream (map-side partial agg; same shuffle key as sessionize)."""
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    sess = with_session_id(events)
    us = epoch_us
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        ((us(F.max("ts")) - us(F.min("ts"))) / F.lit(1_000_000.0)).alias("duration_s"),
    )


@query(
    "session_merge_records",
    oracle=f"""
WITH sess AS ({_SESSIONIZED_CTE}), joined AS (
  SELECT s.user_id, s.session_id, s.ts, s.event_id, e.event_type, e.value, e.props
  FROM sess s JOIN events e ON s.event_id = e.event_id
)
SELECT user_id, session_id, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value,
       min(ts) AS first_ts,
       CAST(arg_min(event_id, ts) AS BIGINT) AS first_event_id,
       arg_min(props, ts) AS first_props
FROM joined
GROUP BY user_id, session_id, event_type
""",
)
def session_merge_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference merge_sessions semantics (preprocessing_streaming_
    incremental_load.py:339-367): within (user, session, page-key),
    sum the counts and take the earliest record's identifying fields.
    'Earliest' is expressed with ``min_by`` (Spark) / ``arg_min``
    (DuckDB) — a single-pass aggregation, not a sort + first."""
    events = load_table(spark, sf_dir, "events")
    sess = with_session_id(events)
    return sess.groupBy("user_id", "session_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.min("ts").alias("first_ts"),
        F.min_by("event_id", "ts").cast("long").alias("first_event_id"),
        F.min_by("props", "ts").alias("first_props"),
    )


@query(
    "session_window_stats",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, ts, value,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
  FROM events
), flagged AS (
  -- Spark session_window: session END is exclusive (start + gap), so a
  -- gap EQUAL to the timeout starts a new session (>=, not >)
  SELECT *, CASE WHEN gap_us IS NULL OR gap_us >= {SESSION_GAP_S} * 1000000 THEN 1 ELSE 0 END AS new_s
  FROM ordered
), sess AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL {SESSION_GAP_S} SECOND AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value
FROM sess
GROUP BY user_id, sid
""",
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE ``session_window`` operator —
    the same logical op as ``sessionize`` but using the built-in
    merging session-window aggregation, which also runs unchanged under
    Structured Streaming with state eviction (streaming/pipeline.py).
    The oracle reproduces the exact gap semantics (end-exclusive)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", f"{SESSION_GAP_S} seconds").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "time_on_page",
    oracle=f"""
SELECT event_id, user_id, ts,
       coalesce((lead(epoch_us(ts)) OVER w - epoch_us(ts)) / 1000000.0, {DEFAULT_LAST_PAGE_S}) AS raw_time_on_page,
       least(coalesce((lead(epoch_us(ts)) OVER w - epoch_us(ts)) / 1000000.0, {DEFAULT_LAST_PAGE_S}),
             {MAX_TIME_PER_PAGE_S}) AS capped_time_on_page
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def time_on_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return with_time_on_page(events)


# incremental-batch boundary for time_on_page_incremental (inside the
# testdata event range so many users straddle it)
BATCH_BOUNDARY = "2024-01-25 00:00:00"


def patch_time_on_page(
    batch: DataFrame,
    next_head: DataFrame,
    default_last_s: float = DEFAULT_LAST_PAGE_S,
    cap_s: float = MAX_TIME_PER_PAGE_S,
) -> DataFrame:
    """Cross-batch boundary fix (reference update_last_record_time,
    preprocessing_streaming_incremental_load.py:380-387): the last
    record per user in batch N defaulted to ``default_last_s`` because
    its next event wasn't known yet; once batch N+1 arrives, patch it
    with the user's first N+1 event time.

    ``next_head`` is (user_id, next_ts) — one row per user active in
    batch N+1, tiny relative to the batch. The join key equals the
    window partition key (user_id), so the patch rides the hash
    partitioning the time-on-page window already established — no
    second shuffle of the batch side."""
    w = Window.partitionBy("user_id").orderBy(*_USER_ORDER)
    us = epoch_us(F.col("ts"))
    next_us = F.lead(us).over(w)
    topg = batch.withColumn("next_us", next_us)
    raw = (
        F.when(F.col("next_us").isNotNull(), (F.col("next_us") - us) / F.lit(1_000_000.0))
        .when(
            F.col("next_ts").isNotNull(),
            (epoch_us(F.col("next_ts")) - us) / F.lit(1_000_000.0),
        )
        .otherwise(F.lit(default_last_s))
    )
    return (
        topg.join(next_head, "user_id", "left")
        .withColumn("raw_time_on_page", raw)
        .withColumn("capped_time_on_page", F.least(F.col("raw_time_on_page"), F.lit(cap_s)))
        .drop("next_us", "next_ts")
    )


@query(
    "time_on_page_incremental",
    oracle=f"""
WITH batch AS (
  SELECT event_id, user_id, ts FROM events WHERE ts < TIMESTAMP '{BATCH_BOUNDARY}'
), head AS (
  SELECT user_id, min(ts) AS next_ts FROM events
  WHERE ts >= TIMESTAMP '{BATCH_BOUNDARY}' GROUP BY user_id
), topg AS (
  SELECT event_id, user_id, ts,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_us
  FROM batch
)
SELECT t.event_id, t.user_id, t.ts,
       CASE WHEN t.next_us IS NOT NULL THEN (t.next_us - epoch_us(t.ts)) / 1000000.0
            WHEN h.next_ts IS NOT NULL THEN (epoch_us(h.next_ts) - epoch_us(t.ts)) / 1000000.0
            ELSE {DEFAULT_LAST_PAGE_S} END AS raw_time_on_page,
       least(CASE WHEN t.next_us IS NOT NULL THEN (t.next_us - epoch_us(t.ts)) / 1000000.0
                  WHEN h.next_ts IS NOT NULL THEN (epoch_us(h.next_ts) - epoch_us(t.ts)) / 1000000.0
                  ELSE {DEFAULT_LAST_PAGE_S} END, {MAX_TIME_PER_PAGE_S}) AS capped_time_on_page
FROM topg t LEFT JOIN head h ON t.user_id = h.user_id
""",
)
def time_on_page_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-incremental time_on_page: batch N = events before the
    boundary, batch N+1's head = each user's first event after it. Every
    user active across the boundary gets a REAL boundary time instead of
    the ``DEFAULT_LAST_PAGE_S`` s default (the reference fixes this on
    every nightly run; round 1 always fell back to the default)."""
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    boundary = F.lit(BATCH_BOUNDARY).cast("timestamp")
    batch = events.filter(F.col("ts") < boundary)
    next_head = (
        events.filter(F.col("ts") >= boundary)
        .groupBy("user_id")
        .agg(F.min("ts").alias("next_ts"))
    )
    return patch_time_on_page(batch, next_head)


# ---------------------------------------------------------------------------
# Gap-threshold sweep: how the session count depends on the inactivity
# cutoff — the measured basis for SESSION_GAP_S, same design-curve
# family as minhash_band_sweep / cosine_threshold_sweep.
# ---------------------------------------------------------------------------

GAP_SWEEP_S = (300, 900, 1800, 3600, 7200)


@query(
    "session_gap_sweep",
    oracle=f"""
WITH gaps AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS gap_us
  FROM events
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM events
), sweep AS (
  {" UNION ALL ".join(f"SELECT {t} AS gap_s" for t in GAP_SWEEP_S)}
)
SELECT s.gap_s,
       (SELECT CAST(count(*) AS BIGINT) FROM gaps
        WHERE gap_us > CAST(s.gap_s AS BIGINT) * 1000000) + tot.n_users AS n_sessions,
       (SELECT CAST(count(*) AS BIGINT) FROM gaps
        WHERE gap_us > CAST(s.gap_s AS BIGINT) * 1000000) AS n_gap_breaks,
       round(tot.n_events * 1.0 /
             ((SELECT count(*) FROM gaps WHERE gap_us > CAST(s.gap_s AS BIGINT) * 1000000)
              + tot.n_users), 4) AS avg_events_per_session
FROM sweep s CROSS JOIN tot
""",
)
def session_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session count / average session size as a function of the
    inactivity cutoff (5 min … 2 h): every threshold evaluated from ONE
    gap computation — n_sessions(T) = n_users + #{gaps > T}, so the
    sweep is |T| conditional counters over the same lag window, not |T|
    re-sessionizations. The curve's elbow is the evidence behind the
    reference's 30-minute SESSION_GAP_S (dwh_lab preprocessing line
    317), measured instead of inherited.

    Plan: one user-partitioned lag window (the sessionize shuffle), one
    row per event into a single conditional aggregate; output is
    |thresholds| rows."""
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    w = Window.partitionBy("user_id").orderBy(*_USER_ORDER)
    us = epoch_us(F.col("ts"))
    gaps = events.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    )
    counts = gaps.agg(
        *[
            F.sum(F.when(F.col("gap_us") > t * 1_000_000, 1).otherwise(0))
            .cast("long")
            .alias(f"b_{t}")
            for t in GAP_SWEEP_S
        ]
    )
    tot = events.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )
    wide = counts.crossJoin(F.broadcast(tot))
    rows = [
        F.struct(
            F.lit(t).cast("int").alias("gap_s"),
            (F.col(f"b_{t}") + F.col("n_users")).cast("long").alias("n_sessions"),
            F.col(f"b_{t}").alias("n_gap_breaks"),
            F.round(
                F.col("n_events") * 1.0 / (F.col(f"b_{t}") + F.col("n_users")), 4
            ).alias("avg_events_per_session"),
        )
        for t in GAP_SWEEP_S
    ]
    return wide.select(F.explode(F.array(*rows)).alias("r")).select("r.*")
