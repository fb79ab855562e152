"""Enrichment / windowed-analytics queries: JSON property extraction,
rolling and cumulative windows, pivoted counts.

The reference stores semi-structured payloads as JSON strings
(browsinghistory props; general_lib.py JSON read paths) and computes
per-entity rollups driver-side; these are the Spark-native shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_jlp_spark.catalog import load_table
from etl_jlp_spark.functions.timeutil import epoch_us
from etl_jlp_spark.registry import query

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "props_extract",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
       CAST(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
            THEN 'high' ELSE 'low' END AS VARCHAR) AS k_bucket
FROM events
""",
)
def props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction stays JVM-side (get_json_object) — the
    semi-structured column never round-trips through Python."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return events.select(
        "event_id",
        k.alias("k_value"),
        F.when(k >= 50, "high").otherwise("low").alias("k_bucket"),
    )


@query(
    "user_enrichment",
    oracle="""
SELECT c.c_mktsegment,
       CAST(count(e.event_id) AS BIGINT) AS n_events,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
       round(sum(e.value), 2) AS sum_value,
       round(avg(c.c_acctbal), 4) AS avg_acctbal
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def user_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral stream enriched with the customer dimension
    (user_id = c_custkey): dim join (AQE broadcasts while the dim fits,
    shuffle-joins beyond) + one agg shuffle — the standard star-schema
    enrichment the reference does by merging pandas frames driver-side."""
    events = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    return (
        events.join(cust, events.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("event_id").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
    )


@query(
    "rolling_user_stats",
    oracle="""
SELECT event_id, user_id, ts,
       round(avg(value) OVER w, 4) AS rolling_avg_5,
       round(sum(value) OVER w, 2) AS rolling_sum_5,
       CAST(count(*) OVER w AS BIGINT) AS window_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
""",
)
def rolling_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 5-event stats per user — bounded-frame window, one
    shuffle on user_id (same key as sessionize, so in a composed
    pipeline Catalyst reuses the partitioning)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.avg("value").over(w), 4).alias("rolling_avg_5"),
        F.round(F.sum("value").over(w), 2).alias("rolling_sum_5"),
        F.count(F.lit(1)).over(w).cast("long").alias("window_n"),
    )


@query(
    "cumulative_daily_revenue",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         round(sum(o_totalprice), 2) AS day_revenue
  FROM orders GROUP BY 1
)
SELECT day, day_revenue,
       round(sum(day_revenue) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS cumulative_revenue
FROM daily
""",
)
def cumulative_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total over the (small) per-day aggregate. The global
    window runs on the already-reduced daily table (#days rows), so the
    single-partition sort is trivially cheap at any fact-table scale."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("day_revenue")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day",
        "day_revenue",
        F.round(F.sum("day_revenue").over(w), 2).alias("cumulative_revenue"),
    )


HIST_LO, HIST_W, HIST_BINS = 0.0, 25.0, 20


@query(
    "value_histogram",
    oracle=f"""
SELECT CAST(least(greatest(floor((value - {HIST_LO}) / {HIST_W}), 0), {HIST_BINS - 1}) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       round(min(value), 2) AS bin_min,
       round(max(value), 2) AS bin_max
FROM events
GROUP BY 1
""",
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: bin assignment is a projection, so the
    whole histogram is one map-side-combined aggregation with ≤ #bins
    groups — constant-size shuffle at any data scale."""
    events = load_table(spark, sf_dir, "events")
    bin_col = (
        F.least(
            F.greatest(F.floor((F.col("value") - HIST_LO) / HIST_W), F.lit(0)),
            F.lit(HIST_BINS - 1),
        )
        .cast("long")
        .alias("bin")
    )
    return events.groupBy(bin_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.min("value"), 2).alias("bin_min"),
        F.round(F.max("value"), 2).alias("bin_max"),
    )


@query(
    "session_funnel",
    oracle="""
WITH sess AS (
  SELECT user_id, ts, event_type,
         CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800 * 1000000 THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM (
    SELECT user_id, ts, event_id, event_type,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
    FROM events
  )
), stages AS (
  SELECT user_id, session_id,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
  FROM sess GROUP BY user_id, session_id
)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_view_then_click,
       CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
FROM stages
""",
)
def session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel (view → click → purchase, ordered, within one
    session): sessionize, one conditional-min agg per stage, one final
    rollup. Two shuffles total regardless of funnel depth."""
    from etl_jlp_spark.operators.sessionize import with_session_id

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    sess = with_session_id(events)
    us = epoch_us(F.col("ts"))
    stages = sess.groupBy("user_id", "session_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", us)).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("t_purchase"),
    )
    return stages.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_view"),
        F.sum(
            F.when(F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view")), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_view_then_click"),
        F.sum(
            F.when(
                F.col("t_view").isNotNull()
                & (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_full_funnel"),
    )


@query(
    "sliding_weekly_revenue",
    oracle="""
WITH starts AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) - k * INTERVAL 1 DAY AS DATE) AS window_start,
         event_id, value
  FROM events CROSS JOIN (SELECT unnest(range(7)) AS k)
)
SELECT window_start,
       CAST(window_start + INTERVAL 7 DAY AS DATE) AS window_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value
FROM starts
GROUP BY window_start
""",
)
def sliding_weekly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day window sliding by 1 day (each event lands in 7 windows).
    Spark's ``window()`` produces the slide replication natively; the
    shuffle carries (window × day-grain partials) thanks to map-side
    combine — NOT 7× the raw rows. Streaming-ready shape (add a
    watermark and it runs incrementally)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "7 days", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("date").alias("window_start"),
            F.col("w.end").cast("date").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "approx_sketch_stats",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS users_within_bound,
       TRUE AS p50_within_bound,
       TRUE AS p99_within_bound
FROM events
GROUP BY event_type
""",
)
def approx_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-based twins of the exact aggregates — what actually
    runs at 100 TB: HLL++ distinct counts and approx percentiles are
    mergeable partial aggregates (no exact-distinct shuffle, bounded
    memory). Sketch VALUES are engine-specific, so the oracle instead
    asserts the accuracy CONTRACT: this query emits within-bound
    booleans (HLL estimate within max(2, 5%) of exact at rsd=0.02;
    approx_percentile within ±1% rank of target — 10× its nominal
    1/accuracy guarantee, absorbing interpolated-vs-data-value rank
    edge effects at small n — checked against exact percentiles at
    p∓0.01), and the DuckDB oracle emits ``TRUE`` plus the exact
    anchors — hashes match iff every sketch honors its bound. The
    exact twins here are the verification harness; at 100 TB only the
    sketch branch runs."""
    events = load_table(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).cast("long").alias("approx_users"),
        F.expr("approx_percentile(value, 0.5, 1000)").alias("approx_p50"),
        F.expr("approx_percentile(value, 0.99, 1000)").alias("approx_p99"),
        F.expr("percentile(value, 0.49D)").alias("p50_lo"),
        F.expr("percentile(value, 0.51D)").alias("p50_hi"),
        F.expr("percentile(value, 0.98D)").alias("p99_lo"),
        F.expr("percentile(value, 1.0D)").alias("p99_hi"),
    )
    return agg.select(
        "event_type",
        "n_events",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.greatest(F.lit(2.0), F.col("exact_users") * F.lit(0.05))
        ).alias("users_within_bound"),
        F.col("approx_p50").between(F.col("p50_lo"), F.col("p50_hi")).alias("p50_within_bound"),
        F.col("approx_p99").between(F.col("p99_lo"), F.col("p99_hi")).alias("p99_within_bound"),
    )


@query(
    "percentile_stats",
    oracle="""
SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90,
       quantile_cont(value, 0.99) AS p99,
       round(avg(value), 4) AS mean_value,
       round(stddev_samp(value), 4) AS std_value
FROM events
GROUP BY event_type
""",
)
def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type. Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the linear-
    interpolation definition — verified bit-exact. At 100 TB swap in
    ``approx_percentile`` (t-digest, mergeable partials) — same query
    shape, bounded memory; the exact form is the correctness anchor."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("p50"),
        F.expr("percentile(value, 0.9D)").alias("p90"),
        F.expr("percentile(value, 0.99D)").alias("p99"),
        F.round(F.avg("value"), 4).alias("mean_value"),
        F.round(F.stddev_samp("value"), 4).alias("std_value"),
    )


_PIVOT_SQL_COLS = ",\n       ".join(
    f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}"
    for t in EVENT_TYPES
)


@query(
    "pivot_event_counts",
    oracle=f"""
SELECT user_id,
       {_PIVOT_SQL_COLS},
       CAST(count(*) AS BIGINT) AS n_total
FROM events
GROUP BY user_id
""",
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavior vector (counts pivoted by event type) — with
    the pivot values declared, this is one groupBy with conditional
    aggregates: a single map-side-combined shuffle."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )


# ---------------------------------------------------------------------------
# Customer-value and market-basket analytics over the order history —
# the CRM pair to the event-stream behavioral operators.
# ---------------------------------------------------------------------------


@query(
    "rfm_segmentation",
    oracle="""
WITH ref AS (SELECT max(o_orderdate) AS d_ref FROM orders),
per_cust AS (
  SELECT o_custkey AS custkey,
         date_diff('day', max(o_orderdate), any_value(d_ref)) AS days_since,
         CAST(count(*) AS BIGINT) AS n_orders,
         round(sum(o_totalprice), 2) AS monetary
  FROM orders CROSS JOIN ref GROUP BY o_custkey
), seg AS (
  SELECT *,
         ntile(5) OVER (ORDER BY days_since ASC, custkey) AS r_seg,
         ntile(5) OVER (ORDER BY n_orders DESC, custkey) AS f_seg,
         ntile(5) OVER (ORDER BY monetary DESC, custkey) AS m_seg
  FROM per_cust
)
SELECT s.custkey, c.c_mktsegment AS mktsegment,
       CAST(s.days_since AS BIGINT) AS days_since, s.n_orders, s.monetary,
       s.r_seg, s.f_seg, s.m_seg,
       CAST(s.r_seg AS VARCHAR) || CAST(s.f_seg AS VARCHAR)
         || CAST(s.m_seg AS VARCHAR) AS rfm
FROM seg s JOIN customer c ON s.custkey = c.c_custkey
""",
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic RFM quintiles per customer (1 = best on each axis):
    days since last order vs the corpus reference date, order count,
    and lifetime spend, with the concatenated 'rfm' cell marketing
    targets ('111' = champions, '555' = lost).

    Plan: orders collapse to one row per customer FIRST, so the three
    ntile windows sort the customer-bounded aggregate, never raw
    orders; the reference date rides a broadcast 1-row cross join and
    the mktsegment enrichment broadcasts the customer dim. At 100 TB
    the global ntile sort is the honest cost — the documented swap is
    approx_percentile quintile cutoffs (the repo's
    quality_percentile_gate pattern), identical output contract."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    ref = orders.agg(F.max("o_orderdate").alias("d_ref"))
    per_cust = (
        orders.crossJoin(F.broadcast(ref))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.datediff(F.any_value("d_ref"), F.max("o_orderdate"))
            .cast("long")
            .alias("days_since"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
    )
    seg = per_cust.select(
        "*",
        F.ntile(5).over(Window.orderBy(F.asc("days_since"), "custkey")).alias("r_seg"),
        F.ntile(5).over(Window.orderBy(F.desc("n_orders"), "custkey")).alias("f_seg"),
        F.ntile(5).over(Window.orderBy(F.desc("monetary"), "custkey")).alias("m_seg"),
    )
    return seg.join(
        F.broadcast(cust), seg.custkey == cust.c_custkey
    ).select(
        "custkey",
        F.col("c_mktsegment").alias("mktsegment"),
        "days_since",
        "n_orders",
        "monetary",
        "r_seg",
        "f_seg",
        "m_seg",
        F.concat(
            F.col("r_seg").cast("string"),
            F.col("f_seg").cast("string"),
            F.col("m_seg").cast("string"),
        ).alias("rfm"),
    )


@query(
    "assoc_rules_events",
    oracle="""
WITH u AS (SELECT DISTINCT user_id, event_type FROM events),
n AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users FROM events),
t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t FROM u GROUP BY event_type),
p AS (
  SELECT a.event_type AS antecedent, b.event_type AS consequent,
         CAST(count(*) AS BIGINT) AS n_both
  FROM u a JOIN u b ON a.user_id = b.user_id AND a.event_type <> b.event_type
  GROUP BY 1, 2
)
SELECT p.antecedent, p.consequent, p.n_both,
       round(p.n_both / n.n_users, 4) AS support,
       round(CAST(p.n_both AS DOUBLE) / ta.n_t, 4) AS confidence,
       round((CAST(p.n_both AS DOUBLE) / ta.n_t) / (tb.n_t / n.n_users), 4) AS lift
FROM p
JOIN t ta ON p.antecedent = ta.event_type
JOIN t tb ON p.consequent = tb.event_type
CROSS JOIN n
""",
)
def assoc_rules_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket rules over per-user event-type baskets:
    support P(A∧B), confidence P(B|A), lift — which behaviors predict
    which (lift > 1 = positive association), the cross-sell /
    feature-adoption readout.

    Plan: baskets collapse to DISTINCT (user, type) first (≤ 5 rows
    per user), the pair join is user-keyed on that reduced relation
    (≤ |types|² output per user), and the per-type / total sides are
    vocabulary-sized broadcasts. Nothing downstream of the first
    distinct scales with raw event volume."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.select("user_id", "event_type").distinct()
    n = ev.agg(F.count_distinct("user_id").cast("double").alias("n_users"))
    t = u.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_t"))
    a, b = u.alias("a"), u.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") != F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("antecedent"),
            F.col("b.event_type").alias("consequent"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    ta = t.select(F.col("event_type").alias("antecedent"), F.col("n_t").alias("n_a"))
    tb = t.select(F.col("event_type").alias("consequent"), F.col("n_t").alias("n_b"))
    conf = F.col("n_both").cast("double") / F.col("n_a")
    return (
        p.join(F.broadcast(ta), "antecedent")
        .join(F.broadcast(tb), "consequent")
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            "n_both",
            F.round(F.col("n_both") / F.col("n_users"), 4).alias("support"),
            F.round(conf, 4).alias("confidence"),
            F.round(conf / (F.col("n_b") / F.col("n_users")), 4).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Windowed funnel (ClickHouse-windowFunnel-style, greedy-first-start):
# users must hit the steps IN ORDER, all within FUNNEL_WINDOW_DAYS of
# their FIRST step-0 event. Greedy semantics (first qualifying event
# per step) keep the whole computation expressible as a chain of
# per-user min() aggregates — no per-event state machine — so each
# stage is one combinable agg + one user-keyed join.
# ---------------------------------------------------------------------------

FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_WINDOW_DAYS = 7
_FUNNEL_W_US = FUNNEL_WINDOW_DAYS * 86_400 * 1_000_000


@query(
    "window_funnel_steps",
    oracle=f"""
WITH t0 AS (
  SELECT user_id, min(epoch_us(ts)) AS u0 FROM events
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
), t1 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS u1
  FROM events e JOIN t0 ON e.user_id = t0.user_id
  WHERE e.event_type = '{FUNNEL_STEPS[1]}'
    AND epoch_us(e.ts) > t0.u0 AND epoch_us(e.ts) <= t0.u0 + {_FUNNEL_W_US}
  GROUP BY e.user_id
), t2 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS u2
  FROM events e JOIN t0 ON e.user_id = t0.user_id
  JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = '{FUNNEL_STEPS[2]}'
    AND epoch_us(e.ts) > t1.u1 AND epoch_us(e.ts) <= t0.u0 + {_FUNNEL_W_US}
  GROUP BY e.user_id
), c AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM t0) AS n0,
         (SELECT CAST(count(*) AS BIGINT) FROM t1) AS n1,
         (SELECT CAST(count(*) AS BIGINT) FROM t2) AS n2
)
SELECT 1 AS step, '{FUNNEL_STEPS[0]}' AS step_name, n0 AS n_users,
       CAST(1.0 AS DOUBLE) AS conv_from_prev, CAST(1.0 AS DOUBLE) AS conv_from_first
FROM c
UNION ALL
SELECT 2, '{FUNNEL_STEPS[1]}', n1,
       round(CAST(n1 AS DOUBLE) / n0, 4), round(CAST(n1 AS DOUBLE) / n0, 4) FROM c
UNION ALL
SELECT 3, '{FUNNEL_STEPS[2]}', n2,
       round(CAST(n2 AS DOUBLE) / n1, 4), round(CAST(n2 AS DOUBLE) / n0, 4) FROM c
""",
)
def window_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed conversion funnel ({' → '.join(FUNNEL_STEPS)}, all
    within ``FUNNEL_WINDOW_DAYS`` days of the user's first step-0
    event, strictly ordered): users per step plus step-over-step and
    from-first conversion rates.

    Plan: k chained (filter → per-user min-agg → user-keyed join)
    stages — every stage's operand after the first agg is
    user-count-sized, and each agg is map-side combinable. No state
    machine, no window over raw events; at 100 TB the user-keyed
    joins co-partition on the same key so AQE coalesces them onto one
    exchange."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", epoch_us(F.col("ts")).alias("us")
    )
    t0 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("us").alias("u0"))
    )
    t1 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[1])
        .join(t0, "user_id")
        .filter((F.col("us") > F.col("u0")) & (F.col("us") <= F.col("u0") + _FUNNEL_W_US))
        .groupBy("user_id")
        .agg(F.min("us").alias("u1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[2])
        .join(t0, "user_id")
        .join(t1, "user_id")
        .filter((F.col("us") > F.col("u1")) & (F.col("us") <= F.col("u0") + _FUNNEL_W_US))
        .groupBy("user_id")
        .agg(F.min("us").alias("u2"))
    )
    c = (
        t0.agg(F.count(F.lit(1)).cast("long").alias("n0"))
        .crossJoin(F.broadcast(t1.agg(F.count(F.lit(1)).cast("long").alias("n1"))))
        .crossJoin(F.broadcast(t2.agg(F.count(F.lit(1)).cast("long").alias("n2"))))
    )
    rows = [
        c.select(
            F.lit(1).alias("step"),
            F.lit(FUNNEL_STEPS[0]).alias("step_name"),
            F.col("n0").alias("n_users"),
            F.lit(1.0).alias("conv_from_prev"),
            F.lit(1.0).alias("conv_from_first"),
        ),
        c.select(
            F.lit(2).alias("step"),
            F.lit(FUNNEL_STEPS[1]).alias("step_name"),
            F.col("n1").alias("n_users"),
            F.round(F.col("n1").cast("double") / F.col("n0"), 4).alias("conv_from_prev"),
            F.round(F.col("n1").cast("double") / F.col("n0"), 4).alias("conv_from_first"),
        ),
        c.select(
            F.lit(3).alias("step"),
            F.lit(FUNNEL_STEPS[2]).alias("step_name"),
            F.col("n2").alias("n_users"),
            F.round(F.col("n2").cast("double") / F.col("n1"), 4).alias("conv_from_prev"),
            F.round(F.col("n2").cast("double") / F.col("n0"), 4).alias("conv_from_first"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@query(
    "revenue_concentration_curve",
    oracle="""
WITH cust AS (
  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT rev_c, ntile(10) OVER (ORDER BY rev_c DESC, o_custkey) AS decile FROM cust
), agg AS (
  SELECT CAST(decile AS BIGINT) AS decile,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(rev_c) AS BIGINT) AS decile_rev_cents
  FROM ranked GROUP BY decile
)
SELECT decile, n_customers, decile_rev_cents,
       round(CAST(decile_rev_cents AS DOUBLE)
             / CAST(sum(decile_rev_cents) OVER () AS DOUBLE), 6) AS rev_share,
       round(CAST(sum(decile_rev_cents) OVER (ORDER BY decile) AS DOUBLE)
             / CAST(sum(decile_rev_cents) OVER () AS DOUBLE), 6) AS cum_rev_share
FROM agg
""",
)
def revenue_concentration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 80/20 curve: customers ranked into revenue deciles (ntile
    over the unique (revenue desc, custkey) order), each decile's
    share and cumulative share of total revenue in EXACT integer
    cents — the concentration readout that complements the per-nation
    Gini coefficient with actual curve points.

    Plan: one customer aggregate (combinable), ntile over the
    customer-count-sized relation, then windows over 10 rows."""
    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_c")
        )
    )
    ranked = cust.select(
        "rev_c",
        F.ntile(10).over(Window.orderBy(F.desc("rev_c"), F.asc("o_custkey"))).alias("decile"),
    )
    agg = ranked.groupBy(F.col("decile").cast("long").alias("decile")).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("rev_c").cast("long").alias("decile_rev_cents"),
    )
    wall = Window.partitionBy()
    wcum = Window.orderBy("decile")
    return agg.select(
        "decile",
        "n_customers",
        "decile_rev_cents",
        F.round(
            F.col("decile_rev_cents").cast("double")
            / F.sum("decile_rev_cents").over(wall).cast("double"),
            6,
        ).alias("rev_share"),
        F.round(
            F.sum("decile_rev_cents").over(wcum).cast("double")
            / F.sum("decile_rev_cents").over(wall).cast("double"),
            6,
        ).alias("cum_rev_share"),
    )


TRIM_FRAC = 0.1  # two-sided trim/winsorize fraction


@query(
    "robust_revenue_stats",
    oracle=f"""
WITH c AS (
  SELECT o_orderpriority AS priority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY round(o_totalprice * 100), o_orderkey) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
), b AS (
  SELECT priority, cents, rn, n,
         CAST(floor({TRIM_FRAC} * n) AS BIGINT) AS lo
  FROM c
), agg AS (
  SELECT priority,
         CAST(max(n) AS BIGINT) AS n_orders,
         CAST(max(lo) AS BIGINT) AS n_trimmed_each_side,
         CAST(sum(cents) AS BIGINT) AS s_all,
         CAST(sum(CASE WHEN rn > lo AND rn <= n - lo THEN cents ELSE 0 END)
              AS BIGINT) AS s_mid,
         CAST(max(CASE WHEN rn = lo + 1 THEN cents END) AS BIGINT) AS lowv,
         CAST(max(CASE WHEN rn = n - lo THEN cents END) AS BIGINT) AS highv
  FROM b GROUP BY priority
)
SELECT priority, n_orders, n_trimmed_each_side,
       round(s_all / (100.0 * n_orders), 2) AS mean_usd,
       round(s_mid / (100.0 * (n_orders - 2 * n_trimmed_each_side)), 2)
         AS trimmed_mean_usd,
       round((s_mid + n_trimmed_each_side * (lowv + highv))
             / (100.0 * n_orders), 2) AS winsorized_mean_usd
FROM agg
""",
)
def robust_revenue_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority robust order-value statistics: the raw mean next to
    the 10% two-sided TRIMMED mean and the WINSORIZED mean (outliers
    clamped to the trim boundaries) — the heavy-tail-safe location
    estimates finance/abuse dashboards use where one whale order
    shouldn't move the number.

    Plan: exact integer cents throughout; one priority-partitioned
    rank window (the shuffle key is the output grain) feeds a single
    conditional aggregate — boundary values are max-CASE picks at the
    trim ranks, so trimmed and winsorized sums need no second pass.
    At 100 TB the within-priority sort is the cost; the documented
    swap-in is approx_percentile boundaries + conditional clamp, same
    output shape."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    w = Window.partitionBy("priority").orderBy("cents", "o_orderkey")
    wn = Window.partitionBy("priority")
    b = c.select(
        "priority",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    ).withColumn("lo", F.floor(TRIM_FRAC * F.col("n")).cast("long"))
    mid = (F.col("rn") > F.col("lo")) & (F.col("rn") <= F.col("n") - F.col("lo"))
    agg = b.groupBy("priority").agg(
        F.max("n").cast("long").alias("n_orders"),
        F.max("lo").cast("long").alias("n_trimmed_each_side"),
        F.sum("cents").cast("long").alias("s_all"),
        F.sum(F.when(mid, F.col("cents")).otherwise(0)).cast("long").alias("s_mid"),
        F.max(F.when(F.col("rn") == F.col("lo") + 1, F.col("cents"))).cast("long").alias("lowv"),
        F.max(F.when(F.col("rn") == F.col("n") - F.col("lo"), F.col("cents"))).cast("long").alias("highv"),
    )
    return agg.select(
        "priority",
        "n_orders",
        "n_trimmed_each_side",
        F.round(F.col("s_all") / (100.0 * F.col("n_orders")), 2).alias("mean_usd"),
        F.round(
            F.col("s_mid") / (100.0 * (F.col("n_orders") - 2 * F.col("n_trimmed_each_side"))),
            2,
        ).alias("trimmed_mean_usd"),
        F.round(
            (F.col("s_mid") + F.col("n_trimmed_each_side") * (F.col("lowv") + F.col("highv")))
            / (100.0 * F.col("n_orders")),
            2,
        ).alias("winsorized_mean_usd"),
    )


# ---------------------------------------------------------------------------
# Unpivot (melt): the inverse reshape of pivot_event_counts — wide
# per-returnflag metrics to long (flag, metric, value) rows, via the
# engines' native UNPIVOT operators (Spark DataFrame.unpivot ⇄ DuckDB
# UNPIVOT), not a manual union-of-selects.
# ---------------------------------------------------------------------------


@query(
    "unpivot_lineitem_metrics",
    oracle="""
WITH wide AS (
  SELECT l_returnflag,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_base_cents,
         CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT))
              AS BIGINT) AS sum_disc_cents,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, metric, metric_value
FROM wide UNPIVOT (metric_value FOR metric
                   IN (sum_qty, sum_base_cents, sum_disc_cents, n_rows))
""",
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt the wide per-returnflag metric block (quantity, base and
    discount cents, row count) into long (flag, metric, value) rows —
    the relational inverse of pivot_event_counts, exercised through
    Spark's native ``DataFrame.unpivot`` (EXPAND in the physical plan,
    zero extra shuffles: the reshape happens on the 3 aggregated rows,
    never on the fact table). All measures are exact integers, so the
    long rows hash identically across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.round("l_quantity").cast("long")).cast("long").alias("sum_qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("sum_base_cents"),
        F.sum(F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).cast("long"))
        .cast("long")
        .alias("sum_disc_cents"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_base_cents", "sum_disc_cents", "n_rows"],
        "metric",
        "metric_value",
    )
