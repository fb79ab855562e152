"""Closed-form regression analytics: OLS elasticity, series
autocorrelation, and a difference-in-differences experiment readout.

Reference tie-in: the reference's analytics stop at groupby summaries
(dwh_lab/dwh/quality_report.py aggregates; preprocessing chain in
dwh/preprocessing_streaming_incremental_load.py) — any trend/effect
estimate was done downstream by hand. These operators close that gap
with estimators that reduce to *sufficient statistics*, i.e. one
map-side-combinable aggregate over the fact table followed by O(1)
scalar algebra — the only regression shapes that make sense at 100 TB
(no gradient iterations, no driver-side matrices).

Cross-engine exactness strategy (see also cohort_ltv in
plans/experiment.py): every SUM that feeds an estimator is taken over
INTEGERS (dollars / e4-scaled values / day counts), so the aggregate is
bit-exact in both engines regardless of partitioning or visit order.
The final estimator formula is then the *same* scalar double expression
evaluated from the same exact inputs — IEEE ops on identical operands
agree bit-for-bit. Autocorrelation deviation products overflow int64,
so they run in DECIMAL(38,0) (exact in Spark and DuckDB) and convert to
double only for the final ratio.

Scale shapes:
- OLS: one shuffle (groupBy year) with partial aggregation; 7 output
  rows. At 100 TB the int64 headroom for Σy² shrinks — the dollars
  scaling keeps it safe to ~10B rows/group; past that the same sums
  move to DECIMAL(38,0) unchanged.
- ACF: one groupBy day (span-bounded output), then a lag-offset
  self-join of the 2.4k-row daily series — broadcast, never a shuffle
  of the fact table.
- DiD: one groupBy (variant, period, event_type) — 4×|types| cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_jlp_spark.catalog import load_table
from etl_jlp_spark.functions.algebra import exact_sum
from etl_jlp_spark.registry import query

OLS_ROUND = 6
ACF_MAX_LAG = 14
DID_SPLIT_HEX = "8"  # md5(user_id)[0] < '8' → treatment (same as ab_test)
DID_PERIOD_BOUNDARY = "2024-01-16 00:00:00"  # pre/post split (ab_test's)


@query(
    "ols_discount_elasticity",
    oracle=f"""
WITH pts AS (
  SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
         CAST(round(l_discount * 100) AS BIGINT) AS x,
         CAST(round(l_extendedprice) AS BIGINT) AS y
  FROM lineitem
), s AS (
  SELECT ship_year,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM pts GROUP BY ship_year
), est AS (
  SELECT ship_year, n,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) AS cov_n2,
         (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS varx_n2,
         (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS vary_n2,
         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
         CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my
  FROM s
)
SELECT ship_year, n,
       round(cov_n2 / varx_n2, {OLS_ROUND}) + 0.0 AS slope_usd_per_pct,
       round(my - (cov_n2 / varx_n2) * mx, {OLS_ROUND}) + 0.0 AS intercept_usd,
       round((cov_n2 * cov_n2) / (varx_n2 * vary_n2), {OLS_ROUND}) + 0.0 AS r2
FROM est
""",
)
def ols_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ship-year OLS of line revenue (whole dollars) on the discount
    level (percentage points 0..10): slope = how many dollars of line
    revenue each extra discount point is associated with, plus
    intercept and R². Single map-side-combinable aggregate producing
    the five sufficient statistics as EXACT int64 sums (Σy² bounded by
    rows·(1.1e5)² — safe through sf10 per year-group), then the
    closed-form estimator in doubles, identical expression shape in
    both engines.

    Reference: the reference has no regression layer; this is part of
    the beyond-reference analytics surface (SURVEY §2.B)."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.year("l_shipdate").cast("long").alias("ship_year"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x"),
        F.round("l_extendedprice").cast("long").alias("y"),
    )
    s = pts.groupBy("ship_year").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    est = s.select(
        "ship_year",
        "n",
        (d("n") * d("sxy") - d("sx") * d("sy")).alias("cov_n2"),
        (d("n") * d("sxx") - d("sx") * d("sx")).alias("varx_n2"),
        (d("n") * d("syy") - d("sy") * d("sy")).alias("vary_n2"),
        (d("sx") / d("n")).alias("mx"),
        (d("sy") / d("n")).alias("my"),
    )
    slope = F.col("cov_n2") / F.col("varx_n2")
    return est.select(
        "ship_year",
        "n",
        (F.round(slope, OLS_ROUND) + 0.0).alias("slope_usd_per_pct"),
        (F.round(F.col("my") - slope * F.col("mx"), OLS_ROUND) + 0.0).alias("intercept_usd"),
        (
            F.round(
                (F.col("cov_n2") * F.col("cov_n2")) / (F.col("varx_n2") * F.col("vary_n2")),
                OLS_ROUND,
            )
            + 0.0
        ).alias("r2"),
    )


@query(
    "acf_daily_revenue",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS rev
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rev) AS BIGINT) AS s FROM daily
), dev AS (
  SELECT day, CAST(tot.n * daily.rev - tot.s AS DECIMAL(38,0)) AS dv
  FROM daily CROSS JOIN tot
), den AS (
  SELECT sum(dv * dv) AS d FROM dev
), lags AS (
  SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS lag
), num AS (
  SELECT l.lag, CAST(count(*) AS BIGINT) AS n_pairs, sum(a.dv * b.dv) AS nm
  FROM lags l
  JOIN dev a ON TRUE
  JOIN dev b ON b.day = a.day + CAST(l.lag AS INTEGER)
  GROUP BY l.lag
)
SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
       round(CAST(nm AS DOUBLE) / CAST((SELECT d FROM den) AS DOUBLE), 6) + 0.0 AS acf
FROM num
""",
)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily order-revenue series at lags
    1..ACF_MAX_LAG (14): ACF_k = Σ dev_t·dev_(t+k) / Σ dev_t², with
    dev_t = n·x_t − Σx (mean-centering scaled by n so every term stays
    an exact integer — the n² factor cancels in the ratio). Deviation
    products reach ~1e20, so they run in DECIMAL(38,0) — exact in both
    engines — and convert to double only for the final ratio.

    Plan: one groupBy(day) over orders (span-bounded, ~2.4k rows), a
    1-row total, then the lag self-join of the tiny daily series —
    broadcast both sides; the fact table is scanned exactly once."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(F.round("o_totalprice").cast("long")).cast("long").alias("rev"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("rev").cast("long").alias("s")
    )
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        (F.col("n") * F.col("rev") - F.col("s")).cast("decimal(38,0)").alias("dv"),
    )
    # exact_sum: a DECIMAL(38,0) overflow (possible at extreme daily-revenue
    # magnitudes) must NULL the statistic, not shrink it via sum-skip
    den = dev.agg(exact_sum(F.col("dv") * F.col("dv")).alias("d"))
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").cast("int").alias("lag"))
    a, b = dev.alias("a"), dev.alias("b")
    num = (
        F.broadcast(lags)
        .join(a, F.lit(True))
        .join(b, F.expr("b.day = date_add(a.day, lag)"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            exact_sum(F.col("a.dv") * F.col("b.dv")).alias("nm"),
        )
    )
    return num.crossJoin(F.broadcast(den)).select(
        F.col("lag").cast("long").alias("lag"),
        "n_pairs",
        (F.round(F.col("nm").cast("double") / F.col("d").cast("double"), 6) + 0.0).alias("acf"),
    )


def did_cells(events: DataFrame) -> DataFrame:
    """(event_type, treated, post) → exact (n, s) e4-integer cell sums.
    Additive across event slices — the mergeable state that streams per
    micro-batch through ``streaming.pipeline.sink_batches``; summing
    per-batch cells (``did_view``) equals one batch pass."""
    boundary = F.lit(DID_PERIOD_BOUNDARY).cast("timestamp")
    cells = events.select(
        "event_type",
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < DID_SPLIT_HEX, 1
        )
        .otherwise(0)
        .alias("treated"),
        F.when(F.col("ts") >= boundary, 1).otherwise(0).alias("post"),
        F.round(F.col("value") * 10000).cast("long").alias("v_e4"),
    )
    return cells.groupBy("event_type", "treated", "post").agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("v_e4").cast("long").alias("s")
    )


def did_readout(agg: DataFrame) -> DataFrame:
    """Cell sums → per-type DiD report (shared by batch + streaming)."""
    mean = F.col("s").cast("double") / F.col("n")
    t, p = F.col("treated"), F.col("post")
    wide = agg.groupBy("event_type").agg(
        F.sum(F.when((t == 1) & (p == 0), mean)).alias("m_t_pre"),
        F.sum(F.when((t == 1) & (p == 1), mean)).alias("m_t_post"),
        F.sum(F.when((t == 0) & (p == 0), mean)).alias("m_c_pre"),
        F.sum(F.when((t == 0) & (p == 1), mean)).alias("m_c_post"),
        F.sum("n").cast("long").alias("n_events"),
    )
    r4 = lambda c: F.round(c / 10000, 4) + 0.0  # noqa: E731
    return wide.select(
        "event_type",
        "n_events",
        r4(F.col("m_t_pre")).alias("mean_treat_pre"),
        r4(F.col("m_t_post")).alias("mean_treat_post"),
        r4(F.col("m_c_pre")).alias("mean_ctrl_pre"),
        r4(F.col("m_c_post")).alias("mean_ctrl_post"),
        r4((F.col("m_t_post") - F.col("m_t_pre")) - (F.col("m_c_post") - F.col("m_c_pre"))).alias(
            "did_estimate"
        ),
    )



@query(
    "did_lift_report",
    oracle=f"""
WITH cells AS (
  SELECT event_type,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '{DID_SPLIT_HEX}'
              THEN 1 ELSE 0 END AS treated,
         CASE WHEN ts >= TIMESTAMP '{DID_PERIOD_BOUNDARY}' THEN 1 ELSE 0 END AS post,
         CAST(round(value * 10000) AS BIGINT) AS v_e4
  FROM events
), agg AS (
  SELECT event_type, treated, post,
         CAST(count(*) AS BIGINT) AS n, CAST(sum(v_e4) AS BIGINT) AS s
  FROM cells GROUP BY 1, 2, 3
), wide AS (
  SELECT event_type,
         sum(CASE WHEN treated = 1 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS m_t_pre,
         sum(CASE WHEN treated = 1 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS m_t_post,
         sum(CASE WHEN treated = 0 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS m_c_pre,
         sum(CASE WHEN treated = 0 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS m_c_post,
         CAST(sum(n) AS BIGINT) AS n_events
  FROM agg GROUP BY event_type
)
SELECT event_type, n_events,
       round(m_t_pre / 10000, 4) + 0.0 AS mean_treat_pre,
       round(m_t_post / 10000, 4) + 0.0 AS mean_treat_post,
       round(m_c_pre / 10000, 4) + 0.0 AS mean_ctrl_pre,
       round(m_c_post / 10000, 4) + 0.0 AS mean_ctrl_post,
       round(((m_t_post - m_t_pre) - (m_c_post - m_c_pre)) / 10000, 4) + 0.0 AS did_estimate
FROM wide
""",
)
def did_lift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout per event type: deterministic
    md5 50/50 assignment (same convention as ab_test_report), pre/post
    split at the experiment boundary, cell means of event value, and
    DiD = (treat post−pre) − (control post−pre) — the parallel-trends
    estimate of the treatment effect. Values aggregate as exact e4
    integers; means divide once per cell (4·|types| rows)."""
    return did_readout(did_cells(load_table(spark, sf_dir, "events")))


# ---------------------------------------------------------------------------
# Pairwise correlation matrix — the one-pass profiling companion to
# the estimators above: all 6 correlations among the lineitem numeric
# measures from a single aggregate of exact integer sufficient
# statistics (the same cents/points scaling discipline).
# ---------------------------------------------------------------------------

_CORR_COLS = [
    ("qty", "CAST(l_quantity AS BIGINT)", "l_quantity"),
    ("price", "CAST(round(l_extendedprice) AS BIGINT)", "l_extendedprice"),
    ("disc", "CAST(round(l_discount * 100) AS BIGINT)", "l_discount"),
    ("tax", "CAST(round(l_tax * 100) AS BIGINT)", "l_tax"),
]
_CORR_PAIRS = [
    (a, b) for i, (a, _, _) in enumerate(_CORR_COLS) for b, _, _ in _CORR_COLS[i + 1 :]
]


def _corr_oracle() -> str:
    proj = ", ".join(f"{expr} AS {k}" for k, expr, _ in _CORR_COLS)
    sums = ["CAST(count(*) AS BIGINT) AS n"]
    for k, _, _ in _CORR_COLS:
        sums.append(f"CAST(sum({k}) AS BIGINT) AS s_{k}")
        sums.append(f"CAST(sum({k} * {k}) AS BIGINT) AS ss_{k}")
    for a, b in _CORR_PAIRS:
        sums.append(f"CAST(sum({a} * {b}) AS BIGINT) AS sp_{a}_{b}")
    parts = []
    names = {k: src for k, _, src in _CORR_COLS}
    for a, b in _CORR_PAIRS:
        corr = (
            f"(CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
            f" / sqrt((CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
            f" * (CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)"
            f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
        )
        parts.append(
            f"SELECT '{names[a]}' AS col_x, '{names[b]}' AS col_y,"
            f" round({corr}, 6) + 0.0 AS corr FROM s"
        )
    return (
        f"WITH pts AS (SELECT {proj} FROM lineitem),"
        f" s AS (SELECT {', '.join(sums)} FROM pts) "
        + " UNION ALL ".join(parts)
    )


@query("lineitem_corr_matrix", oracle=_corr_oracle())
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 6 Pearson correlations among the lineitem measures
    (quantity, revenue dollars, discount points, tax points) in ONE
    map-side-combinable aggregate: 15 exact int64 sufficient sums,
    then the closed-form correlation in doubles with identical
    expression shape in both engines. Spark's built-in ``corr`` is
    avoided deliberately — its float partials are partition-order
    dependent, which breaks cross-engine hashing."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round("l_extendedprice").cast("long").alias("price"),
        F.round(F.col("l_discount") * 100).cast("long").alias("disc"),
        F.round(F.col("l_tax") * 100).cast("long").alias("tax"),
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for k, _, _ in _CORR_COLS:
        aggs.append(F.sum(k).cast("long").alias(f"s_{k}"))
        aggs.append(F.sum(F.col(k) * F.col(k)).cast("long").alias(f"ss_{k}"))
    for a, b in _CORR_PAIRS:
        aggs.append(F.sum(F.col(a) * F.col(b)).cast("long").alias(f"sp_{a}_{b}"))
    s = pts.agg(*aggs)
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    names = {k: src for k, _, src in _CORR_COLS}
    # One row with all six correlations, exploded to (col_x, col_y,
    # corr) rows. A 6-way UNION of per-pair selects would let projection
    # pushdown specialize the stats aggregate per branch (measured: 12
    # lineitem scans, zero ReusedExchange) — the struct-array explode
    # keeps ONE scan and ONE aggregate by construction.
    rows = []
    for a, b in _CORR_PAIRS:
        corr = (d("n") * d(f"sp_{a}_{b}") - d(f"s_{a}") * d(f"s_{b}")) / F.sqrt(
            (d("n") * d(f"ss_{a}") - d(f"s_{a}") * d(f"s_{a}"))
            * (d("n") * d(f"ss_{b}") - d(f"s_{b}") * d(f"s_{b}"))
        )
        rows.append(
            F.struct(
                F.lit(names[a]).alias("col_x"),
                F.lit(names[b]).alias("col_y"),
                (F.round(corr, 6) + 0.0).alias("corr"),
            )
        )
    return s.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


# ---------------------------------------------------------------------------
# Theil–Sen robust trend: median-of-pairwise-slopes over the daily
# revenue series. OLS (above) is moment-based and one outlier day can
# swing the slope; Theil–Sen has a 29% breakdown point and is the
# estimator a revenue-trend monitor should alarm on. The pair relation
# is days², which is TIME-bounded (2.4k days → 2.9M pairs) and
# independent of fact-table volume — the series itself is the output of
# one map-side-combinable groupBy(day), so the 100 TB cost is one scan.
# ---------------------------------------------------------------------------

_TS_DAILY = """
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS rev
  FROM orders GROUP BY 1
"""


@query(
    "theil_sen_trend",
    oracle=f"""
WITH daily AS ({_TS_DAILY}),
d0 AS (SELECT min(day) AS day0 FROM daily),
idx AS (
  SELECT datediff('day', day0, day) AS di, rev FROM daily CROSS JOIN d0
), slopes AS (
  SELECT CAST(b.rev - a.rev AS DOUBLE) / CAST(b.di - a.di AS DOUBLE) AS slope,
         a.di AS ai, b.di AS bi
  FROM idx a JOIN idx b ON b.di > a.di
), ranked AS (
  SELECT slope, row_number() OVER (ORDER BY slope, ai, bi) AS rn,
         count(*) OVER () AS n
  FROM slopes
), med AS (
  SELECT round(avg(slope), 6) + 0.0 AS slope_med
  FROM ranked WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
), resid AS (
  SELECT CAST(rev AS DOUBLE) - slope_med * CAST(di AS DOUBLE) AS r,
         di, row_number() OVER (ORDER BY CAST(rev AS DOUBLE)
           - slope_med * CAST(di AS DOUBLE), di) AS rn,
         count(*) OVER () AS n
  FROM idx CROSS JOIN med
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM idx) AS n_days,
       (SELECT CAST(count(*) AS BIGINT) FROM slopes) AS n_pairs,
       (SELECT slope_med FROM med) AS slope_per_day,
       (SELECT round(avg(r), 2) + 0.0 FROM resid
        WHERE rn IN ((n + 1) // 2, (n + 2) // 2)) AS intercept
""",
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen slope + intercept of daily order revenue: the median
    of all pairwise slopes, intercept = median residual at that slope.

    Exactness: daily revenues and day indexes are exact integers, so
    every slope is the SAME double in both engines (one int-int
    division); the median is exact rank selection (average of the two
    middle order statistics under a fully deterministic (slope, i, j)
    order), not an interpolating percentile whose rounding could
    diverge. Plan: one groupBy(day) over orders, then all joins/windows
    run on the ≤2.4k-row series (pairs ∝ days², not data volume). The
    series is localCheckpoint-ed after the agg: the estimator's four
    branches (pair join, two medians, counts) would otherwise each
    replant the orders scan — one fact scan total instead of ~16, the
    same lineage-truncation discipline as the graph iterations."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(F.round("o_totalprice").cast("long")).cast("long").alias("rev"))
        .localCheckpoint(eager=True)
    )
    d0 = daily.agg(F.min("day").alias("day0"))
    idx = daily.crossJoin(F.broadcast(d0)).select(
        F.datediff("day", "day0").alias("di"), "rev"
    )
    # pin the streamed side's partition count BEFORE the pair fan-out:
    # the checkpointed day series is one tiny partition, and without
    # the pinned spread the days² slope stage runs on a single task
    # (AQE would coalesce an unpinned repartition right back)
    idx = idx.repartition(spark.sparkContext.defaultParallelism, "di")
    a, b = idx.alias("a"), idx.alias("b")
    slopes = a.join(b, F.col("b.di") > F.col("a.di")).select(
        (
            (F.col("b.rev") - F.col("a.rev")).cast("double")
            / (F.col("b.di") - F.col("a.di")).cast("double")
        ).alias("slope"),
        F.col("a.di").alias("ai"),
        F.col("b.di").alias("bi"),
    )
    from pyspark.sql import Window

    # Exact median WITHOUT a global sort of the pair relation: an
    # approx_percentile bracket around the middle (rank error ≤
    # n/accuracy = n/10k, bracket covers ±0.002·n ranks — 5–6× slack),
    # exact counts below the bracket, then exact rank selection inside
    # the ≤0.4%-of-n bracket slice. The distributed exact-median shape:
    # the only sorted relation is the bracket slice. Values at ranks
    # (n+1)/2 and (n+2)/2 are order statistics — tie-order-independent
    # — so this returns bit-identically what a full row_number sort
    # (the oracle's form) returns.
    slopes = slopes.localCheckpoint(eager=True)  # pairs: built once, read 3×
    stats = slopes.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(
            "approx_percentile(slope, array(0.498, 0.502), 10000)"
        ).alias("bracket"),
    ).select(
        "n", F.col("bracket")[0].alias("lo"), F.col("bracket")[1].alias("hi")
    )
    sb = slopes.crossJoin(F.broadcast(stats))
    below = sb.filter(F.col("slope") < F.col("lo")).agg(
        F.count(F.lit(1)).cast("long").alias("n_below")
    )
    inb = (
        sb.filter((F.col("slope") >= F.col("lo")) & (F.col("slope") <= F.col("hi")))
        .crossJoin(F.broadcast(below))
        .select(
            "slope",
            "n",
            (
                F.row_number().over(Window.orderBy("slope", "ai", "bi")) + F.col("n_below")
            ).alias("rn"),
        )
    )
    med = inb.filter(
        (F.col("rn") == F.expr("(n + 1) div 2")) | (F.col("rn") == F.expr("(n + 2) div 2"))
    ).agg((F.round(F.avg("slope"), 6) + F.lit(0.0)).alias("slope_med"))
    resid = idx.crossJoin(F.broadcast(med)).select(
        (F.col("rev").cast("double") - F.col("slope_med") * F.col("di").cast("double")).alias("r"),
        "di",
    )
    wr = Window.orderBy("r", "di")
    rranked = resid.select(
        "r",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    intercept = rranked.filter(
        (F.col("rn") == F.expr("(n + 1) div 2")) | (F.col("rn") == F.expr("(n + 2) div 2"))
    ).agg((F.round(F.avg("r"), 2) + F.lit(0.0)).alias("intercept"))
    # n_pairs is n·(n−1)/2 by construction (one row per distinct day),
    # so it needs no second pass over the pair relation
    n_days = idx.agg(F.count(F.lit(1)).cast("long").alias("n_days")).select(
        "n_days", F.expr("n_days * (n_days - 1) div 2").cast("long").alias("n_pairs")
    )
    return (
        n_days
        .crossJoin(med.select(F.col("slope_med").alias("slope_per_day")))
        .crossJoin(intercept)
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation — the distributed-rank shape. A naive rank()
# needs a GLOBAL sort of the fact table; instead each column's ranks
# come from its VALUE HISTOGRAM (groupBy value → cumulative count →
# average tie rank), a domain-bounded relation joined back onto the
# rows. No global sort ever touches the 600k (or 100 TB) row set.
# ---------------------------------------------------------------------------

_SP_COLS = (
    ("qty", "CAST(l_quantity AS BIGINT)"),
    ("price", "CAST(round(l_extendedprice) AS BIGINT)"),
    ("disc", "CAST(round(l_discount * 100) AS BIGINT)"),
    ("tax", "CAST(round(l_tax * 100) AS BIGINT)"),
)
_SP_PAIRS = tuple(
    (a[0], b[0]) for i, a in enumerate(_SP_COLS) for b in _SP_COLS[i + 1 :]
)


def _spearman_oracle() -> str:
    proj = ", ".join(f"{expr} AS {k}" for k, expr in _SP_COLS)
    ctes = [f"pts AS (SELECT {proj} FROM lineitem)"]
    # per-column tie-averaged rank tables, doubled to stay integer:
    # rank2 = 2*(#rows with smaller value) + (#ties + 1)
    for k, _ in _SP_COLS:
        ctes.append(
            f"r_{k} AS (SELECT {k}, 2 * (sum(c) OVER (ORDER BY {k}) - c) + c + 1 AS rk2 "
            f"FROM (SELECT {k}, count(*) AS c FROM pts GROUP BY {k}))"
        )
    joins = " ".join(f"JOIN r_{k} USING ({k})" for k, _ in _SP_COLS)
    sums = ["CAST(count(*) AS BIGINT) AS n"]
    for k, _ in _SP_COLS:
        sums.append(f"sum(CAST(r_{k}.rk2 AS DECIMAL(38,0))) AS s_{k}")
        sums.append(
            f"sum(CAST(r_{k}.rk2 AS DECIMAL(38,0)) * CAST(r_{k}.rk2 AS DECIMAL(38,0))) AS ss_{k}"
        )
    for x, y in _SP_PAIRS:
        sums.append(
            f"sum(CAST(r_{x}.rk2 AS DECIMAL(38,0)) * CAST(r_{y}.rk2 AS DECIMAL(38,0))) AS sp_{x}_{y}"
        )
    ctes.append(f"s AS (SELECT {', '.join(sums)} FROM pts {joins})")
    parts = []
    for x, y in _SP_PAIRS:
        rho = (
            f"(CAST(n AS DOUBLE) * CAST(sp_{x}_{y} AS DOUBLE)"
            f" - CAST(s_{x} AS DOUBLE) * CAST(s_{y} AS DOUBLE))"
            f" / sqrt((CAST(n AS DOUBLE) * CAST(ss_{x} AS DOUBLE)"
            f" - CAST(s_{x} AS DOUBLE) * CAST(s_{x} AS DOUBLE))"
            f" * (CAST(n AS DOUBLE) * CAST(ss_{y} AS DOUBLE)"
            f" - CAST(s_{y} AS DOUBLE) * CAST(s_{y} AS DOUBLE)))"
        )
        parts.append(
            f"SELECT '{x}' AS col_x, '{y}' AS col_y, round({rho}, 6) + 0.0 AS rho FROM s"
        )
    return "WITH " + ", ".join(ctes) + " " + " UNION ALL ".join(parts)


@query("spearman_corr_matrix", oracle=_spearman_oracle())
def spearman_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 6 Spearman rank correlations among the lineitem measures —
    the monotone-association twin of lineitem_corr_matrix (Pearson),
    robust to the heavy-tailed price column.

    Rank transform WITHOUT a global sort: each column's tie-averaged
    rank is derived from its value histogram (groupBy value → window
    cumsum over the value-DOMAIN-sized relation → rank2 = 2·below +
    ties + 1, doubled so it stays an exact integer), then joined back
    on the value key. Sufficient sums run in DECIMAL(38,0) — rank
    products reach n·(2n)² ≈ 8.6e20 at sf1 — so both engines aggregate
    bit-exactly; the closed-form rho is the same double expression."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round("l_extendedprice").cast("long").alias("price"),
        F.round(F.col("l_discount") * 100).cast("long").alias("disc"),
        F.round(F.col("l_tax") * 100).cast("long").alias("tax"),
    )
    # ONE histogram pass for all 4 columns: explode each row into
    # (col, val) labels and aggregate. The result is value-DOMAIN-sized
    # (~104k rows for price, ≤50 for the rest), so it is
    # localCheckpoint-ed — the per-column filters below the rank
    # windows would otherwise each be pushed beneath the aggregate and
    # replant their own fact scan (filter pushdown specializes the
    # subtrees, defeating ReusedExchange). Net: 2 fact scans total —
    # histogram build + the join chain — instead of 5.
    hists = (
        pts.select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(k).alias("col"), F.col(k).alias("val"))
                        for k, _ in _SP_COLS
                    ]
                )
            ).alias("cv")
        )
        .groupBy(F.col("cv.col").alias("col"), F.col("cv.val").alias("val"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    joined = pts
    for k, _ in _SP_COLS:
        rk = hists.filter(F.col("col") == k).select(
            F.col("val").alias(k),
            (
                2 * (F.sum("c").over(Window.orderBy("val")) - F.col("c")) + F.col("c") + 1
            ).alias(f"rk2_{k}"),
        )
        joined = joined.join(rk, k)
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for k, _ in _SP_COLS:
        aggs.append(F.sum(dec(f"rk2_{k}")).alias(f"s_{k}"))
        aggs.append(F.sum(dec(f"rk2_{k}") * dec(f"rk2_{k}")).alias(f"ss_{k}"))
    for x, y in _SP_PAIRS:
        aggs.append(F.sum(dec(f"rk2_{x}") * dec(f"rk2_{y}")).alias(f"sp_{x}_{y}"))
    s = joined.agg(*aggs)
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    rows = []
    for x, y in _SP_PAIRS:
        rho = (d("n") * d(f"sp_{x}_{y}") - d(f"s_{x}") * d(f"s_{y}")) / F.sqrt(
            (d("n") * d(f"ss_{x}") - d(f"s_{x}") * d(f"s_{x}"))
            * (d("n") * d(f"ss_{y}") - d(f"s_{y}") * d(f"s_{y}"))
        )
        rows.append(
            F.struct(
                F.lit(x).alias("col_x"),
                F.lit(y).alias("col_y"),
                (F.round(rho, 6) + 0.0).alias("rho"),
            )
        )
    return s.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


CV_FOLDS = 4


@query(
    "ols_cv_eval",
    oracle=f"""
WITH pts AS (
  SELECT CAST(l_orderkey % {CV_FOLDS} AS BIGINT) AS fold,
         CAST(round(l_discount * 100) AS BIGINT) AS x,
         CAST(round(l_extendedprice) AS BIGINT) AS y
  FROM lineitem
), s AS (
  SELECT fold,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
         CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
  FROM pts GROUP BY fold
), t AS (
  SELECT fold, n, sx, sy, sxx, sxy, syy,
         sum(n) OVER () - n AS tn,
         sum(sx) OVER () - sx AS tsx, sum(sy) OVER () - sy AS tsy,
         sum(sxx) OVER () - sxx AS tsxx,
         sum(sxy) OVER () - sxy AS tsxy
  FROM s
), est AS (
  SELECT fold, n, sx, sy, sxx, sxy, syy,
         (CAST(tn AS DOUBLE) * tsxy - CAST(tsx AS DOUBLE) * tsy)
           / (CAST(tn AS DOUBLE) * tsxx - CAST(tsx AS DOUBLE) * tsx) AS b,
         CAST(tsy AS DOUBLE) / tn
           - ((CAST(tn AS DOUBLE) * tsxy - CAST(tsx AS DOUBLE) * tsy)
              / (CAST(tn AS DOUBLE) * tsxx - CAST(tsx AS DOUBLE) * tsx))
             * (CAST(tsx AS DOUBLE) / tn) AS a
  FROM t
), mse AS (
  SELECT fold, n, b, a,
         (CAST(syy AS DOUBLE) - 2 * a * sy - 2 * b * sxy
          + 2 * a * b * sx + a * a * n + b * b * sxx) AS sse
  FROM est
)
SELECT fold, n AS n_test,
       round(b, {OLS_ROUND}) + 0.0 AS slope_usd_per_pct,
       round(a, {OLS_ROUND}) + 0.0 AS intercept_usd,
       round(sse / n, 2) + 0.0 AS test_mse,
       round(sum(sse) OVER () / sum(n) OVER (), 2) + 0.0 AS cv_mse
FROM mse
""",
)
def ols_cv_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-fold cross-validated OLS of line revenue on discount level:
    each fold's model is trained on the OTHER folds and scored on the
    held-out fold, with the pooled CV MSE — the honest generalization
    number behind ols_discount_elasticity's in-sample R², and the
    template for evaluating ANY sufficient-statistics model without a
    second data pass.

    The trick that keeps this one-pass at 100 TB: per-fold sufficient
    statistics (n, Σx, Σy int64; Σx², Σxy, Σy² in DECIMAL(38,0) —
    y²≈1e10/row overflows int64 past ~9e8 rows/fold) are EXACT, the
    train-side stats are total − fold (window over {k} rows, still
    exact), and the held-out SSE expands algebraically as
    Σ(y−a−bx)² = Σy² − 2aΣy − 2bΣxy + 2abΣx + a²n + b²Σx² — so the
    test error needs NO second scan. Deterministic folds via
    l_orderkey % {k}; one combinable aggregate total.""".replace(
        "{k}", str(CV_FOLDS)
    )
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        (F.col("l_orderkey") % CV_FOLDS).cast("long").alias("fold"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x"),
        F.round("l_extendedprice").cast("long").alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = pts.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(dec("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(dec("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(dec("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    w = Window.partitionBy()
    t = s.select(
        "*",
        (F.sum("n").over(w) - F.col("n")).alias("tn"),
        (F.sum("sx").over(w) - F.col("sx")).alias("tsx"),
        (F.sum("sy").over(w) - F.col("sy")).alias("tsy"),
        (F.sum("sxx").over(w) - F.col("sxx")).alias("tsxx"),
        (F.sum("sxy").over(w) - F.col("sxy")).alias("tsxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    b = (d("tn") * d("tsxy") - d("tsx") * d("tsy")) / (
        d("tn") * d("tsxx") - d("tsx") * d("tsx")
    )
    est = t.select("fold", "n", "sx", "sy", "sxx", "sxy", "syy", b.alias("b"),
                   (d("tsy") / d("tn") - b * (d("tsx") / d("tn"))).alias("a"))
    sse = (
        d("syy")
        - 2 * F.col("a") * d("sy")
        - 2 * F.col("b") * d("sxy")
        + 2 * F.col("a") * F.col("b") * d("sx")
        + F.col("a") * F.col("a") * d("n")
        + F.col("b") * F.col("b") * d("sxx")
    )
    mse = est.select("fold", "n", "b", "a", sse.alias("sse"))
    return mse.select(
        "fold",
        F.col("n").alias("n_test"),
        (F.round("b", OLS_ROUND) + 0.0).alias("slope_usd_per_pct"),
        (F.round("a", OLS_ROUND) + 0.0).alias("intercept_usd"),
        (F.round(F.col("sse") / F.col("n"), 2) + 0.0).alias("test_mse"),
        (F.round(F.sum("sse").over(w) / F.sum("n").over(w), 2) + 0.0).alias("cv_mse"),
    )


# ---------------------------------------------------------------------------
# Partial autocorrelation (PACF) via Durbin-Levinson, unrolled so the
# oracle can replay the identical scalar recursion.
# ---------------------------------------------------------------------------

PACF_LAGS = 5

from etl_jlp_spark.registry import ORACLES as _ORACLES_REG  # noqa: E402

_ACF_ORACLE_BODY = _ORACLES_REG["acf_daily_revenue"]


def _dl_terms() -> list[dict[str, str]]:
    """Durbin-Levinson unrolled to PACF_LAGS as expression strings over
    names a1..aK (the ACF values) and p{k}_{j} (level-k AR coefs). The
    SAME strings are parsed by DuckDB and by Spark's expr(), so the
    float expression trees — and hence the doubles — are identical."""
    levels = []
    prev: list[str] = []
    for k in range(1, PACF_LAGS + 1):
        cols: dict[str, str] = {}
        if k == 1:
            cols["p1_1"] = "a1"
        else:
            num = f"a{k}" + "".join(
                f" - p{k - 1}_{j} * a{k - j}" for j in range(1, k)
            )
            den = "1" + "".join(f" - p{k - 1}_{j} * a{j}" for j in range(1, k))
            cols[f"p{k}_{k}"] = f"({num}) / ({den})"
            for j in range(1, k):
                cols[f"p{k}_{j}"] = f"p{k - 1}_{j} - p{k}_{k} * p{k - 1}_{k - j}"
        levels.append(cols)
        prev = list(cols)
    del prev
    return levels


@query(
    "pacf_daily_revenue",
    oracle="WITH acf_rel AS ("
    + _ACF_ORACLE_BODY
    + """), av AS (
  SELECT """
    + ", ".join(
        f"max(CASE WHEN lag = {k} THEN acf END) AS a{k}" for k in range(1, PACF_LAGS + 1)
    )
    + """ FROM acf_rel
)"""
    + "".join(
        f""", c{k} AS (
  SELECT *, {", ".join(f"{expr} AS {name}" for name, expr in cols.items())}
  FROM {"av" if k == 1 else f"c{k - 1}"}
)"""
        for k, cols in enumerate(_dl_terms(), start=1)
    )
    + "\nSELECT * FROM (\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS lag, round(p{k}_{k}, 6) + 0.0 AS pacf FROM c{PACF_LAGS}"
        for k in range(1, PACF_LAGS + 1)
    )
    + "\n)",
)
def pacf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of daily revenue at lags 1..{K} via the
    Durbin-Levinson recursion over the ACF values: PACF_k is the lag-k
    AR coefficient after the shorter lags are regressed out — the
    chart that picks the AR order (acf_daily_revenue says "correlated
    at lag k"; this says "correlated BEYOND what lags <k explain").

    The recursion is unrolled into the SAME scalar expression strings
    in both engines (parsed by expr() here, inlined in the oracle), so
    the doubles match bit-for-bit from the shared 6-decimal ACF
    inputs. Cost: the ACF pipeline (one groupBy(day) + a tiny lag
    join) plus a 1-row scalar chain."""
    acf = acf_daily_revenue(spark, sf_dir).filter(F.col("lag") <= PACF_LAGS)
    av = acf.agg(
        *[
            F.max(F.when(F.col("lag") == k, F.col("acf"))).alias(f"a{k}")
            for k in range(1, PACF_LAGS + 1)
        ]
    )
    cur = av
    for cols in _dl_terms():
        for name, expr in cols.items():
            cur = cur.withColumn(name, F.expr(expr))
    outs = [
        cur.select(
            F.lit(k).cast("long").alias("lag"),
            F.round(F.col(f"p{k}_{k}"), 6).alias("pacf"),
        )
        for k in range(1, PACF_LAGS + 1)
    ]
    result = outs[0]
    for o in outs[1:]:
        result = result.unionAll(o)
    return result


# ---------------------------------------------------------------------------
# Ljung–Box portmanteau test on daily revenue — "is there ANY serial
# correlation left?", the one-number companion to acf/pacf (those chart
# per-lag structure; Q aggregates lags 1..h into the χ²_h diagnostic
# every forecast-residual gate reads).
# ---------------------------------------------------------------------------

LB_LAGS = (7, 14)  # weekly and fortnight horizons; 14 = ACF_MAX_LAG


def _lb_q_expr(h: int) -> str:
    """Q(h) = n(n+2)·Σ_{k=1..h} acf_k²/(n−k) as ONE expression string
    over columns n, a1..ah — parsed by both DuckDB and Spark's expr()
    so the float tree (and the doubles) are identical (the PACF
    discipline). Fixed textual order: ascending k."""
    terms = " + ".join(f"a{k} * a{k} / (n - {k})" for k in range(1, h + 1))
    return f"n * (n + 2.0) * ({terms})"


@query(
    "ljung_box_daily",
    oracle="WITH acf_rel AS ("
    + _ACF_ORACLE_BODY
    + """), av AS (
  SELECT """
    + ", ".join(
        f"max(CASE WHEN lag = {k} THEN acf END) AS a{k}" for k in range(1, max(LB_LAGS) + 1)
    )
    + """ FROM acf_rel
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n
  FROM (SELECT CAST(o_orderdate AS DATE) AS day FROM orders GROUP BY 1)
)
SELECT n AS n_days,
"""
    + ",\n".join(
        f"       round({_lb_q_expr(h)}, 6) + 0.0 AS q_stat_{h}" for h in LB_LAGS
    )
    + "\nFROM av CROSS JOIN nn",
)
def ljung_box_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box Q on the daily order-revenue series at h ∈ {7, 14}:
    Q(h) = n(n+2)·Σ_{k≤h} r_k²/(n−k), χ²_h under the no-autocorrelation
    null. Consumes the REGISTERED acf_daily_revenue outputs (6-dp
    rounded — the PACF convention), so both engines square and sum
    bit-identical operands; n is the exact day count. Q(7) reads the
    weekly structure, Q(14) the fortnight; a Q far above the χ²
    quantile says the series is not white noise and seasonal models
    (weekday_seasonality_index, holt_winters_eval) have signal to fit.

    Plan: the ACF pipeline (one groupBy(day) + a broadcast lag join of
    the ~2.4k-row daily series) plus a 1-row pivot and one fixed-order
    scalar expression — no new fact-table work."""
    h_max = max(LB_LAGS)
    acf = acf_daily_revenue(spark, sf_dir).filter(F.col("lag") <= h_max)
    av = acf.agg(
        *[
            F.max(F.when(F.col("lag") == k, F.col("acf"))).alias(f"a{k}")
            for k in range(1, h_max + 1)
        ]
    )
    nn = load_table(spark, sf_dir, "orders").agg(
        F.countDistinct(F.to_date("o_orderdate")).cast("long").alias("n")
    )
    return av.crossJoin(F.broadcast(nn)).select(
        F.col("n").alias("n_days"),
        *[
            (F.round(F.expr(_lb_q_expr(h)), 6) + 0.0).alias(f"q_stat_{h}")
            for h in LB_LAGS
        ],
    )


# ---------------------------------------------------------------------------
# Ridge regression path via the normal equations — the p²-sufficient-
# statistics multivariate fit (one pass, no gradient iterations).
# ---------------------------------------------------------------------------

RIDGE_LAMBDAS = [0.0, 1000.0, 1000000.0]

# Engine-shared scalar expressions (the PACF pattern): both DuckDB and
# Spark's expr() parse the SAME strings over the same double inputs, so
# the float expression trees — and hence every coefficient — are
# bit-identical. System: (X'X + λI) β = X'y with X = [1, qty, disc_pct],
# solved by Cramer's rule on the 3×3 matrix.
_RIDGE_STEPS: list[tuple[str, str]] = [
    ("a00", "n + lam"),
    ("a11", "s11 + lam"),
    ("a22", "s22 + lam"),
    ("det",
     "a00 * (a11 * a22 - s12 * s12) - sx1 * (sx1 * a22 - s12 * sx2)"
     " + sx2 * (sx1 * s12 - a11 * sx2)"),
    ("d0",
     "sy * (a11 * a22 - s12 * s12) - sx1 * (s1y * a22 - s12 * s2y)"
     " + sx2 * (s1y * s12 - a11 * s2y)"),
    ("d1",
     "a00 * (s1y * a22 - s12 * s2y) - sy * (sx1 * a22 - s12 * sx2)"
     " + sx2 * (sx1 * s2y - s1y * sx2)"),
    ("d2",
     "a00 * (a11 * s2y - s1y * s12) - sx1 * (sx1 * s2y - s1y * sx2)"
     " + sy * (sx1 * s12 - a11 * sx2)"),
    ("b0", "d0 / det"),
    ("b1", "d1 / det"),
    ("b2", "d2 / det"),
    ("sse",
     "syy - 2 * (b0 * sy + b1 * s1y + b2 * s2y)"
     " + (b0 * b0 * n + b1 * b1 * s11 + b2 * b2 * s22"
     " + 2 * b0 * b1 * sx1 + 2 * b0 * b2 * sx2 + 2 * b1 * b2 * s12)"),
    ("sst", "syy - sy * sy / n"),
    ("r2", "1.0 - sse / sst"),
]

_RIDGE_STATS_SQL = """
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(x1) AS BIGINT) AS isx1, CAST(sum(x2) AS BIGINT) AS isx2,
         CAST(sum(y) AS BIGINT) AS isy,
         CAST(sum(CAST(x1 AS DECIMAL(38,0)) * x1) AS DECIMAL(38,0)) AS is11,
         CAST(sum(CAST(x1 AS DECIMAL(38,0)) * x2) AS DECIMAL(38,0)) AS is12,
         CAST(sum(CAST(x2 AS DECIMAL(38,0)) * x2) AS DECIMAL(38,0)) AS is22,
         CAST(sum(CAST(x1 AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS is1y,
         CAST(sum(CAST(x2 AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS is2y,
         CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS isyy
  FROM pts
"""


def _ridge_oracle() -> str:
    steps = ",\n".join(
        f"c{i} AS (SELECT *, ({expr}) AS {name} FROM c{i - 1})"
        for i, (name, expr) in enumerate(_RIDGE_STEPS, start=1)
    )
    lam_rows = ", ".join(f"({v!r}::DOUBLE)" for v in RIDGE_LAMBDAS)
    return f"""
WITH pts AS (
  SELECT CAST(l_quantity AS BIGINT) AS x1,
         CAST(round(l_discount * 100) AS BIGINT) AS x2,
         CAST(round(l_extendedprice) AS BIGINT) AS y
  FROM lineitem
), istats AS ({_RIDGE_STATS_SQL}),
stats AS (
  SELECT CAST(n_rows AS DOUBLE) AS n,
         CAST(isx1 AS DOUBLE) AS sx1, CAST(isx2 AS DOUBLE) AS sx2,
         CAST(isy AS DOUBLE) AS sy,
         CAST(is11 AS DOUBLE) AS s11, CAST(is12 AS DOUBLE) AS s12,
         CAST(is22 AS DOUBLE) AS s22,
         CAST(is1y AS DOUBLE) AS s1y, CAST(is2y AS DOUBLE) AS s2y,
         CAST(isyy AS DOUBLE) AS syy
  FROM istats
), c0 AS (
  SELECT s.*, l.lam FROM stats s CROSS JOIN (VALUES {lam_rows}) l(lam)
),
{steps}
SELECT lam AS lambda,
       round(b0, {OLS_ROUND}) + 0.0 AS intercept_usd,
       round(b1, {OLS_ROUND}) + 0.0 AS beta_qty,
       round(b2, {OLS_ROUND}) + 0.0 AS beta_disc_pct,
       round(r2, {OLS_ROUND}) + 0.0 AS r2
FROM c{len(_RIDGE_STEPS)}
"""


@query("ridge_regression_path", oracle=_ridge_oracle())
def ridge_regression_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regularization path for line revenue on (quantity,
    discount%): coefficients + in-sample R² at each λ, fitted CLOSED
    FORM from the normal equations (X'X + λI)β = X'y — Cramer's rule on
    the 3×3 system. This is the multivariate generalization of
    ols_discount_elasticity and the shape that scales: ONE combinable
    aggregate builds the p(p+3)/2 sufficient statistics (p² cost, not
    n), and every λ on the path reuses them for O(1) scalar algebra —
    a grid of 100 λs costs the same single scan as one.

    Exactness: first/second-order sums accumulate in int64/DECIMAL(38,0)
    (bit-exact under any partitioning), and the Cramer/R² algebra is
    evaluated from engine-shared expression strings (the PACF pattern),
    so both engines build identical IEEE expression trees. In-plan SSE
    expands algebraically (no residual pass): Σ(y−Xβ)² = Σy² − 2β'X'y
    + β'X'Xβ."""
    pts = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
        F.round("l_extendedprice").cast("long").alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    istats = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("x1").cast("long").alias("isx1"),
        F.sum("x2").cast("long").alias("isx2"),
        F.sum("y").cast("long").alias("isy"),
        F.sum(dec("x1") * F.col("x1")).cast("decimal(38,0)").alias("is11"),
        F.sum(dec("x1") * F.col("x2")).cast("decimal(38,0)").alias("is12"),
        F.sum(dec("x2") * F.col("x2")).cast("decimal(38,0)").alias("is22"),
        F.sum(dec("x1") * F.col("y")).cast("decimal(38,0)").alias("is1y"),
        F.sum(dec("x2") * F.col("y")).cast("decimal(38,0)").alias("is2y"),
        F.sum(dec("y") * F.col("y")).cast("decimal(38,0)").alias("isyy"),
    )
    stats = istats.select(
        F.col("n_rows").cast("double").alias("n"),
        F.col("isx1").cast("double").alias("sx1"),
        F.col("isx2").cast("double").alias("sx2"),
        F.col("isy").cast("double").alias("sy"),
        F.col("is11").cast("double").alias("s11"),
        F.col("is12").cast("double").alias("s12"),
        F.col("is22").cast("double").alias("s22"),
        F.col("is1y").cast("double").alias("s1y"),
        F.col("is2y").cast("double").alias("s2y"),
        F.col("isyy").cast("double").alias("syy"),
    )
    lams = spark.createDataFrame([(v,) for v in RIDGE_LAMBDAS], "lam double")
    cur = stats.crossJoin(F.broadcast(lams))
    for name, expr in _RIDGE_STEPS:
        cur = cur.withColumn(name, F.expr(expr))
    return cur.select(
        F.col("lam").alias("lambda"),
        (F.round("b0", OLS_ROUND) + 0.0).alias("intercept_usd"),
        (F.round("b1", OLS_ROUND) + 0.0).alias("beta_qty"),
        (F.round("b2", OLS_ROUND) + 0.0).alias("beta_disc_pct"),
        (F.round("r2", OLS_ROUND) + 0.0).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Autocorrelation-adjusted effective sample size: how many INDEPENDENT
# observations the daily revenue series is worth — the correction any
# CI over a time series needs before n goes in the denominator
# (bootstrap_ci_mean assumes exchangeability; this measures how wrong
# that is). ESS = n / (1 + 2·Σ_{k≤K} ρ_k), kept EXACT: the ρ sum stays
# a ratio of DECIMAL(38,0) deviation-product sums.
# ---------------------------------------------------------------------------

ESS_MAX_LAG = 10


@query(
    "effective_sample_size",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS rev
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rev) AS BIGINT) AS s FROM daily
), dev AS (
  SELECT day, CAST(tot.n * daily.rev - tot.s AS DECIMAL(38,0)) AS dv
  FROM daily CROSS JOIN tot
), den AS (
  SELECT sum(dv * dv) AS d FROM dev
), num AS (
  SELECT sum(a.dv * b.dv) AS nm
  FROM (SELECT unnest(generate_series(1, {ESS_MAX_LAG})) AS lag) l
  JOIN dev a ON TRUE
  JOIN dev b ON b.day = a.day + CAST(l.lag AS INTEGER)
)
SELECT tot.n AS n_days,
       round(CAST(num.nm AS DOUBLE) / CAST(den.d AS DOUBLE), 6) + 0.0 AS acf_sum,
       round(tot.n * CAST(den.d AS DOUBLE)
             / (CAST(den.d AS DOUBLE) + 2.0 * CAST(num.nm AS DOUBLE)), 2) + 0.0
         AS ess,
       round(CAST(den.d AS DOUBLE)
             / (CAST(den.d AS DOUBLE) + 2.0 * CAST(num.nm AS DOUBLE)), 6) + 0.0
         AS ess_ratio
FROM tot CROSS JOIN den CROSS JOIN num
""",
)
def effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ESS of the daily revenue series, truncated at lag {K}:
    n·D/(D + 2·Σ_k N_k) where D = Σdev² and N_k = Σ dev_t·dev_(t+k)
    are the acf_daily_revenue DECIMAL(38,0) sums — the entire lag sum
    stays exact (one decimal total, not a sum of rounded ρ's); the
    division happens once.

    Plan: the ACF plan with the per-lag split removed — same tiny
    day-series self-join."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(F.round("o_totalprice").cast("long")).cast("long").alias("rev"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("rev").cast("long").alias("s")
    )
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "n",
        (F.col("n") * F.col("rev") - F.col("s")).cast("decimal(38,0)").alias("dv"),
    ).localCheckpoint(eager=True)  # day-bounded; consumed by den + the lag join
    den = dev.agg(F.sum(F.col("dv") * F.col("dv")).alias("d"), F.any_value("n").alias("n"))
    lags = spark.range(1, ESS_MAX_LAG + 1).select(F.col("id").cast("int").alias("lag"))
    a = dev.select(F.col("day").alias("da"), F.col("dv").alias("va"))
    b = dev.select(F.col("day").alias("db"), F.col("dv").alias("vb"))
    num = (
        F.broadcast(lags)
        .join(a, F.lit(True))
        .join(b, F.expr("db = date_add(da, lag)"))
        .agg(F.sum(F.col("va") * F.col("vb")).alias("nm"))
    )
    j = den.crossJoin(F.broadcast(num))
    d, nm, n = F.col("d").cast("double"), F.col("nm").cast("double"), F.col("n")
    return j.select(
        n.alias("n_days"),
        F.round(nm / d, 6).alias("acf_sum"),
        F.round(n * d / (d + 2.0 * nm), 2).alias("ess"),
        F.round(d / (d + 2.0 * nm), 6).alias("ess_ratio"),
    )


effective_sample_size.__doc__ = (effective_sample_size.__doc__ or "").format(K=ESS_MAX_LAG)


# ---------------------------------------------------------------------------
# Variance inflation factors for the lineitem money triple — the
# collinearity gate before any of the OLS estimators in this module
# are trusted (R²_i of each regressor on the other two, from the same
# exact cross-moments partial_corr_matrix uses).
# ---------------------------------------------------------------------------


def _vif_oracle() -> str:
    from etl_jlp_spark.plans.nonparam import _PCORR_VARS, _pcorr_r_sql

    rows = []
    combos = [(0, "r01", "r02", "r12"), (1, "r01", "r12", "r02"), (2, "r02", "r12", "r01")]
    for i, rxy, rxz, ryz in combos:
        rows.append(f"""
  SELECT '{_PCORR_VARS[i][0]}' AS variable,
         round(({rxy} * {rxy} + {rxz} * {rxz} - 2 * {rxy} * {rxz} * {ryz})
               / (1 - {ryz} * {ryz}), 6) + 0.0 AS r_squared,
         round(1.0 / (1.0 - ({rxy} * {rxy} + {rxz} * {rxz}
                             - 2 * {rxy} * {rxz} * {ryz}) / (1 - {ryz} * {ryz})),
               6) + 0.0 AS vif
  FROM r""")
    return f"""
WITH pts AS (
  SELECT {", ".join(f"{e} AS v{i}" for i, (_, e) in enumerate(_PCORR_VARS))}
  FROM lineitem
), mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         {", ".join(f"CAST(sum(v{i}) AS BIGINT) AS s_{i}" for i in range(3))},
         {", ".join(f"CAST(sum(CAST(v{i} AS DECIMAL(38,0)) * v{j}) AS DECIMAL(38,0)) AS s_{i}_{j}" for i in range(3) for j in range(3) if i <= j)}
  FROM pts
), r AS (
  SELECT {_pcorr_r_sql("0", "1")} AS r01,
         {_pcorr_r_sql("0", "2")} AS r02,
         {_pcorr_r_sql("1", "2")} AS r12
  FROM mom
)
{" UNION ALL ".join(rows)}
"""


@query("vif_report", oracle=_vif_oracle())
def vif_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance inflation factor per regressor in the (quantity,
    discount, price) triple: R²_i of each variable on the other two
    via the two-predictor closed form (r_xy² + r_xz² − 2·r_xy·r_xz·
    r_yz)/(1 − r_yz²), VIF = 1/(1 − R²). Shares the
    partial_corr_matrix moment discipline — one exact-integer/decimal
    pass, scalar double algebra after.

    Plan: one lineitem scan, 1-row moments (checkpointed), 3
    constant-space projections."""
    from etl_jlp_spark.plans.nonparam import _PCORR_VARS

    li = load_table(spark, sf_dir, "lineitem")
    exprs = [
        F.round("l_quantity").cast("long"),
        F.round(F.col("l_discount") * 100).cast("long"),
        F.round(F.col("l_extendedprice") * 100).cast("long"),
    ]
    pts = li.select(*[e.alias(f"v{i}") for i, e in enumerate(exprs)])
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    aggs += [F.sum(f"v{i}").cast("long").alias(f"s_{i}") for i in range(3)]
    aggs += [
        F.sum(F.col(f"v{i}").cast("decimal(38,0)") * F.col(f"v{j}"))
        .cast("decimal(38,0)")
        .alias(f"s_{i}_{j}")
        for i in range(3)
        for j in range(3)
        if i <= j
    ]
    mom = pts.agg(*aggs)

    def r_of(i: int, j: int):
        n = F.col("n").cast("double")
        si, sj = F.col(f"s_{i}").cast("double"), F.col(f"s_{j}").cast("double")
        sij = F.col(f"s_{i}_{j}").cast("double")
        sii, sjj = F.col(f"s_{i}_{i}").cast("double"), F.col(f"s_{j}_{j}").cast("double")
        return (n * sij - si * sj) / F.sqrt((n * sii - si * si) * (n * sjj - sj * sj))

    r = mom.select(
        r_of(0, 1).alias("r01"), r_of(0, 2).alias("r02"), r_of(1, 2).alias("r12")
    ).localCheckpoint(eager=True)
    names = [v for v, _ in _PCORR_VARS]
    combos = [(0, "r01", "r02", "r12"), (1, "r01", "r12", "r02"), (2, "r02", "r12", "r01")]
    parts = []
    for i, rxy, rxz, ryz in combos:
        a, b, c = F.col(rxy), F.col(rxz), F.col(ryz)
        r2 = (a * a + b * b - 2 * a * b * c) / (1 - c * c)
        parts.append(
            r.select(
                F.lit(names[i]).alias("variable"),
                F.round(r2, 6).alias("r_squared"),
                F.round(1.0 / (1.0 - r2), 6).alias("vif"),
            )
        )
    return parts[0].unionAll(parts[1]).unionAll(parts[2])


# ---------------------------------------------------------------------------
# Granger causality (lag-1, both directions) between daily revenue and
# daily order count: does yesterday's order COUNT improve today's
# revenue prediction beyond yesterday's revenue (and vice versa)? The
# lead/lag question the correlation family can't answer.
# ---------------------------------------------------------------------------


def _granger_dir_sql(name: str, y: str, x: str) -> str:
    return f"""
  SELECT '{name}' AS direction,
         CAST(count(*) AS BIGINT) AS m,
         CAST(sum(y) AS BIGINT) AS sy, CAST(sum(a) AS BIGINT) AS sa,
         CAST(sum(b) AS BIGINT) AS sb,
         CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy,
         CAST(sum(CAST(a AS DECIMAL(38,0)) * a) AS DECIMAL(38,0)) AS saa,
         CAST(sum(CAST(b AS DECIMAL(38,0)) * b) AS DECIMAL(38,0)) AS sbb,
         CAST(sum(CAST(y AS DECIMAL(38,0)) * a) AS DECIMAL(38,0)) AS sya,
         CAST(sum(CAST(y AS DECIMAL(38,0)) * b) AS DECIMAL(38,0)) AS syb,
         CAST(sum(CAST(a AS DECIMAL(38,0)) * b) AS DECIMAL(38,0)) AS sab
  FROM (
    SELECT c.{y} AS y, p.{y} AS a, p.{x} AS b
    FROM daily c JOIN daily p ON c.day = p.day + 1
  )
"""


@query(
    "granger_causality_daily",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS rev,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1
), moms AS (
{_granger_dir_sql("orders_to_revenue", "rev", "cnt")}
  UNION ALL
{_granger_dir_sql("revenue_to_orders", "cnt", "rev")}
), cent AS (
  SELECT direction, m,
         CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy AS cyy,
         CAST(m AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * sa AS caa,
         CAST(m AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * sb AS cbb,
         CAST(m AS DOUBLE) * CAST(sya AS DOUBLE) - CAST(sy AS DOUBLE) * sa AS cya,
         CAST(m AS DOUBLE) * CAST(syb AS DOUBLE) - CAST(sy AS DOUBLE) * sb AS cyb,
         CAST(m AS DOUBLE) * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * sb AS cab
  FROM moms
), fit AS (
  SELECT direction, m,
         (cya * cbb - cyb * cab) / (caa * cbb - cab * cab) AS a1,
         (cyb * caa - cya * cab) / (caa * cbb - cab * cab) AS b1,
         cyy, caa, cya, cyb
  FROM cent
)
SELECT direction, m AS n_samples,
       round(a1, 6) + 0.0 AS coef_own_lag,
       round(b1, 6) + 0.0 AS coef_cross_lag,
       round(((cyy - cya * cya / caa) - (cyy - a1 * cya - b1 * cyb))
             / ((cyy - a1 * cya - b1 * cyb) / (m - 3)), 6) + 0.0 AS f_stat
FROM fit
""",
)
def granger_causality_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Granger causality in both directions between daily
    revenue and daily order count: unrestricted y_t ~ y_{{t−1}} +
    x_{{t−1}} vs restricted y_t ~ y_{{t−1}}, F = (RSS_r − RSS_u)/
    (RSS_u/(m−3)). All sufficient statistics are exact integer/
    DECIMAL(38,0) sums; centering uses the m·Σ − Σ·Σ expansion (the
    m² scale cancels in every reported quantity), so both engines run
    identical double algebra.

    Plan: one calendar-bounded day agg; the lag join is day-arithmetic
    on the tiny series; 2 moment rows → constant-space fit."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round("o_totalprice").cast("long")).cast("long").alias("rev"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
        .localCheckpoint(eager=True)  # tiny; consumed by both directions
    )
    c = daily.select(F.col("day").alias("dc"), F.col("rev").alias("c_rev"), F.col("cnt").alias("c_cnt"))
    p = daily.select(F.col("day").alias("dp"), F.col("rev").alias("p_rev"), F.col("cnt").alias("p_cnt"))
    pairs = c.join(p, F.expr("dc = date_add(dp, 1)"))

    def moms(name: str, ycol: str, xcol: str) -> DataFrame:
        yy = F.col(f"c_{ycol}")
        aa = F.col(f"p_{ycol}")
        bb = F.col(f"p_{xcol}")
        dec = lambda u, w: F.sum(u.cast("decimal(38,0)") * w).cast("decimal(38,0)")  # noqa: E731
        return pairs.agg(
            F.lit(name).alias("direction"),
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum(yy).cast("long").alias("sy"),
            F.sum(aa).cast("long").alias("sa"),
            F.sum(bb).cast("long").alias("sb"),
            dec(yy, yy).alias("syy"),
            dec(aa, aa).alias("saa"),
            dec(bb, bb).alias("sbb"),
            dec(yy, aa).alias("sya"),
            dec(yy, bb).alias("syb"),
            dec(aa, bb).alias("sab"),
        )

    m_all = moms("orders_to_revenue", "rev", "cnt").unionAll(
        moms("revenue_to_orders", "cnt", "rev")
    )
    m = F.col("m").cast("double")
    d = lambda name: F.col(name).cast("double")  # noqa: E731
    cyy = m * d("syy") - d("sy") * F.col("sy")
    caa = m * d("saa") - d("sa") * F.col("sa")
    cbb = m * d("sbb") - d("sb") * F.col("sb")
    cya = m * d("sya") - d("sy") * F.col("sa")
    cyb = m * d("syb") - d("sy") * F.col("sb")
    cab = m * d("sab") - d("sa") * F.col("sb")
    det = caa * cbb - cab * cab
    a1 = (cya * cbb - cyb * cab) / det
    b1 = (cyb * caa - cya * cab) / det
    rss_u = cyy - a1 * cya - b1 * cyb
    rss_r = cyy - cya * cya / caa
    return m_all.select(
        "direction",
        F.col("m").alias("n_samples"),
        F.round(a1, 6).alias("coef_own_lag"),
        F.round(b1, 6).alias("coef_cross_lag"),
        F.round((rss_r - rss_u) / (rss_u / (F.col("m") - 3)), 6).alias("f_stat"),
    )
