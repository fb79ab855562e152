"""Nonparametric & robustness statistics: 1-D Wasserstein drift,
Cliff's delta effect size, Wald–Wolfowitz runs test, delete-a-group
jackknife, McNemar's paired-gate test, Brown–Forsythe variance
homogeneity, and a Simpson's-paradox slope check.

Reference tie-in: the reference's analytics end at groupby summaries
(dwh_lab/dwh/quality_report.py); distribution-shift magnitudes, robust
effect sizes and paired-gate agreement were downstream notebook work.
These make them warehouse queries with DuckDB oracles.

Cross-engine exactness strategy (the plans/inference.py discipline):
every sufficient statistic is an exact integer (cents, e6-scaled
leave-one-out means, pair counts, rank sums) or a DECIMAL(38,0) sum,
so both engines see bit-identical operands; each estimator is then a
single double expression rounded once at the end. Row-wise float
accumulation never happens — even the Wasserstein integral is
accumulated as Σ|cumA·nB − cumB·nA|·Δv over the merged cents grid
(integers), divided exactly once.

Scale shapes (100 TB design points):
- wasserstein_value_drift / cliffs_delta_value: the heavy relation is
  one map-side-combinable groupBy on (event_type, cents_value) — the
  grid is bounded by the VALUE DOMAIN (≤ ~49k distinct cents per
  type), not the row count, so the window pass downstream is O(domain)
  at any scale factor.
- runs_test_daily: calendar-bounded daily series (~2.4k rows forever).
- jackknife_mean_se: one groupBy(nation) (≤ 25 cells) after a
  broadcast dim join; everything after is 25-row arithmetic.
- mcnemar_gate_flips: two registered gate relations (single-pass
  projections) joined on doc_id, one 1-row agg.
- brown_forsythe_variance: two passes over events (per-type exact
  median, then the |x − median| ANOVA), both map-side-combinable.
- simpson_slope_check: one lineitem scan stacked into per-flag and
  overall OLS sufficient statistics (≤ 4 cells).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_jlp_spark.catalog import load_table
from etl_jlp_spark.functions.algebra import exact_sum
from etl_jlp_spark.plans.inference import _DAILY_CTE, _daily
from etl_jlp_spark.registry import query

W1_REF_DAYS = 15  # reference window: first N days of the stream
W1_ROUND = 6
CLIFF_BASELINE = "view"  # control sample for the effect-size contrast
JK_SCALE = 1_000_000  # e6 quantization of leave-one-nation-out means
BF_ROUND = 6
SIMPSON_ROUND = 6


def halfaway_div_expr(num: str, den: str, scale: int) -> str:
    """Spark/ANSI expression string for round-half-away-from-zero of
    ``scale·num/den`` in exact integer arithmetic: floor((2·scale·num +
    den)/(2·den)) for num ≥ 0, mirrored for num < 0 (operands stay
    non-negative so `div`'s truncation IS floor). The ONE spelling of
    the repo's integer rounding discipline — every signed/unsigned
    rounded ratio (cliffs δ, W1, AD) uses this helper so a headroom or
    scale change cannot drift between siblings. Oracle twins inline the
    same algebra with HUGEINT `//` (which floors; DuckDB's DECIMAL `//`
    ROUNDS — the HUGEINT cast there is load-bearing)."""
    n, d = f"({num})", f"({den})"
    pos = f"(2 * {scale} * {n} + {d}) div (2 * {d})"
    neg = f"-((2 * {scale} * (-{n}) + {d}) div (2 * {d}))"
    return f"CASE WHEN {n} >= 0 THEN {pos} ELSE {neg} END"


def _events_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, ts, v) with v = value in exact cents."""
    return load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )


# ---------------------------------------------------------------------------
# 1-D Wasserstein (earth-mover) distance between the reference and
# current value distribution per event type — the MAGNITUDE sibling of
# ks_drift_report (KS is the max CDF gap; W1 is the area between the
# CDFs, i.e. how far probability mass actually moved, in dollars).
# ---------------------------------------------------------------------------


@query(
    "wasserstein_value_drift",
    oracle=f"""
WITH span AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
pts AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
         CASE WHEN CAST(ts AS DATE) < d0 + {W1_REF_DAYS} THEN 1 ELSE 0 END AS is_ref
  FROM events CROSS JOIN span
), g AS (
  SELECT event_type, v,
         CAST(sum(is_ref) AS BIGINT) AS c_ref,
         CAST(sum(1 - is_ref) AS BIGINT) AS c_cur
  FROM pts GROUP BY 1, 2
), grid AS (
  SELECT event_type,
         sum(c_ref) OVER w AS cum_ref, sum(c_cur) OVER w AS cum_cur,
         sum(c_ref) OVER t AS n_ref, sum(c_cur) OVER t AS n_cur,
         lead(v) OVER (PARTITION BY event_type ORDER BY v) - v AS dv
  FROM g
  WINDOW w AS (PARTITION BY event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         t AS (PARTITION BY event_type)
)
, agg AS (
  SELECT event_type,
         CAST(any_value(n_ref) AS BIGINT) AS n_ref,
         CAST(any_value(n_cur) AS BIGINT) AS n_cur,
         CAST(sum(abs(CAST(cum_ref AS DECIMAL(38,0)) * n_cur
                      - CAST(cum_cur AS DECIMAL(38,0)) * n_ref) * dv) AS HUGEINT) AS s_int
  FROM grid
  WHERE dv IS NOT NULL
  GROUP BY 1
)
SELECT event_type, n_ref, n_cur,
       CAST(({2 * 10**W1_ROUND} * s_int
             + CAST(n_ref AS HUGEINT) * n_cur * 100)
            // (2 * CAST(n_ref AS HUGEINT) * n_cur * 100)
            AS DOUBLE) / {10**W1_ROUND}.0 + 0.0 AS w1_dollars
FROM agg
""",
)
def wasserstein_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type 1-D Wasserstein-1 distance between the value
    distribution of the first ``W1_REF_DAYS`` days and the rest:
    W1 = ∫|F_ref − F_cur| dx over the merged cents grid, reported in
    dollars. W1 is the drift MAGNITUDE (dollars of probability mass
    moved) where ks_drift_report gives significance.

    Exactness: the integral telescopes over the merged grid as
    Σ |cumRef·nCur − cumCur·nRef| · Δv — pure integers (DECIMAL(38,0)
    accumulated) — then rounded to ``W1_ROUND`` dp by one INTEGER
    half-away division (no double round-half ambiguity, no −0.0).

    Plan: one map-side-combinable groupBy on (type, cents) bounds the
    window input by the value DOMAIN, not the row count; the min-date
    scalar is a 1-row broadcast."""
    ev = load_table(spark, sf_dir, "events")
    d0 = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    pts = ev.crossJoin(F.broadcast(d0)).select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v"),
        F.when(F.to_date("ts") < F.date_add(F.col("d0"), W1_REF_DAYS), 1)
        .otherwise(0)
        .alias("is_ref"),
    )
    g = pts.groupBy("event_type", "v").agg(
        F.sum("is_ref").cast("long").alias("c_ref"),
        F.sum(1 - F.col("is_ref")).cast("long").alias("c_cur"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = Window.partitionBy("event_type")
    grid = g.select(
        "event_type",
        F.sum("c_ref").over(w).alias("cum_ref"),
        F.sum("c_cur").over(w).alias("cum_cur"),
        F.sum("c_ref").over(t).alias("n_ref"),
        F.sum("c_cur").over(t).alias("n_cur"),
        (F.lead("v").over(Window.partitionBy("event_type").orderBy("v")) - F.col("v")).alias(
            "dv"
        ),
    ).where(F.col("dv").isNotNull())
    # Cast BEFORE the multiply: at the 100 TB design point cum*n exceeds
    # 2^63 and bigint arithmetic would wrap in Spark / raise in DuckDB.
    term = F.abs(
        F.col("cum_ref").cast("decimal(38,0)") * F.col("n_cur")
        - F.col("cum_cur").cast("decimal(38,0)") * F.col("n_ref")
    ) * F.col("dv")
    # W1 rounds to {W1_ROUND} dp as an INTEGER half-away division (the
    # cliffs_delta_value discipline): s_int is exact, the denominator
    # n_ref·n_cur·100 is exact, so both engines produce the identical
    # w1_e6 integer and the final /1e6 is bit-identical. Headroom: with
    # N ≤ 3e9 rows/type and a ≤5e6-cent value span, s_int ≤ ~4.5e25 and
    # 2e6·s_int ≤ ~9e31 — well inside DECIMAL(38,0)/HUGEINT. exact_sum
    # NULL-poisons past that bound instead of silently under-reporting.
    agg = grid.groupBy("event_type").agg(
        F.any_value("n_ref").cast("long").alias("n_ref"),
        F.any_value("n_cur").cast("long").alias("n_cur"),
        exact_sum(term).cast("decimal(38,0)").alias("s_int"),
    )
    scale = 10**W1_ROUND
    w1_e6 = F.expr(
        halfaway_div_expr("s_int", "CAST(n_ref AS DECIMAL(38,0)) * n_cur * 100", scale)
    )
    return agg.select(
        "event_type",
        "n_ref",
        "n_cur",
        (w1_e6.cast("double") / float(scale)).alias("w1_dollars"),
    )


# ---------------------------------------------------------------------------
# Cliff's delta: ordinal (rank-based) effect size of each event type's
# value distribution against the CLIFF_BASELINE sample — the effect
# size to report next to mann_whitney_ab when normality is off the
# table. Pair counts come from the grouped cents grid (O(domain), not
# O(n²)).
# ---------------------------------------------------------------------------


@query(
    "cliffs_delta_value",
    oracle=f"""
WITH pts AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events
), cnts AS (
  SELECT event_type, v, CAST(count(*) AS BIGINT) AS c FROM pts GROUP BY 1, 2
), base AS (
  SELECT v, c AS cb FROM cnts WHERE event_type = '{CLIFF_BASELINE}'
), grid AS (
  SELECT ty.event_type, dv.v,
         coalesce(t.c, 0) AS ct, coalesce(b.cb, 0) AS cb
  FROM (SELECT DISTINCT event_type FROM cnts
        WHERE event_type <> '{CLIFF_BASELINE}') ty
  CROSS JOIN (SELECT DISTINCT v FROM pts) dv
  LEFT JOIN cnts t ON t.event_type = ty.event_type AND t.v = dv.v
  LEFT JOIN base b ON b.v = dv.v
), w AS (
  SELECT event_type, ct, cb,
         sum(cb) OVER (PARTITION BY event_type ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - cb AS b_lt
  FROM grid
), agg AS (
  SELECT event_type,
         CAST(sum(ct) AS BIGINT) AS n_type,
         CAST(sum(cb) AS BIGINT) AS n_base,
         CAST(sum(CAST(ct AS DECIMAL(38,0)) * b_lt) AS DECIMAL(38,0)) AS gt_pairs,
         CAST(sum(CAST(ct AS DECIMAL(38,0)) * cb) AS DECIMAL(38,0)) AS tie_pairs
  FROM w GROUP BY 1
)
, fin AS (
  SELECT event_type, n_type, n_base, gt_pairs,
         CAST(CAST(n_type AS DECIMAL(38,0)) * n_base - gt_pairs - tie_pairs
              AS DECIMAL(38,0)) AS lt_pairs,
         tie_pairs,
         CAST(gt_pairs - (CAST(n_type AS DECIMAL(38,0)) * n_base - gt_pairs - tie_pairs)
              AS HUGEINT) AS num,
         CAST(CAST(n_type AS DECIMAL(38,0)) * n_base AS HUGEINT) AS den
  FROM agg
)
SELECT event_type, n_type, n_base,
       CAST(gt_pairs AS BIGINT) AS gt_pairs,
       CAST(lt_pairs AS BIGINT) AS lt_pairs,
       CAST(tie_pairs AS BIGINT) AS tie_pairs,
       CAST(CASE WHEN num >= 0 THEN ({2 * 10**W1_ROUND} * num + den) // (2 * den)
                 ELSE -(({2 * 10**W1_ROUND} * (-num) + den) // (2 * den)) END
            AS DOUBLE) / {10**W1_ROUND}.0 + 0.0 AS cliffs_delta
FROM fin
""",
)
def cliffs_delta_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta δ = (#(x>y) − #(x<y)) / (n_x·n_y) of each
    non-baseline event type's values against the ``CLIFF_BASELINE``
    sample, with exact greater/less/tie pair counts.

    The naive pair count is O(n²); here both samples are grouped onto
    the shared cents grid and #(x>y) = Σ_v ct(v)·cumB_<(v) — one
    window over O(domain) rows. All counts are integers; δ is an
    integer half-away-from-zero division (delta_e6 in DECIMAL(38,0)/
    HUGEINT, then one exact /1e6) so both engines round identically
    and −0.0 cannot occur.

    Plan: one groupBy(type, cents); the per-type grid is the distinct
    cents domain (≤ ~49k rows/type), built by a broadcast cross of the
    5-row type list with the domain, so no fact-table shuffle follows
    the first agg."""
    pts = _events_cents(spark, sf_dir).select("event_type", "v")
    # One fact scan: the (type, cents) counts are DOMAIN-sized (≤ types ×
    # distinct cents), so eagerly checkpoint them and derive every branch
    # (baseline counts, type list, merged value domain) from the
    # checkpointed relation instead of re-scanning events.
    cnts = (
        pts.groupBy("event_type", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    base = cnts.where(F.col("event_type") == CLIFF_BASELINE).select("v", F.col("c").alias("cb"))
    types = cnts.where(F.col("event_type") != CLIFF_BASELINE).select("event_type").distinct()
    dom = cnts.select("v").distinct()
    grid = (
        types.crossJoin(dom)
        .join(
            cnts.where(F.col("event_type") != CLIFF_BASELINE).withColumnRenamed("c", "ct"),
            ["event_type", "v"],
            "left",
        )
        .join(base, ["v"], "left")
        .select(
            "event_type",
            "v",
            F.coalesce("ct", F.lit(0)).alias("ct"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = grid.select(
        "event_type",
        "ct",
        "cb",
        (F.sum("cb").over(w) - F.col("cb")).alias("b_lt"),
    )
    # Pair counts live in DECIMAL(38,0): at 3e9+ rows/sample the products
    # ct*b_lt and n_type*n_base exceed 2^63 (bigint would wrap in Spark,
    # raise in DuckDB); the oracle carries the identical types.
    agg = scored.groupBy("event_type").agg(
        F.sum("ct").cast("long").alias("n_type"),
        F.sum("cb").cast("long").alias("n_base"),
        exact_sum(F.col("ct").cast("decimal(38,0)") * F.col("b_lt"))
        .cast("decimal(38,0)")
        .alias("gt_pairs"),
        exact_sum(F.col("ct").cast("decimal(38,0)") * F.col("cb"))
        .cast("decimal(38,0)")
        .alias("tie_pairs"),
    )
    lt = (
        F.col("n_type").cast("decimal(38,0)") * F.col("n_base")
        - F.col("gt_pairs")
        - F.col("tie_pairs")
    )
    # δ is rounded to {W1_ROUND} dp as an INTEGER half-away-from-zero
    # division in DECIMAL(38,0) — round(double, 6) is the one step where
    # Spark (HALF_UP on the shortest-repr decimal) and other engines can
    # disagree on exact half-way ties, and a negative δ rounding to zero
    # would emit IEEE −0.0 (the round-8 driver-hash incident). The final
    # integer/1e6 division is bit-identical in any IEEE engine.
    fin = agg.select(
        "event_type",
        "n_type",
        "n_base",
        "gt_pairs",
        lt.cast("decimal(38,0)").alias("lt_pairs"),
        "tie_pairs",
        (F.col("gt_pairs") - lt).cast("decimal(38,0)").alias("num"),
        (F.col("n_type").cast("decimal(38,0)") * F.col("n_base"))
        .cast("decimal(38,0)")
        .alias("den"),
    )
    scale = 10**W1_ROUND
    delta_e6 = F.expr(halfaway_div_expr("num", "den", scale))
    # OUTPUT carries the pair counts as BIGINT: the driver's pandas/Arrow
    # materialization of DECIMAL(38,0) is engine-asymmetric (DuckDB fetchdf
    # → float64 "2019952.0" vs Spark → Decimal "2019952" — the r08/r09
    # hash mismatch with bit-identical values). Exact while each sample
    # stays under ~3e9 rows (n_type·n_base < 2^63); the internal math
    # above keeps DECIMAL(38,0) so the products never wrap.
    return fin.select(
        "event_type",
        "n_type",
        "n_base",
        F.col("gt_pairs").cast("long").alias("gt_pairs"),
        F.col("lt_pairs").cast("long").alias("lt_pairs"),
        F.col("tie_pairs").cast("long").alias("tie_pairs"),
        (delta_e6.cast("double") / float(scale)).alias("cliffs_delta"),
    )


# ---------------------------------------------------------------------------
# Wald–Wolfowitz runs test on daily revenue: is the above/below-median
# sequence random, or does it trend/cluster? The distribution-free
# companion to acf_daily_revenue (ACF measures HOW values co-move;
# runs tests WHETHER the sign sequence is exchangeable at all).
# ---------------------------------------------------------------------------


@query(
    "runs_test_daily",
    oracle=f"""
WITH daily AS ({_DAILY_CTE}),
med AS (SELECT quantile_cont(rev, 0.5) AS m FROM daily),
pts AS (
  SELECT day, CASE WHEN rev > m THEN 1 ELSE 0 END AS s
  FROM daily CROSS JOIN med
  WHERE CAST(rev AS DOUBLE) <> m
), runs AS (
  SELECT s,
         CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
                OR s <> lag(s) OVER (ORDER BY day) THEN 1 ELSE 0 END AS brk
  FROM pts
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(s) AS BIGINT) AS n1,
         CAST(count(*) - sum(s) AS BIGINT) AS n2,
         CAST(sum(brk) AS BIGINT) AS n_runs
  FROM runs
)
SELECT n AS n_days_used, n1 AS n_above, n2 AS n_below, n_runs,
       round(1.0 + 2.0 * n1 * n2 / n, {W1_ROUND}) + 0.0 AS expected_runs,
       round((n_runs - (1.0 + 2.0 * n1 * n2 / n))
             / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n)
                    / (CAST(n AS DOUBLE) * n * (n - 1))),
             {W1_ROUND}) + 0.0 AS z_stat
FROM agg
""",
)
def runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the daily-revenue series: days are
    labeled above/below the exact median (median-equal days dropped,
    the standard convention), runs counted via sign changes, and the
    normal-approximation z computed from the run-count moments
    E[R] = 1 + 2n₁n₂/n, Var[R] = 2n₁n₂(2n₁n₂−n)/(n²(n−1)).

    Exactness: daily revenue is whole-dollar integers, so the
    interpolated median is exactly x.0 or x.5 in doubles and the
    above/below labels agree bit-for-bit across engines; every count
    is an integer and z is one double expression.

    Plan: calendar-bounded daily agg (~2.4k rows at any SF); the
    single-partition ordered window is over that tiny series only."""
    daily = _daily(spark, sf_dir)
    med = daily.agg(F.expr("percentile(rev, 0.5D)").alias("m"))
    pts = (
        daily.crossJoin(F.broadcast(med))
        .where(F.col("rev").cast("double") != F.col("m"))
        .select("day", F.when(F.col("rev") > F.col("m"), 1).otherwise(0).alias("s"))
    )
    wd = Window.orderBy("day")
    runs = pts.select(
        "s",
        F.when(
            F.lag("s").over(wd).isNull() | (F.col("s") != F.lag("s").over(wd)), 1
        )
        .otherwise(0)
        .alias("brk"),
    )
    agg = runs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("s").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("s")).cast("long").alias("n2"),
        F.sum("brk").cast("long").alias("n_runs"),
    )
    n, n1, n2 = F.col("n"), F.col("n1"), F.col("n2")
    er = 1.0 + 2.0 * n1 * n2 / n
    var = 2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (n.cast("double") * n * (n - 1))
    return agg.select(
        n.alias("n_days_used"),
        n1.alias("n_above"),
        n2.alias("n_below"),
        "n_runs",
        F.round(er, W1_ROUND).alias("expected_runs"),
        F.round((F.col("n_runs") - er) / F.sqrt(var), W1_ROUND).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Delete-a-group jackknife: standard error of the mean order price
# under leave-one-nation-out resampling — the grouped-resampling
# sibling of bootstrap_ci_mean (bootstrap resamples rows; the grouped
# jackknife asks how much any single market segment moves the
# estimate, the survey-statistics convention for clustered data).
# ---------------------------------------------------------------------------


@query(
    "jackknife_mean_se",
    oracle=f"""
WITH groups AS (
  SELECT n.n_name AS nation,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(s) AS BIGINT) AS st,
         CAST(count(*) AS BIGINT) AS g
  FROM groups
), theta AS (
  SELECT g, nt, st,
         CAST(round(CAST(st - s AS DOUBLE) / (nt - n) * {JK_SCALE}) AS BIGINT) AS tq
  FROM groups CROSS JOIN tot
), agg AS (
  SELECT any_value(g) AS g, any_value(nt) AS nt, any_value(st) AS st,
         CAST(sum(tq) AS BIGINT) AS sq,
         CAST(sum(CAST(tq AS DECIMAL(38,0)) * tq) AS DECIMAL(38,0)) AS sqq
  FROM theta
)
SELECT g AS n_groups, nt AS n_orders,
       round(CAST(st AS DOUBLE) / nt / 100.0, 2) + 0.0 AS mean_price,
       round(sqrt((g - 1.0) / g
                  * (CAST(g AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                  / (CAST(g AS DOUBLE) * g))
             / {JK_SCALE} / 100.0, {W1_ROUND}) + 0.0 AS jk_se_price,
       round((g - 1.0) * (CAST(sq AS DOUBLE) / g / {JK_SCALE}
                          - CAST(st AS DOUBLE) / nt) / 100.0,
             {W1_ROUND}) + 0.0 AS jk_bias_price
FROM agg
""",
)
def jackknife_mean_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-NATION jackknife of mean order totalprice: each
    leave-one-out mean θ_i = (S − s_i)/(N − n_i) is quantized to an
    exact e6-scaled integer, and SE_jack = √((g−1)/g · Σ(θ_i − θ̄)²)
    is expanded to (g·Σθ² − (Σθ)²)/g² so the deviation sum is pure
    integer/decimal arithmetic (the plans/regression.py trick) — no
    order-dependent float accumulation across the 25 groups.

    Plan: one groupBy(nation) after broadcast dim joins; everything
    downstream is 25-row arithmetic on the driver-free plan."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    groups = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("s"),
        )
        # 25-row relation consumed by BOTH the total and the leave-one-out
        # branches — checkpoint so the orders scan + dim joins run once
        .localCheckpoint(eager=True)
    )
    tot = groups.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").cast("long").alias("st"),
        F.count(F.lit(1)).cast("long").alias("g"),
    )
    theta = groups.crossJoin(F.broadcast(tot)).select(
        "g",
        "nt",
        "st",
        F.round((F.col("st") - F.col("s")).cast("double") / (F.col("nt") - F.col("n")) * JK_SCALE)
        .cast("long")
        .alias("tq"),
    )
    agg = theta.agg(
        F.any_value("g").alias("g"),
        F.any_value("nt").alias("nt"),
        F.any_value("st").alias("st"),
        F.sum("tq").cast("long").alias("sq"),
        F.sum(F.col("tq").cast("decimal(38,0)") * F.col("tq")).cast("decimal(38,0)").alias("sqq"),
    )
    g, nt, st = F.col("g"), F.col("nt"), F.col("st")
    sq, sqq = F.col("sq").cast("double"), F.col("sqq").cast("double")
    ss_dev = g.cast("double") * sqq - sq * sq
    return agg.select(
        g.alias("n_groups"),
        nt.alias("n_orders"),
        F.round(st.cast("double") / nt / 100.0, 2).alias("mean_price"),
        F.round(
            F.sqrt((g - 1.0) / g * ss_dev / (g.cast("double") * g)) / JK_SCALE / 100.0,
            W1_ROUND,
        ).alias("jk_se_price"),
        F.round(
            (g - 1.0) * (sq / g / JK_SCALE - st.cast("double") / nt) / 100.0, W1_ROUND
        ).alias("jk_bias_price"),
    )


# ---------------------------------------------------------------------------
# McNemar's test between two registered curation gates: do the gopher
# rules and the repetition gate disagree more than chance in ONE
# direction? The paired sibling of filter_cascade_report (the cascade
# shows where docs die in sequence; McNemar shows whether two gates
# are exchangeable).
# ---------------------------------------------------------------------------


def _mcnemar_oracle() -> str:
    from etl_jlp_spark.operators import (  # noqa: F401 — register the gate oracles curate composes
        dedup,
        quality_rules,
        similarity,
        textstats,
    )
    from etl_jlp_spark.plans.curate import CASCADE_MAX_BIGRAM, CASCADE_MIN_DISTINCT
    from etl_jlp_spark.registry import ORACLES

    gopher = ORACLES["gopher_quality_filter"]
    rep = ORACLES["text_repetition"]
    return f"""
WITH gopher_rel AS MATERIALIZED ({gopher}),
rep_rel AS MATERIALIZED ({rep}),
paired AS (
  SELECT g.keep AS g1,
         (r.distinct_ratio >= {CASCADE_MIN_DISTINCT}
          AND r.top_bigram_frac <= {CASCADE_MAX_BIGRAM}) AS g2
  FROM gopher_rel g JOIN rep_rel r ON g.doc_id = r.doc_id
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(*) FILTER (WHERE g1 AND g2) AS BIGINT) AS both_keep,
         CAST(count(*) FILTER (WHERE g1 AND NOT g2) AS BIGINT) AS gopher_only,
         CAST(count(*) FILTER (WHERE NOT g1 AND g2) AS BIGINT) AS repetition_only,
         CAST(count(*) FILTER (WHERE NOT g1 AND NOT g2) AS BIGINT) AS both_drop
  FROM paired
)
SELECT n_docs, both_keep, gopher_only, repetition_only, both_drop,
       CASE WHEN gopher_only + repetition_only > 0
            THEN round((gopher_only - repetition_only) * (gopher_only - repetition_only)
                       / CAST(gopher_only + repetition_only AS DOUBLE), {W1_ROUND}) + 0.0
            ELSE 0.0 END AS mcnemar_chi2
FROM agg
"""


@query("mcnemar_gate_flips", oracle=_mcnemar_oracle())
def mcnemar_gate_flips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test between the gopher_quality_filter keep
    flag and the cascade's repetition gate (distinct_ratio ≥
    {CASCADE_MIN_DISTINCT}, top_bigram_frac ≤ {CASCADE_MAX_BIGRAM})
    on the same documents: the 2×2 agreement table (both_keep, only
    gopher, only repetition, both_drop) and χ² = (b−c)²/(b+c) on the
    discordant counts.

    Both gate relations are the REGISTERED operators' own single-pass
    projections (imported, not re-derived; oracles embedded verbatim
    like filter_cascade_report), joined on doc_id — the audit can
    never disagree with the gates it compares. Counts are integers;
    the statistic is one double division."""
    from etl_jlp_spark.operators.quality_rules import (
        gopher_quality_filter,
        text_repetition,
    )
    from etl_jlp_spark.plans.curate import CASCADE_MAX_BIGRAM, CASCADE_MIN_DISTINCT

    gop = gopher_quality_filter(spark, sf_dir).select("doc_id", F.col("keep").alias("g1"))
    rep = text_repetition(spark, sf_dir).select(
        "doc_id",
        (
            (F.col("distinct_ratio") >= CASCADE_MIN_DISTINCT)
            & (F.col("top_bigram_frac") <= CASCADE_MAX_BIGRAM)
        ).alias("g2"),
    )
    both = gop.join(rep, "doc_id")
    agg = both.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("g1") & F.col("g2"), 1).otherwise(0)).cast("long").alias("both_keep"),
        F.sum(F.when(F.col("g1") & ~F.col("g2"), 1).otherwise(0))
        .cast("long")
        .alias("gopher_only"),
        F.sum(F.when(~F.col("g1") & F.col("g2"), 1).otherwise(0))
        .cast("long")
        .alias("repetition_only"),
        F.sum(F.when(~F.col("g1") & ~F.col("g2"), 1).otherwise(0))
        .cast("long")
        .alias("both_drop"),
    )
    b, c = F.col("gopher_only"), F.col("repetition_only")
    return agg.select(
        "n_docs",
        "both_keep",
        "gopher_only",
        "repetition_only",
        "both_drop",
        F.when(b + c > 0, F.round((b - c) * (b - c) / (b + c).cast("double"), W1_ROUND))
        .otherwise(F.lit(0.0))
        .alias("mcnemar_chi2"),
    )


# ---------------------------------------------------------------------------
# Brown–Forsythe variance homogeneity: ANOVA on |x − group median| —
# the SPREAD sibling of anova_oneway_value (that tests means; this
# tests whether the value dispersion itself differs by event type,
# the robust Levene variant).
# ---------------------------------------------------------------------------


@query(
    "brown_forsythe_variance",
    oracle=f"""
WITH pts AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events
), med AS (
  SELECT event_type, quantile_cont(v, 0.5) AS m FROM pts GROUP BY 1
), dev AS (
  SELECT p.event_type,
         CAST(abs(2 * p.v - CAST(round(2 * m.m) AS BIGINT)) AS BIGINT) AS z
  FROM pts p JOIN med m ON p.event_type = m.event_type
), cells AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(z) AS BIGINT) AS s,
         CAST(sum(CAST(z AS DECIMAL(38,0)) * z) AS DECIMAL(38,0)) AS ss
  FROM dev GROUP BY 1
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n) AS BIGINT) AS nt,
         CAST(sum(s) AS BIGINT) AS st,
         CAST(sum(ss) AS DECIMAL(38,0)) AS sst,
         sum(CAST(s AS DOUBLE) * s / n) AS sum_sq_means
  FROM cells
)
SELECT k AS n_groups, nt AS n_rows,
       round((sum_sq_means - CAST(st AS DOUBLE) * st / nt) / 40000.0, 2) + 0.0
         AS ss_between,
       round((CAST(sst AS DOUBLE) - sum_sq_means) / 40000.0, 2) + 0.0 AS ss_within,
       round(((sum_sq_means - CAST(st AS DOUBLE) * st / nt) / (k - 1))
             / ((CAST(sst AS DOUBLE) - sum_sq_means) / (nt - k)),
             {BF_ROUND}) + 0.0 AS f_stat
FROM agg
""",
)
def brown_forsythe_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test of variance homogeneity across event types:
    one-way ANOVA on z = |x − median_g|. Because values are cents
    integers, 2·median is an exact integer, so z is kept as the
    ×2-scaled integer |2x − 2m| and the SS decomposition runs on exact
    integer/decimal sums (the anova_oneway_value expansion); the /2
    scale cancels in F and is divided out of the reported SS (÷4·1e4
    back to dollars²).

    Plan: two map-side-combinable passes over events (exact per-type
    median, then the deviation moments); both shuffles carry ≤ 5
    cells."""
    pts = _events_cents(spark, sf_dir).select("event_type", "v")
    med = pts.groupBy("event_type").agg(F.expr("percentile(v, 0.5D)").alias("m"))
    dev = pts.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(2 * F.col("v") - F.round(2 * F.col("m")).cast("long")).cast("long").alias("z"),
    )
    cells = dev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("z").cast("long").alias("s"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z")).cast("decimal(38,0)").alias("ss"),
    )
    agg = cells.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").cast("long").alias("st"),
        F.sum("ss").cast("decimal(38,0)").alias("sst"),
        F.sum(F.col("s").cast("double") * F.col("s") / F.col("n")).alias("sum_sq_means"),
    )
    k, nt = F.col("k"), F.col("nt")
    ssb = F.col("sum_sq_means") - F.col("st").cast("double") * F.col("st") / nt
    ssw = F.col("sst").cast("double") - F.col("sum_sq_means")
    return agg.select(
        k.alias("n_groups"),
        nt.alias("n_rows"),
        F.round(ssb / 40000.0, 2).alias("ss_between"),
        F.round(ssw / 40000.0, 2).alias("ss_within"),
        F.round((ssb / (k - 1)) / (ssw / (nt - k)), BF_ROUND).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Simpson's-paradox check: OLS slope of quantity on discount overall
# vs within each returnflag stratum — does the aggregate association
# reverse once the stratifier is controlled? The association-hygiene
# audit next to ols_discount_elasticity (which fits one pooled model).
# ---------------------------------------------------------------------------

_SIMPSON_CELL_SQL = """
  SELECT {grp} AS grp,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx
  FROM pts GROUP BY 1
"""


@query(
    "simpson_slope_check",
    oracle=f"""
WITH pts AS (
  SELECT l_returnflag,
         CAST(round(l_discount * 100) AS BIGINT) AS x,
         CAST(round(l_quantity) AS BIGINT) AS y
  FROM lineitem
), cells AS (
  {_SIMPSON_CELL_SQL.format(grp="l_returnflag")}
), overall AS (
  {_SIMPSON_CELL_SQL.format(grp="'ALL'")}
), sl AS (
  SELECT grp, n,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
           AS slope
  FROM (SELECT * FROM cells UNION ALL SELECT * FROM overall)
)
SELECT s.grp AS stratum, s.n AS n_rows,
       round(s.slope, {SIMPSON_ROUND}) + 0.0 AS slope_qty_per_disc_pt,
       round(o.slope, {SIMPSON_ROUND}) + 0.0 AS overall_slope,
       (s.slope > 0) <> (o.slope > 0) AS sign_reversed
FROM sl s CROSS JOIN (SELECT slope FROM sl WHERE grp = 'ALL') o
WHERE s.grp <> 'ALL'
""",
)
def simpson_slope_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit: the OLS slope of quantity on discount
    (points) within each returnflag stratum, against the pooled slope,
    flagging sign reversals. Slopes come from exact integer/decimal
    sufficient statistics (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²), so both
    engines compute identical operands; each slope is one double
    expression.

    Plan: one lineitem scan feeding a 3-cell groupBy and a 1-cell
    overall agg (same scan, AQE-reused exchange); the stratum-vs-
    overall cross join is 3×1 rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_discount") * 100).cast("long").alias("x"),
        F.round("l_quantity").cast("long").alias("y"),
    )

    def cells(grp: F.Column) -> DataFrame:
        return li.groupBy(grp.alias("grp")).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
            .cast("decimal(38,0)")
            .alias("sxy"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
            .cast("decimal(38,0)")
            .alias("sxx"),
        )

    sl = cells(F.col("l_returnflag")).unionAll(cells(F.lit("ALL")))
    n = F.col("n").cast("double")
    slope = (n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy")) / (
        n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx")
    )
    sl = sl.select("grp", "n", slope.alias("slope"))
    ov = sl.where(F.col("grp") == "ALL").select(F.col("slope").alias("o_slope"))
    return (
        sl.where(F.col("grp") != "ALL")
        .crossJoin(F.broadcast(ov))
        .select(
            F.col("grp").alias("stratum"),
            F.col("n").alias("n_rows"),
            F.round("slope", SIMPSON_ROUND).alias("slope_qty_per_disc_pt"),
            F.round("o_slope", SIMPSON_ROUND).alias("overall_slope"),
            ((F.col("slope") > 0) != (F.col("o_slope") > 0)).alias("sign_reversed"),
        )
    )


# ---------------------------------------------------------------------------
# Mann–Kendall trend test on daily revenue — the SIGNIFICANCE
# companion of theil_sen_trend (that op estimates the slope; MK tests
# whether a monotone trend exists at all), with the exact tie-corrected
# variance.
# ---------------------------------------------------------------------------


@query(
    "mann_kendall_trend",
    oracle=f"""
WITH daily AS ({_DAILY_CTE}),
s AS (
  SELECT CAST(sum(CASE WHEN b.rev > a.rev THEN 1
                       WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
  FROM daily a JOIN daily b ON a.day < b.day
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM daily
), ties AS (
  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY rev HAVING count(*) > 1)
)
SELECT n AS n_days, s_stat,
       round((n * (n - 1.0) * (2 * n + 5) - tie_term) / 18.0, 2) + 0.0 AS var_s,
       CASE WHEN n * (n - 1.0) * (2 * n + 5) - tie_term > 0 THEN
         round(CASE WHEN s_stat > 0 THEN (s_stat - 1)
                    WHEN s_stat < 0 THEN (s_stat + 1)
                    ELSE 0 END
               / sqrt((n * (n - 1.0) * (2 * n + 5) - tie_term) / 18.0),
               {W1_ROUND}) + 0.0
       END AS z_stat,
       CASE WHEN s_stat > 0 THEN 'increasing'
            WHEN s_stat < 0 THEN 'decreasing' ELSE 'no_trend' END AS trend
FROM s CROSS JOIN nn CROSS JOIN ties
""",
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotone-trend test on daily revenue: exact
    S = Σ_{{i<j}} sign(x_j − x_i) from the day-pair join,
    tie-corrected Var[S] = (n(n−1)(2n+5) − Σt(t−1)(2t+5))/18, and the
    continuity-corrected z. Every operand is an integer; z is one
    double expression.

    Plan: the pair join is the calendar-bounded daily aggregate
    against itself (pairs ∝ days², never data volume), the same shape
    the kendall_tau_daily / theil_sen_trend plans already carry."""
    daily = _daily(spark, sf_dir).select("day", "rev")
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(b, F.col("a.day") < F.col("b.day"))
        .agg(
            F.sum(
                F.when(F.col("b.rev") > F.col("a.rev"), 1)
                .when(F.col("b.rev") < F.col("a.rev"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    nn = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = F.col("t")
    ties = (
        daily.groupBy("rev")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .where(t > 1)
        .agg(F.coalesce(F.sum(t * (t - 1) * (2 * t + 5)), F.lit(0)).cast("long").alias("tie_term"))
    )
    j = s.crossJoin(F.broadcast(nn)).crossJoin(F.broadcast(ties))
    n, ss = F.col("n"), F.col("s_stat")
    var_s = (n * (n - 1.0) * (2 * n + 5) - F.col("tie_term")) / 18.0
    corr = F.when(ss > 0, ss - 1).when(ss < 0, ss + 1).otherwise(0)
    return j.select(
        n.alias("n_days"),
        "s_stat",
        F.round(var_s, 2).alias("var_s"),
        # var_s = 0 (n < 2 or all days tied): Spark's /0 yields NULL but
        # DuckDB yields inf/nan — gate z to NULL identically in both
        # engines (oracle carries the matching CASE WHEN ... > 0).
        F.when(var_s > 0, F.round(corr / F.sqrt(var_s), W1_ROUND)).alias("z_stat"),
        F.when(ss > 0, "increasing").when(ss < 0, "decreasing").otherwise("no_trend").alias(
            "trend"
        ),
    )


# ---------------------------------------------------------------------------
# Seasonal Mann–Kendall: the weekly-seasonality-robust variant — pairs
# are compared only WITHIN the same weekday, so the strong day-of-week
# cycle (ljung_box_daily's Q(7) signal, weekday_seasonality_index's
# profile) cannot masquerade as or mask a monotone trend. Hirsch–Slack
# aggregation: S = Σ_w S_w, Var = Σ_w Var_w (tie-corrected per season).
# ---------------------------------------------------------------------------


@query(
    "seasonal_mann_kendall",
    oracle=f"""
WITH daily AS ({_DAILY_CTE}),
wk AS (
  SELECT day, rev, CAST(isodow(day) - 1 AS INT) AS weekday FROM daily
), s AS (
  SELECT CAST(sum(CASE WHEN b.rev > a.rev THEN 1
                       WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
  FROM wk a JOIN wk b ON a.weekday = b.weekday AND a.day < b.day
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(count(DISTINCT weekday) AS BIGINT) AS n_seasons
  FROM wk
), vr AS (
  SELECT CAST(sum(n * (n - 1) * (2 * n + 5)) AS BIGINT) AS base_term
  FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM wk GROUP BY weekday)
), ties AS (
  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
  FROM (SELECT CAST(count(*) AS BIGINT) AS t
        FROM wk GROUP BY weekday, rev HAVING count(*) > 1)
)
SELECT n_days, n_seasons, s_stat,
       round((base_term - tie_term) / 18.0, 2) + 0.0 AS var_s,
       CASE WHEN base_term - tie_term > 0 THEN
         round(CASE WHEN s_stat > 0 THEN (s_stat - 1)
                    WHEN s_stat < 0 THEN (s_stat + 1) ELSE 0 END
               / sqrt((base_term - tie_term) / 18.0), {W1_ROUND}) + 0.0
       END AS z_stat,
       CASE WHEN s_stat > 0 THEN 'increasing'
            WHEN s_stat < 0 THEN 'decreasing' ELSE 'no_trend' END AS trend
FROM s CROSS JOIN nn CROSS JOIN vr CROSS JOIN ties
""",
)
def seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hirsch–Slack seasonal Mann–Kendall on daily revenue with
    weekday seasons (0=Monday, the weekday_seasonality_index
    convention): S = Σ_w Σ_{{i<j in w}} sign(x_j − x_i), Var[S] =
    Σ_w (n_w(n_w−1)(2n_w+5) − Σ_t t(t−1)(2t+5))/18 with ties counted
    within each season, continuity-corrected z. mann_kendall_trend
    answers "is there a monotone trend?"; this answers it while immune
    to the weekly cycle (which its Q(7) companion shows is real).
    Every operand up to the final z is an exact integer.

    Plan: the pair join is within-weekday over the calendar-bounded
    daily aggregate (pairs ≈ days²/7, never data volume) — the
    mann_kendall_trend shape with a tighter join key that also
    co-partitions the self-join on weekday."""
    daily = _daily(spark, sf_dir).select(
        "day", "rev", F.weekday("day").cast("int").alias("weekday")
    )
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(b, (F.col("a.weekday") == F.col("b.weekday")) & (F.col("a.day") < F.col("b.day")))
        .agg(
            F.sum(
                F.when(F.col("b.rev") > F.col("a.rev"), 1)
                .when(F.col("b.rev") < F.col("a.rev"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    nn = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.countDistinct("weekday").cast("long").alias("n_seasons"),
    )
    n = F.col("n")
    vr = (
        daily.groupBy("weekday")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .agg(F.sum(n * (n - 1) * (2 * n + 5)).cast("long").alias("base_term"))
    )
    t = F.col("t")
    ties = (
        daily.groupBy("weekday", "rev")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .where(t > 1)
        .agg(
            F.coalesce(F.sum(t * (t - 1) * (2 * t + 5)), F.lit(0)).cast("long").alias("tie_term")
        )
    )
    j = (
        s.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(vr))
        .crossJoin(F.broadcast(ties))
    )
    ss = F.col("s_stat")
    var_s = (F.col("base_term") - F.col("tie_term")) / 18.0
    corr = F.when(ss > 0, ss - 1).when(ss < 0, ss + 1).otherwise(0)
    return j.select(
        "n_days",
        "n_seasons",
        "s_stat",
        F.round(var_s, 2).alias("var_s"),
        # Same var_s = 0 gate as mann_kendall_trend (every weekday season
        # fully tied or <2 obs): NULL in both engines, never inf/nan.
        F.when(var_s > 0, F.round(corr / F.sqrt(var_s), W1_ROUND)).alias("z_stat"),
        F.when(ss > 0, "increasing").when(ss < 0, "decreasing").otherwise("no_trend").alias(
            "trend"
        ),
    )


# ---------------------------------------------------------------------------
# Hill tail-index estimator on order prices — quantifies HOW heavy the
# revenue tail is (robust_revenue_stats says the tail is long; Hill
# says the power-law exponent, the number capacity planning wants).
# ---------------------------------------------------------------------------

HILL_K = 200  # top-k order statistics used


@query(
    "hill_tail_index",
    oracle=f"""
WITH pts AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, o_orderkey,
         row_number() OVER (ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
                            o_orderkey) AS rk
  FROM orders
), thr AS (
  SELECT CAST(v AS DOUBLE) AS xk FROM pts WHERE rk = {HILL_K} + 1
)
SELECT CAST({HILL_K} AS BIGINT) AS k,
       round(any_value(xk) / 100.0, 2) + 0.0 AS threshold_price,
       round(sum(ln(CAST(v AS DOUBLE) / xk)) / {HILL_K}, 4) + 0.0 AS hill_inv_alpha,
       round({HILL_K} / sum(ln(CAST(v AS DOUBLE) / xk)), 4) + 0.0 AS hill_alpha
FROM pts CROSS JOIN thr
WHERE rk <= {HILL_K}
""",
)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the order-price tail index from the top
    {K} order statistics: 1/α̂ = (1/k)·Σ ln(x_(i)/x_(k+1)). The top-k
    set is made deterministic by ranking on (cents DESC, orderkey), so
    boundary ties resolve identically in both engines; the log-sum is
    rounded at 4 dp (the established IR-family tolerance for libm
    noise).

    Plan: rank-k selection is a TakeOrdered-shaped filter over the
    cents projection (row_number is windowed over a single ordered
    run of ≤ k+1 survivors after AQE pushes the limit); the estimator
    is a k-row agg."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"), "o_orderkey"
    )
    w = Window.orderBy(F.col("v").desc(), "o_orderkey")
    pts = orders.select("v", F.row_number().over(w).alias("rk")).where(
        F.col("rk") <= HILL_K + 1
    )
    thr = pts.where(F.col("rk") == HILL_K + 1).select(F.col("v").cast("double").alias("xk"))
    top = pts.where(F.col("rk") <= HILL_K).crossJoin(F.broadcast(thr))
    logsum = F.sum(F.log(F.col("v").cast("double") / F.col("xk")))
    return top.agg(
        F.lit(HILL_K).cast("long").alias("k"),
        F.round(F.any_value("xk") / 100.0, 2).alias("threshold_price"),
        F.round(logsum / HILL_K, 4).alias("hill_inv_alpha"),
        F.round(HILL_K / logsum, 4).alias("hill_alpha"),
    )


# ---------------------------------------------------------------------------
# Grubbs outlier statistic on daily revenue: is the single most
# extreme day a statistical outlier? The single-point sibling of
# anomaly_zscore / anomaly_mad_daily (those flag all excursions; this
# scores THE most extreme one with its exact argmax).
# ---------------------------------------------------------------------------


@query(
    "grubbs_outlier_daily",
    oracle=f"""
WITH daily AS ({_DAILY_CTE}),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rev) AS BIGINT) AS s,
         CAST(sum(CAST(rev AS DECIMAL(38,0)) * rev) AS DECIMAL(38,0)) AS ss
  FROM daily
), ext AS (
  SELECT day, rev,
         abs(n * rev - s) AS dev_scaled
  FROM daily CROSS JOIN mom
  ORDER BY abs(n * rev - s) DESC, day
  LIMIT 1
)
SELECT n AS n_days,
       round(CAST(s AS DOUBLE) / n, 2) + 0.0 AS mean_rev,
       round(sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s)
                  / (CAST(n AS DOUBLE) * (n - 1))), {W1_ROUND}) + 0.0 AS sd_rev,
       ext.day AS outlier_day, ext.rev AS outlier_rev,
       round((CAST(dev_scaled AS DOUBLE) / n)
             / sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s)
                    / (CAST(n AS DOUBLE) * (n - 1))), {W1_ROUND}) + 0.0 AS g_stat
FROM ext CROSS JOIN mom
""",
)
def grubbs_outlier_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs statistic G = max|x − x̄|/s over daily revenue, with the
    argmax day. The argmax is decided on the INTEGER deviation
    |n·x − S| (ties → earliest day), so both engines pick the same
    day even when two days are equidistant from the mean; the sample
    SD comes from the (nΣx² − S²)/(n(n−1)) expansion on
    integer/decimal sums.

    Plan: calendar-bounded daily agg, 1-row moment agg broadcast
    back, TakeOrdered(1) for the argmax."""
    daily = _daily(spark, sf_dir).select("day", "rev")
    mom = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rev").cast("long").alias("s"),
        F.sum(F.col("rev").cast("decimal(38,0)") * F.col("rev"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    ext = (
        daily.crossJoin(F.broadcast(mom))
        .select(
            "day",
            "rev",
            "n",
            "s",
            "ss",
            F.abs(F.col("n") * F.col("rev") - F.col("s")).alias("dev_scaled"),
        )
        .orderBy(F.col("dev_scaled").desc(), "day")
        .limit(1)
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    var = (n.cast("double") * ss.cast("double") - s.cast("double") * s) / (
        n.cast("double") * (n - 1)
    )
    return ext.select(
        n.alias("n_days"),
        F.round(s.cast("double") / n, 2).alias("mean_rev"),
        F.round(F.sqrt(var), W1_ROUND).alias("sd_rev"),
        F.col("day").alias("outlier_day"),
        F.col("rev").alias("outlier_rev"),
        F.round((F.col("dev_scaled").cast("double") / n) / F.sqrt(var), W1_ROUND).alias(
            "g_stat"
        ),
    )


# ---------------------------------------------------------------------------
# Partial correlation matrix over the lineitem money triple — does the
# quantity↔price association survive controlling for discount (and
# each rotation)? The confounder-controlled sibling of
# lineitem_corr_matrix (which reports raw pairwise r).
# ---------------------------------------------------------------------------

_PCORR_VARS = [
    ("quantity", "CAST(round(l_quantity) AS BIGINT)"),
    ("discount_pts", "CAST(round(l_discount * 100) AS BIGINT)"),
    ("price_cents", "CAST(round(l_extendedprice * 100) AS BIGINT)"),
]


def _pcorr_r_sql(a: str, b: str) -> str:
    return f"""(CAST(n AS DOUBLE) * CAST(s_{a}_{b} AS DOUBLE)
      - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))
     / sqrt((CAST(n AS DOUBLE) * CAST(s_{a}_{a} AS DOUBLE)
             - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))
            * (CAST(n AS DOUBLE) * CAST(s_{b}_{b} AS DOUBLE)
               - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"""


@query(
    "partial_corr_matrix",
    oracle=f"""
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
SELECT * FROM (
  SELECT '{_PCORR_VARS[0][0]}' AS x_var, '{_PCORR_VARS[1][0]}' AS y_var,
         '{_PCORR_VARS[2][0]}' AS control_var,
         round(r01, 6) + 0.0 AS r_pair,
         round((r01 - r02 * r12) / sqrt((1 - r02 * r02) * (1 - r12 * r12)), 6) + 0.0
           AS r_partial
  FROM r
  UNION ALL
  SELECT '{_PCORR_VARS[0][0]}', '{_PCORR_VARS[2][0]}', '{_PCORR_VARS[1][0]}',
         round(r02, 6) + 0.0,
         round((r02 - r01 * r12) / sqrt((1 - r01 * r01) * (1 - r12 * r12)), 6) + 0.0
  FROM r
  UNION ALL
  SELECT '{_PCORR_VARS[1][0]}', '{_PCORR_VARS[2][0]}', '{_PCORR_VARS[0][0]}',
         round(r12, 6) + 0.0,
         round((r12 - r01 * r02) / sqrt((1 - r01 * r01) * (1 - r02 * r02)), 6) + 0.0
  FROM r
)
""",
)
def partial_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlations over (quantity, discount,
    extendedprice): r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²))
    for each of the three control rotations, next to the raw pairwise
    r. All ten cross-moments accumulate as exact integer/DECIMAL(38,0)
    sums in ONE lineitem pass; the three r's and three partials are
    scalar double expressions from identical operands.

    Plan: one map-side-combinable agg to a single row, then 3
    constant-space projections unioned — nothing shuffles after the
    scan."""
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

    # 1-row relation projected three times — checkpoint so the lineitem
    # moment pass runs once, not per output row
    r = mom.select(
        r_of(0, 1).alias("r01"), r_of(0, 2).alias("r02"), r_of(1, 2).alias("r12")
    ).localCheckpoint(eager=True)
    names = [v for v, _ in _PCORR_VARS]

    def row(x: int, y: int, z: int, rxy: str, rxz: str, ryz: str) -> DataFrame:
        p = (F.col(rxy) - F.col(rxz) * F.col(ryz)) / F.sqrt(
            (1 - F.col(rxz) * F.col(rxz)) * (1 - F.col(ryz) * F.col(ryz))
        )
        return r.select(
            F.lit(names[x]).alias("x_var"),
            F.lit(names[y]).alias("y_var"),
            F.lit(names[z]).alias("control_var"),
            F.round(F.col(rxy), 6).alias("r_pair"),
            F.round(p, 6).alias("r_partial"),
        )

    return (
        row(0, 1, 2, "r01", "r02", "r12")
        .unionAll(row(0, 2, 1, "r02", "r01", "r12"))
        .unionAll(row(1, 2, 0, "r12", "r01", "r02"))
    )


# ---------------------------------------------------------------------------
# Cochran–Armitage trend test: does the gopher keep-rate trend
# monotonically across document-length quintiles? The ORDERED
# categorical test the chi-square family can't express (chi-square
# ignores bin order; CA weights it).
# ---------------------------------------------------------------------------

CA_BINS = 5


def _ca_oracle() -> str:
    from etl_jlp_spark.operators import quality_rules  # noqa: F401 — registers the gate oracle
    from etl_jlp_spark.registry import ORACLES

    gopher = ORACLES["gopher_quality_filter"]
    return f"""
WITH gopher_rel AS MATERIALIZED ({gopher}),
sized AS (
  SELECT d.doc_id, CASE WHEN g.keep THEN 1 ELSE 0 END AS keep,
         row_number() OVER (ORDER BY d.n_chars, d.doc_id) AS rk,
         count(*) OVER () AS n
  FROM documents d JOIN gopher_rel g ON d.doc_id = g.doc_id
), binned AS (
  SELECT CAST(floor(({CA_BINS} * (rk - 1)) / n) AS BIGINT) AS w, keep FROM sized
), cells AS (
  SELECT w, CAST(count(*) AS BIGINT) AS ni, CAST(sum(keep) AS BIGINT) AS ri
  FROM binned GROUP BY 1
), agg AS (
  SELECT CAST(sum(ni) AS BIGINT) AS n, CAST(sum(ri) AS BIGINT) AS r,
         CAST(sum(w * ri) AS BIGINT) AS t,
         CAST(sum(w * ni) AS BIGINT) AS swn,
         CAST(sum(w * w * ni) AS BIGINT) AS swwn
  FROM cells
)
SELECT n AS n_docs, r AS n_keep, t AS t_stat,
       round(CAST(r AS DOUBLE) / n, 4) + 0.0 AS keep_rate,
       round((t - CAST(r AS DOUBLE) / n * swn)
             / sqrt(CAST(r AS DOUBLE) / n * (1.0 - CAST(r AS DOUBLE) / n)
                    * (swwn - CAST(swn AS DOUBLE) * swn / n)),
             {W1_ROUND}) + 0.0 AS z_trend
FROM agg
"""


@query("cochran_armitage_trend", oracle=_ca_oracle())
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage test for a monotone trend of the gopher
    keep-rate across document-length quintiles (scores w = 0..4):
    z = (T − p̄·Σwn) / √(p̄(1−p̄)(Σw²n − (Σwn)²/N)) with T = Σw·r.
    Quintile assignment is the EXACT rank rule ⌊5(rank−1)/N⌋ over
    (n_chars, doc_id), so bin membership is deterministic cross-engine
    (ntile would tie-break arbitrarily); every sum is an integer.

    Plan: the gate relation is the registered operator's own
    projection; ranking is one ordered window over (n_chars, doc_id)
    — at cluster scale this becomes the two-phase rank (partition
    histogram + offsets) documented in SURVEY §6; cells are ≤ 5."""
    from etl_jlp_spark.operators.quality_rules import gopher_quality_filter

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    gop = gopher_quality_filter(spark, sf_dir).select(
        "doc_id", F.when(F.col("keep"), 1).otherwise(0).alias("keep")
    )
    sized = docs.join(gop, "doc_id").select(
        "keep",
        F.row_number().over(Window.orderBy("n_chars", "doc_id")).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    binned = sized.select(
        F.floor((CA_BINS * (F.col("rk") - 1)) / F.col("n")).cast("long").alias("w"), "keep"
    )
    cells = binned.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("ni"), F.sum("keep").cast("long").alias("ri")
    )
    agg = cells.agg(
        F.sum("ni").cast("long").alias("n"),
        F.sum("ri").cast("long").alias("r"),
        F.sum(F.col("w") * F.col("ri")).cast("long").alias("t"),
        F.sum(F.col("w") * F.col("ni")).cast("long").alias("swn"),
        F.sum(F.col("w") * F.col("w") * F.col("ni")).cast("long").alias("swwn"),
    )
    n, r, t = F.col("n"), F.col("r"), F.col("t")
    p = r.cast("double") / n
    return agg.select(
        n.alias("n_docs"),
        r.alias("n_keep"),
        t.alias("t_stat"),
        F.round(p, 4).alias("keep_rate"),
        F.round(
            (t - p * F.col("swn"))
            / F.sqrt(p * (1.0 - p) * (F.col("swwn") - F.col("swn").cast("double") * F.col("swn") / n)),
            W1_ROUND,
        ).alias("z_trend"),
    )


# ---------------------------------------------------------------------------
# Fleiss' kappa across the three curation gates treated as raters —
# chance-corrected agreement of langid / gopher / repetition on the
# same corpus (mcnemar_gate_flips tests two gates' asymmetry; kappa
# scores the whole panel's consistency).
# ---------------------------------------------------------------------------


def _fleiss_oracle() -> str:
    from etl_jlp_spark.operators import (  # noqa: F401
        dedup,
        quality_rules,
        similarity,
        textstats,
    )
    from etl_jlp_spark.plans.curate import CASCADE_MAX_BIGRAM, CASCADE_MIN_DISTINCT
    from etl_jlp_spark.registry import ORACLES

    return f"""
WITH lang_rel AS MATERIALIZED ({ORACLES["text_langid"]}),
gopher_rel AS MATERIALIZED ({ORACLES["gopher_quality_filter"]}),
rep_rel AS MATERIALIZED ({ORACLES["text_repetition"]}),
votes AS (
  SELECT (CASE WHEN l.lang_pred <> 'unknown' THEN 1 ELSE 0 END
          + CASE WHEN g.keep THEN 1 ELSE 0 END
          + CASE WHEN r.distinct_ratio >= {CASCADE_MIN_DISTINCT}
                  AND r.top_bigram_frac <= {CASCADE_MAX_BIGRAM}
                 THEN 1 ELSE 0 END) AS k
  FROM lang_rel l
  JOIN gopher_rel g ON l.doc_id = g.doc_id
  JOIN rep_rel r ON l.doc_id = r.doc_id
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE k = 0) AS BIGINT) AS c0,
         CAST(count(*) FILTER (WHERE k = 1) AS BIGINT) AS c1,
         CAST(count(*) FILTER (WHERE k = 2) AS BIGINT) AS c2,
         CAST(count(*) FILTER (WHERE k = 3) AS BIGINT) AS c3,
         CAST(sum(k) AS BIGINT) AS sk,
         CAST(sum(k * k + (3 - k) * (3 - k) - 3) AS BIGINT) AS sp
  FROM votes
), est AS (
  SELECT n, c0, c1, c2, c3,
         CAST(sp AS DOUBLE) / (6.0 * n) AS p_bar,
         CAST(sk AS DOUBLE) / (3.0 * n) AS p_keep
  FROM agg
)
SELECT n AS n_docs, c0 AS all_drop, c1 AS one_keep, c2 AS two_keep, c3 AS all_keep,
       round(p_keep, {W1_ROUND}) + 0.0 AS p_keep,
       round(p_bar, {W1_ROUND}) + 0.0 AS p_bar,
       round((p_bar - (p_keep * p_keep + (1 - p_keep) * (1 - p_keep)))
             / (1 - (p_keep * p_keep + (1 - p_keep) * (1 - p_keep))),
             {W1_ROUND}) + 0.0 AS fleiss_kappa
FROM est
""".replace("{W1_ROUND}", str(W1_ROUND))


@query("fleiss_kappa_gates", oracle=_fleiss_oracle())
def fleiss_kappa_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over three curation gates as raters (langid ≠
    unknown, gopher keep, repetition pass), binary categories: per-doc
    agreement P_i = (k² + (3−k)² − 3)/6 aggregates to the INTEGER sum
    Σ(k² + (3−k)² − 3), and P_e = p² + (1−p)² from the integer vote
    total — κ is one double expression at the end.

    Plan: three registered single-pass gate relations joined on
    doc_id, one 1-row agg; the vote histogram (c0..c3) rides along
    for the review table."""
    from etl_jlp_spark.operators.quality_rules import (
        gopher_quality_filter,
        text_repetition,
    )
    from etl_jlp_spark.operators.textstats import text_langid
    from etl_jlp_spark.plans.curate import CASCADE_MAX_BIGRAM, CASCADE_MIN_DISTINCT

    lang = text_langid(spark, sf_dir).select(
        "doc_id", F.when(F.col("lang_pred") != "unknown", 1).otherwise(0).alias("v1")
    )
    gop = gopher_quality_filter(spark, sf_dir).select(
        "doc_id", F.when(F.col("keep"), 1).otherwise(0).alias("v2")
    )
    rep = text_repetition(spark, sf_dir).select(
        "doc_id",
        F.when(
            (F.col("distinct_ratio") >= CASCADE_MIN_DISTINCT)
            & (F.col("top_bigram_frac") <= CASCADE_MAX_BIGRAM),
            1,
        )
        .otherwise(0)
        .alias("v3"),
    )
    votes = lang.join(gop, "doc_id").join(rep, "doc_id").select(
        (F.col("v1") + F.col("v2") + F.col("v3")).alias("k")
    )
    k = F.col("k")
    agg = votes.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(k == 0, 1).otherwise(0)).cast("long").alias("c0"),
        F.sum(F.when(k == 1, 1).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(k == 2, 1).otherwise(0)).cast("long").alias("c2"),
        F.sum(F.when(k == 3, 1).otherwise(0)).cast("long").alias("c3"),
        F.sum(k).cast("long").alias("sk"),
        F.sum(k * k + (3 - k) * (3 - k) - 3).cast("long").alias("sp"),
    )
    p_bar = F.col("sp").cast("double") / (6.0 * F.col("n"))
    p_keep = F.col("sk").cast("double") / (3.0 * F.col("n"))
    p_e = p_keep * p_keep + (1 - p_keep) * (1 - p_keep)
    return agg.select(
        F.col("n").alias("n_docs"),
        F.col("c0").alias("all_drop"),
        F.col("c1").alias("one_keep"),
        F.col("c2").alias("two_keep"),
        F.col("c3").alias("all_keep"),
        F.round(p_keep, W1_ROUND).alias("p_keep"),
        F.round(p_bar, W1_ROUND).alias("p_bar"),
        F.round((p_bar - p_e) / (1 - p_e), W1_ROUND).alias("fleiss_kappa"),
    )


# ---------------------------------------------------------------------------
# Winsorized & trimmed mean of order price — the robust location pair
# to robust_revenue_stats' median/MAD (trimming discards the tails;
# winsorizing clamps them — reviewers ask for both next to the raw
# mean when the Hill index says the tail is heavy).
# ---------------------------------------------------------------------------

TRIM_DEN = 20  # 5 % per tail (k = n // 20)


@query(
    "winsorized_trimmed_mean",
    oracle=f"""
WITH pts AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         row_number() OVER (ORDER BY CAST(round(o_totalprice * 100) AS BIGINT),
                            o_orderkey) AS rn,
         count(*) OVER () AS n
  FROM orders
), kk AS (
  SELECT any_value(n) AS n, any_value(n) // {TRIM_DEN} AS k FROM pts
), bounds AS (
  SELECT kk.n, kk.k,
         (SELECT v FROM pts WHERE rn = kk.k + 1) AS lo,
         (SELECT v FROM pts WHERE rn = kk.n - kk.k) AS hi
  FROM kk
), kept AS (
  SELECT CAST(sum(p.v) AS BIGINT) AS s_kept,
         CAST(sum(p.v) FILTER (WHERE p.rn > b.k AND p.rn <= b.n - b.k) AS BIGINT)
           AS s_mid
  FROM pts p CROSS JOIN bounds b
)
SELECT b.n AS n_orders, b.k AS k_trim,
       round(CAST(k.s_kept AS DOUBLE) / b.n / 100.0, 4) + 0.0 AS mean_raw,
       round(CAST(k.s_mid AS DOUBLE) / (b.n - 2 * b.k) / 100.0, 4) + 0.0
         AS trimmed_mean,
       round((CAST(k.s_mid AS DOUBLE) + CAST(b.k AS DOUBLE) * b.lo
              + CAST(b.k AS DOUBLE) * b.hi) / b.n / 100.0, 4) + 0.0
         AS winsorized_mean
FROM bounds b CROSS JOIN kept k
""",
)
def winsorized_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 %-per-tail trimmed and winsorized means of order totalprice:
    exact cents ranks (ties → orderkey), k = n // ``TRIM_DEN`` by pure
    integer division (no float boundary), tail sums by rank windows —
    the means are single double divisions from integer sums.

    Plan: one global rank over the cents projection (two-phase rank is
    the documented cluster-scale fallback), then constant-space
    arithmetic; the clamp values are two rank lookups."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"), "o_orderkey"
    )
    w = Window.orderBy("v", "o_orderkey")
    pts = orders.select(
        "v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    ).localCheckpoint(eager=True)  # ranked once; consumed by bounds + sums
    kk = pts.agg(
        F.any_value("n").alias("n"), F.expr(f"any_value(n) div {TRIM_DEN}").alias("k")
    )
    b = pts.select("v", "rn").crossJoin(F.broadcast(kk))
    bounds = b.agg(
        F.any_value("n").alias("n"),
        F.any_value("k").alias("k"),
        F.min(F.when(F.col("rn") == F.col("k") + 1, F.col("v"))).alias("lo"),
        F.min(F.when(F.col("rn") == F.col("n") - F.col("k"), F.col("v"))).alias("hi"),
        F.sum("v").cast("long").alias("s_kept"),
        F.sum(
            F.when(
                (F.col("rn") > F.col("k")) & (F.col("rn") <= F.col("n") - F.col("k")),
                F.col("v"),
            )
        )
        .cast("long")
        .alias("s_mid"),
    )
    n, k = F.col("n"), F.col("k")
    return bounds.select(
        n.alias("n_orders"),
        k.alias("k_trim"),
        F.round(F.col("s_kept").cast("double") / n / 100.0, 4).alias("mean_raw"),
        F.round(F.col("s_mid").cast("double") / (n - 2 * k) / 100.0, 4).alias("trimmed_mean"),
        F.round(
            (F.col("s_mid").cast("double") + k.cast("double") * F.col("lo")
             + k.cast("double") * F.col("hi")) / n / 100.0,
            4,
        ).alias("winsorized_mean"),
    )


# ---------------------------------------------------------------------------
# Hurst exponent via rescaled-range (R/S) analysis of daily revenue —
# long-range-dependence diagnostics: H ≈ 0.5 for a memoryless series,
# H > 0.5 for persistent trends (acf_daily_revenue sees short lags;
# R/S sees the scaling law).
# ---------------------------------------------------------------------------

HURST_BLOCKS = [16, 32, 64]  # ln-equally-spaced block sizes


def _hurst_block_sql(m: int) -> str:
    return f"""
  SELECT {m} AS m, blk,
         CAST(max(dev) - min(dev) AS BIGINT) AS rm,
         any_value(s_blk) AS s_blk, any_value(ss_blk) AS ss_blk
  FROM (
    SELECT blk, {m} * cum - t * s_blk AS dev, s_blk, ss_blk
    FROM (
      SELECT rn // {m} AS blk,
             row_number() OVER (PARTITION BY rn // {m} ORDER BY day) AS t,
             sum(rev) OVER (PARTITION BY rn // {m} ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(rev) OVER (PARTITION BY rn // {m}) AS s_blk,
             sum(CAST(rev AS DECIMAL(38,0)) * rev) OVER (PARTITION BY rn // {m})
               AS ss_blk,
             count(*) OVER (PARTITION BY rn // {m}) AS bn
      FROM idx
    ) WHERE bn = {m}
  ) GROUP BY blk
"""


@query(
    "hurst_rs_exponent",
    oracle=f"""
WITH daily AS ({_DAILY_CTE}),
idx AS (
  SELECT day, rev, row_number() OVER (ORDER BY day) - 1 AS rn FROM daily
), blocks AS (
{" UNION ALL ".join(_hurst_block_sql(m) for m in HURST_BLOCKS)}
), rs AS (
  SELECT m, blk,
         CAST(round(1000000.0 * rm
               / sqrt(CAST(m AS DOUBLE) * CAST(ss_blk AS DOUBLE)
                      - CAST(s_blk AS DOUBLE) * s_blk)) AS BIGINT) AS rs_e6
  FROM blocks
), per_m AS (
  SELECT m, CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(sum(rs_e6) AS BIGINT) AS srs
  FROM rs GROUP BY m
), hurst AS (
  SELECT round((ln(max(CASE WHEN m = {HURST_BLOCKS[-1]}
                        THEN CAST(srs AS DOUBLE) / n_blocks END))
                - ln(max(CASE WHEN m = {HURST_BLOCKS[0]}
                         THEN CAST(srs AS DOUBLE) / n_blocks END)))
               / (2 * ln(2.0)), 4) + 0.0 AS h
  FROM per_m
)
SELECT m AS block_size, n_blocks,
       round(CAST(srs AS DOUBLE) / n_blocks / 1000000.0, 6) + 0.0 AS avg_rs,
       hurst.h AS hurst_exponent
FROM per_m CROSS JOIN hurst
""",
)
def hurst_rs_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rescaled-range Hurst exponent of daily revenue over block sizes
    {BLOCKS}: within each complete block the cumulative deviation is
    kept as the INTEGER m·cum_t − t·S (so R·m is an exact integer),
    the population SD comes from the m·Σx² − S² expansion, each
    block's R/S is e6-quantized before averaging (no float
    accumulation across blocks), and H is the endpoint slope
    (ln RS(64) − ln RS(16)) / (2 ln 2) — the closed form for three
    ln-equally-spaced sizes, so no 3-point regression float order
    exists at all.

    Plan: calendar-bounded daily series; the three block groupings
    are windows over that tiny relation."""
    daily = _daily(spark, sf_dir).select("day", "rev")
    idx = daily.select(
        "day", "rev", (F.row_number().over(Window.orderBy("day")) - 1).alias("rn")
    ).localCheckpoint(eager=True)  # tiny; consumed by all three block sizes
    blocks = None
    for m in HURST_BLOCKS:
        blk = (F.col("rn") / m).cast("long")  # rn ≥ 0: cast truncation == floor
        wb = Window.partitionBy(blk)
        wo = wb.orderBy("day")
        cum = F.sum("rev").over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        g = (
            idx.select(
                blk.alias("blk"),
                F.row_number().over(wo).alias("t"),
                cum.alias("cum"),
                F.sum("rev").over(wb).alias("s_blk"),
                F.sum(F.col("rev").cast("decimal(38,0)") * F.col("rev")).over(wb).alias("ss_blk"),
                F.count(F.lit(1)).over(wb).alias("bn"),
            )
            .where(F.col("bn") == m)
            .select(
                F.lit(m).alias("m"),
                "blk",
                (m * F.col("cum") - F.col("t") * F.col("s_blk")).alias("dev"),
                "s_blk",
                "ss_blk",
            )
            .groupBy("blk")
            .agg(
                F.any_value("m").alias("m"),
                (F.max("dev") - F.min("dev")).cast("long").alias("rm"),
                F.any_value("s_blk").alias("s_blk"),
                F.any_value("ss_blk").alias("ss_blk"),
            )
        )
        blocks = g if blocks is None else blocks.unionByName(g)
    rs = blocks.select(
        "m",
        F.round(
            1000000.0
            * F.col("rm")
            / F.sqrt(
                F.col("m").cast("double") * F.col("ss_blk").cast("double")
                - F.col("s_blk").cast("double") * F.col("s_blk")
            )
        )
        .cast("long")
        .alias("rs_e6"),
    )
    per_m = rs.groupBy("m").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("rs_e6").cast("long").alias("srs"),
    ).localCheckpoint(eager=True)  # 3 rows; consumed by output + endpoints
    mean_rs = F.col("srs").cast("double") / F.col("n_blocks")
    hurst = per_m.agg(
        F.round(
            (
                F.log(F.max(F.when(F.col("m") == HURST_BLOCKS[-1], mean_rs)))
                - F.log(F.max(F.when(F.col("m") == HURST_BLOCKS[0], mean_rs)))
            )
            / (2 * F.log(F.lit(2.0))),
            4,
        ).alias("h")
    )
    return per_m.crossJoin(F.broadcast(hurst)).select(
        F.col("m").alias("block_size"),
        "n_blocks",
        F.round(mean_rs / 1000000.0, 6).alias("avg_rs"),
        F.col("h").alias("hurst_exponent"),
    )


hurst_rs_exponent.__doc__ = (hurst_rs_exponent.__doc__ or "").format(BLOCKS=HURST_BLOCKS)


# ---------------------------------------------------------------------------
# Shared W1 core for the streaming twin: the same merged-cents-grid
# integral as wasserstein_value_drift, but against an EXTERNAL
# reference count relation (it streams per micro-batch through
# streaming.pipeline.sink_batches; the batch op derives ref/cur from
# the date split internally).
# ---------------------------------------------------------------------------


def cents_counts(df: DataFrame) -> DataFrame:
    """(event_type, v, c) exact-cents value counts — the mergeable
    sufficient statistic for every distributional drift score."""
    return df.groupBy(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("v")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))


def w1_against_reference(cur_counts: DataFrame, ref_counts: DataFrame) -> DataFrame:
    """Per-type 1-D Wasserstein distance (dollars) between a current
    and a reference cents-count relation: the wasserstein_value_drift
    integral Σ|cumRef·nCur − cumCur·nRef|·Δv / (nRef·nCur·100) over
    the full-outer merged grid. Integers all the way: the ``W1_ROUND``-dp
    round is the same integer half-away division the registered
    wasserstein_value_drift uses (engine-version-proof, no −0.0)."""
    ref = ref_counts.select("event_type", "v", F.col("c").alias("c_ref"))
    cur = cur_counts.select("event_type", "v", F.col("c").alias("c_cur"))
    g = (
        ref.join(cur, ["event_type", "v"], "full_outer")
        .select(
            "event_type",
            "v",
            F.coalesce("c_ref", F.lit(0)).alias("c_ref"),
            F.coalesce("c_cur", F.lit(0)).alias("c_cur"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = Window.partitionBy("event_type")
    grid = g.select(
        "event_type",
        F.sum("c_ref").over(w).alias("cum_ref"),
        F.sum("c_cur").over(w).alias("cum_cur"),
        F.sum("c_ref").over(t).alias("n_ref"),
        F.sum("c_cur").over(t).alias("n_cur"),
        (F.lead("v").over(Window.partitionBy("event_type").orderBy("v")) - F.col("v")).alias(
            "dv"
        ),
    )
    # Cast BEFORE the multiply: at the 100 TB design point cum*n exceeds
    # 2^63 and bigint arithmetic would wrap in Spark / raise in DuckDB.
    # The last grid row's dv is NULL (no successor): contribute an
    # explicit ZERO there rather than a NULL for F.sum to skip — that
    # keeps exact_sum's NULL ⇔ overflow invariant (and single-point
    # types, whose only row is that one, still report W1 = 0).
    term = F.when(
        F.col("dv").isNotNull(),
        F.abs(
            F.col("cum_ref").cast("decimal(38,0)") * F.col("n_cur")
            - F.col("cum_cur").cast("decimal(38,0)") * F.col("n_ref")
        )
        * F.col("dv"),
    ).otherwise(F.lit(0).cast("decimal(38,0)"))
    agg = grid.groupBy("event_type").agg(
        F.any_value("n_ref").cast("long").alias("n_ref"),
        F.any_value("n_cur").cast("long").alias("n_cur"),
        exact_sum(term).cast("decimal(38,0)").alias("s_int"),
    )
    scale = 10**W1_ROUND
    w1_e6 = F.expr(
        halfaway_div_expr("s_int", "CAST(n_ref AS DECIMAL(38,0)) * n_cur * 100", scale)
    )
    # No coalesce: single-point grids already yield s_int = 0 (explicit
    # zero term above) and a positive denominator, so W1 = 0.0 arrives
    # naturally. A NULL here means exact_sum NULL-poisoned an overflow
    # (or an empty side made the division undefined) — propagate it, as
    # ad_against_reference does, so a per-batch monitor surfaces the
    # poisoned group instead of silently reporting "no drift".
    return agg.select(
        "event_type",
        "n_ref",
        "n_cur",
        (w1_e6.cast("double") / float(scale)).alias("w1_dollars"),
    )


def ad_against_reference(cur_counts: DataFrame, ref_counts: DataFrame) -> DataFrame:
    """Per-type two-sample Anderson–Darling between a current and a
    reference cents-count relation — the count-relation twin of the
    registered ``anderson_darling_drift`` (identical algebra: e12
    per-term half-away quantization, exact integer sum, e6 final
    half-away, NULL-poison on overflow), so the streaming monitor and
    the batch query cannot drift. A type whose merged grid has a single
    distinct value drops out (every term row is the excluded B=N point
    — mirroring the registered query's ``dv IS NOT NULL``)."""
    ref = ref_counts.select("event_type", "v", F.col("c").alias("ca"))
    cur = cur_counts.select("event_type", "v", F.col("c").alias("cb"))
    g = ref.join(cur, ["event_type", "v"], "full_outer").select(
        "event_type",
        "v",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = Window.partitionBy("event_type")
    grid = g.select(
        "event_type",
        "ca",
        "cb",
        F.sum("ca").over(w).alias("cuma"),
        F.sum("cb").over(w).alias("cumb"),
        F.sum("ca").over(t).alias("na"),
        F.sum("cb").over(t).alias("nb"),
    ).where(F.col("cuma") + F.col("cumb") < F.col("na") + F.col("nb"))
    scored = grid.select(
        "event_type",
        "na",
        "nb",
        (F.col("ca") + F.col("cb")).cast("decimal(38,0)").alias("c"),
        (
            F.col("cuma").cast("decimal(38,0)") * (F.col("na") + F.col("nb"))
            - (F.col("cuma") + F.col("cumb")).cast("decimal(38,0)") * F.col("na")
        ).alias("gap"),
        (
            (F.col("cuma") + F.col("cumb")).cast("decimal(38,0)")
            * (F.col("na") + F.col("nb") - F.col("cuma") - F.col("cumb"))
        ).alias("dnm"),
    ).withColumn(
        "tnum",
        F.expr(f"2 * {AD_TERM_SCALE} * c * gap * gap + dnm").cast("decimal(38,0)"),
    ).withColumn("tden", F.expr("2 * dnm").cast("decimal(38,0)"))
    t_int = F.expr("CAST((tnum - pmod(tnum, tden)) / tden AS DECIMAL(38,0))").cast(
        "decimal(38,0)"
    )
    agg = scored.groupBy("event_type").agg(
        F.any_value("na").cast("long").alias("n_ref"),
        F.any_value("nb").cast("long").alias("n_cur"),
        exact_sum(t_int).cast("decimal(38,0)").alias("s_t"),
    )
    rem = AD_TERM_SCALE // 10**W1_ROUND
    ad_e6 = F.expr(
        halfaway_div_expr("s_t", f"CAST(n_ref AS DECIMAL(38,0)) * n_cur * {rem}", 1)
    )
    return agg.select(
        "event_type",
        "n_ref",
        "n_cur",
        (ad_e6.cast("double") / float(10**W1_ROUND)).alias("ad_stat"),
    )


# ---------------------------------------------------------------------------
# Energy distance and Cramér–von Mises: the L2 / characteristic-
# function members of the two-sample family (KS = sup gap, W1 = L1
# area, CvM = L2 area, energy = pairwise-distance form sensitive to
# ALL moments). Same ref/cur split and cents grid as
# wasserstein_value_drift; every pairwise-distance sum telescopes to
# integer cumulative algebra — no O(n²) anywhere.
# ---------------------------------------------------------------------------

_DRIFT_GRID_CTE = f"""
span AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
pts AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
         CASE WHEN CAST(ts AS DATE) < d0 + {W1_REF_DAYS} THEN 1 ELSE 0 END AS is_ref
  FROM events CROSS JOIN span
), g AS (
  SELECT event_type, v,
         CAST(sum(is_ref) AS BIGINT) AS ca,
         CAST(sum(1 - is_ref) AS BIGINT) AS cb
  FROM pts GROUP BY 1, 2
), grid AS (
  SELECT event_type, ca, cb,
         sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb,
         sum(ca) OVER t AS na, sum(cb) OVER t AS nb,
         lead(v) OVER (PARTITION BY event_type ORDER BY v) - v AS dv
  FROM g
  WINDOW w AS (PARTITION BY event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         t AS (PARTITION BY event_type)
)"""


def _drift_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark mirror of _DRIFT_GRID_CTE: the per-type merged cents grid
    with per-value counts, inclusive cumulatives, totals and the gap
    to the next grid value."""
    ev = load_table(spark, sf_dir, "events")
    d0 = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    pts = ev.crossJoin(F.broadcast(d0)).select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v"),
        F.when(F.to_date("ts") < F.date_add(F.col("d0"), W1_REF_DAYS), 1)
        .otherwise(0)
        .alias("is_ref"),
    )
    g = pts.groupBy("event_type", "v").agg(
        F.sum("is_ref").cast("long").alias("ca"),
        F.sum(1 - F.col("is_ref")).cast("long").alias("cb"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = Window.partitionBy("event_type")
    return g.select(
        "event_type",
        "ca",
        "cb",
        F.sum("ca").over(w).alias("cuma"),
        F.sum("cb").over(w).alias("cumb"),
        F.sum("ca").over(t).alias("na"),
        F.sum("cb").over(t).alias("nb"),
        (F.lead("v").over(Window.partitionBy("event_type").orderBy("v")) - F.col("v")).alias(
            "dv"
        ),
    )


@query(
    "energy_distance_drift",
    oracle=f"""
WITH {_DRIFT_GRID_CTE}
SELECT event_type,
       CAST(any_value(na) AS BIGINT) AS n_ref,
       CAST(any_value(nb) AS BIGINT) AS n_cur,
       round((2.0 * CAST(sum((CAST(cuma AS DECIMAL(38,0)) * (nb - cumb)
                              + CAST(cumb AS DECIMAL(38,0)) * (na - cuma)) * dv) AS DOUBLE)
                / any_value(na) / any_value(nb)
              - 2.0 * CAST(sum(CAST(cuma AS DECIMAL(38,0)) * (na - cuma) * dv) AS DOUBLE)
                / any_value(na) / any_value(na)
              - 2.0 * CAST(sum(CAST(cumb AS DECIMAL(38,0)) * (nb - cumb) * dv) AS DOUBLE)
                / any_value(nb) / any_value(nb)) / 100.0,
             {W1_ROUND}) + 0.0 AS energy_dollars
FROM grid WHERE dv IS NOT NULL
GROUP BY 1
""",
)
def energy_distance_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type two-sample energy distance E = 2·E|X−Y| − E|X−X'| −
    E|Y−Y'| between the reference and current value samples, in
    dollars. Each pairwise-distance expectation telescopes over the
    merged cents grid: Σ_pairs |x−y| = Σ_k dv_k · #pairs straddling
    interval k — pure integers (DECIMAL(38,0)); the V-statistic
    normalization (self-pairs included, n² denominators) keeps both
    engines on identical operands.

    Plan: identical shape to wasserstein_value_drift — one combinable
    (type, cents) agg bounds everything downstream by the value
    domain.

    Rounding: stays a double round (NOT the cliffs/W1 integer-e6
    discipline) — the three terms have distinct denominators, and the
    common-denominator integer numerator (2·(cross·na·nb − wa·nb² −
    wb·na²)) would exceed DECIMAL(38,0)/HUGEINT already at bench scale
    (~1e43). E ≥ 0 always, and the oracle/Spark ``+ 0.0`` canon covers
    the sign class; identical operand text keeps the doubles aligned."""
    grid = _drift_grid(spark, sf_dir).where(F.col("dv").isNotNull())
    na, nb = F.any_value("na"), F.any_value("nb")

    def tsum(expr):
        # operands arrive pre-cast to decimal(38,0) so the cum*(n-cum)
        # products never touch 64-bit integer arithmetic (100 TB safe);
        # exact_sum NULL-poisons a decimal overflow instead of letting
        # F.sum skip the NULLed row (silent under-report)
        return exact_sum(expr * F.col("dv")).cast("double")

    dca, dcb = F.col("cuma").cast("decimal(38,0)"), F.col("cumb").cast("decimal(38,0)")
    cross = tsum(dca * (F.col("nb") - F.col("cumb")) + dcb * (F.col("na") - F.col("cuma")))
    within_a = tsum(dca * (F.col("na") - F.col("cuma")))
    within_b = tsum(dcb * (F.col("nb") - F.col("cumb")))
    return grid.groupBy("event_type").agg(
        na.cast("long").alias("n_ref"),
        nb.cast("long").alias("n_cur"),
        F.round(
            (
                2.0 * cross / na / nb
                - 2.0 * within_a / na / na
                - 2.0 * within_b / nb / nb
            )
            / 100.0,
            W1_ROUND,
        ).alias("energy_dollars"),
    )


@query(
    "cvm_drift_test",
    oracle=f"""
WITH {_DRIFT_GRID_CTE}
SELECT event_type,
       CAST(any_value(na) AS BIGINT) AS n_ref,
       CAST(any_value(nb) AS BIGINT) AS n_cur,
       round(CAST(sum(CAST((ca + cb) AS DECIMAL(38,0))
                      * (CAST(cuma AS DECIMAL(38,0)) * nb - CAST(cumb AS DECIMAL(38,0)) * na)
                      * (CAST(cuma AS DECIMAL(38,0)) * nb - CAST(cumb AS DECIMAL(38,0)) * na))
                  AS DOUBLE)
             / (CAST(any_value(na) AS DOUBLE) * any_value(nb)
                * (any_value(na) + any_value(nb)) * (any_value(na) + any_value(nb))),
             {W1_ROUND}) + 0.0 AS cvm_t
FROM grid
GROUP BY 1
""",
)
def cvm_drift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises statistic per event type:
    T = (n_a·n_b/N²)·Σ_z (F_a(z) − F_b(z))² over all N sample points —
    the L2 companion to ks_drift_report's sup statistic (CvM sees
    distributed small gaps KS misses). The squared CDF gap is kept as
    the INTEGER (cuma·nb − cumb·na)² weighted by the value's
    multiplicity, DECIMAL(38,0)-accumulated; one double division at
    the end.

    Plan: the same domain-bounded grid as the W1/energy ops — no new
    fact-side work.

    Rounding: stays a double round (NOT the cliffs/W1 integer-e6
    discipline) — scaling the numerator by 2e6 would tighten the
    documented DECIMAL(38,0) accumulation bound (num ≲ N⁵) by 10×,
    breaking at sf≈1 sample sizes. T ≥ 0 always, and the oracle/Spark
    ``+ 0.0`` canon covers the sign class."""
    grid = _drift_grid(spark, sf_dir)
    na, nb = F.any_value("na"), F.any_value("nb")
    gap = (
        F.col("cuma").cast("decimal(38,0)") * F.col("nb")
        - F.col("cumb").cast("decimal(38,0)") * F.col("na")
    )
    num = exact_sum((F.col("ca") + F.col("cb")).cast("decimal(38,0)") * gap * gap).cast(
        "double"
    )
    n_tot = na + nb
    return grid.groupBy("event_type").agg(
        na.cast("long").alias("n_ref"),
        nb.cast("long").alias("n_cur"),
        F.round(
            num / (na.cast("double") * nb * n_tot * n_tot),
            W1_ROUND,
        ).alias("cvm_t"),
    )


# ---------------------------------------------------------------------------
# Two-sample Anderson–Darling: the tail-weighted member of the drift
# family (KS = sup gap, W1 = L1 area, CvM = L2 area, energy = all
# moments; AD = L2 area weighted by 1/(F(1−F)), so gaps in the TAILS —
# where CvM barely looks — dominate). Same ref/cur split, same merged
# cents grid, same telescoping cumulative algebra.
# ---------------------------------------------------------------------------

AD_TERM_SCALE = 10**12  # per-grid-row term quantization (exact-sum trick)


@query(
    "anderson_darling_drift",
    oracle=f"""
WITH {_DRIFT_GRID_CTE}
, terms AS (
  SELECT event_type,
         CAST(any_value(na) AS BIGINT) AS n_ref,
         CAST(any_value(nb) AS BIGINT) AS n_cur,
         CAST(sum(
           (2 * {AD_TERM_SCALE} * CAST((ca + cb) AS HUGEINT)
              * (CAST(cuma AS HUGEINT) * (na + nb) - (cuma + cumb) * na)
              * (CAST(cuma AS HUGEINT) * (na + nb) - (cuma + cumb) * na)
            + CAST((cuma + cumb) AS HUGEINT) * (na + nb - cuma - cumb))
           // (2 * CAST((cuma + cumb) AS HUGEINT) * (na + nb - cuma - cumb))
         ) AS HUGEINT) AS s_t
  FROM grid
  WHERE dv IS NOT NULL
  GROUP BY 1
)
SELECT event_type, n_ref, n_cur,
       CAST((2 * s_t + CAST(n_ref AS HUGEINT) * n_cur * {AD_TERM_SCALE // 10**W1_ROUND})
            // (2 * CAST(n_ref AS HUGEINT) * n_cur * {AD_TERM_SCALE // 10**W1_ROUND})
            AS DOUBLE) / {10**W1_ROUND}.0 + 0.0 AS ad_stat
FROM terms
""",
)
def anderson_darling_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type two-sample Anderson–Darling statistic between the
    reference (first ``W1_REF_DAYS`` days) and current value samples:
    A² = (1/na + 1/nb)·Σ_j c_j·D_j² / (N·B_j·(N−B_j)) with
    D_j = cuma_j·N − B_j·na (the scaled CDF gap), B_j the pooled
    cumulative count and c_j the pooled multiplicity — the Pettitt
    right-continuous-CDF form with ties grouped on the cents grid;
    for untied data it reduces exactly to Scholz–Stephens k=2. The
    last grid point (B=N) contributes 0/0 and is excluded — exactly
    the rows the W1 family already drops via ``dv IS NOT NULL``
    (B_j is strictly increasing, so B=N only at the last point).

    Exactness: per-row denominators vary (B·(N−B)), so a naive double
    sum would be accumulation-order-sensitive across engines. Instead
    each term quantizes to an e12 INTEGER by the cliffs/W1 half-away
    div discipline, the sum is exact integer addition, and the final
    /(na·nb) rounds to ``W1_ROUND`` dp by one more integer half-away div
    (the algebra: (1/na+1/nb)/N = 1/(na·nb), so A² = S/(na·nb·1e12)).
    Headroom: 2e12·c·D² needs c·N⁴ ≲ 5e25 → N ≲ 2.6e6 rows/type in
    DECIMAL(38,0)/HUGEINT; past that drop AD_TERM_SCALE (same
    documented accumulation-bound class as cvm_drift_test).

    Plan: identical to the W1/CvM/energy siblings — one combinable
    (type, cents) agg; everything downstream is bounded by the value
    DOMAIN, not the row count."""
    grid = _drift_grid(spark, sf_dir).where(F.col("dv").isNotNull())
    na, nb = F.any_value("na"), F.any_value("nb")
    scored = grid.select(
        "event_type",
        "na",
        "nb",
        (F.col("ca") + F.col("cb")).cast("decimal(38,0)").alias("c"),
        (
            F.col("cuma").cast("decimal(38,0)") * (F.col("na") + F.col("nb"))
            - (F.col("cuma") + F.col("cumb")).cast("decimal(38,0)") * F.col("na")
        ).alias("gap"),
        ((F.col("cuma") + F.col("cumb")).cast("decimal(38,0)")
         * (F.col("na") + F.col("nb") - F.col("cuma") - F.col("cumb"))).alias("dnm"),
    )
    # Per-row halfaway div in DECIMAL, NOT `div`: Spark's IntegralDivide
    # returns LONG and a concentrated-mass row's term (≤ 1e12·c·na·nb)
    # exceeds 2^63 well before the documented N bound. pmod-then-exact-
    # divide stays in decimal; the quotient is an exact integer, so the
    # decimal division cannot round it.
    scored = scored.withColumn(
        "tnum",
        F.expr(f"2 * {AD_TERM_SCALE} * c * gap * gap + dnm").cast("decimal(38,0)"),
    ).withColumn("tden", F.expr("2 * dnm").cast("decimal(38,0)"))
    t_int = F.expr("CAST((tnum - pmod(tnum, tden)) / tden AS DECIMAL(38,0))").cast(
        "decimal(38,0)"
    )
    # NULL-poison past the documented headroom: non-ANSI Spark turns a
    # DECIMAL(38,0) overflow into NULL, and a bare F.sum would SKIP it —
    # silently under-reporting the very tail drift this gate exists to
    # catch. If any per-row term overflowed, emit NULL (loud: rows/hash
    # diverge from the oracle, which errors outright on HUGEINT overflow)
    # rather than a plausible-but-small statistic.
    agg = scored.groupBy("event_type").agg(
        na.cast("long").alias("n_ref"),
        nb.cast("long").alias("n_cur"),
        exact_sum(t_int).cast("decimal(38,0)").alias("s_t"),
    )
    rem = AD_TERM_SCALE // 10**W1_ROUND
    ad_e6 = F.expr(
        halfaway_div_expr("s_t", f"CAST(n_ref AS DECIMAL(38,0)) * n_cur * {rem}", 1)
    )
    return agg.select(
        "event_type",
        "n_ref",
        "n_cur",
        (ad_e6.cast("double") / float(10**W1_ROUND)).alias("ad_stat"),
    )


# ---------------------------------------------------------------------------
# Haar wavelet energy decomposition of daily revenue — which time
# scale carries the variance? (periodogram_daily_revenue answers in
# frequency; Haar answers in dyadic time scales with EXACT integer
# coefficients, since Haar details are just differences of integer
# block sums.)
# ---------------------------------------------------------------------------

HAAR_LEVELS = 3


@query(
    "haar_wavelet_energy",
    oracle=f"""
WITH daily AS ({_DAILY_CTE}),
idx AS (
  SELECT rev AS s, row_number() OVER (ORDER BY day) - 1 AS rn FROM daily
),
l1 AS (
  SELECT rn // 2 AS rn, CAST(sum(CASE WHEN rn % 2 = 0 THEN s ELSE -s END) AS BIGINT) AS d,
         CAST(sum(s) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS np
  FROM idx GROUP BY rn // 2
),
l2 AS (
  SELECT rn // 2 AS rn, CAST(sum(CASE WHEN rn % 2 = 0 THEN s ELSE -s END) AS BIGINT) AS d,
         CAST(sum(s) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS np
  FROM (SELECT rn, s FROM l1 WHERE np = 2) GROUP BY rn // 2
),
l3 AS (
  SELECT rn // 2 AS rn, CAST(sum(CASE WHEN rn % 2 = 0 THEN s ELSE -s END) AS BIGINT) AS d,
         CAST(sum(s) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS np
  FROM (SELECT rn, s FROM l2 WHERE np = 2) GROUP BY rn // 2
),
lev AS (
  SELECT 1 AS level, CAST(count(*) AS BIGINT) AS n_coeffs,
         CAST(sum(CAST(d AS DECIMAL(38,0)) * d) AS DECIMAL(38,0)) AS e
  FROM l1 WHERE np = 2
  UNION ALL
  SELECT 2, CAST(count(*) AS BIGINT),
         CAST(sum(CAST(d AS DECIMAL(38,0)) * d) AS DECIMAL(38,0))
  FROM l2 WHERE np = 2
  UNION ALL
  SELECT 3, CAST(count(*) AS BIGINT),
         CAST(sum(CAST(d AS DECIMAL(38,0)) * d) AS DECIMAL(38,0))
  FROM l3 WHERE np = 2
), tot AS (
  SELECT sum(CAST(e AS DOUBLE) / power(2.0, level)) AS te FROM lev
)
SELECT CAST(level AS BIGINT) AS level, n_coeffs,
       round(CAST(e AS DOUBLE) / power(2.0, level) / 10000.0, 2) + 0.0 AS energy,
       round(CAST(e AS DOUBLE) / power(2.0, level) / te, 6) + 0.0 AS energy_share
FROM lev CROSS JOIN tot
""",
)
def haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unnormalized-Haar energy per dyadic scale (levels 1–3 ≈ 2/4/8
    days) of daily revenue: each level's detail coefficients are
    DIFFERENCES OF INTEGER BLOCK SUMS (d = Σeven − Σodd), squared in
    DECIMAL(38,0) and scaled by the 2^level normalization only at
    reporting time — so the decomposition is exact until the final
    share division. Incomplete tail blocks are dropped (np = 2 gate),
    the standard dyadic truncation.

    Plan: three cascaded pair-groupings of the calendar-bounded daily
    series; each level halves the rows."""
    daily = _daily(spark, sf_dir).select("day", "rev")
    cur = daily.select(
        F.col("rev").alias("s"), (F.row_number().over(Window.orderBy("day")) - 1).alias("rn")
    )
    levels = []
    for lvl in range(1, HAAR_LEVELS + 1):
        nxt = cur.groupBy(F.expr("rn div 2").alias("rn2")).agg(
            F.sum(F.when(F.col("rn") % 2 == 0, F.col("s")).otherwise(-F.col("s")))
            .cast("long")
            .alias("d"),
            F.sum("s").cast("long").alias("s"),
            F.count(F.lit(1)).cast("long").alias("np"),
        ).withColumnRenamed("rn2", "rn")
        complete = nxt.where(F.col("np") == 2).localCheckpoint(eager=True)
        levels.append(
            complete.agg(
                F.lit(lvl).cast("long").alias("level"),
                F.count(F.lit(1)).cast("long").alias("n_coeffs"),
                F.sum(F.col("d").cast("decimal(38,0)") * F.col("d"))
                .cast("decimal(38,0)")
                .alias("e"),
            )
        )
        cur = complete.select("rn", "s")
    lev = levels[0]
    for x in levels[1:]:
        lev = lev.unionByName(x)
    lev = lev.localCheckpoint(eager=True)
    norm = F.col("e").cast("double") / F.pow(F.lit(2.0), F.col("level"))
    tot = lev.agg(F.sum(norm).alias("te"))
    return lev.crossJoin(F.broadcast(tot)).select(
        "level",
        "n_coeffs",
        F.round(norm / 10000.0, 2).alias("energy"),
        F.round(norm / F.col("te"), 6).alias("energy_share"),
    )


# ---------------------------------------------------------------------------
# SAX symbolization of daily revenue — the symbolic time-series
# representation (Lin/Keogh): z-normalize, cut at the standard-normal
# quartile breakpoints, emit one letter per day, one word per ISO
# week. Downstream: motif mining, symbolic anomaly lookup.
# ---------------------------------------------------------------------------

SAX_BP = 0.6744897501960817  # Φ⁻¹(0.75): alphabet {a,b,c,d} at ±bp and 0


@query(
    "sax_weekly_symbols",
    oracle=f"""
WITH daily AS ({_DAILY_CTE}),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rev) AS BIGINT) AS s,
         CAST(sum(CAST(rev AS DECIMAL(38,0)) * rev) AS DECIMAL(38,0)) AS ss
  FROM daily
), z AS (
  SELECT day,
         (rev - CAST(s AS DOUBLE) / n)
           / sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s)
                  / (CAST(n AS DOUBLE) * (n - 1))) AS z
  FROM daily CROSS JOIN mom
), sym AS (
  SELECT day,
         CASE WHEN z < -{SAX_BP} THEN 'a'
              WHEN z < 0 THEN 'b'
              WHEN z < {SAX_BP} THEN 'c'
              ELSE 'd' END AS sym
  FROM z
)
SELECT CAST(isoyear(day) AS BIGINT) AS iso_year,
       CAST(weekofyear(day) AS BIGINT) AS iso_week,
       string_agg(sym, '' ORDER BY day) AS sax_word,
       CAST(count(*) AS BIGINT) AS n_days
FROM sym GROUP BY 1, 2
""",
)
def sax_weekly_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX words per ISO week over daily revenue: z-scores from exact
    integer moment sums (identical operands ⇒ identical doubles in
    both engines), cut at the standard-normal quartile breakpoints
    ±{BP:.4f} into the 4-letter alphabet, concatenated in day order.
    Symbol assignment compares identical doubles against shared
    literals, so words match bit-for-bit.

    Plan: calendar-bounded series; one 1-row moment broadcast, one
    week agg."""
    daily = _daily(spark, sf_dir).select("day", "rev")
    mom = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rev").cast("long").alias("s"),
        F.sum(F.col("rev").cast("decimal(38,0)") * F.col("rev"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    sd = F.sqrt(
        (n.cast("double") * ss.cast("double") - s.cast("double") * s)
        / (n.cast("double") * (n - 1))
    )
    z = (F.col("rev") - s.cast("double") / n) / sd
    sym = (
        F.when(z < -SAX_BP, "a").when(z < 0, "b").when(z < SAX_BP, "c").otherwise("d")
    )
    tagged = daily.crossJoin(F.broadcast(mom)).select("day", sym.alias("sym"))
    return tagged.groupBy(
        F.expr("extract(yearofweek FROM day)").cast("long").alias("iso_year"),
        F.weekofyear("day").cast("long").alias("iso_week"),
    ).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("day", "sym"))), lambda r: r["sym"]
            ),
            "",
        ).alias("sax_word"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )


# ---------------------------------------------------------------------------
# Gumbel fit of weekly revenue maxima (extreme-value theory): the
# return-level question capacity planning actually asks — "what daily
# revenue should we expect to exceed only once a year?" — answered
# with the method-of-moments Gumbel fit over block maxima.
# ---------------------------------------------------------------------------

EULER_GAMMA = 0.5772156649015329
GUMBEL_RETURN_WEEKS = 52


@query(
    "gumbel_block_maxima",
    oracle=f"""
WITH daily AS ({_DAILY_CTE}),
wk AS (
  SELECT CAST(isoyear(day) AS BIGINT) AS iso_year,
         CAST(weekofyear(day) AS BIGINT) AS iso_week,
         CAST(max(rev) AS BIGINT) AS mx,
         CAST(count(*) AS BIGINT) AS nd
  FROM daily GROUP BY 1, 2
), mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(mx) AS BIGINT) AS s,
         CAST(sum(CAST(mx AS DECIMAL(38,0)) * mx) AS DECIMAL(38,0)) AS ss
  FROM wk WHERE nd = 7
), est AS (
  SELECT n, CAST(s AS DOUBLE) / n AS mean_mx,
         sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s)
              / (CAST(n AS DOUBLE) * (n - 1))) AS sd_mx
  FROM mom
)
SELECT n AS n_weeks,
       round(mean_mx, 2) + 0.0 AS mean_weekly_max,
       round(sd_mx * sqrt(6.0) / pi(), 4) + 0.0 AS gumbel_beta,
       round(mean_mx - {EULER_GAMMA} * sd_mx * sqrt(6.0) / pi(), 4) + 0.0 AS gumbel_mu,
       round(mean_mx - {EULER_GAMMA} * sd_mx * sqrt(6.0) / pi()
             - sd_mx * sqrt(6.0) / pi()
               * ln(-ln(1.0 - 1.0 / {GUMBEL_RETURN_WEEKS})), 2) + 0.0
         AS return_level_52w
FROM est
""",
)
def gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel (EV-I) method-of-moments fit over COMPLETE-week maxima
    of daily revenue: β̂ = s·√6/π, μ̂ = x̄ − γβ̂, and the
    {W}-week return level μ̂ − β̂·ln(−ln(1 − 1/{W})). Block maxima are
    integers; mean/SD come from the exact moment expansion; the fit is
    scalar double arithmetic with γ as a shared literal.

    Plan: day agg → week-max agg (both combinable) → 1-row fit."""
    daily = _daily(spark, sf_dir).select("day", "rev")
    wk = daily.groupBy(
        F.expr("extract(yearofweek FROM day)").cast("long").alias("iso_year"),
        F.weekofyear("day").cast("long").alias("iso_week"),
    ).agg(
        F.max("rev").cast("long").alias("mx"), F.count(F.lit(1)).cast("long").alias("nd")
    )
    mom = wk.where(F.col("nd") == 7).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("mx").cast("long").alias("s"),
        F.sum(F.col("mx").cast("decimal(38,0)") * F.col("mx"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    mean_mx = s.cast("double") / n
    sd_mx = F.sqrt(
        (n.cast("double") * ss.cast("double") - s.cast("double") * s)
        / (n.cast("double") * (n - 1))
    )
    beta = sd_mx * F.sqrt(F.lit(6.0)) / F.lit(3.141592653589793)
    mu = mean_mx - EULER_GAMMA * beta
    import math

    rl = mu - beta * math.log(-math.log(1.0 - 1.0 / GUMBEL_RETURN_WEEKS))
    return mom.select(
        n.alias("n_weeks"),
        F.round(mean_mx, 2).alias("mean_weekly_max"),
        F.round(beta, 4).alias("gumbel_beta"),
        F.round(mu, 4).alias("gumbel_mu"),
        F.round(rl, 2).alias("return_level_52w"),
    )


gumbel_block_maxima.__doc__ = (gumbel_block_maxima.__doc__ or "").format(
    W=GUMBEL_RETURN_WEEKS
)


# ---------------------------------------------------------------------------
# Kruskal–Wallis: rank-based one-way location test across event types
# — completes the ANOVA family (anova_oneway_value = parametric means,
# brown_forsythe_variance = robust spread, KW = distribution-free
# location). Tie-averaged ranks come from the grouped cents grid
# (×2-scaled to stay integer), never a global row sort.
# ---------------------------------------------------------------------------


@query(
    "kruskal_wallis_value",
    oracle=f"""
WITH pts AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events
), cnts AS (
  SELECT v, CAST(count(*) AS BIGINT) AS c FROM pts GROUP BY 1
), ranks AS (
  SELECT v, c,
         2 * (sum(c) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c)
           + c + 1 AS r2
  FROM cnts
), grp AS (
  SELECT p.event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(r.r2) AS BIGINT) AS sr2
  FROM pts p JOIN ranks r ON p.v = r.v
  GROUP BY 1
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nt,
         sum(CAST(sr2 AS DOUBLE) * sr2 / n) / 4.0 AS sum_rsq,
         CAST(count(*) AS BIGINT) AS k
  FROM grp
), ties AS (
  SELECT CAST(coalesce(sum(c * c * c - c), 0) AS BIGINT) AS tsum FROM cnts WHERE c > 1
)
SELECT tot.k AS n_groups, tot.nt AS n_rows,
       round((12.0 / (CAST(tot.nt AS DOUBLE) * (tot.nt + 1)) * tot.sum_rsq
              - 3.0 * (tot.nt + 1))
             / (1.0 - CAST(ties.tsum AS DOUBLE)
                      / (CAST(tot.nt AS DOUBLE) * tot.nt * tot.nt - tot.nt)),
             {W1_ROUND}) + 0.0 AS h_stat
FROM tot CROSS JOIN ties
""",
)
def kruskal_wallis_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H across event types on cents values, with the
    tie correction 1 − Σ(t³−t)/(N³−N). Tie-averaged ranks derive from
    the value-count grid as the INTEGER 2r = 2·cum_below + c + 1, so
    per-group rank sums are exact (the ÷2 folds into the statistic
    once); H is a single double expression.

    Plan: one combinable value-count agg bounds the rank window by
    the cents domain; the rank join back is value-keyed (broadcast
    domain side); group cells are ≤ |types|."""
    pts = _events_cents(spark, sf_dir).select("event_type", "v")
    cnts = pts.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranks = cnts.select(
        "v", "c", (2 * (F.sum("c").over(w) - F.col("c")) + F.col("c") + 1).alias("r2")
    )
    grp = (
        pts.join(F.broadcast(ranks.select("v", "r2")), "v")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"), F.sum("r2").cast("long").alias("sr2"))
    )
    tot = grp.agg(
        F.sum("n").cast("long").alias("nt"),
        (F.sum(F.col("sr2").cast("double") * F.col("sr2") / F.col("n")) / 4.0).alias(
            "sum_rsq"
        ),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    ties = cnts.where(F.col("c") > 1).agg(
        F.coalesce(F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c")), F.lit(0))
        .cast("long")
        .alias("tsum")
    )
    j = tot.crossJoin(F.broadcast(ties))
    nt = F.col("nt")
    h = 12.0 / (nt.cast("double") * (nt + 1)) * F.col("sum_rsq") - 3.0 * (nt + 1)
    corr = 1.0 - F.col("tsum").cast("double") / (nt.cast("double") * nt * nt - nt)
    return j.select(
        F.col("k").alias("n_groups"),
        nt.alias("n_rows"),
        F.round(h / corr, W1_ROUND).alias("h_stat"),
    )


# ---------------------------------------------------------------------------
# Friedman test: blocked rank test — within every DAY, rank the event
# types by their daily value total; do the types hold consistent rank
# positions across days? The repeated-measures sibling of
# kruskal_wallis_value (KW pools all rows; Friedman controls for the
# day effect).
# ---------------------------------------------------------------------------


@query(
    "friedman_daily_ranks",
    oracle=f"""
WITH cell AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS tot
  FROM events GROUP BY 1, 2
), full_days AS (
  SELECT day FROM cell GROUP BY day
  HAVING count(*) = (SELECT count(DISTINCT event_type) FROM events)
), ranked AS (
  SELECT c.day, c.event_type,
         sum(1) OVER (PARTITION BY c.day ORDER BY c.tot, c.event_type
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
  FROM cell c JOIN full_days f ON c.day = f.day
), grp AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(r) AS BIGINT) AS sr
  FROM ranked GROUP BY 1
), tot AS (
  SELECT CAST(any_value(n_days) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS k,
         sum(CAST(sr AS DOUBLE) * sr) AS sum_rsq
  FROM grp
)
SELECT event_type, n_days, round(CAST(sr AS DOUBLE) / n_days, 4) + 0.0 AS mean_rank,
       round(12.0 / (CAST(tot.n AS DOUBLE) * tot.k * (tot.k + 1)) * tot.sum_rsq
             - 3.0 * tot.n * (tot.k + 1), {W1_ROUND}) + 0.0 AS friedman_chi2
FROM grp CROSS JOIN tot
""",
)
def friedman_daily_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman χ² over day-blocked type rankings: within each
    complete day the types are ranked by exact cents total (ties →
    type name, so the rank IS row_number — tie-free and
    deterministic), χ² = 12/(nk(k+1))·ΣR_j² − 3n(k+1); per-type mean
    ranks ride along. Daily totals are integers; the block ranking is
    a ≤|types|-row window per day.

    Plan: one (day, type) agg (combinable), day-partitioned mini
    windows, |types| cells; the χ² is a 1-row broadcast back."""
    ev = load_table(spark, sf_dir, "events")
    cell = ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("tot")
    ).localCheckpoint(eager=False)  # (day, type) grain; consumed twice
    # k_types stays lazy (the oracle's scalar subquery) — an eager
    # distinct().count() here would scan events at plan-construction time
    kt = cell.select("event_type").distinct().agg(
        F.count(F.lit(1)).alias("k_types")
    )
    full_days = (
        cell.groupBy("day")
        .agg(F.count(F.lit(1)).alias("nc"))
        .join(F.broadcast(kt))
        .where(F.col("nc") == F.col("k_types"))
        .select("day")
    )
    w = (
        Window.partitionBy("day")
        .orderBy("tot", "event_type")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = cell.join(full_days, "day").select(
        "day", "event_type", F.sum(F.lit(1)).over(w).alias("r")
    )
    grp = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"), F.sum("r").cast("long").alias("sr")
    )
    tot = grp.agg(
        F.any_value("n_days").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("sr").cast("double") * F.col("sr")).alias("sum_rsq"),
    )
    j = grp.crossJoin(F.broadcast(tot))
    chi2 = (
        12.0 / (F.col("n").cast("double") * F.col("k") * (F.col("k") + 1)) * F.col("sum_rsq")
        - 3.0 * F.col("n") * (F.col("k") + 1)
    )
    return j.select(
        "event_type",
        "n_days",
        F.round(F.col("sr").cast("double") / F.col("n_days"), 4).alias("mean_rank"),
        F.round(chi2, W1_ROUND).alias("friedman_chi2"),
    )
